"""Log-search index — the LogCloud analog (SURVEY I14-I16, X8).

The reference's LogCloud (src/lava/logcloud/) mines LogCrisp templates with C
libraries, splits lines into template-ids + typed variable streams, and
searches tiered: (a) query matches a dict/template → flag "brute force
everything" (logcloud.rs:450-455); (b) else scan typed variable blocks for
containment, types restricted to supersets of the query's char-class type
(logcloud_common.rs:9-24); fall back to raw scans with early stop.

Spark rebuild with a simplified-but-sound template miner:

- **template** = line with every digit-containing alphanumeric run replaced
  by `<V>` (pure-regexp masking, whole-stage codegen). `templates/` table:
  (template, n) per entry.
- **variables** = the masked-out runs. `variables/` table: (vtype, value,
  file_path, row_group) distinct, sorted by (vtype, value); vtype is the
  reference's char-class bitmask: digits=1, a-f=2, A-F=4, other lower=8,
  other upper=16 (logcloud_common.rs:9-24).

Pruning rule (provable, unlike the reference's heuristic tiering): any
maximal alphanumeric token of the query that contains a digit must — in any
matching line — lie inside a digit-containing run, i.e. inside a variable.
So candidates = INTERSECTION over the query's digit-tokens t of
{units with a variable v: type(v) ⊇ type(t) AND contains(v, t)}.
A query with no digit-token can't be pruned this way → if its masked form
appears in a template, or always, BRUTE_FORCE (the reference's flag-0 path).
False positives removed by the exact refine; refine is **case-sensitive**
containment, cloning the reference's `col.str.contains(query)`
(indices/logcloud_index.py:62) — note the difference from SubstringIndex's
case-insensitive F1.

Timestamps: the reference parses them out of line prefixes (X9,
logcloud_rex.rs:303-341); our fixture keeps ts as a real column, so no
prefix parsing is needed — time-range pruning composes via ExactIndex zone
maps on the ts column instead.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rottnest_spark.core.layout import WHOLE_FILE
from rottnest_spark.indices.base import BRUTE_FORCE, SparkIndex
from rottnest_spark.indices.substring import provenance_file_col
from rottnest_spark.sources.reader import read_parquet, scan_parquet

VAR_RUN_RE = "[a-zA-Z0-9]*[0-9][a-zA-Z0-9]*"  # digit-containing alnum run
PLACEHOLDER = "⟨V⟩"  # ⟨V⟩ — cannot collide with log text
GRAM = 3  # value-gram tier gram width (matches SubstringIndex's default)


def type_bitmask(s: str) -> int:
    """Char-class bitmask of the reference (logcloud_common.rs:9-24)."""
    t = 0
    for c in s:
        if c.isdigit():
            t |= 1
        elif "a" <= c <= "f":
            t |= 2
        elif "A" <= c <= "F":
            t |= 4
        elif c.islower():
            t |= 8
        elif c.isupper():
            t |= 16
        else:
            t |= 32
    return t


def vtype_col(value):
    """Same bitmask as a built-in expression (values are alnum runs)."""
    return (
        F.when(value.rlike("[0-9]"), F.lit(1)).otherwise(0)
        + F.when(value.rlike("[a-f]"), F.lit(2)).otherwise(0)
        + F.when(value.rlike("[A-F]"), F.lit(4)).otherwise(0)
        + F.when(value.rlike("[g-z]"), F.lit(8)).otherwise(0)
        + F.when(value.rlike("[G-Z]"), F.lit(16)).otherwise(0)
    )


def mask(s: str) -> str:
    return re.sub(VAR_RUN_RE, PLACEHOLDER, s)


def digit_tokens(s: str) -> list[str]:
    return sorted({t for t in re.findall("[a-zA-Z0-9]+", s) if re.search("[0-9]", t)})


class LogIndex(SparkIndex):
    index_type = "logcloud"

    def __init__(
        self,
        max_templates: int = 10_000,
        dict_frac: float = 0.5,
        granularity: str = "file",
        gram_tier_min: int = 4096,
    ):
        assert granularity in ("file", "row_group")
        self.granularity = granularity
        # dict_frac: variables present in more than this fraction of units
        # go to the dict/ table instead of variables/ — they cannot prune
        # (they match almost everywhere), so storing their posting lists
        # only bloats the index. The reference's DICT_THRESHOLD=1000 merge
        # routing (src/lava/logcloud/logcloud.rs:54,111-128) is the same
        # idea keyed on absolute line count.
        self.max_templates = max_templates
        self.dict_frac = dict_frac
        # gram_tier_min: vtypes with MORE distinct values than this get a
        # value-GRAM tier (valgrams/, round 11) — the `.hawaii` analog
        # (src/lava/logcloud/logcloud.rs:870-885 indexes variable blocks
        # past a size instead of linear-scanning them). Token probes on
        # covered vtypes then narrow by gram In-pushdown on a gram-sorted
        # table + a semi-join back, instead of a contains() scan of every
        # compatible value. Low-cardinality vtypes stay scan-only: their
        # (vtype, value)-sorted slice is already small and min/max-pruned.
        self.gram_tier_min = gram_tier_min

    def config(self) -> dict:
        return {
            "miner": f"mask:{VAR_RUN_RE}",
            "max_templates": self.max_templates,
            "dict_frac": self.dict_frac,
            "granularity": self.granularity,
            "gram_tier_min": self.gram_tier_min,
        }

    def build(
        self, spark: SparkSession, files: list[str], column: str, out_path: str
    ) -> None:
        if self.granularity == "row_group":
            from rottnest_spark.core.layout import rows_with_rg_provenance

            rows = rows_with_rg_provenance(spark, files, column).select(
                "file_path", "row_group", F.col(column).alias("line")
            )
        else:
            rows = read_parquet(spark, files).select(
                provenance_file_col().alias("file_path"),
                F.lit(WHOLE_FILE).alias("row_group"),
                F.col(column).alias("line"),
            )
        rows = rows.repartition(spark.sparkContext.defaultParallelism)
        rows = rows.persist()
        # the four output chains (templates, dict, variables, gram tier)
        # are independent once their shared inputs are pinned — run them
        # as concurrent jobs so each chain's stage tails back-fill the
        # others' idle executors (guide §2.6). Writes land in disjoint
        # subdirs; a failure in any chain propagates from result().
        # The chains inherit the caller's Spark local properties (job
        # group, description), so a setJobGroup cancellation covers them.
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.util import inheritable_thread_target

        pool = ThreadPoolExecutor(max_workers=3)
        write = inheritable_thread_target(spark)(self._write_index)
        try:
            templates = (
                rows.select(
                    F.regexp_replace("line", VAR_RUN_RE, PLACEHOLDER).alias("template")
                )
                .groupBy("template")
                .agg(F.count(F.lit(1)).alias("n"))
            )
            fut_templates = pool.submit(
                write, templates, f"{out_path}/templates"
            )
            # pin the distinct (value, unit) table ONCE: five derived
            # outputs (dict, variables, gramtypes, valgrams + the range
            # writes' sampling passes) would otherwise each re-run the
            # explode+distinct chain (round-11 profile: the build was 28
            # jobs / 19 s wall, most of them recomputations of this frame).
            # localCheckpoint is executor-disk-backed and metadata-scale
            # (|distinct (value, unit)| rows, the same order as the index
            # tables themselves).
            all_vars = (
                rows.select(
                    "file_path",
                    "row_group",
                    F.explode(
                        F.array_distinct(
                            F.expr(f"regexp_extract_all(line, '{VAR_RUN_RE}', 0)")
                        )
                    ).alias("value"),
                )
                .distinct()
                .select(
                    vtype_col(F.col("value")).alias("vtype"),
                    "value",
                    "file_path",
                    "row_group",
                )
                .localCheckpoint(eager=True)
            )
            # unit count from parquet FOOTERS (metadata-only, no data
            # job): a unit is a non-empty file (file granularity) or a
            # non-empty row group — exactly the units the provenance
            # readers emit rows for.
            total_units = self._total_units_from_footers(
                files, self.granularity
            )
            cap = max(1, int(self.dict_frac * total_units))
            unit_counts = all_vars.groupBy("vtype", "value").agg(
                F.count(F.lit(1)).alias("n_units")
            )
            # dict tier: near-ubiquitous values can't prune — store the value
            # once, not its posting list (the reference's DICT routing)
            dict_vals = unit_counts.filter(F.col("n_units") > cap).select(
                "vtype", "value"
            )
            fut_dict = pool.submit(
                write,
                dict_vals,
                f"{out_path}/dict",
                sort_cols=["value"],
            )
            dv = dict_vals.select(
                F.col("vtype").alias("d_vtype"), F.col("value").alias("d_value")
            )
            # the anti-join re-derives the (metadata-scale) dict agg
            # inside its own plan, so this chain never waits on the dict
            # WRITE above — only on the pinned all_vars
            variables = all_vars.join(
                dv,
                (all_vars["vtype"] == dv["d_vtype"])
                & (all_vars["value"] == dv["d_value"]),
                "left_anti",
            )
            fut_vars = pool.submit(
                write,
                variables,
                f"{out_path}/variables",
                sort_cols=["vtype", "value"],
            )
            # the gram tier derives from the checkpointed frame (one
            # cheap anti-join re-derivation), not a read-back of the
            # written table — same content, no extra table scan
            self._write_gram_tier(spark, variables, out_path)
            fut_templates.result()
            fut_dict.result()
            fut_vars.result()
        finally:
            pool.shutdown(wait=True)
            rows.unpersist()

    @staticmethod
    def _total_units_from_footers(files: list[str], granularity: str) -> int:
        """Indexable-unit count from parquet footers — the metadata-only
        equivalent of rows.select(unit).distinct().count() (a unit emits
        rows iff it is non-empty: a file at file granularity, a row group
        at row_group granularity). One footer read per file; falls back
        to treating every file as one unit if a footer is unreadable."""
        import pyarrow.parquet as pq

        total = 0
        for f in files:
            try:
                md = pq.ParquetFile(f).metadata
            except Exception:
                total += 1
                continue
            if granularity == "row_group":
                total += sum(
                    1
                    for i in range(md.num_row_groups)
                    if md.row_group(i).num_rows > 0
                )
            else:
                total += 1 if md.num_rows > 0 else 0
        return total

    def _write_gram_tier(self, spark, variables, out_path: str) -> None:
        """The value-GRAM tier (round 11): for vtypes whose distinct-value
        count exceeds gram_tier_min, valgrams/ holds (gram, vtype, value)
        for every GRAM-gram of every distinct value, SORTED BY GRAM —
        a token probe is then an `In` pushdown over the gram column
        (min/max row-group pruning) + an exact contains() verify on the
        few candidate values, instead of a contains() scan of the whole
        compatible slice of variables/. gramtypes/ records which vtypes
        are covered; values shorter than GRAM are excluded soundly (no
        GRAM-long token can occur inside them)."""
        vt_counts = variables.groupBy("vtype").agg(
            F.count_distinct("value").alias("nv")
        )
        covered = sorted(
            int(r["vtype"])
            for r in vt_counts.filter(
                F.col("nv") > self.gram_tier_min
            ).collect()  # bounded: ≤ 63 vtype bitmask values
        )
        from rottnest_spark.core.smalldf import local_df

        gramtypes = local_df(
            spark, [(v,) for v in covered], "vtype int", slices=1
        )
        self._write_index(gramtypes, f"{out_path}/gramtypes")
        if covered:
            src = (
                variables.filter(
                    F.col("vtype").isin(covered)
                    & (F.length("value") >= GRAM)
                )
                .select("vtype", "value")
                .distinct()
            )
            valgrams = src.select(
                "vtype",
                "value",
                F.explode(
                    F.expr(
                        f"transform(sequence(1, length(value) - {GRAM - 1}),"
                        f" i -> substring(value, i, {GRAM}))"
                    )
                ).alias("gram"),
            ).distinct()
        else:
            valgrams = spark.createDataFrame(
                [], "vtype int, value string, gram string"
            )
        self._write_index(
            valgrams, f"{out_path}/valgrams", sort_cols=["gram"]
        )

    @staticmethod
    def _covered_types(spark, index_paths: list[str]) -> set[int]:
        """vtypes the gram tier covers across EVERY entry — intersection,
        because a token's candidate set is only complete if each entry
        contributed its grams. Entries without the tier (older builds)
        yield empty coverage: search falls back to the contains scan."""
        out: set[int] | None = None
        for p in index_paths:
            try:
                got = {
                    int(r["vtype"])
                    for r in scan_parquet(spark, f"{p}/gramtypes").collect()
                }
            except Exception:
                return set()
            out = got if out is None else (out & got)
        return out or set()

    def _gram_candidate_values(
        self, spark, index_paths: list[str], t: str, covered: set[int]
    ):
        """(vtype, value) pairs of covered vtypes that CONTAIN token `t`,
        narrowed by the gram tier: every GRAM-gram of t must be a gram
        of the value (In-pushdown on the gram-sorted table), then the
        exact contains() verifies the survivors."""
        grams_t = sorted({t[i : i + GRAM] for i in range(len(t) - GRAM + 1)})
        tmask = type_bitmask(t)
        valgrams = scan_parquet(
            spark, *[f"{p}/valgrams" for p in index_paths]
        )
        return (
            valgrams.filter(
                F.col("gram").isin(grams_t)
                & F.col("vtype").isin(sorted(covered))
                & (F.col("vtype").bitwiseAND(F.lit(tmask)) == F.lit(tmask))
            )
            .groupBy("vtype", "value")
            .agg(F.count_distinct("gram").alias("ng"))
            .filter(F.col("ng") == len(grams_t))
            .filter(F.contains(F.col("value"), F.lit(t)))
            .select("vtype", "value")
        )

    def search(self, spark: SparkSession, index_paths: list[str], query: str):
        vtoks = digit_tokens(query)
        if not vtoks:
            # No digit-run to anchor pruning (the reference's template/flag-0
            # tier): correctness requires the full refine scan.
            return BRUTE_FORCE
        variables = scan_parquet(spark, *[f"{p}/variables" for p in index_paths])
        dicts = scan_parquet(spark, *[f"{p}/dict" for p in index_paths])
        covered = self._covered_types(spark, index_paths)
        cand = None
        for t in vtoks:
            tmask = type_bitmask(t)
            type_ok = F.col("vtype").bitwiseAND(F.lit(tmask)) == F.lit(tmask)
            hits_dict = (
                dicts.filter(type_ok & F.contains(F.col("value"), F.lit(t)))
                .limit(1)
                .count()
                > 0
            )
            if hits_dict:
                # t occurs inside a near-ubiquitous variable value whose
                # postings were dict-routed — this token cannot prune
                # (soundness: its units are not fully in variables/)
                continue
            contains_t = F.contains(F.col("value"), F.lit(t))
            if covered and len(t) >= GRAM:
                # value-gram tier (round 11): covered vtypes narrow by
                # gram In-pushdown + semi-join; only UNCOVERED compatible
                # vtypes still contains()-scan (their sorted slice is
                # small by the tier's cardinality threshold). Union ==
                # the plain scan exactly — search ≡ brute force holds.
                cand_vals = self._gram_candidate_values(
                    spark, index_paths, t, covered
                )
                units_gram = variables.join(
                    cand_vals, ["vtype", "value"], "leftsemi"
                ).select("file_path", "row_group")
                units_scan = variables.filter(
                    type_ok
                    & ~F.col("vtype").isin(sorted(covered))
                    & contains_t
                ).select("file_path", "row_group")
                units = units_gram.union(units_scan).distinct()
            else:
                units = (
                    variables.filter(type_ok & contains_t)
                    .select("file_path", "row_group")
                    .distinct()
                )
            cand = units if cand is None else cand.intersect(units)
        if cand is None:
            # every digit token was dict-routed: nothing can prune
            return BRUTE_FORCE
        return cand

    def search_many(
        self, spark: SparkSession, index_paths: list[str], queries: list[str]
    ) -> list:
        """Batched probe: N queries share ONE dict scan (which tokens are
        dict-routed and cannot prune) and ONE variables scan (a unit×token
        hit matrix, metadata-scale), instead of 2×Σtokens serial jobs.
        Per-query semantics identical to search(): intersection of its
        prunable tokens' unit sets, BRUTE_FORCE when nothing anchors."""
        toks_by_q = {q: digit_tokens(q) for q in queries}
        all_toks = sorted({t for ts in toks_by_q.values() for t in ts})
        out: dict[str, object] = {}
        if not all_toks:
            return [BRUTE_FORCE for _ in queries]

        def type_ok(t: str):
            m = type_bitmask(t)
            return F.col("vtype").bitwiseAND(F.lit(m)) == F.lit(m)

        dicts = scan_parquet(spark, *[f"{p}/dict" for p in index_paths])
        routed_row = dicts.agg(
            *[
                F.max(
                    F.when(
                        type_ok(t) & F.contains(F.col("value"), F.lit(t)), 1
                    ).otherwise(0)
                ).alias(f"t{i}")
                for i, t in enumerate(all_toks)
            ]
        ).collect()[0]
        routed = {
            t for i, t in enumerate(all_toks) if (routed_row[f"t{i}"] or 0) > 0
        }
        prunable = [t for t in all_toks if t not in routed]

        matrix = None
        if prunable:
            variables = scan_parquet(
                spark, *[f"{p}/variables" for p in index_paths]
            )
            matrix = (
                variables.groupBy("file_path", "row_group")
                .agg(
                    *[
                        F.max(
                            F.when(
                                type_ok(t)
                                & F.contains(F.col("value"), F.lit(t)),
                                1,
                            ).otherwise(0)
                        ).alias(f"t{i}")
                        for i, t in enumerate(all_toks)
                        if t not in routed
                    ]
                )
                .localCheckpoint(eager=True)
            )
        flag_of = {
            t: f"t{i}" for i, t in enumerate(all_toks) if t not in routed
        }
        for q in queries:
            q_prunable = [t for t in toks_by_q[q] if t in flag_of]
            if not q_prunable:
                out[q] = BRUTE_FORCE
                continue
            cond = None
            for t in q_prunable:
                c = F.col(flag_of[t]) == 1
                cond = c if cond is None else (cond & c)
            out[q] = matrix.filter(cond).select("file_path", "row_group")
        return [out[q] for q in queries]

    def predicate(self, column: str, query: str):
        # case-SENSITIVE containment (reference indices/logcloud_index.py:62)
        return F.contains(F.col(column), F.lit(query))

    def brute_force(
        self, df: DataFrame, column: str, query: str, k: int | None
    ) -> DataFrame:
        out = df.filter(self.predicate(column, query))
        return out.limit(k) if k is not None else out

    def compact(
        self, spark: SparkSession, index_paths: list[str], out_path: str
    ) -> None:
        templates = (
            scan_parquet(spark, *[f"{p}/templates" for p in index_paths])
            .groupBy("template")
            .agg(F.sum("n").alias("n"))
        )
        self._write_index(templates, f"{out_path}/templates")
        # a value dict-routed in ANY entry has incomplete postings in the
        # merged view — it must stay dict-routed after the merge
        dicts = scan_parquet(
            spark, *[f"{p}/dict" for p in index_paths]
        ).distinct()
        self._write_index(dicts, f"{out_path}/dict", sort_cols=["value"])
        all_vars = scan_parquet(
            spark, *[f"{p}/variables" for p in index_paths]
        ).distinct()
        dv = dicts.select(
            F.col("vtype").alias("d_vtype"), F.col("value").alias("d_value")
        )
        variables = all_vars.join(
            dv,
            (all_vars["vtype"] == dv["d_vtype"])
            & (all_vars["value"] == dv["d_value"]),
            "left_anti",
        )
        self._write_index(
            variables, f"{out_path}/variables", sort_cols=["vtype", "value"]
        )
        # gram tier: REGENERATED from the merged variables table (it
        # carries full (vtype, value) state, so the merged tier is
        # complete and re-thresholded on merged cardinalities — entries
        # whose own slice was below gram_tier_min contribute their
        # values to a now-covered vtype instead of poisoning coverage).
        # Read the WRITTEN table back — same one-pass discipline as build.
        self._write_gram_tier(
            spark, scan_parquet(spark, f"{out_path}/variables"), out_path
        )

    def narrowing_stats(
        self, spark: SparkSession, index_paths: list[str], query: str
    ) -> dict:
        """Measured gram-tier narrowing for each prunable digit token of
        `query`: {token: {compatible_values, gram_candidates}} — the
        pruning-ratio evidence the `.hawaii` tier exists for. Counts are
        over the DISTINCT values of compatible vtypes (what a contains()
        scan must examine) vs the gram tier's verified candidates."""
        variables = scan_parquet(
            spark, *[f"{p}/variables" for p in index_paths]
        )
        covered = self._covered_types(spark, index_paths)
        out = {}
        for t in digit_tokens(query):
            if len(t) < GRAM or not covered:
                continue
            tmask = type_bitmask(t)
            type_ok = (
                F.col("vtype").bitwiseAND(F.lit(tmask)) == F.lit(tmask)
            )
            total = (
                variables.filter(
                    type_ok & F.col("vtype").isin(sorted(covered))
                )
                .select("vtype", "value")
                .distinct()
                .count()
            )
            cands = self._gram_candidate_values(
                spark, index_paths, t, covered
            ).count()
            out[t] = {
                "compatible_values": total,
                "gram_candidates": cands,
            }
        return out

    # -- introspection (the reference prints tier decisions; we expose them) --

    def explain_query(self, query: str) -> dict:
        vtoks = digit_tokens(query)
        return {
            "digit_tokens": vtoks,
            "token_types": {t: type_bitmask(t) for t in vtoks},
            "masked_query": mask(query),
            "tier": "variables" if vtoks else "brute_force",
        }
