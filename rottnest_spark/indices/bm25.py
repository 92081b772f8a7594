"""BM25 index — inverted postings + corpus statistics.

Reference semantics (src/lava/bm25/bm25.rs:83-110,477-489 and
indices/bm25_index.py:104-135): Okapi BM25 with k1=1.2, b=0.75,
idf = ln((N - df + 0.5)/(df + 0.5) + 1); index prunes to candidate pages,
then candidates are re-scored and top-K'd.

Tokenizer: the reference serializes a HuggingFace tokenizer into the index
header (src/lava/tokenizer_utils.rs:14-80); here the tokenizer is a
pluggable `indices.tokenizers.Tokenizer` whose `ident` is recorded in the
catalog config — the probe must match the build, which the config guard
enforces. Default: the deterministic regex tokenizer (lowercase, split on
[^a-z0-9]+ — ANSI-SQL-replicable, which is what lets the DuckDB oracle
reproduce scores). `WordPieceTokenizer(vocab)` supplies BERT wordpiece
parity for deployments with a vocab file (X2).

Exactness upgrade over the reference: the reference re-scores only the
*fetched pages* with DuckDB FTS, so document frequencies come from the
candidate subset and the result is approximate (hence its quality_factor·K
oversampling, bm25_index.py:158). We persist **global** stats in the index —
per-token df (rows containing the token) and (n_docs, total_len) — so the
refine scores candidate rows with true corpus statistics. Because every row
with a nonzero BM25 score contains ≥1 query token, and candidates are
exactly the units containing ≥1 query token, the top-K is EXACT (no
quality_factor needed).

Index layout (per entry, under out_path/):
    postings/  (token, file_path, row_group) distinct, sorted by token
    stats/     (token, df)
    meta/      (n_docs, total_len) single row

All three merge by union + re-aggregation (the reference's 160-line k-way
plist merge, bm25.rs:246-408, becomes one shuffle).

Scale: postings/stats build is one explode→distinct shuffle; probe filters
postings by query tokens (row-group pruned via the token sort); scoring joins
candidates against a broadcast of the ≤|query| stats rows; top-K is
TakeOrderedAndProject — no global sort.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rottnest_spark.core.layout import WHOLE_FILE
from rottnest_spark.indices.base import SparkIndex
from rottnest_spark.indices.substring import provenance_file_col
from rottnest_spark.sources.reader import read_parquet, scan_parquet

K1 = 1.2
B = 0.75
TOKEN_SPLIT_RE = "[^a-z0-9]+"


def tokens_col(col):
    """array of tokens — MUST match the oracle SQL's
    regexp_split_to_array(lower(x), '[^a-z0-9]+') with empties removed."""
    return F.filter(
        F.split(F.lower(col), TOKEN_SPLIT_RE), lambda t: t != F.lit("")
    )


def tokenize_query(query: str) -> list[str]:
    import re

    return sorted({t for t in re.split(TOKEN_SPLIT_RE, query.lower()) if t})


class BM25Index(SparkIndex):
    index_type = "bm25"

    def __init__(
        self,
        granularity: str = "file",
        tokenizer=None,
        tokenizer_vocab_path: str | None = None,
    ):
        from rottnest_spark.indices.tokenizers import (
            RegexTokenizer,
            Tokenizer,
            WordPieceTokenizer,
        )

        assert granularity in ("file", "row_group")
        self.granularity = granularity
        # X2: the tokenizer is part of the index identity (the reference
        # serializes the HF tokenizer into the index header,
        # src/lava/tokenizer_utils.rs:48-54); `ident` lands in the catalog
        # config, so the existing config guard enforces probe == build.
        if tokenizer is None:
            tokenizer = RegexTokenizer(TOKEN_SPLIT_RE)
        elif isinstance(tokenizer, str):
            # catalog round-trip (index_from_config passes the ident back,
            # plus the recorded vocab path for wordpiece)
            if tokenizer.startswith("regex:"):
                tokenizer = RegexTokenizer(tokenizer.split(":", 1)[1])
            elif (
                tokenizer.startswith(("wordpiece:", "bpe:"))
                and tokenizer_vocab_path
            ):
                from rottnest_spark.indices.tokenizers import BPETokenizer

                cls = (
                    BPETokenizer
                    if tokenizer.startswith("bpe:")
                    else WordPieceTokenizer
                )
                wp = cls(tokenizer_vocab_path)
                if wp.ident != tokenizer:
                    raise ValueError(
                        f"vocab at {tokenizer_vocab_path!r} hashes to "
                        f"{wp.ident!r}, but the index was built with "
                        f"{tokenizer!r} — the vocab file changed since "
                        "build; probing with it would silently mis-score"
                    )
                tokenizer = wp
            else:
                raise ValueError(
                    f"tokenizer {tokenizer!r} cannot be reconstructed from "
                    "its ident alone (the vocab is deployment-supplied) — "
                    "pass the Tokenizer instance used at build time, or "
                    "build from a vocab file path so the catalog records it"
                )
        assert isinstance(tokenizer, Tokenizer)
        self.tokenizer = tokenizer

    def config(self) -> dict:
        cfg = {
            "tokenizer": self.tokenizer.ident,
            "k1": K1,
            "b": B,
            "granularity": self.granularity,
        }
        vocab_path = getattr(self.tokenizer, "vocab_path", None)
        if vocab_path:
            cfg["tokenizer_vocab_path"] = vocab_path
        return cfg

    def build(
        self, spark: SparkSession, files: list[str], column: str, out_path: str
    ) -> None:
        tok_col = self.tokenizer.tokens_col
        if self.granularity == "row_group":
            from rottnest_spark.core.layout import rows_with_rg_provenance

            rows = rows_with_rg_provenance(spark, files, column).select(
                "file_path", "row_group", tok_col(F.col(column)).alias("toks")
            )
        else:
            rows = read_parquet(spark, files).select(
                provenance_file_col().alias("file_path"),
                F.lit(WHOLE_FILE).alias("row_group"),
                tok_col(F.col(column)).alias("toks"),
            )
        rows = rows.repartition(spark.sparkContext.defaultParallelism)
        rows = rows.persist()
        # postings, stats and meta all derive from the persisted rows and
        # write to disjoint subdirs — run the three chains as concurrent
        # jobs so each one's stage tail back-fills the others (guide §2.6)
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.util import inheritable_thread_target

        pool = ThreadPoolExecutor(max_workers=3)
        # chains inherit the caller's job group (cancellation reaches them)
        write = inheritable_thread_target(spark)(self._write_index)
        try:
            per_row = rows.select(
                "file_path",
                "row_group",
                F.explode(F.array_distinct("toks")).alias("token"),
            )
            postings = per_row.select("token", "file_path", "row_group").distinct()
            fut_postings = pool.submit(
                write,
                postings,
                f"{out_path}/postings",
                sort_cols=["token"],
            )
            stats = per_row.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
            fut_stats = pool.submit(
                write,
                stats,
                f"{out_path}/stats",
                sort_cols=["token"],
            )
            meta = rows.agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.coalesce(F.sum(F.size("toks")), F.lit(0)).alias("total_len"),
            )
            meta.coalesce(1).write.mode("overwrite").parquet(f"{out_path}/meta")
            fut_postings.result()
            fut_stats.result()
        finally:
            pool.shutdown(wait=True)
            rows.unpersist()

    def search(self, spark: SparkSession, index_paths: list[str], query):
        """Candidates = units containing ANY query token (union semantics —
        BM25 scores rows with any overlap, unlike substring's all-grams).
        `query` is a string, or a list of tokens."""
        return self.search_tokens(spark, index_paths, self._tokens(query))

    def _tokens(self, query) -> list[str]:
        if isinstance(query, list):
            return query
        return self.tokenizer.query_tokens(query)

    def search_tokens(
        self, spark: SparkSession, index_paths: list[str], toks: list[str]
    ):
        """Probe with an explicit token list (the expansion path already
        holds tokens — re-joining and re-tokenizing would mangle wordpiece
        '##' continuations)."""
        postings = scan_parquet(spark, *[f"{p}/postings" for p in index_paths])
        return (
            postings.filter(F.col("token").isin(list(toks)))
            .select("file_path", "row_group")
            .distinct()
        )

    def search_many(self, spark: SparkSession, index_paths: list[str], queries):
        """Batched probe: ONE postings scan over the union of the queries'
        tokens, its units tagged by query and kept once; per-query
        semantics identical to search(). Candidates in query order."""
        from rottnest_spark.core.smalldf import local_df

        tags = sorted({(i, t) for i, q in enumerate(queries) for t in self._tokens(q)})
        postings = scan_parquet(spark, *[f"{p}/postings" for p in index_paths])
        hits = (
            postings.filter(F.col("token").isin(sorted({t for _, t in tags})))
            .join(
                F.broadcast(
                    local_df(spark, tags, "__q int, token string", slices=1)
                ),
                "token",
            )
            .select("__q", "file_path", "row_group")
            .distinct()
            .localCheckpoint(eager=True)
        )
        return [
            hits.filter(F.col("__q") == i).select("file_path", "row_group")
            for i in range(len(queries))
        ]

    def search_local(self, spark: SparkSession, index_paths: list[str], query):
        return self.search_tokens_local(index_paths, self._tokens(query))

    def search_tokens_local(self, index_paths: list[str], toks: list[str]):
        """search_tokens() over the footer-pruned postings slice: the unit
        list, or None when the probe must run on Spark."""
        import pyarrow as pa
        import pyarrow.compute as pc

        from rottnest_spark.sources.reader import read_index_slice

        if not toks:
            return []
        parts = read_index_slice(
            [f"{p}/postings" for p in index_paths],
            "token",
            toks,
            ["token", "file_path", "row_group"],
        )
        if parts is None:
            return None
        tbl = pa.concat_tables(parts)
        hit = tbl.filter(pc.is_in(tbl["token"], value_set=pa.array(list(toks))))
        return list(
            dict.fromkeys(
                zip(hit["file_path"].to_pylist(), hit["row_group"].to_pylist())
            )
        )

    def stats_local(self, index_paths: list[str], query_tokens):
        """stats() over footer-pruned slices of the stats and meta tables:
        ({token: df}, n_docs, total_len), or None when over budget."""
        import pyarrow as pa
        import pyarrow.compute as pc

        from rottnest_spark.sources.reader import read_index_slice

        toks = list(query_tokens)
        st = read_index_slice(
            [f"{p}/stats" for p in index_paths], "token", toks, ["token", "df"]
        )
        meta = read_index_slice(
            [f"{p}/meta" for p in index_paths], None, None, ["n_docs", "total_len"]
        )
        if st is None or meta is None:
            return None
        dfs: dict[str, int] = {}
        if toks:
            tbl = pa.concat_tables(st)
            tbl = tbl.filter(pc.is_in(tbl["token"], value_set=pa.array(toks)))
            for t, d in zip(tbl["token"].to_pylist(), tbl["df"].to_pylist()):
                dfs[t] = dfs.get(t, 0) + d
        meta = pa.concat_tables(meta)
        return (
            dfs,
            sum(filter(None, meta["n_docs"].to_pylist())),
            sum(filter(None, meta["total_len"].to_pylist())),
        )

    def stats(self, spark: SparkSession, index_paths: list[str], query_tokens):
        """(df per query token, n_docs, total_len) merged across entries."""
        st = (
            scan_parquet(spark, *[f"{p}/stats" for p in index_paths])
            .filter(F.col("token").isin(list(query_tokens)))
            .groupBy("token")
            .agg(F.sum("df").alias("df"))
        )
        meta = (
            scan_parquet(spark, *[f"{p}/meta" for p in index_paths])
            .agg(F.sum("n_docs"), F.sum("total_len"))
            .collect()[0]
        )
        return st, int(meta[0] or 0), int(meta[1] or 0)

    def brute_force(
        self, df: DataFrame, column: str, query: str, k: int | None
    ) -> DataFrame:
        """Self-contained exact BM25 over the given rows (stats derived from
        df itself). Used for recall tests / ad-hoc scoring; lake-level search
        goes through bm25_topk which uses global index stats."""
        toks = self.tokenizer.query_tokens(query)
        row_id = "__bm25_row__"
        # localCheckpoint: the id-ed rows are branched three ways (stats,
        # scoring, final join); monotonically_increasing_id is only stable
        # if the partitioning is — a recompute with different task placement
        # would mis-join. Materializing once pins the ids.
        with_id = df.withColumn(
            row_id, F.monotonically_increasing_id()
        ).localCheckpoint(eager=True)
        tc = self.tokenizer.tokens_col
        stats = derive_stats(with_id, column, toks, tok_col_fn=tc)
        scored = score_rows(
            with_id, column, toks, *stats, id_col=row_id, tok_col_fn=tc
        )
        out = with_id.join(scored, row_id).drop(row_id, "score")
        return out.limit(k) if k is not None else out

    def compact(
        self, spark: SparkSession, index_paths: list[str], out_path: str
    ) -> None:
        postings = scan_parquet(spark, *[f"{p}/postings" for p in index_paths])
        self._write_index(postings.distinct(), f"{out_path}/postings", sort_cols=["token"])
        stats = (
            scan_parquet(spark, *[f"{p}/stats" for p in index_paths])
            .groupBy("token")
            .agg(F.sum("df").alias("df"))
        )
        self._write_index(stats, f"{out_path}/stats", sort_cols=["token"])
        meta = (
            scan_parquet(spark, *[f"{p}/meta" for p in index_paths])
            .agg(
                F.sum("n_docs").alias("n_docs"),
                F.sum("total_len").alias("total_len"),
            )
        )
        meta.coalesce(1).write.mode("overwrite").parquet(f"{out_path}/meta")


# --------------------------------------------------------------------------
# X7: query expansion (reference indices/bm25_index.py:12-95,140-158)
# --------------------------------------------------------------------------
#
# The reference embeds the tokenizer vocabulary with BGE-M3/OpenAI and
# expands the query to its `expansion_tokens`=20 nearest vocab tokens,
# weighted by cosine similarity. No embedding model ships in this container,
# so the embedder below is a clearly-marked deterministic STUB (md5-byte
# vectors) — swap `token_embedding_col`/`embed_token` for a real model and
# nothing else changes. The expansion mechanics (vocab = index stats tokens,
# cosine top-N, similarity weights multiplying the per-token BM25 partials,
# bm25.rs:547-555) are the real, tested machinery.

EMB_DIM = 16
DEFAULT_EXPANSION_TOKENS = 20


def token_embedding_col(col):
    """STUB embedder as a JVM expression: e_i = byte_i(md5(token)) - 127.5.
    Deterministic, reproducible in SQL/DuckDB; cosine is scale-invariant so
    no normalization is needed."""
    return F.expr(
        f"transform(sequence(0, {EMB_DIM - 1}), i -> "
        f"cast(conv(substr(md5({col}), 2 * i + 1, 2), 16, 10) AS double) - 127.5)"
    )


def embed_token(token: str) -> list[float]:
    import hashlib

    dig = hashlib.md5(token.encode()).hexdigest()
    return [int(dig[2 * i : 2 * i + 2], 16) - 127.5 for i in range(EMB_DIM)]


def expand_query(
    spark: SparkSession,
    query: str,
    vocab: DataFrame,
    expansion_tokens: int = DEFAULT_EXPANSION_TOKENS,
    embed_token_fn=None,
    embed_col_fn=None,
    qtoks: list[str] | None = None,
) -> dict[str, float]:
    """{token: weight}: the query's own tokens at weight 1.0 plus the
    `expansion_tokens` nearest vocab tokens by embedding cosine (weight =
    similarity, clipped to [0, 1]). `vocab` is any DataFrame with a `token`
    column — the lake path passes the index's stats tokens.

    EMBEDDER SWAP CONTRACT: `embed_token_fn(token) -> list[float]`
    (driver-side, for the query tokens) and `embed_col_fn(col_name) ->
    array<double> Column` (vocab-side, codegen or Pandas-UDF) replace the
    md5 stub pair as one unit; a swap changes WEIGHTS only — original
    query tokens still win at 1.0, weights stay clipped to [0, 1], and
    the ranking machinery (cosine + deterministic tie-break) is
    embedder-independent (tests/test_embedder_contract.py)."""
    if qtoks is None:
        qtoks = tokenize_query(query)
    if not qtoks:
        return {}
    import numpy as np

    embed_token_fn = embed_token_fn or embed_token
    embed_col_fn = embed_col_fn or token_embedding_col
    qv = np.mean([embed_token_fn(t) for t in qtoks], axis=0)
    qn = float(np.linalg.norm(qv)) or 1.0
    q_lit = "array(" + ", ".join(f"{x!r}D" for x in qv.tolist()) + ")"
    scored = (
        vocab.select("token").distinct()
        .withColumn("e", embed_col_fn("token"))
        .withColumn(
            "cos",
            F.expr(
                f"aggregate(zip_with(e, {q_lit}, (a, b) -> a * b), 0D, (s, x) -> s + x)"
                f" / (sqrt(aggregate(e, 0D, (s, x) -> s + x * x)) * {qn!r}D)"
            ),
        )
        .orderBy(F.desc("cos"), F.asc("token"))
        .limit(expansion_tokens)
        .collect()
    )
    weights = {r["token"]: max(0.0, min(1.0, float(r["cos"]))) for r in scored}
    for t in qtoks:  # original tokens always win at full weight
        weights[t] = 1.0
    return weights


def derive_stats(
    df: DataFrame, column: str, query_tokens: list[str], tok_col_fn=None
):
    """(stats_df(token, df), n_docs, total_len) computed from raw rows —
    the in-situ analog for unindexed data. `tok_col_fn` (default: the
    regex tokenizer) must match the tokenizer the scores will use."""
    toks = df.select((tok_col_fn or tokens_col)(F.col(column)).alias("toks"))
    st = (
        toks.select(F.explode(F.array_distinct("toks")).alias("token"))
        .filter(F.col("token").isin(query_tokens))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    glob = toks.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.size("toks")), F.lit(0)).alias("tl"),
    ).collect()[0]
    return st, int(glob[0]), int(glob[1])


def score_rows(
    df: DataFrame,
    column: str,
    query_tokens: list[str],
    stats_df: DataFrame | dict[str, int],
    n_docs: int,
    total_len: int,
    id_col: str,
    k: int | None = None,
    round_to: int = 4,
    weights: dict[str, float] | None = None,
    tok_col_fn=None,
) -> DataFrame:
    """Exact Okapi BM25 of each row against the query tokens.

    Returns (id_col, score) with score rounded (cross-engine float hygiene);
    ties broken by id_col when k is set. Rows with no query token are
    excluded (score would be 0). `weights` (X7 expansion) multiply each
    token's partial score, mirroring the reference's weighted accumulation
    (bm25.rs:547-555).

    `stats_df` is a (token, df) DataFrame, or a {token: df} dict from a
    driver-side probe, which becomes a literal map: no join, no job."""
    if not query_tokens or n_docs == 0 or (
        isinstance(stats_df, dict) and not stats_df
    ):
        return df.select(id_col).limit(0).withColumn("score", F.lit(0.0))
    avg_len = total_len / n_docs if n_docs else 1.0

    def idf(df_col):
        return F.log(
            (F.lit(float(n_docs)) - df_col + 0.5) / (df_col + 0.5) + 1.0
        )

    toks = df.select(
        id_col, (tok_col_fn or tokens_col)(F.col(column)).alias("toks")
    )
    exploded = toks.select(
        id_col, F.size("toks").alias("len"), F.explode("toks").alias("token")
    ).filter(F.col("token").isin(list(query_tokens)))
    tf = exploded.groupBy(id_col, "token", "len").agg(
        F.count(F.lit(1)).alias("tf")
    )
    if isinstance(stats_df, dict):
        dfs = F.create_map(
            *[
                x
                for t, d in sorted(stats_df.items())
                for x in (F.lit(t), F.lit(int(d)).cast("long"))
            ]
        )
        tf = tf.filter(F.col("token").isin(list(stats_df))).withColumn(
            "idf", idf(dfs[F.col("token")])
        )
    else:
        # idf per token — tiny; broadcast-join
        stats_small = stats_df.select("token", idf(F.col("df")).alias("idf"))
        tf = tf.join(F.broadcast(stats_small), "token")
    if weights:
        wmap = F.create_map(
            *[F.lit(x) for kv in weights.items() for x in kv]
        )
        tf = tf.withColumn(
            "idf", F.col("idf") * F.coalesce(wmap[F.col("token")], F.lit(0.0))
        )
    per_token = tf.select(
        id_col,
        (
            F.col("idf")
            * (F.col("tf") * (K1 + 1))
            / (F.col("tf") + K1 * (1 - B + B * F.col("len") / F.lit(avg_len)))
        ).alias("partial"),
    )
    scored = per_token.groupBy(id_col).agg(
        F.round(F.sum("partial"), round_to).alias("score")
    )
    if k is not None:
        scored = scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)
    return scored


def bm25_topk(
    lake,
    index: BM25Index,
    column: str,
    query: str,
    k: int,
    id_col: str,
    expansion_tokens: int = 0,
) -> DataFrame:
    """Lake-level exact BM25 top-K: global stats = index stats (covered
    files) + derived stats (unindexed files); candidate rows = postings hits
    + unindexed rows. Exact because candidates ⊇ every row containing ≥1
    query token. With expansion_tokens > 0 (X7), the query grows to its
    nearest index-vocabulary tokens, similarity-weighted — exact for the
    expanded token set."""
    # `lake.files` refuses merge-on-read state: deleted rows would count
    # in the corpus statistics
    plan = lake._plan(index, column, lake.files)
    toks = index.tokenizer.query_tokens(query)
    weights = None
    if expansion_tokens and plan.entries:
        vocab = scan_parquet(
            lake.spark, *[f"{e['index_path']}/stats" for e in plan.entries]
        )
        weights = expand_query(
            lake.spark, query, vocab, expansion_tokens, qtoks=toks
        )
        toks = sorted(weights)  # downstream candidate probes use all tokens
    stats, n_docs, total_len, raw = _corpus_stats(lake, index, column, plan, toks)
    units = lake._probe_units(index, plan, toks)
    rows = lake._union([lake._fetch(units, plan.covered_files), raw])
    return score_rows(
        rows, column, toks, stats, n_docs, total_len,
        id_col=id_col, k=k, weights=weights,
        tok_col_fn=index.tokenizer.tokens_col,
    )


def _corpus_stats(lake, index: BM25Index, column: str, plan, toks: list[str]):
    """(stats, n_docs, total_len, unindexed rows or None) for `toks`: the
    index stats of the covered files — read on the driver when their
    slices fit the budget — plus stats derived from the unindexed rows.
    `stats` is a {token: df} dict when only the driver read contributed
    (scoring then needs no stats job), else a (token, df) DataFrame."""
    from rottnest_spark.core.smalldf import local_df

    parts, n_docs, total_len = [], 0, 0
    if plan.entries:
        paths = [e["index_path"] for e in plan.entries]
        st, n_docs, total_len = index.stats_local(paths, toks) or index.stats(
            lake.spark, paths, toks
        )
        parts.append(st)
    raw = lake.read(plan.unindexed_files) if plan.unindexed_files else None
    if raw is not None:
        st, n, tl = derive_stats(
            raw, column, toks, tok_col_fn=index.tokenizer.tokens_col
        )
        parts.append(st)
        n_docs += n
        total_len += tl
    if not parts or (len(parts) == 1 and isinstance(parts[0], dict)):
        return (parts[0] if parts else {}), n_docs, total_len, raw
    frames = [
        local_df(lake.spark, sorted(s.items()), "token string, df long", slices=1)
        if isinstance(s, dict)
        else s
        for s in parts
    ]
    stats = frames[0]
    for s in frames[1:]:
        stats = stats.unionByName(s)
    stats = stats.groupBy("token").agg(F.sum("df").alias("df"))
    return stats, n_docs, total_len, raw


def bm25_topk_many(
    lake,
    index: BM25Index,
    column: str,
    queries: list[str],
    k: int,
    id_col: str,
) -> DataFrame:
    """Batched exact BM25: N queries share ONE stats read (over the union
    of their tokens) and ONE unindexed stats derivation; each query's
    candidates come from the lake's batched candidate stage (driver
    probes, else one shared postings scan: `BM25Index.search_many`), then
    its fetch and scoring run as in bm25_topk. Per-query results ≡
    bm25_topk(query), tagged `__query__`. The bulk-retrieval shape (RAG
    eval sets, alert sweeps) where at 100 TB the index scans dominate a
    single query's cost."""
    if not queries:
        return lake._empty().select(
            id_col, F.lit(0.0).alias("score"), F.lit("").alias("__query__")
        )
    plan = lake._plan(index, column, lake.files)
    toks_by_q = [index.tokenizer.query_tokens(q) for q in queries]
    union_toks = sorted({t for ts in toks_by_q for t in ts})
    stats, n_docs, total_len, raw = _corpus_stats(
        lake, index, column, plan, union_toks
    )
    if not isinstance(stats, dict):
        stats = stats.localCheckpoint()  # shared by every query's scoring
    out = None
    units_by_q = lake._probe_units_many(index, plan, toks_by_q)
    for q, toks, units in zip(queries, toks_by_q, units_by_q):
        rows = lake._union([lake._fetch(units, plan.covered_files), raw])
        scored = score_rows(
            rows, column, toks, stats, n_docs, total_len,
            id_col=id_col, k=k, tok_col_fn=index.tokenizer.tokens_col,
        ).withColumn("__query__", F.lit(q))
        out = scored if out is None else out.unionByName(scored)
    return out
