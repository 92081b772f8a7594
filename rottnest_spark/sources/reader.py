"""Lake parquet reader.

Spark's vectorized reader rejects TIMESTAMP(NANOS) parquet columns
(PARQUET_TYPE_ILLEGAL) — common in pandas/arrow-written lakes (e.g. the
events fixture). We read them via the legacy nanos-as-long session flag and
rebuild a microsecond TimestampType column (`div 1000` truncation — the same
µs truncation DuckDB applies to nanosecond parquet, keeping oracles aligned).

Only a footer peek of ONE file decides whether conversion applies: the
lexicographically smallest path of the list, the same file Spark infers the
scan's schema from. The lake invariant (append-only, uniform schema) matches
the reference's schema-on-read stance (column located by name,
src/formats/parquet.rs:271-280).

Every scan, lake data and index tables alike, goes through `scan_parquet`,
which skips Spark's schema-inference job once a schema is known (see its
docstring and docs/SCALE.md, "Per-query job floor").
"""

from __future__ import annotations

import os
import stat
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_NANOS_FLAG = "spark.sql.legacy.parquet.nanosAsLong"
_FIELD_ID_FLAG = "spark.sql.parquet.fieldId.read.enabled"

# -- read-schema pin (round 10: index build/search on type-widened
# Delta tables). A lake that KNOWS the table's schema (Delta
# typeWidening: files written pre-widen physically carry the narrow
# type; the log's schemaString is authoritative) scopes a pin around
# its scan-producing calls; every read_parquet/read_parquet_tagged/
# row-group fetch inside the scope reads AT the pinned schema (Spark's
# parquet up-cast widens int32→long, float→double, decimal rescale
# per file). Plans capture the schema at construction, so the pin only
# needs to cover DataFrame CONSTRUCTION, not collection.
import contextlib as _contextlib
import contextvars as _contextvars

_SCHEMA_PIN = _contextvars.ContextVar("rottnest_read_schema_pin", default=None)


@_contextlib.contextmanager
def read_schema_pin(schema):
    """Scope an explicit read schema over every lake parquet scan built
    inside the context (no-op when schema is None)."""
    tok = _SCHEMA_PIN.set(schema)
    try:
        yield
    finally:
        _SCHEMA_PIN.reset(tok)


def pinned_read_schema():
    return _SCHEMA_PIN.get()


def _scan(spark, files, schema, field_id):
    """One shared spark.read entry: optional explicit schema (column-
    mapped tables address PHYSICAL names/field ids), optional parquet
    field-id resolution (Delta column-mapping ID mode — the schema then
    carries parquet.field.id metadata and Spark matches by id, erroring
    on files without ids rather than falling back to names). Both flags
    set explicitly BOTH ways, like the nanos flag: stale session state
    must never change how an unrelated later read resolves columns.

    CONCURRENCY (r11 ADVICE / r12 measurement): both flags are
    session-wide AND captured at EXECUTION time (the scan's hadoopConf
    is built at first action; verified empirically — a flag flipped
    between construction and collect changes the resolution, and the
    per-read `.option(...)` form is ignored by Spark 4.1). Scans that
    need a non-default value (field_id=True mapped tables, nanos
    sources) must therefore not EXECUTE concurrently with another
    thread setting the flags — the engine's threaded sections
    (sync_all prefetch, build/upsert overlaps) all read plain
    Spark-written parquet where both flags are false on every thread."""
    spark.conf.set(_FIELD_ID_FLAG, "true" if field_id else "false")
    if schema is not None:
        return spark.read.schema(schema).parquet(*files)
    return scan_parquet(spark, *files)


# -- schema memo ----------------------------------------------------------
# Without a schema, `spark.read.parquet` runs a Spark job that reads one
# footer to infer it: ~75-90 ms, more than a selective search spends on
# data. With `mergeSchema` off Spark infers from exactly one file, the
# lexicographically smallest leaf path of the list, converted under the
# session flags below. So the schema is a function of that file and those
# flags, and the memo keys on exactly them. The key names everything the
# schema depends on, so one process-wide memo serves every session.

#: session settings that change how a Parquet schema converts
_INFER_FLAGS = (
    _NANOS_FLAG,
    _FIELD_ID_FLAG,
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
_MERGE_FLAG = "spark.sql.parquet.mergeSchema"
_GLOB_CHARS = set("*?[]{}\\")
_SCHEMAS: dict = {}
_SCHEMAS_MAX = 4096
_SCHEMAS_LOCK = threading.Lock()


def _smallest_path(paths) -> str:
    """The path Spark infers a multi-path scan's schema from (and the one
    the nanos peek reads): Spark sorts the listed leaf files by path."""
    return min(paths)


def _schema_key(spark: SparkSession, paths) -> tuple | None:
    """(smallest path, its identity, the inference flags), or None when the
    memo cannot know what Spark would infer: globs, URIs, relative or
    unnormalized paths, a missing path or leafless directory, or schema
    merging."""
    if not paths or any(
        not p.startswith("/") or p != os.path.normpath(p) or _GLOB_CHARS & set(p)
        for p in paths
    ):
        return None
    first = _smallest_path(paths)
    # a directory's leaves sort as `dir/...`: when files and directories
    # mix, `first` must also be smallest under that order, or a sibling
    # such as `dir-2/...` may hold the leaf Spark actually reads
    if first != min(paths, key=lambda p: p + "/"):
        return None
    if (spark.conf.get(_MERGE_FLAG, None) or "").lower() == "true":
        return None
    try:
        st = os.stat(first)
        is_dir = stat.S_ISDIR(st.st_mode)
        if is_dir:
            # no visible entry means no leaf here: Spark infers from the
            # next path of the list, which the key does not name
            with os.scandir(first) as it:
                if all(e.name.startswith(("_", ".")) for e in it):
                    return None
    except OSError:
        return None
    # data files are immutable and index dirs write-once (named by uuid),
    # so a path's identity stands for its schema: a rewrite in place moves
    # a file's size or mtime, and a changed entry moves a directory's mtime
    ident = (st.st_ino, st.st_mtime_ns, None if is_dir else st.st_size)
    return (first, ident, tuple(spark.conf.get(f, None) for f in _INFER_FLAGS))


def scan_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """`spark.read.parquet(*paths)` that reuses the schema Spark inferred
    the last time it read the same smallest file under the same flags,
    so a repeated scan plans without a Spark job."""
    key = _schema_key(spark, paths)
    if key is None:
        return spark.read.parquet(*paths)
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(*paths)
    df = spark.read.parquet(*paths)
    with _SCHEMAS_LOCK:
        if len(_SCHEMAS) >= _SCHEMAS_MAX:
            _SCHEMAS.clear()
        _SCHEMAS[key] = df.schema
    return df


# -- driver-side index slices ----------------------------------------------
# A probe's output is metadata-scale, and index tables are sorted by their
# probe key, so the row groups a selective probe needs are few and their
# footer min/max name them. `read_index_slice` reads those row groups with
# pyarrow on the driver; over `_SLICE_BUDGET` compressed bytes it declines
# and the probe runs on Spark (docs/SCALE.md, "Driver-side probe").

#: compressed bytes of index row groups one driver-side probe may read
_SLICE_BUDGET = 32 << 20
_FOOTERS: dict = {}
#: footers the memo holds (cleared when full); a table with more leaves
#: than this is probed on Spark, without reading its footers
_FOOTERS_MAX = 4096
_FOOTERS_LOCK = threading.Lock()


def _table_footers(path: str) -> list | None:
    """[(leaf file, FileMetaData)] of one index table directory, or None
    when pyarrow cannot open it or it has more than `_FOOTERS_MAX`
    leaves. Memoized under the schema memo's invariants: index dirs are
    write-once and named by uuid, so the directory's identity stands for
    its leaves and their footers."""
    import pyarrow.parquet as pq

    if not path.startswith("/") or path != os.path.normpath(path):
        return None
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return None
        key = (path, st.st_ino, st.st_mtime_ns)
        hit = _FOOTERS.get(key)
        if hit is not None:
            return hit
        with os.scandir(path) as it:
            leaves = sorted(
                e.path
                for e in it
                if e.is_file() and not e.name.startswith(("_", "."))
            )
        if not leaves or len(leaves) > _FOOTERS_MAX:
            return None
        footers = [(f, pq.read_metadata(f)) for f in leaves]
    except Exception:  # OSError, or a leaf pyarrow cannot parse
        return None
    with _FOOTERS_LOCK:
        if sum(map(len, _FOOTERS.values())) + len(footers) > _FOOTERS_MAX:
            _FOOTERS.clear()
        _FOOTERS[key] = footers
    return footers


def _overlaps(st, keys: list) -> bool:
    """Whether a row group's min/max can hold one of the sorted `keys`.
    Missing statistics are sound as 'yes'; keys incomparable with the
    statistics raise TypeError."""
    import bisect

    if st is None or not st.has_min_max:
        return True
    i = bisect.bisect_left(keys, st.min)
    return i < len(keys) and keys[i] <= st.max


def read_index_slice(
    paths: list[str], column: str | None, keys, columns: list[str]
) -> list | None:
    """The rows of each index table in `paths` whose row groups' `column`
    min/max overlap one of `keys` (every row group when `column` is None),
    as one pyarrow Table per path, `columns` only. None when the selected
    row groups exceed `_SLICE_BUDGET` compressed bytes, when a path cannot
    be opened by pyarrow, or when the keys are incomparable with the
    column's statistics: the caller then probes on Spark. The decision
    reads footers only, from a memo."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    keys = None if column is None else sorted(set(keys))
    plan, budget = [], _SLICE_BUDGET
    for path in paths:
        footers = _table_footers(path)
        if footers is None:
            return None
        parts = []
        for f, md in footers:
            # leaf column chunks by top-level column (a list column's leaf
            # is `col.list.element`)
            tops = [
                md.schema.column(i).path.split(".")[0]
                for i in range(md.num_columns)
            ]
            read = [i for i, c in enumerate(tops) if c in columns]
            if not set(columns) <= set(tops) or (column and column not in tops):
                return None
            ci = None if column is None else tops.index(column)
            rgs = []
            for r in range(md.num_row_groups):
                rg = md.row_group(r)
                try:
                    if ci is not None and not _overlaps(
                        rg.column(ci).statistics, keys
                    ):
                        continue
                except TypeError:
                    return None
                budget -= sum(rg.column(c).total_compressed_size for c in read)
                if budget < 0:
                    return None
                rgs.append(r)
            parts.append((f, md, rgs))
        plan.append(parts)
    out = []
    try:
        for parts in plan:
            schema = parts[0][1].schema.to_arrow_schema()
            tables = [
                pq.ParquetFile(f, metadata=md).read_row_groups(rgs, columns=columns)
                for f, md, rgs in parts
                if rgs
            ]
            out.append(
                pa.concat_tables(tables)
                if tables
                else pa.schema([schema.field(c) for c in columns]).empty_table()
            )
    except Exception:  # a leaf vanished or changed under the memo
        return None
    return out


def nanos_ts_columns(file: str) -> list[str]:
    """Columns Spark cannot decode: INT64 + logical TIMESTAMP(NANOS).

    Must inspect the PHYSICAL parquet type: Spark-written INT96 timestamps
    are reported by pyarrow's *arrow* schema as timestamp[ns] too, but Spark
    reads INT96 natively — flagging those would mis-convert valid columns.
    """
    import pyarrow.parquet as pq

    schema = pq.ParquetFile(file).schema
    out = []
    for i in range(len(schema)):
        col = schema.column(i)
        lt = col.logical_type
        if (
            col.physical_type == "INT64"
            and lt is not None
            and lt.type == "TIMESTAMP"
            and "timeUnit=nanoseconds" in str(lt)
        ):
            out.append(col.name)
    return out


def read_parquet(
    spark: SparkSession,
    files: list[str],
    columns: list[str] | None = None,
    schema=None,
    field_id: bool = False,
) -> DataFrame:
    """spark.read.parquet with transparent nanosecond-timestamp handling.

    NOTE: truncation (not rounding) to µs; pre-1970 nanos would truncate
    toward zero instead of flooring — acceptable for log/event data.
    """
    if schema is None:
        schema = _SCHEMA_PIN.get()
    ns_cols = nanos_ts_columns(_smallest_path(files))
    # Set the flag EXPLICITLY both ways: a stale true from an earlier read
    # would make a later non-ns read silently decode ns columns (present in
    # other files of the list but not the peeked one) as raw bigint; with the flag
    # false Spark fails loudly (PARQUET_TYPE_ILLEGAL) on such mixed lakes.
    spark.conf.set(_NANOS_FLAG, "true" if ns_cols else "false")
    df = _scan(spark, files, schema, field_id)
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    if columns:
        df = df.select(*columns)
    return df


def uri_path_col(c):
    """OS path from a `_metadata.file_path` URI Column (round 11): strip
    the file: scheme and PERCENT-DECODE byte-exactly. Spark tags rows
    with a URI — a dir Spark itself laid out as `p=NOT%20SPECIFIED`
    (its escaping of a space in a partition VALUE) tags as
    `...%2520SPECIFIED...`, so the un-decoded tag never matches the
    manifest/log path and every join against it silently (or loudly)
    misses. `url_decode()` is NOT usable: it speaks
    x-www-form-urlencoded and would eat literal '+' path chars. Pure
    JVM: split on '%', rebuild as BINARY (unhex each escape, UTF-8
    bytes between), decode once — multibyte sequences survive."""
    p = F.regexp_replace(c, "^file:/+", "/")
    parts = F.split(p, "%")
    tail = F.slice(parts, 2, F.greatest(F.size(parts) - 1, F.lit(0)))
    decoded = F.decode(
        F.aggregate(
            tail,
            F.encode(F.element_at(parts, 1), "UTF-8"),
            lambda acc, x: F.concat(
                acc,
                F.unhex(F.substring(x, 1, 2)),
                F.encode(F.substring(x, 3, 2147483647), "UTF-8"),
            ),
        ),
        "UTF-8",
    )
    return F.when(p.contains("%"), decoded).otherwise(p)


def uri_path_str(p: str) -> str:
    """Driver-side twin of uri_path_col for collected tag values."""
    import re as _re
    from urllib.parse import unquote

    out = _re.sub(r"^file:/+", "/", p)
    return unquote(out) if "%" in out else out


def read_parquet_tagged(
    spark: SparkSession,
    files: list[str],
    schema=None,
    field_id: bool = False,
) -> DataFrame:
    """`read_parquet` variant that keeps row provenance: every row is
    tagged `__path` (normalized absolute file path) and `__pos`
    (file-global row index) from Spark's `_metadata` column, tagged
    BEFORE any projection (metadata columns resolve only on the scan
    relation). One shared implementation of the nanos-flag dance — the
    merge-on-read row filters (delta/iceberg `_base_read`), the
    candidate fetch (core/refine.py) and the snapshot diff
    (sources/changes.py) all build on it."""
    if schema is None:
        schema = _SCHEMA_PIN.get()
    ns_cols = nanos_ts_columns(_smallest_path(files))
    spark.conf.set(_NANOS_FLAG, "true" if ns_cols else "false")
    df = _scan(spark, files, schema, field_id).withColumns(
        {
            "__path": uri_path_col(F.col("_metadata.file_path")),
            "__pos": F.col("_metadata.row_index"),
        }
    )
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df
