"""Sources: parquet star-schema tables + text scans.

The reference's only source is whole-file text (one map task per file,
/root/reference/internal/coordinator/coordinator.go:60-68; read via
os.ReadFile, worker.go:77) plus the legacy line-at-a-time Hadoop input
(FileInputFormat, legacy/.../hw01/WordCount.java:82-84). Spark subsumes
both with FileSourceScanExec: splits + locality + column pruning +
predicate pushdown are automatic.

At 100 TB the scan path is the dominant cost; everything here keeps the
scan declarative so Catalyst can prune columns and push filters into the
parquet reader (check with .explain: PushedFilters / ReadSchema).
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# The driver-provided star schema (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def normalize_events_ts(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Normalize the events `ts` column to TIMESTAMP (µs, UTC) for every
    physical encoding the driver's generator has produced so far:

    - TIMESTAMP(NANOS)  → read as raw long under nanosAsLong; truncate
      to micros with integer DIV (double division loses ulps on
      19-digit nanos and shifts some timestamps by 1 µs).
    - TIMESTAMP(MICROS, isAdjustedToUTC=false) → Spark TIMESTAMP_NTZ;
      cast to TIMESTAMP with the session tz pinned to UTC so the cast
      is an identity on the wall clock and matches DuckDB's naive
      reading of the same micros.
    - TIMESTAMP(MICROS, isAdjustedToUTC=true) → already TIMESTAMP;
      leave untouched.

    Side effect, deliberate and global: pins the SESSION timezone to
    UTC on every branch (not just NTZ). Rendering functions downstream
    (date_format / strftime twins) format instants in the session tz,
    so a foreign session carrying a non-UTC tz would diverge from the
    DuckDB oracle even on encodings whose *values* need no tz to
    decode. The conf is runtime-settable and the driver harness
    constructs its own session, so it must happen at load time.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if dt == "timestamp_ntz":
        # The NTZ→TZ cast interprets the wall clock in the session tz
        # (pinned to UTC above), so the cast is an identity on the wall
        # clock and matches DuckDB's naive reading of the same micros.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _local_path(p: str) -> str:
    for pre in ("file://", "file:"):
        if p.startswith(pre):
            return p[len(pre):]
    return p


def stat_digest(paths: Iterable[str]) -> str:
    """Cheap identity of a set of files: md5 over (path, size, mtime_ns)
    of every file under each path (a directory is walked, a file is
    stat'ed) — an os.stat sweep, no data read. This is the freshness
    signal a table format's snapshot id provides at scale; mtime
    granularity is ns and Spark names every written part file afresh,
    so even an immediate in-place rewrite changes the digest. A
    ``file:`` URI prefix (DataFrame.inputFiles) is stripped; a path
    that cannot be stat'ed contributes its name only."""
    h = hashlib.md5()

    def add(p: str) -> None:
        try:
            st = os.stat(p)
            h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}".encode())
        except OSError:
            h.update(p.encode())

    for p in sorted(_local_path(p) for p in paths):
        if os.path.isdir(p):
            for droot, _, files in sorted(os.walk(p)):
                for f in sorted(files):
                    add(os.path.join(droot, f))
        else:
            add(p)
    return h.hexdigest()


#: path → (stat_digest of the path, schema Spark inferred for it). One
#: entry per path, replaced when the files under it change.
_SCHEMAS: dict[str, tuple[str, StructType]] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the path's schema once.

    A read without a schema starts a Spark job that reads parquet
    footers (mergeSchemasInParallel) — 55–75 ms of wall time per read
    on a 4-core host, against 8–12 ms with a schema. The first read of
    a path infers as usual and remembers the schema under the path's
    stat_digest; later reads of the unchanged files pass it
    explicitly, so they start no job and plan the same relation
    (partition columns and all). A rewrite, or a part file added or
    removed, changes the digest and infers again. Paths on a non-local
    filesystem are not stat'able here and always infer.
    """
    local = _local_path(path)
    digest = None if "://" in local else stat_digest([local])
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == digest:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    if digest is not None:
        _SCHEMAS[path] = (digest, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar parquet scan of one star-schema table.

    Parquet (not the reference's schema-less text / JSON-lines shuffle
    files, worker.go:90-101) so scans are vectorized, column-pruned and
    predicate-pushed — the properties that matter at 100 TB.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # Tolerate a TIMESTAMP(NANOS) events file, which Spark's
        # vectorized reader otherwise rejects. Must work in ANY
        # session — including ones this repo didn't build (an external
        # harness constructs its own SparkSession) — so set the
        # runtime-settable SQL conf here, not only in session.py.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_events_ts(spark, df)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL dialect."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_text_files(spark: SparkSession, paths: list[str] | str) -> DataFrame:
    """Whole-file-identity text scan → (doc_id: string, text: string).

    Mirrors the reference's unit of work — one shard per input file
    (coordinator.go:60-68) — but lets Spark split large files into
    multiple partitions. Per-file identity is recovered declaratively
    with input_file_name(); rows of one file keep their file tag, so
    "one map task per whole file" semantics are preserved logically
    while execution parallelism is per-split (strictly better at scale:
    a 1 GB file becomes 8 tasks, not 1).
    """
    lines = spark.read.text(paths).withColumn("doc_id", F.input_file_name())
    # Reference semantics: the map function sees whole-file contents
    # (worker.go:77-81). Re-concatenate lines per file; tokenization
    # downstream splits on non-alpha, so the join separator "\n" is
    # itself a separator and the token stream is identical.
    return lines.groupBy("doc_id").agg(
        F.concat_ws("\n", F.collect_list("value")).alias("text")
    )


def read_text_lines(spark: SparkSession, paths: list[str] | str) -> DataFrame:
    """Line-at-a-time text scan → (line: string), the legacy Hadoop record
    shape (Mapper<Object, Text, ...> over FileInputFormat,
    legacy/.../hw01/WordCount.java:36-50, 82-84). This is Spark's native
    text behavior: one row per line, splittable, streamed — never
    whole-file in memory.
    """
    return spark.read.text(paths).withColumnRenamed("value", "line")
