"""Source/sink format coverage (SURVEY.md §2.1): the reference reads
whole text files and writes "key value" text lines; every other
connector row in §2.1 is marked absent-but-built-into-Spark. These
queries pin that claim with executable round-trips: write a projected
table through a format, read it back, and aggregate — the oracle runs
the same aggregate on the original parquet, so a PASS proves the
format preserved values exactly.

Sinks write under ``.scratch/`` inside the repo (gitignored); each
query overwrites its own directory, so runs are idempotent.

Scale notes baked into the plans:
- CSV/JSON are row formats — fine as interchange sinks, never as the
  100 TB analytic store (no column pruning, no predicate pushdown,
  full-row parse cost). ORC/Parquet keep vectorized scans + pushdown.
- ``sink_parquet_partitioned`` demonstrates the hive-style layout that
  makes partition pruning work: the read-back filter on the partition
  column becomes a PartitionFilter (zero data files of other
  partitions opened) — *the* dominant cost lever for 100 TB tables.
- Doubles survive CSV/JSON via Spark's shortest-round-trip float
  formatting, but money stays decimal(18,2) end-to-end anyway: text
  formats + exact types is the robust contract.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_mapreduce_spark.plans.registry import query
from dist_mapreduce_spark.sources.tables import load_table, read_parquet

from dist_mapreduce_spark.scratch import scratch_root


def _sink_dir(name: str) -> str:
    # Per-process root: two processes running the same sink query
    # (gate + pytest) raced on this directory before round 11.
    return os.path.join(scratch_root(), name)


_ORDERS_AGG_ORACLE = (
    "SELECT o_orderpriority, count(*) AS n_orders,"
    " CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total"
    " FROM orders GROUP BY o_orderpriority"
)


def _orders_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(18,2)").alias("o_totalprice"),
    )


def _agg_orders(df: DataFrame) -> DataFrame:
    return df.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum("o_totalprice").cast("double").alias("total"),
    )


@query("sink_csv_roundtrip", oracle=_ORDERS_AGG_ORACLE)
def q_sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → CSV files → read back (explicit schema — schema
    inference is a full extra pass, never used at scale) → aggregate.
    Money as decimal(18,2): exact through text serialization."""
    path = _sink_dir("csv_orders")
    _orders_projection(spark, sf_dir).write.mode("overwrite").option(
        "header", True
    ).csv(path)
    back = spark.read.schema(
        "o_orderkey long, o_orderpriority string, o_totalprice decimal(18,2)"
    ).option("header", True).csv(path)
    return _agg_orders(back)


@query("sink_json_roundtrip", oracle=_ORDERS_AGG_ORACLE)
def q_sink_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → JSON-lines files → read back with explicit schema →
    aggregate. JSON-lines is the reference's own intermediate format
    (worker.go:90-101) — here it is just another interchange sink, and
    the shuffle it served stays inside Spark."""
    path = _sink_dir("json_orders")
    _orders_projection(spark, sf_dir).write.mode("overwrite").json(path)
    back = spark.read.schema(
        "o_orderkey long, o_orderpriority string, o_totalprice decimal(18,2)"
    ).json(path)
    return _agg_orders(back)


@query("sink_orc_roundtrip", oracle=_ORDERS_AGG_ORACLE)
def q_sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → ORC → read back → aggregate. ORC keeps the columnar
    properties (vectorized scan, pruning, pushdown) — a drop-in
    alternative to parquet for the analytic store."""
    path = _sink_dir("orc_orders")
    _orders_projection(spark, sf_dir).write.mode("overwrite").orc(path)
    return _agg_orders(spark.read.orc(path))


@query(
    "sink_parquet_partitioned",
    oracle=(
        "SELECT o_orderpriority, count(*) AS n_orders,"
        " CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total"
        " FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderpriority"
    ),
)
def q_sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → parquet partitioned by o_orderstatus (hive layout) →
    read back filtered to one partition → aggregate. The filter on the
    partition column prunes at the directory level (PartitionFilters in
    .explain, zero foreign data files opened) — at 100 TB this is the
    difference between scanning a shard and scanning the table."""
    path = _sink_dir("parquet_orders_by_status")
    (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.col("o_totalprice").cast("decimal(18,2)").alias("o_totalprice"),
            "o_orderstatus",
        )
        .write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .parquet(path)
    )
    back = read_parquet(spark, path).filter(F.col("o_orderstatus") == "F")
    return _agg_orders(back)


def _zvalue(a, b):  # noqa: ANN001 - Column-in, Column-out
    """Interleave the low 16 bits of two int columns into a 32-bit
    Morton (Z-order) value. Built from shift/and/or primitives only, so
    the whole expression stays inside whole-stage codegen — no UDF."""
    from functools import reduce

    bits = []
    for i in range(16):
        bits.append(F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i))
        bits.append(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return reduce(lambda x, y: x.bitwiseOR(y), bits)


@query(
    "sink_zorder",
    oracle=(
        "SELECT count(*) AS n_rows,"
        " CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty"
        " FROM lineitem"
        " WHERE l_partkey BETWEEN 100 AND 400 AND l_suppkey BETWEEN 10 AND 40"
    ),
)
def q_sink_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered write: interleave (l_partkey, l_suppkey) bits
    into a Morton code, range-partition + sort by it, write parquet,
    then read back with a 2-D box filter and aggregate. Unlike a plain
    sort on one column, Z-ordering makes the per-row-group min/max
    stats tight on BOTH dimensions, so parquet row-group skipping works
    for either predicate — at 100 TB this is the standard multi-column
    data-skipping layout (Delta/Iceberg OPTIMIZE ZORDER does the same).
    The written z column is layout-only; the read-back path drops it,
    so the DuckDB oracle checks pure roundtrip + filter + agg parity.
    Reference parity: the reference's only layout control is key-hash
    bucketing of shuffle files (worker.go:84-88); Z-order is its
    scale-era successor for scan pruning."""
    path = _sink_dir("lineitem_zorder")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        F.col("l_quantity").cast("decimal(18,2)").alias("l_quantity"),
    )
    clustered = li.withColumn(
        "z",
        _zvalue(
            F.pmod(F.col("l_partkey"), F.lit(65536)).cast("int"),
            F.pmod(F.col("l_suppkey"), F.lit(65536)).cast("int"),
        ),
    )
    (
        clustered.repartitionByRange(8, "z")
        .sortWithinPartitions("z")
        .write.mode("overwrite")
        .parquet(path)
    )
    back = read_parquet(spark, path).filter(
        F.col("l_partkey").between(100, 400) & F.col("l_suppkey").between(10, 40)
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").cast("double").alias("total_qty"),
    )


# Checksum fold modulus: Mersenne prime 2^61 - 1 — exact sums are
# reduced into bigint range identically on both engines.
CHECKSUM_MOD = (1 << 61) - 1


@query(
    "table_checksum",
    oracle=(
        # Sums run exact (DuckDB HUGEINT) then fold by the Mersenne
        # prime 2^61-1 before the BIGINT export: a raw 48-bit-hash sum
        # overflows a long at ~200k rows (caught by the sf0.1 gate
        # under ANSI), and HUGEINT itself exports as float (agg_bool
        # drift class). The mod of the exact sum is still order- and
        # partitioning-independent.
        f"SELECT count(*) AS n_rows,"
        f" CAST(sum(CAST(('0x' || substr(md5("
        f"   CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)"
        f"   || '|' || o_orderstatus || '|' || CAST(epoch_us(o_orderdate) AS VARCHAR)"
        f"   || '|' || o_orderpriority), 1, 12)) AS BIGINT))"
        f"  % {CHECKSUM_MOD} AS BIGINT) AS content_sum,"
        f" CAST(sum(o_orderkey) % {CHECKSUM_MOD} AS BIGINT) AS key_sum,"
        f" count(DISTINCT o_orderkey) AS distinct_keys"
        f" FROM orders"
    ),
)
def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table fingerprint: per-row md5 over a
    canonical '|'-joined rendering of the row, folded to a 48-bit int
    and SUMMED — integer sums commute, so the checksum is identical at
    any parallelism, partitioning, or row order. THE integrity
    primitive for verifying a 100 TB copy/migration without sorting
    either side: one map-side hash + a single scalar aggregate, no
    shuffle of row data at all (partial sums only).

    Rendering rules for parity: ints and epoch-micros render
    identically everywhere; doubles are deliberately EXCLUDED
    (shortest-round-trip float formatting is not pinned across
    engines — render decimals/ints only, or pre-cast to DECIMAL).
    md5 ↔ md5, 48-bit fold via conv ↔ '0x'-cast (the repo's standard
    cross-engine hash idiom)."""
    o = load_table(spark, sf_dir, "orders")
    row_repr = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).cast("string"),
        F.col("o_orderpriority"),
    )
    row_hash = F.conv(F.substring(F.md5(row_repr), 1, 12), 16, 10).cast("long")
    # Accumulate in DECIMAL(38,0) (exact, no ANSI long overflow — a
    # 48-bit hash sum passes 2^63 at ~200k rows) and fold the exact
    # total by 2^61-1; the mod of the exact sum commutes with any
    # partial-aggregation order.
    return o.withColumn("__rh", row_hash).agg(
        F.count("*").alias("n_rows"),
        F.expr(
            f"CAST(sum(CAST(__rh AS DECIMAL(38,0))) % {CHECKSUM_MOD} AS BIGINT)"
        ).alias("content_sum"),
        F.expr(
            f"CAST(sum(CAST(o_orderkey AS DECIMAL(38,0))) % {CHECKSUM_MOD}"
            f" AS BIGINT)"
        ).alias("key_sum"),
        F.count_distinct("o_orderkey").alias("distinct_keys"),
    )


@query(
    "sink_compact",
    oracle=(
        "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,"
        " CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,"
        " CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys"
        " FROM orders GROUP BY o_orderpriority"
    ),
)
def q_sink_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the maintenance job every long-lived
    100 TB table needs: streaming/incremental ingest writes thousands
    of KB-sized files per partition, and scan cost degrades with file
    COUNT (driver listing, task scheduling, per-file open/footer reads)
    long before it degrades with bytes. The job: read the fragmented
    table, `repartition(target)` — a round-robin shuffle that levels
    file sizes regardless of the ingest's skew — and rewrite; readers
    swap directories atomically. Here orders is first fragmented on
    purpose into ~300 files regardless of input size (the fragment
    COUNT is the pathology being demonstrated, so it is bounded rather
    than scaled with the corpus — else a 20× stress run spends its
    time GENERATING pathology, not compacting it), then compacted to
    4 leveled files; the returned aggregate (count + exact
    DECIMAL sum + distinct keys, vs the ORIGINAL table's oracle) is the
    losslessness proof, and the file-count collapse is asserted in
    tests/test_formats.py. At scale the same job runs per partition
    with target = ceil(bytes / 128 MB), which keeps each output file
    one scan split."""
    frag_path = _sink_dir("compact_fragmented")
    compact_path = _sink_dir("compact_leveled")
    orders = _orders_projection(spark, sf_dir)
    per_file = max(100, orders.count() // 300)
    (
        orders.write.mode("overwrite")
        .option("maxRecordsPerFile", per_file)
        .parquet(frag_path)
    )
    read_parquet(spark, frag_path).repartition(4).write.mode(
        "overwrite"
    ).parquet(compact_path)
    back = read_parquet(spark, compact_path)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_totalprice").cast("double").alias("total"),
        F.countDistinct("o_orderkey").alias("n_keys"),
    )


@query("sink_xml_roundtrip", oracle=_ORDERS_AGG_ORACLE)
def q_sink_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → XML files (Spark 4's NATIVE xml data source — the
    spark-xml package folded into core) → read back with explicit
    schema → aggregate. XML is the interchange format the enterprise
    side of a migration still speaks; the roundtrip proves money stays
    exact decimal(18,2) through the text serialization, same contract
    as the CSV/JSON twins. Schema on read, never inference — XML
    inference is a full extra pass AND type-guesses decimals into
    doubles."""
    path = _sink_dir("xml_orders")
    (
        _orders_projection(spark, sf_dir)
        .write.mode("overwrite")
        .format("xml")
        .option("rootTag", "orders")
        .option("rowTag", "order")
        .save(path)
    )
    back = (
        spark.read.schema(
            "o_orderkey long, o_orderpriority string,"
            " o_totalprice decimal(18,2)"
        )
        .format("xml")
        .option("rowTag", "order")
        .load(path)
    )
    return _agg_orders(back)
