"""Mergeable-sketch family, part 2: Count-Min and a fixed-bin quantile
histogram — joining the bit-portable HyperLogLog (plans/relational.py
sketch_hll / sketch_hll_merge) to complete the three sketches a 100 TB
pipeline persists per partition and folds later: distinct counts
(HLL, max-merge), frequencies (CMS, sum-merge), quantiles (fixed-bin
histogram, sum-merge).

Everything here is EXACT INTEGER arithmetic — counter increments,
elementwise sums, cumulative walks — so cross-engine bit-parity is by
construction (no float appears until a published ratio at the very
end, and that is one division of exact integers). The hash rows use
the repo-standard md5-prefix-to-BIGINT derivation, identical text in
both dialects.

The reference has no sketch surface; this extends SURVEY.md §2.12's
north-star family (the skew_hitters / approx_distinct / agg_percentile
measurement jobs are the exact-computation counterparts these sketches
replace once the corpus no longer fits a re-scan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_mapreduce_spark.plans.registry import query
from dist_mapreduce_spark.sources.tables import load_table, read_parquet

# ------------------------------------------------------------ Count-Min

#: CMS geometry (Cormode & Muthukrishnan 2005): D independent hash
#: rows × W counters. Overestimate ≤ e/W · N with prob ≥ 1 − e^−D;
#: underestimate is IMPOSSIBLE (the property the test pins).
CMS_D = 4
CMS_W = 256
#: Deterministic probe set: the audit estimates frequencies for these
#: user ids (cross-engine identical and scale-stable).
CMS_PROBES = 8


def _cms_hash_duck(d: str, key: str) -> str:
    return (
        f"CAST(('0x' || substr(md5(CAST({d} AS VARCHAR) || '_' ||"
        f" CAST({key} AS VARCHAR)), 1, 12)) AS BIGINT) % {CMS_W}"
    )


def _cms_hash_spark(d: str, key: str) -> str:
    return (
        f"CAST(conv(substr(md5(concat(CAST({d} AS STRING), '_',"
        f" CAST({key} AS STRING))), 1, 12), 16, 10) AS BIGINT) % {CMS_W}"
    )


@query(
    "sketch_cms",
    oracle=(
        f"WITH ev AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),"
        f" n AS (SELECT CAST(count(*) AS BIGINT) AS n_events FROM ev),"
        f" cnt AS (SELECT d, {_cms_hash_duck('d', 'user_id')} AS w,"
        f"   CAST(count(*) AS BIGINT) AS c"
        f"  FROM ev, unnest(range(0, {CMS_D})) AS u(d)"
        f"  GROUP BY d, {_cms_hash_duck('d', 'user_id')}),"
        f" probes AS (SELECT DISTINCT user_id AS probe FROM ev"
        f"  WHERE user_id < {CMS_PROBES}),"
        f" est AS (SELECT p.probe, min(c.c) AS cms_est"
        f"  FROM probes p, unnest(range(0, {CMS_D})) AS u(d)"
        f"  JOIN cnt c ON c.d = u.d"
        f"   AND c.w = {_cms_hash_duck('u.d', 'p.probe')}"
        f"  GROUP BY p.probe),"
        f" ex AS (SELECT user_id AS probe, CAST(count(*) AS BIGINT) AS exact_cnt"
        f"  FROM ev WHERE user_id < {CMS_PROBES} GROUP BY user_id)"
        f" SELECT e.probe, ex.exact_cnt, e.cms_est,"
        f"  e.cms_est - ex.exact_cnt AS overestimate,"
        f"  n.n_events,"
        f"  CAST(e.cms_est - ex.exact_cnt AS DOUBLE)"
        f"   / CAST(n.n_events AS DOUBLE) AS over_frac"
        f" FROM est e JOIN ex ON ex.probe = e.probe CROSS JOIN n"
    ),
)
def q_sketch_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency sketch, bit-portable: D = 4 hash rows × 256
    exact-integer counters over the event stream's user ids, estimates
    read back as min over rows of the hashed counter — the canonical
    heavy-hitter sketch (Cormode & Muthukrishnan 2005). The audit
    output probes a deterministic key set and publishes exact count,
    estimate, and the overestimate (never negative — CMS can only
    overcount collisions; pinned by test alongside the e/W·N error
    ceiling's realized value over_frac).

    Scale shape (fused in round 9 — was 4 passes: build, probe,
    exact, total): ONE scan of the event stream feeds ONE aggregate.
    Each event explodes into its D (d, h_d(key)) sketch cells plus —
    for probe keys only — a tagged (d = −1, key) row, so a single
    (d, w) group-by yields the counter table AND the exact probe
    counts together; n_events is recovered from the sketch itself
    (Σ_w of any one hash row — each event lands in every row exactly
    once), and the min-over-rows estimate joins only aggregate rows.
    The ≤ D·W + probes aggregate is eagerly localCheckpoint'ed (a few
    KB), so the est/exact/total branches read it, not the stream.
    At 100 TB: one scan, 1 024 counters + probe tallies shuffled,
    done — the exact computation this replaces (skew_hitters)
    shuffles every distinct key."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("user_id")
    )
    cells = ", ".join(
        f"named_struct('d', {d}, 'w', {_cms_hash_spark(str(d), 'user_id')})"
        for d in range(CMS_D)
    )
    rows = (
        f"concat(array({cells}),"
        f" CASE WHEN user_id < {CMS_PROBES}"
        f"  THEN array(named_struct('d', -1, 'w', CAST(user_id AS BIGINT)))"
        f"  ELSE array() END)"
    )
    agg = (
        ev.select(F.explode(F.expr(rows)).alias("r"))
        .select("r.d", "r.w")
        .groupBy("d", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    cnt = agg.filter(F.col("d") >= 0)
    ex = agg.filter(F.col("d") == -1).select(
        F.col("w").alias("probe"), F.col("c").alias("exact_cnt")
    )
    n = cnt.filter(F.col("d") == 0).agg(
        F.sum("c").cast("long").alias("n_events")
    )
    ds = spark.range(CMS_D).select(F.col("id").cast("int").alias("d"))
    est = (
        ex.select("probe")
        .crossJoin(F.broadcast(ds))
        .withColumn("w", F.expr(_cms_hash_spark("d", "probe")))
        .join(cnt, ["d", "w"])
        .groupBy("probe")
        .agg(F.min("c").alias("cms_est"))
    )
    return (
        est.join(ex, "probe")
        .crossJoin(F.broadcast(n))
        .select(
            "probe",
            "exact_cnt",
            "cms_est",
            (F.col("cms_est") - F.col("exact_cnt")).alias("overestimate"),
            "n_events",
            (
                (F.col("cms_est") - F.col("exact_cnt")).cast("double")
                / F.col("n_events").cast("double")
            ).alias("over_frac"),
        )
    )


@query(
    "sketch_cms_merge",
    oracle=(
        f"WITH ev AS (SELECT coalesce(event_type, '(null)') AS part, user_id"
        f"  FROM events WHERE user_id IS NOT NULL),"
        f" pc AS (SELECT part, d, {_cms_hash_duck('d', 'user_id')} AS w,"
        f"   CAST(count(*) AS BIGINT) AS c"
        f"  FROM ev, unnest(range(0, {CMS_D})) AS u(d)"
        f"  GROUP BY part, d, {_cms_hash_duck('d', 'user_id')}),"
        f" mg AS (SELECT d, w, CAST(sum(c) AS BIGINT) AS c FROM pc"
        f"  GROUP BY d, w),"
        f" gc AS (SELECT d, {_cms_hash_duck('d', 'user_id')} AS w,"
        f"   CAST(count(*) AS BIGINT) AS c"
        f"  FROM ev, unnest(range(0, {CMS_D})) AS u(d)"
        f"  GROUP BY d, {_cms_hash_duck('d', 'user_id')}),"
        f" pa AS (SELECT part, CAST(sum(c) AS BIGINT) AS mass,"
        f"   CAST(sum(c * (d * {CMS_W} + w + 1)) AS BIGINT) AS checksum"
        f"  FROM pc GROUP BY part),"
        f" ma AS (SELECT 'zz_merged' AS part, CAST(sum(c) AS BIGINT) AS mass,"
        f"   CAST(sum(c * (d * {CMS_W} + w + 1)) AS BIGINT) AS checksum"
        f"  FROM mg),"
        f" ga AS (SELECT 'zz_global' AS part, CAST(sum(c) AS BIGINT) AS mass,"
        f"   CAST(sum(c * (d * {CMS_W} + w + 1)) AS BIGINT) AS checksum"
        f"  FROM gc)"
        f" SELECT part, mass, checksum FROM pa"
        f" UNION ALL SELECT part, mass, checksum FROM ma"
        f" UNION ALL SELECT part, mass, checksum FROM ga"
    ),
)
def q_sketch_cms_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned CMS sketches + SUM-merge — the deployment shape:
    one 4×256 counter table per source partition (event_type here;
    per-day in production), persisted as (part, d, w, c) rows, folded
    by elementwise addition. The output carries each partition's
    sketch summary (total mass + a position-weighted exact-integer
    checksum that pins every counter, not just the total) plus two
    independently derived rows: `zz_merged` (sum of the per-part
    counters) and `zz_global` (the sketch built directly over the
    undivided stream). Counter-by-counter equality holds BY ALGEBRA
    (sum of partial counts = total count per cell); the hash compare
    proves both engines agree on every checksum.

    Scale shape: per-part sketching is one aggregate keyed
    (part, d, w) — ≤ |parts|·1 024 rows shuffle; the merge touches
    only counter rows, never the stream."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            F.coalesce(F.col("event_type"), F.lit("(null)")).alias("part"),
            "user_id",
        )
    )
    ds = spark.range(CMS_D).select(F.col("id").cast("int").alias("d"))
    hashed = ev.crossJoin(F.broadcast(ds)).select(
        "part", "d", F.expr(_cms_hash_spark("d", "user_id")).alias("w")
    )
    pc = hashed.groupBy("part", "d", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    chk = F.sum(
        F.col("c") * (F.col("d").cast("long") * CMS_W + F.col("w") + 1)
    ).cast("long")
    pa = pc.groupBy("part").agg(
        F.sum("c").cast("long").alias("mass"), chk.alias("checksum")
    )
    mg = pc.groupBy("d", "w").agg(F.sum("c").cast("long").alias("c"))
    ma = mg.agg(
        F.lit("zz_merged").alias("part"),
        F.sum("c").cast("long").alias("mass"),
        chk.alias("checksum"),
    )
    gc = hashed.groupBy("d", "w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    ga = gc.agg(
        F.lit("zz_global").alias("part"),
        F.sum("c").cast("long").alias("mass"),
        chk.alias("checksum"),
    )
    return pa.select("part", "mass", "checksum").unionByName(ma).unionByName(ga)


# --------------------------------------------- fixed-bin quantile sketch

#: Histogram geometry over o_totalprice in exact integer cents: a
#: FIXED literal range with equi-width bins — fixed bins are what make
#: the sketch mergeable by plain elementwise sum (adaptive sketches
#: like t-digest merge approximately and engine-specifically). The
#: estimate error is bounded by one bin width BY CONSTRUCTION: the
#: r-th smallest value lies inside the bin where the cumulative count
#: crosses r.
QH_LO = 0                    # cents
QH_HI = 50_000_000           # cents ($500 000 — covers the schema's range)
QH_BINS = 1000
QH_WIDTH = (QH_HI - QH_LO) // QH_BINS
QH_QS = (25, 50, 75, 90, 99)


_D_CENTS = "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)"


def _qh_bin(cents: str) -> str:
    """bin id (dialect-neutral int arithmetic): clamp into [0, BINS)."""
    return f"least(greatest(({cents} - {QH_LO}), 0) // {QH_WIDTH}, {QH_BINS - 1})"


@query(
    "sketch_quantile_hist",
    oracle=(
        f"WITH v AS (SELECT {_D_CENTS} AS cents FROM orders),"
        f" n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),"
        f" h AS (SELECT CAST({_qh_bin('cents')} AS BIGINT) AS b,"
        f"   CAST(count(*) AS BIGINT) AS c FROM v GROUP BY 1),"
        f" cum AS (SELECT b, sum(c) OVER (ORDER BY b) AS cum FROM h),"
        f" qs AS (SELECT q FROM unnest(ARRAY{list(QH_QS)}) AS t(q)),"
        f" ranks AS (SELECT q, CAST((q * n + 99) // 100 AS BIGINT) AS r"
        f"  FROM qs, n),"
        f" est AS (SELECT q, r, min(b) AS eb FROM ranks JOIN cum"
        f"  ON cum.cum >= ranks.r GROUP BY q, r),"
        f" srt AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn"
        f"  FROM v),"
        f" exact AS (SELECT e.q, s.cents AS exact_cents FROM est e"
        f"  JOIN srt s ON s.rn = e.r)"
        f" SELECT e.q, n.n, e.eb * {QH_WIDTH} + {QH_LO} AS est_lo_cents,"
        f"  x.exact_cents,"
        f"  x.exact_cents - (e.eb * {QH_WIDTH} + {QH_LO}) AS err_cents,"
        f"  CAST({QH_WIDTH} AS BIGINT) AS width_cents"
        f" FROM est e JOIN exact x ON x.q = e.q CROSS JOIN n"
    ),
)
def q_sketch_quantile_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin quantile histogram sketch over order totals in exact
    integer cents: 1 000 equi-width bins over a FIXED literal range,
    quantile q read back as the lower bound of the bin where the
    cumulative count crosses rank ceil(q·n/100) (type-1 quantile). The
    audit row per q publishes the sketch estimate, the EXACT rank
    statistic (row_number over the total order — same tie semantics in
    both engines), their difference, and the bin width — err_cents ∈
    [0, width) is guaranteed by construction, pinned by test. Fixed
    bins (not t-digest/KLL) because fixed bins merge by plain
    elementwise sum in exact integers — engine-portable and
    associative; see sketch_quantile_merge.

    Scale shape: the sketch is one aggregate into ≤ 1 000 rows (map-
    side combinable), the cumulative walk is a 1 000-row window. The
    exact-rank comparison column is the audit's luxury — at 100 TB a
    deployment publishes the sketch columns alone and never sorts."""
    v = load_table(spark, sf_dir, "orders").select(
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents")
    )
    n = v.agg(F.count(F.lit(1)).cast("long").alias("n"))
    h = v.select(
        F.expr(
            f"CAST(least(greatest((cents - {QH_LO}), 0) DIV {QH_WIDTH},"
            f" {QH_BINS - 1}) AS BIGINT)"
        ).alias("b")
    ).groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("c"))
    from pyspark.sql import Window

    cum = h.withColumn(
        "cum", F.sum("c").over(Window.orderBy("b"))
    ).select("b", "cum")
    qs = spark.createDataFrame([(q,) for q in QH_QS], "q int")
    ranks = qs.crossJoin(F.broadcast(n)).select(
        "q", F.expr("CAST((q * n + 99) DIV 100 AS BIGINT)").alias("r")
    )
    est = (
        ranks.join(cum, cum["cum"] >= ranks["r"])
        .groupBy("q", "r")
        .agg(F.min("b").alias("eb"))
    )
    srt = v.withColumn(
        "rn", F.row_number().over(Window.orderBy("cents"))
    )
    exact = est.join(srt, srt["rn"] == est["r"]).select(
        "q", F.col("cents").alias("exact_cents")
    )
    return (
        est.join(exact, "q")
        .crossJoin(F.broadcast(n))
        .select(
            "q",
            "n",
            (F.col("eb") * QH_WIDTH + QH_LO).alias("est_lo_cents"),
            "exact_cents",
            (
                F.col("exact_cents") - (F.col("eb") * QH_WIDTH + QH_LO)
            ).alias("err_cents"),
            F.lit(QH_WIDTH).cast("long").alias("width_cents"),
        )
    )


@query(
    "sketch_quantile_merge",
    oracle=(
        f"WITH v AS (SELECT o_orderstatus AS part, {_D_CENTS} AS cents"
        f"  FROM orders),"
        f" ph AS (SELECT part, CAST({_qh_bin('cents')} AS BIGINT) AS b,"
        f"   CAST(count(*) AS BIGINT) AS c FROM v GROUP BY 1, 2),"
        f" mg AS (SELECT b, CAST(sum(c) AS BIGINT) AS c FROM ph GROUP BY b),"
        f" gh AS (SELECT CAST({_qh_bin('cents')} AS BIGINT) AS b,"
        f"   CAST(count(*) AS BIGINT) AS c FROM v GROUP BY 1),"
        f" pa AS (SELECT part, CAST(sum(c) AS BIGINT) AS mass,"
        f"   CAST(sum(c * (b + 1)) AS BIGINT) AS checksum FROM ph"
        f"  GROUP BY part),"
        f" ma AS (SELECT 'zz_merged' AS part, CAST(sum(c) AS BIGINT) AS mass,"
        f"   CAST(sum(c * (b + 1)) AS BIGINT) AS checksum FROM mg),"
        f" ga AS (SELECT 'zz_global' AS part, CAST(sum(c) AS BIGINT) AS mass,"
        f"   CAST(sum(c * (b + 1)) AS BIGINT) AS checksum FROM gh)"
        f" SELECT part, mass, checksum FROM pa"
        f" UNION ALL SELECT part, mass, checksum FROM ma"
        f" UNION ALL SELECT part, mass, checksum FROM ga"
    ),
)
def q_sketch_quantile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned quantile-histogram sketches + SUM-merge: one
    fixed-bin histogram per order status (per-day/per-shard in
    production), merged by elementwise addition — merged == global
    bin-for-bin BY ALGEBRA, both derivations emitted and hash-proven
    (same contract as sketch_hll_merge / sketch_cms_merge, completing
    the mergeable trio: max-merge distinct, sum-merge frequency,
    sum-merge quantiles). The position-weighted checksum pins every
    bin count."""
    v = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("part"),
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    binned = v.select(
        "part",
        F.expr(
            f"CAST(least(greatest((cents - {QH_LO}), 0) DIV {QH_WIDTH},"
            f" {QH_BINS - 1}) AS BIGINT)"
        ).alias("b"),
    )
    ph = binned.groupBy("part", "b").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    chk = F.sum(F.col("c") * (F.col("b") + 1)).cast("long")
    pa = ph.groupBy("part").agg(
        F.sum("c").cast("long").alias("mass"), chk.alias("checksum")
    )
    mg = ph.groupBy("b").agg(F.sum("c").cast("long").alias("c"))
    ma = mg.agg(
        F.lit("zz_merged").alias("part"),
        F.sum("c").cast("long").alias("mass"),
        chk.alias("checksum"),
    )
    gh = binned.groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("c"))
    ga = gh.agg(
        F.lit("zz_global").alias("part"),
        F.sum("c").cast("long").alias("mass"),
        chk.alias("checksum"),
    )
    return pa.select("part", "mass", "checksum").unionByName(ma).unionByName(ga)


# ------------------------------------------------ streaming HLL upkeep

# Explicit dependency: the streamed twins below register with their
# batch twins' oracles, which live in relational.py — import it so a
# DIRECT import of this module (tests) sees them registered, not just
# the load_all() path whose ordering happens to do it first.
import dist_mapreduce_spark.plans.relational  # noqa: E402,F401

from dist_mapreduce_spark.plans.registry import ORACLES as _ORACLES  # noqa: E402


def _hll_stream_paths(sf_dir: str) -> tuple[str, str, str]:
    """(stage, checkpoint, runs-root) for the streamed HLL — shared by
    the ingest row and the LSM compaction row."""
    import hashlib as _hl
    import os

    from dist_mapreduce_spark.scratch import scratch_root

    scratch = scratch_root()
    tag = _hl.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    return (
        os.path.join(scratch, f"hll_stream_stage_{tag}"),
        os.path.join(scratch, f"hll_stream_ckpt_{tag}"),
        os.path.join(scratch, f"hll_stream_runs_{tag}"),
    )


def _hll_reg_maxima(df: DataFrame) -> DataFrame:
    """Per-slice HLL register maxima (j, max rho) over user ids —
    shared by the streaming sink's micro-batches and lsm_maintain_hll's
    deterministic ingest splits (max is idempotent/associative, so
    max-merged per-slice maxima == the global maxima regardless of how
    the input was split)."""
    from dist_mapreduce_spark.plans.relational import HLL_M, HLL_WBITS

    h = df.select(
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 12), 16, 10
        )
        .cast("bigint")
        .alias("hv")
    ).distinct()
    rho = h.select(
        (F.col("hv") % HLL_M).alias("j"),
        F.when(F.floor(F.col("hv") / HLL_M) == 0, F.lit(HLL_WBITS + 1))
        .otherwise(
            F.lit(HLL_WBITS + 1)
            - F.length(F.bin(F.floor(F.col("hv") / HLL_M).cast("bigint")))
        )
        .alias("r"),
    )
    return rho.groupBy("j").agg(F.max("r").alias("mj"))


def _hll_verdicts(
    spark: SparkSession, stage: str, mx: DataFrame
) -> DataFrame:
    """Estimate + exact audit over the drained register maxima —
    identical for the freshly-drained and the compacted run store."""
    from dist_mapreduce_spark.plans.relational import (
        HLL_ALPHA_NUM,
        HLL_M,
        _hll_est_sql,
        _LN_SPARK,
    )

    allj = spark.range(HLL_M).select(F.col("id").alias("j"))
    fl = allj.join(mx, "j", "left").select(
        "j", F.coalesce(F.col("mj"), F.lit(0)).alias("mj")
    )
    agg = fl.agg(
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 50 - mj)"))
        .cast("long")
        .alias("reg_sum"),
        F.sum(F.when(F.col("mj") == 0, 1).otherwise(0))
        .cast("long")
        .alias("v_zero"),
    ).withColumn("k", F.lit(1))
    ex = (
        read_parquet(spark, stage)
        .agg(F.countDistinct("user_id").cast("long").alias("exact_users"))
        .withColumn("k", F.lit(1))
    )
    raw = f"CAST({HLL_ALPHA_NUM!r} AS DOUBLE) / CAST(reg_sum AS DOUBLE)"
    est_sql = _hll_est_sql(
        raw, "v_zero", f"element_at({_LN_SPARK}, CAST(v_zero AS INT))"
    )
    method_sql = (
        f"CASE WHEN v_zero > 0 AND ({raw}) < {2.5 * HLL_M!r}"
        f" THEN 'linear_counting' ELSE 'raw' END"
    )
    return agg.join(ex, "k").select(
        F.lit(HLL_M).cast("long").alias("m"),
        "reg_sum",
        "v_zero",
        F.expr(est_sql).alias("hll_estimate"),
        F.expr(method_sql).alias("method"),
        "exact_users",
        (
            F.abs(F.expr(est_sql) - F.col("exact_users").cast("double"))
            / F.greatest(F.col("exact_users"), F.lit(1)).cast("double")
        ).alias("rel_err"),
    )


@query("stream_sketch_hll", oracle=_ORACLES["sketch_hll"])
def q_stream_sketch_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING HyperLogLog maintenance — the live form of sketch_hll
    and the third streamed merge-on-read index after
    stream_index_append (cells) and stream_dedup_incremental (min-fold
    fingerprints): events arrive in micro-batches, each batch writes
    its per-register maxima as an ``ingest_batch=<id>`` run with
    dynamic partition overwrite (replay-idempotent), and the live
    sketch is the register-wise MAX over all runs. max is associative,
    commutative and idempotent, so the drained sketch is independent
    of arrival order and replay count — the contract
    test_stream_hll_equals_batch pins by comparing the drained
    registers and estimate BIT-FOR-BIT against the batch sketch_hll
    over the same events. The registered oracle is sketch_hll's
    VERBATIM: drained == batch is bit-exact, so the streamed path
    passes the full value gate like the other streamed twins
    (stream_cdc, stream_index_append, stream_dedup_incremental).

    Scale shape: per micro-batch cost is one narrow (j, max r)
    aggregate over the batch's hashes — ≤ 256 rows written per batch
    regardless of volume; the merge reads only register runs. A year
    of per-day sketches is ~100 KB."""
    import shutil

    from dist_mapreduce_spark.plans.index_commit import (
        lsm_read,
        lsm_write_run,
    )
    from dist_mapreduce_spark.plans.relational import HLL_M, HLL_WBITS

    stage, ckpt, runs = _hll_stream_paths(sf_dir)
    for d in (stage, ckpt, runs):
        shutil.rmtree(d, ignore_errors=True)

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("user_id")
    )
    ev.repartition(3).write.mode("overwrite").parquet(stage)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # Per-batch generation resolution + stream-epoch guard
        # (safe against a concurrent lsm_compact flip).
        lsm_write_run(_hll_reg_maxima(batch_df), runs, batch_id, ckpt=ckpt)

    q = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
        from dist_mapreduce_spark.streaming.windows import (
            capture_stream_plan,
        )

        capture_stream_plan(q, "stream_sketch_hll")
    finally:
        q.stop()

    mx = lsm_read(spark, runs).groupBy("j").agg(F.max("mj").alias("mj"))
    return _hll_verdicts(spark, stage, mx)


@query("lsm_compact_hll", oracle=_ORACLES["sketch_hll"])
def q_lsm_compact_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSM RUN COMPACTION for the streamed HLL — the MAX-fold member
    completing the trio with lsm_compact_dedup (min) and
    lsm_compact_cms (sum): all three streamed fold algebras now carry
    the same maintenance pass. max is idempotent, so this store would
    even tolerate a replayed-batch double-merge — the watermark makes
    that a non-event rather than a lucky property. Fold = the reader's
    own merge (groupBy(j).max), published as a new generation by the
    atomic manifest flip.

    Oracle: sketch_hll's VERBATIM — the estimate off the compacted
    registers must be bit-equal to the batch sketch."""
    from dist_mapreduce_spark.plans.index_commit import (
        lsm_compact,
        lsm_read,
    )

    q_stream_sketch_hll(spark, sf_dir)  # fresh ingest (runs eagerly)
    stage, _ckpt, runs = _hll_stream_paths(sf_dir)
    lsm_compact(
        spark,
        runs,
        lambda df: df.groupBy("j").agg(F.max("mj").alias("mj")),
    )
    mx = lsm_read(spark, runs).groupBy("j").agg(F.max("mj").alias("mj"))
    return _hll_verdicts(spark, stage, mx)


# ---------------------------------------------- distribution drift audit

#: Drift histogram: coarser than the quantile sketch (20 bins) so the
#: per-bin audit table stays eyeball-sized; same fixed literal range.
DRIFT_BINS = 20
DRIFT_WIDTH = (QH_HI - QH_LO) // DRIFT_BINS
#: Deterministic cohort split: orders before vs since this date.
DRIFT_CUT = "1998-01-01"


@query(
    "dq_distribution_drift",
    oracle=(
        f"WITH v AS (SELECT"
        f"  CAST(least(greatest(({_D_CENTS} - {QH_LO}), 0) // {DRIFT_WIDTH},"
        f"   {DRIFT_BINS - 1}) AS BIGINT) AS b,"
        f"  (o_orderdate < TIMESTAMP '{DRIFT_CUT}') AS is_a FROM orders),"
        f" h AS (SELECT b,"
        f"  CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,"
        f"  CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b"
        f"  FROM v GROUP BY b),"
        f" tot AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta,"
        f"  CAST(sum(n_b) AS BIGINT) AS tb FROM h),"
        f" sh AS (SELECT b, n_a, n_b,"
        f"  CAST(n_a * 1000000 // greatest(ta, 1) AS BIGINT) AS share_a_ppm,"
        f"  CAST(n_b * 1000000 // greatest(tb, 1) AS BIGINT) AS share_b_ppm"
        f"  FROM h, tot)"
        f" SELECT b, n_a, n_b, share_a_ppm, share_b_ppm,"
        f"  abs(share_a_ppm - share_b_ppm) AS drift_ppm FROM sh"
        f" UNION ALL"
        f" SELECT CAST(-1 AS BIGINT) AS b, CAST(sum(n_a) AS BIGINT),"
        f"  CAST(sum(n_b) AS BIGINT),"
        f"  CAST(1000000 AS BIGINT), CAST(1000000 AS BIGINT),"
        f"  CAST(sum(abs(share_a_ppm - share_b_ppm)) // 2 AS BIGINT)"
        f" FROM sh"
    ),
)
def q_dq_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift audit between two deterministic time cohorts
    (orders before vs since {DRIFT_CUT}) over the fixed-bin order-value
    histogram: per bin, both cohorts' counts and exact ppm shares plus
    the share delta, and a summary row (b = −1) carrying the TOTAL
    VARIATION distance in ppm (Σ|Δ|/2 — the standard drift gate
    metric, exact integers instead of a libm-dependent KL/PSI, so both
    engines agree bit-for-bit). This is the monitoring table a
    pipeline computes per ingest batch against the trailing window:
    TV above threshold blocks the batch for review — the dq family's
    (dq_expectations) temporal complement.

    Scale shape: one scan binned map-side into ≤ DRIFT_BINS rows per
    cohort flag, one tiny aggregate — scan-bound at any scale, and the
    per-cohort histograms are exactly the mergeable sketch rows
    sketch_quantile_merge persists, so in production the drift audit
    reads two stored sketches and never re-scans either cohort."""
    v = load_table(spark, sf_dir, "orders").select(
        F.expr(
            f"CAST(least(greatest(((CAST(CAST(o_totalprice AS DECIMAL(12,2))"
            f" * 100 AS BIGINT)) - {QH_LO}), 0) DIV {DRIFT_WIDTH},"
            f" {DRIFT_BINS - 1}) AS BIGINT)"
        ).alias("b"),
        (F.col("o_orderdate") < F.lit(DRIFT_CUT).cast("timestamp_ntz")).alias(
            "is_a"
        ),
    )
    h = v.groupBy("b").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("is_a"), 0).otherwise(1)).cast("long").alias("n_b"),
    )
    tot = h.agg(
        F.sum("n_a").cast("long").alias("ta"), F.sum("n_b").cast("long").alias("tb")
    )
    sh = h.crossJoin(F.broadcast(tot)).select(
        "b",
        "n_a",
        "n_b",
        F.expr("n_a * 1000000 DIV greatest(ta, 1)").alias("share_a_ppm"),
        F.expr("n_b * 1000000 DIV greatest(tb, 1)").alias("share_b_ppm"),
    )
    per_bin = sh.select(
        "b",
        "n_a",
        "n_b",
        "share_a_ppm",
        "share_b_ppm",
        F.abs(F.col("share_a_ppm") - F.col("share_b_ppm")).alias("drift_ppm"),
    )
    total = sh.agg(
        F.lit(-1).cast("long").alias("b"),
        F.sum("n_a").cast("long").alias("n_a"),
        F.sum("n_b").cast("long").alias("n_b"),
        F.lit(1000000).cast("long").alias("share_a_ppm"),
        F.lit(1000000).cast("long").alias("share_b_ppm"),
        F.expr(
            "CAST(sum(abs(share_a_ppm - share_b_ppm)) DIV 2 AS BIGINT)"
        ).alias("drift_ppm"),
    )
    return per_bin.unionByName(total)


# ------------------------------------------------ streaming CMS upkeep


def _cms_stream_paths(sf_dir: str) -> tuple[str, str, str]:
    """(stage, checkpoint, runs-root) for the streamed CMS — shared by
    the ingest row and the LSM compaction row."""
    import hashlib as _hl
    import os

    from dist_mapreduce_spark.scratch import scratch_root

    scratch = scratch_root()
    tag = _hl.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    return (
        os.path.join(scratch, f"cms_stream_stage_{tag}"),
        os.path.join(scratch, f"cms_stream_ckpt_{tag}"),
        os.path.join(scratch, f"cms_stream_runs_{tag}"),
    )


def _cms_verdicts(
    spark: SparkSession, stage: str, cnt: DataFrame
) -> DataFrame:
    """Probe/exact audit over the drained counters — identical for the
    freshly-drained and the compacted run store (that identity IS
    lsm_compact_cms's proof)."""
    ds = spark.range(CMS_D).select(F.col("id").cast("int").alias("d"))
    staged = read_parquet(spark, stage)
    n = staged.agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    probes = (
        staged.filter(F.col("user_id") < CMS_PROBES)
        .select(F.col("user_id").alias("probe"))
        .distinct()
    )
    est = (
        probes.crossJoin(F.broadcast(ds))
        .withColumn("w", F.expr(_cms_hash_spark("d", "probe")))
        .join(cnt, ["d", "w"])
        .groupBy("probe")
        .agg(F.min("c").alias("cms_est"))
    )
    ex = (
        staged.filter(F.col("user_id") < CMS_PROBES)
        .groupBy(F.col("user_id").alias("probe"))
        .agg(F.count(F.lit(1)).cast("long").alias("exact_cnt"))
    )
    return (
        est.join(ex, "probe")
        .crossJoin(F.broadcast(n))
        .select(
            "probe",
            "exact_cnt",
            "cms_est",
            (F.col("cms_est") - F.col("exact_cnt")).alias("overestimate"),
            "n_events",
            (
                (F.col("cms_est") - F.col("exact_cnt")).cast("double")
                / F.col("n_events").cast("double")
            ).alias("over_frac"),
        )
    )


@query("stream_sketch_cms", oracle=_ORACLES["sketch_cms"])
def q_stream_sketch_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Count-Min maintenance — the fourth streamed
    merge-on-read artifact, and the one that proves the run-directory
    pattern handles NON-IDEMPOTENT folds: unlike set-union (cells),
    min (fingerprints) and max (HLL registers), CMS counters SUM —
    naively replaying a crashed micro-batch would double-count. The
    per-batch dynamic-overwrite run directory is what restores
    exactly-once: a replayed batch REWRITES its own
    ``ingest_batch=<id>`` partial counters instead of adding to them,
    so the drained elementwise sum over runs equals the batch sketch
    regardless of crash/replay history (pinned by the kill-resume
    test). The registered oracle is sketch_cms's VERBATIM — the
    drained counters feed the same probe/exact audit and the values
    are bit-equal.

    Scale shape: per micro-batch cost is one (d, w) count aggregate —
    ≤ 1 024 rows written per batch regardless of volume; the merge and
    the probe reads touch only counter rows."""
    import shutil

    from dist_mapreduce_spark.plans.index_commit import (
        lsm_read,
        lsm_write_run,
    )

    stage, ckpt, runs = _cms_stream_paths(sf_dir)
    for d in (stage, ckpt, runs):
        shutil.rmtree(d, ignore_errors=True)

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("user_id")
    )
    ev.repartition(3).write.mode("overwrite").parquet(stage)
    ds = spark.range(CMS_D).select(F.col("id").cast("int").alias("d"))

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # Per-batch generation resolution + stream-epoch guard: the
        # SUM fold is the non-idempotent one, so a run lost to a
        # mid-stream compaction flip (or a ghost-dropped fresh-epoch
        # batch) is a silent undercount — exactly what lsm_write_run
        # closes.
        lsm_write_run(
            batch_df.crossJoin(F.broadcast(ds))
            .select("d", F.expr(_cms_hash_spark("d", "user_id")).alias("w"))
            .groupBy("d", "w")
            .agg(F.count(F.lit(1)).cast("long").alias("c")),
            runs,
            batch_id,
            ckpt=ckpt,
        )

    q = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
        from dist_mapreduce_spark.streaming.windows import (
            capture_stream_plan,
        )

        capture_stream_plan(q, "stream_sketch_cms")
    finally:
        q.stop()

    cnt = (
        lsm_read(spark, runs)
        .groupBy("d", "w")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    return _cms_verdicts(spark, stage, cnt)


@query("lsm_compact_cms", oracle=_ORACLES["sketch_cms"])
def q_lsm_compact_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSM RUN COMPACTION for the streamed CMS — the SUM-fold case,
    which is the one that genuinely needs the manifest watermark
    (round-13 verdict item #3): counters are NOT idempotent, so a
    micro-batch replayed after its partial counters were folded into
    the base would double-count unless readers skip runs at or below
    folded_through — which lsm_read does. The fold itself is the
    reader's own merge (groupBy(d, w).sum — associative composition,
    content-invariant by construction), published as a new generation
    with the atomic manifest flip; a crash mid-compact leaves the old
    run set current.

    Oracle: sketch_cms's VERBATIM — the probe/exact audit off the
    compacted store must be bit-equal to the batch sketch, exactly the
    contract the un-compacted stream row passes. Run-count collapse,
    crash-mid-compact, and replay-after-compact idempotence are
    pytest-pinned.

    Scale shape: the fold reads ≤ d·w counter rows per run (≤ 1 024
    per batch) — a year of minutely batches folds ~500M narrow rows,
    one cheap aggregate, off-peak."""
    from dist_mapreduce_spark.plans.index_commit import (
        lsm_compact,
        lsm_read,
    )

    q_stream_sketch_cms(spark, sf_dir)  # fresh ingest (runs eagerly)
    stage, _ckpt, runs = _cms_stream_paths(sf_dir)
    lsm_compact(
        spark,
        runs,
        lambda df: df.groupBy("d", "w").agg(
            F.sum("c").cast("long").alias("c")
        ),
    )
    cnt = (
        lsm_read(spark, runs)
        .groupBy("d", "w")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    return _cms_verdicts(spark, stage, cnt)


# ---------------------- LSM maintenance policy, SUM fold (round 14)


def _cms_maintain_paths(sf_dir: str) -> tuple[str, str]:
    """(stage, runs-root) for the CMS maintenance-policy row — its own
    store, never racing the streaming row's."""
    import hashlib as _hl
    import os as _os

    from dist_mapreduce_spark.scratch import scratch_root

    tag = _hl.md5(_os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    return (
        _os.path.join(scratch_root(), f"cms_maint_stage_{tag}"),
        _os.path.join(scratch_root(), f"cms_maint_runs_{tag}"),
    )


#: Compact when MORE than this many unfolded runs are live (shared
#: with llm_pipeline.LSM_MAINTAIN_RUNS in spirit; redefined here to
#: keep the module import-independent).
CMS_MAINTAIN_RUNS = 1
CMS_MAINT_SPLIT = 3


@query(
    "lsm_maintain_cms",
    oracle=(
        f"WITH verd AS ({_ORACLES['sketch_cms']}),"
        f" nrun AS (SELECT CAST(count(DISTINCT user_id % {CMS_MAINT_SPLIT})"
        f"  AS BIGINT) AS n FROM events WHERE user_id IS NOT NULL),"
        f" mdec AS (SELECT CASE WHEN n > {CMS_MAINTAIN_RUNS}"
        f"  THEN 'compact' ELSE 'keep' END AS d FROM nrun)"
        f" SELECT v.*, 'compact' AS decision FROM verd v"
        f"  WHERE (SELECT d FROM mdec) = 'compact'"
        f" UNION ALL"
        f" SELECT v.*, 'keep' AS decision FROM verd v"
        f"  WHERE (SELECT d FROM mdec) = 'keep'"
    ),
)
def q_lsm_maintain_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lsm_maintain's policy applied to the SUM-fold (NON-idempotent)
    counter store — the algebra where a wrong maintenance pass is a
    silent DOUBLE COUNT rather than a harmless re-min: read the
    live-run count, compact above CMS_MAINTAIN_RUNS (fold = the
    reader's own groupBy(d,w).sum, published with the folded_through
    watermark so replays of folded batches stay ignored), no-op
    below. The ingest split is the SQL-derivable user_id %
    CMS_MAINT_SPLIT, so the ORACLE re-derives the run count the
    policy reads and guards sketch_cms's probe/exact verdicts with
    the same decision on both engines.

    Scale shape: the statistic is one directory listing; each run is
    a ≤ 1 024-row counter frame; the compact arm folds counter rows
    only (never events)."""
    import shutil

    from dist_mapreduce_spark.plans.index_commit import (
        lsm_compact,
        lsm_live_runs,
        lsm_read,
        lsm_write_run,
    )

    stage, runs = _cms_maintain_paths(sf_dir)
    for d in (stage, runs):
        shutil.rmtree(d, ignore_errors=True)
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("user_id")
    )
    ev.write.mode("overwrite").parquet(stage)
    staged = read_parquet(spark, stage)
    ds = spark.range(CMS_D).select(F.col("id").cast("int").alias("d"))
    for b in range(CMS_MAINT_SPLIT):
        lsm_write_run(
            staged.filter(F.col("user_id") % CMS_MAINT_SPLIT == b)
            .crossJoin(F.broadcast(ds))
            .select("d", F.expr(_cms_hash_spark("d", "user_id")).alias("w"))
            .groupBy("d", "w")
            .agg(F.count(F.lit(1)).cast("long").alias("c")),
            runs,
            b,
        )
    real = [b for b in lsm_live_runs(runs) if b >= 0]
    decision = "compact" if len(real) > CMS_MAINTAIN_RUNS else "keep"
    if decision == "compact":
        lsm_compact(
            spark,
            runs,
            lambda df: df.groupBy("d", "w").agg(
                F.sum("c").cast("long").alias("c")
            ),
        )
    cnt = (
        lsm_read(spark, runs)
        .groupBy("d", "w")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    return _cms_verdicts(spark, stage, cnt).withColumn(
        "decision", F.lit(decision)
    )


def _hll_maintain_paths(sf_dir: str) -> tuple[str, str]:
    """(stage, runs-root) for the HLL maintenance-policy row."""
    import hashlib as _hl
    import os as _os

    from dist_mapreduce_spark.scratch import scratch_root

    tag = _hl.md5(_os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    return (
        _os.path.join(scratch_root(), f"hll_maint_stage_{tag}"),
        _os.path.join(scratch_root(), f"hll_maint_runs_{tag}"),
    )


@query(
    "lsm_maintain_hll",
    oracle=(
        f"WITH verd AS ({_ORACLES['sketch_hll']}),"
        f" nrun AS (SELECT CAST(count(DISTINCT user_id % {CMS_MAINT_SPLIT})"
        f"  AS BIGINT) AS n FROM events WHERE user_id IS NOT NULL),"
        f" mdec AS (SELECT CASE WHEN n > {CMS_MAINTAIN_RUNS}"
        f"  THEN 'compact' ELSE 'keep' END AS d FROM nrun)"
        f" SELECT v.*, 'compact' AS decision FROM verd v"
        f"  WHERE (SELECT d FROM mdec) = 'compact'"
        f" UNION ALL"
        f" SELECT v.*, 'keep' AS decision FROM verd v"
        f"  WHERE (SELECT d FROM mdec) = 'keep'"
    ),
)
def q_lsm_maintain_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MAX-fold member completing the maintenance-policy trio with
    lsm_maintain (min) and lsm_maintain_cms (sum): all three streamed
    fold algebras now carry the monitor-then-act pass, not just the
    manual compaction. max is idempotent, so this store tolerates even
    a double-fold — the policy's value here is cost (bounding the
    merge-on-read run count), and the oracle holds the estimate row
    bit-equal through whichever arm the run count picks, with the
    SQL-derivable user_id % split making the decision replayable on
    both engines."""
    import shutil

    from dist_mapreduce_spark.plans.index_commit import (
        lsm_compact,
        lsm_live_runs,
        lsm_read,
        lsm_write_run,
    )

    stage, runs = _hll_maintain_paths(sf_dir)
    for d in (stage, runs):
        shutil.rmtree(d, ignore_errors=True)
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("user_id")
    )
    ev.write.mode("overwrite").parquet(stage)
    staged = read_parquet(spark, stage)
    for b in range(CMS_MAINT_SPLIT):
        lsm_write_run(
            _hll_reg_maxima(
                staged.filter(F.col("user_id") % CMS_MAINT_SPLIT == b)
            ),
            runs,
            b,
        )
    real = [b for b in lsm_live_runs(runs) if b >= 0]
    decision = "compact" if len(real) > CMS_MAINTAIN_RUNS else "keep"
    if decision == "compact":
        lsm_compact(
            spark,
            runs,
            lambda df: df.groupBy("j").agg(F.max("mj").alias("mj")),
        )
    mx = lsm_read(spark, runs).groupBy("j").agg(F.max("mj").alias("mj"))
    return _hll_verdicts(spark, stage, mx).withColumn(
        "decision", F.lit(decision)
    )
