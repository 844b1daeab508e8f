"""Deterministic sampling + k-means tests (plans/iterative.py)."""

from __future__ import annotations

from tests.conftest import SF_SMOKE as SF


def _q(name):
    import __spark_entry__ as e

    return e.queries()[name]


def test_sample_is_reproducible_and_sane(spark):
    a = sorted(r["o_orderkey"] for r in _q("sample_deterministic")(spark, SF).collect())
    b = sorted(r["o_orderkey"] for r in _q("sample_deterministic")(spark, SF).collect())
    assert a == b
    from dist_mapreduce_spark.sources.tables import load_table

    total = load_table(spark, SF, "orders").count()
    # ~10% with hash-uniform slack.
    assert 0.05 * total < len(a) < 0.15 * total


def test_kmeans_deterministic_and_total(spark):
    from dist_mapreduce_spark.sources.tables import load_table

    run1 = sorted(map(tuple, _q("kmeans_embeddings")(spark, SF).collect()))
    run2 = sorted(map(tuple, _q("kmeans_embeddings")(spark, SF).collect()))
    assert run1 == run2
    total = load_table(spark, SF, "embeddings").count()
    assert sum(r[1] for r in run1) == total
    # All centroids non-degenerate: integer squared norm is positive
    # (centroid_sum may legitimately be negative — coords are signed).
    assert all(r[3] > 0 for r in run1)


def _write_supplier(tmp_path, name, keys_by_nation):
    """A tmp-dir sf directory holding only a ``supplier`` table with
    the two columns graph_components reads."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [(k, n) for n, keys in keys_by_nation.items() for k in keys]
    sf_dir = tmp_path / name
    sf_dir.mkdir()
    pq.write_table(
        pa.table(
            {
                "s_suppkey": pa.array([k for k, _ in rows], pa.int64()),
                "s_nationkey": pa.array([n for _, n in rows], pa.int32()),
            }
        ),
        str(sf_dir / "supplier.parquet"),
    )
    return str(sf_dir)


def test_graph_components_match_nations(spark, tmp_path):
    """Label propagation must converge to the nation partition (the
    synthetic per-nation trees are the true components) — on the
    sf0.001 tables and on three edge cases: a nation whose only supplier
    has no edges (it must label itself), a nation of several thousand
    suppliers (a tree deep enough to reach the pointer-jump rounds),
    and an empty table (zero rows)."""
    import random

    from dist_mapreduce_spark.sources.tables import load_table

    big = random.Random(7).sample(range(10, 100_000), 4000)
    inputs = [
        (SF, None),
        (_write_supplier(tmp_path, "edge", {0: [5], 1: big, 2: [3, 9, 1]}), 3),
        (_write_supplier(tmp_path, "empty", {}), 0),
    ]
    for sf_dir, n_components in inputs:
        got = {
            r["node"]: r["component"]
            for r in _q("graph_components")(spark, sf_dir).collect()
        }
        s = load_table(spark, sf_dir, "supplier")
        rows = s.select("s_suppkey", "s_nationkey").collect()
        want_min = {}
        for r in rows:
            k = r["s_nationkey"]
            want_min[k] = min(want_min.get(k, r["s_suppkey"]), r["s_suppkey"])
        want = {r["s_suppkey"]: want_min[r["s_nationkey"]] for r in rows}
        assert got == want, sf_dir
        if n_components is not None:
            assert len(set(got.values())) == n_components, sf_dir


def test_sample_temperature_keeps_rarest_lang_fully(spark):
    from dist_mapreduce_spark.sources.tables import load_table

    kept = _q("sample_temperature")(spark, SF).groupBy("lang").count().collect()
    kept_by_lang = {r["lang"]: r["count"] for r in kept}
    totals = {
        r["lang"]: r["count"]
        for r in load_table(spark, SF, "documents").groupBy("lang").count().collect()
    }
    n_min = min(totals.values())
    # The rarest language is kept at 100%; no language gains documents.
    for lang, n in totals.items():
        assert kept_by_lang.get(lang, 0) <= n
        if n == n_min:
            assert kept_by_lang[lang] == n
    # Acceptance RATE is monotone non-increasing in language size.
    import math

    for lang, n in totals.items():
        expected = math.floor(math.sqrt(n_min / n) * 1_000_000) / 1_000_000
        rate = kept_by_lang.get(lang, 0) / n
        assert abs(rate - expected) < 0.25  # hash-uniform slack on small SF


def test_agg_salted_equals_plain_groupby(spark):
    from pyspark.sql import functions as F

    from dist_mapreduce_spark.sources.tables import load_table

    salted = {
        r["l_suppkey"]: (r["sum_value"], r["n_rows"])
        for r in _q("agg_salted")(spark, SF).collect()
    }
    plain = {
        r["l_suppkey"]: (float(r["s"]), r["n"])
        for r in load_table(spark, SF, "lineitem")
        .groupBy("l_suppkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    assert salted == plain


def test_pagerank_symmetry_mass_and_determinism(spark, monkeypatch):
    """On part 1 ↔ suppliers {1,2}: supplier nodes are symmetric so
    their ranks must be EXACTLY equal; the hub part node outranks them;
    total fixed-point mass stays within N ulps of PR_SCALE (floor
    divisions only ever drop mass); and a rerun is bit-identical."""
    import dist_mapreduce_spark.plans.iterative as it

    li = spark.createDataFrame(
        [(1, 1), (1, 2), (1, 1)], "l_partkey long, l_suppkey long"
    )
    monkeypatch.setattr(it, "load_table", lambda s, d, t: li)
    q = _q("graph_pagerank")
    rows = {r["node"]: r["rank_fp"] for r in q(spark, SF).collect()}
    part, s1, s2 = rows[2], rows[3], rows[5]
    assert s1 == s2
    assert part > s1
    assert 0 < it.PR_SCALE - (part + s1 + s2) < 100 * (it.PR_ITERS + 1)
    assert {r["node"]: r["rank_fp"] for r in q(spark, SF).collect()} == rows
