"""Job façade lifecycle (SURVEY.md §2.13) + source/sink roundtrips
(§2.1: the connector surface the reference lacks — parquet, csv, json,
text — all built into Spark)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def corpus(tmp_path):
    # The reference's demo corpus as real text files
    # (/root/reference/data/input/test{1,2,3}.txt).
    (tmp_path / "test1.txt").write_text("Hello world hello")
    (tmp_path / "test2.txt").write_text("World map reduce")
    (tmp_path / "test3.txt").write_text("New job test")
    return tmp_path


def test_job_lifecycle(spark, corpus, tmp_path):
    from dist_mapreduce_spark.api import COMPLETED, JobRunner

    runner = JobRunner(spark)
    job_id = runner.submit_job(
        [str(corpus / f"test{i}.txt") for i in (1, 2, 3)],
        n_reduce=2,
        output_dir=str(tmp_path / "out"),
    )
    st = runner.wait(job_id)
    assert st["status"] == COMPLETED and st["files_count"] == 3
    lines = sorted(r["value"] for r in spark.read.text(st["output_dir"]).collect())
    # Golden from FIXTURES.md §1.1 (case-sensitive counts, all 1).
    assert lines == sorted(
        f"{w} 1" for w in
        ["Hello", "New", "World", "hello", "job", "map", "reduce", "test", "world"]
    )
    assert runner.health() == {"status": "ok"}


def test_job_validation(spark):
    from dist_mapreduce_spark.api import JobRunner

    runner = JobRunner(spark)
    with pytest.raises(ValueError):
        runner.submit_job([])
    with pytest.raises(ValueError):
        runner.submit_job(["f"], n_reduce=0)
    with pytest.raises(KeyError):
        runner.job_status(999)


def test_http_facade_loopback(spark, corpus, tmp_path):
    """Exercise the literal REST contract (reference server.go:50-135)
    over a loopback socket: submit → poll → health, plus the 4xx paths."""
    import json
    import urllib.error
    import urllib.request

    from dist_mapreduce_spark.api import COMPLETED, JobRunner
    from dist_mapreduce_spark.http_api import ApiServer

    runner = JobRunner(spark)
    srv = ApiServer(runner).start()
    base = f"http://127.0.0.1:{srv.port}"
    try:
        body = json.dumps(
            {"files": [str(corpus / f"test{i}.txt") for i in (1, 2, 3)], "nReduce": 2}
        ).encode()
        req = urllib.request.Request(f"{base}/jobs", data=body, method="POST")
        with urllib.request.urlopen(req) as resp:
            job_id = json.loads(resp.read())["id"]
        runner.wait(job_id)
        with urllib.request.urlopen(f"{base}/jobs/{job_id}") as resp:
            st = json.loads(resp.read())
        assert st == {
            "id": job_id,
            "status": COMPLETED,
            "files_count": 3,
            "map_tasks_completed": 3,
            "reduce_tasks_completed": 2,
        }
        with urllib.request.urlopen(f"{base}/health") as resp:
            assert resp.read() == b"OK"
        # 400 on bad params (server.go:62-65), 404 on unknown job.
        bad = urllib.request.Request(
            f"{base}/jobs", data=b'{"files": [], "nReduce": 2}', method="POST"
        )
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(bad)
        assert ei.value.code == 400
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(f"{base}/jobs/9999")
        assert ei.value.code == 404
        # 400 on nReduce <= 0 (server.go:62-65) and non-integer id.
        bad_n = urllib.request.Request(
            f"{base}/jobs", data=b'{"files": ["f"], "nReduce": 0}', method="POST"
        )
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(bad_n)
        assert ei.value.code == 400
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(f"{base}/jobs/abc")
        assert ei.value.code == 400
        # Method mismatches on known routes are 405 Method Not Allowed
        # (server.go:51-54, 76-79), not 404.
        for url, method in (
            (f"{base}/jobs", "GET"),
            (f"{base}/jobs", "DELETE"),
            (f"{base}/jobs/{job_id}", "DELETE"),
            (f"{base}/jobs/{job_id}", "POST"),
        ):
            with pytest.raises(urllib.error.HTTPError) as ei:
                urllib.request.urlopen(urllib.request.Request(url, method=method))
            assert ei.value.code == 405, (url, method)
        # Unknown paths stay 404.
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(f"{base}/nope")
        assert ei.value.code == 404
    finally:
        srv.stop()


def test_job_failure_surfaces(spark):
    from dist_mapreduce_spark.api import FAILED, JobRunner

    runner = JobRunner(spark)
    job_id = runner.submit_job(["/nonexistent/nowhere.txt"], n_reduce=1)
    st = runner.wait(job_id)
    assert st["status"] == FAILED and st["error"]


@pytest.mark.parametrize("fmt", ["parquet", "csv", "json", "orc"])
def test_sink_roundtrip(spark, tmp_path, fmt, demo_docs):
    from dist_mapreduce_spark.operators.wordcount import word_count

    counts = word_count(demo_docs)
    out = str(tmp_path / fmt)
    writer = counts.write.mode("overwrite")
    if fmt == "csv":
        writer.option("header", True).csv(out)
        back = spark.read.option("header", True).option("inferSchema", True).csv(out)
    else:
        getattr(writer, fmt)(out)
        back = getattr(spark.read, fmt)(out)
    got = {(r["word"], int(r["cnt"])) for r in back.collect()}
    want = {(r["word"], r["cnt"]) for r in counts.collect()}
    assert got == want


def test_partitioned_parquet_sink_prunes(spark, tmp_path):
    """Partition-by on write → partition pruning on read: the scan of
    one partition must not list the others (the layout that makes
    100 TB tables queryable)."""
    from dist_mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = str(tmp_path / "bylang")
    docs.write.mode("overwrite").partitionBy("lang").parquet(out)
    back = spark.read.parquet(out).filter(F.col("lang") == "de")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert back.count() == docs.filter(F.col("lang") == "de").count()
    assert "PartitionFilters: [isnotnull(lang" in plan


def test_connector_builders_construct(spark):
    """Connector wiring is valid construction-wise; execution needs a
    cluster runtime (no broker/driver jar here — errors only at load)."""
    from dist_mapreduce_spark.sources.connectors import (
        jdbc_table,
        kafka_sink,
        kafka_stream,
    )

    r = kafka_stream(spark, "broker:9092", "events", min_partitions=64)
    assert r is not None
    j = jdbc_table(
        spark, "jdbc:postgresql://db/x", "orders", "o_orderkey", 0, 10**9
    )
    assert j is not None
    df = spark.createDataFrame([("k", "v")], "key string, value string")
    # writeStream on a batch frame raises; use a readStream frame shape
    # check instead: the sink builder is exercised on a streaming frame.
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "1").load()
        .selectExpr("CAST(value AS STRING) AS value")
    )
    s = kafka_sink(stream, "broker:9092", "out", "/tmp/ckpt")
    assert s is not None


def _jobs_started(spark, fn):
    """(fn(), number of Spark jobs fn started): fn runs under a fresh
    job group, the listener bus is drained, and the group's job ids are
    counted from statusTracker."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs_started_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_read_parquet_reuses_schema_without_a_job(spark, tmp_path):
    """The first read of a path infers its schema (a footer-read job);
    a second read of the unchanged files starts no job at all and
    returns the same schema and rows."""
    from dist_mapreduce_spark.sources.tables import read_parquet

    path = str(tmp_path / "t")
    spark.range(50).selectExpr("id", "id * 2 AS v").write.parquet(path)
    first, n_first = _jobs_started(spark, lambda: read_parquet(spark, path))
    again, n_again = _jobs_started(spark, lambda: read_parquet(spark, path))
    assert n_first >= 1, "the inferring read should start the footer job"
    assert n_again == 0
    assert again.schema == first.schema == spark.read.parquet(path).schema
    assert sorted(again.collect()) == sorted(first.collect())


def test_read_parquet_sees_overwrite_with_new_columns(spark, tmp_path):
    from dist_mapreduce_spark.sources.tables import read_parquet

    path = str(tmp_path / "t")
    spark.range(3).selectExpr("id AS a").write.parquet(path)
    assert read_parquet(spark, path).columns == ["a"]
    spark.range(3).selectExpr("CAST(id AS STRING) AS b", "id AS c").write.mode(
        "overwrite"
    ).parquet(path)
    back = read_parquet(spark, path)
    assert back.columns == ["b", "c"]
    assert sorted((r.b, r.c) for r in back.collect()) == [
        ("0", 0), ("1", 1), ("2", 2),
    ]


def test_read_parquet_refingerprints_added_part_file(spark, tmp_path):
    """A directory that gains a part file gets a new digest: the next
    read infers again, replaces the path's one memo entry and reads
    every row."""
    from dist_mapreduce_spark.sources import tables as T

    path = str(tmp_path / "t")
    spark.range(10).write.parquet(path)
    T.read_parquet(spark, path)
    d1 = T._SCHEMAS[path][0]
    spark.range(10, 15).write.mode("append").parquet(path)
    back, n_jobs = _jobs_started(spark, lambda: T.read_parquet(spark, path))
    assert n_jobs >= 1
    assert T._SCHEMAS[path][0] == T.stat_digest([path]) != d1
    assert back.count() == 15


def test_ivf_serving_after_build_does_not_retrain(spark):
    """The build reads the corpus with an inferred schema, serving with
    the remembered one: both frames fingerprint alike, so serving hits
    the trained-quantizer memo instead of training again."""
    from dist_mapreduce_spark.plans import similarity as S
    from dist_mapreduce_spark.plans.ann_index import (
        q_sim_index_build,
        q_sim_topk_ivf_pruned,
    )
    from dist_mapreduce_spark.sources import tables as T
    from tests.conftest import SF_SMOKE

    emb_path = f"{SF_SMOKE}/embeddings.parquet"
    T._SCHEMAS.pop(emb_path, None)
    inferred = T.load_table(spark, SF_SMOKE, "embeddings")
    remembered = T.load_table(spark, SF_SMOKE, "embeddings")
    assert S._frame_fingerprint(inferred) == S._frame_fingerprint(remembered)

    T._SCHEMAS.pop(emb_path, None)
    assert q_sim_index_build(spark, SF_SMOKE).collect()
    n_memo = len(S._TRAINED_MEMO)
    assert q_sim_topk_ivf_pruned(spark, SF_SMOKE).collect()
    assert len(S._TRAINED_MEMO) == n_memo
