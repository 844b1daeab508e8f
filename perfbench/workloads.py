"""The benchmark's workloads, and how one op of each is run and checked.

An op is one unit of work a user asks for:

- query workloads (``relational``, ``dedup``, ``ann``): one registry
  query call plus a full-evaluation action, a row count and an
  order-insensitive hash of every output column;
- ``wordcount_jobs``: one ``POST /jobs`` to the HTTP façade, then
  ``GET /jobs/{id}`` polls until the job reaches a terminal state.

Every query op's count and hash are compared with values verified
once per run against the query's DuckDB oracle; every word-count job's
output files are compared with the exact counts of its input files.
"""

from __future__ import annotations

import json
import os
import time
import urllib.request
from collections import Counter
from dataclasses import dataclass, field

#: Type floating-point output is cast to before it is hashed: sums of
#: doubles may differ in their last bits between runs, because Spark
#: merges partial aggregates in task-completion order.
FLOAT_HASH_TYPE = "float"

#: Seconds between two status polls of one word-count job, and the
#: longest a job may take before it counts as failed.
POLL_S = 0.02
JOB_TIMEOUT_S = 60.0
N_REDUCE = 4
#: Files per word-count job; a pass submits one job per group.
WC_FILES_PER_JOB = 2


@dataclass
class Workload:
    name: str
    ops: list[str]
    #: Scale factor of the generated star schema the ops read.
    sf: float
    #: Nominal seconds of one pass on a 4-core host: ``--seconds``
    #: buys round(seconds / pass_s) whole passes, so every run of a
    #: workload times the same number of ops of each kind.
    pass_s: float
    #: Ops run once, cold, right after set-up; their time is
    #: ``index_build_s``, outside the timed passes.
    cold: list[str] = field(default_factory=list)
    kind: str = "query"


#: Why each workload exists is in README.md and BENCHMARK.json.
WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "relational",
            ["tpch_q1", "tpch_q3", "tpch_q6", "tpch_q18", "join_inner",
             "join_broadcast", "window_topk", "rollup_agg", "agg_window_tumbling"],
            sf=0.05,
            pass_s=6.0,
        ),
        Workload(
            "dedup",
            ["tokenize", "dedup_exact", "dedup_minhash", "dedup_cluster",
             "text_stats", "sample_temperature"],
            sf=0.05,
            pass_s=8.0,
        ),
        Workload(
            "ann",
            ["sim_topk_ivf_pruned", "sim_topk_bruteforce", "sim_topk_pq"],
            sf=0.01,
            pass_s=3.0,
            cold=["sim_index_build"],
        ),
        Workload(
            "wordcount_jobs",
            [],
            sf=0.0,
            pass_s=2.0,
            kind="http",
        ),
    )
}


# ---------------------------------------------------------- query ops

def _hash_col(df):
    """xxhash64 over every output column, floats rounded to single
    precision first (see FLOAT_HASH_TYPE)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, DoubleType, FloatType

    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        t = f.dataType
        if isinstance(t, (DoubleType, FloatType)):
            c = c.cast(FLOAT_HASH_TYPE)
        elif isinstance(t, ArrayType) and isinstance(t.elementType, (DoubleType, FloatType)):
            c = F.transform(c, lambda x: x.cast(FLOAT_HASH_TYPE))
        cols.append(c)
    return F.xxhash64(*cols) if cols else F.lit(0).cast("long")


def full_eval(df) -> tuple[int, int]:
    """(row count, order-insensitive hash of all columns) in one
    action; every output column is evaluated."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_hash_col(df).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def collect_with_hash(df):
    """(pandas frame of the output, row count, hash) in one action —
    the hash equals what ``full_eval`` computes."""
    pdf = df.select(*[f"`{c}`" for c in df.columns], _hash_col(df).alias("__h")).toPandas()
    h = sum(int(x) for x in pdf["__h"])
    return pdf.drop(columns=["__h"]), len(pdf), h


class Oracle:
    """DuckDB over one table directory, using the repository's own
    canonical comparison (tools/check_correctness.py)."""

    def __init__(self, sf_dir: str, threads: int, tmp_dir: str) -> None:
        import duckdb
        from tools.check_correctness import TABLES

        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {threads}")
        self.con.execute("SET memory_limit='2GB'")
        self.con.execute(f"SET temp_directory='{tmp_dir}'")
        try:
            self.con.execute("SET ieee_floating_point_ops = false")
        except duckdb.Error:
            pass
        for t in TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    def check(self, sql: str, sdf) -> str | None:
        """None when Spark's frame equals the oracle's, else why not."""
        from tools.check_correctness import canon, values_equal

        ddf = self.con.execute(sql).fetchdf()
        if len(sdf) != len(ddf):
            return f"rows {len(sdf)} vs oracle {len(ddf)}"
        if sorted(sdf.columns) != sorted(ddf.columns):
            return f"columns {sorted(sdf.columns)} vs oracle {sorted(ddf.columns)}"
        exact, approx = values_equal(canon(sdf), canon(ddf))
        if not approx:
            return "values differ from oracle"
        return None

    def close(self) -> None:
        self.con.close()


# ------------------------------------------------------- word-count ops

def http_json(url: str, body: dict | None = None) -> dict:
    data = None if body is None else json.dumps(body).encode()
    req = urllib.request.Request(url, data=data, method="POST" if data else "GET")
    if data:
        req.add_header("Content-Type", "application/json")
    with urllib.request.urlopen(req, timeout=JOB_TIMEOUT_S) as resp:
        return json.loads(resp.read())


def read_job_output(out_dir: str) -> tuple[Counter, str | None]:
    """Word counts in a job's text sink, and a problem if any output
    file is not sorted by word (the reference sorts within each
    reduce file)."""
    counts: Counter = Counter()
    problem = None
    names = sorted(n for n in os.listdir(out_dir) if n.startswith("part-"))
    for name in names:
        with open(os.path.join(out_dir, name)) as f:
            words = []
            for line in f:
                word, cnt = line.rstrip("\n").rsplit(" ", 1)
                counts[word] += int(cnt)
                words.append(word)
        if words != sorted(words):
            problem = f"{name} is not sorted"
    return counts, problem


def check_counts(got: Counter, want: Counter) -> str | None:
    if got == want:
        return None
    diff = [w for w in set(got) | set(want) if got[w] != want[w]]
    return f"{len(diff)} words differ, e.g. {sorted(diff)[:3]}"


def wait_job(base: str, job_id: int, tracer, stats: dict) -> dict:
    deadline = time.time() + JOB_TIMEOUT_S
    while True:
        t0 = time.time()
        with tracer.span("http.get"):
            st = http_json(f"{base}/jobs/{job_id}")
        stats["get_s"].append(time.time() - t0)
        stats["polls"][-1] += 1
        if st["status"] in ("COMPLETED", "FAILED"):
            return st
        if time.time() > deadline:
            raise TimeoutError(f"job {job_id} not done in {JOB_TIMEOUT_S}s")
        with tracer.span("poll_wait"):
            time.sleep(POLL_S)
