"""Run one benchmark workload and print its metrics.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload ann --seed 1 --seconds 18 --trace 0

The run generates its inputs from ``--seed`` into ``.perfbench_data/``
(cached per seed), sets the program up (``get_spark``, registry load,
warm-up of every op shape at scale 0.001), checks every query's output
against its DuckDB oracle once, then runs whole passes of ops — each
pass in an order drawn from the seed — until ``--seconds`` have
passed. Every op's output is checked. The last line of standard
output is one JSON object with the keys ``correct``, ``attempted``,
``failed`` and ``metrics``; the lines before it print every metric by
name with its unit, and the run's facts.

With ``--trace 1`` the run records spans around the calls into each
layer and turns on Spark's event log, and reports the per-layer
metrics, each layer's self time, and the tracing overhead: its
end-to-end numbers minus those of untraced runs of the same program
(the median of the last untraced runs in this checkout, or else one
untraced run it starts first). ``--smoke`` runs one pass at scale
0.001.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(ROOT, ".perfbench_data")
PACKAGE = "dist_mapreduce_spark"

sys.path.insert(0, HERE)
import datagen  # noqa: E402
from tracing import Tracer  # noqa: E402
from workloads import WORKLOADS, Workload  # noqa: E402

#: Scale of the warm-up tables, and of every table in a smoke run.
WARM_SF = 0.001
#: Untimed passes at bench scale before the timed section: in a fresh
#: JVM the first passes run up to 1.6x slower while the JIT compiles
#: the bench-scale paths, and how long that takes varies by process.
SETTLE_PASSES = 2

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}

#: Span names whose self time is reported (per timed op).
SELF_LAYERS = ("op", "plans", "sources", "action", "http.post", "http.get", "poll_wait")

#: Untraced results kept per (workload, program, seconds) to serve as
#: the tracing-overhead baseline.
HISTORY_KEEP = 5


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem_gb() -> int:
    """A quarter of the host's memory, between 1 and 4 GiB."""
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return max(1, min(4, kb // (4 << 20)))


def configure_env() -> None:
    """Pin Spark's cores and memory, and keep every temp file inside
    the checkout; must run before pyspark is imported."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(DATA, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mem_gb()}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(DATA, "spark-local")
    os.environ["TMPDIR"] = os.path.join(DATA, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Every JVM (the launcher and the driver): temp files in the
    # checkout, and no hsperfdata files in the system temp directory.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(DATA, 'tmp')} -XX:-UsePerfData"
    )


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def host_steal() -> int:
    """CPU time the hypervisor gave to others, in clock ticks
    (``steal`` of /proc/stat); a noisy neighbour shows here."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def tail_stat(xs: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond) of the highest percentile
    with at least 10 samples beyond it; the maximum when there are 10
    samples or fewer."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0, 0
    return s[n - 11], 100.0 * (n - 10) / n, 10


def program_digest() -> str:
    """Digest of the program's source, which names the program in a
    checkout that is not a git repository."""
    h = hashlib.sha256()
    for droot, _dirs, files in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        for fn in sorted(files):
            if fn.endswith(".py"):
                p = os.path.join(droot, fn)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def written_since(path: str, t0: float) -> tuple[int, int]:
    """(bytes, files) of regular files under ``path`` modified since
    ``t0``."""
    total = files = 0
    for droot, _dirs, fnames in os.walk(path):
        for fn in fnames:
            try:
                st = os.lstat(os.path.join(droot, fn))
            except OSError:
                continue
            if st.st_mtime >= t0:
                total += st.st_size
                files += 1
    return total, files


def error_text(exc: BaseException) -> str:
    return f"{type(exc).__name__}: {exc}".splitlines()[0][:300]


class Bench:
    """One run of one workload in this process."""

    def __init__(self, wl: Workload, seed: int, seconds: float, traced: bool, smoke: bool) -> None:
        self.wl, self.seed, self.seconds, self.smoke = wl, seed, seconds, smoke
        self.traced = traced
        self.tracer = Tracer(traced)
        self.run_id = f"{wl.name}_s{seed}_p{os.getpid()}"
        self.event_dir = os.path.join(DATA, "eventlog", self.run_id)
        self.spark = None
        self.server = None
        self.n_op = 0
        self.records: list[dict] = []
        self.problems: list[str] = []
        #: Count and hash per query, once checked against its oracle.
        self.verified: dict[str, tuple[int, int]] | None = None
        self.http = {"post_s": [], "get_s": [], "polls": [], "sink": [0, 0]}

    # ------------------------------------------------------ inputs
    def prepare_inputs(self) -> None:
        """Generate (or reuse) this seed's inputs; nothing here is part
        of the set-up time."""
        if self.wl.kind == "http":
            self.warm_files = datagen.wordcount_files(DATA, self.seed, 2, 500)
            self.files = (self.warm_files if self.smoke
                          else datagen.wordcount_files(DATA, self.seed))
            self.sizes = {"text_files": {
                "files": len(self.files),
                "bytes": sum(os.path.getsize(p) for p in self.files),
                "words": sum(datagen.word_counts(self.files).values()),
            }}
            return
        from tools.check_correctness import TABLES

        def tables(sf: float) -> str:
            base = datagen.star_schema(DATA, sf)
            return datagen.dedup_dir(DATA, base, self.seed) if self.wl.name == "dedup" else base

        self.warm_dir = tables(WARM_SF)
        self.sf_dir = tables(WARM_SF if self.smoke else self.wl.sf)
        self.sizes = datagen.table_sizes(self.sf_dir, list(TABLES))

    # ------------------------------------------------------ set-up
    def spark_conf(self) -> dict:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(DATA, "warehouse"),
        }
        if self.traced:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir,
                "spark.eventLog.compress": "false",
            })
        return conf

    def setup(self) -> None:
        """get_spark, registry load and warm-up of every op shape, timed
        from the first import of the program."""
        t0 = time.time()
        from dist_mapreduce_spark.plans import registry
        from dist_mapreduce_spark.session import get_spark

        if self.traced:
            self.install_source_spans()
        self.spark = get_spark(f"perfbench-{self.wl.name}", extra_conf=self.spark_conf())
        t1 = time.time()
        registry.load_all()
        t2 = time.time()
        if self.wl.kind == "http":
            self.start_http()
            for _ in range(2):
                self.http_op(self.warm_files, "warm", record=False)
        else:
            for name in dict.fromkeys(self.wl.cold + self.wl.ops):
                self.query_op(name, self.warm_dir, "warm", record=False)
        t3 = time.time()
        self.setup_times = {"get_spark_s": t1 - t0, "load_s": t2 - t1,
                            "warmup_s": t3 - t2, "total_s": t3 - t0}

    def install_source_spans(self) -> None:
        """Wrap the sources layer's public functions, before the plan
        modules import them, so their calls are spans and their jobs
        carry the ``load`` phase."""
        from dist_mapreduce_spark.sources import tables

        tracer = self.tracer

        def wrap(fn):
            def traced(spark, *args, **kwargs):
                sc = spark.sparkContext
                prev = sc.getLocalProperty("spark.jobGroup.id")
                if prev:
                    sc.setLocalProperty("spark.jobGroup.id", prev.split(":")[0] + ":load")
                try:
                    with tracer.span("sources"):
                        return fn(spark, *args, **kwargs)
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", prev)
            return traced

        tables.load_table = wrap(tables.load_table)
        tables.read_text_files = wrap(tables.read_text_files)

    # ------------------------------------------------------ pins
    def pins(self) -> tuple[int, int]:
        """(persistent RDDs, bytes they hold in memory and on disk)."""
        sc = self.spark.sparkContext
        cached = sum(int(x.memSize()) + int(x.diskSize())
                     for x in sc._jsc.sc().getRDDStorageInfo())
        return sc._jsc.getPersistentRDDs().size(), cached

    def release(self) -> None:
        """Release Spark's cached tables and every persistent RDD, and
        check that none is left."""
        sc = self.spark.sparkContext
        self.spark.catalog.clearCache()
        for rdd in list(sc._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)
        left = sc._jsc.getPersistentRDDs().size()
        if left:
            raise RuntimeError(f"{left} persistent RDDs survive release")

    def _group(self, op: str, phase: str) -> None:
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", f"{op}:{phase}")

    # ------------------------------------------------------ ops
    def _finish_op(self, rec: dict, record: bool) -> None:
        if record:
            self.records.append(rec)
        elif not rec["ok"]:
            self.problems.append(f"{rec['op']} {rec['name']}: {rec['error']}")

    def query_op(self, name: str, sf_dir: str, prefix: str, record: bool = True,
                 cold: bool = False) -> None:
        """One registry query call plus its full-evaluation action."""
        from dist_mapreduce_spark.plans.registry import QUERIES
        from workloads import full_eval

        self.n_op += 1
        op = f"{prefix}-{self.n_op}"
        rec = {"op": op, "name": name, "cold": cold, "ok": True}
        t0 = time.time()
        try:
            self.release()
            t0 = time.time()
            with self.tracer.op_span(op):
                self._group(op, "build")
                with self.tracer.span("plans"):
                    df = QUERIES[name](self.spark, sf_dir)
                self._group(op, "exec")
                with self.tracer.span("action"):
                    rec["got"] = full_eval(df)
            rec["t1"] = time.time()
            self._group("idle", "idle")
            rec["pins_after"] = self.pins()
            want = self.verified.get(name) if self.verified is not None else rec["got"]
            if not cold and rec["got"] != want:
                rec["ok"], rec["error"] = False, f"count/hash {rec['got']} differ from verified {want}"
        except Exception as exc:  # noqa: BLE001 - a failed op is data
            traceback.print_exc(file=sys.stderr)
            rec["ok"], rec["error"] = False, error_text(exc)
        rec["t0"] = t0
        rec.setdefault("t1", time.time())
        if self.traced and record:
            from dist_mapreduce_spark.scratch import scratch_root

            rec["scratch"] = written_since(scratch_root(), t0)
        self._finish_op(rec, record)

    def start_http(self) -> None:
        from dist_mapreduce_spark.api import JobRunner
        from dist_mapreduce_spark.http_api import ApiServer

        out_root = os.path.join(DATA, "mr-out", self.run_id)

        class CheckoutJobRunner(JobRunner):
            """JobRunner whose job outputs land in the benchmark's data
            directory, not in the system temp directory."""

            def submit_job(self, files, n_reduce=None, output_dir=None):
                with self._lock:
                    nxt = self._next_id
                return super().submit_job(files, n_reduce,
                                          output_dir or os.path.join(out_root, str(nxt)))

        self.runner = CheckoutJobRunner(self.spark)
        self.server = ApiServer(self.runner).start()
        self.base = f"http://127.0.0.1:{self.server.port}"

    def http_op(self, files: list[str], prefix: str, record: bool = True) -> None:
        """One POST /jobs, then GET /jobs/{id} polls to a terminal
        state; the job's output files are checked afterwards."""
        from workloads import N_REDUCE, check_counts, http_json, read_job_output, wait_job

        self.n_op += 1
        op = f"{prefix}-{self.n_op}"
        rec = {"op": op, "name": "wordcount_job", "cold": False, "ok": True}
        stats = self.http if record else {"post_s": [], "get_s": [], "polls": []}
        t0 = time.time()
        try:
            self.release()
            t0 = time.time()
            with self.tracer.op_span(op):
                with self.tracer.span("http.post"):
                    job_id = http_json(f"{self.base}/jobs",
                                       {"files": files, "nReduce": N_REDUCE})["id"]
                stats["post_s"].append(time.time() - t0)
                stats["polls"].append(0)
                st = wait_job(self.base, job_id, self.tracer, stats)
            rec["t1"] = time.time()
            rec["pins_after"] = self.pins()
            job = self.runner.job_status(job_id)
            if st["status"] != "COMPLETED":
                raise RuntimeError(f"job {job_id} {st['status']}: {job['error']}")
            got, problem = read_job_output(job["output_dir"])
            problem = problem or check_counts(got, datagen.word_counts(files))
            if problem:
                rec["ok"], rec["error"] = False, problem
            if record:
                b, n = written_since(job["output_dir"], 0.0)
                self.http["sink"][0] += b
                self.http["sink"][1] += n
            shutil.rmtree(job["output_dir"], ignore_errors=True)
        except Exception as exc:  # noqa: BLE001 - a failed op is data
            traceback.print_exc(file=sys.stderr)
            rec["ok"], rec["error"] = False, error_text(exc)
        rec["t0"] = t0
        rec.setdefault("t1", time.time())
        self._finish_op(rec, record)

    # ------------------------------------------------------ verify
    def verify(self) -> None:
        """Once per run, outside timing: collect each query's output,
        compare it with its DuckDB oracle, and keep its count and hash
        as the value every timed op must reproduce."""
        from dist_mapreduce_spark.plans.registry import ORACLES, QUERIES
        from workloads import Oracle, collect_with_hash

        self.verified = {}
        oracle = Oracle(self.sf_dir, nproc(), os.path.join(DATA, "tmp"))
        try:
            for name in dict.fromkeys(self.wl.cold + self.wl.ops):
                self._group(f"verify-{name}", "verify")
                try:
                    self.release()
                    pdf, n, h = collect_with_hash(QUERIES[name](self.spark, self.sf_dir))
                    problem = oracle.check(ORACLES[name], pdf) if name in ORACLES else None
                except Exception as exc:  # noqa: BLE001 - reported as a problem
                    traceback.print_exc(file=sys.stderr)
                    problem = error_text(exc)
                if problem:
                    self.problems.append(f"verify {name}: {problem}")
                else:
                    self.verified[name] = (n, h)
        finally:
            oracle.close()
        # The cold ops ran before verification; check them now.
        for rec in self.records:
            if rec["ok"] and rec["got"] != self.verified.get(rec["name"]):
                rec["ok"], rec["error"] = False, f"count/hash {rec['got']} differ from verified"

    # ------------------------------------------------------ run
    def run(self, t_start: float) -> None:
        self.prepare_inputs()
        t = time.time()
        self.phases = {"inputs": t - t_start}
        self.setup()
        self.phases["setup"] = time.time() - t
        t = time.time()
        for name in self.wl.cold:
            self.query_op(name, self.sf_dir, "op", cold=True)
        self.phases["cold"] = time.time() - t
        t = time.time()
        if self.wl.kind == "query":
            self.verify()
        self.phases["verify"] = time.time() - t

        rng = random.Random(self.seed)
        t = time.time()
        for _ in range(0 if self.smoke else SETTLE_PASSES):
            self.run_pass(rng, "settle", record=False)
        self.phases["settle"] = time.time() - t
        # Start the timed section with the set-up's and the checks'
        # garbage collected, in the Python driver and in the JVM.
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        steal0 = host_steal()
        t0 = time.time()
        n_passes = 1 if self.smoke else max(1, round(self.seconds / self.wl.pass_s))
        for _ in range(n_passes):
            self.run_pass(rng, "op")
        self.timed = (t0, time.time(), n_passes)
        self.steal_s = (host_steal() - steal0) / os.sysconf("SC_CLK_TCK")
        from pyspark import SparkContext

        self.rss = {"jvm": vm_hwm_mb(SparkContext._gateway.proc.pid), "python": vm_hwm_mb("self")}

    def run_pass(self, rng: random.Random, prefix: str, record: bool = True) -> None:
        """Every op of the workload once, in an order drawn from ``rng``."""
        if self.wl.kind == "http":
            from workloads import WC_FILES_PER_JOB

            k = WC_FILES_PER_JOB
            jobs = [self.files[i:i + k] for i in range(0, len(self.files), k)]
            rng.shuffle(jobs)
            for files in jobs:
                self.http_op(files, prefix, record)
        else:
            order = list(self.wl.ops)
            rng.shuffle(order)
            for name in order:
                self.query_op(name, self.sf_dir, prefix, record)

    # ------------------------------------------------------ results
    def timed_records(self) -> list[dict]:
        return [r for r in self.records if not r["cold"]]

    def summary(self) -> dict:
        t0, t1, _passes = self.timed
        recs = self.timed_records()
        lat = [r["t1"] - r["t0"] for r in recs if r["ok"]]
        tail, pct, beyond = tail_stat(lat) if lat else (0.0, 0.0, 0)
        self.tail_info = {"percentile": pct, "beyond": beyond, "samples": len(lat)}
        cold = [r["t1"] - r["t0"] for r in self.records if r["cold"]]
        self.index_build_s = sum(cold) if cold else None
        self.failed = sum(not r["ok"] for r in self.records)
        self.correct = not self.problems and self.failed == 0 and bool(self.records)
        return {
            "setup_s": self.setup_times["total_s"],
            "op_p50_s": statistics.median(lat) if lat else 0.0,
            "op_tail_s": tail,
            "ops_per_s": len(lat) / (t1 - t0),
            "peak_rss_mb": self.rss["jvm"] + self.rss["python"],
        }

    def facts(self) -> dict:
        import pyspark

        t0, t1, passes = self.timed
        recs = self.timed_records()
        return {
            "workload": self.wl.name, "seed": self.seed, "seconds": self.seconds,
            "trace": int(self.traced), "smoke": self.smoke,
            "nproc": nproc(), "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "driver_memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
            "java": self.spark.sparkContext._jvm.System.getProperty("java.version"),
            "pyspark": pyspark.__version__,
            "git_commit": git_commit(), "program_digest": program_digest(),
            "scale_factor": None if self.wl.kind == "http" else (WARM_SF if self.smoke else self.wl.sf),
            "inputs": self.sizes,
            "setup": {k: round(v, 4) for k, v in self.setup_times.items()},
            "phases_s": {k: round(v, 3) for k, v in self.phases.items()},
            "timed_s": round(t1 - t0, 3), "passes": passes,
            "timed_cpu_steal_s": round(self.steal_s, 2),
            "peak_rss_mb": {k: round(v, 1) for k, v in self.rss.items()},
            "op_tail": self.tail_info,
            "op_p50_s_by_name": {
                name: round(statistics.median(r["t1"] - r["t0"] for r in recs if r["name"] == name), 4)
                for name in sorted({r["name"] for r in recs})
            },
        }

    def shutdown(self) -> None:
        """Stop the HTTP server, Spark and the JVM, and wait until every
        process this run started has ended."""
        from pyspark import SparkContext

        kids = descendants(os.getpid())
        if self.server is not None:
            self.server.stop()
        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.time() + 30
        while any(alive(p) for p in kids) and time.time() < deadline:
            time.sleep(0.1)
        for p in kids:
            if alive(p):
                try:
                    os.kill(p, 9)
                except ProcessLookupError:
                    pass


# ---------------------------------------------------------- per layer

def layer_metrics(bench: Bench, baseline: dict | None, e2e: dict) -> tuple[dict, list[str]]:
    """Per-layer metrics of a traced run, as means per timed op unless
    named otherwise, and report lines with per-query detail."""
    from tracing import attribute, read_event_logs, self_times, union_seconds

    recs = bench.timed_records()
    n = max(1, len(recs))
    windows = {r["op"]: (r["t0"], r["t1"]) for r in bench.records}
    stats = attribute(read_event_logs(bench.event_dir), windows)
    ops = {r["op"] for r in recs}

    def tot(key: str, rs=recs) -> float:
        return sum(stats[r["op"]].get(key, 0.0) for r in rs)

    def jobs(r: dict, phases=None) -> int:
        return sum(v for k, v in stats[r["op"]]["jobs"].items() if phases is None or k in phases)

    def span_s(name: str) -> float:
        return sum(s.end - s.start for s in bench.tracer.spans if s.op in ops and s.name == name)

    def mean(xs: list) -> float:
        return statistics.mean(xs) if xs else 0.0

    gap = sum(max(0.0, (r["t1"] - r["t0"]) -
                  union_seconds(stats[r["op"]]["stage_intervals"], r["t0"], r["t1"]))
              for r in recs)
    t0, t1, _ = bench.timed
    selfs = self_times(bench.tracer.spans, ops)
    m = {
        "session.get_spark_s": bench.setup_times["get_spark_s"],
        "registry.load_s": bench.setup_times["load_s"],
        "session.warmup_s": bench.setup_times["warmup_s"],
        "plans.build_s": selfs.get("plans", 0.0) / n,
        "plans.build_jobs": sum(jobs(r, ("build", "load")) for r in recs) / n,
        "plans.exec_s": span_s("action") / n,
        "sources.load_s": span_s("sources") / n,
        "sources.load_jobs": sum(jobs(r, ("load",)) for r in recs) / n,
        "scan.input_bytes": tot("input_bytes") / n,
        "scan.input_records": tot("input_records") / n,
        "sched.jobs": sum(jobs(r) for r in recs) / n,
        "sched.stages": tot("stages") / n,
        "sched.tasks": tot("tasks") / n,
        "sched.driver_gap_s": gap / n,
        "exec.run_s": tot("run_ms") / 1e3 / n,
        "exec.cpu_s": tot("cpu_ns") / 1e9 / n,
        "exec.gc_s": tot("gc_ms") / 1e3 / n,
        "exec.cpu_util": tot("cpu_ns") / 1e9 / ((t1 - t0) * nproc()),
        "shuffle.write_bytes": tot("shuffle_write") / n,
        "shuffle.read_bytes": tot("shuffle_read") / n,
        "spill.bytes": tot("spill") / n,
        # Python workers, scratch writes and the index build are totals
        # over all of the run's ops, cold builds included.
        "py.total_s": tot("py_total_ms", bench.records) / 1e3,
        "py.boot_s": tot("py_boot_ms", bench.records) / 1e3,
        "py.bytes_sent": tot("py_sent", bench.records),
        "py.bytes_received": tot("py_received", bench.records),
        "pins.live_after": sum(r.get("pins_after", (0, 0))[0] for r in recs) / n,
        "pins.cached_bytes": sum(r.get("pins_after", (0, 0))[1] for r in recs) / n,
        "scratch.bytes_written": sum(r.get("scratch", (0, 0))[0] for r in bench.records),
        "scratch.files_written": sum(r.get("scratch", (0, 0))[1] for r in bench.records),
        "index_build_s": bench.index_build_s or 0.0,
        "http.post_s": mean(bench.http["post_s"]),
        "http.get_s": mean(bench.http["get_s"]),
        "http.polls_per_job": mean(bench.http["polls"]),
        "sink.bytes_written": bench.http["sink"][0] / n,
        "sink.files_written": bench.http["sink"][1] / n,
    }
    for layer in SELF_LAYERS:
        m[f"self.{layer}_s"] = selfs.get(layer, 0.0) / n
    for key in ("setup_s", "op_p50_s", "ops_per_s"):
        m[f"trace.overhead_{key}"] = (e2e[key] - baseline[key]) if baseline else 0.0

    lines = []
    by_name: dict[str, list[dict]] = {}
    for r in recs:
        by_name.setdefault(r["name"], []).append(r)
    for name, rs in sorted(by_name.items()):
        k = len(rs)
        lines.append(f"q.{name}.p50_s {statistics.median(r['t1'] - r['t0'] for r in rs):.4f} s")
        lines.append(f"q.{name}.jobs {sum(jobs(r) for r in rs) / k:.2f} count")
        lines.append(f"q.{name}.build_jobs {sum(jobs(r, ('build', 'load')) for r in rs) / k:.2f} count")
        lines.append(f"q.{name}.py_total_s {tot('py_total_ms', rs) / 1e3 / k:.4f} s")
    for r in bench.records:
        if r["cold"]:
            lines.append(f"cold.{r['name']}.s {r['t1'] - r['t0']:.4f} s")
            lines.append(f"cold.{r['name']}.jobs {jobs(r)} count")
            lines.append(f"cold.{r['name']}.build_jobs {jobs(r, ('build', 'load'))} count")
            lines.append(f"cold.{r['name']}.py_total_s "
                         f"{stats[r['op']].get('py_total_ms', 0) / 1e3:.4f} s")
    return m, lines


def unit_of(name: str) -> str:
    if name.endswith("ops_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_util"):
        return "ratio"
    if "bytes" in name:
        return "bytes"
    return "count"


# ---------------------------------------------------- overhead baseline

def history_path(args: argparse.Namespace) -> str:
    return os.path.join(DATA, "history", f"{args.workload}-{program_digest()}-"
                        f"{args.seconds:g}{'-smoke' if args.smoke else ''}.jsonl")


def untraced_baseline(args: argparse.Namespace) -> tuple[dict | None, str]:
    """End-to-end numbers of untraced runs of this program: the median
    of the last ones kept in this checkout, else one fresh run."""
    try:
        with open(history_path(args)) as f:
            past = [json.loads(line) for line in f][-HISTORY_KEEP:]
    except (OSError, ValueError):
        past = []
    if past:
        return ({k: statistics.median(p[k] for p in past) for k in END_TO_END},
                f"median of {len(past)} earlier untraced runs")
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", f"{args.seconds:g}", "--trace", "0"]
    if args.smoke:
        cmd.append("--smoke")
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=170)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        return None, "untraced run failed"
    res = json.loads(lines[-1])
    return {k: v["value"] for k, v in res["metrics"].items()}, "one untraced run"


def remember(args: argparse.Namespace, e2e: dict) -> None:
    path = history_path(args)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "a") as f:
        f.write(json.dumps(e2e) + "\n")


def main(argv: list[str] | None = None) -> int:
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    if not all(os.path.isdir(os.path.join(ROOT, d)) for d in (PACKAGE, "tools")):
        print(f"perfbench: {ROOT} holds no {PACKAGE}/ and tools/; run it from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    configure_env()
    baseline, baseline_src = untraced_baseline(args) if args.trace else (None, "")

    bench = Bench(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace), args.smoke)
    try:
        bench.run(t_start)
        e2e = bench.summary()
        facts = bench.facts()
    finally:
        bench.shutdown()

    print("# facts " + json.dumps(facts, sort_keys=True))
    for p in bench.problems:
        print(f"# problem {p}")
    for r in bench.records:
        if not r["ok"]:
            print(f"# failed {r['op']} {r['name']}: {r.get('error')}")
    for name, unit in END_TO_END.items():
        print(f"{name} {e2e[name]:.6g} {unit}")
    print(f"op_tail_percentile p{bench.tail_info['percentile']:.1f} "
          f"({bench.tail_info['beyond']} of {bench.tail_info['samples']} samples beyond)")
    attempted = len(bench.records)
    print(f"failed_frac {bench.failed / max(1, attempted):.6g} ratio "
          f"({bench.failed}/{attempted})")
    if bench.index_build_s is not None:
        print(f"index_build_s {bench.index_build_s:.6g} s")

    if args.trace:
        print(f"# untraced ({baseline_src}) " + json.dumps(baseline))
        per_layer, lines = layer_metrics(bench, baseline, e2e)
        for line in lines:
            print(line)
        for name, value in per_layer.items():
            print(f"{name} {value:.6g} {unit_of(name)}")
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in per_layer.items()}
        trace_dir = os.path.join(DATA, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        bench.tracer.dump(os.path.join(trace_dir, f"{bench.run_id}.spans.json"))
        with open(os.path.join(trace_dir, f"{bench.run_id}.report.json"), "w") as f:
            json.dump({"facts": facts, "e2e": e2e, "baseline": baseline, "per_layer": per_layer,
                       "detail": lines, "records": bench.records}, f)
        shutil.rmtree(bench.event_dir, ignore_errors=True)
    else:
        if bench.correct:
            remember(args, e2e)
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": bench.correct, "attempted": attempted,
                      "failed": bench.failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
