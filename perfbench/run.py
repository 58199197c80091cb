"""Link-graph benchmark: seeded workloads, per-call time to solution, and a
traced per-layer profile of the ``graph_python_spark`` algorithm calls.

Run from the root of a checkout of the repository::

    python3 perfbench/run.py --workload loops_small --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload

One run: start a session through ``graph_python_spark.session.get_spark``,
generate the workload's graph from ``--seed`` in NumPy, write it to parquet,
read and cache it, then call the workload's public algorithm functions one
at a time (closed loop, one client) in rounds until ``--seconds`` have
passed: at least one round, after a warm-up round on a small graph of the
same shape.  Every result is checked against a sparse NumPy
reference (``reference.py``).  Caches are cleared between calls, so
repeated calls do identical work; the job counts of the repetitions must
match.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` then starts a
second session with an uncompressed Spark event log, runs one more round
and reduces the log per call (``eventlog.py``).  The last line of standard
output is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
The line before it is the full report (every metric by name with its unit,
input statistics, host facts).
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field
from typing import Callable, Optional

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import graphs  # noqa: E402
import reference  # noqa: E402

MB = eventlog.MB
DRIVER_MEMORY = "3g"
DATA_SETUP_REPEATS = 3
KCORE_K = 4
LINK_SAMPLE = 16           # link-prediction sources whose rows are checked
WARM_N = 1000              # vertices of the warm-up graph
RUN_LIMIT_S = 150          # start no new round past this process age

MODULES = ("operators.blocks", "algorithms.pagerank", "algorithms.components",
           "algorithms.kcore", "algorithms.labelprop", "algorithms.triangles",
           "algorithms.vertexsim")
SPARK_KEYS = ("executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_mb",
              "shuffle_read_mb", "spill_mb", "task_skew")
ITERATE_KEYS = ("pin_jobs", "check_jobs", "save_jobs", "pin_s", "check_s",
                "save_s")


def unit_of(name: str) -> str:
    if name.endswith("_mb") or name.endswith("_mb_after"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if name.endswith("jobs_per_iter") or name.endswith("task_skew"):
        return "ratio"
    return "count"


def per_layer_names() -> list[str]:
    names = []
    for mod in MODULES:
        wall = "adjacency_s" if mod == "operators.blocks" else "wall_s"
        names += [f"{mod}.{k}" for k in (wall, "jobs", "stages", "tasks",
                                         "iterations", "jobs_per_iter",
                                         "cached_mb_after", "in_job_s",
                                         "driver_s")]
    names += [f"plans.iterate.{k}" for k in ITERATE_KEYS]
    names += [f"spark.{k}" for k in SPARK_KEYS]
    names += ["session.get_spark_s", "bench.tracing_overhead_s"]
    return names


END_TO_END = ("solve_s", "solve_cpu_s", "setup_s")  # gated in BENCHMARK.json


# ---------------------------------------------------------------- workloads

@dataclass
class Call:
    name: str                       # request type, e.g. "pagerank"
    module: str                     # layer the call is attributed to
    metric: str                     # end-to-end metric it adds to
    run: Callable                   # (bench) -> (result, iterations)
    check: Callable                 # (bench, result, iterations) -> error or None
    reset_after: bool = True        # clear caches once the call is checked


@dataclass
class Workload:
    name: str
    why: str
    spec: graphs.GraphSpec
    calls: list[Call] = field(default_factory=list)
    cpu_share: float = 1.0          # task slots per CPU of the host


def _sorted(pdf, key):
    pdf = pdf.sort_values(key)
    return [pdf[c].to_numpy() for c in pdf.columns]


def _same(name, got, want) -> Optional[str]:
    if len(got) != len(want) or not np.array_equal(got, want):
        return f"{name} differ from the reference"
    return None


def _iters(name, got, want) -> Optional[str]:
    return None if got == want else f"{name}: {got} != reference {want}"


def run_pagerank(b, durable=False):
    from graph_python_spark.algorithms import pagerank

    scores, iters, _ = pagerank(b.edges, tol=1e-6,
                                checkpoint=b.iteration_state("pagerank", durable))
    return scores.select("id", "score").toPandas(), iters


def run_pagerank_prepared(b):
    from graph_python_spark.algorithms import pagerank

    scores, iters, _ = pagerank(b.edges, tol=1e-6, prepared=b.prepared)
    return scores.select("id", "score").toPandas(), iters


def check_pagerank(b, pdf, iters):
    ids, want, want_iters = b.ref("pagerank", reference.pagerank)
    got_ids, got = _sorted(pdf, "id")
    return (_same("pagerank ids", got_ids, ids)
            or (None if np.allclose(got, want, rtol=1e-6, atol=1e-12)
                else "pagerank scores not allclose 1e-6")
            or _iters("pagerank iterations", iters, want_iters))


def run_prepare(b):
    from graph_python_spark.algorithms.pagerank import prepare_graph

    b.prepared = prepare_graph(b.edges)
    return b.prepared, 1


def check_prepare(b, prepared, _):
    ids = b.ref("pagerank", reference.pagerank)[0]
    return _iters("prepare_graph vertex count", prepared.n, len(ids))


def run_components(b, durable=False):
    from graph_python_spark.algorithms import connected_components

    labels, rounds = connected_components(
        b.edges, checkpoint=b.iteration_state("components", durable))
    return labels.select("id", "component").toPandas(), rounds


def check_components(b, pdf, rounds):
    ids, comp, want_rounds = b.ref("components", reference.components)
    got_ids, got = _sorted(pdf, "id")
    return (_same("component ids", got_ids, ids)
            or _same("component labels", got, comp)
            or _iters("component rounds", rounds, want_rounds))


def run_kcore(b, durable=False):
    from graph_python_spark.algorithms import kcore

    core, rounds = kcore(b.edges, KCORE_K,
                         checkpoint=b.iteration_state("kcore", durable))
    return core.select("id", "kdeg").toPandas(), rounds


def check_kcore(b, pdf, rounds):
    ids, deg, want_rounds = b.ref("kcore", lambda s, d: reference.kcore(s, d, KCORE_K))
    got_ids, got = _sorted(pdf, "id")
    if len(ids) == 0:
        return "reference k-core is empty: choose a smaller k"
    return (_same("k-core members", got_ids, ids)
            or _same("k-core degrees", got, deg)
            or _iters("k-core rounds", rounds, want_rounds))


def run_labelprop(b):
    from graph_python_spark.algorithms import label_propagation

    labels, sweeps = label_propagation(b.edges)
    return labels.select("id", "label").toPandas(), sweeps


def check_labelprop(b, pdf, sweeps):
    ids, lbl, want_sweeps = b.ref("labelprop", reference.label_propagation)
    got_ids, got = _sorted(pdf, "id")
    return (_same("label ids", got_ids, ids)
            or _same("labels", got, lbl)
            or _iters("label sweeps", sweeps, want_sweeps))


def run_triangles(b):
    from graph_python_spark.algorithms import triangle_count

    return triangle_count(b.edges), 1


def check_triangles(b, count, _):
    return _iters("triangle count", count, b.ref("triangles", reference.triangle_count))


def run_link(b):
    from graph_python_spark.algorithms import link_prediction_scores

    df = link_prediction_scores(b.edges)
    return (df, df.count()), 1


def check_link(b, result, _):
    """Sum of common and of adamic_adar over every pair against the wedge
    totals, plus every row of a seeded sample of sources.  Costs a second
    pass over the pairs, so it runs on the first round only."""
    from pyspark.sql import functions as F

    if b.round > 0:
        return None
    df, _count = result
    want_common, want_aa = b.ref("wedges", reference.wedge_totals)
    row = df.agg(F.sum("common").alias("c"), F.sum("adamic_adar").alias("a")).first()
    if int(row["c"]) != want_common:
        return f"sum(common) {row['c']} != reference {want_common}"
    if not np.isclose(float(row["a"]), want_aa, rtol=1e-9):
        return f"sum(adamic_adar) {row['a']} != reference {want_aa}"
    sample = b.link_sample()
    want = b.ref("link_rows", lambda s, d: reference.link_rows(s, d, sample))
    rows = df.filter(F.col("u").isin(sample)).collect()
    got = {(r["u"], r["v"]): (r["common"], r["adamic_adar"], r["pref_attach"])
           for r in rows}
    if got.keys() != want.keys():
        return f"sampled link rows: {len(got)} pairs != reference {len(want)}"
    for key, (c, aa, pa) in want.items():
        gc, gaa, gpa = got[key]
        if gc != c or gpa != pa or not np.isclose(gaa, aa, rtol=1e-9):
            return f"link row {key}: {got[key]} != reference {want[key]}"
    return None


LOOPS = graphs.GraphSpec(n=20_000, m=116_000, s=0.8, skew="out", shape_seed=5,
                         linked=0.5)
# The loops' tasks are tiny: the driver, the JIT compiler and the GC use
# most of the CPU time.  With a task slot per CPU, a CPU lost to another
# process stalls every stage; half as many slots roughly halved the
# slowdown that a busy neighbour caused, at the same speed on a quiet host.
LOOPS_CPU_SHARE = 0.5

WORKLOADS = {w.name: w for w in [
    # pagerank runs split, so the adjacency build (operators.blocks) is
    # timed on its own; kcore saves an IterationState every round, so the
    # plans.iterate write path is measured here too (it adds 3 of 18 jobs)
    Workload("loops_small",
             "many rounds of tiny work: driver time, planning and jobs per "
             "iteration dominate",
             LOOPS,
             [Call("prepare_graph", "operators.blocks", "pagerank_s",
                   run_prepare, check_prepare, reset_after=False),
              Call("pagerank", "algorithms.pagerank", "pagerank_s",
                   run_pagerank_prepared, check_pagerank),
              Call("connected_components", "algorithms.components",
                   "components_s", run_components, check_components),
              Call("kcore", "algorithms.kcore", "kcore_s",
                   lambda b: run_kcore(b, durable=True), check_kcore),
              Call("label_propagation", "algorithms.labelprop", "labelprop_s",
                   run_labelprop, check_labelprop)],
             LOOPS_CPU_SHARE),
    Workload("loops_durable",
             "the loops that take an IterationState save every iteration, so "
             "the plans.iterate write path is measured",
             LOOPS,
             [Call("pagerank", "algorithms.pagerank", "pagerank_s",
                   lambda b: run_pagerank(b, durable=True), check_pagerank),
              Call("connected_components", "algorithms.components",
                   "components_s", lambda b: run_components(b, durable=True),
                   check_components),
              Call("kcore", "algorithms.kcore", "kcore_s",
                   lambda b: run_kcore(b, durable=True), check_kcore)],
             LOOPS_CPU_SHARE),
    Workload("pagerank_skewed",
             "Zipf in-degree hubs: explode, partial aggregation, the dst "
             "shuffle and the mapInPandas adjacency build do the work",
             graphs.GraphSpec(n=100_000, m=500_000, s=1.0, skew="both",
                              shape_seed=1),
             [Call("prepare_graph", "operators.blocks", "pagerank_s",
                   run_prepare, check_prepare, reset_after=False),
              Call("pagerank", "algorithms.pagerank", "pagerank_s",
                   run_pagerank_prepared, check_pagerank)]),
    Workload("wedges_skewed",
             "no iteration loop: wedge self-joins whose cost concentrates at "
             "Zipf in-degree hubs",
             graphs.GraphSpec(n=20_000, m=116_000, s=0.6, skew="in",
                              shape_seed=1),
             [Call("triangle_count", "algorithms.triangles", "triangles_s",
                   run_triangles, check_triangles),
              Call("link_prediction_scores", "algorithms.vertexsim",
                   "link_predict_s", run_link, check_link)]),
]}


# ------------------------------------------------------------ host and /proc

def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start


def peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except FileNotFoundError:
        pass
    return 0.0


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def tree_cpu_seconds(root: int) -> float:
    """User plus system CPU seconds used by a process and all its
    descendants, from /proc: the Python driver, the driver JVM, and the
    PySpark daemon and workers it forks.  Reaped children count through
    their parent's ``cutime``/``cstime``, so a worker that exits between two
    readings is not lost.  Time the hypervisor steals is not counted."""
    ticks, stack = 0, [root]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            tids = os.listdir(f"/proc/{pid}/task")
        except (FileNotFoundError, ProcessLookupError):
            continue  # the process exited while being read
        ticks += sum(int(x) for x in fields[11:15])
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    stack += [int(c) for c in f.read().split()]
            except (FileNotFoundError, ProcessLookupError):
                pass  # the thread ended
    return ticks / os.sysconf("SC_CLK_TCK")


def host_facts(spark) -> dict:
    import pyarrow

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gb": round(mem_kb / 1024 / 1024, 1),
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "spark": spark.version,
        "pyarrow": pyarrow.__version__,
        "numpy": np.__version__,
        "python": sys.version.split()[0],
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "master": spark.sparkContext.master,
    }


# ------------------------------------------------------------------ the run

class Bench:
    def __init__(self, workload: Workload, seed: int, out: str):
        self.w = workload
        self.seed = seed
        self.out = out
        self.slots = max(1, int(len(os.sched_getaffinity(0)) * workload.cpu_share))
        self.spark = None
        self.edges = None
        self.prepared = None
        self.round = 0
        self.refs: dict = {}
        self.src = self.dst = None
        self.seen_stages: set[int] = set()
        self.dir_seq = 0
        self.cpu_start = cpu_times()

    # session ------------------------------------------------------------
    def start_session(self, trace: bool):
        from graph_python_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.out, "spark-local"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.out, 'tmp')}",
            "spark.sql.warehouse.dir": os.path.join(self.out, "warehouse"),
        }
        if trace:
            logdir = os.path.join(self.out, "eventlog")
            os.makedirs(logdir, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + logdir,
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "true"})
        self.spark = get_spark(app=f"perfbench-{self.w.name}",
                               parallelism=self.slots,
                               shuffle_partitions=self.slots, extra_conf=conf)
        self.sc = self.spark.sparkContext
        self.seen_stages = set()

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    # data ---------------------------------------------------------------
    def write_graph(self, src, dst, name: str) -> str:
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = os.path.join(self.out, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        # one file per task slot, so the scan has one partition per slot
        for k, idx in enumerate(np.array_split(np.arange(len(src)), self.slots)):
            pq.write_table(pa.table({"i": src[idx], "j": dst[idx]}),
                           os.path.join(path, f"part-{k:03d}.parquet"))
        return path

    def load(self, path: str):
        self.sc.setJobGroup("bench.load", "read and cache the edge table")
        self.path = path
        self.edges = self.spark.read.parquet(path).cache()
        self.edges.count()

    def data_setup(self, spec, seed, name):
        self.spark.catalog.clearCache()
        src, dst = graphs.generate(spec, seed)
        self.load(self.write_graph(src, dst, name))
        return src, dst

    def reset(self):
        """Drop every cached table and pinned RDD, then re-cache the input."""
        self.sc.setJobGroup("bench.reset", "clear caches between calls")
        self.spark.catalog.clearCache()
        for rdd in list(self.sc._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)
        self.prepared = None
        shutil.rmtree(os.path.join(self.out, "state"), ignore_errors=True)
        self.load(self.path)

    def warm_up(self):
        """One untimed, unchecked round of the workload's calls on a small
        graph of the same shape, so that the measured rounds run in a warm
        JVM (JIT, code generation, class loading)."""
        spec = self.w.spec
        small = dataclasses.replace(spec, n=WARM_N, m=spec.m * WARM_N // spec.n)
        self.data_setup(small, self.seed, "warm")
        for call in self.w.calls:
            self.sc.setJobGroup("bench.warmup", call.name)
            call.run(self)
            if call.reset_after:
                self.reset()

    def iteration_state(self, name: str, durable: bool):
        """A durable IterationState in a fresh directory, or None."""
        if not durable:
            return None
        from graph_python_spark.plans.iterate import IterationState

        self.dir_seq += 1
        return IterationState(
            os.path.join(self.out, "state", f"{name}-{self.dir_seq}"), self.spark)

    def ref(self, key, fn):
        if key not in self.refs:
            self.refs[key] = fn(self.src, self.dst)
        return self.refs[key]

    def link_sample(self) -> list[int]:
        ids = np.unique(np.concatenate([self.src, self.dst]))
        rng = np.random.default_rng(self.seed)
        return sorted(int(x) for x in rng.choice(ids, LINK_SAMPLE, replace=False))

    # status tracker -----------------------------------------------------
    def settle(self):
        """Wait until the listener bus has delivered every event, so the
        status store is complete for the calls made so far."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def storage_mb(self) -> float:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / MB

    def group_counts(self, group: str) -> tuple[int, int, int]:
        tr = self.sc.statusTracker()
        jobs = tr.getJobIdsForGroup(group)
        stages = tasks = 0
        for jid in sorted(jobs):
            info = tr.getJobInfo(jid)
            for sid in sorted(info.stageIds) if info else []:
                st = tr.getStageInfo(sid)
                if st is None or st.numCompletedTasks == 0 or sid in self.seen_stages:
                    continue
                self.seen_stages.add(sid)
                stages += 1
                tasks += st.numCompletedTasks
        return len(jobs), stages, tasks

    # one call -------------------------------------------------------------
    def timed_call(self, call: Call, tag: str) -> dict:
        group = f"{self.w.name}:{call.name}:{tag}"
        self.settle()
        before = self.storage_mb()
        self.sc.setJobGroup(group, call.name)
        rec = {"call": call.name, "module": call.module, "metric": call.metric,
               "group": group, "error": None}
        cpu0 = tree_cpu_seconds(os.getpid())
        t0 = time.perf_counter()
        try:
            result, iters = call.run(self)
        except Exception as exc:  # a failed call is counted, not fatal
            rec.update(wall_s=time.perf_counter() - t0, iterations=0,
                       error=f"{type(exc).__name__}: {exc}")
            result = None
        else:
            rec.update(wall_s=time.perf_counter() - t0, iterations=int(iters))
        rec["cpu_s"] = tree_cpu_seconds(os.getpid()) - cpu0
        self.sc.setJobGroup("bench.check", "reference check")
        self.settle()
        jobs, stages, tasks = self.group_counts(group)
        rec.update(jobs=jobs, stages=stages, tasks=tasks,
                   jobs_per_iter=jobs / rec["iterations"] if rec["iterations"] else 0.0,
                   cached_mb_after=self.storage_mb() - before)
        if result is not None:
            try:
                rec["error"] = call.check(self, result, rec["iterations"])
            except Exception as exc:
                rec["error"] = f"check raised {type(exc).__name__}: {exc}"
        if call.reset_after:
            self.reset()
        return rec

    def run_round(self, tag: str) -> list[dict]:
        return [self.timed_call(c, f"{tag}:{i}")
                for i, c in enumerate(self.w.calls)]

    def stop_session(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def shutdown_jvm():
    """Close the py4j gateway and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def summarize_rounds(rounds: list[list[dict]]) -> dict:
    """Per call: median wall seconds and the (identical) counts."""
    calls = {}
    for recs in zip(*rounds):
        first = recs[0]
        calls[first["call"]] = {
            "module": first["module"],
            "metric": first["metric"],
            "wall_s": statistics.median(r["wall_s"] for r in recs),
            "wall_s_rounds": [r["wall_s"] for r in recs],
            "cpu_s_rounds": [r["cpu_s"] for r in recs],
            "jobs": [r["jobs"] for r in recs],
            "stages": [r["stages"] for r in recs],
            "tasks": [r["tasks"] for r in recs],
            "iterations": [r["iterations"] for r in recs],
            "cached_mb_after": [r["cached_mb_after"] for r in recs],
        }
    return calls


def repeat_errors(calls: dict) -> list[str]:
    errs = []
    for name, c in calls.items():
        for key in ("jobs", "stages", "iterations"):
            if len(set(c[key])) > 1:
                errs.append(f"{name}: {key} differ across repetitions {c[key]}")
    return errs


def end_to_end(rounds, setup_s, rss_mb, attempted, failed) -> dict:
    per_round = []
    for recs in rounds:
        sums: dict[str, float] = {}
        for r in recs:
            sums[r["metric"]] = sums.get(r["metric"], 0.0) + r["wall_s"]
        sums["solve_s"] = sum(r["wall_s"] for r in recs)
        sums["solve_cpu_s"] = sum(r["cpu_s"] for r in recs)
        per_round.append(sums)
    e2e = {"setup_s": {"value": setup_s, "unit": "s"}}
    for key in per_round[0]:
        e2e[key] = {"value": statistics.median(p[key] for p in per_round),
                    "unit": "s"}
    e2e["peak_rss_mb"] = {"value": rss_mb, "unit": "MB"}
    e2e["error_rate"] = {"value": failed / attempted if attempted else 0.0,
                         "unit": "ratio"}
    return e2e


def layer_metrics(traced: list[dict], reduced: dict, get_spark_s: float,
                  overhead_s: float) -> dict:
    vals = {name: 0.0 for name in per_layer_names()}
    for r in traced:
        mod, red = r["module"], reduced.get(r["group"], {})
        wall = "adjacency_s" if mod == "operators.blocks" else "wall_s"
        vals[f"{mod}.{wall}"] += r["wall_s"]
        for k in ("jobs", "stages", "tasks", "iterations", "cached_mb_after"):
            vals[f"{mod}.{k}"] += r[k]
        vals[f"{mod}.jobs_per_iter"] = r["jobs_per_iter"]
        vals[f"{mod}.in_job_s"] += red.get("in_job_s", 0.0)
        vals[f"{mod}.driver_s"] += red.get("driver_s", r["wall_s"])
        for k in ITERATE_KEYS:
            vals[f"plans.iterate.{k}"] += red.get(k, 0)
        for k in SPARK_KEYS:
            if k == "task_skew":
                vals["spark.task_skew"] = max(vals["spark.task_skew"],
                                              red.get(k, 0.0))
            else:
                vals[f"spark.{k}"] += red.get(k, 0.0)
    vals["session.get_spark_s"] = get_spark_s
    vals["bench.tracing_overhead_s"] = overhead_s
    return {k: {"value": v, "unit": unit_of(k)} for k, v in vals.items()}


def run_workload(args, root: str) -> dict:
    w = WORKLOADS[args.workload]
    out = os.path.join(root, ".bench_out", f"{w.name}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(out, sub))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(out, "spark-local")
    os.environ["TMPDIR"] = os.path.join(out, "tmp")
    b = Bench(w, args.seed, out)
    try:
        return _run(b, args, w, out)
    finally:
        b.stop_session()
        shutdown_jvm()
        for sub in ("tmp", "spark-local", "state", "graph", "warm", "warehouse"):
            shutil.rmtree(os.path.join(out, sub), ignore_errors=True)


def _run(b: Bench, args, w: Workload, out: str) -> dict:
    # -- set-up: session, a warm-up round on a small graph, then the data
    # several times (median).  A warm-up round on the workload's own graph
    # would warm the JVM more, but costs as much as a cold measured round,
    # which the time budget of a regression check has no room for.
    b.start_session(trace=False)
    get_spark_s = process_age_s()
    t0 = time.perf_counter()
    b.warm_up()
    warmup_s = time.perf_counter() - t0
    data_s = []
    for _ in range(DATA_SETUP_REPEATS):
        t0 = time.perf_counter()
        b.src, b.dst = b.data_setup(w.spec, args.seed, "graph")
        data_s.append(time.perf_counter() - t0)
    graph_path = b.path
    setup_s = get_spark_s + warmup_s + statistics.median(data_s)

    # input statistics and host facts (untimed; references are computed
    # on first use, outside the timed calls)
    stats = graphs.input_stats(b.src, b.dst)
    host = host_facts(b.spark)

    # -- measurement: closed loop, whole rounds, until --seconds have passed
    rounds = []
    t_start = time.perf_counter()
    while True:
        rounds.append(b.run_round(f"r{b.round}"))
        b.round += 1
        elapsed = time.perf_counter() - t_start
        if (elapsed >= args.seconds
                or process_age_s() + elapsed / len(rounds) > RUN_LIMIT_S):
            break
    calls = summarize_rounds(rounds)
    per_layer = None
    extra = []
    if args.trace:
        # the overhead baseline: one more untraced round, in a JVM as warm
        # as the traced round's; it also repeats every call once more
        baseline = b.run_round("baseline")
        b.stop_session()
        b.start_session(trace=True)
        b.load(graph_path)
        traced = b.run_round("traced")
        extra = [baseline, traced]
        rss = peak_rss_mb(b.jvm_pid()) + peak_rss_mb(os.getpid())
        b.stop_session()
        wall = {r["group"]: r["wall_s"] for r in traced}
        logdir = os.path.join(out, "eventlog")
        reduced = eventlog.reduce_events(eventlog.read_events(logdir), wall)
        logged = bool(eventlog.event_files(logdir))
        for r in traced:
            # the log's attribution must see the jobs the status tracker saw
            jobs = reduced[r["group"]]["jobs"]
            if r["error"] is None and not logged:
                r["error"] = "no event-log file was written"
            elif r["error"] is None and jobs != r["jobs"]:
                r["error"] = f"event log has {jobs} jobs, status tracker {r['jobs']}"
        overhead = (sum(r["wall_s"] for r in traced)
                    - sum(r["wall_s"] for r in baseline))
        per_layer = layer_metrics(traced, reduced, get_spark_s, overhead)
        for r in traced:
            r["trace"] = reduced.get(r["group"])
        shutil.rmtree(os.path.join(out, "eventlog"), ignore_errors=True)
    else:
        rss = peak_rss_mb(b.jvm_pid()) + peak_rss_mb(os.getpid())
    recs = [r for rnd in rounds + extra for r in rnd]
    errors = [f"{r['call']} ({r['group']}): {r['error']}" for r in recs if r["error"]]
    errors += repeat_errors(summarize_rounds(rounds + extra))
    attempted, failed = len(recs), sum(1 for r in recs if r["error"])

    steal, total = (e - s for e, s in zip(cpu_times(), b.cpu_start))
    # share of the host's CPU time the hypervisor took during the run; the
    # wall times on a shared host rise and fall with it
    host["cpu_steal_share"] = steal / total if total else 0.0
    e2e = end_to_end(rounds, setup_s, rss, attempted, failed)
    report = {
        "workload": w.name, "why": w.why, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "rounds": len(rounds),
        "host": host, "input": stats,
        "setup": {"get_spark_s": get_spark_s, "warmup_s": warmup_s,
                  "data_setup_s": data_s},
        "end_to_end": e2e, "calls": calls, "errors": errors,
    }
    if per_layer is not None:
        report["per_layer"] = per_layer
        report["traced_calls"] = traced
    names = per_layer_names() if args.trace else END_TO_END
    source = per_layer if args.trace else e2e
    result = {
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: source[k] for k in names},
    }
    with open(os.path.join(out, "report.json"), "w") as f:
        json.dump({"report": report, "result": result}, f, indent=1)
    return {"report": report, "result": result}


def run_all(args) -> int:
    """Every workload for one seed, one subprocess each; prints each
    workload's end-to-end metrics by name with their units."""
    ok = True
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            print(f"{name}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            ok = False
            continue
        report, result = json.loads(lines[-2]), json.loads(lines[-1])
        ok &= result["correct"]
        print(f"== {name} seed={args.seed} rounds={report['rounds']} "
              f"correct={result['correct']} input={json.dumps(report['input'])}")
        for metric, mv in report["end_to_end"].items():
            print(f"  {metric:<16} {mv['value']:>12.4f} {mv['unit']}")
        for err in report["errors"]:
            print(f"  error: {err}")
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "graph_python_spark", "__init__.py")):
        print(f"graph_python_spark not found under {root}: run from the root "
              "of a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    if args.workload == "all":
        return run_all(args)
    out = run_workload(args, root)
    print(json.dumps(out["report"], default=float))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
