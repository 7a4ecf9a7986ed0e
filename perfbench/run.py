"""Repository benchmark: one command, one process, one workload per run.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The ``interactive`` workload reads the
program's sf0.1 reference fixture (``perfbench/data/``) and ``--seed`` only
orders its queries; ``dedup`` generates fresh corpora from ``--seed``
(cached under ``.perfbench/``). The run starts Spark ``local[N]`` with
N = the cores this process may use, sets up the program, measures for
``--seconds`` seconds of operations, checks every distinct operation's
output against its DuckDB oracle and prints one JSON object as the last
line of standard output. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` turns on Spark's event log and reports the per-layer
metrics instead. The exit code is 0 only when every output matched its
oracle and no operation failed. See ``perfbench/README.md`` for the
workloads, the metrics and the layer map.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import statistics
import subprocess
import sys
import time
import traceback
import warnings

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
PACKAGE = "sdu_hadoop_indexer_spark"
MB = 1024.0 * 1024.0

INTERACTIVE_MIX = (
    "text_term_lookup", "text_bool_and", "text_phrase", "text_bm25",
    "join_self_positional", "text_snippet", "sim_topk_search",
    "agg_hash_groupby", "sql_revenue_topn", "join_inner_hash", "win_rank",
    "topk_per_group", "text_index_nested",
)
DEDUP_PIPELINE = ("dedup_exact", "dedup_minhash_lsh", "dedup_minhash_cluster")

# warm_passes: untimed passes over every op before measuring; min_rounds:
# rounds measured even when they outlast --seconds, so every run's medians
# rest on the same number of complete rounds (the JIT keeps speeding
# these driver-bound ops up for many rounds, so a run that measured fewer
# rounds would read slower); docs: dedup corpus size per scale.
WORKLOADS = {
    "interactive": dict(ops=INTERACTIVE_MIX, warm_passes=2, min_rounds=1),
    "dedup": dict(ops=DEDUP_PIPELINE, warm_passes=2, min_rounds=5,
                  docs={"full": 2000, "tiny": 300}),
}
OP_LAYERS = (
    "text.search", "text.indexer", "llm.similarity", "llm.dedup",
    "operators.aggregates", "operators.joins", "operators.windows",
    "operators.sorts_setops", "sql_api",
)
OP_METRICS = (
    "build_s", "exec_s", "jobs", "stages", "tasks", "catalyst.plan_s",
    "scheduler.idle_s", "executor.cpu_s", "executor.gc_s",
    "executor.busy_frac", "shuffle.write_mb",
)
FOLD_METRICS = (
    "catalyst.plan_s", "scheduler.idle_s", "executor.run_s",
    "executor.cpu_s", "executor.gc_s", "executor.deser_s",
    "executor.busy_frac", "shuffle.write_mb", "shuffle.read_mb",
    "scan.input_mb", "executor.spill_mb", "executor.peak_mem_mb",
    "scheduler.failed_tasks",
)
CC_WARNING = "no fixed point"  # llm.dedup's non-convergence RuntimeWarning


class OpFailed(Exception):
    """An op finished but warned that its output is wrong."""


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac"):
        return "ratio"
    return "count"


def _layer_of(fn) -> str:
    return fn.__module__.removeprefix(PACKAGE + ".")


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _set_local_dirs() -> None:
    """Keep every file Spark, the program and Python write inside WORK."""
    for sub in ("spark-local", "tmp", "stage", "sink", "events", "traces"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_GRAFT_STAGE_DIR"] = os.path.join(WORK, "stage")
    os.environ["SPARK_GRAFT_SINK_ROOT"] = os.path.join(WORK, "sink")
    # the JVMs (spark-submit's launcher, and the driver through its
    # extraJavaOptions) would otherwise write hsperfdata to the system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def _start_session(cores: int, trace: bool):
    from pyspark.sql import SparkSession

    tmp = os.path.join(WORK, "tmp")
    b = (
        SparkSession.builder.master(f"local[{cores}]").appName("perfbench")
        .config("spark.driver.memory", "4g")
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
    )
    if trace:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + os.path.join(WORK, "events"))
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait until the JVM's descendants (the
    Python worker daemon and its workers) have exited too."""
    from pyspark import SparkContext

    from tracing import process_tree

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    orphans = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 15
    while orphans and time.time() < deadline:
        orphans = [p for p in orphans if os.path.exists(f"/proc/{p}")]
        if orphans:
            time.sleep(0.1)
    for pid in orphans:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


class Runner:
    """Runs operations against one Spark session and records, per op, its
    spans, Spark job/stage/task counts and the live cached storage."""

    def __init__(self, spark, queries, spans):
        self.spark = spark
        self.sc = spark.sparkContext
        self.queries = queries
        self.spans = spans
        self.records: list[dict] = []
        self.failures: list[str] = []
        self._next = 0

    def run(self, name: str, sf_dir: str, *, traced=False, collect=False,
            phase="measure"):
        """One op: query-function call, then materialization (noop sink, or
        collect() when the rows are kept for the oracle check). Returns the
        op record, or None when the op raised or warned of wrong output."""
        op_id = f"op{self._next}"
        self._next += 1
        self.sc.setJobGroup(op_id, name)
        rec = {"op_id": op_id, "name": name, "phase": phase, "traced": traced,
               "layer": _layer_of(self.queries[name]), "plan_s": 0.0}
        top = self.spans.open(f"op:{name}", op_id)
        rec["start"] = self.spans.rows[top]["start"]
        t0 = time.perf_counter()
        try:
            with warnings.catch_warnings(record=True) as caught:
                warnings.simplefilter("always", RuntimeWarning)
                s = self.spans.open("build", op_id)
                df = self.queries[name](self.spark, sf_dir)
                rec["build_s"] = self.spans.close(s)
                if traced:
                    s = self.spans.open("plan", op_id)
                    df._jdf.queryExecution().executedPlan()
                    rec["plan_s"] = self.spans.close(s)
                s = self.spans.open("exec", op_id)
                if collect:
                    rec["rows"] = [r.asDict(recursive=True) for r in df.collect()]
                    rec["df"] = df
                else:
                    df.write.format("noop").mode("overwrite").save()
                rec["exec_s"] = self.spans.close(s)
            bad = [w for w in caught if issubclass(w.category, RuntimeWarning)
                   and CC_WARNING in str(w.message)]
            if bad:
                raise OpFailed(str(bad[0].message))
        except Exception as e:  # the run goes on; the op counts as failed
            self.spans.close(top)
            self.failures.append(f"{name}: {type(e).__name__}: {e}")
            traceback.print_exc(file=sys.stderr)
            return None
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        rec["wall_s"] = time.perf_counter() - t0
        self.spans.close(top)
        rec["end"] = self.spans.rows[top]["end"]
        rec.update(self._counts(op_id))
        self.records.append(rec)
        return rec

    def _counts(self, op_id: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(op_id)
        stages = tasks = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                s = st.getStageInfo(sid)
                if s is not None and s.numCompletedTasks > 0:
                    stages += 1
                    tasks += s.numCompletedTasks
        storage = self.sc._jsc.sc().getRDDStorageInfo()
        return {
            "jobs": len(jobs), "stages": stages, "tasks": tasks,
            "storage_mb": sum(r.memSize() + r.diskSize() for r in storage) / MB,
            "rdds": len(storage),
        }


def _warm_up(runner, name, inputs_for, rng):
    """Untimed passes of every op in the workload. The first materializes
    each op with collect() and returns its records (None for an op that
    failed), whose rows the oracle check compares; later passes use the
    noop sink like the measured rounds."""
    spec = WORKLOADS[name]
    checked = []
    for p in range(spec["warm_passes"]):
        ops = list(spec["ops"])
        if name == "interactive":
            rng.shuffle(ops)
        recs = [runner.run(op, inputs_for(("warm", p)), collect=p == 0,
                           phase="warmup") for op in ops]
        checked = checked or recs
    return checked


def _measure(runner, name, inputs_for, rng, seconds, trace):
    """Run rounds until ``seconds`` of operations are measured. A round is
    one seeded permutation of the whole interactive mix (every op equally
    represented; each query is one latency sample), or one dedup pipeline
    on a fresh corpus. Rounds always complete. In a traced run each op
    alternates between traced and plain executions, half the ops starting
    traced and half plain, so drift within the run cancels out of the
    comparison of the two. Returns the wall time of every round in which
    no op failed."""
    spec = WORKLOADS[name]
    ops = spec["ops"]
    min_rounds = max(spec["min_rounds"], 2 if trace else 1)
    rounds, measured, rnd, seen = [], 0.0, 0, {}
    while rnd < min_rounds or measured < seconds:
        sf_dir = inputs_for(rnd)
        if sf_dir is None:
            break
        order = rng.sample(ops, len(ops)) if name == "interactive" else ops
        wall, ok = 0.0, True
        for op in order:
            k = seen[op] = seen.get(op, -1) + 1
            traced = trace and (k + ops.index(op)) % 2 == 0
            rec = runner.run(op, sf_dir, traced=traced)
            if rec is None:
                ok = False
                continue
            wall += rec["wall_s"]
        if ok:
            rounds.append(wall)
        measured += wall
        rnd += 1
    return rounds


def _op_medians(recs: list[dict]) -> dict[str, float]:
    by_op: dict[str, list[float]] = {}
    for r in recs:
        by_op.setdefault(r["name"], []).append(r["wall_s"])
    return {op: statistics.median(xs) for op, xs in by_op.items()}


def _geo_mean_ratio(num: dict[str, float], den: dict[str, float]) -> float:
    """Geometric mean over the ops in both of num[op] / den[op], minus 1."""
    logs = [math.log(num[op] / den[op]) for op in num if den.get(op)]
    return math.exp(statistics.fmean(logs)) - 1.0 if logs else 0.0


def _per_layer(runner, setup, fold, cores) -> dict[str, float]:
    """Per-layer metrics, each the mean over measured op executions (counts
    per op; busy_frac as total run time over total wall x cores)."""
    from tracing import op_fold

    recs = [r for r in runner.records if r["phase"] == "measure"]
    for r in recs:
        g = fold.get(r["op_id"])
        if g is not None:
            r.update(op_fold(g, r["start"], r["end"], cores))
    out: dict[str, float] = {}

    def agg(prefix: str, rs: list[dict], names) -> None:
        for m in names:
            key = f"{prefix}{m}"
            if not rs:
                out[key] = 0.0
            elif m == "executor.busy_frac":
                wall = sum(r["wall_s"] for r in rs)
                out[key] = sum(r.get("executor.run_s", 0.0) for r in rs) / (wall * cores)
            elif m == "executor.peak_mem_mb":
                out[key] = max(r.get(m, 0.0) for r in rs)
            elif m == "catalyst.plan_s":
                tr = [r for r in rs if r["traced"]]
                out[key] = statistics.fmean(r["plan_s"] for r in tr) if tr else 0.0
            else:
                out[key] = statistics.fmean(r.get(m, 0.0) for r in rs)

    for layer in OP_LAYERS:
        agg(f"{layer}.", [r for r in recs if r["layer"] == layer], OP_METRICS)
    agg("", recs, FOLD_METRICS)
    out["caching.storage_mb"] = max((r["storage_mb"] for r in runner.records), default=0.0)
    out["caching.rdds"] = float(max((r["rdds"] for r in runner.records), default=0))
    out["session.start_s"] = setup["session"]
    out["registry.load_s"] = setup["registry"]
    out["setup.warmup_s"] = setup["warmup"]
    # traced against plain executions of each op inside this run; both run
    # with the event log on, so its cost is not in this figure
    out["trace.overhead_frac"] = _geo_mean_ratio(
        _op_medians([r for r in recs if r["traced"]]),
        _op_medians([r for r in recs if not r["traced"]]))
    # drift within the run: each op's later-half samples against its
    # earlier-half samples (medians), averaged over ops
    ratios = []
    for op in {r["name"] for r in recs}:
        xs = [r["wall_s"] for r in recs if r["name"] == op]
        h = len(xs) // 2
        if h:
            ratios.append(statistics.median(xs[-h:]) / statistics.median(xs[:h]))
    out["run.drift_frac"] = statistics.fmean(ratios) - 1.0 if ratios else 0.0
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny = the sf0.001 fixture / 300-doc corpora, for the smoke test")
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be non-negative")

    needed = [os.path.join(ROOT, PACKAGE, "registry.py"),
              os.path.join(ROOT, "tools", "gen_scale_fixture.py"),
              os.path.join(ROOT, "tools", "check_oracle.py")]
    missing = [p for p in needed if not os.path.isfile(p)]
    if missing:
        print(f"perfbench: program files not found: {missing}; run from the "
              "root of a checkout", file=sys.stderr)
        return 2

    _set_local_dirs()
    sys.path.insert(0, ROOT)
    sys.path.insert(1, HERE)
    from check import check_outputs
    from inputs import Inputs, fixture
    from tracing import Spans, fold_event_log, peak_rss_mb, process_tree
    from tools import gen_scale_fixture

    spec, cores, trace = WORKLOADS[args.workload], _cores(), bool(args.trace)
    spans = Spans()
    inputs = Inputs(os.path.join(WORK, "inputs"), gen_scale_fixture)
    s = spans.open("inputs.generate")
    # inputs_for(key) -> the sf dir for ("warm", pass) or for timed round i
    if args.workload == "interactive":
        fixture_dir = fixture(args.scale)

        def inputs_for(key):
            return fixture_dir
    else:
        # every warm-up pass and every timed pipeline gets a corpus of its
        # own, so each pipeline misses the program's caches; a run that
        # uses up the pre-generated pool stops measuring
        docs = spec["docs"][args.scale]
        n_warm = spec["warm_passes"]
        pool = max(spec["min_rounds"], math.ceil(args.seconds / 3.0))
        corpora = [inputs.corpus(args.seed, docs, i) for i in range(n_warm + pool)]

        def inputs_for(key):
            if isinstance(key, tuple):
                return corpora[key[1]]
            return corpora[n_warm + key] if n_warm + key < len(corpora) else None
    spans.close(s)

    setup = {}
    s = spans.open("setup")
    t0 = time.perf_counter()
    spark = _start_session(cores, trace)
    from sdu_hadoop_indexer_spark import session

    session.tune(spark)
    setup["session"] = time.perf_counter() - t0
    t1 = time.perf_counter()
    from sdu_hadoop_indexer_spark import registry

    queries = registry.all_queries()
    setup["registry"] = time.perf_counter() - t1
    app_id = spark.sparkContext.applicationId
    runner = Runner(spark, queries, spans)
    rng = random.Random(args.seed)
    try:
        t2 = time.perf_counter()
        checked = _warm_up(runner, args.workload, inputs_for, rng)
        setup["warmup"] = time.perf_counter() - t2
        spans.close(s)
        s = spans.open("measure")
        rounds = _measure(runner, args.workload, inputs_for, rng, args.seconds, trace)
        spans.close(s)
        rss = peak_rss_mb(process_tree(os.getpid()))
        s = spans.open("check")
        mismatches = check_outputs(
            [r for r in checked if r is not None], registry.all_oracles(),
            inputs_for(("warm", 0)), cores, os.path.join(WORK, "tmp"))
        spans.close(s)
    finally:
        _shutdown(spark)

    attempted = len(runner.records) + len(runner.failures)
    failed = len(runner.failures)
    for m in mismatches:
        print(f"perfbench: oracle mismatch: {m}", file=sys.stderr)
    for f in runner.failures:
        print(f"perfbench: failed op: {f}", file=sys.stderr)
    correct = not mismatches and not failed and None not in checked
    setup_s = setup["session"] + setup["registry"] + setup["warmup"]
    recs = [r for r in runner.records if r["phase"] == "measure"]
    # geometric mean, as TPC-H's power metric takes it: every query of the
    # mix weighs the same, and a change to any one of them moves it
    gmean = (math.exp(statistics.fmean(math.log(r["wall_s"]) for r in recs))
             if recs else 0.0)
    if trace:
        fold = fold_event_log(os.path.join(WORK, "events", app_id))
        layer = _per_layer(runner, setup, fold, cores)
        layer["inputs.gen_s"] = inputs.gen_s
        layer["memory.peak_rss_mb"] = sum(rss.values())
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in sorted(layer.items())}
        os.remove(os.path.join(WORK, "events", app_id))
    else:
        metrics = {
            "latency_gmean_s": {"value": gmean, "unit": "s"},
            "round_s": {"value": statistics.median(rounds) if rounds else 0.0,
                        "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
        }
    spans.write(os.path.join(
        WORK, "traces", f"{args.workload}-s{args.seed}-t{args.trace}.json"),
        rss_mb=rss, ops=[{k: v for k, v in r.items() if k not in ("rows", "df")}
                         for r in runner.records])
    print(
        f"perfbench: {args.workload} seed={args.seed} rounds={len(rounds)} "
        f"ops={attempted} gen={inputs.gen_s:.1f}s setup={setup_s:.2f}s "
        f"gmean={gmean:.4f}s", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
