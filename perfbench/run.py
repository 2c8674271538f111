"""Benchmark entry point.

    python3 perfbench/run.py --workload lake_etl --seed 1 --seconds 8 --trace 0

Runs one workload (``lake_etl`` or ``lake_query``, see workloads.py)
from the root of a source checkout, in a fresh process, on
``local[<cores>]``, as one client in a closed loop. Inputs come from the
seed (inputs.py) and are cached under ``.perfbench/inputs``; everything
else a run writes goes under ``.perfbench/work`` and is removed at exit.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
per-layer composition under the Spark event log and prints the
per-layer metrics. The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. Exit code 2, with no
result printed, means the checkout holds no engine package.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager

from workloads import CORPUS_STAGES, QUERY_NAMES, WORKLOADS, ratio

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

END_TO_END = {"setup_s": "s", "op_p50_s": "s"}
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.peak_rss_mb": "MB",
    "session.task_busy_frac": "ratio",
    "session.driver_gap_s": "s",
    "session.shuffle_write_bytes": "bytes",
    "session.spill_bytes": "bytes",
    "session.jvm_gc_s": "s",
    "session.executor_cpu_s": "s",
    "session.tasks": "count",
    "sources.readers.read_parquet_s": "s",
    "sources.readers.read_csv_s": "s",
    "sources.readers.bytes_scanned": "bytes",
    "sources.readers.raw_scans_per_run": "count",
    "sources.schema_cache.read_parquet_cached_s": "s",
    "sources.writers.write_parquet_s": "s",
    "sources.writers.bytes_written": "bytes",
    "sources.writers.files_written": "count",
    "sources.writers.bytes_per_input_byte": "ratio",
    "pipelines.immigration.build_immigration_fact_s": "s",
    "pipelines.immigration.build_arrival_date_dim_s": "s",
    "pipelines.immigration.build_demographics_s": "s",
    "pipelines.immigration.build_country_s": "s",
    "pipelines.immigration.fact_dedup_shuffle_bytes": "bytes",
    "operators.joins.dim_join_s": "s",
    "operators.joins.broadcast_join_frac": "ratio",
    "quality.suite_run_s": "s",
    "quality.fk_coverage_s": "s",
    "quality.checks_run": "count",
    "quality.checks_failed": "count",
    **{f"plans.queries.{q}.{k}": u for q in QUERY_NAMES
       for k, u in (("build_s", "s"), ("exec_s", "s"), ("tasks", "count"))},
    "operators.textstats.features_s": "s",
    "operators.pii.scrub_s": "s",
    "operators.dedup.exact_s": "s",
    "operators.dedup.minhash_lsh_s": "s",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.verified_pairs": "count",
    "operators.dedup.pair_precision": "ratio",
    "operators.dedup.connected_components_s": "s",
    "operators.dedup.joint_near_dup_survivors_s": "s",
    "operators.similarity.semantic_dedup_s": "s",
    "operators.similarity.candidate_pairs": "count",
    "operators.similarity.pair_precision": "ratio",
    "operators.textstats.chunk_s": "s",
    "pipelines.corpus.build_training_corpus_s": "s",
    **{f"pipelines.corpus.stage_rows.{s}": "count" for s in CORPUS_STAGES},
    "trace.untraced_op_s": "s",
    "trace.traced_op_s": "s",
    "trace.overhead_frac": "ratio",
}


PAIRED = 4  # labels run both untraced and traced in a traced window


def cores() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work_dir: str) -> None:
    """Everything the engine and its JVM write stays in ``work_dir``,
    and the engine runs one task slot per core (get_spark's default of
    32 slots oversubscribes a small machine)."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work_dir, sub))
    tmp = os.path.join(work_dir, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    # PerfDisableSharedMem: the JVM's perf counters stay in memory
    # instead of a file under the system /tmp. TieredStopAtLevel=1:
    # methods are compiled by C1 only, so the session is at its steady
    # speed after one warm-up round; with C2 the compiler threads take
    # two or more cores for four to five more rounds (README.md).
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem -XX:TieredStopAtLevel=1")
    import tempfile

    tempfile.tempdir = tmp


def generate(kind: str, seed: int, size: int) -> tuple[str, dict]:
    """Inputs for (kind, seed, size), generated in a child process so
    the generator's memory never counts toward the benchmark's peak
    resident memory."""
    import subprocess

    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "inputs.py"), os.path.join(STATE, "inputs"),
         kind, str(seed), str(size)],
        check=True, capture_output=True, text=True,
    ).stdout
    path, manifest = json.loads(out)
    return path, manifest


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Engine:
    """One engine session on a JVM of its own; ``close`` ends the JVM,
    so the next Engine pays JVM start, class loading and JIT again."""

    def __init__(self, extra_conf: dict[str, str] | None = None):
        from pyspark import SparkContext

        from us_immigration_data_lake_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=extra_conf)
        self.start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.proc = SparkContext._gateway.proc

    def peak_rss_mb(self) -> float:
        return (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(self.proc.pid)) / 1024

    def close(self) -> None:
        from pyspark import SparkContext

        self.spark.stop()
        SparkContext._gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.proc.stdin.close()  # the JVM exits when its stdin closes
        self.proc.wait(timeout=60)


class Tracer:
    """Spans around public calls: wall windows kept in memory, and the
    span name set as the Spark job group so the event log can attribute
    tasks to it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.windows: dict[str, list[tuple[float, float]]] = {}

    @contextmanager
    def span(self, name: str):
        self.sc.setJobGroup(name, name)
        t0 = time.time()
        try:
            yield
        finally:
            self.windows.setdefault(name, []).append((t0, time.time()))
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def seconds(self, name: str) -> float:
        return sum(hi - lo for lo, hi in self.windows.get(name, []))


def run_op(wl, spark, label: str, span=None, record=True) -> tuple[str, float, str | None]:
    """One operation: (label, seconds, error or None). ``span``, when
    given, is passed to the workload to trace inside the operation.
    With ``record``, the workload records the operation's output for
    the check after the clock stops."""
    t0 = time.perf_counter()
    try:
        output = wl.run_op(spark, label, span)
    except Exception as exc:  # a failed operation is counted, not fatal
        return label, time.perf_counter() - t0, f"{type(exc).__name__}: {exc}"
    seconds = time.perf_counter() - t0
    if record:
        wl.record(label, output)
    return label, seconds, None


def warm_up(wl, spark) -> list[tuple[str, float, str | None]]:
    """One round whose outputs are not kept: it only loads classes and
    compiles code."""
    return [run_op(wl, spark, label, record=False) for label in wl.ROUND]


def run_window(wl, spark, seconds: float) -> list[tuple[str, float, str | None]]:
    """Whole rounds of operations until ``seconds`` have passed (at
    least one round)."""
    ops = []
    start = time.perf_counter()
    while True:
        ops += [run_op(wl, spark, label) for label in wl.ROUND]
        if time.perf_counter() - start >= seconds:
            return ops


def count_failed(ops, problems: dict[str, list[str]]) -> int:
    """Operations that raised, or whose label's output check failed."""
    return sum(1 for label, _, err in ops if err or problems.get(label))


def check_outputs(wl, spark) -> dict[str, list[str]]:
    try:
        return wl.check(spark)
    except Exception as exc:  # an output that cannot be checked is wrong
        return {label: [f"check raised {exc!r}"] for label in wl.ROUND}


def timed_run(wl, seconds: float) -> dict:
    """Set up once (JVM start plus one warm-up round: setup_s), time
    whole rounds for ``seconds``, then check the outputs on the warmed
    session."""
    phases = [("start", time.perf_counter())]
    engine = Engine()
    try:
        phases.append(("get_spark", time.perf_counter()))
        ops = warm_up(wl, engine.spark)
        phases.append(("warm-up", time.perf_counter()))
        timed = run_window(wl, engine.spark, seconds)
        phases.append(("timed window", time.perf_counter()))
        problems = check_outputs(wl, engine.spark)
        phases.append(("check", time.perf_counter()))
    finally:
        engine.close()
    phases.append(("close", time.perf_counter()))
    setup_s = phases[2][1] - phases[0][1]
    times = [t for _, t, _ in timed]
    ops += timed
    # At most ten timed operations per run: no percentile below the
    # maximum has ten samples beyond it, and the maximum is too noisy
    # to bound, so the slowest operation is reported here only.
    _report(ops, problems, f"slowest timed operation {max(times):.3f}s; " + _phases(phases))
    values = {"setup_s": setup_s, "op_p50_s": statistics.median(times)}
    return _result(ops, count_failed(ops, problems), values, END_TO_END)


def traced_window(wl, spark, span) -> tuple[list, list]:
    """One round with every operation traced. The first ``PAIRED``
    labels also run untraced, right before or right after the traced
    run, the order flipping from one label to the next: the ratio of
    each pair gives the spans' overhead."""
    untraced, traced = [], []
    for i, label in enumerate(wl.ROUND):
        order = (False, True) if i % 2 == 0 else (True, False)
        for trace_it in order if i < PAIRED else (True,):
            op = run_op(wl, spark, label, span if trace_it else None)
            (traced if trace_it else untraced).append(op)
    return untraced, traced


def traced_run(wl, seconds: float) -> dict:
    """Per-layer metrics. The session starts with the Spark event log
    on and runs one warm-up round. Then the workload's span-by-span
    composition runs, then one round: for a workload with spans inside
    its operations, a traced round with untraced pairs (traced_window),
    otherwise an ordinary one. Then the outputs are checked. The work is
    fixed, so ``seconds`` is not used."""
    import eventlog

    log_dir = os.path.join(wl.work_dir, "eventlog")
    os.makedirs(log_dir)
    engine = Engine({
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{log_dir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    phases = [("start", time.perf_counter())]
    try:
        spark = engine.spark
        log_path = os.path.join(log_dir, spark.sparkContext.applicationId)
        warm = warm_up(wl, spark)
        phases.append(("warm-up", time.perf_counter()))
        tracer = Tracer(spark)
        m = wl.trace(spark, tracer)
        phases.append(("composition", time.perf_counter()))
        lo = time.time()
        if wl.SPANS_IN_OPS:
            untraced, traced = traced_window(wl, spark, tracer.span)
        else:  # a traced operation is the untraced one
            untraced, traced = [], run_window(wl, spark, 0)
        hi = time.time()
        phases.append(("window", time.perf_counter()))
        m["session.peak_rss_mb"] = engine.peak_rss_mb()
        problems = check_outputs(wl, spark)
        phases.append(("check", time.perf_counter()))
    finally:
        engine.close()
    log = eventlog.parse(log_path, tracer.windows)
    phases.append(("event log", time.perf_counter()))
    window = untraced + traced

    m["session.get_spark_s"] = engine.start_s
    w = log.window(lo, hi)
    m["session.task_busy_frac"] = ratio(w.task_s, (hi - lo) * cores())
    m["session.driver_gap_s"] = (hi - lo) - w.busy_s(lo, hi)
    m["session.shuffle_write_bytes"] = w.shuffle_write_bytes
    m["session.spill_bytes"] = w.spill_bytes
    m["session.jvm_gc_s"] = w.gc_s
    m["session.executor_cpu_s"] = w.cpu_s
    m["session.tasks"] = w.tasks
    m["sources.readers.bytes_scanned"] = log.file_scans("", lo, hi)[1]
    m["sources.readers.raw_scans_per_run"] = log.file_scans("/sas_data", lo, hi)[0] / len(window)
    bcast, joins = log.join_counts(lo, hi)
    m["operators.joins.broadcast_join_frac"] = ratio(bcast, joins)
    fact = log.spans.get("pipelines.immigration.build_immigration_fact")
    m["pipelines.immigration.fact_dedup_shuffle_bytes"] = fact.shuffle_write_bytes if fact else 0
    for q in QUERY_NAMES:
        m[f"plans.queries.{q}.tasks"] = sum(
            log.spans[s].tasks for s in (f"plans.queries.{q}.build", f"plans.queries.{q}.exec")
            if s in log.spans)
    for name in tracer.windows:
        if f"{name}_s" in PER_LAYER:
            m[f"{name}_s"] = tracer.seconds(name)

    m["trace.traced_op_s"] = statistics.median([t for _, t, _ in traced])
    if untraced:
        m["trace.untraced_op_s"] = statistics.median([t for _, t, _ in untraced])
        # A pair runs the same label twice, and the second run is
        # favoured; half the pairs put the traced run second, so the
        # geometric mean of the per-pair ratios cancels that advantage.
        logs = [math.log(t / u) for (_, t, _), (_, u, _) in zip(traced, untraced)]
        m["trace.overhead_frac"] = math.exp(statistics.fmean(logs)) - 1
    ops = warm + window
    _report(ops, problems, _phases(phases))
    return _result(ops, count_failed(ops, problems), {k: m.get(k, 0) for k in PER_LAYER},
                   PER_LAYER)


def _report(ops, problems, extra: str) -> None:
    print(file=sys.stderr)  # end the engine's progress-bar line
    for label, t, err in ops:
        print(f"op {label} {t:.4f}s{' ERROR ' + err if err else ''}", file=sys.stderr)
    for label, issues in problems.items():
        for issue in issues:
            print(f"check {label}: {issue}", file=sys.stderr)
    print(extra, file=sys.stderr)


def _phases(phases) -> str:
    return "phases: " + ", ".join(
        f"{name} {t - prev:.1f}s" for (_, prev), (name, t) in zip(phases, phases[1:]))


def _result(ops, failed: int, values: dict, units: dict) -> dict:
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import us_immigration_data_lake_spark as engine_pkg
    except ImportError as exc:
        print(f"cannot import the engine package from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(engine_pkg.__file__).startswith(ROOT + os.sep):
        print(f"the engine package comes from {engine_pkg.__file__}, not from {ROOT}",
              file=sys.stderr)
        return 2

    cls = WORKLOADS[args.workload]
    data_dir, manifest = generate(cls.kind, args.seed, cls.size)
    work_dir = os.path.join(STATE, "work", str(os.getpid()))
    shutil.rmtree(work_dir, ignore_errors=True)
    pin_environment(work_dir)
    try:
        wl = cls(data_dir, manifest, work_dir)
        run = traced_run if args.trace else timed_run
        result = run(wl, args.seconds)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
