"""Benchmark entry point.

    python3 perfbench/run.py --workload archive_cycle --seed 1 --seconds 22 --trace 0

Run from the repository root. Generates the workload's inputs from
``--seed`` under ``.perfbench-work/``, sets the program up (the
process's first session start, staging, warm-up), computes
the expected outputs, then drives one closed-loop client until
``--seconds`` of operation time have been measured. Every operation's
output is checked; a wrong or raising operation counts as failed.

Prints human-readable detail lines, then as its last stdout line one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones from spans around each program call plus the Spark
status-tracker, GC-MXBean and streaming-listener collectors. Spans and
results are kept under ``.perfbench-work/``.
"""

from __future__ import annotations

import argparse
import bisect
import json
import os
import resource
import shlex
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench-work")

WORKLOADS = ("archive_cycle", "registry_mix")
# The program's own knobs: unset so every run measures the defaults.
PROGRAM_KNOBS = (
    "SPARK_GRAFT_STATE_PARTS",
    "SPARK_GRAFT_STATE_PROVIDER",
    "SPARK_GRAFT_ON_CLUSTER",
    "SPARK_GRAFT_SF_DIR",
    "PG_ARCHIVER_JDBC_URL",
)
# The JVM heap cap. The session builder asks for 48g; on a shared box a
# cap the box can hold keeps peak RSS a property of the workload rather
# than of how far the collector lets the heap grow.
DRIVER_MEMORY = "4g"
TAIL_MIN_BEYOND = 10  # samples required beyond the reported tail percentile

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "ops_per_s": "1/s",
    "rows_per_s": "rows/s",
}
# The defining modules (``fn.__module__``) of the registry workloads' ops.
REGISTRY_MODULES = (
    "operators.sorts",
    "operators.filters",
    "operators.scans",
    "operators.aggregates",
    "operators.joins",
    "operators.windows",
    "functions.text",
    "functions.similarity",
    "functions.udfs",
    "functions.dedup",
    "streaming.archival",
    "streaming.windows",
)
PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "sources.derby.stage_s": "s",
    "sources.derby.stage_rows": "rows",
    "sources.jdbc.read_table_s": "s/op",
    "sources.jdbc.delete_archived_s": "s/op",
    "sources.jdbc.delete_rows": "rows",
    "sources.jdbc.delete_statements": "count",
    "streaming.archival.archive_batch_s": "s/op",
    "streaming.archival.files_written": "count",
    "streaming.archival.bytes_written": "B",
    "streaming.archival.rows_archived": "rows",
    "streaming.archival.bytes_per_row": "B",
    "registry.plan_s": "s/op",
    "registry.collect_s": "s/op",
    **{f"registry.{m}.op_p50_s": "s" for m in REGISTRY_MODULES},
    "perfbench.op_self_s": "s/op",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.failed_tasks": "count",
    "jvm.gc_ms_per_op": "ms/op",
    "streaming.triggers_per_op": "count",
    "streaming.trigger_ms_p50": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows_total": "rows",
    "streaming.state_memory_bytes": "B",
    "oracle.mismatches": "count",
    "memory.peak_rss_mb": "MB",
    "jvm.peak_rss_mb": "MB",
    "python.peak_rss_mb": "MB",
    "trace.op_p50_s": "s",
}


def pin_environment(run_dir: str) -> dict[str, str]:
    """Fix everything the measurement depends on before Spark starts,
    keep every file the run writes inside ``run_dir``, and return the
    pinned values so they can be echoed."""
    ncpu = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    for k in list(os.environ):
        if k in PROGRAM_KNOBS or k.startswith("ARCHIVER_"):
            del os.environ[k]
    java_opts = " ".join([
        f"-Djava.io.tmpdir={tmp}",
        "-Duser.timezone=UTC",
        "-XX:-UsePerfData",  # no hsperfdata files outside the checkout
        f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}",
    ])
    pinned = {
        "SPARK_GRAFT_CPUS": str(ncpu),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "TZ": "UTC",
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",  # spark-submit's launcher JVM
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--driver-java-options", shlex.quote(java_opts),
            "--driver-memory", DRIVER_MEMORY,
            "--conf", "spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]),
    }
    os.environ.update(pinned)
    unset = {k: "<unset>" for k in PROGRAM_KNOBS}
    unset["ARCHIVER_*"] = "<unset>"
    return {**pinned, **unset}


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    out, stack = [], [pid]
    while stack:
        p = stack.pop()
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tids:
            try:
                with open(f"/proc/{p}/task/{t}/children") as f:
                    kids = [int(k) for k in f.read().split()]
            except OSError:
                continue
            out += kids
            stack += kids
    return out


class Memory:
    """Peak RSS of the JVM, the Python driver and the Python workers the
    JVM forks. JVM and driver report their own high-water mark (VmHWM,
    ru_maxrss); workers come and go, so after every op the high-water
    marks of the workers alive then are summed, and the largest such sum
    counts."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid
        self.workers_kb = 0
        self.workers_n = 0

    def sample(self) -> None:
        live = [_hwm_kb(pid) for pid in _descendants(self.jvm_pid)]
        if sum(live) > self.workers_kb:
            self.workers_kb, self.workers_n = sum(live), len(live)

    def peak_mb(self) -> dict[str, float]:
        """Peak RSS in MB: total, JVM, and Python (driver + workers)."""
        self.sample()
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_kb = _hwm_kb(self.jvm_pid)
        print(f"peak RSS MB: jvm {jvm_kb / 1024:.1f}, driver {py_kb / 1024:.1f}, "
              f"{self.workers_n} workers {self.workers_kb / 1024:.1f}")
        return {
            "memory.peak_rss_mb": (jvm_kb + py_kb + self.workers_kb) / 1024.0,
            "jvm.peak_rss_mb": jvm_kb / 1024.0,
            "python.peak_rss_mb": (py_kb + self.workers_kb) / 1024.0,
        }


def weighted_quantile(ranked: list[tuple[float, float]], q: float) -> float:
    """The q-quantile of ascending (value, weight) pairs, interpolated
    linearly between weighted plotting positions: each value sits at the
    middle of its share of the total weight."""
    total = sum(w for _, w in ranked)
    pos, cum = [], 0.0
    for _, w in ranked:
        pos.append((cum + w / 2) / total)
        cum += w
    j = bisect.bisect_right(pos, q)
    if j == 0:
        return ranked[0][0]
    if j == len(pos):
        return ranked[-1][0]
    lo, hi = ranked[j - 1][0], ranked[j][0]
    f = (q - pos[j - 1]) / (pos[j] - pos[j - 1])
    return lo if f == 0 or lo == hi else lo + f * (hi - lo)


def mix_stats(samples: list[tuple[str, float, bool, int]]) -> dict:
    """Latency and throughput of the workload's op mix from (op name,
    seconds, ok, input rows) samples.

    Every op name in the mix weighs the same however often it ran in the
    window (each sample weighs 1 / its name's count), so a run that ended
    partway through a pass reports the same mix as one that ended on a
    pass boundary. Failed ops count as infinitely slow in the quantiles,
    and in the throughputs as measured time but not as completed ops or
    rows. The tail is the quantile at the highest percentile with at least
    TAIL_MIN_BEYOND samples beyond it, never below the median.
    """
    counts: dict[str, int] = {}
    for name, *_ in samples:
        counts[name] = counts.get(name, 0) + 1
    weighted = [(1.0 / counts[name], t, ok, rows) for name, t, ok, rows in samples]
    ranked = sorted((t if ok else float("inf"), w) for w, t, ok, _ in weighted)
    n = len(samples)
    i = max(n - 1 - TAIL_MIN_BEYOND, -(-(n - 1) // 2))
    q_tail = i / (n - 1) if n > 1 else 0.5
    # Completed ops (rows) per second of measured op time.
    busy = sum(w * t for w, t, _, _ in weighted)
    return {
        "op_p50_s": weighted_quantile(ranked, 0.5),
        "op_tail_s": weighted_quantile(ranked, q_tail),
        "tail_pct": 100.0 * q_tail,
        "ops_per_s": sum(w for w, _, ok, _ in weighted if ok) / busy,
        "rows_per_s": sum(w * rows for w, _, ok, rows in weighted if ok) / busy,
    }


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def stop_spark() -> None:
    """Stop Spark, then the JVM it launched, and wait until it has ended."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args, run_dir: str, ncpu: int) -> dict:
    import numpy as np

    import workloads
    from pg_archiver_spark.session import get_spark
    from spans import SparkCollector, Tracer, make_stream_listener

    wl = workloads.make(args.workload, ncpu)
    wl.generate(args.seed, run_dir)
    tracer = Tracer(bool(args.trace))

    # Set-up as a user pays it: the first session of the process (JVM
    # launch included), staging, warm-up.
    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench")
    t1 = time.perf_counter()
    stage_rows = wl.stage(spark, tracer)
    t2 = time.perf_counter()
    wl.warmup(spark)
    t3 = time.perf_counter()
    session_s, stage_s, warmup_s = t1 - t0, t2 - t1, t3 - t2
    setup_s = t3 - t0
    print(f"setup: session {session_s:.3f} s, staging {stage_s:.3f} s, warm-up {warmup_s:.3f} s", flush=True)

    wl.prepare_checks()  # expected outputs; not part of set-up time

    memory = Memory(spark._jvm.java.lang.ProcessHandle.current().pid())
    collector = listener = None
    if args.trace:
        collector = SparkCollector(spark)
        listener = make_stream_listener()
        spark.streams.addListener(listener)

    rng = np.random.default_rng([args.seed, 1])
    schedule = wl.schedule(rng)
    times, results, op_stats, stream_events = [], [], [], []
    measured = 0.0
    wall0 = time.perf_counter()
    seen: set[str] = set()
    # Measure for --seconds of op time, and at least until every op of the
    # mix has run once (bounded by a wall-clock cap).
    while (measured < args.seconds or not seen >= wl.op_names) and time.perf_counter() - wall0 < 3 * args.seconds + 30:
        if wl.exhausted():
            break
        item = next(schedule)
        spark.catalog.clearCache()
        op = len(times)
        if collector:
            collector.begin(f"perfbench-op-{op}")
        tracer.op_id = op
        out, error = None, None
        t0 = time.perf_counter()
        try:
            with tracer.span("op"):
                out = wl.run_op(spark, tracer, item)
        except Exception:  # noqa: BLE001 — a raising op is a failed op
            error = traceback.format_exc(limit=3)
        dt = time.perf_counter() - t0
        tracer.op_id = None
        if collector:
            op_stats.append(collector.end())
            stream_events.append(listener.take())
        if error is None:
            try:
                res = wl.check(spark, item, out)
            except Exception:  # noqa: BLE001 — a check that cannot run fails the op
                error = traceback.format_exc(limit=3)
        if error is not None:
            res = workloads.OpResult(str(item), "failed", False, 0, {"error": error})
            print(f"op {op} {res.name} FAILED:\n{error}", file=sys.stderr, flush=True)
        elif not res.ok:
            print(f"op {op} {res.name} WRONG OUTPUT {res.info.get('problems', '')}", file=sys.stderr, flush=True)
        measured += dt
        times.append(dt)
        results.append(res)
        seen.add(res.name)
        memory.sample()
    peak_mb = memory.peak_mb()

    n = len(times)
    failed = sum(not r.ok for r in results)
    samples = [(r.name, t, r.ok, r.input_rows) for t, r in zip(times, results)]
    mix = mix_stats(samples)
    p50 = mix["op_p50_s"]
    metrics = {
        "setup_s": setup_s,
        "op_p50_s": p50,
        "op_tail_s": mix["op_tail_s"],
        "ops_per_s": mix["ops_per_s"],
        "rows_per_s": mix["rows_per_s"],
    }
    print(f"ops: {n} attempted, {failed} failed, failed_op_ratio {failed / n} "
          f"(samples {n}; op_tail_s is p{mix['tail_pct']:.1f}; measured {measured:.3f} s)")
    archived = sum(r.info.get("rows_archived", 0) for r in results)
    if archived:
        bpr = sum(r.info.get("bytes_written", 0) for r in results) / archived
        print(f"bytes_per_row: {bpr} B (archived Parquet bytes per archived row)")
    per_op: dict[str, list[float]] = {}
    for t, r in zip(times, results):
        per_op.setdefault(r.name, []).append(t)
    print("per-op median s (count): " + ", ".join(
        f"{k} {statistics.median(v):.3f} ({len(v)})" for k, v in sorted(per_op.items())))
    for k, v in metrics.items():
        print(f"{k}: {v} {END_TO_END_UNITS[k]}")

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}"
    if not args.trace:
        with open(os.path.join(WORK, "results", f"{tag}.json"), "w") as f:
            json.dump({**metrics, "samples": samples}, f)
        values = metrics
        units = END_TO_END_UNITS
    else:
        values = layer_metrics(tracer, results, op_stats, stream_events, session_s, stage_s, stage_rows, p50)
        values.update(peak_mb)
        untraced = os.path.join(WORK, "results", f"{tag}.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["op_p50_s"]
            print(f"tracing overhead: op_p50_s traced {p50} - untraced {base} = {p50 - base} s")
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.dump(os.path.join(WORK, "traces", f"{tag}.json"))
        units = PER_LAYER_UNITS
        for k, v in values.items():
            print(f"{k}: {v} {units[k]}")
    return {
        "correct": failed == 0,
        "attempted": n,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }


def layer_metrics(tracer, results, op_stats, stream_events, session_s, stage_s, stage_rows, p50) -> dict:
    n = len(results)
    selfs = tracer.self_times()

    def per_op(span: str) -> float:
        return sum(selfs.get(span, [])) / n

    def info_mean(key: str) -> float:
        return _mean(r.info.get(key, 0) for r in results)

    triggers = [e for evs in stream_events for e in evs]
    by_module: dict[str, list[float]] = {}
    op_spans = {s["op"]: s for s in tracer.spans if s["name"] == "op"}
    for i, r in enumerate(results):
        if r.ok and i in op_spans:
            by_module.setdefault(r.layer, []).append(op_spans[i]["end"] - op_spans[i]["start"])
    archived = sum(r.info.get("rows_archived", 0) for r in results)
    staged = stage_rows > 0
    out = {
        "session.get_spark_s": session_s,
        "sources.derby.stage_s": stage_s if staged else 0.0,
        "sources.derby.stage_rows": stage_rows,
        "sources.jdbc.read_table_s": per_op("sources.jdbc.read_table"),
        "sources.jdbc.delete_archived_s": per_op("sources.jdbc.delete_archived"),
        "sources.jdbc.delete_rows": info_mean("delete_rows"),
        "sources.jdbc.delete_statements": info_mean("delete_statements"),
        "streaming.archival.archive_batch_s": per_op("streaming.archival.archive_batch"),
        "streaming.archival.files_written": info_mean("files_written"),
        "streaming.archival.bytes_written": info_mean("bytes_written"),
        "streaming.archival.rows_archived": info_mean("rows_archived"),
        "streaming.archival.bytes_per_row": (
            sum(r.info.get("bytes_written", 0) for r in results) / archived if archived else 0.0
        ),
        "registry.plan_s": per_op("registry.plan"),
        "registry.collect_s": per_op("registry.collect"),
        **{
            f"registry.{m}.op_p50_s": statistics.median(by_module[m]) if m in by_module else 0.0
            for m in REGISTRY_MODULES
        },
        "perfbench.op_self_s": per_op("op"),
        "spark.jobs_per_op": _mean(s["jobs"] for s in op_stats),
        "spark.stages_per_op": _mean(s["stages"] for s in op_stats),
        "spark.tasks_per_op": _mean(s["tasks"] for s in op_stats),
        "spark.failed_tasks": sum(s["failed_tasks"] for s in op_stats),
        "jvm.gc_ms_per_op": _mean(s["gc_ms"] for s in op_stats),
        "streaming.triggers_per_op": len(triggers) / n,
        "streaming.trigger_ms_p50": statistics.median(e["trigger_ms"] for e in triggers) if triggers else 0.0,
        "streaming.add_batch_ms": _mean(e["add_batch_ms"] for e in triggers),
        "streaming.query_planning_ms": _mean(e["query_planning_ms"] for e in triggers),
        "streaming.wal_commit_ms": _mean(e["wal_commit_ms"] for e in triggers),
        "streaming.state_commit_ms": _mean(e["state_commit_ms"] for e in triggers),
        "streaming.state_rows_total": _mean(e["state_rows_total"] for e in triggers),
        "streaming.state_memory_bytes": _mean(e["state_memory_bytes"] for e in triggers),
        "oracle.mismatches": sum(not r.ok for r in results),
        "trace.op_p50_s": p50,
    }
    layers = ("sources.jdbc.read_table", "streaming.archival.archive_batch", "sources.jdbc.delete_archived",
              "registry.plan", "registry.collect", "op")
    total = sum(sum(selfs.get(s, [])) for s in layers)
    if total:
        shares = ", ".join(f"{s} {sum(selfs.get(s, [])) / total:.1%}" for s in layers if selfs.get(s))
        print(f"op self-time attribution: {shares}")
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    env = pin_environment(run_dir)
    print("env " + json.dumps(env, sort_keys=True), flush=True)
    sys.path.insert(0, ROOT)
    result = None
    try:
        result = run(args, run_dir, int(env["SPARK_GRAFT_CPUS"]))
    except Exception:  # noqa: BLE001 — report and exit without a result
        traceback.print_exc()
    finally:
        if "pyspark" in sys.modules:
            stop_spark()
        shutil.rmtree(run_dir, ignore_errors=True)
    if result is None:
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
