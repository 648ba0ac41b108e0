"""Benchmark entry point.

    python3 perfbench/run.py --workload {dashboard,panel_batch,registry}
        --seed N --seconds S --trace {0,1}

Run from the repository root. One Python process, one ``local[nproc]``
Spark session, one closed-loop client. Inputs are generated from the
seed; every op's result is checked. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``). Everything the run writes stays under
``.perfbench/`` in the working directory; the per-run scratch part of
it is removed at exit, traces are kept under ``.perfbench/traces``.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402
import tracing  # noqa: E402

CPU_START = stats.cpu_times()

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_ms": "ms",
    "rows_per_s": "1/s",
}


@dataclass
class Context:
    spark: object
    tracer: object
    seed: int
    work: str


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name and its unit, in report order."""
    from workloads import REGISTRY_QUERIES  # noqa: PLC0415

    names = {"session.start_ms": "ms", "trace.overhead_pct": "%"}
    for layer in (
        "reference.build_ms", "reference.action_ms", "reference.pivot_ms",
        "report.render_ms", "catalyst.analysis_ms", "catalyst.optimization_ms",
        "catalyst.planning_ms", "driver.self_ms", "spark.executor_run_ms",
        "spark.executor_cpu_ms", "spark.gc_ms", "versioned.write_ms",
        "versioned.read_ms", "io.write_csv_ms",
    ):
        names[layer] = "ms"
    names["spark.jobs"] = "count"
    names["spark.tasks"] = "count"
    for b in ("shuffle_read", "shuffle_write", "spill", "input", "output"):
        names[f"spark.{b}_bytes"] = "bytes"
    for q in REGISTRY_QUERIES:
        for part in ("build", "exec", "cold"):
            names[f"queries.{q}.{part}_ms"] = "ms"
    names["queries.unaccounted_ms"] = "ms"
    return names


def prepare_dirs(root: str) -> str:
    """Per-run scratch dir under ``<root>/.perfbench``; temp files of
    Python, the JVM and Spark all land inside it."""
    work = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM Spark starts, the spark-submit launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    # Python workers import the library by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    return work


def start_session(work: str):
    from cdc_2025_spark.session import get_spark  # noqa: PLC0415

    nproc = os.cpu_count() or 1
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext  # noqa: PLC0415

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - any wait failure: kill and reap
            proc.kill()
            proc.wait()


def warm_up(wl, ledger: stats.Ledger) -> tuple[int, float]:
    """Run untimed ops until the latency is flat, within a fixed range
    of op counts (a time cap would give a faster machine a warmer JVM).
    Returns the ops used and the seconds spent checking their results,
    which are the client's, not the set-up's."""
    cfg = wl.warmup
    if cfg is None:
        return 0, 0.0
    lat: list[float] = []
    check_s = 0.0
    for i in range(cfg["max_ops"]):
        t0 = time.perf_counter()
        try:
            dt, err = wl.op(i)
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            ledger.record_exception(exc)
            continue
        check_s += time.perf_counter() - t0 - dt
        if err is not None:
            ledger.record(dt, f"warm-up op {i}: {err}")
        lat.append(dt)
        if i + 1 >= cfg["min_ops"] and stats.is_flat(lat, cfg["window"], cfg["tolerance"]):
            return i + 1, check_s
    return cfg["max_ops"], check_s


def run(args) -> dict:
    root = os.getcwd()
    work = prepare_dirs(root)
    import workloads  # noqa: PLC0415

    traced = bool(args.trace)
    null = tracing.NullTracer()
    tracer = tracing.Tracer() if traced else null
    t_session = time.perf_counter()
    spark = start_session(work)
    session_ms = (time.perf_counter() - t_session) * 1e3
    probe = tracing.SparkProbe(spark) if traced else None
    ctx = Context(spark=spark, tracer=tracer, seed=args.seed, work=work)
    wl = workloads.WORKLOADS[args.workload](ctx)
    ledger = stats.Ledger()
    try:
        wl.setup()
        n_warm, warm_check_s = warm_up(wl, ledger)
        if probe is not None:
            probe.install()
        setup_s = time.perf_counter() - PROCESS_START - warm_check_s
        cpu_window = stats.cpu_times()
        per_op: list[dict] = []
        # latencies by (op key, traced?): the tracing overhead and the
        # per-kind medians
        paired: dict[tuple[str, bool], list[float]] = {}
        period = wl.cycle()
        client_s = 0.0
        n_ops = 0
        t_window = time.perf_counter()
        i = n_warm
        while True:
            # in the traced run every other op is traced, shifted by one
            # each cycle of op kinds so that every kind is traced in
            # every other cycle, and the overhead is measured under the
            # same conditions; an untraced op records no span, carries
            # no job tag and reads no Catalyst phases
            slot = n_ops % period + n_ops // period
            on = traced and slot % 2 == 0
            ctx.tracer = tracer if on else null
            t_client = time.perf_counter()
            tag = f"perfbench-op-{i}"
            wall0 = time.time()  # epoch, to compare with Spark job times
            try:
                if on:
                    with probe.tagged(tag), tracer.span("op", op=i):
                        dt, err = wl.op(i)
                else:
                    dt, err = wl.op(i)
            except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
                ledger.record_exception(exc)
                dt, err = None, "raised"
            if dt is not None:
                ledger.record(dt, err)
                if err is None:
                    paired.setdefault((wl.op_key(i), on), []).append(dt)
                if on:
                    per_op.append(
                        {"op": i, **probe.counters(tag, (wall0, wall0 + dt)), **probe.catalyst_ms()}
                    )
            # time spent checking results is the client's, not the system's
            client_s += time.perf_counter() - t_client - (dt or 0.0)
            i += 1
            n_ops += 1
            elapsed = time.perf_counter() - t_window
            done = elapsed >= args.seconds
            if wl.whole_passes:
                passes, rest = divmod(i - n_warm, len(wl.order))
                done = done and rest == 0 and passes >= wl.min_passes
            if done:
                break
        window_s = elapsed - client_s
        cpu_window = stats.steal_share(cpu_window, stats.cpu_times())
        ctx.tracer = tracer
        if probe is not None:
            probe.uninstall()
        errors = wl.finish()
    finally:
        stop_session(spark)

    for e in ledger.errors + errors:
        print(f"check failed: {e}", file=sys.stderr)
    lat_ms = [x * 1e3 for x in ledger.latencies_s]
    n_done = len(lat_ms)
    supported = stats.supported_percentile(n_done)
    by_kind: dict[str, list[float]] = {}
    for (key, _), lats in paired.items():
        by_kind.setdefault(key, []).extend(lats)
    kinds = ", ".join(
        f"{k} {statistics.median(v) * 1e3:.0f} ms" for k, v in sorted(by_kind.items())
    )
    print(
        f"{args.workload}: {n_done} timed ops after {n_warm} warm-up ops; "
        f"first/second-half median ratio {stats.half_ratio(ledger.latencies_s):.3f}; "
        f"highest supported percentile {supported}; "
        f"p90 {stats.percentile(lat_ms, 90.0) if lat_ms else float('nan'):.0f} ms; "
        f"median by kind: {kinds}; "
        f"cpu steal {stats.format_share(stats.steal_share(CPU_START, stats.cpu_times()))} "
        f"of the run, {stats.format_share(cpu_window)} of the timed window"
    )
    result = {
        "correct": not errors and ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
    }
    if not traced:
        values = {
            "setup_s": setup_s,
            "ops_per_s": n_done / window_s,
            "op_p50_ms": 1e3 * stats.median_of_kinds(by_kind) if by_kind else 0.0,
            "rows_per_s": n_done * wl.rows_per_op / window_s,
        }
        result["metrics"] = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
        return result

    names = per_layer_names()
    values = {k: 0.0 for k in names}
    values["session.start_ms"] = session_ms
    ops = {r["op"] for r in per_op}
    for name, selfs in tracer.self_ms(ops).items():
        key = f"{name}_ms"
        if key in values:
            # per-op self time of the layer: its total over the traced
            # ops, divided by the number of traced ops
            values[key] = sum(selfs) / len(ops)
    for key in per_op[0] if per_op else ():
        if key != "op" and key in values:
            values[key] = statistics.median(r[key] for r in per_op)
    if wl.whole_passes:
        for q in wl.order:
            values[f"queries.{q}.build_ms"] = statistics.median(wl.build_ms[q])
            values[f"queries.{q}.exec_ms"] = statistics.median(wl.exec_ms[q])
            values[f"queries.{q}.cold_ms"] = wl.cold_ms[q]
        values["queries.unaccounted_ms"] = statistics.median(wl.unaccounted_ms)
    ratios = [
        statistics.median(paired[(key, True)]) / statistics.median(lats)
        for (key, on), lats in paired.items()
        if not on and (key, True) in paired
    ]
    if ratios:
        # geometric mean over op kinds: kinds traced early in a
        # drifting window and kinds traced late cancel out
        values["trace.overhead_pct"] = 100.0 * (statistics.geometric_mean(ratios) - 1.0)
    traces = os.path.join(root, ".perfbench", "traces")
    os.makedirs(traces, exist_ok=True)
    tracer.dump(
        os.path.join(traces, f"{args.workload}-seed{args.seed}.json"),
        {"per_op": per_op, "metrics": values},
    )
    result["metrics"] = {k: {"value": v, "unit": names[k]} for k, v in values.items()}
    return result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "cdc_2025_spark")):
        print(
            "perfbench: run from the repository root (no cdc_2025_spark here)",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, root)
    import workloads  # noqa: PLC0415

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    try:
        result = run(args)
    finally:
        shutil.rmtree(os.path.join(root, ".perfbench", f"run-{os.getpid()}"), ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
