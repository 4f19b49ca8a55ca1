"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: dataset_lifecycle and registry (see BENCHMARK.json and
perfbench/README.md). One driver thread drives the
library in a closed loop on a ``local[nproc]`` Spark session. The run
generates its inputs from the seed, warms up with one untimed pass, then
measures a fixed number of whole passes and checks every result. The
pass count is ``--seconds`` over the workload's nominal pass time
(``PASS_S``), so it never depends on how fast the passes run. The last
stdout line is one JSON object; with ``--trace 0`` its metrics are the
end-to-end ones, with ``--trace 1`` the per-layer ones, taken from a
measured window run with Spark's event log on.
Everything the run writes stays under ``.perfbench_work/`` in the
checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
from importlib.util import find_spec

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("dataset_lifecycle", "registry")
#: Seconds one measured pass takes on a quiet 4-vCPU machine; sets the
#: pass count for a given ``--seconds``.
PASS_S = {"dataset_lifecycle": 4.7, "registry": 9.6}
DRIVER_MEMORY = "4g"
HIVE_METHODS = (
    "write",
    "append",
    "compact",
    "delete_partition",
    "partitions",
    "read_partition",
    "scan",
)
SPAN_FIELDS = ("jobs", "tasks", "executor_run_s", "shuffle_bytes", "driver_gap_s")
TOTAL_FIELDS = ("gc_s", "executor_cpu_s", "spill_bytes", "output_bytes", "aqe_replans")


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_environment(work: str) -> None:
    """Keep every file Spark, Python workers and the registry write inside
    ``work``; size the session for this machine. Must run before
    ``polario_spark`` is imported (its scratch root is fixed at import)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # JVMs otherwise keep a perf-data file under /tmp; the launcher JVM that
    # spark-submit starts reads its options from this variable
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEMORY)
    # the registry bakes its oracles against this corpus at import
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = os.path.join(work, "corpus")


def start_session(work: str, event_log: bool):
    from polario_spark import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
        ),
    }
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark("perfbench", extra_conf=conf)


def shutdown_jvm() -> None:
    """Stop the JVM the session launched and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def environment() -> dict[str, object]:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "loadavg_before": os.getloadavg(),
    }


def cpu_times() -> list[int] | None:
    """The machine's cumulative CPU times (``/proc/stat``), or None."""
    try:
        with open("/proc/stat", encoding="ascii") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return None


def steal_frac(before: list[int] | None, after: list[int] | None) -> float | None:
    """Share of CPU time the hypervisor gave to other guests in between; a
    high value marks a run measured under outside load."""
    if not before or not after or len(before) < 8:
        return None
    total = sum(after) - sum(before)
    return (after[7] - before[7]) / total if total else None


def calibrate(spark) -> float:
    """A fixed pure-JVM aggregation; its time tracks machine speed and load."""
    t0 = time.perf_counter()
    spark.range(20_000_000).selectExpr("sum(id * 3 + 1)").collect()
    return time.perf_counter() - t0


def pass_count(workload: str, seconds: float) -> int:
    return max(1, round(seconds / PASS_S[workload]))


def measure(wl, passes: int) -> float:
    """Runs ``passes`` whole passes; returns their wall time."""
    t0 = time.perf_counter()
    for _ in range(passes):
        wl.unit()
    return time.perf_counter() - t0


def _median_or_zero(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def layer_metrics(spans, log, window: tuple[float, float], n_ops: int) -> dict[str, float]:
    from perfbench.registry import ALL_FAMILIES
    from perfbench.trace import attribute, totals

    def durations(kind: str, phase: str) -> list[float]:
        return [s.end - s.start for s in spans if s.kind == kind and s.phase == phase]

    out: dict[str, float] = {}
    for m in HIVE_METHODS:
        calls = durations(f"hive_dataset.{m}", "call")
        out[f"hive_dataset.{m}.call_s"] = _median_or_zero(calls)
        out[f"hive_dataset.{m}.calls"] = len(calls)
    for m in ("read_partition", "scan"):
        out[f"hive_dataset.{m}.collect_s"] = _median_or_zero(
            durations(f"hive_dataset.{m}", "collect")
        )
    for fam in ALL_FAMILIES:
        out[f"queries.{fam}.build_s"] = _median_or_zero(durations(f"queries.{fam}", "call"))
        out[f"queries.{fam}.collect_s"] = _median_or_zero(
            durations(f"queries.{fam}", "collect")
        )
    per_kind = attribute(spans, log)
    kinds = [f"hive_dataset.{m}" for m in HIVE_METHODS]
    kinds += [f"queries.{fam}" for fam in ALL_FAMILIES]
    for kind in kinds:
        got = per_kind.get(kind, {})
        for f in SPAN_FIELDS:
            out[f"spark.{kind}.{f}"] = got.get(f, 0.0)
    tot = totals(log, *window)
    for f in TOTAL_FIELDS:
        out[f"spark.{f}"] = tot.get(f, 0.0) / n_ops
    return out


def run(args: argparse.Namespace, work: str) -> dict[str, object]:
    from perfbench.results import Recorder
    from perfbench.trace import Tracer, read_event_log

    env = environment()
    tracer, rec = Tracer(), Recorder()
    t0 = time.perf_counter()
    spark = start_session(work, event_log=False)
    start_s = time.perf_counter() - t0
    if args.workload == "dataset_lifecycle":
        from perfbench.lifecycle import Lifecycle

        wl = Lifecycle(args.seed, work, tracer, rec)
    else:
        from perfbench.registry import Registry

        wl = Registry(args.seed, work, tracer, rec)
    passes = pass_count(args.workload, args.seconds)
    try:
        t0 = time.perf_counter()
        wl.prepare(spark)
        prepare_s = time.perf_counter() - t0
        rec.timing = False
        wl.warm()
        rec.timing = True
        warm_s = time.perf_counter() - t0 - prepare_s
        setup_s = start_s + prepare_s + warm_s
        env["calibration_s"] = calibrate(spark)
        layout_before = wl.storage()
        cpu_before = cpu_times()
        if args.trace:
            # both halves start from the same state in a fresh context;
            # only the event log differs between them
            wl.snapshot()
            per_op = {}
            passes = -(-passes // 2)
            for traced in (False, True):
                spark.stop()
                spark = start_session(work, event_log=traced)
                wl.restore(spark)
                tracer.clear()
                ops_before = rec.attempted
                w0 = time.time()
                wall = measure(wl, passes)
                traced_ops = rec.attempted - ops_before
                per_op[traced] = wall / traced_ops
            window = (w0, time.time())
        else:
            tracer.clear()
            wall = measure(wl, passes)
        env["steal_frac"] = steal_frac(cpu_before, cpu_times())
        end_to_end, diag = rec.metrics(wall)
        storage = wl.storage()
        try:
            verified = wl.verify()
        except Exception as exc:  # a failed end-state check is counted, not fatal
            rec.note_error("final state check", exc)
            verified = False
    finally:
        spark.stop()
    env["loadavg_after"] = os.getloadavg()
    diag["environment"] = env
    diag["setup"] = {"start_s": start_s, "prepare_s": prepare_s, "warm_s": warm_s}
    diag["measured"] = {"passes": passes, "wall_s": wall}
    diag["layout"] = {"before": layout_before, "after": storage}
    diag["final_state_verified"] = verified
    if args.trace:
        metrics = layer_metrics(
            tracer.spans,
            read_event_log(os.path.join(work, "eventlog")),
            window,
            traced_ops,
        )
        metrics.update({k: v for k, v in storage.items() if k.startswith("hive_dataset.")})
        metrics["session.start_s"] = start_s
        metrics["session.warm_s"] = warm_s
        metrics["tracing.overhead_frac"] = per_op[True] / per_op[False] - 1
    else:
        metrics = dict(end_to_end)
        if "bytes_per_user_byte" in storage:
            metrics["bytes_per_user_byte"] = storage["bytes_per_user_byte"]
        metrics["setup_s"] = setup_s
    failed = rec.failed + (0 if verified else 1)
    spec = _spec()
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "diagnostics": diag}))
    return {
        "correct": failed == 0,
        "attempted": rec.attempted + 1,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in sorted(metrics.items())},
    }


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # SIGTERM unwinds like an exception, so the JVM is stopped and waited for
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    missing = [m for m in ("polario_spark", "__spark_entry__") if find_spec(m) is None]
    if missing:
        print(f"perfbench: {missing} not importable from {ROOT}", file=sys.stderr)
        return 2
    scratch = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(scratch, f"{args.workload}-{os.getpid()}")
    configure_environment(work)
    try:
        result = run(args, work)
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(scratch)  # only when no other run is using it
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
