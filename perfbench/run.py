"""CDC-ingest benchmark of the jitsu-spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Starts one ``local[<cores>]`` Spark session
(:func:`cores`), builds the workload's inputs from ``--seed``, warms the
workload's shape up, then runs its closed loop for ``--seconds`` and checks
the output.
The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``:

- ``--trace 0``: the end-to-end metrics (see BENCHMARK.json);
- ``--trace 1``: the per-layer metrics of :data:`tracing.LAYER_METRICS`. A
  traced run first measures an untraced window of half the length, then
  the traced window, and reports their ratio as ``trace.overhead``.

End-to-end metrics, the same for every workload:

- ``setup_s``: session start, input generation, table set-up and warmup;
- ``items_per_s``: change events (Singer records for ``ingest_curate``)
  applied per second of the window;
- ``op_p50_s``: median latency of one micro-batch of the backlog drain
  (``backlog_replay``, the listener's ``triggerExecution``) or of one
  portion's ingest plus the curation chain (``ingest_curate``); the stderr
  log lists every sample. No higher percentile is reported: a window holds
  too few operations to leave ten samples beyond one;
- ``read_p50_s``: a full ``LakeTable.read`` of the table, consumed;
- ``write_amp``: bytes of table data files written per byte of change log
  (of tap output for ``ingest_curate``).

The traced run also reports ``process.peak_rss_mb``, the peak RSS of this
process plus the driver JVM during the traced window (each peak counter is
reset as the window starts).

Everything the run writes goes under ``.perfbench_work/`` in the current
directory and is removed at the end. Workloads: ``workloads.WORKLOADS``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

END_TO_END_UNITS = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "op_p50_s": "s",
    "read_p50_s": "s",
    "write_amp": "B/B",
}
DRIVER_MEMORY = "2g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    """Spark executor threads: half the CPUs this process may run on. The
    other half runs the driver JVM, this process, the garbage collector and
    the tap; with a thread per CPU, a CPU the host takes away stalls a task
    that every other one waits for."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def start_session(work: str, app: str, event_log: str | None):
    """A session sized to this machine, with all scratch under ``work``."""
    from jitsu_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name=app, cores=cores(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit (it exits when its stdin
    closes)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def reset_peak_rss(pids: list[int]) -> None:
    """Restart each process's peak-RSS counter (VmHWM) from its current RSS."""
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def measure(wl, seconds: float, pids: list[int]) -> dict:
    """Closed loop: run operations until ``seconds`` have passed. The
    peak RSS of ``pids`` is taken over the loop only."""
    lat: list[float] = []
    items = attempted = failed = 0
    reads0 = len(wl.reads)
    in0, out0 = wl.io_bytes()
    reset_peak_rss(pids)
    start = time.perf_counter()
    while time.perf_counter() - start < seconds:
        attempted += 1
        try:
            n, latencies = wl.step()
        except Exception:
            failed += 1
            traceback.print_exc()
            break
        items += n
        lat.extend(latencies)
    wall = time.perf_counter() - start
    peak_mb = sum(vm_hwm_mb(pid) for pid in pids)
    in1, out1 = wl.io_bytes()
    return {
        "wall": wall,
        "items": items,
        "lat": lat,
        "reads": wl.reads[reads0:],
        "bytes_in": in1 - in0,
        "bytes_out": out1 - out0,
        "peak_mb": peak_mb,
        "attempted": attempted,
        "failed": failed,
    }


def end_to_end(m: dict, setup_s: float) -> dict[str, float]:
    if not m["lat"] or not m["reads"] or not m["bytes_in"]:
        raise RuntimeError("the measured window completed no operation")
    return {
        "setup_s": setup_s,
        "items_per_s": m["items"] / m["wall"],
        "op_p50_s": statistics.median(m["lat"]),
        "read_p50_s": statistics.median(m["reads"]),
        "write_amp": m["bytes_out"] / m["bytes_in"],
    }


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    import jitsu_spark  # noqa: F401  (fail fast without the engine)

    import workloads
    from tracing import LAYER_METRICS, Tracer, fold_event_log, layer_metrics, traced

    if workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {workload!r}; "
                         f"choose from {sorted(workloads.WORKLOADS)}")
    run_id = uuid.uuid4().hex[:12]
    work = os.path.join(os.getcwd(), ".perfbench_work", f"{workload}-{run_id}")
    os.makedirs(work)
    event_log = os.path.join(work, "eventlog") if trace else None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, f"perfbench-{workload}", event_log)
        log(f"{workload}: session started in {time.perf_counter() - t0:.2f} s")
        try:
            tracer = Tracer(spark, run_id)
            pids = [os.getpid(),
                    spark._jvm.java.lang.ProcessHandle.current().pid()]
            wl = workloads.WORKLOADS[workload](
                spark, os.path.join(work, "data"), seed,
                workloads.SCALES["full"][workload], tracer)
            try:
                wl.setup()
                log(f"{workload}: inputs ready at {time.perf_counter() - t0:.2f} s")
                wl.warmup()
                setup_s = time.perf_counter() - t0
                log(f"{workload}: set-up {setup_s:.2f} s")
                if trace:
                    ref = measure(wl, seconds / 2, pids)
                    m, progress, window = traced(
                        spark, tracer, lambda: measure(wl, seconds, pids))
                    windows = [ref, m]
                else:
                    windows = [measure(wl, seconds, pids)]
            finally:
                wl.finish()
            errors = wl.errors(wl.output())
        finally:
            stop_session(spark)
        for e in errors:
            log(f"CHECK FAILED: {e}")
        attempted = sum(w["attempted"] for w in windows)
        failed = sum(w["failed"] for w in windows)
        last = windows[-1]
        log(f"{workload}: {last['items']} {wl.item}s in {last['wall']:.2f} s; "
            f"operation latencies {[round(x, 3) for x in last['lat']]}; "
            f"read latencies {[round(x, 3) for x in last['reads']]}")
        if trace:
            ref, m = windows
            overhead = (m["wall"] / m["items"]) / (ref["wall"] / ref["items"])
            values = layer_metrics(
                tracer, fold_event_log(event_log), progress, window, cores(),
                {"trace.overhead": overhead,
                 "singer.tap_emit_s": getattr(wl, "tap_emit_s", 0.0),
                 "process.peak_rss_mb": m["peak_mb"]},
            )
            metrics = {k: {"value": v, "unit": LAYER_METRICS[k][0]}
                       for k, v in values.items()}
        else:
            values = end_to_end(last, setup_s)
            metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]}
                       for k, v in values.items()}
        return {
            "correct": not errors and failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
