"""Self-test of the benchmark.

    python3 perfbench/selftest.py

In one traced Spark session, runs every workload at a tiny scale, then:

- requires each workload's check to pass on its real output;
- corrupts one row of each output (each output table of
  ``ingest_curate``) and requires the check to fail;
- folds the event log and requires every per-layer metric, with the
  layers each workload drives showing non-zero time;
- requires BENCHMARK.json to name exactly the workloads and metrics the
  code produces.

Exits 0 when all of that holds.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import uuid

import run as bench
import workloads
from tracing import LAYER_METRICS, Tracer, fold_event_log, layer_metrics, traced

# layers each tiny workload must show as busy in the traced steps
MUST_BE_BUSY = {
    "backlog_replay": ["merge.call_s", "merge.exec_run_s", "metadata.commit_s",
                       "runner.trigger_s", "source.scan_tasks", "typesys.plan_s"],
    "ingest_curate": ["singer.run_s", "singer.portion_merge_s", "singer.driver_s",
                      "singer.portions", "dedup.exact_s", "dedup.lsh_s",
                      "similarity.cluster_s", "similarity.topk_s", "text.vocab_s",
                      "text.pack_s", "table.read_s", "merge.exec_run_s",
                      "table.compact_s", "maintenance.manifest_compact_s"],
}


def spec_errors() -> list[str]:
    with open(os.path.join(bench.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    errors = []
    if [w["name"] for w in spec["workloads"]] != list(workloads.WORKLOADS):
        errors.append("BENCHMARK.json workloads differ from workloads.WORKLOADS")
    if {m["name"]: m["unit"] for m in spec["end_to_end"]} != bench.END_TO_END_UNITS:
        errors.append("BENCHMARK.json end_to_end differs from run.END_TO_END_UNITS")
    layers = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    if layers != {k: v[:2] for k, v in LAYER_METRICS.items()}:
        errors.append("BENCHMARK.json per_layer differs from tracing.LAYER_METRICS")
    return errors


def main() -> int:
    import jitsu_spark  # noqa: F401  (fail fast without the engine)

    failures = spec_errors()
    work = os.path.join(os.getcwd(), ".perfbench_work", f"selftest-{uuid.uuid4().hex[:12]}")
    event_log = os.path.join(work, "eventlog")
    os.makedirs(work)
    try:
        spark = bench.start_session(work, "perfbench-selftest", event_log)
        runs = {}
        try:
            for name, cls in workloads.WORKLOADS.items():
                t0 = time.perf_counter()
                tracer = Tracer(spark, f"selftest-{name}")
                wl = cls(spark, os.path.join(work, "data"), 7,
                         workloads.SCALES["tiny"][name], tracer)
                try:
                    wl.setup()
                    wl.warmup()
                    _, progress, window = traced(
                        spark, tracer, lambda: [wl.step() for _ in range(3)])
                finally:
                    wl.finish()
                runs[name] = (tracer, progress, window, getattr(wl, "tap_emit_s", 0.0))
                output = wl.output()
                errs = wl.errors(output)
                if errs:
                    failures.append(f"{name}: the real output failed its check: {errs}")
                for part, corrupted in wl.corruptions(output).items():
                    if not wl.errors(corrupted):
                        failures.append(f"{name}: corrupting one row of {part} "
                                        "went unnoticed")
                print(f"{name}: checked in {time.perf_counter() - t0:.1f} s", flush=True)
        finally:
            bench.stop_session(spark)
        jobs = fold_event_log(event_log)
        for name, (tracer, progress, window, tap_emit_s) in runs.items():
            values = layer_metrics(tracer, jobs, progress, window, bench.cores(),
                                   {"trace.overhead": 1.0, "singer.tap_emit_s": tap_emit_s,
                                    "process.peak_rss_mb": 1.0})
            idle = [k for k in MUST_BE_BUSY[name] if not values[k] > 0]
            if idle:
                failures.append(f"{name}: traced layers show no work: {idle}")
            print(f"{name}: merge.call_s {values['merge.call_s']:.3f}, runner.add_batch_s "
                  f"{values['runner.add_batch_s']:.3f}, trace.add_batch_coverage "
                  f"{values['trace.add_batch_coverage']:.3f}", flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for f in failures:
        print(f"FAIL: {f}")
    print("selftest " + ("failed" if failures else "passed"))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
