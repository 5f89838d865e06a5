"""Per-layer tracing for the traced benchmark run, recorded from outside
the engine.

The engine is not modified: :class:`Tracer` patches a wrapper onto the
module or class attribute that the calling engine code resolves at call
time (``runner.merge_batch`` rather than ``lake.merge.merge_batch``,
because the runner imported the name). Each wrapper records a span with
name, start, end, parent and the run id, and while a span is open it sets
a Spark thread-local property (``perfbench.span``) so that every Spark job
the span launches carries its span id into the event log. After the
session stops, :func:`fold_event_log` folds per-task metrics by span.

Calls that only build a plan (``LakeTable.read`` and the curation calls)
are not wrapped: their Spark jobs run when the result is consumed, so the
workload opens their spans around the call and the consumption.

:data:`LAYER_METRICS` lists every per-layer metric with the end-to-end
metric and workload it should move.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import json
import os
import threading
import time
from collections import defaultdict

SPAN_PROP = "perfbench.span"

# name: (unit, better, end-to-end metric it should move, workload)
LAYER_METRICS: dict[str, tuple[str, str, str, str]] = {
    # streaming.runner: listener durationMs, summed over the micro-batches
    "runner.trigger_s": ("s", "lower", "op_p50_s", "backlog_replay"),
    "runner.add_batch_s": ("s", "lower", "op_p50_s", "backlog_replay"),
    "runner.overhead_s": ("s", "lower", "op_p50_s", "backlog_replay"),
    "runner.wal_s": ("s", "lower", "op_p50_s", "backlog_replay"),
    "runner.plan_s": ("s", "lower", "op_p50_s", "backlog_replay"),
    "runner.batches": ("count", "higher", "items_per_s", "backlog_replay"),
    "runner.skipped": ("count", "lower", "items_per_s", "backlog_replay"),
    # sources: the FileSource scan stage of each micro-batch
    "source.scan_tasks": ("count", "higher", "items_per_s", "backlog_replay"),
    "source.input_bytes": ("B", "lower", "items_per_s", "backlog_replay"),
    # lake.merge
    "merge.call_s": ("s", "lower", "op_p50_s", "backlog_replay"),
    "merge.self_s": ("s", "lower", "op_p50_s", "backlog_replay"),
    "merge.driver_s": ("s", "lower", "op_p50_s", "ingest_curate"),
    "merge.exec_run_s": ("s", "lower", "items_per_s", "backlog_replay"),
    "merge.busy_share": ("share", "higher", "items_per_s", "backlog_replay"),
    "merge.shuffle_write_bytes": ("B", "lower", "items_per_s", "backlog_replay"),
    "merge.spill_bytes": ("B", "lower", "items_per_s", "backlog_replay"),
    "merge.gc_s": ("s", "lower", "items_per_s", "backlog_replay"),
    "merge.jobs": ("count", "lower", "items_per_s", "backlog_replay"),
    "merge.tasks": ("count", "lower", "items_per_s", "backlog_replay"),
    "merge.keys": ("count", "higher", "items_per_s", "backlog_replay"),
    "merge.buckets": ("count", "lower", "items_per_s", "backlog_replay"),
    # lake.metadata
    "metadata.load_s": ("s", "lower", "op_p50_s", "ingest_curate"),
    "metadata.commit_s": ("s", "lower", "op_p50_s", "ingest_curate"),
    "metadata.snapshot_bytes": ("B", "lower", "op_p50_s", "ingest_curate"),
    "metadata.commit_conflicts": ("count", "lower", "items_per_s", "backlog_replay"),
    # lake.table (the layout counts are averages over the readers' scans)
    "table.read_s": ("s", "lower", "read_p50_s", "backlog_replay"),
    "table.delta_files": ("count", "lower", "read_p50_s", "backlog_replay"),
    "table.files_live": ("count", "lower", "read_p50_s", "backlog_replay"),
    "table.schema_groups": ("count", "lower", "read_p50_s", "backlog_replay"),
    "table.compact_s": ("s", "lower", "op_p50_s", "ingest_curate"),
    "table.bytes_written": ("B", "lower", "write_amp", "backlog_replay"),
    # lake.maintenance
    "maintenance.manifest_compact_s": ("s", "lower", "op_p50_s", "ingest_curate"),
    # typesys
    "typesys.plan_s": ("s", "lower", "op_p50_s", "backlog_replay"),
    # sources.singer_tap (driver: run time outside merge and compaction spans)
    "singer.run_s": ("s", "lower", "items_per_s", "ingest_curate"),
    "singer.portion_merge_s": ("s", "lower", "items_per_s", "ingest_curate"),
    "singer.driver_s": ("s", "lower", "items_per_s", "ingest_curate"),
    "singer.tap_emit_s": ("s", "lower", "items_per_s", "ingest_curate"),
    "singer.portions": ("count", "higher", "items_per_s", "ingest_curate"),
    # dedup, similarity, text: each call and the collection of its result
    "dedup.exact_s": ("s", "lower", "op_p50_s", "ingest_curate"),
    "dedup.lsh_s": ("s", "lower", "op_p50_s", "ingest_curate"),
    "similarity.cluster_s": ("s", "lower", "op_p50_s", "ingest_curate"),
    "similarity.topk_s": ("s", "lower", "op_p50_s", "ingest_curate"),
    "text.vocab_s": ("s", "lower", "op_p50_s", "ingest_curate"),
    "text.pack_s": ("s", "lower", "op_p50_s", "ingest_curate"),
    # Spark-wide, over the traced window
    "spark.jobs": ("count", "lower", "op_p50_s", "ingest_curate"),
    "spark.tasks": ("count", "lower", "items_per_s", "backlog_replay"),
    "spark.shuffle_bytes": ("B", "lower", "items_per_s", "backlog_replay"),
    # the benchmark process plus the driver JVM, over the traced window
    "process.peak_rss_mb": ("MB", "lower", "items_per_s", "backlog_replay"),
    # the instrument itself: traced over untraced time per item, and the
    # share of the runner's addBatch time covered by merge, compaction and
    # manifest-compaction spans (the two instruments cross-checked)
    "trace.overhead": ("ratio", "lower", "items_per_s", "backlog_replay"),
    "trace.add_batch_coverage": ("share", "higher", "op_p50_s", "backlog_replay"),
}


class Tracer:
    """Records spans while :attr:`enabled`; patches engine attributes
    between :meth:`install` and :meth:`uninstall`."""

    def __init__(self, spark, run_id: str) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._originals: dict[tuple[object, str], object] = {}

    # -- spans ---------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, label_jobs: bool = True):
        """Span around a block. With ``label_jobs`` the Spark jobs the block
        launches from this thread are tagged with the span id."""
        if not self.enabled:
            yield None
            return
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        sid = f"{self.run_id}:{next(self._ids)}"
        sp = {
            "id": sid,
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "run": self.run_id,
        }
        prev = None
        if label_jobs:
            prev = self.sc.getLocalProperty(SPAN_PROP)
            self.sc.setLocalProperty(SPAN_PROP, sid)
        stack.append(sp)
        sp["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield sp
        except BaseException as e:
            sp["error"] = type(e).__name__
            raise
        finally:
            sp["dur"] = time.perf_counter() - t0
            sp["end"] = sp["start"] + sp["dur"]
            stack.pop()
            if label_jobs:
                self.sc.setLocalProperty(SPAN_PROP, prev)
            with self._lock:
                self.spans.append(sp)

    def add(self, counter: str, value: float) -> None:
        with self._lock:
            self.counts[counter] += value

    # -- patching ------------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, label_jobs: bool = True,
             on_call=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``on_call(args, kwargs, result)`` records counters after the span
        has closed, so its own cost stays out of the span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name, label_jobs) as sp:
                res = orig(*args, **kwargs)
            if on_call is not None and sp is not None:
                on_call(args, kwargs, res)
            return res

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))
        self._originals[(owner, attr)] = orig

    def read_layout(self, table) -> None:
        """Count the files, delta files and schema groups a full read of
        ``table``'s current snapshot scans."""
        from jitsu_spark.lake import metadata

        load = self._originals.get((metadata, "load_snapshot"), metadata.load_snapshot)
        snap = load(table.root)
        groups, n_files, n_delta = set(), 0, 0
        for entries in snap.files.values():
            dirty = any(e.get("kind") == "delta" for e in entries)
            for e in entries:
                n_files += 1
                n_delta += e.get("kind") == "delta"
                groups.add((dirty, e["schema_id"],
                            int(e.get("mseq", 0)) if dirty else 0))
        self.add("table.reads", 1)
        self.add("table.files_live_sum", n_files)
        self.add("table.delta_files_sum", n_delta)
        self.add("table.schema_groups_sum", len(groups))

    def install(self) -> None:
        from jitsu_spark.lake import maintenance, metadata
        from jitsu_spark.lake import merge as lake_merge
        from jitsu_spark.lake.table import LakeTable
        from jitsu_spark.sources import singer_tap
        from jitsu_spark.streaming import runner

        def merge_counts(args, kwargs, res):
            self.add("merge.keys", res.n_keys)
            self.add("merge.buckets", len(res.affected_buckets))
            self.add("merge.skipped", int(res.skipped))

        def snapshot_bytes(args, kwargs, res):
            root = args[0] if args else kwargs["root"]
            path = os.path.join(root, "metadata", f"v{res.version}.json")
            self.add("metadata.snapshot_bytes_sum", os.path.getsize(path))
            self.add("metadata.loads", 1)

        def singer_counts(args, kwargs, res):
            self.add("singer.portions", res.portions)

        self.wrap(runner, "merge_batch", "merge", on_call=merge_counts)
        self.wrap(singer_tap, "merge_batch", "merge", on_call=merge_counts)
        self.wrap(singer_tap.SingerTapJob, "run_once", "singer.run",
                  on_call=singer_counts)
        self.wrap(lake_merge, "plan_evolution", "typesys.plan", label_jobs=False)
        self.wrap(metadata, "current_version", "metadata.current_version",
                  label_jobs=False)
        self.wrap(metadata, "load_snapshot", "metadata.load", label_jobs=False,
                  on_call=snapshot_bytes)
        self.wrap(metadata, "commit_snapshot", "metadata.commit", label_jobs=False)
        self.wrap(LakeTable, "compact", "table.compact")
        self.wrap(maintenance, "compact_manifest", "maintenance.compact_manifest")

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)
        self._originals.clear()


def traced(spark, tracer: Tracer, fn):
    """Run ``fn()`` with the tracer installed and a ``CdcQueryListener``
    registered; returns ``(fn(), streaming progress of the window,
    (start, end) in epoch seconds)``."""
    import datetime as dt

    from jitsu_spark.streaming.metrics import CdcQueryListener

    def epoch(iso: str) -> float:
        return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()

    listener = CdcQueryListener()
    spark.streams.addListener(listener)
    tracer.install()
    tracer.enabled = True
    lo = time.time()
    try:
        result = fn()
    finally:
        hi = time.time()
        tracer.enabled = False
        tracer.uninstall()
        # a batch's progress event is posted after its commit, which is
        # what the workload waited for: wait until every traced merge has
        # its event
        def window():
            return [p for p in listener.snapshots if lo <= epoch(p["timestamp"]) <= hi]

        # (the stream runner's merges run in its own thread, outside any
        # span; a Singer portion's merge runs inside ``singer.run``)
        merges = sum(1 for s in tracer.spans
                     if s["name"] == "merge" and s["parent"] is None)
        deadline = time.time() + 30
        while (sum(1 for p in window() if p["input_rows"]) < merges
               and time.time() < deadline):
            time.sleep(0.05)
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        spark.streams.removeListener(listener)
    return result, window(), (lo, hi)


# -- event log -----------------------------------------------------------------


def fold_event_log(log_dir: str) -> dict:
    """Jobs and per-job task totals from a Spark event log directory:
    ``{job_id: {"span", "submit", "end", "tasks", "run_s", "gc_s",
    "shuffle_write", "spill", "output_bytes", "first_stage"}}`` (times in
    epoch seconds). ``first_stage`` is ``(tasks, input bytes)`` of the
    job's lowest-numbered stage that ran tasks: for a merge launched by the
    stream runner, the scan of the micro-batch's source files."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, list[int]] = defaultdict(lambda: [0, 0])
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "span": (ev.get("Properties") or {}).get(SPAN_PROP),
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "tasks": 0, "run_s": 0.0, "gc_s": 0.0,
                    "shuffle_write": 0, "spill": 0, "output_bytes": 0,
                }
                for s in ev["Stage IDs"]:
                    stage_job.setdefault(s, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if jid is None or not m:
                    continue
                st = stages[ev["Stage ID"]]
                st[0] += 1
                st[1] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                j = jobs[jid]
                j["tasks"] += 1
                j["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                j["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                j["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                j["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0)
                j["output_bytes"] += (m.get("Output Metrics") or {}).get(
                    "Bytes Written", 0)
    for jid, j in jobs.items():
        ran = sorted(sid for sid, owner in stage_job.items()
                     if owner == jid and sid in stages)
        j["first_stage"] = tuple(stages[ran[0]]) if ran else (0, 0)
    return jobs


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def layer_metrics(
    tracer: Tracer,
    jobs: dict,
    progress: list[dict],
    window: tuple[float, float],
    cores: int,
    extra: dict[str, float],
) -> dict[str, float]:
    """Fold spans, event-log jobs and streaming progress of the traced
    window into :data:`LAYER_METRICS` values."""
    spans = tracer.spans
    by_id = {s["id"]: s for s in spans}
    children: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)

    def subtree(s: dict) -> set[str]:
        out, todo = set(), [s]
        while todo:
            x = todo.pop()
            out.add(x["id"])
            todo.extend(children.get(x["id"], []))
        return out

    def total(name: str) -> float:
        return sum(s["dur"] for s in spans if s["name"] == name)

    def outermost(name: str) -> list[dict]:
        """Spans of ``name`` not nested in another span of the same name
        (a merge retried inside a merge is counted once)."""
        out = []
        for s in spans:
            if s["name"] != name:
                continue
            p = s["parent"]
            while p is not None and by_id[p]["name"] != name:
                p = by_id[p]["parent"]
            if p is None:
                out.append(s)
        return out

    lo, hi = window
    win_jobs = [j for j in jobs.values() if lo <= j["submit"] <= hi]
    jobs_by_span: dict[str, list[dict]] = defaultdict(list)
    for j in win_jobs:
        if j["span"] is not None:
            jobs_by_span[j["span"]].append(j)

    def span_jobs(s: dict) -> list[dict]:
        return [j for sid in subtree(s) for j in jobs_by_span.get(sid, [])]

    def under(s: dict, name: str) -> bool:
        p = s["parent"]
        while p is not None:
            if by_id[p]["name"] == name:
                return True
            p = by_id[p]["parent"]
        return False

    merges = outermost("merge")
    singer_run = sum(s["dur"] for s in outermost("singer.run"))
    singer_merge = sum(s["dur"] for s in merges if under(s, "singer.run"))
    singer_maint = sum(
        s["dur"] for s in outermost("table.compact") + outermost("maintenance.compact_manifest")
        if under(s, "singer.run"))
    merge_jobs = [j for s in merges for j in span_jobs(s)]
    merge_call = sum(s["dur"] for s in merges)
    merge_self = sum(
        s["dur"] - sum(c["dur"] for c in children.get(s["id"], [])) for s in merges
    )
    merge_driver = sum(
        s["dur"] - _covered(
            [(j["submit"], j["end"] or s["end"]) for j in span_jobs(s)],
            s["start"], s["end"],
        )
        for s in merges
    )
    merge_exec = sum(j["run_s"] for j in merge_jobs)
    scans = [
        min(span_jobs(s), key=lambda j: j["submit"])["first_stage"]
        for s in merges if span_jobs(s)
    ]

    rows = [p for p in progress if p["input_rows"]]
    dur = [p["duration_ms"] for p in rows]
    trigger = sum(d.get("triggerExecution", 0) for d in dur) / 1000.0
    add_batch = sum(d.get("addBatch", 0) for d in dur) / 1000.0

    in_batch = merge_call + sum(
        s["dur"] for s in outermost("table.compact") + outermost("maintenance.compact_manifest")
        if s["parent"] is None)
    c = tracer.counts
    reads = c.get("table.reads", 0) or 1
    loads = c.get("metadata.loads", 0) or 1
    out = {
        "runner.trigger_s": trigger,
        "runner.add_batch_s": add_batch,
        "runner.overhead_s": trigger - add_batch,
        "runner.wal_s": sum(d.get("walCommit", 0) + d.get("commitOffsets", 0)
                            for d in dur) / 1000.0,
        "runner.plan_s": sum(d.get("queryPlanning", 0) for d in dur) / 1000.0,
        "runner.batches": len(rows),
        "runner.skipped": c.get("merge.skipped", 0),
        "source.scan_tasks": sum(t for t, _ in scans),
        "source.input_bytes": sum(b for _, b in scans),
        "merge.call_s": merge_call,
        "merge.self_s": merge_self,
        "merge.driver_s": merge_driver,
        "merge.exec_run_s": merge_exec,
        "merge.busy_share": merge_exec / (merge_call * cores) if merge_call else 0.0,
        "merge.shuffle_write_bytes": sum(j["shuffle_write"] for j in merge_jobs),
        "merge.spill_bytes": sum(j["spill"] for j in merge_jobs),
        "merge.gc_s": sum(j["gc_s"] for j in merge_jobs),
        "merge.jobs": len(merge_jobs),
        "merge.tasks": sum(j["tasks"] for j in merge_jobs),
        "merge.keys": c.get("merge.keys", 0),
        "merge.buckets": c.get("merge.buckets", 0),
        "metadata.load_s": sum(s["dur"] for s in outermost("metadata.load")),
        "metadata.commit_s": total("metadata.commit"),
        "metadata.snapshot_bytes": c.get("metadata.snapshot_bytes_sum", 0) / loads,
        "metadata.commit_conflicts": sum(
            1 for s in spans
            if s["name"] == "metadata.commit" and s.get("error") == "CommitConflict"
        ),
        "table.read_s": sum(s["dur"] for s in outermost("table.read")),
        "table.delta_files": c.get("table.delta_files_sum", 0) / reads,
        "table.files_live": c.get("table.files_live_sum", 0) / reads,
        "table.schema_groups": c.get("table.schema_groups_sum", 0) / reads,
        "table.compact_s": total("table.compact"),
        "table.bytes_written": sum(j["output_bytes"] for j in win_jobs),
        "maintenance.manifest_compact_s": total("maintenance.compact_manifest"),
        "typesys.plan_s": total("typesys.plan"),
        "singer.run_s": singer_run,
        "singer.portion_merge_s": singer_merge,
        "singer.driver_s": singer_run - singer_merge - singer_maint,
        "singer.portions": c.get("singer.portions", 0),
        "dedup.exact_s": total("dedup.exact"),
        "dedup.lsh_s": total("dedup.lsh"),
        "similarity.cluster_s": total("similarity.cluster"),
        "similarity.topk_s": total("similarity.topk"),
        "text.vocab_s": total("text.vocab"),
        "text.pack_s": total("text.pack"),
        "spark.jobs": len(win_jobs),
        "spark.tasks": sum(j["tasks"] for j in win_jobs),
        "spark.shuffle_bytes": sum(j["shuffle_write"] for j in win_jobs),
        "trace.add_batch_coverage": in_batch / add_batch if add_batch else 0.0,
    }
    out.update(extra)
    missing = set(LAYER_METRICS) - set(out)
    if missing:
        raise RuntimeError(f"layer metrics not computed: {sorted(missing)}")
    return {k: out[k] for k in LAYER_METRICS}


