"""The closed-loop workloads.

Each workload drives the engine's public API from one client (the
benchmark process) and starts its next operation only after the previous
one has committed. :meth:`Workload.setup` and :meth:`Workload.warmup` are
untimed; :meth:`Workload.step` runs one operation and returns the number of
items it applied and its latency samples; :meth:`Workload.output` and
:meth:`Workload.errors` check the result after the measured window.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

import gen
import oracle

HERE = os.path.dirname(os.path.abspath(__file__))

# The change-log envelope, as the stream's FileSource reads it, and the
# table it is upserted into (keyed by ``doc_id``).
LOG_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("n_tok", T.IntegerType()),
        T.StructField("source", T.StringType()),
    ]
)
TABLE_SCHEMA = T.StructType(LOG_SCHEMA.fields[2:])


def consume(df) -> None:
    """Compute every column of ``df`` without keeping it."""
    df.write.format("noop").mode("overwrite").save()


def data_bytes(root: str) -> int:
    """Bytes of parquet data files under ``root``."""
    total = 0
    for d, _, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files
                     if f.endswith(".parquet"))
    return total


class Workload:
    name = ""
    item = ""

    def __init__(self, spark, work: str, seed: int, scale: dict, tracer) -> None:
        self.spark = spark
        self.work = os.path.join(work, self.name)
        self.seed = seed
        self.p = scale
        self.tracer = tracer
        self.reads: list[float] = []
        self.bytes_in = 0
        self.bytes_out = 0
        os.makedirs(self.work, exist_ok=True)

    def setup(self) -> None:
        raise NotImplementedError

    def warmup(self) -> None:
        raise NotImplementedError

    def step(self) -> tuple[int, list[float]]:
        raise NotImplementedError

    def finish(self) -> None:
        """Stop anything the workload left running."""

    def output(self) -> pa.Table:
        """The table the workload produced, read through the engine."""
        return self.table.read().toArrow()

    def errors(self, output) -> list[str]:
        raise NotImplementedError

    def io_bytes(self) -> tuple[int, int]:
        """(input bytes consumed, table data bytes written) so far."""
        return self.bytes_in, self.bytes_out

    def corruptions(self, output) -> dict[str, object]:
        """Copies of ``output`` with one row changed, each of which
        :meth:`errors` must reject."""
        return {"table": oracle.corrupt_one_row(output, "tokens")}

    def timed_read(self, table) -> None:
        """``reads`` readers in turn each scan the whole table."""
        for _ in range(self.p["reads"]):
            with self.tracer.span("table.read") as sp:
                t0 = time.perf_counter()
                consume(table.read())
                self.reads.append(time.perf_counter() - t0)
            if sp is not None:
                self.tracer.read_layout(table)


class BacklogReplay(Workload):
    """``CdcStreamJob.run_available_now`` drains a pre-written change log
    (one file per trigger) into a fresh bucketed CoW table, with the
    runner's maintenance cadence running once at the end of the drain;
    readers then scan the result in turn. Each micro-batch is one latency
    sample: its ``triggerExecution`` time from a ``CdcQueryListener``."""

    name = "backlog_replay"
    item = "event"

    def setup(self) -> None:
        from jitsu_spark.streaming.metrics import CdcQueryListener

        self.log_dir = os.path.join(self.work, "log")
        os.makedirs(self.log_dir)
        self.log_files = []
        per = self.p["events"] // self.p["files"]
        for i in range(self.p["files"]):
            path = os.path.join(self.log_dir, f"part-{i:03d}.parquet")
            pq.write_table(gen.changelog(self.seed, i * per, per, self.p["docs"]), path)
            self.log_files.append(path)
        self.log_bytes = sum(os.path.getsize(f) for f in self.log_files)
        self.log_rows = sum(pq.read_metadata(f).num_rows for f in self.log_files)
        self.n = 0
        self.listener = CdcQueryListener()
        self.spark.streams.addListener(self.listener)

    def _replay(self, tag: str, log_dir: str | None = None):
        """Drain the backlog (or ``log_dir``) into a new table; returns the
        table and the micro-batch latencies."""
        from jitsu_spark.lake import LakeTable
        from jitsu_spark.streaming.runner import CdcStreamJob

        table = LakeTable.create(
            self.spark, os.path.join(self.work, f"t-{tag}"), TABLE_SCHEMA,
            "doc_id", n_buckets=self.p["buckets"],
        )
        job = CdcStreamJob(
            table=table, source_dir=log_dir or self.log_dir,
            checkpoint_dir=os.path.join(self.work, f"ck-{tag}"), job_id=f"replay-{tag}",
            source_schema=LOG_SCHEMA, max_files_per_trigger=1,
            compact_every_n_batches=len(os.listdir(log_dir or self.log_dir)),
        )
        job.run_available_now(self.spark)
        # progress events reach the listener asynchronously, just after
        # each batch's commit
        deadline = time.perf_counter() + 30
        while True:
            mine = [s for s in self.listener.snapshots
                    if s["query"] == job.job_id and s["input_rows"]]
            if len(mine) >= len(job.results) or time.perf_counter() > deadline:
                break
            time.sleep(0.002)
        if len(mine) != len(job.results):
            raise RuntimeError(f"{len(job.results)} micro-batches but "
                               f"{len(mine)} progress events")
        return table, [s["duration_ms"]["triggerExecution"] / 1000.0 for s in mine]

    def warmup(self) -> None:
        """Drain a small backlog of the same shape once (first batch into
        an empty table, then a bucket rewrite, then maintenance), so every
        plan of the drain has been compiled."""
        warm_dir = os.path.join(self.work, "warm-log")
        os.makedirs(warm_dir)
        per = self.p["warm_events"] // self.p["files"]
        seq0 = self.p["events"]
        for i in range(self.p["files"]):
            pq.write_table(
                gen.changelog(self.seed, seq0 + i * per, per, self.p["docs"]),
                os.path.join(warm_dir, f"part-{i:03d}.parquet"))
        self.timed_read(self._replay("warm", warm_dir)[0])
        self.reads.clear()

    def step(self) -> tuple[int, list[float]]:
        self.table, latencies = self._replay(str(self.n))
        self.n += 1
        self.bytes_in += self.log_bytes
        self.bytes_out += data_bytes(self.table.root)
        self.timed_read(self.table)
        return self.log_rows, latencies

    def finish(self) -> None:
        if hasattr(self, "listener"):
            self.spark.streams.removeListener(self.listener)

    def errors(self, output: pa.Table) -> list[str]:
        return oracle.lww_errors(self.log_files, output)


class IngestCurate(Workload):
    """Each operation runs a Singer tap subprocess for its next
    STATE-bounded portion through ``SingerTapJob.run_once`` into a MoR
    table (ids recur, so portions update rows) and compacts the table after
    the portion, readers scan the table,
    and the curation chain runs over the snapshot: ``exact_dedup``,
    ``lsh_candidate_pairs``, ``build_vocab`` + ``encode_documents``,
    ``cluster_balanced_sample``, ``cosine_topk`` and ``pack_tokens``, each
    collected to Arrow. The operation's latency is the ingest plus the
    curation, without the reads."""

    name = "ingest_curate"
    item = "record"

    def setup(self) -> None:
        from jitsu_spark.sources.singer_tap import SingerTapJob

        p = self.p
        self.tap_cmd = [sys.executable, os.path.join(HERE, "tap.py"),
                        "--seed", str(self.seed), "--records", str(p["records"]),
                        "--ids", str(p["ids"])]
        t0 = time.perf_counter()
        subprocess.run(self.tap_cmd, stdout=subprocess.DEVNULL, check=True)
        self.tap_emit_s = time.perf_counter() - t0
        self.job = SingerTapJob(
            spark=self.spark, tap_cmd=self.tap_cmd,
            work_dir=os.path.join(self.work, "singer"),
            tables_root=os.path.join(self.work, "tables"),
            n_buckets=p["buckets"], job_id="singer",
            # every portion writes delta files and is then folded back to
            # one file per bucket, so each operation runs the MoR merge,
            # the bucket compaction and the manifest compaction once
            table_properties={"write.mode": "mor"},
            compact_every_n_portions=1, compact_max_files_per_bucket=1,
        )
        self.portions = 0

    def _curate(self, table) -> dict[str, pa.Table]:
        p, span = self.p, self.tracer.span
        # every call reads the same snapshot: cache it (and the vocabulary)
        # once, as a multi-pass curation job would
        docs = table.read().select("id", "text", "emb").persist()
        try:
            return self._chain(docs, p, span)
        finally:
            self.spark.catalog.clearCache()

    def _chain(self, docs, p: dict, span) -> dict[str, pa.Table]:
        from jitsu_spark.dedup.exact import exact_dedup
        from jitsu_spark.dedup.minhash import lsh_candidate_pairs
        from jitsu_spark.similarity.ann import cosine_topk
        from jitsu_spark.similarity.curation import cluster_balanced_sample
        from jitsu_spark.text.packing import pack_tokens
        from jitsu_spark.text.vocab import build_vocab, encode_documents

        out = {}
        with span("dedup.exact"):
            out["dedup"] = exact_dedup(docs, ["text"], "id").toArrow()
        with span("dedup.lsh"):
            out["pairs"] = lsh_candidate_pairs(docs, "id", "text").toArrow()
        with span("text.vocab"):
            vocab = build_vocab(docs, p["vocab_size"]).persist()
            out["vocab"] = vocab.toArrow()
            encoded = encode_documents(docs, vocab, id_col="id")
            out["encoded"] = encoded.toArrow()
        with span("similarity.cluster"):
            out["sample"] = cluster_balanced_sample(
                docs, "id", "emb", cap=p["cap"], n_centroids=p["n_centroids"],
                seed=self.seed).toArrow()
        with span("similarity.topk"):
            queries = docs.filter(F.col("id") % p["query_every"] == 0)
            out["topk"] = cosine_topk(queries, docs, "id", "id", "emb", k=p["k"]).toArrow()
        with span("text.pack"):
            out["packs"] = pack_tokens(encoded, doc_col="id", tokens_col="token_ids",
                                       max_len=p["max_len"]).toArrow()
        return out

    def step(self) -> tuple[int, list[float]]:
        t0 = time.perf_counter()
        report = self.job.run_once()
        ingest = time.perf_counter() - t0
        self.portions += report.portions
        self.table = self.job.tables[gen.TAP_STREAM]
        self.timed_read(self.table)
        t0 = time.perf_counter()
        self.curated = self._curate(self.table)
        latency = ingest + time.perf_counter() - t0
        return sum(report.records.values()), [latency]

    def warmup(self) -> None:
        for _ in range(self.p["warm_ops"]):
            self.step()
        self.reads.clear()
        self.warm_portions = self.portions
        self.start_bytes = data_bytes(self.job.tables_root)

    def io_bytes(self) -> tuple[int, int]:
        """Bytes of tap output and of table data since the warmup; computed
        when asked, outside the measured window."""
        tap = sum(len(line) + 1 for q in range(self.warm_portions, self.portions)
                  for line in gen.tap_portion_lines(
                      self.seed, q, self.p["records"], self.p["ids"]))
        return tap, data_bytes(self.job.tables_root) - self.start_bytes

    def output(self) -> dict[str, pa.Table]:
        table = self.table.read().select("id", "text", "emb", "portion").toArrow()
        return {"table": table, **self.curated}

    def errors(self, output: dict[str, pa.Table]) -> list[str]:
        p = self.p
        state = gen.singer_state(self.seed, self.portions, p["records"], p["ids"])
        errs = [f"table: {e}" for e in oracle.state_errors(state, output["table"], "id")]
        return errs + oracle.curation_errors(state.drop(["portion"]), output, p)

    def corruptions(self, output: dict[str, pa.Table]) -> dict[str, object]:
        changes = {"table": ("text", None), "dedup": ("n_dups", None),
                   "pairs": ("id_b", lambda v: -1), "vocab": ("n_occurrences", None),
                   "encoded": ("token_ids", None), "sample": ("cluster", lambda v: -1),
                   "topk": ("id_c", lambda v: -1), "packs": ("tokens", None)}
        return {name: {**output, name: oracle.corrupt_one_row(output[name], col, change)}
                for name, (col, change) in changes.items()}


WORKLOADS = {w.name: w for w in (BacklogReplay, IngestCurate)}

# Sizes for a 4-CPU machine (2 executor threads), where one run (session
# start, set-up, warmup, a 15 s window and the check) takes about a minute.
# The warmups run every plan of the window (a fifth-size drain; two whole
# ingest operations), so that the first measured operation is not the one
# that still compiles and warms the JVM. A replay micro-batch
# of 50k events spends about three quarters of its merge time in Spark jobs
# (scan, shuffle, bucket rewrite); a Singer portion of 1000 records and the
# curation calls over a few thousand documents are dominated by fixed
# per-job and per-commit work.
SCALES = {
    "full": {
        "backlog_replay": {"events": 150_000, "docs": 50_000, "files": 3,
                           "buckets": 16, "warm_events": 30_000, "reads": 16},
        "ingest_curate": {"records": 1_000, "ids": 1_500, "buckets": 4,
                          "warm_ops": 2, "vocab_size": 1024, "cap": 20,
                          "n_centroids": 50, "query_every": 100, "k": 5,
                          "max_len": 256, "reads": 6},
    },
    "tiny": {
        "backlog_replay": {"events": 1_500, "docs": 400, "files": 3,
                           "buckets": 4, "warm_events": 300, "reads": 2},
        "ingest_curate": {"records": 200, "ids": 300, "buckets": 4,
                          "warm_ops": 1, "vocab_size": 256, "cap": 5,
                          "n_centroids": 10, "query_every": 20, "k": 3,
                          "max_len": 64, "reads": 2},
    },
}
