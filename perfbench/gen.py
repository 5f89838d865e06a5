"""Seeded input generators for the benchmark (numpy/pyarrow, no Spark).

Inputs are made outside the engine so that a change to the engine's own
fixture generator cannot change what the benchmark feeds it, and so that
set-up stays cheap. The same ``(seed, stream, ...)`` always yields the same
arrays.
"""

from __future__ import annotations

import json

import numpy as np
import pyarrow as pa

VOCAB = 50257
BASE_EPOCH_S = 1_704_067_200  # 2024-01-01T00:00:00Z

# Change-log envelope.
LOG_SCHEMA = pa.schema(
    [
        ("seq", pa.int64()),
        ("op", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("doc_id", pa.string()),
        ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()),
        ("source", pa.string()),
    ]
)


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def stratified(r: np.random.Generator, m: int, hi: int) -> np.ndarray:
    """``m`` lengths in ``1 .. hi``, one from each of ``m`` equal slices of
    the range, in random order: uniform, but with a near-constant sum."""
    lengths = 1 + ((np.arange(m) + r.random(m)) * hi / m).astype(np.int32)
    return r.permutation(np.minimum(lengths, hi))


def doc_ids(idx: np.ndarray) -> list[str]:
    return [f"doc{i:09d}" for i in idx.tolist()]


def changelog(seed: int, seq0: int, n_events: int, n_docs: int) -> pa.Table:
    """``n_events`` CDC envelopes with seqs ``seq0 ..``, in seq order.

    - 10% of events hit key 0 (hot key);
    - 1% of events are delivered twice, adjacent, so a duplicate always
      lands in the same micro-batch as its original;
    - ops are exactly 10% deletes, 70% updates, 20% inserts, in random
      order;
    - exactly 5% of the events, none of them deletes, carry up to 2048
      tokens, the rest up to 64; lengths are stratified
      (:func:`stratified`), so batches of one size carry nearly the same
      number of tokens.
    """
    r = rng_for(seed, 1, seq0, n_events)
    n = n_events
    n_del, n_upd = round(0.1 * n), round(0.7 * n)
    op = r.permutation(np.array(["d"] * n_del + ["u"] * n_upd + ["i"] * (n - n_del - n_upd)))
    hot = r.random(n) < 0.1
    idx = np.where(hot, 0, r.integers(0, n_docs, n))
    is_del = op == "d"
    live = np.flatnonzero(~is_del)
    long_tail = np.zeros(n, dtype=bool)
    long_tail[r.choice(live, min(round(0.05 * n), len(live)), replace=False)] = True
    short = ~long_tail & ~is_del
    n_tok = np.zeros(n, dtype=np.int32)
    n_tok[long_tail] = stratified(r, int(long_tail.sum()), 2048)
    n_tok[short] = stratified(r, int(short.sum()), 64)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(n_tok, out=offsets[1:])
    flat = r.integers(0, VOCAB, int(offsets[-1]), dtype=np.int32)
    tokens = pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(flat), mask=pa.array(is_del)
    )
    ts = (BASE_EPOCH_S + r.integers(0, 86400 * 30, n)) * 1_000_000
    cols = {
        "seq": pa.array(np.arange(seq0, seq0 + n, dtype=np.int64)),
        "op": pa.array(op.tolist(), pa.string()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "doc_id": pa.array(doc_ids(idx)),
        "tokens": tokens,
        "n_tok": pa.array(n_tok, pa.int32(), mask=is_del),
        "source": pa.array([f"src{s}" for s in r.integers(0, 5, n).tolist()]),
    }
    table = pa.table(cols, schema=LOG_SCHEMA)
    dup = r.random(n) < 0.01
    return table.take(np.repeat(np.arange(n), 1 + dup.astype(np.int64)))


# -- Singer tap records --------------------------------------------------------

TAP_WORDS = 20_000
TAP_TEMPLATES = 40
EMB_DIM = 16
TAP_STREAM = "docs"
TAP_SCHEMA = {
    "properties": {
        "id": {"type": "integer"},
        "text": {"type": "string"},
        "emb": {"type": "array", "items": {"type": "number"}},
        "portion": {"type": "integer"},
    }
}


def _template(seed: int, t: int) -> str:
    r = rng_for(seed, 3, t)
    return " ".join(f"w{w}" for w in r.integers(0, TAP_WORDS, 24).tolist())


def singer_portion(seed: int, portion: int, n_records: int, n_ids: int) -> list[dict]:
    """The records of one tap portion, in emission order.

    - 10% of records update id 0 (hot key); the rest draw ids from
      ``0 .. n_ids-1``, so later portions update rows of earlier ones;
    - 15% of texts are one of a few fixed templates (exact duplicates
      across ids); the rest are 8-40 words drawn uniformly from a large
      vocabulary (near-zero overlap between documents);
    - ``emb`` is a 16-dim Gaussian embedding rounded to 4 decimals.
    """
    r = rng_for(seed, 2, portion)
    n = n_records
    ids = np.where(r.random(n) < 0.1, 0, r.integers(0, n_ids, n)).tolist()
    templ = r.random(n) < 0.15
    which = r.integers(0, TAP_TEMPLATES, n).tolist()
    lens = r.integers(8, 41, n)
    words = r.integers(0, TAP_WORDS, int(lens.sum())).tolist()
    emb = np.round(r.normal(size=(n, EMB_DIM)), 4).tolist()
    out, pos = [], 0
    for i in range(n):
        k = int(lens[i])
        if templ[i]:
            text = _template(seed, which[i])
        else:
            text = " ".join(f"w{w}" for w in words[pos:pos + k])
        pos += k
        out.append({"id": ids[i], "text": text, "emb": emb[i], "portion": portion})
    return out


def tap_portion_lines(seed: int, portion: int, n_records: int, n_ids: int) -> list[str]:
    """The RECORD lines and the closing STATE line the tap prints for one
    portion."""
    lines = [json.dumps({"type": "RECORD", "stream": TAP_STREAM, "record": r})
             for r in singer_portion(seed, portion, n_records, n_ids)]
    return lines + [json.dumps({"type": "STATE", "value": {"bookmark": portion + 1}})]


def singer_state(seed: int, n_portions: int, n_records: int, n_ids: int) -> pa.Table:
    """Closed-form table state after portions ``0 .. n_portions-1``: the
    last record of every id."""
    last: dict[int, dict] = {}
    for p in range(n_portions):
        for rec in singer_portion(seed, p, n_records, n_ids):
            last[rec["id"]] = rec
    rows = [last[k] for k in sorted(last)]
    return pa.table(
        {
            "id": pa.array([x["id"] for x in rows], pa.int64()),
            "text": pa.array([x["text"] for x in rows], pa.string()),
            "emb": pa.array([x["emb"] for x in rows], pa.list_(pa.float64())),
            "portion": pa.array([x["portion"] for x in rows], pa.int64()),
        }
    )
