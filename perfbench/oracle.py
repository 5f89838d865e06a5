"""Independent correctness checks, run untimed after the measured window.

A check compares an engine output with a result computed here without the
engine, in DuckDB. It returns a list of error strings; empty means the
output is correct.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

_MAX_SHOWN = 3


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET TimeZone = 'UTC'")
    return con


def lww_errors(log_files: list[str], actual: pa.Table, key: str = "doc_id") -> list[str]:
    """``actual`` must equal last-writer-wins by ``seq`` over the change-log
    files: one row per key whose last event is not a delete, with that
    event's payload. Token arrays compare element-wise."""
    con = _connect()
    files = ", ".join(f"'{f}'" for f in log_files)
    con.execute(
        f"""CREATE TABLE expected AS
        SELECT * EXCLUDE (rn, seq, op) FROM (
          SELECT *, row_number() OVER (PARTITION BY {key} ORDER BY seq DESC) AS rn
          FROM read_parquet([{files}]))
        WHERE rn = 1 AND op <> 'd'"""
    )
    return _diff(con, actual, key)


def state_errors(expected: pa.Table, actual: pa.Table, key: str) -> list[str]:
    """``actual`` must hold exactly the rows of ``expected``."""
    con = _connect()
    con.register("expected_arrow", expected)
    con.execute("CREATE TABLE expected AS SELECT * FROM expected_arrow")
    return _diff(con, actual, key)


def _diff(con: duckdb.DuckDBPyConnection, actual: pa.Table, key: str) -> list[str]:
    """Compare table ``expected`` in ``con`` with ``actual`` row by row."""
    con.register("actual_arrow", actual)
    con.execute("CREATE TABLE actual AS SELECT * FROM actual_arrow")
    exp_cols = [r[0] for r in con.execute("DESCRIBE expected").fetchall()]
    act_cols = [r[0] for r in con.execute("DESCRIBE actual").fetchall()]
    errors = []
    if sorted(exp_cols) != sorted(act_cols):
        errors.append(f"columns differ: expected {sorted(exp_cols)}, got {sorted(act_cols)}")
        return errors
    n_exp = con.execute("SELECT count(*) FROM expected").fetchone()[0]
    n_act = con.execute("SELECT count(*) FROM actual").fetchone()[0]
    if n_exp != n_act:
        errors.append(f"row count: expected {n_exp}, got {n_act}")
    diff = " OR ".join(f"e.{c} IS DISTINCT FROM a.{c}" for c in exp_cols if c != key)
    bad = con.execute(
        f"""SELECT coalesce(e.{key}, a.{key}) FROM expected e
        FULL OUTER JOIN actual a ON e.{key} = a.{key}
        WHERE e.{key} IS NULL OR a.{key} IS NULL OR {diff}
        ORDER BY 1"""
    ).fetchall()
    if bad:
        errors.append(
            f"{len(bad)} rows differ from the oracle, e.g. "
            f"{[b[0] for b in bad[:_MAX_SHOWN]]}"
        )
    dup = con.execute(
        f"SELECT count(*) - count(DISTINCT {key}) FROM actual"
    ).fetchone()[0]
    if dup:
        errors.append(f"{dup} duplicate keys in the table")
    con.close()
    return errors


def curation_errors(docs: pa.Table, out: dict[str, pa.Table], p: dict) -> list[str]:
    """Check the curation chain's outputs over ``docs`` (id, text, emb),
    computed here in DuckDB and numpy:

    - ``dedup``: one row per distinct text with its md5, least id and count;
    - ``pairs``: ordered, distinct, existing ids, and every pair of
      identical texts present (identical texts agree on every LSH band);
    - ``vocab``: the ``vocab_size`` most frequent words, ids dense in
      (count desc, word asc) order; ``encoded``: each document's word
      count, OOV count and id sequence under that vocabulary;
    - ``sample``: clusters are the hash-sampled centroids, each row's
      cluster within 1e-5 of its best cosine, at most ``cap`` rows and
      ranks 1..n per cluster, no id twice;
    - ``topk``: ``k`` rows per query with the cosine of the pair (4dp) and
      a k-th value no worse than the exact k-th best;
    - ``packs``: every pack but the last full, and the packs' tokens, in
      order, equal to the encoded documents' ids in id order.
    """
    import numpy as np

    con = _connect()
    con.register("docs", docs)
    errors: list[str] = []

    def check(name: str, errs: list[str]) -> None:
        errors.extend(f"{name}: {e}" for e in errs)

    expected = con.execute(
        "SELECT md5(text) AS content_hash, min(id) AS keep_id, count(*) AS n_dups "
        "FROM docs GROUP BY text").arrow()
    check("dedup", state_errors(expected, out["dedup"], "content_hash"))

    con.register("pairs", out["pairs"])
    bad = con.execute(
        "SELECT count(*) FROM pairs WHERE NOT id_a < id_b "
        "OR id_a NOT IN (SELECT id FROM docs) OR id_b NOT IN (SELECT id FROM docs)"
    ).fetchone()[0]
    dup = con.execute(
        "SELECT count(*) - count(DISTINCT (id_a, id_b)) FROM pairs").fetchone()[0]
    missing = con.execute(
        "SELECT count(*) FROM (SELECT a.id, b.id FROM docs a JOIN docs b "
        "ON a.text = b.text AND a.id < b.id EXCEPT SELECT id_a, id_b FROM pairs)"
    ).fetchone()[0]
    for n, what in ((bad, "unordered or unknown"), (dup, "duplicate"),
                    (missing, "identical-text pairs missing")):
        if n:
            errors.append(f"pairs: {n} {what}")

    vocab = con.execute(
        f"""SELECT token, (row_number() OVER (ORDER BY n DESC, token) - 1)::BIGINT
          AS token_id, n AS n_occurrences FROM (
          SELECT token, count(*)::BIGINT AS n FROM (
            SELECT unnest(string_split(text, ' ')) AS token FROM docs)
          GROUP BY token ORDER BY n DESC, token LIMIT {p["vocab_size"]})"""
    ).arrow()
    check("vocab", state_errors(vocab, out["vocab"], "token"))
    ids = dict(zip(vocab.column("token").to_pylist(), vocab.column("token_id").to_pylist()))
    order = np.argsort(docs.column("id").to_numpy())
    texts = docs.column("text").to_pylist()
    doc_ids = docs.column("id").to_pylist()
    encoded = [[ids.get(w, -1) for w in texts[i].split(" ")] for i in order]
    check("encoded", state_errors(pa.table({
        "id": pa.array([doc_ids[i] for i in order], pa.int64()),
        "n_tokens": pa.array([len(e) for e in encoded], pa.int64()),
        "n_oov": pa.array([e.count(-1) for e in encoded], pa.int64()),
        "token_ids": pa.array(encoded, pa.list_(pa.int64())),
    }), out["encoded"], "id"))

    emb = np.array(docs.column("emb").to_pylist())
    unit = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    row = {d: i for i, d in enumerate(doc_ids)}
    cents = [r[0] for r in con.execute(
        f"SELECT id FROM docs ORDER BY md5('cent#' || id::VARCHAR), id "
        f"LIMIT {p['n_centroids']}").fetchall()]
    sample = out["sample"]
    s_ids = sample.column("id").to_pylist()
    s_cl = sample.column("cluster").to_pylist()
    s_rank = sample.column("pick_rank").to_pylist()
    cos = unit[[row.get(i, 0) for i in s_ids]] @ unit[[row[c] for c in cents]].T
    errs = []
    if len(set(s_ids)) != len(s_ids) or not set(s_ids) <= set(row):
        errs.append("ids repeated or unknown")
    for j, (i, c) in enumerate(zip(s_ids, s_cl)):
        if c not in cents or cos[j, cents.index(c)] < cos[j].max() - 1e-5:
            errs.append(f"id {i} is not in its nearest cluster")
            break
    per: dict[int, list[int]] = {}
    for c, r in zip(s_cl, s_rank):
        per.setdefault(c, []).append(r)
    if any(sorted(r) != list(range(1, len(r) + 1)) or len(r) > p["cap"]
           for r in per.values()):
        errs.append(f"a cluster is over the cap {p['cap']} or its ranks have gaps")
    check("sample", errs)

    topk = out["topk"]
    q_ids = [d for d in doc_ids if d % p["query_every"] == 0]
    sims = unit[[row[q] for q in q_ids]] @ unit.T
    got: dict[int, list[tuple[int, float]]] = {}
    for q, c, s in zip(topk.column("id_q").to_pylist(), topk.column("id_c").to_pylist(),
                       topk.column("sim").to_pylist()):
        got.setdefault(q, []).append((c, s))
    errs = []
    if sorted(got) != sorted(q_ids):
        errs.append("queries differ")
    for qi, q in enumerate(q_ids):
        rows_q = got.get(q, [])
        exact = np.sort(np.delete(sims[qi], row[q]))[::-1]
        if len(rows_q) != p["k"] or any(
                c == q or c not in row or abs(sims[qi, row[c]] - s) > 1e-4
                for c, s in rows_q) or min(s for _, s in rows_q) < exact[p["k"] - 1] - 1e-4:
            errs.append(f"query {q}: wrong neighbours {rows_q}")
            break
    check("topk", errs)

    packs = out["packs"].sort_by("pack_id")
    n_tok = packs.column("n_tok").to_pylist()
    flat = [t for toks in packs.column("tokens").to_pylist() for t in toks]
    errs = []
    if any(n != p["max_len"] for n in n_tok[:-1]):
        errs.append("a pack before the last is not full")
    if flat != [t for e in encoded for t in e]:
        errs.append("packed tokens differ from the encoded documents")
    check("packs", errs)
    con.close()
    return errors


def corrupt_one_row(table: pa.Table, column: str, change=None) -> pa.Table:
    """Copy of ``table`` whose first row has ``column`` changed by
    ``change(value)``; by default a list's last element or a number is
    increased by one and a string gets a letter appended."""
    def default(v):
        if isinstance(v, list):
            return v[:-1] + [v[-1] + 1]
        if isinstance(v, str):
            return v + "x"
        return v + 1

    values = table.column(column).to_pylist()
    values[0] = (change or default)(values[0])
    i = table.schema.get_field_index(column)
    return table.set_column(i, table.schema.field(i), pa.array(values, table.schema.field(i).type))
