"""Input generation for the benchmark.

Two kinds of input:

* the ten battery tables (region … embeddings), written once per checkout
  with a FIXED generator seed, in the shapes and value domains of
  `graft.DataGen` (TESTDATA.md) at a chosen scale. The workload seed does
  not touch them: for `analytics` and `pipeline` it varies only the order
  in which entries run;
* the `engine_mix` inputs and statement script, generated from the
  workload seed on every run.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]


def _days(rng, n, start, span):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _write(path, table):
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def battery_tables(out_dir, scale):
    """Write the ten battery tables for `scale` (1.0 = sf1) into out_dir."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = int(150000 * scale), int(10000 * scale), int(200000 * scale)
    n_ord, n_line, n_evt = int(1500000 * scale), int(6000000 * scale), int(1000000 * scale)
    n_doc, n_emb = int(50000 * scale), int(50000 * scale)
    n_user = max(1, n_cust // 10)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    pick = lambda vals, n: np.array(vals, dtype=object)[rng.integers(0, len(vals), n)]
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    ids = np.arange(n_cust)
    tables["customer"] = pa.table({
        "c_custkey": pa.array(ids, i64),
        "c_name": [f"Customer#{i:09d}" for i in ids],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(np.round(-1000 + rng.random(n_cust) * 11000, 2), f64),
        "c_mktsegment": pa.array(pick(["AUTOMOBILE", "HOUSEHOLD", "FURNITURE",
                                       "MACHINERY", "BUILDING"], n_cust), s)})
    ids = np.arange(n_supp)
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(ids, i64),
        "s_name": [f"Supplier#{i:09d}" for i in ids],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(np.round(-1000 + rng.random(n_supp) * 11000, 2), f64)})
    ids = np.arange(n_part)
    adjs = pick(["small", "red", "new", "blue", "old", "cold", "large", "hot"], n_part)
    nouns = pick(["gizmo", "ring", "gear", "bolt", "plate", "rod", "widget", "anvil"], n_part)
    tables["part"] = pa.table({
        "p_partkey": pa.array(ids, i64),
        "p_name": [f"{a} {b}" for a, b in zip(adjs, nouns)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pa.array(pick(["ECONOMY", "MEDIUM", "LARGE", "STANDARD", "PROMO",
                                 "SMALL"], n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (ids % 1000) * 0.1, 1), f64)})
    ids = np.arange(n_ord)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(ids, i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(pick(["O", "P", "F"], n_ord), s),
        "o_totalprice": pa.array(np.round(1000 + rng.random(n_ord) * 499000, 2), f64),
        "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", 2404), pa.timestamp("us")),
        "o_orderpriority": pa.array(pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                          "4-NOT SPECIFIED", "5-LOW"], n_ord), s)})
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float), f64),
        "l_extendedprice": pa.array(np.round(900 + rng.random(n_line) * 104100, 2), f64),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n_line) * 0.01, 2), f64),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n_line) * 0.01, 2), f64),
        "l_returnflag": pa.array(pick(["A", "N", "R"], n_line), s),
        "l_linestatus": pa.array(pick(["O", "F"], n_line), s),
        "l_shipdate": pa.array(_days(rng, n_line, "1995-01-02", 2498), pa.timestamp("us"))})
    # events: arrival-ordered over a fixed 30-day window, event_id monotone in ts
    ts = np.sort(np.datetime64("2024-01-01T00:00:00", "us")
                 + (rng.random(n_evt) * 2592000e6).astype("timedelta64[us]"))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_user, n_evt), i64),
        "event_type": pa.array(pick(["view", "click", "signup", "purchase", "error"], n_evt), s),
        "value": pa.array(np.round(np.minimum(-50 * np.log(1 - rng.random(n_evt) + 1e-12),
                                              999.0), 2), f64),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    # documents: 30-word vocabulary, 10–100 words, ~5% near-duplicates of
    # an earlier document (its text + " dup")
    texts = []
    for i in range(n_doc):
        words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
        text = " ".join(VOCAB[w] for w in words)
        if i > 0 and rng.random() < 0.05:
            text = texts[int(rng.integers(0, i))] + " dup"
        texts.append(text)
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": pa.array(np.where(rng.random(n_doc) < 0.41, "en",
                                  pick(["zh", "de", "fr", "es"], n_doc)).astype(object), s),
        "source": [f"src{k}" for k in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    # embeddings: unit-norm 64-d float vectors with a weak label-cluster signal
    labels = np.arange(n_emb) % 10
    centroids = rng.standard_normal((10, 64))
    raw = rng.standard_normal((n_emb, 64)) + 0.07 * centroids[labels]
    unit = (raw / np.linalg.norm(raw, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(unit), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        _write(os.path.join(out_dir, f"{name}.parquet"), table)
    return {name: t.num_rows for name, t in tables.items()}


# ---------------------------------------------------------------- engine_mix

A_ROWS, B_ROWS = 10_000, 100_000
K_BATCH = 5
# Statements of one pass, by kind. Reads dominate, as in the reference
# benchmark; the writes run between them on the same tables.
# Shares are set so that the median statement falls inside the point
# reads and the 90th percentile inside the accepted inserts, not on the
# edge between two kinds.
PASS_SHAPE = {"filter": 12, "find": 12, "group_sum": 4, "join": 4,
              "insert": 4, "insert_reject": 2, "update": 2, "delete": 1, "compact": 1}


def mix_inputs(run_dir, seed, max_passes):
    """Seeded engine_mix inputs: source parquet for A, B and C, and the
    statement script for up to `max_passes` passes (the run executes a
    prefix of whole passes). Returns the script dict."""
    rng = np.random.default_rng(seed)
    os.makedirs(run_dir, exist_ok=True)
    _write(os.path.join(run_dir, "src_a.parquet"),
           pa.table({"pk": pa.array(rng.permutation(A_ROWS), pa.int64())}))
    for name in ("b", "c"):
        # val is a multiple of 1/8 below 1000, so every sum the script
        # asks for is exact in binary floating point and both engines
        # must agree bit for bit
        _write(os.path.join(run_dir, f"src_{name}.parquet"), pa.table({
            "fk": pa.array(rng.integers(0, A_ROWS, B_ROWS), pa.int64()),
            "val": pa.array(rng.integers(0, 8000, B_ROWS) / 8.0, pa.float64())}))
    passes = []
    emails = []      # emails of every insert that is expected to succeed
    seq = 0
    for _ in range(max_passes):
        stmts = []
        for kind, n in PASS_SHAPE.items():
            for _ in range(n):
                stmts.append(_mix_statement(kind, rng, emails, seq))
                seq += 1
        order = rng.permutation(len(stmts))
        passes.append([stmts[i] for i in order])
        # the rejection kinds refer to emails accepted in EARLIER passes
        # only, so the expected outcome does not depend on order in a pass
        emails.extend(e for st in passes[-1] for e in st.get("new_emails", []))
    script = {"seed": seed, "a_rows": A_ROWS, "b_rows": B_ROWS, "passes": passes}
    with open(os.path.join(run_dir, "script.json"), "w") as f:
        json.dump(script, f)
    return script


def _mix_statement(kind, rng, emails, seq):
    if kind == "filter":
        return {"kind": kind, "sql": "SELECT pk, fk, val FROM mix.B WHERE pk < 100"}
    if kind == "find":
        return {"kind": kind,
                "sql": f"SELECT pk, fk, val FROM mix.B WHERE pk = {int(rng.integers(1, B_ROWS + 1))}"}
    if kind == "group_sum":
        return {"kind": kind, "sql": "SELECT fk, SUM(val) AS s FROM mix.B GROUP BY fk"}
    if kind == "join":
        return {"kind": kind, "sql": "SELECT a.pk, SUM(b.val) AS s FROM mix.A a "
                                     "INNER JOIN mix.B b ON b.fk = a.pk GROUP BY a.pk"}
    if kind == "update":
        lo = int(rng.integers(1, B_ROWS - 50))
        return {"kind": kind, "sql": f"UPDATE mix.B SET val = val + 0.125 "
                                     f"WHERE pk >= {lo} AND pk < {lo + 50}"}
    if kind == "delete":
        return {"kind": kind, "sql": f"DELETE FROM mix.C WHERE fk = {int(rng.integers(0, A_ROWS))}"}
    if kind == "compact":
        return {"kind": kind, "sql": "COMPACT TABLE mix.K"}
    # one statement per batch: half the batches give every score, the
    # rest leave it to the column DEFAULT
    with_score = bool(rng.random() < 0.5)
    new = [f"u{seq}_{j}@x" for j in range(K_BATCH)]
    rows = [[f"'n{seq}_{j}'", f"'{e}'", f"{int(rng.integers(0, 80)) / 8.0}"]
            for j, e in enumerate(new)]
    if kind == "insert":
        return {"kind": kind, "expect": "ok", "new_emails": new,
                "sql": _insert_sql(rows, with_score)}
    # a statement the engine must reject whole, leaving K unchanged
    how = ["dup_in_batch", "null_name", "dup_existing"][int(rng.integers(0, 3))]
    if how == "dup_existing" and not emails:
        how = "dup_in_batch"
    j = int(rng.integers(0, K_BATCH))
    if how == "dup_in_batch":
        rows[j][1] = rows[(j + 1) % K_BATCH][1]
    elif how == "null_name":
        rows[j][0] = "NULL"
    else:
        rows[j][1] = f"'{emails[int(rng.integers(0, len(emails)))]}'"
    return {"kind": "insert", "expect": "reject", "why": how,
            "sql": _insert_sql(rows, with_score)}


def _insert_sql(rows, with_score):
    if with_score:
        return ("INSERT INTO mix.K (name, email, score) VALUES " +
                ", ".join(f"({n}, {e}, {sc})" for n, e, sc in rows))
    return ("INSERT INTO mix.K (name, email) VALUES " +
            ", ".join(f"({n}, {e})" for n, e, _ in rows))
