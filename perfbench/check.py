"""Correctness checks, made apart from the program.

* analytics / pipeline: every entry's result is compared with DuckDB
  running the entry's oracle SQL over the same parquet files, with the
  type-sensitive row normalisation of tools/localverify.py. q31, q36, m3
  and m4 carry no oracle by design and are checked by property instead.
* engine_mix: the seeded statement script is replayed in DuckDB from the
  loaded tables; every read, every rejection and the final tables must
  match. Ids the engine assigned inside one bulk load are checked by
  property (dense 1..n, unique, same rows as the source).

`self_test()` feeds the comparisons one altered row, one missing row and
one accepted statement that should have been rejected; each must be
caught. Run it alone with `python3 perfbench/check.py`.
"""
import glob
import hashlib
import json
import math
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
NO_ORACLE = ("q31_approx_percentiles", "q36_approx_distinct",
             "m3_feature_summary", "m4_resize")


def key(v):
    # As tools/localverify.py, a float keeps an "f:" tag, so an oracle
    # column widened to float fails against an integer column. Floats
    # only order the rows here; `same` compares them.
    if isinstance(v, float):
        return "f:nan" if math.isnan(v) else f"f:{v:.6g}"
    return str(v)


def same(a, b):
    """Floats agree to 1e-9 relative: a sum can land on either side of a
    printed rounding edge depending on summation order, which the two
    engines choose differently. Everything else compares exactly."""
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    return key(a) == key(b)


def compare_rows(expected, got):
    """Unordered comparison of two row lists; returns the differences."""
    if len(expected) != len(got):
        return [f"rows program={len(got)} expected={len(expected)}"]
    if sorted(repr(tuple(r)) for r in expected) == sorted(repr(tuple(r)) for r in got):
        return []  # identical values and types; the common case, and fast
    e = sorted(((tuple(key(v) for v in r), tuple(r)) for r in expected), key=lambda t: t[0])
    g = sorted(((tuple(key(v) for v in r), tuple(r)) for r in got), key=lambda t: t[0])
    diff = [(x, y) for (_, x), (_, y) in zip(e, g)
            if len(x) != len(y) or not all(same(u, v) for u, v in zip(x, y))]
    if diff:
        return [f"{len(diff)} rows differ; first expected={diff[0][0]} program={diff[0][1]}"]
    return []


def compare_frames(o, s):
    """Compare two pandas frames as unordered rows over sorted columns."""
    ocols, scols = sorted(o.columns), sorted(s.columns)
    if ocols != scols:
        return [f"columns program={scols} oracle={ocols}"]
    return compare_rows(list(o[ocols].itertuples(index=False)),
                        list(s[scols].itertuples(index=False)))


# ------------------------------------------------------------ battery checks

def battery_connection(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def result_frame(run_dir, name):
    files = glob.glob(os.path.join(run_dir, "results", name, "*.parquet"))
    if not files:
        return None
    return duckdb.connect().execute(
        f"SELECT * FROM read_parquet('{run_dir}/results/{name}/*.parquet')").fetchdf()


def oracle_frame(con, sql, data_dir, cache_dir):
    """DuckDB's answer, kept per (SQL, input files) in the checkout so
    repeated runs on the same inputs do not recompute it."""
    key = hashlib.sha256((sql + open(os.path.join(data_dir, ".stamp")).read()).encode()).hexdigest()
    path = os.path.join(cache_dir, key + ".parquet")
    if not os.path.exists(path):
        os.makedirs(cache_dir, exist_ok=True)
        con.execute(f"COPY ({sql}) TO '{path}.tmp' (FORMAT PARQUET)")
        os.replace(path + ".tmp", path)
    return duckdb.connect().execute(f"SELECT * FROM read_parquet('{path}')").fetchdf()


def check_battery(data_dir, run_dir, rec):
    problems = []
    oracle = json.load(open(os.path.join(run_dir, "oracle_sql.json")))
    # entries that failed in the last pass have no output; they are
    # counted as failed operations, not judged here
    names = sorted(o["name"] for o in rec["passes"][-1]["ops"] if o["ok"])
    con = battery_connection(data_dir)
    cache = os.path.join(os.path.dirname(os.path.dirname(run_dir)), "oracle")
    for name in names:
        s = result_frame(run_dir, name)
        if s is None:
            problems.append(f"{name}: no output")
            continue
        if name in NO_ORACLE:
            problems += [f"{name}: {m}" for m in PROPERTY_CHECKS[name](con, s)]
        elif name not in oracle:
            problems.append(f"{name}: no oracle SQL and no property check")
        else:
            o = oracle_frame(con, oracle[name], data_dir, cache)
            problems += [f"{name}: {m}" for m in compare_frames(o, s)]
    return problems


def rel(a, e):
    return abs(a - e) / max(abs(e), 1e-9)


def check_q31(con, s):
    """Sketch percentiles within 0.5% of the exact ones; min/max exact."""
    exact = {r[0]: r[1:] for r in con.execute(
        "SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5), "
        "quantile_cont(l_extendedprice, 0.9), quantile_cont(l_extendedprice, 0.99), "
        "min(l_extendedprice), max(l_extendedprice) FROM lineitem GROUP BY 1").fetchall()}
    got = {r.l_returnflag: (r.p50, r.p90, r.p99, r.lo, r.hi) for r in s.itertuples()}
    if set(got) != set(exact) or not exact:
        return [f"groups {sorted(got)} != {sorted(exact)}"]
    out = []
    for k, e in exact.items():
        g = got[k]
        if max(rel(g[i], e[i]) for i in range(3)) > 0.005:
            out.append(f"group {k}: percentiles {g[:3]} vs exact {e[:3]}")
        if g[3] != e[3] or g[4] != e[4]:
            out.append(f"group {k}: min/max {g[3:]} vs {e[3:]}")
    return out


def check_q36(con, s):
    """Distinct estimates within 0.08 (4x rsd) of exact; row counts exact."""
    exact = {r[0]: r[1:] for r in con.execute(
        "SELECT l_returnflag, count(DISTINCT l_orderkey), count(DISTINCT l_partkey), count(*) "
        "FROM lineitem GROUP BY 1").fetchall()}
    got = {r.l_returnflag: (r.approx_orders, r.approx_parts, r.n_rows) for r in s.itertuples()}
    if set(got) != set(exact) or not exact:
        return [f"groups {sorted(got)} != {sorted(exact)}"]
    out = []
    for k, e in exact.items():
        g = got[k]
        if rel(g[0], e[0]) > 0.08 or rel(g[1], e[1]) > 0.08 or g[2] != e[2]:
            out.append(f"group {k}: {g} vs exact {e}")
    return out


def _content(con):
    return {r[0]: r[1].encode("utf-8") for r in con.execute(
        "SELECT doc_id, text FROM documents").fetchall()}


def check_m3(con, s):
    """n_bytes and millibit entropy of the 16-bin high-nibble histogram,
    recomputed from the source bytes per document."""
    out, src = [], _content(con)
    got = {r.doc_id: (r.n_bytes, r.entropy_q) for r in s.itertuples()}
    if set(got) != set(src):
        return [f"documents {len(got)} != {len(src)}"]
    for doc, b in src.items():
        hist = [0] * 16
        for x in b:
            hist[x >> 4] += 1
        n = max(1, len(b))
        h = -sum(c / n * math.log(c / n) / math.log(2) for c in hist if c)
        if got[doc] != (len(b), math.floor(h * 1000 + 0.5)):
            out.append(f"doc {doc}: {got[doc]} vs {(len(b), math.floor(h * 1000 + 0.5))}")
    return out[:5]


def check_m4(con, s):
    """Every image resized to 1024 bytes by cyclic tiling of its source."""
    out = []
    src = {k: v for k, v in _content(con).items() if k % 3 == 0}
    got = {r.doc_id: (r.n_bytes, r.content_md5) for r in s.itertuples()}
    if set(got) != set(src):
        return [f"images {len(got)} != {len(src)}"]
    for doc, b in src.items():
        tiled = bytes(b[i % len(b)] for i in range(1024)) if b else bytes(1024)
        want = (1024, hashlib.md5(tiled).hexdigest())
        if got[doc] != want:
            out.append(f"doc {doc}: {got[doc]} vs {want}")
    return out[:5]


PROPERTY_CHECKS = {"q31_approx_percentiles": check_q31, "q36_approx_distinct": check_q36,
                   "m3_feature_summary": check_m3, "m4_resize": check_m4}


# -------------------------------------------------------- engine_mix replay

def mix_connection(a_pks, b_rows, c_rows):
    con = duckdb.connect()
    con.execute("CREATE TABLE A (pk BIGINT)")
    con.register("src_rows", pd.DataFrame({"pk": a_pks}))
    con.execute("INSERT INTO A SELECT pk FROM src_rows")
    con.unregister("src_rows")
    for t, rows in (("B", b_rows), ("C", c_rows)):
        con.execute(f"CREATE TABLE {t} (pk BIGINT, fk BIGINT, val DOUBLE)")
        if rows:
            con.register("src_rows", pd.DataFrame(rows, columns=["pk", "fk", "val"]))
            con.execute(f"INSERT INTO {t} SELECT pk, fk, val FROM src_rows")
            con.unregister("src_rows")
    con.execute("CREATE TABLE K (id BIGINT, name VARCHAR NOT NULL, email VARCHAR UNIQUE, "
                "score DOUBLE DEFAULT 1.5)")
    return con


def _duck_sql(sql):
    return sql.replace("mix.", "")


def _k_insert_with_ids(sql, next_id):
    """The engine assigns AUTO_INCREMENT ids; DuckDB gets them explicitly,
    in VALUES order, from the counter the replay keeps."""
    head, values = sql.split(" VALUES ", 1)
    cols = head[head.index("(") + 1:head.index(")")]
    tuples, depth, cur = [], 0, ""
    for ch in values:
        if ch == "(" and depth == 0:
            depth, cur = 1, ""
            continue
        if ch == "(":
            depth += 1
        if ch == ")":
            depth -= 1
            if depth == 0:
                tuples.append(cur)
                continue
        if depth:
            cur += ch
    rows = ", ".join(f"({next_id + i}, {t})" for i, t in enumerate(tuples))
    return f"INSERT INTO K (id, {cols}) VALUES {rows}", len(tuples)


def replay(script, outcomes, reads, con):
    """Replay the executed passes in DuckDB. `outcomes[(p, i)]` is the
    engine's (ok, detail) for statement i of pass p; `reads[(p, i)]` the
    rows it returned. A statement that failed in the engine is counted
    there as failed and not applied here, except an accepted statement
    that must be rejected: that is a wrong result. Returns a list of
    problems."""
    problems = []
    next_id = 1
    for (p, i), (ok, detail) in sorted(outcomes.items()):
        st = script["passes"][p][i]
        kind, sql = st["kind"], st["sql"]
        where = f"pass {p} statement {i} ({kind})"
        if kind in ("filter", "find", "group_sum", "join"):
            if ok:
                want = con.execute(_duck_sql(sql)).fetchall()
                problems += [f"{where}: {m}" for m in compare_rows(want, reads.get((p, i), []))]
        elif kind == "insert":
            stmt, n = _k_insert_with_ids(_duck_sql(sql), next_id)
            con.execute("BEGIN")
            try:
                con.execute(stmt)
                accepted = True
            except duckdb.Error:
                accepted = False
            engine_accepted = not detail.startswith("rejected")
            if accepted != (st["expect"] == "ok"):
                problems.append(f"{where}: script expects {st['expect']}, DuckDB disagrees")
            if engine_accepted and not accepted:
                problems.append(f"{where}: engine accepted a statement that must be rejected")
            if engine_accepted and accepted:
                con.execute("COMMIT")
                next_id += n
            else:
                con.execute("ROLLBACK")
        elif kind in ("update", "delete") and ok:
            n = con.execute(_duck_sql(sql)).fetchone()[0]
            if detail != f"{'Update' if kind == 'update' else 'Delete'}({n})":
                problems.append(f"{where}: engine reported {detail}, expected {n} rows")
    return problems


def final_problems(con, finals):
    """Final tables of the engine against the replayed ones."""
    out = []
    for t, rows in finals.items():
        want = con.execute(f"SELECT * FROM {t}").fetchall()
        out += [f"final {t}: {m}" for m in compare_rows(want, rows)]
    emails = [r[2] for r in finals.get("K", [])]
    if len(emails) != len(set(emails)):
        out.append("final K: duplicate values in UNIQUE column email")
    return out


def _rows(path, cols):
    """Rows of a parquet file, or of every parquet file in a directory."""
    glob_ = path if path.endswith(".parquet") else path + "/*.parquet"
    return duckdb.connect().execute(f"SELECT {cols} FROM read_parquet('{glob_}')").fetchall()


def check_mix(run_dir, rec):
    problems = []
    script = json.load(open(os.path.join(run_dir, "script.json")))
    a_pks = [r[0] for r in _rows(f"{run_dir}/src_a.parquet", "pk")]
    loaded = {}
    for t in ("B", "C"):
        rows = _rows(f"{run_dir}/loaded_{t}", "pk, fk, val")
        src = _rows(f"{run_dir}/src_{t.lower()}.parquet", "fk, val")
        pks = sorted(r[0] for r in rows)
        if pks != list(range(1, len(src) + 1)):
            problems.append(f"loaded {t}: AUTO_INCREMENT ids are not dense 1..{len(src)} and unique")
        problems += [f"loaded {t}: {m}" for m in compare_rows(src, [r[1:] for r in rows])]
        loaded[t] = rows
    con = mix_connection(a_pks, loaded["B"], loaded["C"])
    outcomes = {(p, i): (o["ok"], o["detail"] if o["detail"] else "")
                for p, ps in enumerate(rec["passes"]) for i, o in enumerate(ps["ops"])}
    reads = {}
    with open(os.path.join(run_dir, "reads.jsonl")) as f:
        for line in f:
            r = json.loads(line)
            reads[(r["pass"], r["i"])] = r["rows"]
    problems += replay(script, outcomes, reads, con)
    finals = {"A": _rows(f"{run_dir}/final_A", "pk"),
              "B": _rows(f"{run_dir}/final_B", "pk, fk, val"),
              "C": _rows(f"{run_dir}/final_C", "pk, fk, val"),
              "K": _rows(f"{run_dir}/final_K", "id, name, email, score")}
    problems += final_problems(con, finals)
    return problems


def check_run(workload, data_dir, run_dir, rec):
    if workload == "engine_mix":
        return check_mix(run_dir, rec)
    return check_battery(data_dir, run_dir, rec)


# --------------------------------------------------------------- self-test

def self_test():
    """Each planted fault must be caught; returns True when all are."""
    good = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    altered = good.copy()
    altered.loc[1, "v"] = 1.25
    missing = good.iloc[:2]
    caught = [compare_frames(good, good) == [],
              compare_frames(good, altered) != [],
              compare_frames(good, missing) != [],
              compare_frames(good, good.astype({"v": "int64"})) != []]
    script = {"passes": [[
        {"kind": "insert", "expect": "ok", "sql": "INSERT INTO mix.K (name, email) VALUES ('a', 'a@x')"},
        {"kind": "insert", "expect": "reject",
         "sql": "INSERT INTO mix.K (name, email) VALUES ('b', 'a@x')"},
        {"kind": "find", "sql": "SELECT pk, fk, val FROM mix.B WHERE pk = 2"}]]}
    rows_b = [(1, 7, 0.5), (2, 8, 1.5)]

    def run(outcomes, reads, final_k):
        con = mix_connection([7, 8], rows_b, [])
        return replay(script, outcomes, reads, con) + final_problems(con, {"K": final_k})

    right = {(0, 0): (True, "Insert(1)"), (0, 1): (True, "rejected: duplicate"),
             (0, 2): (True, "")}
    k_ok = [(1, "a", "a@x", 1.5)]
    caught += [run(right, {(0, 2): [[2, 8, 1.5]]}, k_ok) == [],
               run(right, {(0, 2): [[2, 8, 1.75]]}, k_ok) != [],
               run(right, {(0, 2): []}, k_ok) != [],
               run({**right, (0, 1): (False, "Insert(1)")}, {(0, 2): [[2, 8, 1.5]]},
                   k_ok + [(2, "b", "a@x", 1.5)]) != []]
    return all(caught)


if __name__ == "__main__":
    ok = self_test()
    print("checker self-test:", "OK" if ok else "FAILED")
    raise SystemExit(0 if ok else 1)
