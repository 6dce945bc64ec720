"""Correctness oracles for the perfbench workloads, all independent of Graft.

ledger_dml      replays the executed op sequence in DuckDB as a temporal
                table (each row version carries [v_from, v_to)), then checks
                every read's answer, the final snapshot and one seeded
                earlier version against it.
dashboard_scan  runs each query's `SparkEntry.oracleSql` statement in DuckDB
                over the generated files (compared the way tools/check.py
                compares), and recomputes every range and point read.
curation_stream recomputes the near-duplicate pair set relationally (the
                shingle / MinHash / band / Jaccard definition of the
                stream_curation oracle) and replays the global-min
                survivorship rule cycle by cycle.

Each check returns a list of failure messages; empty means correct.
"""
import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd

MAX_V = 2**62
WRITES = ("merge_api", "merge_sql", "append", "delete", "delete_mor", "update", "update_mor",
          "compact")
ORDER_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
              "o_orderdate", "o_orderpriority"]


def _norm(con, rel):
    """select list with timestamps as epoch micros, so naive and UTC
    parquet timestamps compare equal"""
    cols = con.execute(f"DESCRIBE {rel}").fetchall()
    return ", ".join(f"epoch_us({c})" if t.startswith("TIMESTAMP") else c
                     for c, t, *_ in cols)


def _same_rows(con, a, b):
    """number of rows in the symmetric multiset difference of two relations"""
    na, nb = _norm(con, a), _norm(con, b)
    return con.execute(f"""SELECT count(*) FROM (
        (SELECT {na} FROM {a} EXCEPT ALL SELECT {nb} FROM {b})
        UNION ALL (SELECT {nb} FROM {b} EXCEPT ALL SELECT {na} FROM {a}))""").fetchone()[0]


def load_json(path):
    with open(path) as f:
        return json.load(f)


def _num(s):
    return None if s == "null" else float(s)


# ---------------------------------------------------------------- ledger_dml

def check_ledger(inputs, check):
    spec = load_json(f"{inputs}/ops.json")
    log = load_json(f"{check}/oplog.json")
    ops = {o["id"]: o for o in spec["ops"]}
    con = duckdb.connect()
    cols = ", ".join(ORDER_COLS)
    con.execute(f"CREATE TABLE h AS SELECT {cols}, 0::BIGINT AS v_from, {MAX_V}::BIGINT AS v_to "
                f"FROM read_parquet('{inputs}/orders.parquet')")
    for f in ("merge_rows", "append_rows"):
        con.execute(f"CREATE TABLE {f} AS SELECT * FROM read_parquet('{inputs}/{f}.parquet')")
    live = f"v_to = {MAX_V}"
    fails = []

    def at(v):
        return f"(SELECT {cols} FROM h WHERE v_from <= {v} AND v_to > {v})"

    # versions up to grown_version are set-up's metadata-only commits: the
    # rows stay as created, and every timed write commits after them
    grown = log["grown_version"]
    for e in log["ops"]:
        o, v = ops[e["id"]], e["version"]
        kind = o["kind"]
        if kind in WRITES and v <= grown:
            fails.append(f"ledger op {o['id']} {kind} committed version {v}, "
                         f"inside set-up's history (to {grown})")
        if kind in ("merge_api", "merge_sql", "append"):
            src = "merge_rows" if kind != "append" else "append_rows"
            con.execute(f"UPDATE h SET v_to = {v} WHERE {live} AND o_orderkey IN "
                        f"(SELECT o_orderkey FROM {src} WHERE op = {o['id']})")
            con.execute(f"INSERT INTO h SELECT {cols}, {v}, {MAX_V} FROM {src} WHERE op = {o['id']}")
        elif kind in ("delete", "delete_mor"):
            keys = ",".join(map(str, o["keys"]))
            con.execute(f"UPDATE h SET v_to = {v} WHERE {live} AND o_orderkey IN ({keys})")
        elif kind in ("update", "update_mor"):
            pred = (f"o_orderkey BETWEEN {o['lo']} AND {o['hi']} "
                    f"AND o_orderpriority = '{o['priority']}'")
            con.execute(f"""INSERT INTO h SELECT o_orderkey, o_custkey, 'U',
                o_totalprice + CAST(1.0 AS DOUBLE), o_orderdate, o_orderpriority, {v}, {MAX_V}
                FROM h WHERE {live} AND v_from < {v} AND {pred}""")
            con.execute(f"UPDATE h SET v_to = {v} WHERE {live} AND v_from < {v} AND {pred}")
        elif kind == "lookup":
            keys = ",".join(map(str, o["keys"]))
            exp = con.execute(f"SELECT o_orderkey, o_orderstatus, o_totalprice FROM {at(v)} "
                              f"WHERE o_orderkey IN ({keys}) ORDER BY 1").fetchall()
            got = sorted((int(k), s, float(p)) for k, s, p in (r.split("|") for r in e["result"]))
            if got != [(int(k), s, float(p)) for k, s, p in exp]:
                fails.append(f"ledger op {o['id']} lookup@{v}: got {got[:3]}.. expected {exp[:3]}..")
        elif kind in ("count_state", "time_travel"):
            res = e["result"]
            if kind == "time_travel":
                tv = int(res[0][1:])
                if tv > v:
                    fails.append(f"ledger op {o['id']} time travel to future version {tv}")
                v, res = tv, res[1:]
            exp = dict(con.execute(f"SELECT o_orderstatus, count(*) FROM {at(v)} GROUP BY 1").fetchall())
            got = {s: int(n) for s, n in (r.split("|") for r in res)}
            if got != exp:
                fails.append(f"ledger op {o['id']} {kind}@{v}: got {got} expected {exp}")
        elif kind == "history":
            n, top = map(int, e["result"][0].split("|"))
            if (n, top) != (v + 1, v):
                fails.append(f"ledger op {o['id']} history@{v}: {n} rows, top version {top}")
    for name, v in (("final", log["final_version"]), ("earlier", log["earlier_version"])):
        con.execute(f"CREATE OR REPLACE VIEW got AS SELECT {cols} FROM read_parquet('{check}/{name}/*.parquet')")
        con.execute(f"CREATE OR REPLACE TABLE exp AS SELECT * FROM {at(v)}")
        diff = _same_rows(con, "got", "exp")
        if diff:
            fails.append(f"ledger {name} snapshot (version {v}) differs from the replay in {diff} rows")
    return fails


# ------------------------------------------------------------ dashboard_scan

def _frames_equal(got, exp):
    """tools/check.py's comparison: columns by name, rows sorted, exact cells"""
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"{len(got)} rows vs {len(exp)}"
    g = got.sort_values(by=list(got.columns), na_position="last").reset_index(drop=True)
    e = exp.sort_values(by=list(exp.columns), na_position="last").reset_index(drop=True)
    for c in g.columns:
        gv, ev = g[c], e[c]
        if gv.dtype.kind == "f" or ev.dtype.kind == "f":
            eq = gv.astype(float).fillna(1e308) == ev.astype(float).fillna(1e308)
        elif gv.dtype.kind == "M" or ev.dtype.kind == "M":
            eq = pd.to_datetime(gv).dt.tz_localize(None) == pd.to_datetime(ev).dt.tz_localize(None)
        else:
            eq = gv.astype(str) == ev.astype(str)
        if not eq.all():
            i = int(np.argmin(eq.values))
            return f"column {c} row {i}: {gv.iloc[i]!r} vs {ev.iloc[i]!r}"
    return None


def check_dashboard(inputs, check):
    con = duckdb.connect()
    for f in glob.glob(f"{inputs}/*.parquet"):
        t = os.path.basename(f)[:-8]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
    fails = []
    for q, sql in load_json(f"{check}/oracle_sql.json").items():
        bad = _frames_equal(pd.read_parquet(f"{check}/{q}"), con.execute(sql).df())
        if bad:
            fails.append(f"dashboard {q}: {bad}")
    ops = {o["id"]: o for o in load_json(f"{inputs}/ops.json")["ops"]}
    reads = load_json(f"{check}/reads.json")
    agg = "count(*), sum(l_quantity), sum(l_linenumber), sum(l_orderkey)"
    for r in reads:
        o = ops[r["id"]]
        where = (f"l_orderkey BETWEEN {o['lo']} AND {o['hi']}" if o["kind"] == "range_read"
                 else f"l_orderkey IN ({','.join(map(str, o['keys']))})")
        exp = con.execute(f"SELECT {agg} FROM lineitem WHERE {where}").fetchone()
        got = tuple(_num(x) for x in r["result"].split("|"))
        if got != tuple(None if x is None else float(x) for x in exp):
            fails.append(f"dashboard op {r['id']} {o['kind']}: got {got} expected {exp}")
    return fails


# ----------------------------------------------------------- curation_stream

PAIRS_SQL = """
WITH w AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM docs),
sh AS (
  SELECT doc_id,
    list_distinct([concat_ws(' ', w[i], w[i+1], w[i+2]) for i in range(1, len(w) - 1)]) AS sh
  FROM w WHERE len(w) >= 3),
posts AS (SELECT doc_id, unnest(sh) AS s FROM sh),
hp AS (
  SELECT doc_id,
    CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % 2147483647 AS x,
    CAST(concat('0x', substr(md5(s), 17, 15)) AS BIGINT) % 2147483647 AS y
  FROM posts),
sig AS (
  SELECT doc_id, i,
    MIN((((i * 1103515245 + 12345) % 2147483647) * x + y) % 2147483647) AS m
  FROM hp, (SELECT unnest(range(0, 16)) AS i)
  GROUP BY doc_id, i),
bandsig AS (
  SELECT doc_id, i // 4 AS band, string_agg(CAST(m AS VARCHAR), ',' ORDER BY i) AS bsig
  FROM sig GROUP BY doc_id, i // 4),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bandsig a JOIN bandsig b
    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
common AS (
  SELECT pa.doc_id AS doc_a, pb.doc_id AS doc_b, COUNT(*) AS nc
  FROM posts pa JOIN posts pb ON pa.s = pb.s AND pa.doc_id < pb.doc_id
  GROUP BY 1, 2),
sizes AS (SELECT doc_id, len(sh) AS n_sh FROM sh)
SELECT c.doc_a, c.doc_b FROM cand c
JOIN common m ON c.doc_a = m.doc_a AND c.doc_b = m.doc_b
JOIN sizes sa ON c.doc_a = sa.doc_id
JOIN sizes sb ON c.doc_b = sb.doc_id
WHERE CAST(nc AS DOUBLE) / (sa.n_sh + sb.n_sh - nc) >= 0.6
"""


def check_curation(inputs, raw, check, meta):
    res = load_json(f"{check}/curation.json")
    landed = res["cycles_landed"]
    con = duckdb.connect()
    parts = [f"SELECT doc_id, text, 0 AS cycle FROM read_parquet('{raw}/initial.parquet')"]
    parts += [f"SELECT doc_id, text, {k} AS cycle FROM read_parquet('{raw}/batch_{k:03d}.parquet')"
              for k in range(1, landed + 1)]
    parts.append(f"SELECT doc_id, text, -1 AS cycle FROM read_parquet('{inputs}/probe.parquet')")
    con.execute("CREATE TABLE docs AS " + " UNION ALL ".join(parts))
    cycle = dict(con.execute("SELECT doc_id, cycle FROM docs").fetchall())
    pairs = con.execute(PAIRS_SQL).fetchall()
    fails = []
    # global-min survivorship, replayed cycle by cycle with a union-find
    # whose roots are component minima
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    arrival_edges = [(a, b) for a, b in pairs if cycle[a] >= 0 and cycle[b] >= 0]
    by_cycle = {}
    for a, b in arrival_edges:
        by_cycle.setdefault(max(cycle[a], cycle[b]), []).append((a, b))
    docs_by_cycle = {}
    for d, c in cycle.items():
        if c >= 0:
            docs_by_cycle.setdefault(c, []).append(d)
    expected = set()
    for k in range(0, landed + 1):
        for a, b in by_cycle.get(k, []):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expected.update(d for d in docs_by_cycle.get(k, []) if find(d) == d)
    got_ids = [int(x) for x in pd.read_parquet(f"{check}/curated")["doc_id"]]
    got = set(got_ids)
    if len(got_ids) != len(got):
        fails.append(f"curation: {len(got_ids) - len(got)} doc_ids curated more than once")
    if got != expected:
        fails.append(f"curation: curated set differs from the global-min replay "
                     f"({len(got - expected)} extra, {len(expected - got)} missing)")
    leaked = [d for d in meta["exact_dups"] if d in got]
    if leaked:
        fails.append(f"curation: {len(leaked)} injected exact duplicates were curated")
    # every probe answer: pairs touching the probe set, against the docs
    # indexed when it ran
    probe_pairs = [(a, b, max(cycle[a], cycle[b])) for a, b in pairs
                   if cycle[a] < 0 or cycle[b] < 0]
    for p in res["probes"]:
        k = p["after_cycle"]
        exp = sorted(f"{a}|{b}" for a, b, c in probe_pairs if c <= k)
        if sorted(p["pairs"]) != exp:
            fails.append(f"curation probe after cycle {k}: {len(p['pairs'])} pairs, expected {len(exp)}")
    return fails
