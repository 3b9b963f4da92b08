"""Output checks that need DuckDB, run after the JVM has exited (outside
every timed region). Each returns (failures, per_layer_extras, notes)."""
import glob
import json
import math
import os
from datetime import datetime

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _duck():
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET enable_progress_bar = false")
    con.execute("SET temp_directory = '.bench_build/duckdb_tmp'")
    return con


def _con(tables_dir):
    con = _duck()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tables_dir}/{t}.parquet')")
    return con


def _norm(v):
    if isinstance(v, float):
        return round(v, 6) if math.isfinite(v) else v
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "tolist"):
        return _norm(v.tolist())
    return v


def _key(row):
    return tuple((x is None, str(type(x).__name__), x if x is not None else 0)
                 for x in row)


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def same_rows(got, want):
    """Multiset equality with float tolerance."""
    g = sorted((tuple(_norm(x) for x in r) for r in got), key=_key)
    w = sorted((tuple(_norm(x) for x in r) for r in want), key=_key)
    return len(g) == len(w) and all(
        len(x) == len(y) and all(_same(p, q) for p, q in zip(x, y))
        for x, y in zip(g, w))


def sql_mixed(data, out):
    """Replay every executed statement, in order, in DuckDB: the star schema
    from the same parquet, the managed tables as a DuckDB replica."""
    spec = json.load(open(os.path.join(data, "statements.json")))
    con = _con(os.path.join(data, "tables"))
    for _, duck_ddl in spec["ddl"]:
        con.execute(duck_ddl)
    failures, notes = 0, []
    for line in open(os.path.join(out, "sql_results.jsonl")):
        r = json.loads(line)
        st = spec["statements"][r["i"]]
        want = con.execute(st["sql"]).fetchall()
        if "error" in r:
            continue                      # already counted by the JVM
        ok = (same_rows(r["rows"], want) if st["kind"] == "select"
              else want and int(want[0][0]) == r["count"])
        if not ok:
            failures += 1
            if len(notes) < 5:
                got = r.get("rows", r.get("count"))
                notes.append(f"stmt {r['i']}: {st['sql'][:120]} -> "
                             f"{str(got)[:200]} vs duckdb {str(want)[:200]}")
    return failures, {}, notes


def corpus_dedup(data, out):
    """Each phase's first-pass result against the repo's own oracle SQL for
    that operator, plus recall of the planted near and exact duplicates."""
    con = _con(os.path.join(data, "tables"))
    oracle = json.load(open(os.path.join(out, "corpus", "oracle.json")))
    failures, notes, extras = 0, [], {}
    results = {}
    for gate, sql in sorted(oracle.items()):
        path = os.path.join(out, "corpus", gate)
        if not os.path.isdir(path):
            failures += 1; notes.append(f"{gate}: no result"); continue
        got = pq.read_table(path).to_pylist()
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        want = cur.fetchall()
        results[gate] = got
        names = sorted(cols)
        if not got and not want:
            continue
        if got and sorted(got[0]) != names:
            failures += 1
            notes.append(f"{gate}: columns {sorted(got[0])} vs oracle {names}")
            continue
        g = [tuple(row[c] for c in names) for row in got]
        w = [tuple(row[cols.index(c)] for c in names) for row in want]
        if not same_rows(g, w):
            failures += 1
            notes.append(f"{gate}: {len(g)} rows vs oracle {len(w)}")
    truth = json.load(open(os.path.join(data, "truth.json")))["planted"]
    planted = {(min(t["a"], t["b"]), max(t["a"], t["b"]))
               for t in truth if t["kind"] in ("exact", "near")}
    found = {(min(r["a_id"], r["b_id"]), max(r["a_id"], r["b_id"]))
             for r in results.get("q26_dedup_minhash", [])}
    recall = len(planted & found) / max(1, len(planted))
    extras["ext.Dedup.minhash_recall"] = recall
    extras["ext.Dedup.jaccard_pairs"] = float(len(results.get("q28_jaccard_pairs", [])))
    if recall < 0.9:
        failures += 1
        notes.append(f"minhash recall of planted duplicates {recall:.3f} < 0.9")
    return failures, extras, notes


def llm_data(data, out):
    """Stream and corpus checks; vector recall is checked in the JVM."""
    f1, e1, n1 = stream_ingest(data, out)
    f2, e2, n2 = corpus_dedup(data, out)
    return f1 + f2, {**e1, **e2}, n1 + n2


def stream_ingest(data, out):
    """Emitted windows equal the batch twin (distinct events, hourly
    rollup) for every window the final watermark closed."""
    res = json.load(open(os.path.join(out, "stream_output.json")))
    if not res["watermark"]:
        return 1, {}, ["no watermark reported"]
    wm = datetime.fromisoformat(res["watermark"].replace("Z", "+00:00")).replace(tzinfo=None)
    con = _duck()
    files = sorted(glob.glob(os.path.join(data, "stream", "*.parquet")))
    want = con.execute(
        "SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS n, "
        "round(sum(value), 2) AS sum_value FROM (SELECT DISTINCT * FROM "
        "read_parquet($files)) WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= $wm "
        "GROUP BY 1, 2", {"files": files, "wm": wm}).fetchall()
    got = [(datetime.fromisoformat(r["h"]),
            r["event_type"], r["n"], r["sum_value"]) for r in res["rows"]]
    if not want or not same_rows(got, want):
        return 1, {}, [f"stream emitted {len(got)} windows, batch twin {len(want)}"]
    return 0, {}, []
