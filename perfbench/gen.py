"""Seeded input generator for the perfbench workloads.

Each (workload, seed) gets one directory: `tables/` holds all ten tables of
`graft.Tables.expectedDdl` (those the workload does not use are a few rows
each, so `Tables.assertSchemas` can check the whole directory), `warm/` a
small twin of the inputs for the warm-up, plus sidecars:

  sql_mixed  star schema in `tables/`; `statements.json` holds the
             statement stream and the DuckDB twin of each managed-table DDL
  llm_data   `tables/documents` with planted exact, near and contained
             duplicates and `tables/embeddings` in tight groups;
             `stream/part-NNNNN.parquet` events files for the open loop and
             the drain steps, a share of each file delivered again in the
             next; `truth.json` lists the planted pairs and redelivered ids

Same seed, same bytes. Run as a script to generate one directory:
    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import json
import os
import sys
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes per workload (also stated in BENCHMARK.json and perfbench/README.md).
SQL_SIZES = dict(customer=3000, supplier=200, part=2000, orders=20000,
                 lineitem=60000, statements=1500)
CORPUS_DOCS = 150
VECTORS, VECTOR_CLUSTERS, DIM = 4000, 24, 64
STREAM = dict(open_files=61, drain_files=24, events_per_file=250,
              file_span_min=6, redelivery=0.05)

STOPWORDS = ["the", "a", "an", "and", "of", "to", "in", "is", "it", "for"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
TS = pa.timestamp("us")


def _write(dir_, name, cols, schema):
    pq.write_table(pa.table(cols, schema=schema),
                   os.path.join(dir_, f"{name}.parquet"))


def _schema(*fields):
    return pa.schema([pa.field(n, t) for n, t in fields])


REGION = _schema(("r_regionkey", pa.int32()), ("r_name", pa.string()))
NATION = _schema(("n_nationkey", pa.int32()), ("n_name", pa.string()),
                 ("n_regionkey", pa.int32()))
CUSTOMER = _schema(("c_custkey", pa.int64()), ("c_name", pa.string()),
                   ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                   ("c_mktsegment", pa.string()))
SUPPLIER = _schema(("s_suppkey", pa.int64()), ("s_name", pa.string()),
                   ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64()))
PART = _schema(("p_partkey", pa.int64()), ("p_name", pa.string()),
               ("p_brand", pa.string()), ("p_type", pa.string()),
               ("p_size", pa.int32()), ("p_retailprice", pa.float64()))
ORDERS = _schema(("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                 ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                 ("o_orderdate", TS), ("o_orderpriority", pa.string()))
LINEITEM = _schema(("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                   ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                   ("l_quantity", pa.float64()),
                   ("l_extendedprice", pa.float64()),
                   ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                   ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                   ("l_shipdate", TS))
EVENTS = _schema(("event_id", pa.int64()), ("ts", TS), ("user_id", pa.int64()),
                 ("event_type", pa.string()), ("value", pa.float64()),
                 ("props", pa.string()))
DOCUMENTS = _schema(("doc_id", pa.int64()), ("text", pa.string()),
                    ("lang", pa.string()), ("source", pa.string()),
                    ("n_chars", pa.int64()))
EMBEDDINGS = _schema(("vec_id", pa.int64()),
                     ("embedding", pa.list_(pa.float32())),
                     ("label", pa.int32()))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, n, start=datetime(1995, 1, 1), days=2000):
    return [start + timedelta(days=int(d)) for d in rng.integers(0, days, n)]


def star_schema(dir_, rng, sizes):
    _write(dir_, "region", {"r_regionkey": list(range(5)),
                            "r_name": [f"REGION{i}" for i in range(5)]}, REGION)
    _write(dir_, "nation", {"n_nationkey": list(range(25)),
                            "n_name": [f"NATION{i:02d}" for i in range(25)],
                            "n_regionkey": [i % 5 for i in range(25)]}, NATION)
    nc, ns, np_, no, nl = (sizes[k] for k in
                           ("customer", "supplier", "part", "orders", "lineitem"))
    _write(dir_, "customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc, dtype=np.int32),
        "c_acctbal": _money(rng, -999, 9999, nc),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)]}, CUSTOMER)
    _write(dir_, "supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns, dtype=np.int32),
        "s_acctbal": _money(rng, -999, 9999, ns)}, SUPPLIER)
    _write(dir_, "part", {
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": [f"part {i % 97}" for i in range(np_)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": [["ECONOMY", "STANDARD", "PROMO"][t]
                   for t in rng.integers(0, 3, np_)],
        "p_size": rng.integers(1, 51, np_, dtype=np.int32),
        "p_retailprice": _money(rng, 900, 2000, np_)}, PART)
    _write(dir_, "orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no, dtype=np.int64),
        "o_orderstatus": [["F", "O", "P"][s] for s in rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000, 400000, no),
        "o_orderdate": _dates(rng, no),
        "o_orderpriority": [PRIORITIES[p] for p in rng.integers(0, 5, no)]},
        ORDERS)
    _write(dir_, "lineitem", {
        "l_orderkey": np.sort(rng.integers(0, no, nl, dtype=np.int64)),
        "l_partkey": rng.integers(0, np_, nl, dtype=np.int64),
        "l_suppkey": rng.integers(0, ns, nl, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, nl, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 100000, nl),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": [["A", "N", "R"][f] for f in rng.integers(0, 3, nl)],
        "l_linestatus": [["F", "O"][f] for f in rng.integers(0, 2, nl)],
        "l_shipdate": _dates(rng, nl)}, LINEITEM)


def events_cols(rng, first_id, n, t0, span_s):
    ts = sorted(t0 + timedelta(microseconds=int(u))
                for u in rng.integers(0, span_s * 1_000_000, n))
    return {"event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, 500, n, dtype=np.int64),
            "event_type": [EVENT_TYPES[t] for t in rng.integers(0, 5, n)],
            "value": np.round(rng.uniform(0, 100, n), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)]}


def _words(rng, vocab, n):
    """n tokens, roughly a quarter stopwords (passes the quality filter)."""
    toks = vocab[rng.integers(0, len(vocab), n)]
    stop = rng.random(n) < 0.25
    toks[stop] = np.array(STOPWORDS)[rng.integers(0, len(STOPWORDS), stop.sum())]
    return list(toks)


def documents(rng, n, planted=True):
    """Documents with planted duplicates. Returns (columns, truth)."""
    vocab = np.array([f"w{i}" for i in range(3000)])
    texts, sources, truth = [], [], []
    for i in range(n):
        kind = rng.random() if planted and i >= 20 else 1.0
        if kind < 0.06:                       # exact copy, any source
            j = int(rng.integers(0, i))
            texts.append(texts[j]); sources.append(f"src{rng.integers(0, 5)}")
            truth.append({"a": j, "b": i, "kind": "exact"})
        elif kind < 0.14:                     # near copy, same source
            j = int(rng.integers(0, i))
            toks = texts[j].split(" ")
            for p in rng.integers(0, len(toks), 1 + int(rng.integers(0, 2))):
                toks[p] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(toks)); sources.append(sources[j])
            truth.append({"a": j, "b": i, "kind": "near"})
        elif kind < 0.18:                     # contains j, same source
            j = int(rng.integers(0, i))
            extra = _words(rng, vocab, int(rng.integers(5, 15)))
            texts.append(texts[j] + " " + " ".join(extra))
            sources.append(sources[j])
            truth.append({"a": j, "b": i, "kind": "contained"})
        else:
            texts.append(" ".join(_words(rng, vocab, int(rng.integers(40, 160)))))
            sources.append(f"src{rng.integers(0, 5)}")
    langs = ["en", "de", "es", "fr", "zh"]
    cols = {"doc_id": np.arange(n, dtype=np.int64), "text": texts,
            "lang": [langs[k] for k in rng.integers(0, 5, n)],
            "source": sources,
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}
    return cols, truth


def embeddings(rng, n, clusters, group=11):
    """Unit vectors (so L2 and cosine rank alike) in `clusters` clusters;
    within a cluster, groups of `group` vectors sit tightly around a common
    anchor, so each vector's true top-10 neighbours are its group mates."""
    centers = rng.normal(0, 1, (clusters, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    anchors = n // group + 1
    labels = rng.integers(0, clusters, anchors)
    anchor = centers[labels] + rng.normal(0, 0.05, (anchors, DIM))
    idx = np.arange(n) // group
    vecs = anchor[idx] + rng.normal(0, 0.004, (n, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return {"vec_id": np.arange(n, dtype=np.int64),
            "embedding": [list(v) for v in vecs],
            "label": labels[idx].astype(np.int32)}


def small_tables(dir_, rng, skip):
    """A few rows of every table the workload does not use."""
    if "star" not in skip:
        star_schema(dir_, rng, dict(customer=10, supplier=5, part=10,
                                    orders=10, lineitem=10))
    if "events" not in skip:
        _write(dir_, "events", events_cols(rng, 0, 10, datetime(2024, 1, 1),
                                           3600), EVENTS)
    if "documents" not in skip:
        _write(dir_, "documents", documents(rng, 5, planted=False)[0],
               DOCUMENTS)
    if "embeddings" not in skip:
        _write(dir_, "embeddings", embeddings(rng, 10, 2), EMBEDDINGS)


# ---- sql_mixed statement stream ------------------------------------------

MANAGED_DDL = [
    ("CREATE TABLE acct (id i64, bal i64, tag string)",
     "CREATE TABLE acct (id BIGINT NOT NULL, bal BIGINT NOT NULL, tag VARCHAR NOT NULL)"),
    ("CREATE TABLE ledger (id i64, acct i64, amt i64, note string null)",
     "CREATE TABLE ledger (id BIGINT NOT NULL, acct BIGINT NOT NULL, amt BIGINT NOT NULL, note VARCHAR)"),
]


def statements(rng, sizes, n):
    """The closed-loop statement stream: 70 % SELECTs over the star schema
    and the managed tables, 30 % INSERT / UPDATE / DELETE on the managed
    tables (which grow: an INSERT adds 50 rows, a DELETE removes at most
    20)."""
    nc, no = sizes["customer"], sizes["orders"]
    next_id = {"acct": 0, "ledger": 0}
    out = []

    def insert(table):
        rows = []
        for _ in range(50):
            i = next_id[table]; next_id[table] += 1
            if table == "acct":
                rows.append(f"({i}, {int(rng.integers(0, 10000))}, "
                            f"'t{int(rng.integers(0, 8))}')")
            else:
                note = "NULL" if rng.random() < 0.2 else f"'n{int(rng.integers(0, 50))}'"
                rows.append(f"({i}, {int(rng.integers(0, max(1, next_id['acct'])))}, "
                            f"{int(rng.integers(-500, 500))}, {note})")
        return {"kind": "insert", "sql": f"INSERT INTO {table} VALUES " + ", ".join(rows)}

    def id_range(table, width):
        hi = max(1, next_id[table])
        a = int(rng.integers(0, hi))
        return a, a + width

    selects = [
        lambda: f"SELECT c_name, c_acctbal, c_mktsegment FROM customer "
                f"WHERE c_custkey = {int(rng.integers(0, nc))}",
        lambda: (lambda a: f"SELECT count(*) AS n, sum(l_quantity) AS q, "
                           f"min(l_extendedprice) AS lo, max(l_discount) AS d "
                           f"FROM lineitem WHERE l_orderkey >= {a} "
                           f"AND l_orderkey < {a + 500}")(int(rng.integers(0, no))),
        lambda: f"SELECT n_name, count(*) AS n, max(c_acctbal) AS top "
                f"FROM customer JOIN nation ON c_nationkey = n_nationkey "
                f"WHERE c_acctbal > {int(rng.integers(-900, 9000))} GROUP BY n_name",
        lambda: f"SELECT o_custkey, count(*) AS n, max(o_totalprice) AS mx "
                f"FROM orders WHERE o_orderkey < {int(rng.integers(no // 2, no))} "
                f"GROUP BY o_custkey HAVING count(*) > {int(rng.integers(2, 6))}",
        lambda: f"SELECT n_name, (SELECT count(*) FROM customer "
                f"WHERE customer.c_nationkey = nation.n_nationkey "
                f"AND c_acctbal > {int(rng.integers(0, 9000))}) AS n_cust "
                f"FROM nation WHERE n_regionkey = {int(rng.integers(0, 5))}",
        lambda: f"SELECT r_name, count(*) AS n, sum(o_totalprice) AS total "
                f"FROM orders JOIN customer ON o_custkey = c_custkey "
                f"JOIN nation ON c_nationkey = n_nationkey "
                f"JOIN region ON n_regionkey = r_regionkey "
                f"WHERE o_orderpriority = '{PRIORITIES[int(rng.integers(0, 5))]}' "
                f"GROUP BY r_name",
        lambda: "SELECT tag, count(*) AS n, sum(bal) AS total FROM acct GROUP BY tag",
        lambda: (lambda r: f"SELECT count(*) AS n, sum(amt) AS total, "
                           f"count(note) AS noted FROM ledger "
                           f"WHERE id >= {r[0]} AND id < {r[1]}")(id_range("ledger", 400)),
        lambda: "SELECT a.tag, count(*) AS n, sum(l.amt) AS total "
                "FROM ledger l JOIN acct a ON l.acct = a.id GROUP BY a.tag",
    ]
    for _ in range(2):
        out.append(insert("acct"))
        out.append(insert("ledger"))
    # a fixed pattern, so every seed runs the same mix in the same order:
    # 7 SELECTs (cycling through the templates), 1 INSERT, 1 UPDATE,
    # 1 DELETE in every 10; seeds change keys, ranges and values only
    n_sel = n_write = 0
    while len(out) < n:
        slot = len(out) % 10
        if slot in (2, 5, 8):
            table = ("acct", "ledger")[n_write % 2]
            n_write += 1
            if slot == 2:
                out.append(insert(table))
            elif slot == 5 and table == "acct":
                a, b = id_range("acct", 60)
                out.append({"kind": "dml", "sql":
                            f"UPDATE acct SET bal = bal + {int(rng.integers(1, 100))} "
                            f"WHERE id >= {a} AND id < {b}"})
            elif slot == 5:
                a, b = id_range("ledger", 60)
                out.append({"kind": "dml", "sql":
                            f"UPDATE ledger SET amt = amt * 2, note = 'upd' "
                            f"WHERE id >= {a} AND id < {b}"})
            else:
                a, b = id_range(table, 20)
                out.append({"kind": "dml",
                            "sql": f"DELETE FROM {table} WHERE id >= {a} AND id < {b}"})
        else:
            out.append({"kind": "select", "sql": selects[n_sel % len(selects)]()})
            n_sel += 1
    return out


def generate(workload, seed, out):
    """Write `out/tables` (all ten tables), `out/warm` (a small twin of
    the workload's input, for the warm-up) and the workload's sidecars."""
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    tables, warm = os.path.join(out, "tables"), os.path.join(out, "warm")
    for d in (tables, warm):
        os.makedirs(d, exist_ok=True)
    truth = {}
    if workload == "sql_mixed":
        star_schema(tables, rng, SQL_SIZES)
        small_tables(tables, rng, skip={"star"})
        stmts = statements(rng, SQL_SIZES, SQL_SIZES["statements"])
        with open(os.path.join(out, "statements.json"), "w") as f:
            json.dump({"ddl": MANAGED_DDL, "statements": stmts}, f)
    elif workload == "llm_data":
        truth = stream_files(rng, os.path.join(out, "stream"))
        cols, truth["planted"] = documents(rng, CORPUS_DOCS)
        _write(tables, "documents", cols, DOCUMENTS)
        _write(tables, "embeddings", embeddings(rng, VECTORS, VECTOR_CLUSTERS),
               EMBEDDINGS)
        small_tables(tables, rng, skip={"documents", "embeddings"})
        _write(warm, "documents", documents(rng, 100)[0], DOCUMENTS)
        _write(warm, "embeddings", embeddings(rng, 500, 8), EMBEDDINGS)
    else:
        raise SystemExit(f"unknown workload {workload}")
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f)


def stream_files(rng, dir_):
    """Open-loop files then the drain steps' files, in event-time order. Each file
    covers `file_span_min` minutes of event time; a share of the previous
    file's events is delivered again (same id and payload)."""
    os.makedirs(dir_, exist_ok=True)
    n_files = STREAM["open_files"] + STREAM["drain_files"]
    per, span = STREAM["events_per_file"], STREAM["file_span_min"] * 60
    t0, next_id, prev, redelivered = datetime(2024, 1, 1), 0, None, []
    for f in range(n_files):
        cols = events_cols(rng, next_id, per, t0 + timedelta(seconds=f * span), span)
        next_id += per
        if prev is not None:
            pick = np.flatnonzero(rng.random(per) < STREAM["redelivery"])
            for k in cols:
                cols[k] = list(cols[k]) + [prev[k][p] for p in pick]
            redelivered += [int(prev["event_id"][p]) for p in pick]
        _write(dir_, f"part-{f:05d}", cols, EVENTS)
        prev = cols
    return {"files": n_files, "open_files": STREAM["open_files"],
            "events_per_file": per, "redelivered": redelivered}


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
