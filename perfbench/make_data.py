#!/usr/bin/env python3
"""Cuts the ingest workload's input slice out of the sf0.1 test tables and
prints the figures that DESIGN.md quotes for them.

    python3 perfbench/make_data.py SF01_DIR

SF01_DIR holds the sf0.1 tables (orders.parquet, events.parquet,
documents.parquet). The slice is written to perfbench/data/ and committed;
the benchmark reads only the slice, never SF01_DIR.

- orders.parquet: the first ORDERS orders by o_orderkey, every column. The
  keyed table, its upsert and append batches come from these rows.
- events.parquet: the first EVENTS events by event_id, every column. A run
  streams a seeded window of STREAM_EVENTS consecutive events from them.
- documents.parquet: DOCS documents (doc_id, text) with the near-duplicate
  density of sf0.1: the docs of the lowest-numbered near-duplicate pairs
  (word 3-gram Jaccard >= 0.7, as the d3 query's oracle) until the slice has
  sf0.1's pairs per doc, then docs in no pair, by doc_id.
"""
import os
import sys

import duckdb

ORDERS = 40000
EVENTS = 12000
STREAM_EVENTS = 9000
DOCS = 450
TAU = 0.7

OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# near-duplicate pairs: the d3_minhash_lsh oracle SQL (graft.operators.Dedup)
PAIRS_SQL = f"""
WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM {{docs}}),
sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
       FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
             FROM ws WHERE len(w) >= 3)),
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id, count(*) AS c
          FROM sh x JOIN sh y ON x.g = y.g AND x.doc_id < y.doc_id GROUP BY 1, 2)
SELECT a_id, b_id FROM inter
JOIN sz sa ON a_id = sa.doc_id JOIN sz sb ON b_id = sb.doc_id
WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= {TAU}
ORDER BY a_id, b_id
"""


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    src = sys.argv[1]
    con = duckdb.connect()
    t = {n: f"read_parquet('{os.path.join(src, n + '.parquet')}')"
         for n in ("orders", "events", "documents")}
    os.makedirs(OUT, exist_ok=True)

    def q(sql):
        return con.sql(sql).fetchall()

    def copy(sql, name):
        con.sql(f"COPY ({sql}) TO '{os.path.join(OUT, name)}' "
                "(FORMAT parquet, COMPRESSION zstd)")

    # ---- orders
    n, cust = q(f"SELECT count(*), count(DISTINCT o_custkey) FROM {t['orders']}")[0]
    print(f"orders: {n} rows, {cust} customers, key o_orderkey")
    print("orders status mix:", q(f"SELECT o_orderstatus, round(count(*) / {n}, 3) "
                                  f"FROM {t['orders']} GROUP BY 1 ORDER BY 1"))
    copy(f"SELECT * FROM {t['orders']} WHERE o_orderkey < {ORDERS} ORDER BY o_orderkey",
         "orders.parquet")

    # ---- events
    n, users, t0, t1 = q(f"SELECT count(*), count(DISTINCT user_id), min(ts), max(ts) "
                         f"FROM {t['events']}")[0]
    print(f"events: {n} rows, {users} users, {t0} .. {t1}")
    print("events type mix:", q(f"SELECT event_type, round(count(*) / {n}, 3) "
                                f"FROM {t['events']} GROUP BY 1 ORDER BY 1"))
    w = q(f"SELECT count(DISTINCT user_id), max(ts) - min(ts) FROM {t['events']} "
          f"WHERE event_id < {STREAM_EVENTS}")[0]
    print(f"events: a {STREAM_EVENTS}-event window holds {w[0]} users over {w[1]}")
    copy(f"SELECT * FROM {t['events']} WHERE event_id < {EVENTS} ORDER BY event_id",
         "events.parquet")

    # ---- documents
    n, words = q(f"SELECT count(*), median(len(string_split(text, ' '))) FROM {t['documents']}")[0]
    vocab = q(f"SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) AS w "
              f"FROM {t['documents']})")[0][0]
    pairs = q(PAIRS_SQL.format(docs=t["documents"]))
    density = len(pairs) / n
    print(f"documents: {n} docs, median {words} words, vocabulary {vocab}, "
          f"{len(pairs)} near-dup pairs at tau {TAU} ({density:.4f} per doc)")
    want = round(DOCS * density)
    chosen, taken = [], set()
    for a, b in pairs:
        if len(chosen) >= want:
            break
        if a not in taken and b not in taken:
            chosen.append((a, b))
            taken |= {a, b}
    in_pair = {d for p in pairs for d in p}
    rest = [d for (d,) in q(f"SELECT doc_id FROM {t['documents']} ORDER BY doc_id")
            if d not in in_pair][:DOCS - len(taken)]
    ids = ",".join(str(d) for d in sorted(taken | set(rest)))
    copy(f"SELECT doc_id, text FROM {t['documents']} WHERE doc_id IN ({ids}) ORDER BY doc_id",
         "documents.parquet")
    got = q(PAIRS_SQL.format(docs=f"read_parquet('{os.path.join(OUT, 'documents.parquet')}')"))
    print(f"documents slice: {DOCS} docs, {len(got)} near-dup pairs")
    for f in sorted(os.listdir(OUT)):
        print(f"{f}: {os.path.getsize(os.path.join(OUT, f))} bytes")


if __name__ == "__main__":
    main()
