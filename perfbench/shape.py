#!/usr/bin/env python3
"""Prints the shape of a directory of lane tables: the figures that set
the lanes' cost, for comparing datagen.py's tables with other data of the
same schema.

    python3 perfbench/shape.py <table dir>

Documents (x2_span_cut): text length in tokens, vocabulary, distinct
texts, 8-grams shared between documents and the documents that share
them. Trade graph (x10_lpa): lines per order, orders per customer, lines
per supplier, distinct (customer, supplier) edges.
"""
import collections
import sys

import duckdb


def shape(d):
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in ("documents", "lineitem", "orders"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{d}/{t}.parquet')")
    q = lambda s: con.execute(s).fetchall()
    out = {}
    # the program's span lanes tokenize lower(text) on single spaces
    toks = [t.lower().split(" ") for (t,) in
            q("SELECT text FROM documents ORDER BY doc_id")]
    lens = sorted(len(t) for t in toks)
    out["documents"] = len(toks)
    out["tokens per document (min/median/max)"] = (
        lens[0], lens[len(lens) // 2], lens[-1])
    out["vocabulary"] = len({w for t in toks for w in t})
    out["distinct texts"] = len({" ".join(t) for t in toks})
    grams = collections.defaultdict(set)
    for i, t in enumerate(toks):
        for j in range(len(t) - 7):
            grams[tuple(t[j:j + 8])].add(i)
    shared = [s for s in grams.values() if len(s) > 1]
    out["8-grams shared by >1 document"] = len(shared)
    out["documents with a shared 8-gram"] = len(set().union(*shared))
    out["most documents sharing one 8-gram"] = max(map(len, grams.values()))
    med = "min(n), median(n), max(n)"
    out["lines per order (min/median/max)"] = q(
        f"SELECT {med} FROM (SELECT count(*) n FROM lineitem "
        "GROUP BY l_orderkey)")[0]
    out["orders per customer (min/median/max)"] = q(
        f"SELECT {med} FROM (SELECT count(*) n FROM orders "
        "GROUP BY o_custkey)")[0]
    out["lines per supplier (min/median/max)"] = q(
        f"SELECT {med} FROM (SELECT count(*) n FROM lineitem "
        "GROUP BY l_suppkey)")[0]
    out["trade edges (distinct customer, supplier)"] = q(
        "SELECT count(*) FROM (SELECT DISTINCT o_custkey, l_suppkey "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey)")[0][0]
    return out


if __name__ == "__main__":
    for k, v in shape(sys.argv[1]).items():
        print(f"{k}: {v}")
