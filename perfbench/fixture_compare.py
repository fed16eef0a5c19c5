#!/usr/bin/env python3
"""Compare the benchmark's generated corpus with a fixture directory.

    python3 perfbench/fixture_compare.py <fixture_dir> --seed 1 --scale 0.1

Generates the corpus for the seed and scale into a temporary directory
under perfbench/, then prints, side by side, for the fixture and the
generated corpus: every table's row count and Arrow schema, the key
cardinalities, and the distributions that set the size of a kg-lookup
answer and of an ingest batch (lineitems per part and per supplier,
knowledge-graph edges per disease, target and drug, document length).
"""
import argparse
import os
import shutil
import tempfile

import duckdb
import pyarrow.parquet as pq

import checks
import gen

HERE = os.path.dirname(os.path.abspath(__file__))

# (label, SQL returning one number)
STATS = [
    ("distinct l_partkey (targets touched)", "SELECT count(DISTINCT l_partkey) FROM lineitem"),
    ("distinct l_suppkey (drugs touched)", "SELECT count(DISTINCT l_suppkey) FROM lineitem"),
    ("distinct c_mktsegment (diseases)", "SELECT count(DISTINCT c_mktsegment) FROM customer"),
    ("distinct o_custkey", "SELECT count(DISTINCT o_custkey) FROM orders"),
    ("lineitems per order, max",
     "SELECT max(n) FROM (SELECT count(*) n FROM lineitem GROUP BY l_orderkey)"),
]
# (label, SQL returning one column of counts) -> p50 / p90 / max / top-1% share
DISTS = [
    ("lineitems per part", "SELECT count(*) FROM lineitem GROUP BY l_partkey"),
    ("lineitems per supplier", "SELECT count(*) FROM lineitem GROUP BY l_suppkey"),
    ("targets per disease (associatedTargets)",
     """SELECT count(DISTINCT l_partkey) FROM lineitem
        JOIN orders ON o_orderkey = l_orderkey JOIN customer ON c_custkey = o_custkey
        GROUP BY c_mktsegment"""),
    ("diseases per target (associatedDiseases)",
     """SELECT count(DISTINCT c_mktsegment) FROM lineitem
        JOIN orders ON o_orderkey = l_orderkey JOIN customer ON c_custkey = o_custkey
        GROUP BY l_partkey"""),
    ("drug edges per target (knownDrugs)",
     """SELECT count(*) FROM (SELECT DISTINCT c_mktsegment, l_partkey, l_suppkey
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey) GROUP BY l_partkey"""),
    ("targets per drug (linkedTargets)",
     "SELECT count(DISTINCT l_partkey) FROM lineitem GROUP BY l_suppkey"),
    ("words per document",
     "SELECT len(string_split(text, ' ')) FROM documents"),
    ("events per user", "SELECT count(*) FROM events GROUP BY user_id"),
]


def _dist(con, sql):
    xs = sorted(r[0] for r in con.execute(sql).fetchall())
    n = len(xs)
    top = xs[-max(1, n // 100):]
    return (f"n={n} p50={xs[n // 2]} p90={xs[int(n * 0.9)]} max={xs[-1]} "
            f"top1%share={sum(top) / max(1, sum(xs)):.3f}")


def describe(d):
    out = {}
    for t in checks.TABLES:
        f = pq.ParquetFile(f"{d}/{t}.parquet")
        out[f"{t} rows"] = str(f.metadata.num_rows)
        out[f"{t} schema"] = ", ".join(f"{x.name}:{x.type}" for x in f.schema_arrow)
    con = checks._connect(d)
    for label, sql in STATS:
        out[label] = str(con.execute(sql).fetchone()[0])
    for label, sql in DISTS:
        out[label] = _dist(con, sql)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("fixture")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--scale", type=float, default=0.1)
    a = ap.parse_args()
    tmp = tempfile.mkdtemp(dir=HERE, prefix=".test-")
    try:
        gen.generate(a.seed, tmp, a.scale)
        fx, gn = describe(a.fixture), describe(f"{tmp}/corpus")
    finally:
        shutil.rmtree(tmp)
    for k in fx:
        same = "  " if fx[k] == gn[k] else "!="
        print(f"{same} {k}\n     fixture   {fx[k]}\n     generated {gn[k]}")


if __name__ == "__main__":
    main()
