#!/usr/bin/env python3
"""Measures the table properties the input generator (gen.py) copies.

Usage: python3 perfbench/fixture_stats.py <dir with the fixture parquet tables>

Prints one JSON object: row counts; for lineitem and orders, the key fan-out
and date ranges; for documents, the vocabulary, words per document, the share
of near-duplicates (a text equal to another text plus " dup"), exact copies,
the lang mix and the source values; for embeddings, the dimension, row norms,
coordinate mean and sd, and the label counts. Run it on the fixtures to
derive gen.py's parameters, or on a generated input directory to compare.
"""
import collections
import json
import os
import sys

import duckdb
import numpy as np


def stats(d):
    con = duckdb.connect()
    q = lambda sql: con.sql(sql).fetchall()
    out = {"rows": {}}
    for t in sorted(os.listdir(d)):
        if t.endswith(".parquet"):
            name = t[:-len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{d}/{t}')")
            out["rows"][name] = q(f"SELECT count(*) FROM {name}")[0][0]
    if "lineitem" in out["rows"]:
        out["lineitems_per_order"] = q("SELECT min(n), avg(n), max(n) FROM "
                                       "(SELECT count(*) n FROM lineitem GROUP BY l_orderkey)")[0]
        out["l_shipdate"] = [str(x) for x in q("SELECT min(l_shipdate), max(l_shipdate) "
                                               "FROM lineitem")[0]]
    if "orders" in out["rows"]:
        out["orders_per_customer"] = q("SELECT min(n), avg(n), max(n) FROM "
                                       "(SELECT count(*) n FROM orders GROUP BY o_custkey)")[0]
        out["o_orderdate"] = [str(x) for x in q("SELECT min(o_orderdate), max(o_orderdate) "
                                                "FROM orders")[0]]
    if "documents" in out["rows"]:
        docs = q("SELECT text, lang, source FROM documents ORDER BY doc_id")
        texts = [t for t, _, _ in docs]
        words = collections.Counter(w for t in texts for w in t.split())
        lens = np.array([len(t.split()) for t in texts])
        present = set(texts)
        near = sum(t.endswith(" dup") and t[:-len(" dup")] in present for t in texts)
        copies = sum(c - 1 for c in collections.Counter(texts).values() if c > 1)
        n = len(texts)
        out["documents"] = {
            "vocabulary": sorted(words), "words_per_doc": [int(lens.min()), float(lens.mean()),
                                                           int(lens.max())],
            "near_dup_share": near / n, "exact_copy_share": copies / n,
            "lang_share": {k: v / n for k, v in
                           collections.Counter(l for _, l, _ in docs).most_common()},
            "sources": len({s for _, _, s in docs})}
    if "embeddings" in out["rows"]:
        rows = q("SELECT embedding, label FROM embeddings ORDER BY vec_id")
        x = np.array([r[0] for r in rows], float)
        norms = np.linalg.norm(x, axis=1)
        out["embeddings"] = {
            "dim": x.shape[1], "norm_min_max": [norms.min(), norms.max()],
            "coord_mean": x.mean(), "coord_sd": x.std(),
            "labels": dict(sorted(collections.Counter(r[1] for r in rows).items()))}
    return out


if __name__ == "__main__":
    if len(sys.argv) != 2 or not os.path.isdir(sys.argv[1]):
        sys.exit(__doc__)
    for k, v in stats(sys.argv[1]).items():
        print(json.dumps({k: v}, default=float))
