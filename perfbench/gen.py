"""Seeded input generator for the benchmark workloads.

Everything the engine reads is made here from the workload seed, so the same
seed gives byte-identical inputs. The analytics and curation tables have the
shape of the repository's fixture tables (TESTDATA.md, FIXTURES.md): every
parameter below marked "measured" is what fixture_stats.py reports on the
sf0.01 and sf0.1 fixtures (README.md lists the values). The ingest traffic
has no fixture to measure; its parameters are chosen, for the reasons given
next to them.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sql_analytics copy: one TPC-H-shaped scale factor (lineitem = 6 M x SF rows)
ANALYTICS_SF = 0.01
# sql_analytics and llm_curation run one pass per PASS_SECONDS of the run
PASS_SECONDS = 15
# llm_curation: rows per documents / embeddings shard (one shard per pass),
# the row counts of the sf0.01 fixture
SHARD_DOCS = 500
SHARD_VECS = 500
# ingest_stream, chosen: 8 drops/s outpaces one drain cycle (0.3 to 1 s at
# local[4]), so backlogs form and micro-batches carry several files, and a
# 15 s run lands over 100 CSV drops, enough for a p90 with 10 samples beyond
DROP_RATE = 8.0
# chosen: every run skips at least 10 non-.csv keys (the reference's filter)
NON_CSV_SHARE = 0.1
# chosen: one bad row in most drops, so the permissive CSV path runs
MALFORMED_SHARE = 0.02
# chosen: heavy-tailed drop sizes, Pareto(1.2) from 40 rows, capped
DROP_ROWS_MIN, DROP_ROWS_ALPHA, DROP_ROWS_MAX = 40, 1.2, 20000

TPCH_TABLES = ["region", "nation", "customer", "supplier", "part",
               "orders", "lineitem"]
# documents, measured: the 30 distinct words besides the near-duplicate
# marker, drawn uniformly; 10 to 100 words per document, uniform
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
DOC_WORDS_MIN, DOC_WORDS_MAX = 10, 100
# measured: 4.86 % of documents are another document's text + " dup"
# (243 of 5 000 at sf0.1). Exact copies are two near-duplicates of the same
# document (all 8 pairs at sf0.1), so they need no parameter of their own.
NEAR_DUP_SHARE = 0.0486
# measured lang shares at sf0.1, independent of the text
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4118, 0.1506, 0.1488, 0.1484, 0.1404]
# measured: source is src<doc_id mod 20>
N_SOURCES = 20
# embeddings, measured: 64 dimensions, unit-norm rows with every coordinate
# of mean 0 and sd 1/8 (an isotropic Gaussian, normalised); labels 0 to 9,
# uniform and independent of the vector
DIM, N_LABELS = 64, 10
DIAGNOSES = ["hypertension", "diabetes", "asthma", "migraine", "fracture",
             "influenza", "bronchitis", "anemia"]


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    """Midnight timestamps drawn uniformly from [start, end]."""
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    d = lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def gen_analytics(seed, out_dir):
    """TPC-H-shaped tables at ANALYTICS_SF; returns {table: rows}. Measured
    on the fixtures and kept here: row counts per scale factor, keys drawn
    uniformly (about 4 lineitems and 10 orders per key), uniform categorical
    columns, prices with 2 decimals in the fixture's ranges, and order and
    ship dates uniform over the fixture's date ranges."""
    rng = np.random.default_rng([seed, 1])
    sf = ANALYTICS_SF
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 901, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li)})
    for name in TPCH_TABLES:
        _write(t[name], f"{out_dir}/{name}.parquet")
    return {name: t[name].num_rows for name in TPCH_TABLES}


def query_order(seed, names, passes):
    """One seeded permutation of the query list per pass."""
    rng = np.random.default_rng([seed, 2])
    return [[names[i] for i in rng.permutation(len(names))] for _ in range(passes)]


def _documents(rng, n):
    """Word-soup documents; NEAR_DUP_SHARE of them, at seeded positions, are
    an original document's text plus " dup"."""
    ids = np.arange(n)
    texts = [" ".join(rng.choice(VOCAB, rng.integers(DOC_WORDS_MIN, DOC_WORDS_MAX + 1)))
             for _ in ids]
    dups = rng.choice(n, int(round(n * NEAR_DUP_SHARE)), replace=False)
    originals = np.setdiff1d(ids, dups)
    for i in dups:
        texts[i] = texts[originals[rng.integers(0, len(originals))]] + " dup"
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % N_SOURCES}" for i in ids],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})


def _embeddings(rng, n):
    vecs = rng.normal(0.0, 1.0, (n, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel(), pa.float32()), DIM)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, N_LABELS, n), pa.int32())})


def passes(seconds):
    return max(1, seconds // PASS_SECONDS)


def gen_curation(seed, out_dir, n_shards):
    """`n_shards` fresh documents/embeddings shards, one directory each, plus
    a warm-up shard used only during set-up. Every shard is a new draw with
    the fixture's id layout (ids from 0), so id-anchored query panels such
    as the similarity top-k queries find their query vectors in each."""
    shards = []
    for k in range(n_shards + 1):
        rng = np.random.default_rng([seed, 3, k])
        name = "warm" if k == n_shards else f"shard{k:02d}"
        d = f"{out_dir}/{name}"
        _write(_documents(rng, SHARD_DOCS), f"{d}/documents.parquet")
        _write(_embeddings(rng, SHARD_VECS), f"{d}/embeddings.parquet")
        if name != "warm":
            shards.append(name)
    return shards


def _csv_drop(rng, n_rows, first_row):
    """One CSV drop of `n_rows` rows in the reference's sample layout.
    A malformed row still lands as one row: Spark's permissive CSV reader
    keeps it with nulls in the fields it cannot parse."""
    lines = ["patient_id,encounter_id,diagnosis,amount"]
    for j in range(n_rows):
        rid = first_row + j
        pid, eid = f"P{rng.integers(0, 100000):06d}", f"E{rid:09d}"
        diag = DIAGNOSES[rng.integers(0, len(DIAGNOSES))]
        amount = f"{rng.uniform(10, 5000):.2f}"
        m = rng.random()
        if m < MALFORMED_SHARE / 2:
            amount = "n/a"                                  # bad number
        elif m < MALFORMED_SHARE:
            lines.append(f"{pid},{eid}")                    # missing fields
            continue
        lines.append(f"{pid},{eid},{diag},{amount}")
    return "\n".join(lines) + "\n"


def gen_ingest(seed, out_dir, seconds):
    """Drop files and their landing schedule (an open loop at DROP_RATE).
    Drop sizes are the Pareto quantiles of DROP_ROWS_*, in seeded order, so
    every seed lands the same number of rows.
    NON_CSV_SHARE of the keys, at seeded positions, are manifests the ingest
    must skip."""
    rng = np.random.default_rng([seed, 4])
    os.makedirs(f"{out_dir}/staged", exist_ok=True)
    n = max(1, int(seconds * DROP_RATE))
    n_json = int(n * NON_CSV_SHARE)
    q = (np.arange(n - n_json) + 0.5) / (n - n_json)
    pareto = DROP_ROWS_MIN * (1 - q) ** (-1 / DROP_ROWS_ALPHA)
    sizes = rng.permutation(np.minimum(DROP_ROWS_MAX, pareto).astype(int))
    # drop 0 is the bootstrap drop, landed and ingested during set-up
    csv_sizes = iter([DROP_ROWS_MIN] + [int(x) for x in sizes])
    is_json = np.zeros(n + 1, bool)
    is_json[1 + rng.choice(n, n_json, replace=False)] = True
    drops, first_row = [], 0
    for i in range(n + 1):
        bootstrap = i == 0
        at = 0.0 if bootstrap else (i - 1) / DROP_RATE
        if is_json[i]:
            key = f"drop_{i:05d}.json"
            body = json.dumps({"manifest": i, "files": int(rng.integers(1, 9))})
            rows = 0
        else:
            key = f"drop_{i:05d}.csv"
            rows = next(csv_sizes)
            body = _csv_drop(rng, rows, first_row)
            first_row += rows
        with open(f"{out_dir}/staged/{key}", "w") as f:
            f.write(body)
        drops.append({"key": key, "at": at, "rows": rows,
                      "bytes": len(body.encode()), "bootstrap": bootstrap})
    return drops


def generate(workload, seed, out_dir, seconds):
    """Make the inputs for one workload; returns the manifest the harness
    reads (and BENCHMARK-facing input sizes)."""
    if workload == "sql_analytics":
        man = {"tables": gen_analytics(seed, out_dir)}
    elif workload == "llm_curation":
        man = {"shards": gen_curation(seed, out_dir, passes(seconds)),
               "shard_rows": {"documents": SHARD_DOCS, "embeddings": SHARD_VECS}}
    elif workload == "ingest_stream":
        man = {"drops": gen_ingest(seed, out_dir, seconds)}
    else:
        raise ValueError(workload)
    man["seed"] = seed
    with open(f"{out_dir}/manifest.json", "w") as f:
        json.dump(man, f)
    return man
