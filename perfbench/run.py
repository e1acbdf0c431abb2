#!/usr/bin/env python3
"""Engine benchmark: one workload run, one JSON result line.

Usage (from the repository root):
    python3 perfbench/run.py --workload <ingest_stream|sql_analytics|llm_curation>
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine with the benchmark (build.py), generates the workload's
inputs from the seed (gen.py), runs them through the engine's public API in
one JVM on local[<nproc>], checks every op's result (check.py) and prints, as
the last line, {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. See README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("ingest_stream", "sql_analytics", "llm_curation")
SQL_QUERIES = ["agg_pricing_summary"] + [
    "q2_min_cost_supplier", "q3_shipping_priority", "q4_order_priority",
    "q5_local_supplier_volume", "q6_forecast_revenue", "q7_volume_shipping",
    "q8_market_share", "q9_product_profit", "q10_returned_items",
    "q11_important_parts", "q12_late_shipments", "q13_customer_distribution",
    "q14_promo_revenue", "q15_top_supplier", "q16_parts_suppliers",
    "q17_small_qty_revenue", "q18_large_orders", "q19_disjunctive_pushdown",
    "q20_excess_share", "q21_waiting_supplier", "q22_sales_opportunity",
    "ref_partition_count"]
CURATION_STAGES = [
    "pipeline_curate",
    "dedup_exact", "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_simhash",
    "text_quality_gate", "text_langid", "text_redact", "text_tfidf",
    "sim_brute_topk", "sim_lsh_ann", "sim_ivf_ann", "sim_ivfpq_topk",
    "multimodal_phash"]
FAMILIES = ["Relational", "Analytics", "Dedup", "TextAnalysis", "Similarity",
            "Multimodal"]
JVM_HEAP = "2g"
DEADLINE_S = 170         # the whole run, build excluded, ends within this
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# ------------------------------------------------------------------ inputs

def gen_version():
    """Short hash of the generator, so cached inputs follow its changes."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def prepare(workload, seed, seconds, work):
    """Generate (or reuse) the seed's inputs; returns (input_dir, manifest)."""
    import gen
    inputs = os.path.join(work, "inputs", f"{workload}-seed{seed}-s{seconds}-{gen_version()}")
    done = os.path.join(inputs, "manifest.json")
    if not os.path.exists(done):
        shutil.rmtree(inputs, ignore_errors=True)
        os.makedirs(inputs)
        gen.generate(workload, seed, inputs, seconds)
    with open(done) as f:
        return inputs, json.load(f)


def write_plan(workload, seed, seconds, inputs, man, path):
    """The run's inputs and op order. The query workloads run whole passes,
    one per gen.PASS_SECONDS of --seconds, so every run holds the same op mix."""
    import gen
    passes = gen.passes(seconds)
    lines = []
    if workload == "sql_analytics":
        lines += [f"warm\t{inputs}\t{t}" for t in gen.TPCH_TABLES]
        for order in gen.query_order(seed, SQL_QUERIES, passes):
            lines += [f"op\t{q}\t{inputs}" for q in order]
    elif workload == "llm_curation":
        warm = os.path.join(inputs, "warm")
        lines += [f"warm\t{warm}\tdocuments", f"warm\t{warm}\tembeddings"]
        for shard in man["shards"]:
            lines += [f"op\t{q}\t{os.path.join(inputs, shard)}" for q in CURATION_STAGES]
    else:
        lines.append(f"staged\t{os.path.join(inputs, 'staged')}")
        lines += [f"drop\t{d['key']}\t{d['at']}\t{d['rows']}\t{d['bytes']}\t"
                  f"{int(d['bootstrap'])}" for d in man["drops"]]
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


# ------------------------------------------------------------------ JVM

def run_jvm(cp, workload, plan, run_dir, out_dir, seconds, trace, timeout):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseG1GC", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", workload, plan, run_dir, out_dir,
              str(seconds), str(trace), str(nproc())])
    log_path = os.path.join(out_dir, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir,
                             start_new_session=True)
        code = None
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            pass
        finally:  # also on SIGTERM: never leave the JVM behind
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if code != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        fail(f"benchmark JVM {'timed out' if code is None else f'exited {code}'}:\n{tail}")


def read_outputs(out_dir):
    with open(os.path.join(out_dir, "summary.json")) as f:
        summary = json.load(f)
    with open(os.path.join(out_dir, "ops.jsonl")) as f:
        ops = [json.loads(l) for l in f if l.strip()]
    trace = None
    tp = os.path.join(out_dir, "trace.json")
    if os.path.exists(tp):
        with open(tp) as f:
            trace = json.load(f)
    return summary, ops, trace


# ------------------------------------------------------------------ checking

def tables_of(sql, candidates):
    return [t for t in candidates if re.search(rf"\b{t}\b", sql)]


def check_results(workload, work, inputs, out_dir, summary, ops):
    """Marks ops whose first result differs from the DuckDB reference."""
    import check, gen
    if workload == "ingest_stream":
        return  # checked against the generator's ledger inside the JVM
    oracle = summary["oracle"]
    cands = gen.TPCH_TABLES + ["documents", "embeddings"]
    firsts = []
    for op in ops:
        if op["first"]:
            with open(os.path.join(out_dir, "results", f"{op['id']}.json")) as f:
                firsts.append(json.load(f))

    def judge(res):
        sql = oracle.get(res["name"])
        if sql is None:
            return "no oracle SQL declared"
        sql_hash = hashlib.sha256(sql.encode()).hexdigest()[:12]
        cache = os.path.join(work, "refs", os.path.basename(inputs),
                             f"{res['name']}@{os.path.basename(res['input'])}-{sql_hash}.json")
        try:
            ref = check.reference(sql, res["input"], tables_of(sql, cands), cache, threads=1)
        except Exception as e:  # a reference that cannot be computed is a failure
            return f"reference failed: {e}"
        return check.compare(res, ref)

    # one single-threaded DuckDB connection per reference, nproc at a time
    with ThreadPoolExecutor(max_workers=nproc()) as pool:
        verdict = {(r["name"], r["input"]): v for r, v in zip(firsts, pool.map(judge, firsts))}
    for op in ops:
        bad = verdict.get((op["name"], op["input"]))
        if op["ok"] and bad:
            op["ok"], op["err"] = False, bad


# ------------------------------------------------------------------ metrics

def hd_quantile(values, p):
    """Harrell-Davis estimate of the p-quantile: a Beta-weighted average of
    all order statistics. A run holds few ops of many kinds (23 queries, 14
    stages), so a single order statistic jumps between the latency levels of
    neighbouring kinds; the weighted average does not."""
    import numpy as np
    x = np.sort(np.asarray(values, float))
    n = len(x)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    grid = np.linspace(0.0, 1.0, 100001)[1:-1]
    log_pdf = (a - 1) * np.log(grid) + (b - 1) * np.log1p(-grid)
    cdf = np.cumsum(np.exp(log_pdf - log_pdf.max()))
    cdf /= cdf[-1]
    weights = np.diff(np.interp(np.arange(n + 1) / n, grid, cdf))
    return float(weights @ x)


def tail_percentile(n):
    """Highest percentile, at most p90 and at least the median, with at
    least 10 of n samples beyond it."""
    rank = min(9 * n // 10, n - 10)
    return max(rank / n, 0.5)


def stated_rows(workload, man, summary, ops):
    """Input rows the workload states it processed."""
    import gen
    if workload == "ingest_stream":
        return sum(d["rows"] for d in man["drops"] if not d["bootstrap"])
    sizes = man["tables"] if workload == "sql_analytics" else man["shard_rows"]
    oracle = summary["oracle"]
    cands = list(sizes)
    return sum(sum(sizes[t] for t in tables_of(oracle.get(op["name"], ""), cands))
               for op in ops if op["name"] in oracle)


def end_to_end(workload, man, summary, ops):
    lat = [op["lat"] for op in ops]
    tail = tail_percentile(len(lat))
    m = {
        "setup_s": (summary["setup_s"], "s"),
        "rows_per_s": (stated_rows(workload, man, summary, ops) / summary["wall_s"], "1/s"),
        "op_p50_s": (hd_quantile(lat, 0.5), "s"),
        "op_p90_s": (hd_quantile(lat, tail), "s"),
        "peak_rss_mb": (summary["rss_mb"], "MiB"),
    }
    diag = {"ops": len(lat), "op_p90_percentile": 100 * tail, "wall_s": summary["wall_s"],
            "failed_ratio": sum(not o["ok"] for o in ops) / len(ops),
            "canary_cpu_s": summary["canary_cpu_s"]}
    if workload == "ingest_stream":
        late = sorted(o["late"] for o in ops if "late" in o)
        diag["generator_late_p50_s"] = statistics.median(late) if late else 0.0
        diag["generator_late_max_s"] = late[-1] if late else 0.0
    return m, diag


def per_layer(workload, man, summary, ops, trace):
    spans = trace["spans"]
    by_id = {s["id"]: s for s in spans}
    dur = {s["id"]: (s["end"] - s["start"]) / 1e9 for s in spans}
    child = {}
    for s in spans:
        child.setdefault(s["parent"], []).append(s["id"])
    self_t = {i: dur[i] - sum(dur[c] for c in child.get(i, [])) for i in dur}
    fam = {o["id"]: o["family"] for o in ops}
    run_spans = [s for s in spans if s["op"] >= 0]

    def total(name=None, key=None, fams=None, pool=run_spans):
        v = 0.0
        for s in pool:
            if name and s["name"] != name:
                continue
            if fams and fam.get(s["op"]) not in fams:
                continue
            v += dur[s["id"]] if key is None else s["counters"][key]
        return v

    ing = summary.get("ingest", {})
    lat = [o["lat"] for o in ops]
    created = int(summary.get("memos_created", 0))
    hits = int(summary.get("memo_hits", 0))
    m = {
        "Sessions.start_s": (summary["start_s"], "s"),
        "Tables.warm_s": (summary["warm_s"], "s"),
        "sources.load_s": (sum(s["fs_ns"] for s in run_spans if s["name"] in
                               ("operators.build", "plans.plan", "catalog.refresh")) / 1e9, "s"),
        "sources.input_bytes": (total(key="input_bytes"), "bytes"),
        "sources.input_rows": (total(key="input_rows"), "count"),
        "sources.output_bytes": (total(key="output_bytes"), "bytes"),
        "sources.output_files": (int(summary["parquet_files_created"]), "count"),
        "sources.stored_bytes_ratio": (int(ing["stored_bytes"]) / int(ing["csv_bytes"])
                                       if ing else 0.0, "ratio"),
        "streaming.drain_s": (float(ing.get("drain_s", 0.0)), "s"),
        "streaming.batches": (int(ing.get("batches", 0)), "count"),
        "streaming.files_per_batch": (int(ing["files"]) / max(1, int(ing["batches"]))
                                      if ing else 0.0, "count"),
        "streaming.backlog_files_max": (int(ing.get("backlog_files_max", 0)), "count"),
        "catalog.refresh_s": (float(ing.get("refresh_s", 0.0)), "s"),
        "Compaction.s": (float(ing.get("compact_s", 0.0)), "s"),
        "Compaction.bytes_rewritten": (int(ing.get("bytes_rewritten", 0)), "bytes"),
        "Compaction.files_out": (int(ing.get("files_out", 0)), "count"),
        "operators.build_s": (total("operators.build"), "s"),
        "operators.jobs": (total("operators.build", "jobs"), "count"),
        "plans.plan_s": (total("plans.plan"), "s"),
        "plans.nodes": (statistics.mean([o["nodes"] for o in ops]), "count"),
        "operators.exec_s": (total("operators.exec"), "s"),
        "operators.shuffle_write_bytes": (total(key="shuffle_write_bytes"), "bytes"),
        "operators.shuffle_read_bytes": (total(key="shuffle_read_bytes"), "bytes"),
        "operators.spill_bytes": (total(key="spill_bytes"), "bytes"),
        "operators.task_skew": (summary["task_skew"], "ratio"),
        "operators.tasks_failed": (total(key="tasks_failed"), "count"),
        "operators.task_cpu_s": (total(key="cpu_ns") / 1e9, "s"),
        "operators.gc_s": (total(key="gc_ms") / 1e3, "s"),
    }
    for f in FAMILIES:
        m[f"operators.{f}.exec_s"] = (total("operators.exec", fams={f}), "s")
        m[f"operators.{f}.task_cpu_s"] = (total(key="cpu_ns", fams={f}) / 1e9, "s")
        m[f"operators.{f}.shuffle_write_bytes"] = (total(key="shuffle_write_bytes", fams={f}),
                                                   "bytes")
    m["Caches.storage_bytes_max"] = (int(summary.get("storage_bytes_max", 0)), "bytes")
    m["Caches.memos_created"] = (created, "count")
    # memo reads that found a frame built by an earlier op, over all memo
    # reads (the builds count as misses)
    m["Caches.memo_hit_ratio"] = (hits / (hits + created) if hits + created else 0.0, "ratio")
    m["Caches.release_s"] = (total("Caches.release"), "s")
    m["trace.op_p50_s"] = (hd_quantile(lat, 0.5), "s")
    # share of op latency the named layer spans account for (self times of
    # every span below the op's root, plus the queue wait of ingest drops)
    roots = {s["op"]: s["id"] for s in run_spans
             if s["name"] in ("op", "ingest.cycle", "compaction")}
    covered = 0.0
    for o in ops:
        root = roots.get(o["id"])
        if root is None:
            continue
        inner = dur[root] - self_t[root]
        covered += inner + o.get("wait", 0.0)
    m["trace.layer_coverage"] = (covered / sum(lat), "ratio")
    # layer self times, for the diagnostics file
    layers = {}
    for s in run_spans:
        layers[s["name"]] = layers.get(s["name"], 0.0) + self_t[s["id"]]
    return m, {"self_time_s": layers}


def check_manifest(metrics, trace):
    """The result line must carry exactly the manifest's metrics of this
    kind (end_to_end untraced, per_layer traced), each in its unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        want = {m["name"]: m["unit"] for m in json.load(f)["per_layer" if trace else "end_to_end"]}
    got = {k: u for k, (_, u) in metrics.items()}
    if got != want:
        diff = sorted(set(got.items()) ^ set(want.items()))
        fail(f"metrics differ from BENCHMARK.json: {diff}")


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources (src/main/scala) not found next to the benchmark")
    if shutil.which("java") is None:
        fail("java not found")
    import build
    try:
        cp = build.build()
    except Exception as e:
        fail(f"build failed: {e}")
    t_built = time.time()

    work = os.path.join(ROOT, ".bench_work")
    inputs, man = prepare(a.workload, a.seed, a.seconds, work)
    t_gen = time.time()
    run_dir = os.path.join(work, "runs", f"{a.workload}-seed{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    out_dir = os.path.join(run_dir, "out")
    os.makedirs(out_dir)
    try:
        plan = os.path.join(run_dir, "plan.tsv")
        write_plan(a.workload, a.seed, a.seconds, inputs, man, plan)
        budget = DEADLINE_S - (time.time() - t_built) - 15
        run_jvm(cp, a.workload, plan, run_dir, out_dir, a.seconds, a.trace, budget)
        t_jvm = time.time()
        summary, ops, trace = read_outputs(out_dir)
        if not ops:
            fail("no op completed")
        check_results(a.workload, work, inputs, out_dir, summary, ops)
        t_check = time.time()
        e2e, diag = end_to_end(a.workload, man, summary, ops)
        diag["harness_s"] = {"build": t_built - t_start, "inputs": t_gen - t_built,
                             "jvm": t_jvm - t_gen, "check": t_check - t_jvm}
        metrics = e2e
        if a.trace:
            metrics, layer_diag = per_layer(a.workload, man, summary, ops, trace)
            diag.update(layer_diag)
        failed = sum(not o["ok"] for o in ops)
        errors = sorted({f"{o['name']}: {o['err']}" for o in ops if not o["ok"]})
        # keep this run's numbers, so the second of a traced and an untraced
        # run of the same seed can report the tracing overhead
        res_dir = os.path.join(work, "results")
        os.makedirs(res_dir, exist_ok=True)
        key = os.path.join(res_dir, f"{a.workload}-seed{a.seed}-s{a.seconds}")
        mine = {k: v for k, (v, _) in e2e.items()}
        with open(f"{key}-t{a.trace}.json", "w") as f:
            json.dump(mine, f)
        shutil.copy(os.path.join(out_dir, "ops.jsonl"), f"{key}-t{a.trace}-ops.jsonl")
        if a.trace:
            shutil.copy(os.path.join(out_dir, "trace.json"), f"{key}-trace.json")
        if os.path.exists(f"{key}-t{1 - a.trace}.json"):
            with open(f"{key}-t{1 - a.trace}.json") as f:
                theirs = json.load(f)
            traced, plain = (mine, theirs) if a.trace else (theirs, mine)
            diag["trace_overhead"] = {k: traced[k] - plain[k] for k in plain}
        print(json.dumps({"diagnostics": diag, "errors": errors[:10]}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    check_manifest(metrics, a.trace)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
