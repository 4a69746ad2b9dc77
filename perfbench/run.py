#!/usr/bin/env python3
"""graft benchmark: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. It compiles graft's main sources
plus the benchmark's Scala runner with the Scala compiler that ships in
the Spark distribution (no sbt, build.sbt untouched), writes the seeded
inputs, runs the workload in a fresh JVM on local[<cores>], checks every
output against DuckDB, and prints one JSON object as the last line of
standard output. See perfbench/README.md for the workloads and metrics.
"""
import sys

sys.dont_write_bytecode = True  # keep the benchmark directory free of build output

import argparse
import contextlib
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import time

import check
import gen
import layers

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "scala")
RUN_LIMIT_S = 165  # every run, build excluded, ends well inside 180 s

TPCH = [
    "q1_pricing_summary", "q2_min_cost_supplier", "q3_top_orders", "q4_order_priority",
    "q5_region_revenue", "q6_revenue_delta", "q7_nation_volume", "q8_market_share",
    "q9_product_profit", "q10_returned_customers", "q11_important_parts", "q12_late_lines",
    "q13_customer_distribution", "q14_promo_ratio", "q15_top_supplier",
    "q16_supplier_variety", "q17_small_quantity", "q18_large_orders", "q19_disjunctive",
    "q20_excess_shippers", "q21_sole_blame", "q22_idle_customers"]
# one consumer per staged artifact (ivf_cells: dedup_semantic; emb_pairs:
# dedup_embedding; knn_graph: sim_knn_graph; pair_graph + cluster_labels:
# dedup_clusters; band_index: dedup_minhash_lsh; cdc_canon:
# dedup_cdc_chunks; purchase_graph + pr_fixpoint: graph_pagerank_converged)
CURATION = [
    "dedup_clusters", "dedup_minhash_lsh", "dedup_semantic", "dedup_embedding",
    "dedup_cdc_chunks", "sim_knn_graph", "graph_pagerank_converged"]
STREAMS = [
    "stream_tumbling", "stream_sliding", "stream_two_phase_agg", "stream_session_window",
    "stream_sessionize_rocksdb", "stream_attribution", "stream_attribution_outer",
    "stream_dedup", "stream_upsert", "stream_file_sink"]
# read_side drains one stream op per kind of streaming state: a windowed
# aggregate on the default state store, a sessionizer on the RocksDB
# state store, and a stream-stream join (all ten run in stream_drain)
READ_STREAMS = ["stream_tumbling", "stream_sessionize_rocksdb", "stream_attribution"]

# The curation and stream ops read fixed tables at this scale: their cost
# is per-job and per-batch constants, and at sf 0.01 the PageRank oracle
# alone takes 4 s of check. The TPC-H queries need sf 0.01, where every
# one of them returns rows (at sf 0.001 q2 returns none).
CORPUS_SF = 0.001
# Per workload: `sf` sizes the TPC-H-ish tables (sf 1 would be 6 M
# lineitem rows), `copies` the key-shifted scale-up of the warehouse
# sources, `chunks` its landing files; `warmup` untimed iterations, then
# at least `min_iters` timed ones; `item` names what items_per_s counts.
# `queries`, `curation` and `streams` are the registry ops an iteration
# runs, in that order by family (the JVM runner draws the order within a
# family from the seed, afresh for every iteration); the curation family
# is preceded by a cold staging pass, the stream family by re-staging.
WORKLOADS = {
    "warehouse_load": dict(sf=0.01, copies=2, chunks=64, warmup=1, min_iters=2, item="rows"),
    "read_side": dict(sf=0.01, warmup=0, min_iters=1, item="ops",
                      queries=TPCH, curation=CURATION, streams=READ_STREAMS),
    "analyst_queries": dict(sf=0.01, warmup=0, min_iters=1, item="queries", queries=TPCH),
    "corpus_curation": dict(sf=CORPUS_SF, warmup=0, min_iters=1, item="docs",
                            curation=CURATION),
    "stream_drain": dict(sf=CORPUS_SF, warmup=0, min_iters=1, item="events", streams=STREAMS),
}
BASE_DATA_SEED = 20240101  # fixed tables for the read-only workloads
DOCS = VECS = 500  # corpus documents and embeddings


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    ap.add_argument("--corrupt", action="store_true",
                    help="damage one result before the check (self-check only)")
    a = ap.parse_args()
    if not 1 <= a.seconds <= 600:
        fail(f"--seconds {a.seconds} out of range 1..600")
    return a


def cores():
    """Cores for local[n]: the CPUs this process may run on, counted by
    the kernel, never parsed from the environment."""
    n = len(os.sched_getaffinity(0))
    if not 1 <= n <= 256:
        fail(f"unusable CPU count {n}")
    return n


def spark_jars():
    """The Spark jars graft builds against: $SPARK_HOME/jars, else the
    `unmanagedBase` directory that build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open(sbt).read() if os.path.exists(sbt) else "")
        jars = m.group(1) if m else ""
    if not os.path.isfile(os.path.join(jars, "scala-compiler-2.13.17.jar")):
        fail(f"no Spark jars with scala-compiler-2.13.17.jar found (SPARK_HOME={jars!r})")
    return jars


def sources():
    out = []
    for base in (MAIN_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def build(jars):
    """Compile graft + the runner once per source tree; reuse after."""
    if not os.path.isdir(MAIN_SRC):
        fail("no src/main/scala here: run from the root of a graft checkout")
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    for old in os.listdir(BUILD) if os.path.isdir(BUILD) else []:
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out] + srcs
    t0 = time.monotonic()
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        fail("compilation failed")
    open(os.path.join(out, ".ok"), "w").close()
    print(f"perfbench: compiled {len(srcs)} sources in {time.monotonic() - t0:.1f} s",
          file=sys.stderr)
    return out


def tables(d, sf, data_seed, copies=1, chunks=0):
    """Write the graft tables (and, with `chunks`, the landing batch)
    into `d` unless they are there; return their sizes."""
    meta = os.path.join(d, "sizes.json")
    if not os.path.exists(meta):
        shutil.rmtree(d, ignore_errors=True)
        rng = gen.np.random.default_rng(data_seed)
        tbls = gen.base_tables(sf, rng, DOCS, VECS)
        if copies > 1:
            tbls = gen.scale_up(tbls, copies)
        gen.write_tables(tbls, d)
        sizes = {t: tbl.num_rows for t, tbl in tbls.items()}
        if chunks:
            sizes["landing_rows"] = gen.landing_batch(
                tbls["lineitem"], rng, os.path.join(d, "landing", "lineitem"), chunks)
            sizes["landing_files"] = chunks
        with open(meta, "w") as f:
            json.dump(sizes, f)
    with open(meta) as f:
        return json.load(f)


def fixed_tables(sf):
    """Fixed tables at `sf` for the read-only workloads, cached across
    runs, keyed by the generator source and its parameters."""
    tag = hashlib.sha256(json.dumps([sf, DOCS, VECS]).encode()
                         + open(gen.__file__, "rb").read()).hexdigest()[:16]
    d = os.path.join(BUILD, "data", f"fixed-{tag}")
    return d, tables(d, sf, BASE_DATA_SEED)


def inputs(name, cfg, seed, work):
    """Write the workload's inputs; return {role: (dir, sizes)} for the
    roles `data` (TPC-H tables; warehouse_load's sources) and `corpus`
    (the tables the curation and stream ops read). The warehouse inputs
    come from the seed and live in the run's work dir; the read-only
    workloads share fixed, cached tables and take only their op order
    from the seed."""
    if name == "warehouse_load":
        d = os.path.join(work, "data")
        return {"data": (d, tables(d, cfg["sf"], seed, cfg["copies"], cfg["chunks"]))}
    out = {"data": fixed_tables(cfg["sf"])}
    if cfg.get("curation") or cfg.get("streams"):
        out["corpus"] = fixed_tables(CORPUS_SF)
    return out


def jvm(classes, jars, args, work, limit_s):
    """Run the Scala runner in a fresh JVM; returns its result document."""
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # a fixed-size heap, touched up front: peak RSS is then the heap plus
    # what the JVM holds outside it (RocksDB state, direct buffers,
    # metaspace, code), not the high-water mark the collector happened
    # to reach, which varied by 25 % between runs of read_side
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC",
           "-XX:-UseAdaptiveSizePolicy", "-XX:-UsePerfData"] + \
          [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in opens] + [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Dderby.system.home={work}",
        f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
        # the audit log's embedded Derby skips fsync: disk flush latency of
        # the host is not graft's work and only adds noise
        "-Dderby.system.durability=test",
        "-Dspark.ui.enabled=false",
        "-cp", classes + os.pathsep + os.path.join(jars, "*"),
        "graft.perfbench.Main"] + [f"{k}={v}" for k, v in args.items()]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "wb") as log:
        # few malloc arenas: native memory (RocksDB state, Netty, Parquet)
        # then fragments less, so peak RSS repeats between runs
        env = dict(os.environ, MALLOC_ARENA_MAX="2")
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True, env=env)
        try:
            code = p.wait(timeout=max(5.0, limit_s))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = None
    out = args["out"]
    doc = json.load(open(out)) if os.path.exists(out) else {}
    if code != 0 or "fatal" in doc:
        with open(log_path, errors="replace") as f:
            tail = [l for l in f.read().splitlines() if " WARN " not in l][-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        fail("workload JVM " + ("timed out" if code is None else f"exited with {code}")
             + (f": {doc['fatal']}" if "fatal" in doc else ""))
    return doc


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def untraced(doc):
    """The untraced iterations of a run (all of them in an untraced run)."""
    return [i for i in doc["iterations"] if not i.get("traced")] or doc["iterations"]


def end_to_end(doc):
    """The end-to-end metrics of one run, with units and sample counts."""
    its = untraced(doc)
    # an iteration with a failed op counts as infinitely slow
    walls = [math.inf if i.get("failed") or math.inf in i.get("op_latency_s", {}).values()
             else i["wall_s"] for i in its]
    return {
        "setup_s": (median(doc["setup_s"]), "s", len(doc["setup_s"])),
        "iter_p50_s": (median(walls), "s", len(walls)),
        "peak_rss_mb": (doc["vm_hwm_kb"] / 1024.0, "MB", 1),
    }


def items_per_s(doc):
    """Items per second of iteration wall time, median over iterations
    (info only: with a fixed item count per iteration it is the inverse
    of iter_p50_s)."""
    its = untraced(doc)
    return round(median([i["items"] / i["wall_s"] for i in its]), 4)


def op_latency(doc):
    """Per-op latency percentiles of the untraced iterations (info only:
    one run holds too few ops for a bounded percentile)."""
    lat = sorted(v for i in untraced(doc) for v in i.get("op_latency_s", {}).values())
    if not lat:
        return {}
    p90 = lat[min(len(lat) - 1, int(0.9 * len(lat)))] if len(lat) >= 100 else None
    return {"op_p50_s": round(median(lat), 4), "op_p90_s": p90, "ops_timed": len(lat)}


def main():
    a = parse_args()
    cfg = WORKLOADS[a.workload]
    ncpu = cores()
    jars = spark_jars()
    classes = build(jars)
    t_start = time.monotonic()  # the run's clock starts after the build
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t_in = time.monotonic()
        ins = inputs(a.workload, cfg, a.seed, work)
        dirs = {role: d for role, (d, _) in ins.items()}
        sizes = {role: sz for role, (_, sz) in ins.items()}
        t_in = time.monotonic() - t_in
        doc = jvm(classes, jars, dict(
            **dirs, work=work, out=os.path.join(work, "result.json"),
            cpus=ncpu, seconds=a.seconds, seed=a.seed, trace=a.trace,
            **{k: ",".join(cfg.get(k, [])) for k in ("queries", "curation", "streams")},
            workload=a.workload,
            docs=sizes.get("corpus", {}).get("documents", 0), warmup=cfg["warmup"],
            # a traced run of a warmed-up workload alternates traced and
            # untraced iterations; a cold single-iteration workload traces
            # its one iteration (two would not fit the run's time limit)
            min_iters=cfg["min_iters"] * (2 if a.trace and cfg["warmup"] else 1)),
            work, RUN_LIMIT_S - (time.monotonic() - t_start))
        t_jvm = time.monotonic() - t_start - t_in
        if a.corrupt:
            check.corrupt(doc)
        t_chk = time.monotonic()
        verdicts = check.run(a.workload, dirs["data"], doc, work)
        t_chk = time.monotonic() - t_chk
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run is using it

    failed = sorted(set(doc["failed"]) | {k for k, ok in verdicts.items() if not ok})
    attempted = doc["attempted"] + len(verdicts)
    e2e = end_to_end(doc)
    info = {"workload": a.workload, "seed": a.seed, "cpus": ncpu,
            "default_parallelism": doc["default_parallelism"], "inputs": sizes,
            "item": cfg["item"], "iterations": len(doc["iterations"]),
            "measured_s": round(doc["measured_s"], 3),
            "setups_s": [round(x, 3) for x in doc["setup_s"]],
            "phase_s": {k: round(v, 2) for k, v in doc["phase_s"].items()},
            "run_s": round(time.monotonic() - t_start, 1),
            "host_s": {"inputs": round(t_in, 2), "jvm": round(t_jvm, 2), "check": round(t_chk, 2)},
            "op_fail_ratio": len(failed) / attempted, "failed": failed,
            "items_per_s": items_per_s(doc), **op_latency(doc)}
    print("perfbench " + json.dumps(info, sort_keys=True))
    for it in doc["iterations"]:
        print("perfbench iteration " + json.dumps(it, sort_keys=True), file=sys.stderr)
    for k, (v, unit, n) in e2e.items():
        print(f"perfbench metric {k} = {v:.6g} {unit} (n={n})")
    if a.trace:
        metrics = {k: {"value": v, "unit": layers.UNITS[k]}
                   for k, v in layers.per_layer(doc).items()}
        trace_dir = os.path.join(BUILD, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{a.workload}-{a.seed}.json"), "w") as f:
            json.dump(doc.get("trace", {}), f)
    else:
        # JSON has no infinity: a failed run reads 1e9 s (and is not correct)
        metrics = {k: {"value": v if math.isfinite(v) else 1e9, "unit": unit}
                   for k, (v, unit, _) in e2e.items()}
    print(json.dumps({"correct": not failed, "attempted": attempted,
                      "failed": len(failed), "metrics": metrics}, allow_nan=False))


if __name__ == "__main__":
    main()
