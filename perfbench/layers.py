"""Per-layer metrics from a traced run.

The Scala runner records spans (workload run > iteration > module call)
and raw Spark records (jobs with their task sums, Catalyst phase times,
streaming progress). Here jobs are attached to the module span that was
open at their submission (one client thread, so that span is unique),
and every metric is reduced to a value per traced iteration: counts and
busy times are means per iteration, latencies are medians.

Self time of a span is its duration minus the part of it that its
children (spans or Spark jobs) cover.
"""
import statistics

ARTIFACTS = ["ivf_cells", "emb_pairs", "knn_graph", "pair_graph", "band_index",
             "cluster_labels", "cdc_canon", "purchase_graph", "pr_fixpoint"]
LAYERS = ["meta", "etl", "sources", "queries", "ops", "streaming"]


def _names():
    spark = [("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
             ("spark.task_run_s", "s"), ("spark.task_cpu_s", "s"), ("spark.task_wait_s", "s"),
             ("spark.slot_busy_ratio", "ratio"), ("spark.shuffle_write_mb", "MB"),
             ("spark.shuffle_read_mb", "MB"), ("spark.spill_mb", "MB"), ("spark.gc_s", "s"),
             ("spark.plan_s", "s"), ("spark.unattributed_jobs", "count")]
    mods = [("meta.catalog_load_s", "s"),
            ("etl.extract_s", "s"), ("etl.consolidate_s", "s"), ("etl.map_output_s", "s"),
            ("etl.upsert_s", "s"), ("etl.scd2_s", "s"), ("etl.rows_extracted", "count"),
            ("etl.rows_upserted", "count"), ("etl.files_consolidated_in", "count"),
            ("etl.files_consolidated_out", "count"),
            ("sources.write_staged_s", "s"), ("sources.audit_write_s", "s"),
            ("sources.bytes_written_mb", "MB"), ("sources.write_amp", "ratio"),
            ("queries.construct_s", "s"), ("queries.action_s", "s"),
            ("queries.jobs_per_op", "count"),
            ("ops.stage_s", "s")] + [(f"ops.stage.{a}_s", "s") for a in ARTIFACTS] + [
            ("ops.stage.pr_fixpoint_jobs", "count"), ("ops.construct_s", "s"),
            ("ops.action_s", "s"),
            ("streaming.stage_s", "s"), ("streaming.drain_s", "s"), ("streaming.batches", "count"),
            ("streaming.batch_p50_ms", "ms"), ("streaming.add_batch_ms", "ms"),
            ("streaming.wal_commit_ms", "ms"), ("streaming.commit_offsets_ms", "ms"),
            ("streaming.state_rows", "count"), ("streaming.state_commit_ms", "ms")]
    selfs = [(f"{l}.self_s", "s") for l in LAYERS]
    trace = [("trace.overhead_iter_p50_s", "s"), ("trace.overhead_ratio", "ratio"),
             ("trace.spans_per_iter", "count")]
    return spark + mods + selfs + trace


NAMES = _names()
UNITS = dict(NAMES)  # metric name -> unit


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def _covered(lo, hi, intervals):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def per_layer(doc):
    tr = doc["trace"]
    spans = tr["spans"]
    its = doc["iterations"]
    traced = [i for i in its if i.get("traced")]
    untraced = [i for i in its if not i.get("traced")]
    n = max(1, len(traced))
    it_spans = [s for s in spans if s["name"] == "iteration"]
    mods = [s for s in spans if s["name"] != "iteration" and s["parent"] >= 0]
    jobs = [j for j in tr["jobs"] if "end_ms" in j]

    # attach each job to the innermost module span open at its submission
    def owner(t):
        best = None
        for s in mods:
            if s["start_ms"] <= t <= s["end_ms"] and (best is None or s["start_ms"] >= best["start_ms"]):
                best = s
        return best
    children = {s["id"]: [] for s in spans}
    for s in spans:
        if s["parent"] in children:
            children[s["parent"]].append((s["start_ms"], s["end_ms"]))
    in_iter = []
    for j in jobs:
        s = owner(j["start_ms"])
        if s is None and not any(i["start_ms"] <= j["start_ms"] <= i["end_ms"] for i in it_spans):
            continue  # outside the traced iterations (checks, listener tail)
        in_iter.append(j)
        if s is not None:
            children[s["id"]].append((j["start_ms"], j["end_ms"]))
            j["layer"] = s["name"].split(".")[0]

    def tot(k):
        return sum(j[k] for j in in_iter)

    def dur(prefix, suffix=""):
        """Mean per traced iteration of the summed duration of matching spans, s."""
        return sum((s["end_ms"] - s["start_ms"]) for s in mods
                   if s["name"].startswith(prefix) and s["name"].endswith(suffix)) / 1e3 / n

    wall = sum(i["wall_s"] for i in traced) or 1.0
    m = {k: 0.0 for k, _ in NAMES}
    run_s, cpu_s = tot("run_ms") / 1e3, tot("cpu_ns") / 1e9
    m.update({
        "spark.jobs": len(in_iter) / n, "spark.stages": tot("stages") / n,
        "spark.tasks": tot("tasks") / n, "spark.task_run_s": run_s / n,
        "spark.task_cpu_s": cpu_s / n, "spark.task_wait_s": max(0.0, run_s - cpu_s) / n,
        "spark.slot_busy_ratio": run_s / (wall * tr["slots"]),
        "spark.shuffle_write_mb": tot("shuffle_write_b") / 2**20 / n,
        "spark.shuffle_read_mb": tot("shuffle_read_b") / 2**20 / n,
        "spark.spill_mb": tot("spill_b") / 2**20 / n, "spark.gc_s": tot("gc_ms") / 1e3 / n,
        "spark.plan_s": sum(p["plan_ms"] for p in tr["plans"]
                            if any(i["start_ms"] <= p["end_ms"] <= i["end_ms"] for i in it_spans))
        / 1e3 / n,
        "spark.unattributed_jobs": sum(1 for j in in_iter
                                       if not j["group"].startswith("perfbench-")) / n,
    })
    for layer in LAYERS:
        m[f"{layer}.self_s"] = sum(
            (s["end_ms"] - s["start_ms"]) - _covered(s["start_ms"], s["end_ms"], children[s["id"]])
            for s in mods if s["name"].split(".")[0] == layer) / 1e3 / n
    present = {s["name"].split(".")[0] for s in mods}  # the layers this workload calls
    if "etl" in present:
        for k in ("extract", "consolidate", "map_output", "upsert", "scd2"):
            m[f"etl.{k}_s"] = dur(f"etl.{k}")
        m["meta.catalog_load_s"] = dur("meta.catalog_load")
        m["sources.write_staged_s"] = dur("sources.write_staged")
        m["sources.audit_write_s"] = dur("sources.audit_write")
        m["etl.rows_extracted"] = _med([i["rows_extracted"] for i in traced])
        m["etl.rows_upserted"] = _med([i["rows_upserted"] for i in traced])
        m["etl.files_consolidated_in"] = _med([i["files_in"] for i in traced])
        m["etl.files_consolidated_out"] = _med([i["files_out"] for i in traced])
        written = _med([i["bytes_written"] for i in traced])
        m["sources.bytes_written_mb"] = written / 2**20
        m["sources.write_amp"] = written / max(1, traced[0]["source_bytes"]) if traced else 0.0
    for layer in ("queries", "ops"):
        if layer in present:
            m[f"{layer}.construct_s"] = dur(f"{layer}.", ".construct")
            m[f"{layer}.action_s"] = dur(f"{layer}.", ".action")
    if "queries" in present:
        calls = [s for s in mods if s["name"].startswith("queries.")
                 and s["name"].endswith(".construct")]
        m["queries.jobs_per_op"] = sum(1 for j in in_iter if j.get("layer") == "queries") \
            / max(1, len(calls))
    if "ops" in present:
        m["ops.stage_s"] = dur("ops.stage")
        for a in ARTIFACTS:
            m[f"ops.stage.{a}_s"] = _med([i["stage_s"][a] for i in traced])
        # pr_fixpoint is the last artifact stageAllTimed builds: its jobs
        # are the ones submitted in the closing pr_fixpoint interval
        stages = [s for s in mods if s["name"] == "ops.stage"]
        for s, it in zip(stages, traced):
            pr = it["stage_s"]["pr_fixpoint"] * 1e3
            m["ops.stage.pr_fixpoint_jobs"] += sum(
                1 for j in in_iter if s["end_ms"] - pr <= j["start_ms"] <= s["end_ms"]) / n
    if "streaming" in present:
        m["streaming.stage_s"] = dur("streaming.stage")
        m["streaming.drain_s"] = dur("streaming.", ".construct") + dur("streaming.", ".action")
        b = [x for x in tr["batches"]
             if any(i["start_ms"] <= x["end_ms"] <= i["end_ms"] for i in it_spans)]
        m["streaming.batches"] = len(b) / n
        for k, key in (("batch_p50_ms", "d_triggerExecution"), ("add_batch_ms", "d_addBatch"),
                       ("wal_commit_ms", "d_walCommit"), ("commit_offsets_ms", "d_commitOffsets")):
            m[f"streaming.{k}"] = _med([x[key] for x in b if key in x])
        m["streaming.state_rows"] = _med([x["state_rows"] for x in b])
        m["streaming.state_commit_ms"] = _med([x["state_commit_ms"] for x in b])
    # tracing overhead: traced iterations against the untraced ones of
    # the same JVM, on the iteration-latency metric; a single-iteration
    # run has no untraced iteration and reports the client thread's time
    # inside the tracer instead (a lower bound)
    t_lat = _med([i["wall_s"] for i in traced])
    if untraced:
        u_lat = _med([i["wall_s"] for i in untraced])
        m["trace.overhead_iter_p50_s"] = t_lat - u_lat
        m["trace.overhead_ratio"] = (t_lat - u_lat) / u_lat if u_lat else 0.0
    elif traced:
        own = _med([i["tracer_s"] for i in traced])
        m["trace.overhead_iter_p50_s"] = own
        m["trace.overhead_ratio"] = own / (t_lat - own) if t_lat > own else 0.0
    m["trace.spans_per_iter"] = len(spans) / n
    return m
