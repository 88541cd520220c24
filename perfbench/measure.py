"""One benchmark run: inputs, set-up, warm-up, timed loop, checks, metrics."""

from __future__ import annotations

import json
import os
import random
import statistics
import sys
import time

import check
import gen
import probes
from workload import TOP, FIELD, build, closed_loop, comparable

BUILD_STAGES = ("docstore", "dictionary", "postings", "phrase", "bm25")
PIPELINE_STAGES = ("quality", "redact", "exact_dedup", "neardup", "decontam", "bless")
ORACLE_SAMPLE = 2  # checked responses per op type and run
#: warm-up seconds before the timed window: a JVM keeps getting faster
#: for its first ~10 s of requests after the build, and a window that
#: starts there measures how far along that curve the run happens to be
WARMUP_S = 7.0
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _lineage(path: str) -> list[dict]:
    with open(os.path.join(path, "_lineage.jsonl")) as f:
        return [json.loads(line) for line in f if line.strip()]


def _metrics(values: dict, kind: str) -> dict:
    """The metrics BENCHMARK.json lists under ``kind``, with their units."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)[kind]
    return {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
            for m in spec}


def run_workload(spark, args, work: str, spec, inputs: gen.Inputs, t_start: float):
    from veloci_spark.server import VelociApp

    phase = {"spark_start": time.perf_counter() - t_start}
    log_name, warm_name, ops = spec
    log, warm = getattr(inputs, log_name), getattr(inputs, warm_name)
    details: dict = {"workload": args.workload, "seed": args.seed,
                     "ops": {f"op{k + 1}": op for k, op in enumerate(ops)},
                     "inputs": inputs.describe()}
    problems: list[str] = []

    # ---- set-up: a cold build of the whole corpus into a fresh dir ----
    idx_dir = os.path.join(work, "index")
    counter = probes.JobCounter(spark.sparkContext)
    cpu0 = probes.cpu_by_class()
    if args.trace:
        counter.start("build")
    build_s = build(spark, inputs.corpus_dir, idx_dir)
    build_jobs = counter.finish("build") if args.trace else {}
    build_cpu = {k: v - cpu0[k] for k, v in probes.cpu_by_class().items()}
    index_bytes = _tree_bytes(idx_dir)
    app = VelociApp(spark, {"code": idx_dir})
    # warm-up: WARMUP_S of the workload's op types, cycling through
    # queries outside the measured log
    warm_recs = closed_loop(
        app, ops, [(i, warm[i % len(warm)]) for i in range(100_000)], WARMUP_S)
    setup_s = time.perf_counter() - t_start
    phase["build"] = build_s
    phase["warmup"] = warm_recs[-1].t1 - warm_recs[0].t0
    problems += [f"warm-up {r.op} {r.terms}: {r.status} {r.error or r.body}"
                 for r in warm_recs if not r.ok]

    # ---- timed window (untraced) ----
    calib = [probes.host_calib_ms()]
    steal0, cpu0 = probes.host_cpu(), probes.cpu_by_class()
    recs = closed_loop(app, ops, list(enumerate(log)), args.seconds)
    cpu1, steal1 = probes.cpu_by_class(), probes.host_cpu()
    calib.append(probes.host_calib_ms())
    rss = probes.peak_rss_mb()
    n = len(recs)
    failed = sum(not r.ok for r in recs)
    cpu_s = sum(cpu1.values()) - sum(cpu0.values())
    window_s = recs[-1].t1 - recs[0].t0 if recs else 0.0
    lat = {op: [r.ms for r in recs if r.op == op and r.ok] for op in ops}
    details.update({
        "host_steal_pct": probes.steal_pct(steal0, steal1),
        "host_calib_ms": calib,
        "peak_rss_mb_by_class": rss,
        "window_s": window_s,
        "samples": {op: len(v) for op, v in lat.items()},
        "latency_ms": {op: [round(x) for x in v] for op, v in lat.items()},
        "failed_ratio": failed / n if n else 1.0,
        "errors": [f"{r.op} {r.terms}: {r.status} {r.error or r.body}"
                   for r in recs if not r.ok][:3],
    })
    for op in ops:
        if not lat[op]:
            problems.append(f"no successful {op} op in the window")

    e2e = {
        **{f"latency_p50_ms.op{k + 1}": _median(lat[op]) for k, op in enumerate(ops)},
        "throughput_per_s": n / window_s if window_s else 0.0,
        "cpu_ms_per_op": 1000.0 * cpu_s / n if n else 0.0,
        "setup_s": setup_s,
        "peak_rss_mb": sum(rss.values()),
        "index_bytes_per_input_byte": index_bytes / inputs.input_bytes,
    }

    layers = None
    if args.trace:
        t_traced = time.perf_counter()
        layers, details["curate_rows"] = _traced(
            spark, app, ops, recs, lat, problems, work, inputs)
        layers.update({
            **{f"cpu.{k}_ms_per_op": 1000.0 * (cpu1[k] - cpu0[k]) / max(n, 1)
               for k in ("driver", "jvm", "pyworker")},
            "build.jobs": build_jobs["jobs"],
            "build.stages": build_jobs["stages"],
            **{f"build.cpu_{k}_s": build_cpu[k] for k in ("driver", "jvm", "pyworker")},
        })
        stages = {r["stage"]: r for r in _lineage(idx_dir)}
        for s in BUILD_STAGES:
            layers[f"build.{s}_s"] = stages[s]["wall_s"] if s in stages else 0.0
            layers[f"build.{s}_bytes"] = stages[s].get("bytes", 0) if s in stages else 0
            if s not in stages:
                problems.append(f"build stage {s} missing from _lineage.jsonl")
        phase["traced"] = time.perf_counter() - t_traced

    t_check = time.perf_counter()
    # ---- correctness, outside the timed window ----
    oracle = check.Oracle(inputs.corpus_dir)
    try:
        rng = random.Random(args.seed)
        checked = 0
        for op in ops:
            ok = [r for r in recs if r.op == op and r.ok]
            for r in rng.sample(ok, min(ORACLE_SAMPLE, len(ok))):
                why = check.check_response(oracle, op, r.terms, TOP, r.body)
                checked += 1
                if why:
                    problems.append(why)
        why = check.check_docstore(spark, app.ensure_database("code"), oracle)
        if why:
            problems.append(why)
    finally:
        oracle.close()
    details["oracle_checked"] = checked
    phase["checks"] = time.perf_counter() - t_check
    details["phase_s"] = phase
    details["problems"] = problems[:5]

    result = {
        "correct": not problems,
        "attempted": n,
        "failed": failed,
        "metrics": _metrics(layers, "per_layer") if args.trace else _metrics(e2e, "end_to_end"),
    }
    return result, details


def _probe(idx, rec) -> dict:
    """Isolated layer probes for one op: ``decode_blocks_df`` over the
    blocks its terms match, and for snippet/phrase a plain ``bm25_topk``
    over the same terms."""
    import veloci_spark.bm25 as bm25_mod
    import veloci_spark.index as index_mod
    from pyspark.sql import functions as F

    matched = (idx.dictionary(FIELD).where(F.col("term").isin(rec.terms))
               .select("term_id"))
    table = idx.postings_blocks if rec.op == "veloci" else idx.bm25_blocks
    blocks = table(FIELD).join(F.broadcast(matched), "term_id")
    out = {}
    t0 = time.perf_counter()
    out["postings"] = index_mod.decode_blocks_df(blocks).count()
    out["decode_ms"] = 1000 * (time.perf_counter() - t0)
    out["blocks"] = blocks.count()
    if rec.op in ("snippet", "phrase"):
        t0 = time.perf_counter()
        bm25_mod.bm25_topk(idx, FIELD, rec.terms, TOP).collect()
        out["topk_ms"] = 1000 * (time.perf_counter() - t0)
    return out


def _traced(spark, app, ops, untraced, lat, problems, work, inputs) -> tuple[dict, dict]:
    """The same ops again with spans and per-request job groups; then
    the isolated layer probes, one at a time with no request in flight;
    then one curate pass. Returns the per-layer values and the curate
    stage row counts."""
    import veloci_spark.bm25 as bm25_mod
    import veloci_spark.index as index_mod
    import veloci_spark.server as server_mod

    idx = app.ensure_database("code")
    tracer = probes.Tracer()
    counter = probes.JobCounter(spark.sparkContext)

    def before(rec):
        tracer.begin_request(f"r{rec.i}")
        counter.start(f"r{rec.i}")

    tracer.patch(app, "handle", "server.handle")
    tracer.patch(server_mod, "generate_request", "generator.plan")
    tracer.patch(server_mod, "search", "executor.plan")
    tracer.patch(server_mod, "search_result_to_json", "executor.result")
    for fn in ("bm25_auto_topk", "bm25_topk", "bm25_snippet_topk", "bm25_phrase_topk"):
        tracer.patch(bm25_mod, fn, f"bm25.plan.{fn}", collect_name="bm25.exec")
    tracer.patch(index_mod, "decode_blocks_df", "index.decode_blocks_df")
    # the replay must meet the leaf cache as the untraced ops did
    idx.leaf_cache.clear()
    try:
        recs = closed_loop(app, ops, [(r.i, r.terms) for r in untraced], None,
                           before=before)
    finally:
        tracer.unpatch_all()
        del app.handle  # back to the class method
    hits, miss = idx.leaf_cache.hits, idx.leaf_cache.misses
    for r in recs:
        r.extra = counter.finish(f"r{r.i}")
    counter.start("probes")
    for r in recs:
        r.extra.update(_probe(idx, r))
    # the run's work dir is removed at exit; spans outlive it
    spans_dir = os.path.join(os.path.dirname(work), "spans")
    os.makedirs(spans_dir, exist_ok=True)
    tracer.dump(os.path.join(spans_dir, os.path.basename(work) + ".jsonl"))

    # traced and untraced runs of one query must answer the same
    want = {(r.op, tuple(r.terms)): comparable(r.op, r.body) for r in untraced if r.ok}
    for r in recs:
        key = (r.op, tuple(r.terms))
        if not r.ok:
            problems.append(f"traced {r.op} {r.terms} failed: {r.status} {r.error}")
        elif key in want and comparable(r.op, r.body) != want[key]:
            problems.append(f"traced {r.op} {r.terms} answered differently")

    spans = tracer.by_request()
    per: dict[str, list[float]] = {k: [] for k in (
        "overhead", "gen", "ex_plan", "ex_exec", "plan", "exec", "verify",
        "bm25_overhead")}
    handle = {op: [] for op in ops}
    for r in recs:
        ss = spans.get(f"r{r.i}", [])
        h = probes.top_level(ss, "server.handle")
        handle[r.op].append(1000 * h)
        if r.op == "veloci":
            g = probes.top_level(ss, "generator.")
            p = probes.top_level(ss, "executor.plan")
            res = probes.top_level(ss, "executor.result")
            per["gen"].append(1000 * g)
            per["ex_plan"].append(1000 * p)
            per["ex_exec"].append(1000 * (res - p))
            per["overhead"].append(1000 * (h - g - res))
        else:
            p = probes.top_level(ss, "bm25.plan", "bm25.")
            e = probes.top_level(ss, "bm25.exec", "bm25.")
            per["plan"].append(1000 * p)
            per["exec"].append(1000 * e)
            per["overhead"].append(1000 * (h - p - e))
            per["bm25_overhead"].append(1000 * (h - p - e))
            if r.op != "bm25":
                per["verify"].append(1000 * (p + e) - r.extra["topk_ms"])
    n = max(len(recs), 1)
    # the bm25-family ops of this workload: bm25 on code_lookup,
    # snippet and phrase on code_results
    bm25_lat = _median([x for op in ops if op != "veloci" for x in lat[op]])
    accounted = (_median(per["plan"]) + _median(per["exec"])
                 + _median(per["bm25_overhead"]))
    overhead = [(_median(handle[op]) - _median(lat[op])) / _median(lat[op])
                for op in ops if lat[op] and handle[op]]
    layers = {
        "server.overhead_ms": _median(per["overhead"]),
        "generator.plan_ms": _median(per["gen"]),
        "executor.plan_ms": _median(per["ex_plan"]),
        "executor.exec_ms": _median(per["ex_exec"]),
        "bm25.plan_ms": _median(per["plan"]),
        "bm25.exec_ms": _median(per["exec"]),
        "bm25.verify_extra_ms": _median(per["verify"]),
        "index.decode_ms": _median([r.extra["decode_ms"] for r in recs]),
        "index.postings_decoded": _median([r.extra["postings"] for r in recs]),
        "index.blocks_read": _median([r.extra["blocks"] for r in recs]),
        "index.decode_calls_per_op": sum(
            probes.count(spans.get(f"r{r.i}", []), "index.decode") for r in recs) / n,
        "index.leaf_cache_hit_ratio": hits / (hits + miss) if hits + miss else 0.0,
        "spark.jobs_per_op": sum(r.extra["jobs"] for r in recs) / n,
        "spark.stages_per_op": sum(r.extra["stages"] for r in recs) / n,
        "spark.tasks_per_op": sum(r.extra["tasks"] for r in recs) / n,
        "spark.failed_tasks": sum(r.extra["failed_tasks"] for r in recs),
        "trace.overhead_pct": 100 * sum(overhead) / len(overhead) if overhead else 0.0,
        "trace.bm25_accounted_ratio": accounted / bm25_lat if bm25_lat else 0.0,
    }
    counter.start("curate")
    curate, counts = _curate(spark, work, inputs, problems)
    layers.update(curate)
    return layers, counts


def _curate(spark, work, inputs, problems) -> tuple[dict, dict]:
    """One cold ``run_pipeline`` pass over the generated documents with
    the eval set; stage walls and rows from its lineage and report."""
    sys.path.insert(0, os.path.join(ROOT, "jobs"))
    from pipeline_job import run_pipeline

    out = os.path.join(work, "curate")
    report = run_pipeline(
        spark,
        spark.read.parquet(os.path.join(inputs.corpus_dir, "documents.parquet")),
        out,
        text_col="text",
        eval_df=spark.read.parquet(inputs.eval_path),
        resume=False,
    )
    stages = {r["stage"]: r for r in _lineage(out)}
    counts = dict(report["stages"])
    counts["decontam_removed"] = stages.get("decontam", {}).get("rows", 0)
    why = check.check_curate(counts, counts["decontam_removed"],
                             inputs.stats["rows_by_kind"])
    if why:
        problems.append(f"curate: {why}")
    out_vals = {f"pipeline.{s}_s": stages.get(s, {}).get("wall_s", 0.0)
                for s in PIPELINE_STAGES}
    # the approximate detectors, whose recall an optimisation could
    # change; the exact stage counts are checked and go to the details
    out_vals.update({f"pipeline.{r}_rows": counts[r]
                     for r in ("neardup_removed", "decontam_removed")})
    return out_vals, counts
