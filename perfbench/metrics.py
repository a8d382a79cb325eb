"""Turns the raw samples `perfbench.Main` writes into the benchmark's metrics.

Pure functions only, so `test_metrics.py` can check the arithmetic without
a JVM: the failed-operation rule, span self time and the attribution of
Spark jobs to spans.
"""

FAMILIES = ["CoreQueries", "EventQueries", "TextQueries", "DedupQueries",
            "AnnQueries", "MultimodalQueries", "ExtendedQueries",
            "PipelineQueries", "SourceQueries", "GraphQueries"]
MODELS = ["rf", "lr", "gbt", "mlp"]
FIXTURE_GROUPS = ["graph_copurchase_edges", "streaming_drive_sources"]
ETL_STEPS = ["loadResults", "loadEvents", "aggregateEvents", "gameData",
             "withRollingFeatures", "matchups", "temporalSplit"]
ETL_SHUFFLES = ["aggregateEvents", "gameData", "withRollingFeatures", "matchups"]

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("op_max_s", "s"),
              ("retained_mb", "MB")]


def per_layer_names():
    """(name, unit) of every per-layer metric, in BENCHMARK.json order."""
    out = []
    for step in ETL_STEPS:
        out.append((f"Pipeline.{step}.s", "s"))
        if step in ETL_SHUFFLES:
            out.append((f"Pipeline.{step}.shuffle_bytes", "bytes"))
    out += [("Pipeline.withRollingFeatures.spill_bytes", "bytes"),
            ("Pipeline.loadEvents.rows", "count"),
            ("Pipeline.temporalSplit.jobs", "count"),
            ("Experiment.etl_s", "s")]
    for m in MODELS:
        out += [(f"Models.{m}.fit_s", "s"), (f"Models.{m}.jobs", "count")]
    out += [("Evaluation.evaluate.s", "s"), ("Evaluation.evaluate.jobs", "count"),
            ("Evaluation.baselines.s", "s"),
            ("setup.corpus_s", "s"), ("setup.session_s", "s")]
    out += [(f"Fixtures.{g}.s", "s") for g in FIXTURE_GROUPS]
    out.append(("Fixtures.scratch_bytes", "bytes"))
    for f in FAMILIES:
        out += [(f"{f}.plan_s", "s"), (f"{f}.exec_s", "s"), (f"{f}.jobs", "count"),
                (f"{f}.shuffle_bytes", "bytes"), (f"{f}.spill_bytes", "bytes")]
    out += [("gates.op_p50_s", "s"), ("gates.plan_share", "ratio"),
            ("spark.failed_tasks", "count"),
            ("spark.peak_exec_mb", "MB"), ("trace.overhead_share", "ratio")]
    return out


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def op_samples(passes):
    """Latency samples of the operations that succeeded. A failed
    operation carries no time (`s` is None): it counts as failed and never
    as a fast sample."""
    return [op["s"] for p in passes for op in p["ops"] if op["s"] is not None]


def slowest_op(passes):
    """Median latency of the operation whose median is largest."""
    by = {}
    for p in passes:
        for op in p["ops"]:
            if op["s"] is not None:
                by.setdefault(op["name"], []).append(op["s"])
    return max(median(v) for v in by.values())


def self_times(spans):
    """span id -> its duration minus the part of it its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        ivs = sorted((max(lo, c["start_ms"]), min(hi, c["end_ms"]))
                     for c in kids.get(s["id"], []))
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def attribute_jobs(spans, jobs):
    """job id -> span id. A job carrying a span's job group belongs to that
    span; one without (a streaming micro-batch runs on its own thread) goes
    to the innermost span open when it was submitted. Gates and layers run
    one at a time, so the time window is unambiguous."""
    by_id = {s["id"]: s for s in spans}
    out = {}
    for j in jobs:
        g = j["group"]
        sid = None
        if g.startswith("perfbench-") and int(g[len("perfbench-"):]) in by_id:
            sid = int(g[len("perfbench-"):])
        else:
            open_ = [s for s in spans
                     if s["start_ms"] <= j["submit_ms"] <= s["end_ms"]]
            if open_:
                sid = max(open_, key=lambda s: (s["start_ms"], s["id"]))["id"]
        if sid is not None:
            out[j["job"]] = sid
    return out


def end_to_end(raw):
    """The untraced metrics, as {name: value}."""
    passes = raw["passes"]
    return {
        "setup_s": median(raw["setup_reps_s"]),
        "pass_s": median([p["wall_s"] for p in passes]),
        "op_max_s": slowest_op(passes),
        "retained_mb": raw["retained_bytes"] / 1e6,
    }


def per_layer(raw, workload):
    """The traced metrics, as {name: value}; layers the workload does not
    touch read 0. Span-derived values are per traced pass; the latency
    medians come from the run's untraced passes."""
    spans, jobs = raw["spans"], raw["jobs"]
    n = max(1, len(raw["traced_passes_s"]))
    selft = self_times(spans)
    owner = attribute_jobs(spans, jobs)
    name_of = {s["id"]: s["name"] for s in spans}
    per_span_jobs = {}
    for j in jobs:
        if j["job"] in owner:
            per_span_jobs.setdefault(owner[j["job"]], []).append(j)

    def span_sum(name, field):
        total = 0.0
        for sid, nm in name_of.items():
            if nm != name:
                continue
            if field == "s":
                total += selft[sid] / 1000.0
            elif field == "jobs":
                total += len(per_span_jobs.get(sid, []))
            else:
                total += sum(j[field] for j in per_span_jobs.get(sid, []))
        return total

    m = {name: 0.0 for name, _ in per_layer_names()}
    for step in ETL_STEPS:
        m[f"Pipeline.{step}.s"] = span_sum(f"Pipeline.{step}", "s") / n
        if step in ETL_SHUFFLES:
            m[f"Pipeline.{step}.shuffle_bytes"] = \
                span_sum(f"Pipeline.{step}", "shuffle_bytes") / n
    m["Pipeline.withRollingFeatures.spill_bytes"] = \
        span_sum("Pipeline.withRollingFeatures", "spill_bytes") / n
    m["Pipeline.temporalSplit.jobs"] = span_sum("Pipeline.temporalSplit", "jobs") / n
    for mk in MODELS:
        m[f"Models.{mk}.fit_s"] = span_sum(f"Models.{mk}.fit", "s") / n
        m[f"Models.{mk}.jobs"] = span_sum(f"Models.{mk}.fit", "jobs") / n
    m["Evaluation.evaluate.s"] = span_sum("Evaluation.evaluate", "s") / n
    m["Evaluation.evaluate.jobs"] = span_sum("Evaluation.evaluate", "jobs") / n
    m["Evaluation.baselines.s"] = span_sum("Evaluation.baselines", "s") / n
    if workload == "hockey-fast":
        m["Experiment.etl_s"] = median([op["s"] for p in raw["passes"]
                                        for op in p["ops"] if op["name"] == "etl"])
    else:
        m["gates.op_p50_s"] = median(op_samples(raw["passes"]))
    plan = execs = 0.0
    for f in FAMILIES:
        p, e = span_sum(f"{f}.plan", "s") / n, span_sum(f"{f}.exec", "s") / n
        m[f"{f}.plan_s"], m[f"{f}.exec_s"] = p, e
        plan, execs = plan + p, execs + e
        for field in ["jobs", "shuffle_bytes", "spill_bytes"]:
            m[f"{f}.{field}"] = (span_sum(f"{f}.plan", field)
                                 + span_sum(f"{f}.exec", field)) / n
    if plan + execs > 0:
        m["gates.plan_share"] = plan / (plan + execs)
    for key, value in raw["counters"].items():
        if key in m:
            m[key] = value
    m["spark.failed_tasks"] = float(sum(j["failed_tasks"] for j in jobs))
    m["spark.peak_exec_mb"] = max([j["peak_exec_bytes"] for j in jobs] or [0]) / 1e6
    traced, untraced = raw["traced_passes_s"], [p["wall_s"] for p in raw["passes"]]
    if traced and untraced:
        m["trace.overhead_share"] = median(traced) / median(untraced) - 1
    return m
