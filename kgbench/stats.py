"""Turns the raw measurements of one benchmark run into metrics.

Pure functions only, so the arithmetic is testable without a JVM:
percentiles, span self time, attribution of Spark jobs to pipeline stages,
and the metric tables that `run.py` prints.
"""
import math
import statistics

STAGES = ["literals", "mentions", "objects", "canon", "closure", "items", "names",
          "postings", "postings3g", "postings_pair", "links", "page_links", "triples"]

# (name, unit, better)
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("op_ms_p50", "ms", "lower"),
    ("units_per_s", "1/s", "higher"),
]

STAGE_FIELDS = [("wall_s", "s", "lower"), ("task_s", "s", "lower"), ("wait_s", "s", "lower"),
                ("gc_s", "s", "lower"), ("shuffle_mb", "MB", "lower"),
                ("rows_out", "count", "lower"), ("skew", "ratio", "lower")]

PER_LAYER = (
    [(f"pipeline.{s}.{f}", u, b) for s in STAGES for f, u, b in STAGE_FIELDS] + [
        ("pipeline.commit.wall_s", "s", "lower"),
        ("pipeline.commit.task_s", "s", "lower"),
        ("pipeline.unattributed.task_s", "s", "lower"),
        ("pipeline.unattributed.share", "ratio", "lower"),
        ("pipeline.stale_jobs", "count", "lower"),
        ("pipeline.jobs", "count", "lower"),
        ("linker.funnel.mentions_distinct", "count", "lower"),
        ("linker.funnel.exact_matches", "count", "lower"),
        ("linker.funnel.fuzzy_expansions", "count", "lower"),
        ("linker.funnel.candidates", "count", "lower"),
        ("linker.funnel.links", "count", "higher"),
        ("linker.funnel.candidates_per_mention", "ratio", "lower"),
        ("linker.funnel.links_per_mention", "ratio", "higher"),
        ("lookup.index_build_s", "s", "lower"),
        ("lookup.build_ms", "ms", "lower"),
        ("lookup.plan_ms", "ms", "lower"),
        ("lookup.exec_ms", "ms", "lower"),
        ("lookup.jobs", "count", "lower"),
        ("lookup.task_s", "s", "lower"),
        ("lookup.hit_rate", "ratio", "higher"),
        ("retrieval.fetch_ms", "ms", "lower"),
        ("retrieval.jobs", "count", "lower"),
        ("jvm.jit_s", "s", "lower"),
        ("jvm.gc_s", "s", "lower"),
        ("jvm.peak_rss_mb", "MB", "lower"),
        ("trace.overhead_ms", "ms", "lower"),
        ("quality.link_precision", "ratio", "higher"),
        ("quality.link_recall", "ratio", "higher"),
    ])


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_percentile(samples, min_beyond=10, ladder=(99.9, 99, 95, 90, 75, 50)):
    """The highest percentile of `ladder` (nearest rank) with at least
    `min_beyond` samples strictly above it, as (percentile, value,
    samples_beyond); None when even the lowest has too few."""
    s = sorted(samples)
    for p in ladder:
        if not s:
            break
        value = s[max(1, math.ceil(p / 100.0 * len(s))) - 1]
        beyond = sum(1 for x in s if x > value)
        if beyond >= min_beyond:
            return p, value, beyond
    return None


def covered(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans):
    """Self time of each span (by id): its duration minus the part of it
    that its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"])
            - covered(children.get(s["id"], []), s["start_ms"], s["end_ms"])
            for s in spans}


def _task_fields(tasks):
    return {
        "task_s": sum(t[2] for t in tasks) / 1e3,
        "wait_s": sum(max(0, t[0] - t[1]) for t in tasks) / 1e3,
        "gc_s": sum(t[3] for t in tasks) / 1e3,
        "shuffle_mb": sum(t[4] for t in tasks) / 1e6,
    }


def _wall_s(jobs):
    return (max(j["end"] for j in jobs) - min(j["start"] for j in jobs)) / 1e3 if jobs else 0.0


def attribute(trace):
    """Group the jobs of one traced pipeline window by the job description
    the pipeline sets: `graft-stage:<name>` and `graft-commit:<name>`.

    A stage's window runs from its first job to the first job of its
    commit. Pooled Future threads keep the last description they set, so
    a job tagged with a stage that starts after that stage's commit began
    is stale: it counts as unattributed, as do jobs without a pipeline tag
    and jobs of a stage not in STAGES.
    Returns (metrics, stale job count, accounting closes)."""
    jobs = trace["jobs"]
    commit_start = {}
    for j in jobs:
        if j["desc"].startswith("graft-commit:"):
            name = j["desc"][len("graft-commit:"):]
            commit_start[name] = min(commit_start.get(name, math.inf), j["start"])
    by_stage, commits, other, stale = {}, [], [], 0
    for j in jobs:
        d = j["desc"]
        if d.startswith("graft-stage:"):
            name = d[len("graft-stage:"):]
            if j["start"] > commit_start.get(name, math.inf):
                stale += 1
                other.append(j)
            elif name in STAGES:
                by_stage.setdefault(name, []).append(j)
            else:
                other.append(j)
        elif d.startswith("graft-commit:"):
            commits.append(j)
        else:
            other.append(j)

    m = {}
    attributed_ms = 0
    for stage in STAGES:
        js = by_stage.get(stage, [])
        tasks = [t for j in js for t in j["tasks"]]
        attributed_ms += sum(t[2] for t in tasks)
        f = _task_fields(tasks)
        durs = [t[2] for t in tasks]
        f["wall_s"] = _wall_s(js)
        f["skew"] = max(durs) / max(1.0, median(durs)) if durs else 0.0
        f["rows_out"] = trace.get("rows_out", {}).get(stage, 0)
        for k, v in f.items():
            m[f"pipeline.{stage}.{k}"] = v
    commit_tasks = [t for j in commits for t in j["tasks"]]
    other_tasks = [t for j in other for t in j["tasks"]]
    m["pipeline.commit.wall_s"] = _wall_s(commits)
    m["pipeline.commit.task_s"] = sum(t[2] for t in commit_tasks) / 1e3
    m["pipeline.unattributed.task_s"] = sum(t[2] for t in other_tasks) / 1e3
    grouped_ms = (attributed_ms + sum(t[2] for t in commit_tasks)
                  + sum(t[2] for t in other_tasks))
    total_ms = trace["window_task_ms"]
    m["pipeline.unattributed.share"] = (m["pipeline.unattributed.task_s"] * 1e3 / total_ms
                                        if total_ms else 0.0)
    m["pipeline.stale_jobs"] = stale
    m["pipeline.jobs"] = len(jobs)
    return m, stale, grouped_ms == total_ms


def jobs_within(jobs, lo, hi):
    return [j for j in jobs if lo <= j["start"] <= hi]


def request_layers(traces, spans):
    """Per-request lookup and retrieval metrics (medians over the traced
    requests): span durations, and the jobs that started inside them."""
    per = {k: [] for k in ("build", "plan", "exec", "fetch", "ljobs", "ltask", "rjobs")}
    for tr in traces:
        inside = [s for s in spans
                  if s["start_ms"] >= tr["start_ms"] and s["end_ms"] <= tr["end_ms"]]
        by = {s["name"]: s for s in inside}
        if "lookup.build" not in by:
            continue
        for key, name in (("build", "lookup.build"), ("plan", "lookup.plan"),
                          ("exec", "lookup.exec"), ("fetch", "retrieval.fetch")):
            per[key].append(by[name]["end_ms"] - by[name]["start_ms"])
        lo, hi = by["lookup.build"]["start_ms"], by["lookup.exec"]["end_ms"]
        ljobs = jobs_within(tr["jobs"], lo, hi)
        per["ljobs"].append(len(ljobs))
        per["ltask"].append(sum(t[2] for j in ljobs for t in j["tasks"]) / 1e3)
        f = by["retrieval.fetch"]
        per["rjobs"].append(len(jobs_within(tr["jobs"], f["start_ms"], f["end_ms"])))
    return {
        "lookup.build_ms": median(per["build"]),
        "lookup.plan_ms": median(per["plan"]),
        "lookup.exec_ms": median(per["exec"]),
        "lookup.jobs": median(per["ljobs"]),
        "lookup.task_s": median(per["ltask"]),
        "retrieval.fetch_ms": median(per["fetch"]),
        "retrieval.jobs": median(per["rjobs"]),
    }


def funnel_metrics(f):
    n = f["mentions_distinct"]
    m = {f"linker.funnel.{k}": v for k, v in f.items()}
    m["linker.funnel.candidates_per_mention"] = f["candidates"] / n if n else 0.0
    m["linker.funnel.links_per_mention"] = f["links"] / n if n else 0.0
    return m


def end_to_end(raw):
    ops = raw["ops"]
    setup = median(raw["setup_s"]) + raw.get("index_build_s", 0.0)
    return {
        "setup_s": setup,
        "op_ms_p50": median([o["ms"] for o in ops]),
        "units_per_s": sum(o["units"] for o in ops) / (sum(o["ms"] for o in ops) / 1e3),
    }


def per_layer(raw):
    """Every per-layer metric of a traced run; a layer the workload does
    not exercise reports 0. Returns (metrics, problems)."""
    m = {name: 0.0 for name, _, _ in PER_LAYER}
    problems = []
    traces = raw.get("op_trace", [])
    pipeline_traces = [t for t in traces if "rows_out" in t and t["rows_out"]]
    if pipeline_traces:
        t = pipeline_traces[-1]
        pm, _, closes = attribute(t)
        m.update(pm)
        if not closes:
            problems.append("stage task time does not add up to the listener total")
        if "funnel" in t:
            m.update(funnel_metrics(t["funnel"]))
    spans = raw.get("spans", [])
    request_traces = [t for t in traces if not t.get("rows_out")]
    if request_traces:
        m.update(request_layers(request_traces, spans))
    if raw.get("lookup_gold_cells"):
        m["lookup.hit_rate"] = raw["lookup_hits"] / raw["lookup_gold_cells"]
    m["lookup.index_build_s"] = raw.get("index_build_s", 0.0)
    m["jvm.jit_s"] = raw["jit_ms"] / 1e3
    m["jvm.gc_s"] = raw["gc_ms"] / 1e3
    m["jvm.peak_rss_mb"] = raw["peak_rss_kb"] / 1024.0
    # listener callback time per operation: the work tracing adds
    m["trace.overhead_ms"] = raw["listener_ms"] / len(raw["ops"])
    for k, v in raw.get("quality", {}).items():
        m[f"quality.{k}"] = v
    return m, problems
