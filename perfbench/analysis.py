"""Pure functions behind the benchmark: query order, percentiles, span
self time, fingerprint checks and the metrics derived from a harness
run's records. Nothing here starts a process or touches a file."""

import math
import random
import re

PHASES = ("build", "plan", "execute")
MB = 1024.0 * 1024.0
HARNESS_GROUP = re.compile(r"^(cold|warm):\d+/(build|plan|execute)$")


def permutation(names, seed):
    """The workload's query order for a seed: a seeded shuffle of the
    sorted names, so the same seed always gives the same order."""
    order = sorted(names)
    random.Random(seed).shuffle(order)
    return order


def tail_percentile(n, candidates=(99.9, 99, 95, 90, 80, 75, 70, 50), beyond=10):
    """The highest candidate percentile that leaves at least `beyond` of
    `n` samples above its nearest-rank position, or None."""
    for p in sorted(candidates, reverse=True):
        if n - math.ceil(p / 100.0 * n) >= beyond:
            return p
    return None


def percentile(values, p):
    """Nearest-rank percentile."""
    xs = sorted(values)
    return xs[max(0, math.ceil(p / 100.0 * len(xs)) - 1)]


def geomean(values):
    """Geometric mean: every value weighs the same in log scale, so a
    short query moves it as much as a long one."""
    xs = list(values)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def union_length(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """{span id: duration minus the part of it its children cover}."""
    kids = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def attach_jobs(spans, jobs):
    """Job spans, each parented to the phase span its job group names
    ("<qid>/<phase>"), or else to the innermost span whose interval
    holds the job's start (jobs of threads the harness does not own)."""
    by_group = {"%s/%s" % (s["qid"], s["kind"]): s["id"]
                for s in spans if s["kind"] in PHASES}
    rank = {"workload": 0, "pass": 1, "query": 2,
            "build": 3, "plan": 3, "execute": 3}
    nested = sorted((s for s in spans if s["kind"] in rank),
                    key=lambda s: -rank[s["kind"]])
    next_id = max([s["id"] for s in spans] + [0])
    out = []
    for j in jobs:
        parent = by_group.get(j["group"])
        if parent is None:
            parent = next((s["id"] for s in nested
                           if s["start"] <= j["start"] <= s["end"]), None)
        next_id += 1
        out.append({"id": next_id, "parent": parent, "kind": "job",
                    "name": "job %d" % j["id"], "qid": None,
                    "start": j["start"], "end": j["end"],
                    "attrs": {"job": j["id"], "group": j["group"],
                              "callsite": j["callsite"], "ok": j["ok"]}})
    return out


def check_outputs(queries, expected):
    """Failures among query records: throws, and fingerprints that differ
    from the expected ones (row count only for `rows_only` queries).
    Returns a list of (pass, name, reason)."""
    want = expected["queries"]
    rows_only = set(expected.get("rows_only", []))
    bad = []
    for q in queries:
        a = q["attrs"]
        name = a["name"]
        if "error" in a:
            bad.append((a["pass"], name, a["error"]))
        elif name not in want:
            bad.append((a["pass"], name, "no expected fingerprint"))
        elif a["rows"] != want[name]["rows"]:
            bad.append((a["pass"], name, "rows %d != %d"
                        % (a["rows"], want[name]["rows"])))
        elif name not in rows_only and a["hash"] != want[name]["hash"]:
            bad.append((a["pass"], name, "hash mismatch"))
    return bad


def split_records(records):
    kinds = {}
    for r in records:
        kinds.setdefault(r["k"], []).append(r)
    return kinds


def pass_span(spans, name):
    return next(s for s in spans if s["kind"] == "pass" and s["name"] == name)


def latencies(spans, pass_name):
    """Build+plan+execute seconds of every query in one pass."""
    return [s["end"] - s["start"] for s in spans
            if s["kind"] == "query" and s["attrs"]["pass"] == pass_name]


def measured_s(records):
    """Seconds from the start of the first pass to the end of the last."""
    w = next(s for s in split_records(records)["span"]
             if s["kind"] == "workload")
    return w["end"] - w["start"]


def end_to_end(records):
    """End-to-end metrics of one untraced run."""
    kinds = split_records(records)
    spans = kinds["span"]
    cold = pass_span(spans, "cold")
    warm = pass_span(spans, "warm")
    end = kinds["end"][0]
    return {
        "setup_s": kinds["setup"][0]["setup_s"],
        "cold_wall_s": cold["end"] - cold["start"],
        "warm_wall_s": warm["end"] - warm["start"],
        "warm_query_gmean_s": geomean(latencies(spans, "warm")),
        "cpu_s": cold["attrs"]["cpu_s"],
        "retained_heap_mb": end["retained_heap_b"] / MB,
    }


def per_layer(records):
    """Per-layer metrics of a traced run's cold pass, and the run's
    resolved spans (harness spans plus one span per Spark job)."""
    kinds = split_records(records)
    spans = kinds["span"]
    jobs = kinds.get("job", [])
    stages = kinds.get("stage", [])
    end = kinds["end"][0]
    cores = end["cores"]
    eager = set(end["eager"])
    spans = spans + attach_jobs(spans, jobs)
    by_id = {s["id"]: s for s in spans}
    cold = pass_span(spans, "cold")
    cold_wall = cold["end"] - cold["start"]
    own = self_times(spans)

    def in_cold(s):
        while s is not None:
            if s["id"] == cold["id"]:
                return True
            s = by_id.get(s["parent"])
        return False

    cold_spans = [s for s in spans if in_cold(s)]
    queries = [s for s in cold_spans if s["kind"] == "query"]
    q_of = {s["id"]: s for s in queries}
    phase = {k: [s for s in cold_spans if s["kind"] == k] for k in PHASES}
    cold_jobs = [s for s in cold_spans if s["kind"] == "job"]
    dur = lambda ss: sum(s["end"] - s["start"] for s in ss)
    qsum = lambda key: sum(s["attrs"].get(key, 0) for s in queries)

    # stages belong to the cold pass by job group, else by start time
    groups = {"%s/%s" % (s["qid"], s["kind"]) for k in PHASES
              for s in phase[k]}
    cold_stages = [st for st in stages if st["group"] in groups or (
        not HARNESS_GROUP.match(st["group"])
        and cold["start"] <= st["start"] <= cold["end"])]
    ssum = lambda key: sum(st[key] for st in cold_stages)
    lat = latencies(spans, "cold")

    tables = [j for j in cold_jobs if "Tables.scala" in j["attrs"]["callsite"]]
    build_jobs = [j for j in cold_jobs if by_id[j["parent"]]["kind"] == "build"]
    eager_builds = [s for s in phase["build"]
                    if q_of[s["parent"]]["name"] in eager]
    streamed = [s for s in queries if s["attrs"].get("stream_batches", 0)]
    touches = qsum("pool_touches")
    task_run = ssum("run_s")
    phase_sum = sum(dur(phase[k]) for k in PHASES)
    return {
        "query.cold_p50_s": percentile(lat, 50),
        "query.cold_p80_s": percentile(lat, 80),
        "jvm.peak_rss_mb": end["vmhwm_kb"] / 1024.0,
        "tables.jobs": len(tables),
        "tables.job_s": dur(tables),
        "entry.build_s": dur(phase["build"]),
        "entry.build_self_s": sum(own[s["id"]] for s in phase["build"]),
        "entry.build_jobs": len(build_jobs),
        "entry.eager_build_s": dur(eager_builds),
        "catalyst.plan_s": dur(phase["plan"]),
        "catalyst.analysis_s": qsum("analysis_s"),
        "catalyst.optimization_s": qsum("optimization_s"),
        "catalyst.planning_s": qsum("planning_s"),
        "catalyst.plan_nodes": qsum("plan_nodes"),
        "exec.execute_s": dur(phase["execute"]),
        "exec.execute_self_s": sum(own[s["id"]] for s in phase["execute"]),
        "exec.jobs": len(cold_jobs),
        "exec.job_s": dur(cold_jobs),
        "exec.stages": len(cold_stages),
        "exec.tasks": ssum("tasks"),
        "exec.task_run_s": task_run,
        "exec.task_cpu_s": ssum("cpu_s"),
        "exec.gc_s": ssum("gc_s"),
        "exec.scheduler_delay_s": ssum("sched_delay_s"),
        "exec.task_failures": ssum("failed_tasks"),
        "exec.core_busy_frac": task_run / (cold_wall * cores),
        "shuffle.write_mb": ssum("shuffle_write_b") / MB,
        "shuffle.read_mb": ssum("shuffle_read_b") / MB,
        "shuffle.fetch_wait_s": ssum("fetch_wait_s"),
        "shuffle.spill_mb": ssum("spill_b") / MB,
        "cachepool.builds": qsum("pool_builds"),
        "cachepool.build_s": qsum("pool_build_s"),
        "cachepool.touches": touches,
        "cachepool.hit_ratio":
            (touches - qsum("pool_builds")) / touches if touches else 0.0,
        "fixtures.builds": qsum("fixture_builds"),
        "fixtures.build_s": qsum("fixture_build_s"),
        "sinks.written_mb": ssum("output_b") / MB,
        "sinks.records_written": ssum("output_rec"),
        "sources.read_mb": ssum("input_b") / MB,
        "sources.records_read": ssum("input_rec"),
        "streaming.batches": qsum("stream_batches"),
        "streaming.trigger_s": qsum("stream_trigger_s"),
        "streaming.addbatch_s": qsum("stream_addbatch_s"),
        "streaming.fixed_s": sum(s["end"] - s["start"]
                                 - s["attrs"]["stream_trigger_s"]
                                 for s in streamed),
        "harness.self_s": own[cold["id"]]
            + sum(own[s["id"]] for s in queries),
        "trace.phase_cover_frac": phase_sum / cold_wall,
        "trace.cold_wall_s": cold_wall,
        "trace.overhead_frac":
            (qsum("trace_s") + end["listener_s"]) / cold_wall,
    }, spans
