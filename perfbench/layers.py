"""Per-layer metrics of a traced run, and the span tree behind them.

Layers are named after the engine's modules:
  session   - graft.GraftSession (session start)
  ops       - graft.SparkEntry* and graft.ops: the build phase, i.e. the
              call into the query function, including eager barriers
  sources   - graft.Tables and graft.sources: reads and writes
  streaming - graft.streaming: AvailableNow micro-batches
  functions - graft.functions: executor-side kernels, seen as task time
  spark     - the scheduler and executors running the action

Every value is a per-pass sum (a peak for barrier bytes), taken as the
median over the traced passes of the run.
"""
import sys

import metrics as M

# (name, unit) in output order.
METRICS = [
    ("session.start_s", "s"),
    ("ops.build_s", "s"), ("ops.build_self_s", "s"), ("ops.build_jobs", "count"),
    ("ops.build_share", "frac"), ("ops.barrier_bytes_peak", "B"),
    ("ops.barrier_rdds", "count"),
    ("sources.read_jobs", "count"), ("sources.input_rows", "count"),
    ("sources.output_rows", "count"), ("sources.output_bytes", "B"),
    ("streaming.batches", "count"), ("streaming.input_rows", "count"),
    ("streaming.trigger_s", "s"),
    ("spark.action_s", "s"), ("spark.action_self_s", "s"),
    ("spark.action_jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.job_wall_ms", "ms"),
    ("spark.sched_delay_s", "s"), ("spark.shuffle_write_bytes", "B"),
    ("spark.shuffle_read_bytes", "B"), ("spark.spill_bytes", "B"),
    ("functions.task_cpu_s", "s"), ("functions.task_run_s", "s"),
    ("functions.core_util", "frac"), ("functions.gc_s", "s"),
    ("trace.overhead", "frac"),
]
PHASES = ("build", "action")
SOURCE_SITES = ("graft.Tables", "graft.sources.")


def is_read_job(job):
    """A job run on behalf of a `graft.Tables` or `graft.sources` read:
    its call site is in one of those modules and it was not started by a
    write (schema inference, file listing, a read-back's own scan)."""
    site, api = job.get("site", ""), job.get("api", "")
    return site.startswith(SOURCE_SITES) and "Writer" not in api


def query_detail(pass_no, sample, counters, jobs, streams):
    """Counters and spans of one query execution, split by phase."""
    tag = "%d/%s" % (pass_no, sample["name"])
    edges = {"build": (sample["start_ms"], sample["build_end_ms"]),
             "action": (sample["build_end_ms"], sample["end_ms"])}
    q = {"name": sample["name"], "pass": pass_no,
         "barrier_bytes": sample.get("barrier_bytes", 0),
         "barrier_rdds": sample.get("barrier_rdds", 0),
         "error": sample["error"], "phases": {}}
    spans = [{"id": tag, "parent": None, "kind": "query",
              "start_ms": sample["start_ms"], "end_ms": sample["end_ms"]}]
    for ph in PHASES:
        lo, hi = edges[ph]
        c = dict(counters.get(tag + "/" + ph, {}))
        mine = [j for j in jobs if j["phase"] == tag + "/" + ph]
        c["read_jobs"] = sum(1 for j in mine if is_read_job(j))
        st = [s for s in streams if lo <= s["trigger_start_ms"] < hi]
        c["stream_batches"] = len(st)
        c["stream_input_rows"] = sum(s["input_rows"] for s in st)
        c["stream_trigger_ms"] = sum(s["trigger_ms"] for s in st)
        ivs = [(j["start_ms"], j.get("end_ms", j["start_ms"])) for j in mine]
        c["wall_s"] = (hi - lo) / 1000.0
        c["self_s"] = M.self_time(lo, hi, ivs) / 1000.0
        q["phases"][ph] = c
        spans.append({"id": tag + "/" + ph, "parent": tag, "kind": ph,
                      "start_ms": lo, "end_ms": hi,
                      "self_ms": M.self_time(lo, hi, ivs)})
        spans += [{"id": "job/%d" % j["job"], "parent": tag + "/" + ph,
                   "kind": "job", "start_ms": j["start_ms"],
                   "end_ms": j.get("end_ms", j["start_ms"]),
                   "self_ms": j.get("end_ms", j["start_ms"]) - j["start_ms"],
                   "site": j["site"]} for j in mine]
    spans[0]["self_ms"] = M.self_time(
        sample["start_ms"], sample["end_ms"], list(edges.values()))
    return q, spans


def pass_metrics(queries, wall_s, cores):
    def tot(ph, k):
        return sum(q["phases"][ph].get(k, 0) for q in queries)

    def both(k):
        return tot("build", k) + tot("action", k)

    build_s, action_s = tot("build", "wall_s"), tot("action", "wall_s")
    run_s = both("task_run_ms") / 1000.0
    return {
        "ops.build_s": build_s,
        "ops.build_self_s": tot("build", "self_s"),
        "ops.build_jobs": tot("build", "jobs"),
        "ops.build_share": build_s / (build_s + action_s),
        "ops.barrier_bytes_peak": max(q["barrier_bytes"] for q in queries),
        "ops.barrier_rdds": sum(q["barrier_rdds"] for q in queries),
        "sources.read_jobs": both("read_jobs"),
        "sources.input_rows": both("input_rows"),
        "sources.output_rows": both("output_rows"),
        "sources.output_bytes": both("output_bytes"),
        "streaming.batches": both("stream_batches"),
        "streaming.input_rows": both("stream_input_rows"),
        "streaming.trigger_s": both("stream_trigger_ms") / 1000.0,
        "spark.action_s": action_s,
        "spark.action_self_s": tot("action", "self_s"),
        "spark.action_jobs": tot("action", "jobs"),
        "spark.stages": both("stages"),
        "spark.tasks": both("tasks"),
        "spark.job_wall_ms": both("job_wall_ms"),
        "spark.sched_delay_s": both("sched_delay_ms") / 1000.0,
        "spark.shuffle_write_bytes": both("shuffle_write_bytes"),
        "spark.shuffle_read_bytes": both("shuffle_read_bytes"),
        "spark.spill_bytes": both("spill_bytes"),
        "functions.task_cpu_s": both("task_cpu_ns") / 1e9,
        "functions.task_run_s": run_s,
        "functions.core_util": run_s / (wall_s * cores),
        "functions.gc_s": both("gc_ms") / 1000.0,
    }


def per_layer(out, traced, untraced):
    """Returns ({metric: (value, unit)}, trace detail) for a traced run."""
    if not traced or not untraced:
        sys.exit("a traced run needs traced and untraced passes")
    tr = out["trace"]
    per_pass, queries, spans = [], [], []
    for p in traced:
        qs = []
        for s in p["samples"]:
            q, sp = query_detail(p["pass"], s, tr["counters"], tr["jobs"],
                                 tr["streams"])
            qs.append(q)
            spans += sp
        queries += qs
        per_pass.append(pass_metrics(qs, p["wall_s"], out["cores"]))
    values = {k: M.median([m[k] for m in per_pass]) for k in per_pass[0]}
    values["session.start_s"] = out["session_s"]
    traced_s = M.median([p["wall_s"] for p in traced])
    untraced_s = M.median([p["wall_s"] for p in untraced])
    values["trace.overhead"] = traced_s / untraced_s - 1.0
    detail = {"tracing_overhead": {"traced_pass_s": traced_s,
                                   "untraced_pass_s": untraced_s,
                                   "overhead": values["trace.overhead"]},
              "per_pass": per_pass, "queries": queries, "spans": spans}
    return {k: (values[k], u) for k, u in METRICS}, detail


def sanity(workload, nonzero, metrics):
    """Fails the run loudly if a counter its workload exercises reads 0."""
    zero = [k for k in nonzero if not metrics[k][0]]
    if zero:
        sys.stderr.write("[perfbench] error: %s: counters read zero where "
                         "the workload does that work: %s\n"
                         % (workload, ", ".join(zero)))
        sys.exit(3)
