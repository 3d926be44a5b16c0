"""Pure parts of the benchmark: the workloads, seeded pass orders,
the latency statistics, span self time, and the metrics computed
from one run's records. No I/O here; run.py drives the JVM."""
import bisect
import math
import random
import statistics

SF01 = "/root/testdata/sf0.1"


class Workload:
    def __init__(self, name, queries, data, pass_s, warmup, why):
        self.name = name
        self.queries = queries
        self.data = data
        # nominal wall time of a measured warm pass on a 4-core host;
        # it turns --seconds into a whole number of measured passes,
        # so two commits always measure the same work
        self.pass_s = pass_s
        # unmeasured passes between the cold pass and the measured
        # ones, while the JIT is still speeding the queries up
        self.warmup = warmup
        self.why = why


WORKLOADS = {w.name: w for w in [
    Workload("ref7", [
        "q21_outliers_join", "q22_matmul", "q23_kmeans", "q24_logreg",
        "q25_dft", "q26_pi", "q27_vadd"], SF01, 2.9, 3,
        "the paper's seven workloads at sf0.1: sub-second queries where "
        "fixed per-query cost (Catalyst, tiny jobs, driver supersteps; "
        "codegen when cold) dominates"),
    Workload("maintain", [
        "q197_index_maintenance", "q212_scd2_history"], SF01, 7.5, 2,
        "the streaming maintainers at sf0.1: FileDrip micro-batches "
        "committing parquet on the DurableIndex log, where per-trigger "
        "coordination dominates"),
]}


# name -> unit; the order is the print order
END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "throughput_qps": "queries/s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "live_heap_peak_mb": "MB",
}

# printed in the summary line only: they can be exactly 0 (failures)
# or do not exist on every workload (triggers)
SUMMARY_ONLY = {
    "failed_frac": "ratio",
    "trigger_p50_s": "s",
    "trigger_tail_s": "s",
}

STREAM_PHASES = {
    # durationMs keys in the order MicroBatchExecution runs them
    "getbatch_s": ["latestOffset", "getBatch"],
    "wal_s": ["walCommit"],
    "plan_s": ["queryPlanning"],
    "addbatch_s": ["addBatch"],
    "commit_s": ["commitOffsets"],
}
PHASE_ORDER = ["latestOffset", "walCommit", "getBatch", "queryPlanning",
               "addBatch", "commitOffsets"]

# the `query` root has no self time: its children tile it
SPAN_LAYER = {
    "build": "query", "materialize": "query", "sweep": "engine",
    "job": "spark.jobs", "trigger": "streaming",
}
SELF_LAYERS = ["query", "engine", "spark.catalyst", "spark.jobs", "streaming"]

PER_LAYER = {
    "engine.session_s": "s",
    "engine.sweep_s": "s",
    "engine.storage_mb": "MB",
    "query.build_s": "s",
    "query.build_jobs": "count",
    "query.materialize_s": "s",
    "query.rows_out": "rows",
    "sources.scan_bytes": "bytes",
    "sources.scan_rows": "rows",
    "spark.catalyst.plans": "count",
    "spark.catalyst.analysis_s": "s",
    "spark.catalyst.optimization_s": "s",
    "spark.catalyst.planning_s": "s",
    "spark.codegen.compiles": "count",
    "spark.codegen.compile_s": "s",
    "spark.codegen.cold_compiles": "count",
    "spark.sched.jobs": "count",
    "spark.sched.stages": "count",
    "spark.sched.tasks": "count",
    "spark.sched.task_overhead_s": "s",
    "spark.sched.driver_gap_s": "s",
    "spark.sched.task_run_s": "s",
    "spark.sched.task_cpu_s": "s",
    "spark.shuffle.write_bytes": "bytes",
    "spark.shuffle.read_bytes": "bytes",
    "spark.shuffle.fetch_wait_s": "s",
    "spark.shuffle.spill_bytes": "bytes",
    "streaming.triggers": "count",
    "streaming.input_rows": "rows",
    "streaming.plan_s": "s",
    "streaming.addbatch_s": "s",
    "streaming.wal_s": "s",
    "streaming.commit_s": "s",
    "streaming.getbatch_s": "s",
    "streaming.write_bytes": "bytes",
    "streaming.write_jobs": "count",
    "streaming.trigger_p50_s": "s",
    "streaming.trigger_tail_s": "s",
    "jvm.gc_s": "s",
    "jvm.jit_s": "s",
    "trace.pass_s": "s",
}
PER_LAYER.update({f"self_s.{layer}": "s" for layer in SELF_LAYERS})


def warm_passes(workload, seconds):
    """Whole measured passes that fit in `seconds` at nominal speed,
    at least one."""
    return max(1, math.floor(seconds / workload.pass_s + 1e-9))


def pass_orders(queries, seed, passes):
    """The cold pass then `passes` warm passes (warm-up and measured),
    all in one order fixed by `seed`, so that every pass runs the same
    sequence of plans."""
    order = sorted(queries)
    random.Random(seed).shuffle(order)
    return [list(order) for _ in range(passes + 1)]


def tail(values):
    """The value at the highest percentile with at least ten samples
    above it: (value, percentile, samples above). With fewer than 11
    samples no percentile qualifies and the maximum is returned with
    0 samples above."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return (float("nan"), float("nan"), 0)
    if n < 11:
        return (xs[-1], 100.0, 0)
    k = n - 11
    return (xs[k], 100.0 * (k + 1) / n, n - 1 - k)


def union_length(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of its
    interval covered by its children. Spans are dicts with id,
    parent (id or None), start and end; returns {id: self}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


class _Timeline:
    """The run's harness spans, to find which one a Spark event falls
    in by its start time."""

    def __init__(self, spans):
        self.spans = sorted(spans, key=lambda s: s["start"])
        self.starts = [s["start"] for s in self.spans]

    def deepest(self, t):
        best = None
        i = bisect.bisect_right(self.starts, t)
        for s in self.spans[max(0, i - 64):i]:
            if s["start"] <= t < s["end"] and (
                    best is None or s["end"] - s["start"] <= best["end"] - best["start"]):
                best = s
        return best


def build_spans(records):
    """Spans of a run, times in epoch microseconds:
    - one `query` root per execution, with `build`, `materialize`,
      `untimed` (the last pass's verification write and full GC) and
      `sweep` children;
    - Spark `job`, `catalyst.<phase>` and `trigger` spans, parented by
      time to the deepest span holding their start (one client
      thread, so this is unambiguous);
    - `streaming.<phase>` children of each trigger, laid end to end in
      execution order, since progress events carry phase durations
      only."""
    spans = []

    def add(name, start, end, parent, **tags):
        s = dict(id=len(spans), name=name, start=start, end=max(start, end),
                 parent=parent, **tags)
        spans.append(s)
        return s

    for r in records:
        if r["t"] != "exec":
            continue
        tags = dict(pass_=r["pass"], q=r["q"])
        root = add("query", r["start_us"], r["end_us"], None, **tags)
        add("build", r["start_us"], r["build_end_us"], root["id"], **tags)
        add("materialize", r["build_end_us"], r["mat_end_us"], root["id"], **tags)
        add("untimed", r["mat_end_us"], r["sweep_start_us"], root["id"], **tags)
        add("sweep", r["sweep_start_us"], r["end_us"], root["id"], **tags)
    timeline = _Timeline(spans)

    def place(name, start, end, extra_parents=None, **fields):
        parent = (extra_parents.deepest(start) if extra_parents else None) \
            or timeline.deepest(start)
        if parent is None:
            return None
        return add(name, start, end, parent["id"], pass_=parent["pass_"],
                   q=parent["q"], **fields)

    triggers = []
    for r in records:
        if r["t"] == "trigger":
            d = r["durations_ms"]
            start = r["start_ms"] * 1000
            t = place("trigger", start, start + d.get("triggerExecution", 0) * 1000,
                      input_rows=r["input_rows"], durations_ms=d)
            if t is None:
                continue
            triggers.append(t)
            cursor = start
            for phase in PHASE_ORDER:
                if phase in d:
                    end = min(cursor + d[phase] * 1000, t["end"])
                    triggers.append(add("streaming." + phase, cursor, end, t["id"],
                                        pass_=t["pass_"], q=t["q"]))
                    cursor = end
    inner = _Timeline(triggers)
    for i, r in enumerate(records):
        if r["t"] == "job":
            place("job", r["start_ms"] * 1000, r["end_ms"] * 1000, inner,
                  **{k: v for k, v in r.items() if k not in ("t", "id")})
        elif r["t"] == "plan":
            for phase, (s, e) in r["phases"].items():
                place("catalyst." + phase, s * 1000, e * 1000, inner, plan=i)
    return spans


def _under(span, by_id, name):
    while span is not None:
        if span["name"] == name:
            return True
        span = by_id.get(span["parent"])
    return False


def compute(records, failed_queries, rows_out, trace, warmup=0):
    """Metrics of one run. `failed_queries` holds the queries whose
    checked output crashed or mismatched the oracle; `rows_out` is
    the total row count of the checked outputs; passes 1..`warmup`
    are warm-up, counted in `failed_frac` only. Returns (metrics,
    summary, spans): metrics maps name -> value for the printed set
    (END_TO_END, or PER_LAYER when `trace`), summary adds the
    SUMMARY_ONLY values and the tail's percentile and sample count."""
    setup = next(r for r in records if r["t"] == "setup")
    execs = [r for r in records if r["t"] == "exec"]
    cold = [r for r in execs if r["pass"] == 0]
    warm = [r for r in execs if r["pass"] > warmup]
    passes = max(1, len({r["pass"] for r in warm}))

    def timed(r):
        return ((r["mat_end_us"] - r["start_us"]) + (r["end_us"] - r["sweep_start_us"])) / 1e6

    def bad(r):
        return bool(r["error"]) or r["q"] in failed_queries

    ok_warm = [timed(r) for r in warm if not bad(r)]
    queries = sorted({r["q"] for r in warm})
    ok_queries = [q for q in queries if not any(bad(r) for r in execs if r["q"] == q)]
    tail_v, tail_pct, tail_beyond = tail(ok_warm)
    spans = build_spans(records)
    by_id = {s["id"]: s for s in spans}
    warm_spans = [s for s in spans if s["pass_"] > warmup and not _under(s, by_id, "untimed")]
    warm_triggers = [s["durations_ms"].get("triggerExecution", 0) / 1000
                     for s in warm_spans if s["name"] == "trigger"]
    trig_tail = tail(warm_triggers)
    summary = {
        "failed_frac": sum(map(bad, execs)) / max(1, len(execs)),
        "trigger_p50_s": statistics.median(warm_triggers) if warm_triggers else float("nan"),
        "trigger_tail_s": trig_tail[0],
        "query_tail_pct": tail_pct,
        "query_tail_beyond": tail_beyond,
        "query_samples": len(ok_warm),
        "trigger_samples": len(warm_triggers),
        "warm_passes": passes,
    }
    if not trace:
        metrics = {
            "setup_s": (setup["session_end_us"] - setup["jvm_start_us"]) / 1e6,
            "cold_pass_s": sum(map(timed, cold)),
            "throughput_qps": len(ok_queries) / max(1e-9, sum(
                statistics.median(timed(r) for r in warm if r["q"] == q) for q in queries)),
            "query_p50_s": statistics.median(ok_warm) if ok_warm else float("nan"),
            "query_tail_s": tail_v,
            "live_heap_peak_mb": max(r["live_heap_bytes"] for r in execs) / 2**20,
        }
        summary.update(metrics)
        return metrics, summary, spans

    def per_pass(x):
        return x / passes

    jobs = [s for s in warm_spans if s["name"] == "job"]
    build_jobs = [s for s in jobs if _under(s, by_id, "build")]
    trig = [s for s in warm_spans if s["name"] == "trigger"]
    trig_jobs = [s for s in jobs if _under(s, by_id, "trigger")]

    def phase_s(prefix):
        return per_pass(sum(s["end"] - s["start"] for s in warm_spans
                            if s["name"] == "catalyst." + prefix) / 1e6)

    def job_sum(key, scale=1.0):
        return per_pass(sum(s[key] for s in jobs) * scale)

    gaps = 0.0
    for r in warm:
        job_iv = [(s["start"], s["end"]) for s in jobs if s["q"] == r["q"]
                  and s["pass_"] == r["pass"]]
        for lo, hi in ((r["start_us"], r["mat_end_us"]), (r["sweep_start_us"], r["end_us"])):
            gaps += (hi - lo) - union_length(job_iv, lo, hi)
    self_us = self_times(spans)
    layer_self = {layer: 0.0 for layer in SELF_LAYERS}
    for s in warm_spans:
        layer = SPAN_LAYER.get(s["name"]) or (
            "spark.catalyst" if s["name"].startswith("catalyst.") else
            "streaming" if s["name"].startswith("streaming.") else None)
        if layer:
            layer_self[layer] += self_us[s["id"]] / 1e6
    metrics = {
        "engine.session_s": (setup["session_end_us"] - setup["session_start_us"]) / 1e6,
        "engine.sweep_s": per_pass(sum(r["end_us"] - r["sweep_start_us"] for r in warm) / 1e6),
        "engine.storage_mb": max(r["storage_bytes"] for r in execs) / 2**20,
        "query.build_s": per_pass(sum(r["build_end_us"] - r["start_us"] for r in warm) / 1e6),
        "query.build_jobs": per_pass(len(build_jobs)),
        "query.materialize_s": per_pass(sum(r["mat_end_us"] - r["build_end_us"] for r in warm) / 1e6),
        "query.rows_out": rows_out,
        "sources.scan_bytes": job_sum("in_bytes"),
        "sources.scan_rows": job_sum("in_rows"),
        "spark.catalyst.plans": per_pass(len({s["plan"] for s in warm_spans if "plan" in s})),
        "spark.catalyst.analysis_s": phase_s("analysis"),
        "spark.catalyst.optimization_s": phase_s("optimization"),
        "spark.catalyst.planning_s": phase_s("planning"),
        "spark.codegen.compiles": per_pass(sum(r["compiles"] for r in warm)),
        "spark.codegen.compile_s": per_pass(sum(r["compiles"] * r["compile_mean_ms"]
                                                for r in warm) / 1e3),
        "spark.codegen.cold_compiles": sum(r["compiles"] for r in cold),
        "spark.sched.jobs": per_pass(len(jobs)),
        "spark.sched.stages": job_sum("stages"),
        "spark.sched.tasks": job_sum("tasks"),
        "spark.sched.task_overhead_s": job_sum("overhead_ms", 1e-3),
        "spark.sched.driver_gap_s": per_pass(gaps / 1e6),
        "spark.sched.task_run_s": job_sum("run_ms", 1e-3),
        "spark.sched.task_cpu_s": job_sum("cpu_ns", 1e-9),
        "spark.shuffle.write_bytes": job_sum("shuffle_write"),
        "spark.shuffle.read_bytes": job_sum("shuffle_read"),
        "spark.shuffle.fetch_wait_s": job_sum("fetch_wait_ms", 1e-3),
        "spark.shuffle.spill_bytes": job_sum("spill"),
        "streaming.triggers": per_pass(len(trig)),
        "streaming.input_rows": per_pass(sum(s["input_rows"] for s in trig)),
        "streaming.write_bytes": per_pass(sum(s["out_bytes"] for s in trig_jobs)),
        "streaming.write_jobs": per_pass(sum(1 for s in trig_jobs if s["out_bytes"] > 0)),
        "streaming.trigger_p50_s": summary["trigger_p50_s"] if warm_triggers else 0.0,
        "streaming.trigger_tail_s": trig_tail[0] if warm_triggers else 0.0,
        "jvm.gc_s": per_pass(sum(r["gc_ms"] for r in warm) / 1e3),
        "jvm.jit_s": sum(r["jit_ms"] for r in cold) / 1e3,
        "trace.pass_s": per_pass(sum(map(timed, warm))),
    }
    for name, keys in STREAM_PHASES.items():
        metrics["streaming." + name] = per_pass(sum(
            s["durations_ms"].get(k, 0) for s in trig for k in keys) / 1e3)
    metrics.update({f"self_s.{layer}": per_pass(v) for layer, v in layer_self.items()})
    return {k: metrics[k] for k in PER_LAYER}, summary, spans
