#!/usr/bin/env python3
"""Benchmark of the graft engine. One run = one fresh JVM on
local[nproc] with a fixed heap: set up the session, run the
workload's cold pass, its unmeasured warm-up passes and its measured
warm passes in a closed loop (one client,
each query starts after the previous one and its sweep finished),
check every query's output against its DuckDB oracle, and print the
metrics as one JSON object on the last line of stdout.

Usage, from the repository root:
  python3 bench/run.py --workload ref7 --seed 1 --seconds 12 --trace 0

--trace 1 registers the job, task and Catalyst listeners as well and
prints the per-layer metrics instead of the end-to-end ones. Build
output, inputs, oracle caches and per-run records (records.jsonl,
spans.json, result.json) live under .bench_build/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import benchlib  # noqa: E402
import build  # noqa: E402
import oracle  # noqa: E402

HEAP = "3g"
# Spark's generated-class cache. Its default of 100 entries is split
# into 4 LRU segments of 25, and one ref7 pass generates exactly 100
# classes. Each key includes the identity hash of a class loader, so
# which segment a class lands in, and how many classes a warm pass
# evicts and recompiles (10 to 80), changes from one JVM to the next;
# the warm times moved with it by over 40% between runs of the same
# code. With room for every class, a warm pass recompiles only what
# changes between executions (the streaming plans of maintain). The
# engine still decides: a value it sets in its session builder
# overrides this system property.
CODEGEN_CACHE = 1000
JVM_TIMEOUT_S = 160
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def calibrate():
    """Seconds for a fixed CPU-bound loop: the host-drift index. It is
    recorded, never used to rescale."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    return time.perf_counter() - t0


def steal_s():
    """CPU time the hypervisor gave to other guests, summed over all
    CPUs since boot (the `steal` column of /proc/stat), or None where
    the kernel does not report it. Its growth over a run is recorded
    with the calibration time as a host-drift index."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def commit(root):
    """HEAD of the checkout, if it is a git work tree; git is kept
    from searching the directories above it."""
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(root))
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True, env=env,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def java_cmd(classpath, tmp, *args):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return ["java", *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Dspark.sql.codegen.cache.maxEntries={CODEGEN_CACHE}",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "graftbench.Run", *args]


def clean_env(tmp):
    """The run ignores the engine's bench and trace knobs."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "GRAFT_DRIP_TRACE"}
    env["SPARK_LOCAL_DIRS"] = tmp
    return env


def run_jvm(cmd, env, log_path):
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(benchlib.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    for need in ("src/main/scala", "tools/check.py"):
        if not os.path.exists(os.path.join(root, need)):
            sys.exit(f"bench: {need} not found; run from the repository root")
    wl = benchlib.WORKLOADS[a.workload]
    if not os.path.isdir(wl.data):
        sys.exit(f"bench: input directory {wl.data} not found")
    classpath, stamp = build.build(root)

    out = os.path.join(root, ".bench_build")
    run_dir = os.path.join(out, "runs", f"{wl.name}-seed{a.seed}-trace{a.trace}")
    tmp, verify = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "verify")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(verify)
    orders = benchlib.pass_orders(wl.queries, a.seed,
                                  wl.warmup + benchlib.warm_passes(wl, a.seconds))
    with open(os.path.join(run_dir, "order.txt"), "w") as fh:
        fh.write("".join(",".join(o) + "\n" for o in orders))
    nproc = len(os.sched_getaffinity(0))
    records_path = os.path.join(run_dir, "records.jsonl")

    load0, steal0 = os.getloadavg(), steal_s()
    calibration_s = calibrate()
    rc = run_jvm(java_cmd(classpath, tmp, "--dir", wl.data, "--cpus", str(nproc),
                          "--order", os.path.join(run_dir, "order.txt"),
                          "--records", records_path, "--verify", verify,
                          "--trace", str(a.trace)),
                 clean_env(tmp), os.path.join(run_dir, "jvm.log"))
    load1, steal1 = os.getloadavg(), steal_s()
    steal = None if steal0 is None or steal1 is None else steal1 - steal0
    if rc != 0:
        sys.exit(f"bench: JVM {'timed out' if rc is None else f'exited {rc}'}; "
                 f"see {os.path.join(run_dir, 'jvm.log')}")
    with open(records_path) as fh:
        records = [json.loads(line) for line in fh if line.strip()]

    oracle_sql = {r["q"]: r["sql"] for r in records if r["t"] == "oracle"}
    failed_q, rows_out, report = oracle.check(
        root, wl.data, verify, oracle_sql, os.path.join(out, "oracle"), tmp)
    metrics, summary, spans = benchlib.compute(records, failed_q, rows_out, a.trace == 1,
                                              wl.warmup)
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(verify, ignore_errors=True)

    execs = [r for r in records if r["t"] == "exec"]
    failed = sum(1 for r in execs if r["error"] or r["q"] in failed_q)
    units = benchlib.PER_LAYER if a.trace else benchlib.END_TO_END
    result = {
        "correct": failed == 0,
        "attempted": len(execs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    with open(os.path.join(run_dir, "result.json"), "w") as fh:
        json.dump({
            "workload": wl.name, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "warmup_passes": wl.warmup,
            "orders": orders, "commit": commit(root), "source_stamp": stamp,
            "nproc": nproc, "heap": HEAP,
            "codegen_cache_entries": CODEGEN_CACHE, "loadavg_start": load0, "loadavg_end": load1,
            "calibration_s": calibration_s, "steal_s": steal,
            "settings": next(r["settings"] for r in records if r["t"] == "conf"),
            "errors": {r["q"]: r["error"] for r in execs if r["error"]},
            "oracle": report, "summary": summary, "result": result}, fh, indent=1)
    if a.trace:
        with open(os.path.join(run_dir, "spans.json"), "w") as fh:
            json.dump(spans, fh)

    for line in report:
        print(line, file=sys.stderr)
    shown = {**benchlib.END_TO_END, **benchlib.SUMMARY_ONLY}
    print(f"[bench] {wl.name} seed={a.seed} warmup_passes={wl.warmup} "
          f"warm_passes={summary['warm_passes']} "
          f"nproc={nproc} calibration_s={calibration_s:.4f} "
          f"loadavg={load0[0]:.2f}->{load1[0]:.2f} steal_s={'n/a' if steal is None else f'{steal:.2f}'} "
          f"query_tail=p{summary['query_tail_pct']:.1f} "
          f"({summary['query_tail_beyond']} beyond, n={summary['query_samples']}) "
          f"triggers={summary['trigger_samples']} "
          + " ".join(f"{k}={summary[k]:.6g} {u}" for k, u in shown.items() if k in summary))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
