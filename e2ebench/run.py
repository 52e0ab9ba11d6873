#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine.

    python3 e2ebench/run.py --workload <curation|warehouse|frontdoor_stream>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It compiles the program (src/main/scala) and
the harness (e2ebench/harness) into .bench_build/, generates the seeded
inputs, runs the workload in one fresh JVM, checks every output, and prints
as its last line one JSON object: correct, attempted, failed and metrics.
The line before it holds the reference figures (raw seconds, each kernel
time, the host-speed index and the steal share). See e2ebench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
SPARK_JARS = "/opt/spark/jars"
WORKLOADS = ("curation", "warehouse", "frontdoor_stream")

# Median kernel time of this repository's reference host (4 vCPUs, two
# kernel threads); see README.md. The host-speed index is a run's median
# kernel time divided by this.
REFERENCE_KERNEL_S = 0.35

# Pinned run shape: task slots, set-up cycles, warm-up units per cycle and
# the measured-pass limits. None of it is read from the environment.
CYCLES = 3
WARMUP = {"curation": 1, "warehouse": 1, "frontdoor_stream": 4}
TRACE_WARMUP = 0  # per traced chain, whatever --workload names
MIN_PASSES = {"curation": 3, "warehouse": 4, "frontdoor_stream": 8}
MAX_PASSES = 40
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:ParallelGCThreads=2", "-XX:-UsePerfData",
             "-XX:ConcGCThreads=1", "-Xss4m"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
JVM_TIMEOUT_S = 170
END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("task_cpu_s", "s"),
              ("shuffle_mb", "MB"), ("output_mb", "MB"), ("live_heap_mb", "MB")]


def fail(msg):
    print("e2ebench: " + msg, file=sys.stderr)
    sys.exit(2)


def slots():
    return max(1, min(2, (os.cpu_count() or 1) - 1))


def stream_batches(seconds):
    """Measured micro-batches for a run of `seconds`: about one per second,
    and at least eight, so the count is fixed by the run length alone."""
    return max(MIN_PASSES["frontdoor_stream"], int(round(seconds)))


def host_index(kernels_s, reference_s=REFERENCE_KERNEL_S):
    """The run's median kernel time over the reference kernel time."""
    return statistics.median(kernels_s) / reference_s


def end_to_end(result, index):
    """The six end-to-end metrics from the harness's raw figures: times are
    medians over the measured units divided by the host-speed index."""
    passes = result["passes"]
    med = lambda k: statistics.median(p[k] for p in passes)  # noqa: E731
    output = result.get("output_mb", passes[0]["output_mb"])
    return {
        "setup_s": statistics.median(result["setup_cycles_s"]) / index,
        "wall_s": med("wall_s") / index,
        "task_cpu_s": med("task_cpu_s") / index,
        "shuffle_mb": med("shuffle_mb"),
        "output_mb": output,
        "live_heap_mb": result["live_heap_mb"],
    }


def classpath(*dirs):
    jars = sorted(os.path.join(SPARK_JARS, j) for j in os.listdir(SPARK_JARS) if j.endswith(".jar"))
    return ":".join(list(dirs) + jars)


def _sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _compile(name, srcs, out, cp, deps=()):
    h = hashlib.sha256()
    for s in srcs + list(deps) + [cp]:
        h.update(s.encode())
        if os.path.isfile(s):
            with open(s, "rb") as f:
                h.update(f.read())
    stamp = os.path.join(out, ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    print("e2ebench: compiling %s (%d files)" % (name, len(srcs)), file=sys.stderr)
    argfile = os.path.join(BUILD, name + ".args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    r = subprocess.run(["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", classpath(),
                        "-Djava.io.tmpdir=" + BUILD, "scala.tools.nsc.Main",
                        "-nowarn", "-d", out, "-classpath", cp, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compiling %s failed" % name)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


def build():
    """Compiles the program and the harness into .bench_build, each only
    when its sources changed."""
    prog_src = _sources(os.path.join(ROOT, "src/main/scala"))
    if not prog_src:
        fail("no program sources under src/main/scala; run from the repository root")
    if not os.path.isdir(SPARK_JARS):
        fail("Spark jars not found at " + SPARK_JARS)
    os.makedirs(BUILD, exist_ok=True)
    prog = os.path.join(BUILD, "program")
    harness = os.path.join(BUILD, "harness")
    _compile("program", prog_src, prog, classpath())
    _compile("harness", _sources(os.path.join(HERE, "harness")), harness, classpath(prog),
             deps=[os.path.join(prog, ".stamp")])
    return classpath(harness, prog, os.path.join(ROOT, "src/main/resources"))


def steal_ticks():
    """(steal, total) jiffies from /proc/stat, or None where unreadable."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return vals[7], sum(vals)
    except (OSError, IndexError, ValueError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    work = os.path.join(BUILD, "run", a.workload + ("-trace" if a.trace else ""))
    shutil.rmtree(work, ignore_errors=True)
    raw = os.path.join(work, "raw")
    os.makedirs(os.path.join(work, "tmp"))
    todo = WORKLOADS if a.trace else (a.workload,)
    t_gen = time.time()
    for w in todo:
        gen.generate(w, a.seed, raw, WARMUP["frontdoor_stream"] + stream_batches(a.seconds))
    t_gen = time.time() - t_gen

    out = os.path.join(work, "result.json")
    cmd = (["java"] + JVM_FLAGS
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
              "-Dspark.hadoop.hadoop.tmp.dir=" + os.path.join(work, "tmp", "hadoop"),
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "graft.e2ebench.Main",
              "--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--slots", str(slots()), "--raw", raw, "--work", work,
              "--cycles", str(CYCLES), "--warmup", str(TRACE_WARMUP if a.trace else WARMUP[a.workload]),
              "--stream-warmup", str(WARMUP["frontdoor_stream"]),
              "--min-passes", str(MIN_PASSES[a.workload]), "--max-passes", str(MAX_PASSES),
              "--out", out])
    steal0 = steal_ticks()
    t0 = time.time()
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        try:
            r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("the harness JVM ran past %d s; see %s" % (JVM_TIMEOUT_S, log))
    steal1 = steal_ticks()
    if r.returncode != 0 or not os.path.exists(out):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        fail("the harness JVM failed (exit %d)" % r.returncode)
    with open(out) as f:
        result = json.load(f)
    index = host_index(result["kernels_s"])
    steal = None
    if steal0 and steal1 and steal1[1] > steal0[1]:
        steal = (steal1[0] - steal0[0]) / (steal1[1] - steal0[1])
    ref = {"gen_s": round(t_gen, 3), "jvm_s": round(time.time() - t0, 3), "host_index": index,
           "kernels_s": result["kernels_s"], "steal_share": steal, "slots": result["slots"]}

    t_check = time.time()
    results = checks.run(result, work, raw, traced=bool(a.trace))
    ref["checks_s"] = round(time.time() - t_check, 3)
    ref["checks"] = [{"name": n, "ok": ok, "detail": d} for n, ok, d in results]
    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in result["layers"].items()}
        ref.update(untraced_wall_s=result["untraced_wall_s"],
                   traced_wall_sum_s=result["traced_wall_sum_s"], spans=result["spans"])
        attempted = len(result["spans"]) + int(result["layers"]["streaming.batches"]) + len(results)
    else:
        e2e = end_to_end(result, index)
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
        passes = result["passes"]
        ref.update(setup_cycles_s=result["setup_cycles_s"],
                   warmup_walls_s=result["warmup_walls_s"],
                   raw_wall_s=[p["wall_s"] for p in passes],
                   raw_task_cpu_s=[p["task_cpu_s"] for p in passes])
        warm = sum(len(w) for w in result["warmup_walls_s"])
        attempted = warm + len(passes) + len(results)
    failed = sum(1 for _, ok, _ in results if not ok)
    for n, ok, d in results:
        if not ok:
            print("e2ebench: check %s failed: %s" % (n, d), file=sys.stderr)
    print("reference " + json.dumps(ref))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def unit_of(name):
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_s"):
        return "s"
    if last.endswith("_mb"):
        return "MB"
    return "count"


if __name__ == "__main__":
    main()
