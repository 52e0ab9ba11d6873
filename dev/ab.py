#!/usr/bin/env python3
"""Parent-vs-change A/B of one e2ebench workload.

    python3 dev/ab.py --workload frontdoor_stream --pairs 10 --seconds 5
        [--base REV] [--seed 1] [--trace] [--workdir DIR]

Run from the repository root. The change is the working tree as it stands
(committed or not); the parent is `--base`, exported with `git archive` into
a fresh directory so nothing in the repository's git metadata changes.
Without `--base` the parent is HEAD when tracked files have uncommitted
changes and HEAD~1 when they do not; a parent whose tree is the working
tree's is refused, since both sides would run the same code. Pair i runs both sides on
seed `--seed + i`, with the parent first on even pairs and the change first
on odd ones. Each side builds into its own .bench_build, so the two builds
never overwrite each other.

Besides e2ebench's own metrics, each run records `peak_rss_mb`: the
harness JVM's peak resident set (VmHWM), polled from /proc while it runs.
It counts native memory that the heap metric cannot see, such as RocksDB's
memtables and block cache.

It prints every run's metrics as it goes, then, per metric, each side's
median and quartiles, the median change in percent, the parent's
inter-quartile range, and the number of pairs the change won (ties count
for neither side). A gain is reported as shown only when the change won at
least nine tenths of at least ten pairs and its median beats the parent's
by more than the parent's inter-quartile range (and a loss the same way). Runs that exit non-zero or report
a failed check are listed and left out of the statistics.

With --trace both sides make one traced run per pair and the per-layer
metrics are summarized the same way. Nothing under e2ebench/ is modified.
"""
import argparse
import io
import json
import os
import statistics
import subprocess
import sys
import tarfile
import tempfile
import time

ROOT = os.getcwd()
MIN_PAIRS = 10  # fewer pairs than this cannot show a gain or a loss
HARNESS_MAIN = "graft.e2ebench.Main"


def better_of():
    """Metric name -> 'lower' or 'higher', from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return {m["name"]: m["better"] for m in b["end_to_end"] + b["per_layer"]}


def export(rev, dest):
    """Writes the tree of `rev` into `dest` with git archive."""
    tar = subprocess.run(["git", "archive", "--format=tar", rev], cwd=ROOT,
                         stdout=subprocess.PIPE, check=True).stdout
    os.makedirs(dest)
    with tarfile.open(fileobj=io.BytesIO(tar)) as t:
        t.extractall(dest)


def harness_hwm_kb(root_pid):
    """VmHWM (kB) of the harness JVM among `root_pid`'s descendants, or None."""
    children = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open("/proc/%s/stat" % d) as f:
                st = f.read()
            children.setdefault(int(st[st.rindex(")") + 2:].split()[1]), []).append(d)
        except (OSError, ValueError, IndexError):
            pass
    todo = list(children.get(root_pid, []))
    while todo:
        pid = todo.pop()
        todo.extend(children.get(int(pid), []))
        try:
            with open("/proc/%s/cmdline" % pid, "rb") as f:
                if HARNESS_MAIN.encode() not in f.read().split(b"\0"):
                    continue
            with open("/proc/%s/status" % pid) as f:
                for ln in f:
                    if ln.startswith("VmHWM:"):
                        return int(ln.split()[1])
        except OSError:
            pass
    return None


def run(cwd, workload, seed, seconds, trace, log):
    """One e2ebench run in `cwd`; returns (exit code, parsed result or None).

    The result's metrics gain `peak_rss_mb`, the last VmHWM read from the
    harness JVM (polled every 0.2 s, so a rise in its last 0.2 s is missed).
    """
    cmd = [sys.executable, "e2ebench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "1" if trace else "0"]
    with open(log, "w+") as f:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=f, stderr=subprocess.STDOUT, text=True)
        hwm = None
        while p.poll() is None:
            hwm = harness_hwm_kb(p.pid) or hwm
            time.sleep(0.2)
        f.seek(0)
        out = f.read()
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    try:
        res = json.loads(lines[-1]) if lines else None
    except ValueError:
        res = None
    if res is not None and hwm is not None:
        res.setdefault("metrics", {})["peak_rss_mb"] = {"value": hwm / 1024.0}
    return p.returncode, res


def default_base():
    """HEAD for an uncommitted change, else HEAD~1 (the last commit's parent)."""
    dirty = subprocess.run(["git", "status", "--porcelain", "--untracked-files=no"], cwd=ROOT,
                           stdout=subprocess.PIPE, text=True, check=True).stdout.strip()
    return "HEAD" if dirty else "HEAD~1"


def same_tree(rev):
    """True when `rev`'s tree is the working tree's: no tracked file differs."""
    return subprocess.run(["git", "diff", "--quiet", rev, "--"], cwd=ROOT).returncode == 0


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(runs, better):
    """Per-metric table over the pairs where both sides succeeded."""
    ok = [(p, c) for p, c in runs if p is not None and c is not None]
    if not ok:
        print("no pair where both sides succeeded")
        return
    names = sorted(set(ok[0][0]["metrics"]) & set(ok[0][1]["metrics"]))
    print("\n%-34s %-28s %-28s %8s %9s %6s  %s" % (
        "metric", "parent median [q1, q3]", "change median [q1, q3]", "delta", "par. IQR", "wins", "verdict"))
    for n in names:
        pv = [p["metrics"][n]["value"] for p, _ in ok]
        cv = [c["metrics"][n]["value"] for _, c in ok]
        sign = -1 if better.get(n, "lower") == "lower" else 1
        wins = sum(1 for a, b in zip(pv, cv) if sign * (b - a) > 0)
        losses = sum(1 for a, b in zip(pv, cv) if sign * (b - a) < 0)
        p1, pm, p3 = quartiles(pv)
        c1, cm, c3 = quartiles(cv)
        delta = (cm - pm) / pm * 100 if pm else float("nan")
        iqr = p3 - p1
        if len(ok) < MIN_PAIRS:
            verdict = ""
        elif wins >= 0.9 * len(ok) and sign * (cm - pm) > iqr:
            verdict = "gain shown"
        elif losses >= 0.9 * len(ok) and sign * (pm - cm) > iqr:
            verdict = "loss shown"
        else:
            verdict = ""
        print("%-34s %-28s %-28s %7.1f%% %9.4g %3d/%-2d  %s" % (
            n, "%.4g [%.4g, %.4g]" % (pm, p1, p3), "%.4g [%.4g, %.4g]" % (cm, c1, c3),
            delta, iqr, wins, len(ok), verdict))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--base", default=None,
                    help="parent revision (default: HEAD if tracked files changed, else HEAD~1)")
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--workdir", default=None,
                    help="where the parent is exported and logs are kept (default: a new temp dir)")
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "e2ebench", "run.py")):
        sys.exit("dev/ab.py: run from the repository root")

    work = a.workdir or tempfile.mkdtemp(prefix="graft-ab-")
    os.makedirs(work, exist_ok=True)
    base = os.path.join(work, "parent")
    if os.path.exists(base):
        sys.exit("dev/ab.py: %s exists; pass an empty --workdir" % base)
    rev = subprocess.run(["git", "rev-parse", "--short", a.base or default_base()], cwd=ROOT,
                         stdout=subprocess.PIPE, text=True, check=True).stdout.strip()
    if same_tree(rev):
        sys.exit("dev/ab.py: parent %s has the working tree's files; both sides would be the same code"
                 % rev)
    export(rev, base)
    print("parent %s exported to %s; change = working tree %s" % (rev, base, ROOT), flush=True)

    sides = {"parent": base, "change": ROOT}
    runs, bad = [], []
    for i in range(a.pairs):
        seed = a.seed + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        got = {}
        for side in order:
            log = os.path.join(work, "%s-%02d-seed%d.log" % (side, i, seed))
            code, res = run(sides[side], a.workload, seed, a.seconds, a.trace, log)
            good = code == 0 and res is not None and res.get("correct") and res.get("failed") == 0
            got[side] = res if good else None
            if not good:
                bad.append((i, side, code, log))
            m = res["metrics"] if res else {}
            print("pair %2d seed %d %-6s exit %d correct %s attempted %s failed %s  %s" % (
                i, seed, side, code, res and res.get("correct"), res and res.get("attempted"),
                res and res.get("failed"),
                " ".join("%s=%.4g" % (k, v["value"]) for k, v in sorted(m.items()))), flush=True)
        runs.append((got["parent"], got["change"]))

    summarize(runs, better_of())
    for i, side, code, log in bad:
        print("FAILED pair %d %s: exit %d, see %s" % (i, side, code, log))
    print("runs: %d pairs, %d failed runs; logs in %s" % (a.pairs, len(bad), work))


if __name__ == "__main__":
    main()
