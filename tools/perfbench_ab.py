#!/usr/bin/env python3
"""Same-window A/B of the perfbench workloads: a base revision against the working tree.

Usage (from the root of a checkout):

    python3 tools/perfbench_ab.py --base HEAD --workload bfs_wide --seeds 3,4,5,6
    python3 tools/perfbench_ab.py --base HEAD~1 --workload bfs_wide \\
        --workload corpus_dedup --seeds 3,4,5,6 --trace 1

The base revision is exported with `git archive` into a scratch
directory (default: a new directory under /tmp; `--workdir` chooses
another), built there by its own `perfbench/run.py`, and removed at the
end. The tool refuses to run when the working tree has the same tracked
files as the base, since that batch would compare the code with itself.
For every seed, the base and the working tree each run the workload
once, back to back; the side that runs first alternates from seed to
seed, so a drift in host speed over the batch falls on both sides
equally.

The report gives, per metric, the median of each side, the spread of
each side (interquartile range over the median), the change-vs-base
ratio of the medians, the number of pairs the change wins, and, for
the end-to-end metrics, the bound `BENCHMARK.json` declares (read only)
with a flag when the change is worse than the base by more than it.
Each run also records the hypervisor steal of the host while it ran,
from `/proc/stat`: wall metrics follow steal, so a batch whose steal
differs between the sides does not compare.
"""
import argparse
import json
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def cpu_times():
    """(steal, total) jiffies of all CPUs, from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice];
    # guest time is already counted in user/nice
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


def export(rev, dest):
    """A clean copy of `rev`'s committed files in `dest`."""
    dest.mkdir(parents=True)
    archive = subprocess.run(["git", "-C", str(ROOT), "archive", rev],
                             check=True, stdout=subprocess.PIPE).stdout
    subprocess.run(["tar", "-x", "-C", str(dest)], input=archive, check=True)


def run_once(checkout, workload, seed, seconds, trace):
    steal0, total0 = cpu_times()
    t0 = time.monotonic()
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=checkout, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL, text=True)
    wall = time.monotonic() - t0
    steal1, total1 = cpu_times()
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    result = json.loads(lines[-1]) if lines else {}
    return {
        "exit": out.returncode,
        "run_wall_s": round(wall, 2),
        "steal_pct": round(100.0 * (steal1 - steal0) / max(total1 - total0, 1), 2),
        "correct": result.get("correct"),
        "metrics": {k: v["value"] for k, v in result.get("metrics", {}).items()},
    }


def spread(xs):
    """Interquartile range over the median."""
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4, method="inclusive")
    med = statistics.median(xs)
    return (q[2] - q[0]) / med if med else 0.0


def report(workload, runs, declared):
    pairs = [(r["base"], r["change"]) for r in runs
             if r["base"]["exit"] == 0 and r["change"]["exit"] == 0]
    print(f"\n== {workload}: {len(pairs)} complete pairs of {len(runs)}")
    for side in ("base", "change"):
        steal = [r[side]["steal_pct"] for r in runs]
        print(f"   {side:6s} steal %: median {statistics.median(steal):.1f}"
              f"  max {max(steal):.1f}   correct: "
              f"{sum(1 for r in runs if r[side]['correct'])}/{len(runs)}")
    if not pairs:
        return
    keys = sorted(set(pairs[0][0]["metrics"]) & set(pairs[0][1]["metrics"]))
    keys = [k for k in declared if k in keys] + [k for k in keys if k not in declared]
    print(f"   {'metric':40s} {'base':>12s} {'change':>12s} {'ratio':>7s}"
          f" {'spread b/c':>13s} {'wins':>5s} {'bound':>6s}")
    for k in keys:
        b = [p[0]["metrics"][k] for p in pairs]
        c = [p[1]["metrics"][k] for p in pairs]
        if not all(isinstance(x, (int, float)) for x in b + c):
            continue
        mb, mc = statistics.median(b), statistics.median(c)
        ratio = mc / mb if mb else float("nan")
        better = declared.get(k, {}).get("better", "lower")
        wins = sum(1 for x, y in zip(b, c) if (y < x if better == "lower" else y > x))
        bound = declared.get(k, {}).get("bound")
        flag = ""
        if bound is not None and mb:
            worse = ratio - 1 if better == "lower" else 1 - ratio
            flag = f"{bound:6.2f}" + (" WORSE" if worse > bound else "")
        print(f"   {k:40s} {mb:12.4g} {mc:12.4g} {ratio:7.3f}"
              f" {spread(b):6.3f}/{spread(c):.3f} {wins:3d}/{len(pairs)} {flag}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", default="3,4,5,6",
                    help="comma-separated seeds, one base/change pair each")
    ap.add_argument("--base", required=True,
                    help="git revision to compare against (HEAD for uncommitted work, "
                         "HEAD~1 once it is committed)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workdir", help="where the base is exported (default: under /tmp)")
    a = ap.parse_args()
    if subprocess.run(["git", "-C", str(ROOT), "diff", "--quiet", a.base, "--"]).returncode == 0:
        sys.exit(f"the working tree matches {a.base}: nothing to compare "
                 "(after committing, pass the parent, e.g. --base HEAD~1)")

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = {m["name"]: m for m in bench["end_to_end"]}
    declared.update({m["name"]: m for m in bench.get("per_layer", [])
                     if m["name"] not in declared})
    seconds = bench.get("run_seconds", 1)
    seeds = [int(s) for s in a.seeds.split(",")]

    workdir = Path(a.workdir or tempfile.mkdtemp(prefix="perfbench-ab-"))
    base = workdir / "base"
    scratch = base if a.workdir else workdir
    if base.exists():
        shutil.rmtree(base)
    export(a.base, base)
    print(f"base {a.base} exported to {base}; building both sides", file=sys.stderr)
    try:
        for checkout in (base, ROOT):
            # the generator self-test builds the checkout, untimed
            subprocess.run([sys.executable, "perfbench/run.py", "--selftest"],
                           cwd=checkout, check=True, stdin=subprocess.DEVNULL,
                           stdout=subprocess.DEVNULL)
        for w in a.workload:
            runs = []
            for i, seed in enumerate(seeds):
                order = ("base", "change") if i % 2 == 0 else ("change", "base")
                pair = {"seed": seed}
                for side in order:
                    pair[side] = run_once(base if side == "base" else ROOT,
                                          w, seed, seconds, a.trace)
                    print(f"{w} seed {seed} {side}: exit {pair[side]['exit']}, "
                          f"{pair[side]['run_wall_s']} s, "
                          f"steal {pair[side]['steal_pct']}%", file=sys.stderr)
                runs.append(pair)
            report(w, runs, declared)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
