#!/usr/bin/env python3
"""Same-box A/B of the repository benchmark: a base revision against a
change, run alternately on N seeds.

    python3 scripts/ab_perfbench.py --base HEAD~1 --workload lakehouse_mix \
        --seeds 1,2,3,4,5,6,7 [--change .] [--trace 0] [--seconds 5] \
        [--work DIR] [--json OUT]

The base revision is exported with `git archive` into --work (default: a
fresh temporary directory); --change is a revision exported the same way,
or "." (the default) for the current checkout's working tree, copied into
--work/change with its uncommitted edits and untracked, non-ignored files.
Each side builds and runs `perfbench/run.py` from its own directory, so
each builds its own classes and dumps its own class-data-sharing archive. For every seed
the two sides run back to back, in alternating order (base first on even
seed positions, change first on odd ones), and a host canary runs right
before every run: a fixed CPU-bound loop in this process, whose time
shows how contended the machine was. The report gives:

- one line per run: side, seed, canary seconds and the end-to-end metrics;
- per op kind, the median over runs of each run's median op time, for
  base and change, with the relative change;
- per end-to-end metric, the two medians, the base quartile spread and
  on how many seed pairs the change was better;
- with --trace 1, Spark jobs per call of each traced span;
- the canary's drift, (slowest - fastest) / fastest.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
LOWER_IS_BETTER = {"setup_s": True, "ops_per_s": False, "op_p50_s": True,
                   "retained_mb": True}
TRACE_SHOWN = ("trace.op_p50_s", "trace.ops_per_s", "spark.jobs")


def canary():
    """Seconds for a fixed amount of hashing work (about 0.2 s idle)."""
    block = b"\x5a" * (1 << 20)
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(160):
        h.update(block)
    h.hexdigest()
    return time.perf_counter() - t0


def export(rev, dest):
    """`git archive` of `rev` into `dest`."""
    dest.mkdir(parents=True, exist_ok=True)
    archive = subprocess.run(["git", "-C", str(ROOT), "archive", rev],
                             check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", str(dest)], input=archive, check=True)
    return dest


def copy_worktree(dest):
    """Copy of this checkout's working tree into `dest`: every tracked or
    untracked-but-not-ignored file as it is on disk."""
    listed = subprocess.run(
        ["git", "-C", str(ROOT), "ls-files", "-z", "--cached", "--others",
         "--exclude-standard"], check=True, capture_output=True).stdout
    for name in filter(None, listed.split(b"\0")):
        rel = os.fsdecode(name)
        src = ROOT / rel
        if src.is_file():  # a tracked file deleted in the working tree is skipped
            (dest / rel).parent.mkdir(parents=True, exist_ok=True)
            shutil.copy2(src, dest / rel)
    return dest


def run_once(side_dir, workload, seed, trace, seconds):
    """One benchmark run; returns (metrics, records)."""
    runs = side_dir / ".bench_build" / "perfbench" / "runs"
    before = set(runs.glob("*.records.jsonl")) if runs.exists() else set()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=side_dir, capture_output=True, text=True)
    lines = [line for line in proc.stdout.splitlines() if line.startswith("{")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-2000:])
        raise SystemExit(f"run failed in {side_dir} (seed {seed}, exit {proc.returncode})")
    prefix = f"{workload}-{seed}-{trace}-"
    fresh = [p for p in runs.glob(f"{prefix}*.records.jsonl") if p not in before]
    if len(fresh) != 1:
        raise SystemExit(f"expected one new records file in {runs}, found {len(fresh)}")
    records = [json.loads(line) for line in fresh[0].read_text().splitlines()]
    out = json.loads(lines[-1])
    metrics = {k: v["value"] for k, v in out["metrics"].items()}
    if not out["correct"]:
        raise SystemExit(f"incorrect run in {side_dir} (seed {seed}): {out}")
    return metrics, records


def kind_medians(records):
    """Op kind -> median seconds of its successful ops in one run."""
    by_kind = {}
    for r in records:
        if r["type"] == "op" and r["ok"]:
            by_kind.setdefault(r["kind"], []).append((r["end_ns"] - r["start_ns"]) / 1e9)
    return {k: statistics.median(v) for k, v in by_kind.items()}


def span_jobs(records):
    """Traced span name -> (Spark jobs, calls) of the measured ops."""
    calls = {}
    for r in records:
        if r["type"] == "span" and r["op"] >= 0:
            calls[r["name"]] = calls.get(r["name"], 0) + 1
    jobs = {}
    for r in records:
        if r["type"] == "counter" and r["name"] == "jobs" and r["span"] in calls:
            jobs[r["span"]] = jobs.get(r["span"], 0) + r["value"]
    return {n: (jobs.get(n, 0), c) for n, c in calls.items()}


def quartile_spread(xs):
    if len(xs) < 2:
        return 0.0
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / med if med else 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", required=True, help="base git revision")
    ap.add_argument("--change", default=".", help='git revision, or "." for this working tree')
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="comma-separated seeds")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--work", help="directory for the exported revisions")
    ap.add_argument("--json", help="write every run's data here")
    a = ap.parse_args()

    work = Path(a.work) if a.work else Path(tempfile.mkdtemp(prefix="ab_perfbench_"))
    sides = {"base": export(a.base, work / "base"),
             "change": (copy_worktree(work / "change") if a.change == "."
                        else export(a.change, work / "change"))}
    seeds = [int(s) for s in a.seeds.split(",")]
    runs = []
    for i, seed in enumerate(seeds):
        order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
        for side in order:
            c = canary()
            metrics, records = run_once(sides[side], a.workload, seed, a.trace, a.seconds)
            runs.append({"side": side, "seed": seed, "canary_s": c, "metrics": metrics,
                         "kinds": kind_medians(records), "jobs": span_jobs(records)})
            shown = " ".join(f"{k}={v:.4g}" for k, v in sorted(metrics.items())
                             if k in LOWER_IS_BETTER or k in TRACE_SHOWN)
            print(f"{side:6} seed={seed:<6} canary={c:.3f}s {shown}", flush=True)

    def of(side):
        return [r for r in runs if r["side"] == side]

    print(f"\nper-kind op medians ({a.workload}, {len(seeds)} seeds; s)")
    kinds = sorted({k for r in runs for k in r["kinds"]})
    print(f"{'kind':28} {'base':>9} {'change':>9} {'delta':>8}")
    for k in kinds:
        b = statistics.median([r["kinds"][k] for r in of("base") if k in r["kinds"]])
        c = statistics.median([r["kinds"][k] for r in of("change") if k in r["kinds"]])
        print(f"{k:28} {b:9.4f} {c:9.4f} {100 * (c - b) / b:+7.1f}%")

    print("\nend-to-end medians")
    print(f"{'metric':28} {'base':>9} {'change':>9} {'delta':>8} {'base IQR/med':>13} better-pairs")
    for m in sorted(runs[0]["metrics"]):
        bs = [r["metrics"][m] for r in of("base")]
        cs = [r["metrics"][m] for r in of("change")]
        b, c = statistics.median(bs), statistics.median(cs)
        if b == 0 and c == 0:
            continue  # a layer this workload does not call
        lower = LOWER_IS_BETTER.get(m, not m.endswith("ops_per_s"))
        pairs = {}
        for r in runs:
            pairs.setdefault(r["seed"], {})[r["side"]] = r["metrics"][m]
        better = sum(1 for p in pairs.values()
                     if (p["change"] < p["base"]) == lower and p["change"] != p["base"])
        delta = 100 * (c - b) / b if b else 0.0
        print(f"{m:28} {b:9.4g} {c:9.4g} {delta:+7.1f}% {quartile_spread(bs):13.3f} "
              f"{better}/{len(pairs)}")

    if a.trace:
        print("\nSpark jobs per call, by traced span (median over runs)")
        names = sorted({n for r in runs for n in r["jobs"]})
        for n in names:
            per = {s: [r["jobs"][n][0] / r["jobs"][n][1] for r in of(s) if n in r["jobs"]]
                   for s in ("base", "change")}
            b = statistics.median(per["base"]) if per["base"] else float("nan")
            c = statistics.median(per["change"]) if per["change"] else float("nan")
            print(f"{n:28} {b:9.2f} {c:9.2f}")

    cs = [r["canary_s"] for r in runs]
    print(f"\ncanary: min {min(cs):.3f}s median {statistics.median(cs):.3f}s "
          f"max {max(cs):.3f}s drift {100 * (max(cs) - min(cs)) / min(cs):.0f}%")
    if a.json:
        Path(a.json).write_text(json.dumps(runs, indent=1))


if __name__ == "__main__":
    main()
