"""Run one workload over several seeds and report, per metric, the median
and the interquartile spread as a share of the median, the way a change
is judged against the bounds in BENCHMARK.json.

    python3 perfbench/spread.py --workload lakehouse_mix --seeds 1 2 3 4 5
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import stats  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    values = {}
    for seed in a.seeds:
        out = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
             "--trace", str(a.trace)],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        lines = out.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if out.returncode == 0 and lines else None
        if result is None or not result["correct"]:
            raise SystemExit(f"seed {seed}: run failed (exit {out.returncode}): {result}")
        print(f"seed {seed}: " + " ".join(
            f"{k}={v['value']:.6g}" for k, v in result["metrics"].items()), flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    if len(a.seeds) < 2:
        return
    for k, xs in values.items():
        med = statistics.median(xs)
        spread = stats.quartile_spread(xs) if med else 0.0
        bound = bounds.get(k)
        verdict = "" if bound is None else ("ok" if spread < bound / 3 else
                                            "WITHIN BOUND" if spread <= bound else "OVER BOUND")
        print(f"{k:40s} median={med:.4g} spread={spread:.3f} bound={bound} {verdict}")


if __name__ == "__main__":
    main()
