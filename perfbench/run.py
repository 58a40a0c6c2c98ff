"""The repository benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program and the benchmark (perfbench/build.py), runs one
closed-loop client against a local[<cores>] Spark session for S seconds,
checks every op's output, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the per-layer ones (see
perfbench/README.md). Exits non-zero when any output check failed.

--record-hashes rewrites perfbench/expected_hashes.json from this run's
query digests (warehouse_queries only; for a deliberate data-generator
change).

The pipeline passes' outputs depend on the seed, so their digests are
kept per build and seed in <build dir>/perfbench/digests-<build>/; a run
whose digest differs from the one an earlier run of the same build and
seed (traced or not) recorded counts that op as failed.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ["warehouse_queries", "lakehouse_mix"]
HERE = Path(__file__).resolve().parent
EXPECTED = HERE / "expected_hashes.json"
TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-hashes", action="store_true")
    a = ap.parse_args()

    classpath, stamp = build.build()
    runs = build.build_dir() / "perfbench" / "runs"
    # generated testdata depends only on the build, so it is kept per build
    cache = build.build_dir() / "perfbench" / f"data-{stamp[:16]}"
    work = runs / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "records.jsonl"
    # class-data sharing: the first run of a build dumps the classes it
    # loaded into an archive that later runs map instead of loading the
    # jars again (several seconds of every session start); if that dump
    # fails, later runs do without
    jsa = build.build_dir() / "perfbench" / f"classes-{stamp[:16]}.jsa"
    no_jsa = jsa.with_suffix(".failed")
    dump = work / "classes.jsa"
    dumping = not jsa.exists() and not no_jsa.exists()
    share = ([f"-XX:SharedArchiveFile={jsa}"] if jsa.exists()
             else [f"-XX:ArchiveClassesAtExit={dump}"] if dumping else [])
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
           + share + [
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", str(work), "--out", str(out), "--cache", str(cache),
              "--expected", str(EXPECTED)])
    try:
        proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr)
        try:
            code = proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: {a.workload} run exceeded {TIMEOUT_S} s")
        records = [json.loads(line) for line in out.read_text().splitlines()]
        if dumping:
            if code == 0 and dump.exists():
                dump.rename(jsa)
            else:
                no_jsa.touch()
                # a failed dump at exit sets the exit code of a finished run
                if any(r["type"] == "end" for r in records):
                    code = 0
    finally:
        keep = work.with_suffix(".records.jsonl")
        if out.exists():
            shutil.copyfile(out, keep)
        shutil.rmtree(work, ignore_errors=True)

    fatal = [r for r in records if r["type"] == "fatal"]
    if fatal or code != 0 or not any(r["type"] == "end" for r in records):
        for r in fatal:
            print(f"perfbench: {a.workload} failed: {r['error']}", file=sys.stderr)
        raise SystemExit(f"perfbench: {a.workload} run did not complete (exit {code})")

    for r in records:
        if r["type"] == "op" and not r["ok"]:
            print(f"perfbench: op {r['id']} {r['kind']} failed: {r['error']}", file=sys.stderr)
    setup = next(r for r in records if r["type"] == "setup")
    print(f"perfbench fingerprint workload={a.workload} seed={a.seed} "
          f"inputs={setup['fingerprint']}")

    digests = {r["query"]: r["digest"] for r in records if r["type"] == "digest"}
    board = {k: v for k, v in digests.items() if not k.startswith("pipeline.")}
    if a.record_hashes and a.workload == "warehouse_queries":
        EXPECTED.write_text(json.dumps(dict(sorted(board.items())), indent=1) + "\n")
    mismatched = check_seeded_digests(
        build.build_dir() / "perfbench" / f"digests-{stamp[:16]}" / f"{a.workload}-{a.seed}.json",
        {k: v for k, v in digests.items() if k not in board})

    attempted, failed, metrics = stats.summarize(records, traced=a.trace == 1)
    failed += mismatched
    correct = attempted > 0 and failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": max(attempted, 1),
        "failed": failed if attempted else 1,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    sys.exit(0 if correct else 1)


def check_seeded_digests(path, digests):
    """Compare seed-dependent output digests with the ones an earlier run
    of the same build and seed stored at `path` (storing them when none
    did); return the number that differ."""
    if not digests:
        return 0
    if not path.exists():
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(digests, sort_keys=True))
        return 0
    earlier = json.loads(path.read_text())
    bad = [k for k, v in digests.items() if earlier.get(k, v) != v]
    for k in bad:
        print(f"perfbench: {k} output {digests[k]} differs from {earlier[k]}, "
              f"recorded by an earlier run with this seed", file=sys.stderr)
    return len(bad)


if __name__ == "__main__":
    main()
