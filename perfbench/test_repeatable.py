#!/usr/bin/env python3
"""The benchmark's own test: exact counts repeat for a seed, answers hold on another.

    python3 perfbench/test_repeatable.py [--seconds 8] [--workloads api_mixed,bulk_knn]

For every workload it makes two traced runs with seed 1 and asserts that
the counts which must not depend on timing are identical: write_amp and
space_amp, sched.jobs and scan.bytes_read per op, and pipeline.pairs. Other
counted per-layer figures are compared too and reported, without failing
the test. It then makes one untraced run with seed 2 and asserts that every
answer checked out. Exits 1 on any failure.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("api_mixed", "bulk_knn", "update_mixed", "dedup_corpus")
MUST_REPEAT = ("write_amp", "space_amp", "sched.jobs", "scan.bytes_read", "pipeline.pairs")
SHOULD_REPEAT = ("storage.build_jobs", "sched.stages", "sched.tasks", "scan.files_read",
                 "index.cells_probed_frac", "shuffle.write_bytes", "shuffle.read_bytes",
                 "commit.jobs", "commit.bytes_written", "commit.files_written",
                 "pipeline.kept_docs")


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().split("\n")
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}: {p.stderr[-2000:]}")
    result = json.loads(lines[-1])
    record = next(l.split("record ", 1)[1] for l in lines if l.startswith("[perfbench] record "))
    with open(record) as fh:
        report = json.load(fh)["report"]
    values = {k: v["value"] for k, v in result["metrics"].items()}
    values.update(report)
    return result, values


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    a = ap.parse_args()
    failures = []
    for w in a.workloads.split(","):
        _, first = run(w, 1, a.seconds, 1)
        _, second = run(w, 1, a.seconds, 1)
        for k in MUST_REPEAT + SHOULD_REPEAT:
            if k not in first:
                continue
            same = first[k] == second[k]
            print(f"{w:14s} {k:26s} {first[k]!r:>16} {second[k]!r:>16} "
                  f"{'same' if same else 'DIFFERENT'}")
            if not same and k in MUST_REPEAT:
                failures.append(f"{w}: {k} differs between two runs of seed 1")
        other, _ = run(w, 2, a.seconds, 0)
        print(f"{w:14s} seed 2 correct={other['correct']} attempted={other['attempted']} "
              f"failed={other['failed']}")
        if not other["correct"]:
            failures.append(f"{w}: seed 2 answers did not check out")
    for f in failures:
        print("FAIL", f)
    print("PASS" if not failures else "FAIL")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
