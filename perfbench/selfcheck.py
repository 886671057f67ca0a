#!/usr/bin/env python3
"""Tiny-size self-check of the benchmark.

    python3 perfbench/selfcheck.py

For every workload it runs the benchmark at `--size tiny`:
  - with `--trace 0` and `--trace 1`, and checks that every metric of
    BENCHMARK.json prints by name with its unit and that the checks pass;
  - with `--corrupt table` (a live row deleted from the result table, or a
    wrong value planted in the client's model), and checks that the run
    reports the corruption as a failed check, not as a fast run.
Exits non-zero if any of this does not hold.
"""
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload, trace, corrupt="none"):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace),
           "--size", "tiny", "--corrupt", corrupt]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=900)
    if p.returncode != 0:
        return None, p.stdout + p.stderr
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), "\n".join(lines[:-1])


def main():
    problems = []
    for w in [x["name"] for x in SPEC["workloads"]]:
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            res, text = run(w, trace)
            if res is None:
                problems.append(f"{w} trace={trace}: run failed\n{text[-2000:]}")
                continue
            if not res["correct"] or res["failed"]:
                problems.append(f"{w} trace={trace}: checks failed on a "
                                f"clean run: {text[-1500:]}")
            for m in SPEC[group]:
                got = res["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"]:
                    problems.append(f"{w} trace={trace}: {m['name']} "
                                    f"missing or not in {m['unit']}")
                elif not any(line.split()[:1] == [m["name"]] and
                             line.split()[-1] == m["unit"]
                             for line in text.splitlines()):
                    problems.append(f"{w} trace={trace}: {m['name']} not "
                                    "printed with its unit")
            print(f"{w} trace={trace}: {len(res['metrics'])} metrics, "
                  f"attempted={res['attempted']} failed={res['failed']}")
        res, text = run(w, 0, corrupt="table")
        if res is None or res["correct"] or res["failed"] == 0:
            problems.append(f"{w}: corrupted table not reported as a failure")
        else:
            print(f"{w} corrupt: reported correct=false, "
                  f"failed={res['failed']}")
    for p in problems:
        print("PROBLEM:", p)
    print("SELF-CHECK", "FAILED" if problems else "PASSED")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
