"""Quick check of the benchmark itself (a few minutes, tiny inputs).

    python3 perfbench/selfcheck.py

For every workload it runs ``run.py --tiny`` twice: untraced with the
real expected outputs, and traced with one expected output corrupted.
It asserts that each run prints every metric ``BENCHMARK.json``
declares, with its unit, that the clean run has no failed op, and that
the corrupted run reports a failed op and a non-zero ``failed_ratio``.
Last, it copies only ``BENCHMARK.json`` and ``perfbench/`` into an
empty directory and asserts the benchmark exits non-zero there without
printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = [sys.executable, os.path.join("perfbench", "run.py")]


def result(args: list[str], cwd: str = ROOT) -> tuple[int, dict | None]:
    proc = subprocess.run(RUN + args, cwd=cwd, capture_output=True, text=True, timeout=300)
    lines = proc.stdout.strip().splitlines()
    try:
        return proc.returncode, json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return proc.returncode, None


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    problems = []
    for w in spec["workloads"]:
        for trace, corrupt in ((0, False), (1, True)):
            args = ["--workload", w["name"], "--seed", "7", "--seconds", "1",
                    "--trace", str(trace), "--tiny"] + (["--corrupt-expected"] if corrupt else [])
            code, out = result(args)
            label = f"{w['name']} trace={trace} corrupt={corrupt}"
            if code != 0 or out is None:
                problems.append(f"{label}: exit {code}, no result line")
                continue
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            if got != declared[trace]:
                problems.append(f"{label}: metrics/units differ from BENCHMARK.json")
            if corrupt and not (out["failed"] > 0 and out["metrics"]["failed_ratio"]["value"] > 0):
                problems.append(f"{label}: a corrupted expected output was not caught")
            if not corrupt and (out["failed"] or not out["correct"]):
                problems.append(f"{label}: {out['failed']} of {out['attempted']} ops failed")
            print(f"selfcheck: {label}: attempted {out['attempted']}, failed {out['failed']}")

    empty = os.path.join(ROOT, "perfbench", ".work", "selfcheck-empty")
    shutil.rmtree(empty, ignore_errors=True)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(empty, "perfbench"),
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), empty)
    code, out = result(["--workload", "basket", "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=empty)
    shutil.rmtree(empty, ignore_errors=True)
    if code == 0 or out is not None:
        problems.append("benchmark without the program exited 0 or printed a result")

    for p in problems:
        print(f"selfcheck: FAIL {p}", file=sys.stderr)
    print("selfcheck: ok" if not problems else f"selfcheck: {len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
