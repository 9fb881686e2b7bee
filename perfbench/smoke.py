"""Smoke check of the benchmark itself, on tiny inputs (a few minutes):

    python3 perfbench/smoke.py

For every workload the command accepts, an untraced and a traced run must
exit 0, report no failed op, and print as their last line a result whose
metrics are exactly the ones BENCHMARK.json names, each with its unit. A
copy of the benchmark without the program beside it must exit non-zero and
print no result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join("perfbench", "run.py")
WORKLOADS = ("star_dashboard", "monthly_transform", "monthly_ingest", "corpus_dedup")


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "1", "--seconds", "1",
         "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def check_result(stdout: str, units: dict[str, str]) -> list[str]:
    """Problems with a run's last stdout line (empty when it is right)."""
    lines = stdout.strip().splitlines()
    if not lines:
        return ["no output"]
    res = json.loads(lines[-1])
    problems = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(res)}")
    if res.get("correct") is not True or res.get("failed") != 0 or res.get("attempted", 0) < 1:
        problems.append(f"correct={res.get('correct')} failed={res.get('failed')} "
                        f"attempted={res.get('attempted')}")
    got = {k: v.get("unit") for k, v in res.get("metrics", {}).items()}
    if got != units:
        problems.append(f"metrics differ from BENCHMARK.json: {sorted(set(got.items()) ^ set(units.items()))}")
    bad = [k for k, v in res.get("metrics", {}).items() if not isinstance(v.get("value"), (int, float))]
    if bad:
        problems.append(f"non-numeric values: {bad}")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {trace: {m["name"]: m["unit"] for m in spec[key]}
             for trace, key in ((0, "end_to_end"), (1, "per_layer"))}
    failures = 0
    for workload in WORKLOADS:
        for trace in (0, 1):
            proc = _run(ROOT, workload, trace)
            problems = [f"exit {proc.returncode}"] if proc.returncode else []
            problems += check_result(proc.stdout, units[trace])
            print(f"{workload} trace={trace}: {'ok' if not problems else '; '.join(problems)}")
            if problems:
                failures += 1
                print(proc.stderr[-2000:], file=sys.stderr)

    bare = tempfile.mkdtemp(prefix=".perfbench-smoke-", dir=ROOT)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        proc = _run(bare, WORKLOADS[0], 0)
        ok = proc.returncode != 0 and not proc.stdout.strip()
        print(f"without the program: {'ok' if ok else f'exit {proc.returncode}, stdout {proc.stdout!r}'}")
        failures += not ok
    finally:
        shutil.rmtree(bare)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
