"""Self-test of the benchmark: tiny runs of every workload must report every
metric named in BENCHMARK.json with its unit and no failed job, and a run
whose expected aggregate is deliberately wrong must report failures.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
TINY = ["--seed", "7", "--seconds", "1", "--rows", "400"]


def run(*args: str) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", *args, *TINY],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if out.returncode != 0:
        raise SystemExit(f"run.py {args} exited {out.returncode}:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    failures = []
    for w in spec["workloads"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            res = run("--workload", w["name"], "--trace", str(trace))
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want or not res["correct"] or res["failed"] or res["attempted"] < 1:
                failures.append(f"{w['name']} trace={trace}: {res}")
    res = run("--workload", spec["workloads"][0]["name"], "--trace", "1", "--corrupt-expected")
    if res["correct"] or res["metrics"]["error_rate"]["value"] <= 0:
        failures.append(f"a wrong expected aggregate went unnoticed: {res}")
    for f in failures:
        print("FAIL", f)
    print("selftest", "failed" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
