"""Self-check of the benchmark itself (about 3 minutes).

    python3 perfbench/selfcheck.py

1. A short untraced ``batch`` run (fixture sf0.01) and a short traced
   ``stream`` run print every metric with its unit; the names and units
   must be exactly those of BENCHMARK.json.
2. The correctness gate must reject a perturbed result: the same short
   ``batch`` run, with one value of one call's result changed before the
   check, must report ``failed`` > 0, i.e. ``error_rate`` > 0.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "2", "--trace", str(trace)],
        cwd=ROOT, check=True, stdout=subprocess.PIPE, text=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def check_names(result: dict, spec: list[dict]) -> list[str]:
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    want = {m["name"]: m["unit"] for m in spec}
    for name, unit in want.items():
        print(f"  {name:40s} {unit:8s} {result['metrics'].get(name, {}).get('value')}")
    return [f"metrics differ from BENCHMARK.json: {sorted(set(got.items()) ^ set(want.items()))}"] \
        if got != want else []


def perturbed_batch_run() -> dict:
    """The batch run in-process, with the gate fed one changed value."""
    sys.path.insert(0, HERE)
    import batch
    import gate
    import run as runner

    check = batch.check_table
    seen = []

    def check_perturbed(table, expected):
        if not seen:
            seen.append(True)
            table = gate.perturb(table)
        return check(table, expected)

    batch.check_table = check_perturbed
    args = runner.argparse.Namespace(workload="batch", seed=7, seconds=2, trace=0, all=False)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        runner.run_one(args)
    return json.loads(buf.getvalue().strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    print("end-to-end metrics (batch, --trace 0):")
    r = run("batch", 0)
    problems += check_names(r, spec["end_to_end"])
    if not r["correct"]:
        problems.append("the unperturbed batch run failed its correctness gate")
    print("per-layer metrics (stream, --trace 1):")
    problems += check_names(run("stream", 1), spec["per_layer"])
    p = perturbed_batch_run()
    print(f"perturbed run: attempted={p['attempted']} failed={p['failed']} "
          f"error_rate={p['failed'] / p['attempted']:.3f}")
    if p["failed"] == 0 or p["correct"]:
        problems.append("the gate accepted a perturbed result")
    for msg in problems:
        print(f"SELF-CHECK FAILED: {msg}")
    print("self-check passed" if not problems else "")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
