"""Benchmark self-test at toy scale: every metric prints with its unit, the
output checks pass on clean inputs, and they bite on bad ones.

    python3 perfbench/selftest.py

For each workload it runs ``run.py --scale toy`` four times: clean, traced,
with one corrupted input byte, and with a perturbed expected fingerprint.
The two faulty runs must report ``failed_frac`` above 0. Takes about ten
minutes on a 4-core host; exits non-zero on the first broken expectation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import END_TO_END, per_layer_units, setup_environment  # noqa: E402


def run(workload: str, trace: int = 0, inject: str = "none") -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "5", "--seconds", "1", "--trace", str(trace),
           "--scale", "toy", "--inject", inject]
    out = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True,
                         text=True, timeout=600)
    if out.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def check(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        raise SystemExit(1)


def main() -> None:
    setup_environment()
    layer_units = per_layer_units()
    for wl in ("crawl_polite", "archive_roundtrip"):
        res = run(wl)
        check(res["correct"] and res["failed"] == 0, f"{wl}: clean run passes its checks")
        check({k: v["unit"] for k, v in res["metrics"].items()} == END_TO_END,
              f"{wl}: every end-to-end metric prints with its unit")
        res = run(wl, trace=1)
        check(res["correct"], f"{wl}: traced run passes its checks")
        check({k: v["unit"] for k, v in res["metrics"].items()} == layer_units,
              f"{wl}: every per-layer metric prints with its unit")
        for inject in ("corrupt-input", "perturb-expected"):
            res = run(wl, inject=inject)
            frac = res["failed"] / res["attempted"]
            check(frac > 0 and not res["correct"],
                  f"{wl}: {inject} drives failed_frac to {frac:.2f}")


if __name__ == "__main__":
    main()
