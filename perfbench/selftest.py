#!/usr/bin/env python3
"""Self-test of the estimation benchmark.

1. Oracle: feeds each check its own reference output (must pass) and a
   copy with one value perturbed (must fail). Needs only numpy.
2. End to end: runs ``run.py`` on both workloads for 4 seconds, untraced
   and traced, and checks that every metric named in ``BENCHMARK.json`` is
   reported with its unit, that the outputs were correct and that no job
   failed.

Usage (from the repository root): python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import numpy as np

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import oracle  # noqa: E402
import ops  # noqa: E402


def _perturbed(rows: dict, field: str) -> dict:
    out = {k: np.array(v, dtype=float, copy=True) for k, v in rows.items()}
    flat = out[field].reshape(-1)
    i = len(flat) // 2
    flat[i] += 1e-4 * (1.0 + abs(flat[i]))
    return out


def oracle_cases():
    """(name, check(rows) -> errors, reference rows, fields to perturb)."""
    rng = np.random.default_rng(7)
    n = 60
    z = np.cumsum(rng.normal(0, 0.2, n)) + rng.normal(0, 1, n)
    p = ops.LEVEL
    m, v = oracle.lkf_1d(z, p["q"], p["r"], p["m0"], p["p0"])
    lkf = {"stateIndex": np.arange(1, n + 1), "mean": m, "var": v}
    yield "lkf", lambda r: oracle.check_lkf("k", z, r, p), lkf, ("mean", "var")

    h = np.column_stack([rng.normal(0, 3, n), rng.uniform(0, 5, n), np.ones(n)])
    y = h @ np.array(gen.OLS_COEF) + rng.normal(0, 1, n)
    mean, cov = oracle.least_squares_path(h, y, ops.OLS_P0)
    reg = {"stateIndex": np.arange(1, n + 1), "mean": mean, "cov": cov}
    yield "ols", lambda r: oracle.check_regression("ols", "k", h, y, r, ops.OLS_P0), reg, ("mean", "cov")

    sm = oracle.smoother_1d(z, p["q"], p["r"], p["m0"], p["p0"], ops.SMOOTHER_LAG)
    yield ("smoother", lambda r: oracle.check_smoother("k", z, r, {**p, "lag": ops.SMOOTHER_LAG}),
           sm, ("mean", "var"))

    k = n // ops.GMM_MINIBATCH
    w = rng.dirichlet([1.0, 1.0], k)
    mix = {"stateIndex": np.arange(1, k + 1), "weights": w, "params": rng.normal(0, 1, (k, 12))}
    yield "gmm", lambda r: oracle.check_mixture("k", n, r, ops.GMM_MINIBATCH), mix, ("weights",)


def test_oracle() -> list[str]:
    failures = []
    for name, check, rows, fields in oracle_cases():
        errs = check(rows)
        if errs:
            failures.append(f"{name}: reference output rejected: {errs[:2]}")
        for field in fields:
            if not check(_perturbed(rows, field)):
                failures.append(f"{name}: perturbed {field} accepted")
    # a dropped row must be caught too
    name, check, rows, _ = next(oracle_cases())
    if not check({k: np.asarray(v)[:-1] for k, v in rows.items()}):
        failures.append(f"{name}: truncated output accepted")
    return failures


def test_end_to_end() -> list[str]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    failures = []
    for workload in [w["name"] for w in spec["workloads"]]:
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            cmd = spec["command"] + ["--workload", workload, "--seed", "1", "--seconds", "4",
                                     "--trace", str(trace)]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
            tag = f"{workload} trace={trace}"
            if proc.returncode != 0 or not proc.stdout.strip():
                failures.append(f"{tag}: exit {proc.returncode}: {proc.stderr[-2000:]}")
                continue
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                failures.append(f"{tag}: result keys {sorted(result)}")
            if not result.get("correct") or result.get("failed") or result.get("attempted", 0) < 1:
                why = [line for line in proc.stderr.splitlines()
                       if line.startswith("perfbench:") and "seconds" not in line]
                failures.append(f"{tag}: correct={result.get('correct')} failed={result.get('failed')}: "
                                + "; ".join(why[-10:]))
            want = {m["name"]: m["unit"] for m in spec[group]}
            got = {k: v.get("unit") for k, v in result.get("metrics", {}).items()}
            if got != want:
                failures.append(f"{tag}: metrics differ from BENCHMARK.json: "
                                f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
                                f"units {[k for k in want if k in got and got[k] != want[k]]}")
            bad = [k for k, v in result.get("metrics", {}).items()
                   if not isinstance(v.get("value"), (int, float)) or not np.isfinite(v["value"])]
            if bad:
                failures.append(f"{tag}: non-numeric values for {bad}")
            print(f"selftest: {tag} done", file=sys.stderr)
    return failures


def main() -> int:
    failures = test_oracle() + test_end_to_end()
    for f in failures:
        print(f"selftest: FAIL {f}")
    print("selftest: ok" if not failures else f"selftest: {len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
