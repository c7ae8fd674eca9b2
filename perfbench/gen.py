"""Seeded input generators for the estimation benchmark.

Everything here is plain numpy/pandas (batch) or a Spark column expression
with an exact numpy mirror (stream), so the same ``seed`` always yields the
same inputs and the oracle can rebuild any key's input sequence on its own.

Batch frames carry, per row: ``key``, ``ts`` (event time), a local-level
observation ``z``, OLS regressors ``x1``/``x2`` with response ``y_ols``, an
RLS response ``y_rls`` and a two-component 2-D sample ``s1``/``s2``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# true model parameters the data is drawn from (the operators are fitted
# with the same noise levels, see run.py)
LEVEL_Q = 0.05  # local-level random-walk variance
LEVEL_R = 1.0  # observation noise variance
OLS_COEF = (0.5, 0.2, 1.2)  # y = 0.5 x1 + 0.2 x2 + 1.2 + N(0, 1)
RLS_COEF = (0.7, -0.3)  # y = 0.7 x1 - 0.3 x2 + N(0, 1)
GMM_MEANS = ((0.0, 0.0), (5.0, 5.0))
GMM_WEIGHT0 = 0.4

EPOCH = pd.Timestamp("2024-01-01", tz="UTC")


# batch shapes: sized so one benchmark run (three set-ups, a checked warm-up
# round and at least three timed rounds of five operators, a stream phase)
# fits in about a minute on 4 cores
FLEET_KEYS, FLEET_ROWS = 100, 20
HOT_ROWS, ZIPF_KEYS, ZIPF_S, MIN_ROWS = 5_000, 50, 1.1, 20


def key_sizes(workload: str) -> list[int]:
    """Rows per key. ``fleet``: many evenly sized keys. ``hot``: one key with
    half of all rows, the other half Zipf-spread over ZIPF_KEYS keys (each at
    least MIN_ROWS rows, so every key fills a smoother window and a mixture
    minibatch)."""
    if workload == "fleet":
        return [FLEET_ROWS] * FLEET_KEYS
    if workload == "hot":
        hot, rest = HOT_ROWS // 2, HOT_ROWS - HOT_ROWS // 2
        w = 1.0 / np.arange(1, ZIPF_KEYS + 1) ** ZIPF_S
        counts = np.maximum(MIN_ROWS, np.floor(rest * w / w.sum()).astype(int))
        return [hot] + counts.tolist()
    raise ValueError(f"unknown workload {workload!r}")


def batch_frame(workload: str, seed: int) -> pd.DataFrame:
    """Generated batch rows in a seeded random order (engines must sort)."""
    rng = np.random.default_rng([seed, 1])
    sizes = np.asarray(key_sizes(workload))
    n = int(sizes.sum())
    # seeded names: which key is hot, and so which salt bucket it hashes to,
    # varies with the seed like any real key would
    names = rng.permutation(np.array([f"k{i:05d}" for i in range(len(sizes))]))
    key_idx = np.repeat(np.arange(len(sizes)), sizes)
    starts = np.concatenate([[0], np.cumsum(sizes)[:-1]])
    step = np.arange(n) - np.repeat(starts, sizes)  # 0.. within each key

    # local-level walk per key: cumulative sum restarted at each key
    incr = rng.normal(0.0, np.sqrt(LEVEL_Q), n)
    incr[starts] = rng.normal(0.0, 3.0, len(sizes))
    csum = np.cumsum(incr)
    level = csum - np.repeat(csum[starts] - incr[starts], sizes)
    z = level + rng.normal(0.0, np.sqrt(LEVEL_R), n)

    x1 = rng.normal(0.0, 3.0, n)
    x2 = rng.uniform(0.0, 5.0, n)
    a, b, c = OLS_COEF
    y_ols = a * x1 + b * x2 + c + rng.normal(0.0, 1.0, n)
    y_rls = RLS_COEF[0] * x1 + RLS_COEF[1] * x2 + rng.normal(0.0, 1.0, n)

    comp = rng.random(n) >= GMM_WEIGHT0
    centers = np.asarray(GMM_MEANS)[comp.astype(int)]
    s = centers + rng.normal(0.0, 1.0, (n, 2))

    offset = rng.integers(0, 86_400, len(sizes))  # per-key start second
    ts = EPOCH + pd.to_timedelta(np.repeat(offset, sizes) + step, unit="s")
    pdf = pd.DataFrame(
        {
            "key": names[key_idx],
            "ts": ts,
            "z": z,
            "x1": x1,
            "x2": x2,
            "y_ols": y_ols,
            "y_rls": y_rls,
            "s1": s[:, 0],
            "s2": s[:, 1],
        }
    )
    return pdf.iloc[rng.permutation(n)].reset_index(drop=True)


# -- stream inputs -----------------------------------------------------------
# Each rate-source row ``value`` maps to a key and an observation through
# exact integer arithmetic (long multiply + pmod, then one IEEE division), so
# the Spark expression and its numpy mirror agree bit for bit.

_PRIME = 2_147_483_647
_MUL_KEY, _MUL_Z = 1_103_515_245, 1_327_217_885
STREAM_KEYS = {"fleet": 1000, "hot": 100}


def _mix(value, mul: int, seed: int, pmod):
    """Seeded hash of a non-negative value into [0, 2**31 - 1): an affine
    step then a squaring step mod a prime (both fit a signed 64-bit long)."""
    h = pmod(value * mul + (seed % 1_000_003) * 7919 + 12345, _PRIME)
    return pmod(h * h + 7, _PRIME)


def stream_key_index(values: np.ndarray, workload: str, seed: int) -> np.ndarray:
    """Key index per value. ``fleet``: round robin over 1,000 keys. ``hot``:
    every even value goes to key 0, odd values spread over 100 others."""
    values = np.asarray(values, dtype=np.int64)
    if workload == "fleet":
        return values % STREAM_KEYS["fleet"]
    h = _mix(values, _MUL_KEY, seed, np.mod)
    return np.where(values % 2 == 0, 0, 1 + h % STREAM_KEYS["hot"])


def stream_z(values: np.ndarray, workload: str, seed: int) -> np.ndarray:
    """Observation: per-key level plus a hashed uniform(-1, 1) noise."""
    values = np.asarray(values, dtype=np.int64)
    k = stream_key_index(values, workload, seed)
    noise = _mix(values, _MUL_Z, seed, np.mod) / float(_PRIME)
    return (k % 17) * 0.25 + (noise * 2.0 - 1.0)


def stream_columns(workload: str, seed: int):
    """(key, z) Spark columns over the rate source's ``value``; the Spark
    twin of :func:`stream_key_index` and :func:`stream_z`."""
    from pyspark.sql import functions as F

    v = F.col("value")

    def pmod(col, m):
        return F.pmod(col, F.lit(m).cast("long"))

    if workload == "fleet":
        k = pmod(v, STREAM_KEYS["fleet"])
    else:
        h = _mix(v, _MUL_KEY, seed, pmod)
        k = F.when(pmod(v, 2) == 0, F.lit(0).cast("long")).otherwise(
            F.lit(1).cast("long") + pmod(h, STREAM_KEYS["hot"])
        )
    noise = _mix(v, _MUL_Z, seed, pmod).cast("double") / F.lit(float(_PRIME))
    z = pmod(k, 17).cast("double") * F.lit(0.25) + (noise * F.lit(2.0) - F.lit(1.0))
    key = F.concat(F.lit("k"), F.lpad(k.cast("string"), 5, "0"))
    return key, z


def stream_key_name(k: int) -> str:
    return f"k{int(k):05d}"
