"""The five benchmarked operators, built from model parameters only, and
the per-operator oracle check of their output on sampled keys.

Engine knobs (vectorizedBatch, vectorizedBuckets, foldEngine,
scanChunkDuration, streamingBackend) are left at their defaults, so the
benchmark measures the code paths a user gets.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import gen
import oracle

LEVEL = {"q": gen.LEVEL_Q, "r": gen.LEVEL_R, "m0": 0.0, "p0": 100.0}
OLS_P0 = 10.0
RLS_P0 = 100.0
GMM_MINIBATCH = 10
SMOOTHER_LAG = 10
SMOOTHER_STEPS = (0, SMOOTHER_LAG - 1)  # the smoother output rows checked

OPS = ("lkf", "ols", "rls", "gmm", "smoother")


def input_frame(spark, pdf) -> DataFrame:
    """Generated rows -> the typed columns the operators read."""
    return spark.createDataFrame(pdf).select(
        "key",
        "ts",
        F.array("z").alias("z"),
        F.struct(
            F.lit(1).alias("numRows"),
            F.lit(3).alias("numCols"),
            F.array("x1", "x2", F.lit(1.0)).alias("values"),
        ).alias("ols_h"),
        F.array("y_ols").alias("y_ols"),
        "y_rls",
        F.array("x1", "x2").alias("rls_x"),
        F.array("s1", "s2").alias("sample"),
    )


def local_level(cls, time_col: str = "ts"):
    return (
        cls(1, 1)
        .setStateKeyCol("key")
        .setEventTimeCol(time_col)
        .setMeasurementCol("z")
        .setInitialStateMean(np.array([LEVEL["m0"]]))
        .setInitialStateCovariance(np.array([[LEVEL["p0"]]]))
        .setProcessNoise(np.array([[LEVEL["q"]]]))
        .setMeasurementNoise(np.array([[LEVEL["r"]]]))
    )


def build(name: str):
    from artan_spark.operators import (
        LinearKalmanFilter,
        LinearKalmanSmoother,
        MultivariateGaussianMixture,
        RecursiveLeastSquaresFilter,
    )

    if name == "lkf":
        return local_level(LinearKalmanFilter)
    if name == "ols":
        return (
            LinearKalmanFilter(3, 1)
            .setStateKeyCol("key")
            .setEventTimeCol("ts")
            .setMeasurementCol("y_ols")
            .setMeasurementModelCol("ols_h")
            .setInitialStateMean(np.zeros(3))
            .setInitialStateCovariance(OLS_P0 * np.eye(3))
            .setProcessModel(np.eye(3))
            .setProcessNoise(np.zeros((3, 3)))
            .setMeasurementNoise(np.array([[1.0]]))
        )
    if name == "rls":
        return (
            RecursiveLeastSquaresFilter(2)
            .setStateKeyCol("key")
            .setEventTimeCol("ts")
            .setLabelCol("y_rls")
            .setFeaturesCol("rls_x")
            .setInitialEstimate(np.zeros(2))
            .setRegularizationMatrixFactor(RLS_P0)
            .setForgettingFactor(1.0)
        )
    if name == "gmm":
        eye = np.eye(2).ravel().tolist()
        return (
            MultivariateGaussianMixture()
            .setStateKeyCol("key")
            .setEventTimeCol("ts")
            .setSampleCol("sample")
            .setInitialWeights([0.5, 0.5])
            .setInitialMeans([[1.0, 1.0], [4.0, 4.0]])
            .setInitialCovariances([eye, eye])
            .setStepSize(0.1)
            .setMinibatchSize(GMM_MINIBATCH)
        )
    if name == "smoother":
        return local_level(LinearKalmanSmoother).setFixedLag(SMOOTHER_LAG)
    raise ValueError(f"unknown operator {name!r}")


def _projection(name: str) -> dict:
    """Output columns the oracle reads, by name."""
    cols = {"stateKey": F.col("stateKey"), "stateIndex": F.col("stateIndex")}
    if name == "smoother":
        cols["stepIndex"] = F.col("stepIndex")
    if name == "gmm":
        cols["weights"] = F.col("mixtureModel.weights")
        cols["dists"] = F.col("mixtureModel.distributions")
    else:
        cols["mean"] = F.col("state.mean")
        cols["cov"] = F.col("state.covariance.values")
    return cols


def observe_sampled(name: str, out: DataFrame, keys: list[str]):
    """Attach an observation that gathers the sampled keys' output rows
    while the action writes every row to its sink. Returns the observed
    frame and a function that returns the gathered rows as pandas (call it
    after the action)."""
    import pandas as pd
    from pyspark.sql import Observation

    cols = _projection(name)
    obs = Observation(f"sampled_{name}")
    wanted = F.col("stateKey").isin(keys)
    if name == "smoother":
        # the filtered and the fully smoothed estimate of each state; the
        # latter runs through every backward step of the window
        wanted = wanted & F.col("stepIndex").isin(*SMOOTHER_STEPS)
    picked = F.when(wanted, F.struct(*[c.alias(n) for n, c in cols.items()]))
    observed = out.observe(obs, F.collect_list(picked).alias("rows"))

    def rows() -> pd.DataFrame:
        got = [r.asDict(recursive=True) for r in obs.get["rows"]]
        return pd.DataFrame(got, columns=list(cols))

    return observed, rows


def check(name: str, got, inputs, keys: list[str]) -> list[str]:
    """Compare collected output with the oracle, key by key. ``inputs`` is
    the generated pandas frame (all keys)."""
    errors: list[str] = []
    for key in keys:
        src = inputs[inputs["key"] == key].sort_values("ts")
        rows = got[got["stateKey"] == key]
        if name == "smoother":
            errors += oracle.check_smoother(key, src["z"].to_numpy(), {
                "stateIndex": rows["stateIndex"].to_numpy(),
                "stepIndex": rows["stepIndex"].to_numpy(),
                "mean": [m[0] for m in rows["mean"]],
                "var": [c[0] for c in rows["cov"]],
            }, {**LEVEL, "lag": SMOOTHER_LAG}, steps=SMOOTHER_STEPS)
            continue
        rows = rows.sort_values("stateIndex")
        idx = rows["stateIndex"].to_numpy()
        if name == "lkf":
            errors += oracle.check_lkf(key, src["z"].to_numpy(), {
                "stateIndex": idx,
                "mean": [m[0] for m in rows["mean"]],
                "var": [c[0] for c in rows["cov"]],
            }, LEVEL)
        elif name in ("ols", "rls"):
            if name == "ols":
                h = np.column_stack([src["x1"], src["x2"], np.ones(len(src))])
                y, p0 = src["y_ols"].to_numpy(), OLS_P0
            else:
                h = np.column_stack([src["x1"], src["x2"]])
                y, p0 = src["y_rls"].to_numpy(), RLS_P0
            d = h.shape[1]
            # covariance values are column-major; the matrices are symmetric
            # in exact arithmetic, so transpose to compare like for like
            cov = np.array([np.reshape(c, (d, d)).T for c in rows["cov"]]).reshape(-1, d, d)
            mean = np.array([np.asarray(m, dtype=float) for m in rows["mean"]]).reshape(-1, d)
            errors += oracle.check_regression(name, key, h, y, {
                "stateIndex": idx, "mean": mean, "cov": cov}, p0)
        else:
            weights = np.array([np.asarray(w, dtype=float) for w in rows["weights"]]).reshape(len(rows), -1)
            params = np.array([
                np.concatenate([np.concatenate([np.asarray(d["mean"], dtype=float),
                                                np.asarray(d["covariance"]["values"], dtype=float)])
                                for d in dists])
                for dists in rows["dists"]
            ]).reshape(len(rows), -1)
            errors += oracle.check_mixture(key, len(src), {
                "stateIndex": idx, "weights": weights, "params": params}, GMM_MINIBATCH)
    return errors
