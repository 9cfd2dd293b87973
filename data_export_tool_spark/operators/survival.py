"""Kaplan-Meier survival estimation — time-to-event analytics at scale.

Retention analytics (X48) answers "how many users came back in week
k"; the survival view answers the censored-data version — "what
fraction of users SURVIVE past duration t when many are still active
(censored)?" — time-to-churn, time-to-first-purchase, subscription
lifetime. The product estimator (Kaplan & Meier 1958):

    S(t) = Π_{t_i ≤ t} (1 − d_i / n_i)

with d_i events and n_i at-risk subjects at distinct event time t_i,
plus the Greenwood (1926) standard error
``se = S · sqrt(Σ d_i / (n_i (n_i − d_i)))``.

Scale shape: ONE partial-aggregable ``groupBy(duration)`` collapses
the subject-grain input (billions of rows) to distinct-duration grain
(bounded by time resolution — days/weeks, thousands of rows), and the
cumulative windows run over THAT frame only — the same
bounded-bin-frame contract as ``evalmetrics``/isotonic. With
``group_col`` the window partitions by cohort, so nothing is global
even at the aggregated grain.

The cumulative product is ``exp(Σ log(1 − d/n))`` with an explicit
zero guard: once any factor hits 0 (everyone at risk dies at t_i) the
curve is exactly 0 from there on — tracked with a cumulative
zero-factor count, because ``log(0)`` is NULL in Spark SQL and −inf
in most oracles; both are wrong to propagate.

Censoring convention (standard): subjects censored at t are at risk
AT t (they leave the risk set after t); events and censorings at the
same t count the event first. Rows with NULL duration or NULL event
flag are excluded by contract.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_export_tool_spark.operators.checkpoint import CheckpointScope

__all__ = [
    "km_survival",
    "logrank_test",
    "cox_ph",
    "cox_predict",
    "py_cox_fold",
]


def km_survival(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """Kaplan-Meier curve per cohort.

    ``event_col`` is 1 for an observed event, 0 for right-censored.
    Output grain: one row per (cohort,) distinct duration with
    ``n_risk, n_events, n_censored, survival, se`` — survival is
    S(t) AT t (after applying t's factor).
    """
    keys = [group_col] if group_col else []
    base = df.where(
        F.col(duration_col).isNotNull() & F.col(event_col).isNotNull()
    ).select(
        *keys,
        F.col(duration_col).alias("t"),
        F.col(event_col).cast("int").alias("__e"),
    )
    # subject grain -> distinct-duration grain (map-side combinable)
    grid = base.groupBy(*keys, "t").agg(
        F.sum("__e").alias("n_events"),
        F.sum(1 - F.col("__e")).alias("n_censored"),
    )
    w_all = Window.partitionBy(*keys) if keys else Window.partitionBy()
    w_cum = (
        w_all.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    left = F.col("n_events") + F.col("n_censored")
    # suffix sum as a RUNNING sum over the reversed ordering — a
    # (0, unboundedFollowing) frame re-aggregates per row (O(rows²)
    # per key, the timeseries.interpolate_linear finding)
    grid = grid.withColumn(
        "n_risk",
        F.sum(left).over(
            w_all.orderBy(F.col("t").desc())
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    factor = 1 - F.col("n_events") / F.col("n_risk")
    grid = grid.withColumn(
        "__zeros", F.sum((factor == 0).cast("int")).over(w_cum)
    ).withColumn(
        "__logsum",
        F.sum(F.when(factor > 0, F.log(factor)).otherwise(F.lit(0.0))).over(w_cum),
    ).withColumn(
        "__gw",
        F.sum(
            F.when(
                F.col("n_events") < F.col("n_risk"),
                F.col("n_events")
                / (F.col("n_risk") * (F.col("n_risk") - F.col("n_events"))),
            ).otherwise(F.lit(0.0))
        ).over(w_cum),
    )
    surv = F.when(F.col("__zeros") > 0, F.lit(0.0)).otherwise(F.exp("__logsum"))
    return grid.select(
        *keys,
        "t",
        "n_risk",
        "n_events",
        "n_censored",
        surv.alias("survival"),
        (surv * F.sqrt("__gw")).alias("se"),
    )


def logrank_test(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_col: str,
) -> DataFrame:
    """Two-sample log-rank test (Mantel 1966) — "do these cohorts'
    survival curves differ?", the significance companion to
    :func:`km_survival` (churn A/B readouts, cohort retention
    comparisons).

    At each distinct event time t: with n_gt at risk and d_gt events
    in group g, the first group's expectation is E_t = d_t·n_1t/n_t
    and hypergeometric variance
    V_t = d_t·(n_1t/n_t)·(1−n_1t/n_t)·(n_t−d_t)/(n_t−1);
    Z = Σ(d_1t − E_t)/√ΣV_t, χ² = Z² (1 df), p from the normal tail
    (driver-side ``math.erfc`` — three scalars cross the driver).

    Scale shape: ONE groupBy(duration) collapse carrying conditional
    group-1 partials (subject grain → bounded duration grain, exactly
    the ``km_survival`` contract), reverse-cumulative risk sets over
    that frame, one global aggregate of three sums. Exactly two groups
    required; the group values are surfaced in the output row.
    """
    import math

    groups = [
        r["g"]
        for r in df.where(F.col(group_col).isNotNull())
        .select(F.col(group_col).cast("string").alias("g"))
        .distinct()
        .orderBy("g")
        .collect()
    ]
    if len(groups) != 2:
        raise ValueError(f"logrank_test needs exactly 2 groups, got {groups}")
    g1 = groups[0]
    base = df.where(
        F.col(duration_col).isNotNull()
        & F.col(event_col).isNotNull()
        & F.col(group_col).isNotNull()
    ).select(
        F.col(duration_col).alias("t"),
        F.col(event_col).cast("int").alias("__e"),
        (F.col(group_col).cast("string") == g1).cast("int").alias("__g1"),
    )
    grid = base.groupBy("t").agg(
        F.sum("__e").alias("d"),
        F.sum(F.col("__e") * F.col("__g1")).alias("d1"),
        F.count(F.lit(1)).alias("m"),
        F.sum("__g1").alias("m1"),
    )
    w_rev = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    grid = grid.withColumn("n", F.sum("m").over(w_rev)).withColumn(
        "n1", F.sum("m1").over(w_rev)
    )
    ev = grid.where(F.col("d") > 0)
    sums = ev.agg(
        F.sum("d1").alias("o1"),
        F.sum(F.col("d") * F.col("n1") / F.col("n")).alias("e1"),
        F.sum(
            F.when(
                F.col("n") > 1,
                F.col("d")
                * (F.col("n1") / F.col("n"))
                * (1 - F.col("n1") / F.col("n"))
                * (F.col("n") - F.col("d"))
                / (F.col("n") - 1),
            ).otherwise(F.lit(0.0))
        ).alias("v"),
    ).collect()[0]
    o1, e1, v = float(sums["o1"]), float(sums["e1"]), float(sums["v"])
    z = (o1 - e1) / math.sqrt(v) if v > 0 else 0.0
    p = math.erfc(abs(z) / math.sqrt(2.0))
    spark = df.sparkSession
    return spark.createDataFrame(
        [(g1, groups[1], o1, e1, v, z, z * z, p)],
        "group_1 string, group_2 string, observed_1 double, expected_1 double,"
        " variance double, z double, chi2 double, p_value double",
    )


def _cox_partials(base: DataFrame, beta, d: int, weighted: bool = False):
    """One time-grain aggregation at the current β: per distinct
    duration, (d_t, Σ_event x, Σ w, Σ w·x, Σ w·x_i·x_j) where
    w = exp(clamp(x·β)). Collected rows — bounded by distinct times
    (``cox_ph`` enforces the cap).

    ``weighted=True`` aggregates the (t, x)-GRAIN table instead of the
    subject grain — rows carry ``__m`` (subjects in the cell) and
    ``__me`` (events in the cell); every sum picks up the multiplicity
    (x is constant within a cell, so Σ_events x_i = ``__me``·x_i and
    Σ w·f(x) = ``__m``·w·f(x) — the classic sufficient-statistic
    reduction, exact in exact arithmetic)."""
    x = F.col("__x")
    lin = F.lit(0.0)
    for i, b in enumerate(beta):
        lin = lin + F.lit(float(b)) * x[i]
    lin = F.greatest(F.lit(-50.0), F.least(F.lit(50.0), lin))
    w = F.exp(lin)
    if weighted:
        m = F.col("__m")
        aggs = [
            F.sum("__me").alias("d_t"),
            F.sum(m * w).alias("sw"),
        ]
        for i in range(d):
            aggs.append(F.sum(F.col("__me") * x[i]).alias(f"sx_{i}"))
            aggs.append(F.sum(m * w * x[i]).alias(f"swx_{i}"))
        for i in range(d):
            for j in range(i, d):
                aggs.append(
                    F.sum(m * w * x[i] * x[j]).alias(f"swxx_{i}_{j}")
                )
        return base.groupBy("t").agg(*aggs).collect()
    aggs = [
        F.sum("__e").alias("d_t"),
        F.sum(w).alias("sw"),
    ]
    for i in range(d):
        aggs.append(
            F.sum(F.when(F.col("__e") == 1, x[i]).otherwise(0.0)).alias(
                f"sx_{i}"
            )
        )
        aggs.append(F.sum(w * x[i]).alias(f"swx_{i}"))
    for i in range(d):
        for j in range(i, d):
            aggs.append(F.sum(w * x[i] * x[j]).alias(f"swxx_{i}_{j}"))
    return base.groupBy("t").agg(*aggs).collect()


def py_cox_fold(rows, beta, d: int):
    """Driver fold of one iteration's time-grain partials into
    (loglik, gradient U, information I) under Breslow ties — the exact
    arithmetic ``cox_ph`` steps on, exposed for oracle replay. ``rows``
    are dicts keyed like ``_cox_partials``' output."""
    import numpy as np

    rows = sorted(rows, key=lambda r: -float(r["t"]))
    S0 = 0.0
    S1 = np.zeros(d)
    S2 = np.zeros((d, d))
    ll = 0.0
    U = np.zeros(d)
    info = np.zeros((d, d))
    beta = np.asarray(beta, dtype=float)
    for r in rows:
        S0 += float(r["sw"])
        for i in range(d):
            S1[i] += float(r[f"swx_{i}"])
            for j in range(i, d):
                v = float(r[f"swxx_{i}_{j}"])
                S2[i, j] += v
                if i != j:
                    S2[j, i] += v
        d_t = float(r["d_t"])
        if d_t > 0 and S0 > 0:
            sx = np.array([float(r[f"sx_{i}"]) for i in range(d)])
            m = S1 / S0
            ll += sx @ beta - d_t * math.log(S0)
            U += sx - d_t * m
            info += d_t * (S2 / S0 - np.outer(m, m))
    return ll, U, info


def cox_ph(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    vec_col: str = "embedding",
    iters: int = 20,
    tol: float = 1e-9,
    ridge: float = 1e-8,
    max_times: int = 200_000,
    max_features: int = 15,
) -> dict:
    """Cox proportional-hazards regression (Breslow ties) by Newton-
    Raphson — the covariate-adjusted companion to :func:`km_survival`
    / :func:`logrank_test`: "which factors drive the hazard, and by
    how much, with everyone else held fixed".

    Scale shape — the bounded-round + bounded-driver discipline of
    ``linear.logreg_fit``: per Newton round, ONE map-side-combinable
    ``groupBy(duration)`` computes every risk-set partial
    (d + d(d+1)/2 + 2 sums per distinct time; ``max_features`` caps
    d ≤ 15 → ≤ 137 aggregate expressions), the ≤ ``max_times``
    time-grain rows are folded on the driver with a reverse-cumulative
    pass (risk sets are suffix sums over time), and the k×k Newton
    step is numpy. Subject rows never leave the cluster; rounds are
    bounded by ``iters`` with an early stop on |Δ log-partial-lik| <
    ``tol``. The linear predictor is clamped to ±50 before exp (the
    ``logreg_fit`` ±35 convention, wider because hazards legitimately
    span more) — the replay oracle applies the identical clamp.

    Returns ``{"coef", "se" (inverse-information), "hazard_ratio",
    "loglik", "loglik0" (β=0), "iters", "n", "n_events", "d"}``.
    ``event_col``: 1 = event, 0 = right-censored; NULL duration/event/
    vector rows are excluded.

    Scale/measurement notes (r11, guide §1.2/§5): the (t, e, x)
    projection is ``localCheckpoint``-ed ONCE — every Newton round
    (plus the validation pass and the final fold: iters+3 actions)
    re-reads those blocks instead of re-scanning and re-projecting the
    source (b122 measured ~11 full parquet scans per fit before this);
    the three validation scalars (n, events, distinct t) ride ONE
    aggregate over the checkpoint instead of three separate jobs. The
    checkpoint lives in one ``CheckpointScope``, freed on every exit
    path.
    """
    import numpy as np

    with CheckpointScope() as scope:
        base = scope.pin(
            df.where(
                F.col(duration_col).isNotNull()
                & F.col(event_col).isNotNull()
                & F.col(vec_col).isNotNull()
            ).select(
                F.col(duration_col).cast("double").alias("t"),
                F.col(event_col).cast("int").alias("__e"),
                F.col(vec_col).alias("__x"),
            )
        )
        stats = base.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__e").alias("ev"),
            F.count_distinct("t").alias("nt"),
            # grain-size probe for the collapse gate below: APPROX —
            # a second exact distinct would turn the whole stats
            # aggregate into an Expand (3× the input rows; measured
            # +3 s at 600k rows), while the HLL sketch rides the same
            # single pass; the ×4 gate has far more slack than the
            # sketch's error
            F.approx_count_distinct(F.struct("t", "__x")).alias("ng"),
            F.size(F.first("__x")).alias("d"),
        ).first()
        if int(stats["n"]) == 0:
            raise ValueError("no usable (duration, event, vector) rows")
        d = int(stats["d"])
        if d < 1 or d > max_features:
            raise ValueError(
                f"cox_ph supports 1..{max_features} features, got {d}"
            )
        n_times = int(stats["nt"])
        if n_times > max_times:
            raise ValueError(
                f"cox_ph: {n_times} distinct durations exceeds max_times="
                f"{max_times}; coarsen the time grid upstream"
            )
        n, n_events = int(stats["n"]), int(stats["ev"] or 0)
        if n_events == 0:
            raise ValueError("cox_ph: no events (all rows censored)")

        # value-grain collapse (r11, guide §2.3 aggregate-before-
        # iterate): every partial is a sum of f(t, x; β) over subjects,
        # so duplicate (t, x) rows collapse EXACTLY to one weighted row
        # (__m subjects, __me events) — with banded/categorical
        # covariates each Newton round then aggregates the grain, not
        # the subjects. Gated on a ≥4× measured reduction (the ``ng``
        # scalar above): continuous covariates keep the subject-grain
        # path and skip the extra setup shuffle.
        fit_df, weighted = base, False
        n_grain = int(stats["ng"])
        if n_grain <= n // 4:
            weighted = True
            fit_df = scope.pin(
                base.groupBy("t", "__x").agg(
                    F.count(F.lit(1)).cast("double").alias("__m"),
                    F.sum("__e").cast("double").alias("__me"),
                )
            )
            # the subject-grain blocks are dead once the grain table
            # is materialized
            scope.drop(base)

        beta = np.zeros(d)
        ll_prev = None
        ll0 = None
        iters_done = 0
        U = np.zeros(d)
        info = np.eye(d)
        for iters_done in range(1, iters + 1):
            rows = _cox_partials(fit_df, beta.tolist(), d, weighted=weighted)
            ll, U, info = py_cox_fold(rows, beta, d)
            if ll0 is None and not beta.any():
                ll0 = ll
            step = np.linalg.solve(info + ridge * np.eye(d), U)
            beta = beta + step
            if ll_prev is not None and abs(ll - ll_prev) < tol:
                break
            ll_prev = ll
        # final fold at the returned β for loglik + SE information
        rows = _cox_partials(fit_df, beta.tolist(), d, weighted=weighted)
    ll, _, info = py_cox_fold(rows, beta, d)
    cov = np.linalg.inv(info + ridge * np.eye(d))
    se = np.sqrt(np.clip(np.diag(cov), 0.0, None))
    return {
        "coef": beta.tolist(),
        "se": se.tolist(),
        "hazard_ratio": np.exp(beta).tolist(),
        "loglik": float(ll),
        "loglik0": float(ll0) if ll0 is not None else None,
        "iters": iters_done,
        "n": n,
        "n_events": n_events,
        "d": d,
    }


def cox_predict(
    df: DataFrame, model: dict, vec_col: str = "embedding",
    out_col: str = "partial_hazard",
) -> DataFrame:
    """Partial-hazard scoring exp(x·β) as a pure column projection
    (broadcast coefficients, the ±50 clamp of the trainer)."""
    x = F.col(vec_col)
    lin = F.lit(0.0)
    for i, b in enumerate(model["coef"]):
        lin = lin + F.lit(float(b)) * x[i]
    lin = F.greatest(F.lit(-50.0), F.least(F.lit(50.0), lin))
    return df.withColumn(out_col, F.exp(lin))
