"""Gradient-boosted decision stumps (histogram method, logistic
objective) — the tree-model tier of the model layer.

XGBoost-style second-order boosting (Chen & Guestrin 2016) restricted
to depth-1 trees: each round fits one (feature, threshold, w_left,
w_right) stump to the Newton gradients of the logistic loss, split
chosen by the standard gain
``G_L²/(H_L+λ) + G_R²/(H_R+λ) − G²/(H+λ)`` over PRE-BINNED feature
histograms. Depth-1 keeps the whole fit inside plain aggregates (no
per-node row routing), yet boosted stumps are the classic strong
baseline for tabular signals the linear tier can't bend around.

Scale shape (the distributed-GBDT histogram recipe):

- bin edges: one exact-quantile pass per feature at fit start
  (driver sees F × n_bins doubles; edges ride IN the model so any
  oracle replays binning bit-for-bit);
- per round: ONE explode to (feature, bin, g, h) rows + ONE
  map-side-combining groupBy(feature, bin) — the shuffle carries at
  most F × (n_bins+1) × partitions pre-combined rows, never the
  corpus; split search is a driver-side prefix sum over F × n_bins
  cells (metadata-sized);
- the margin column is CHECKPOINT-MATERIALIZED per round (the
  iterative-operator policy — without it round r re-executes rounds
  1..r−1; superseded blocks released);
- predict is a pure JVM projection: Σ lr·stump(x) as a when-chain +
  sigmoid. No Python in any per-row path.

NULL policy: a NULL feature value lands in its own bin (−1) and is
routed LEFT by every stump (documented contract; learned default
directions are the depth>1 feature to add when a use case shows up).
Labels must be 0/1 and non-NULL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_export_tool_spark.operators.checkpoint import CheckpointScope

try:  # pragma: no cover - trivial registration
    import sys as _sys

    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(_sys.modules[__name__])
except Exception:
    pass

__all__ = ["gbdt_stumps_fit", "gbdt_stumps_predict"]


def _bin_col(c: F.Column, edges: list[float]) -> F.Column:
    """Bin index in 0..len(edges): #edges strictly below the value;
    NULL → −1 (module-docstring routing contract)."""
    arr = F.array(*[F.lit(float(e)) for e in edges])
    return F.when(
        c.isNull(), F.lit(-1)
    ).otherwise(F.size(F.filter(arr, lambda e: c > e)))


def gbdt_stumps_fit(
    df: DataFrame,
    label_col: str,
    feature_cols: list[str],
    n_rounds: int = 20,
    lr: float = 0.3,
    n_bins: int = 16,
    reg_lambda: float = 1.0,
) -> dict:
    """Fit; returns a plain-JSON-portable model dict:
    ``{base_score, lr, features, edges: {f: [...]}, stumps: [(feature,
    bin_threshold, w_left, w_right), ...]}`` — a row goes LEFT when
    its bin index ≤ bin_threshold (NULL bin −1 is always left)."""
    import math

    if not feature_cols:
        raise ValueError("feature_cols must name at least one column")
    if n_rounds < 1:
        raise ValueError(f"n_rounds must be >= 1: {n_rounds}")
    if not 2 <= n_bins <= 256:
        raise ValueError(f"n_bins must be in 2..256: {n_bins}")

    base = df.select(
        F.col(label_col).cast("double").alias("__y"),
        *[F.col(c).cast("double").alias(c) for c in feature_cols],
    ).where(F.col("__y").isin(0.0, 1.0))

    # exact-quantile bin edges, deduped (constant features bin to one
    # cell and can never split — harmless)
    probs = [i / n_bins for i in range(1, n_bins)]
    edges = {
        c: sorted(set(base.stat.approxQuantile(c, probs, 0.0)))
        for c in feature_cols
    }

    pos = base.agg(F.avg("__y")).first()[0]
    if pos is None:
        raise ValueError("no usable rows (labels must be 0/1, non-NULL)")
    pos = min(max(pos, 1e-6), 1 - 1e-6)
    base_score = math.log(pos / (1 - pos))

    binned = base.select(
        "__y", *[_bin_col(F.col(c), edges[c]).alias(f"__b_{i}")
                 for i, c in enumerate(feature_cols)]
    ).withColumn("__m", F.lit(float(base_score)))
    with CheckpointScope() as scope:
        work = scope.pin(binned)

        stumps: list[tuple[int, int, float, float]] = []
        nf = len(feature_cols)
        for _ in range(n_rounds):
            p = 1.0 / (1.0 + F.exp(-F.col("__m")))
            gh = work.select(
                *[F.col(f"__b_{i}") for i in range(nf)],
                (p - F.col("__y")).alias("__g"),
                (p * (1.0 - p)).alias("__h"),
            )
            # one explode + one partially-aggregated groupBy: the shuffle
            # carries ≤ F×(n_bins+1) combined cells per map task
            melted = gh.select(
                F.explode(
                    F.array(*[
                        F.struct(
                            F.lit(i).alias("f"),
                            F.col(f"__b_{i}").alias("b"),
                            F.col("__g").alias("g"),
                            F.col("__h").alias("h"),
                        )
                        for i in range(nf)
                    ])
                ).alias("x")
            ).select("x.f", "x.b", "x.g", "x.h")
            cells = (
                melted.groupBy("f", "b")
                .agg(F.sum("g").alias("sg"), F.sum("h").alias("sh"))
                .collect()
            )
            hist: dict[int, dict[int, tuple[float, float]]] = {}
            for r in cells:
                hist.setdefault(r["f"], {})[r["b"]] = (r["sg"], r["sh"])
            Gt = sum(v[0] for fb in hist.values() for v in fb.values()) / nf
            Ht = sum(v[1] for fb in hist.values() for v in fb.values()) / nf
            root_term = Gt * Gt / (Ht + reg_lambda)

            best = None  # (gain, f, thr, wl, wr)
            for fi in range(nf):
                fb = hist.get(fi, {})
                bins = sorted(b for b in fb if b >= 0)
                null_g, null_h = fb.get(-1, (0.0, 0.0))
                gl = null_g
                hl = null_h
                # NULL bin is always left; thresholds between real bins
                for b in bins[:-1]:
                    gl += fb[b][0]
                    hl += fb[b][1]
                    gr, hr = Gt - gl, Ht - hl
                    gain = (
                        gl * gl / (hl + reg_lambda)
                        + gr * gr / (hr + reg_lambda)
                        - root_term
                    )
                    if best is None or gain > best[0] + 1e-12:
                        wl = -gl / (hl + reg_lambda)
                        wr = -gr / (hr + reg_lambda)
                        best = (gain, fi, b, wl, wr)
            if best is None or best[0] <= 1e-12:
                break  # no split improves the loss — stop early
            _, fi, thr, wl, wr = best
            stumps.append((fi, int(thr), float(wl), float(wr)))
            step = F.when(
                F.col(f"__b_{fi}") <= thr, F.lit(lr * wl)
            ).otherwise(F.lit(lr * wr))
            new_work = scope.pin(work.withColumn("__m", F.col("__m") + step))
            scope.drop(work)
            work = new_work
    return {
        "base_score": float(base_score),
        "lr": float(lr),
        "features": list(feature_cols),
        "edges": {c: [float(x) for x in edges[c]] for c in feature_cols},
        "stumps": stumps,
    }


def gbdt_stumps_predict(
    df: DataFrame, model: dict, out_col: str = "p"
) -> DataFrame:
    """Append margin + probability — one pure-JVM projection (bin
    lookups + a when-chain per stump + sigmoid)."""
    feats = model["features"]
    margin = F.lit(float(model["base_score"]))
    lr = float(model["lr"])
    bins = {
        i: _bin_col(F.col(c).cast("double"), model["edges"][c])
        for i, c in enumerate(feats)
    }
    for fi, thr, wl, wr in model["stumps"]:
        margin = margin + F.when(
            bins[fi] <= F.lit(int(thr)), F.lit(lr * float(wl))
        ).otherwise(F.lit(lr * float(wr)))
    return df.withColumn("margin", margin).withColumn(
        out_col, 1.0 / (1.0 + F.exp(-F.col("margin")))
    )
