"""Distribution drift between two snapshots of a table.

``validate.profile_drift`` flags coarse movement (null rate, distinct
ratio, min/max) but says nothing about the *shape* of a column's
distribution — the thing that silently rots a trained model when an
upstream producer changes units, truncates a field, or starts emitting
a new category. This module adds the standard monitoring statistics:

* **PSI** (population stability index, Σ (pₙ − pₒ)·ln(pₙ/pₒ) over a
  shared bucketing) for numeric AND categorical columns — the industry
  drift score with its conventional 0.1 / 0.2 alert thresholds.
* **KS** (two-sample Kolmogorov–Smirnov statistic, max |CDFₒ − CDFₙ|)
  over the binned CDF for numeric columns — exact for the binned
  distribution, and the binning error is bounded by the bucket mass.
* **TVD** (total variation distance, ½ Σ |pₙ − pₒ|) over all buckets
  including NULL and OTHER — a smoothing-free companion to PSI.

Scale design (the whole point): each snapshot is read in ONE
partial-aggregable aggregation pass — every bucket count is a
``sum(CASE WHEN …)`` over the scan, so map-side combine reduces each
task to ``n_cols × (n_bins + 2)`` longs before the (single-row)
exchange. The numeric bucketing is fitted once on the OLD snapshot
with the Greenwald–Khanna sketch (one extra pass, driver holds only
the cut points) and the categorical vocabulary is the old snapshot's
exact top-k (bounded by ``k``); both can instead be supplied
explicitly so a monitoring job can pin its bucketing across days.
The driver-side arithmetic touches only the bounded histogram
(``n_cols × (n_bins + 2)`` floats) — never row data.

No reference-parity citation: the reference (CDC-HIS/data-export-tool)
has no monitoring surface; this extends SURVEY §2k.
"""

from __future__ import annotations

import math
from typing import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_export_tool_spark.operators.checkpoint import CheckpointScope
from .sketch import exact_topk

__all__ = [
    "fit_drift_bins",
    "fit_drift_vocab",
    "snapshot_histograms",
    "distribution_drift",
]

# Conventional PSI reading: < 0.1 stable, 0.1–0.2 moderate, > 0.2 major.
PSI_ALERT = 0.2


def fit_drift_bins(
    df: DataFrame,
    numeric_cols: Sequence[str],
    n_bins: int = 10,
    relative_error: float = 0.001,
) -> dict[str, list[float]]:
    """Per-column interior cut points (``n_bins − 1`` each) fitted on
    the baseline snapshot in ONE sketch pass over all columns
    (``approxQuantile`` with a column list — GK sketches build
    side-by-side in a single scan; driver holds only the cuts).
    Duplicate cuts from low-cardinality columns are collapsed so every
    bucket is distinguishable."""
    numeric_cols = list(numeric_cols)
    if not numeric_cols:
        return {}
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2: {n_bins}")
    probs = [i / n_bins for i in range(1, n_bins)]
    all_cuts = df.stat.approxQuantile(numeric_cols, probs, relative_error)
    out: dict[str, list[float]] = {}
    for c, cuts in zip(numeric_cols, all_cuts):
        seen: list[float] = []
        for v in cuts:
            if v is not None and (not seen or v != seen[-1]):
                seen.append(float(v))
        out[c] = seen
    return out


def fit_drift_vocab(
    df: DataFrame, categorical_cols: Sequence[str], top_k: int = 20
) -> dict[str, list[str]]:
    """Per-column tracked category list: the baseline snapshot's exact
    top-``k`` most frequent values (``sketch.exact_topk`` — salted,
    bounded), sorted for determinism. Everything else lands in the
    OTHER bucket."""
    out: dict[str, list[str]] = {}
    for c in categorical_cols:
        rows = exact_topk(df, c, top_k).collect()
        out[c] = sorted(r["item"] for r in rows)
    return out


def _bucket_exprs(
    bins: Mapping[str, Sequence[float]], vocab: Mapping[str, Sequence[str]]
):
    """The flat list of ``sum(CASE WHEN …)`` aggregate expressions and
    the matching (column, bucket-label) index. Bucket layout per
    numeric column: one bucket per cut interval (count of cuts the
    value exceeds — the ``apply_quantile_bins`` rule) plus NULL; per
    categorical column: one bucket per tracked category, OTHER, NULL.
    """
    aggs, index = [], []
    for c, cuts in bins.items():
        col = F.col(c)
        for b in range(len(cuts) + 1):
            if not cuts:
                pred = col.isNotNull()
            elif b == 0:
                pred = col.isNotNull() & (col <= F.lit(float(cuts[0])))
            elif b == len(cuts):
                pred = col > F.lit(float(cuts[-1]))
            else:
                pred = (col > F.lit(float(cuts[b - 1]))) & (
                    col <= F.lit(float(cuts[b]))
                )
            aggs.append(F.sum(pred.cast("long")))
            index.append((c, f"bin_{b}"))
        aggs.append(F.sum(col.isNull().cast("long")))
        index.append((c, "NULL"))
    for c, cats in vocab.items():
        col = F.col(c).cast("string")
        for v in cats:
            aggs.append(F.sum((col == F.lit(v)).cast("long")))
            index.append((c, f"cat_{v}"))
        other = col.isNotNull() & ~col.isin(list(cats)) if cats else col.isNotNull()
        aggs.append(F.sum(other.cast("long")))
        index.append((c, "OTHER"))
        aggs.append(F.sum(col.isNull().cast("long")))
        index.append((c, "NULL"))
    return aggs, index


def snapshot_histograms(
    df: DataFrame,
    bins: Mapping[str, Sequence[float]],
    vocab: Mapping[str, Sequence[str]],
) -> dict[str, dict[str, int]]:
    """All columns' bucket counts in ONE aggregation pass over ``df``
    (every bucket a partial-aggregable ``sum(CASE WHEN …)``; map-side
    combine reduces each task to the bucket vector before the
    single-row exchange). Returns ``{column: {bucket_label: count}}``
    — driver memory is the bucket count, never row data."""
    aggs, index = _bucket_exprs(bins, vocab)
    if not aggs:
        return {}
    row = df.agg(*aggs).first()
    out: dict[str, dict[str, int]] = {}
    for (c, label), v in zip(index, row):
        out.setdefault(c, {})[label] = int(v or 0)
    return out


def _psi(po: Sequence[float], pn: Sequence[float], eps: float) -> float:
    s = 0.0
    for o, n in zip(po, pn):
        o, n = max(o, eps), max(n, eps)
        s += (n - o) * math.log(n / o)
    return s


def distribution_drift(
    spark: SparkSession,
    old: DataFrame,
    new: DataFrame,
    numeric_cols: Sequence[str] = (),
    categorical_cols: Sequence[str] = (),
    n_bins: int = 10,
    top_k: int = 20,
    bins: Mapping[str, Sequence[float]] | None = None,
    vocab: Mapping[str, Sequence[str]] | None = None,
    epsilon: float = 1e-6,
    psi_alert: float = PSI_ALERT,
) -> DataFrame:
    """Per-column drift statistics between two snapshots.

    Output (one row per column, tiny):
    ``column, kind, psi, ks, tvd, n_old, n_new, flagged`` where
    ``kind ∈ {numeric, categorical}``; ``ks`` is NULL for categorical
    columns (no ordering) and when either snapshot has zero non-NULL
    values; ``flagged = psi >= psi_alert``. PSI is ε-smoothed over all
    buckets including NULL (a null-rate shift IS distribution drift);
    TVD is unsmoothed; KS is over the binned non-NULL CDF.

    ``bins`` / ``vocab`` pin the bucketing explicitly (a daily monitor
    should fit once and reuse); when omitted they are fitted on
    ``old`` (quantile cuts / exact top-k). Cost: ≤ one fit pass per
    numeric column on ``old`` plus exactly one histogram pass per
    snapshot, all sketch- or bucket-bounded — no row data reaches the
    driver."""
    if isinstance(numeric_cols, str):
        numeric_cols = [numeric_cols]
    if isinstance(categorical_cols, str):
        categorical_cols = [categorical_cols]
    if bins is None:
        bins = fit_drift_bins(old, numeric_cols, n_bins)
    else:
        bins = {c: list(bins[c]) for c in numeric_cols}
    if vocab is None:
        vocab = fit_drift_vocab(old, categorical_cols, top_k)
    else:
        vocab = {c: list(vocab[c]) for c in categorical_cols}

    h_old = snapshot_histograms(old, bins, vocab)
    h_new = snapshot_histograms(new, bins, vocab)

    rows = []
    for c in list(numeric_cols) + list(categorical_cols):
        kind = "numeric" if c in bins else "categorical"
        ho, hn = h_old.get(c, {}), h_new.get(c, {})
        labels = list(ho)  # insertion order: bins asc, then NULL/OTHER
        n_old = sum(ho.values())
        n_new = sum(hn.values())
        po = [ho[k] / n_old if n_old else 0.0 for k in labels]
        pn = [hn.get(k, 0) / n_new if n_new else 0.0 for k in labels]
        psi = _psi(po, pn, epsilon)
        tvd = 0.5 * sum(abs(a - b) for a, b in zip(po, pn))
        ks = None
        if kind == "numeric":
            ob = [ho[k] for k in labels if k != "NULL"]
            nb = [hn.get(k, 0) for k in labels if k != "NULL"]
            so, sn = sum(ob), sum(nb)
            if so and sn:
                co = cn = 0.0
                ks = 0.0
                for a, b in zip(ob, nb):
                    co += a / so
                    cn += b / sn
                    ks = max(ks, abs(co - cn))
        rows.append(
            (
                c,
                kind,
                float(psi),
                None if ks is None else float(ks),
                float(tvd),
                n_old,
                n_new,
                bool(psi >= psi_alert),
            )
        )
    schema = T.StructType(
        [
            T.StructField("column", T.StringType()),
            T.StructField("kind", T.StringType()),
            T.StructField("psi", T.DoubleType()),
            T.StructField("ks", T.DoubleType()),
            T.StructField("tvd", T.DoubleType()),
            T.StructField("n_old", T.LongType()),
            T.StructField("n_new", T.LongType()),
            T.StructField("flagged", T.BooleanType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


def ks_exact(
    old: DataFrame,
    new: DataFrame,
    col: str,
    num_ranges: int = 64,
) -> DataFrame:
    """EXACT two-sample Kolmogorov–Smirnov statistic — the unbinned
    upgrade of :func:`distribution_drift`'s binned KS (whose error is
    bounded by bucket mass; this one has none): D = sup over values of
    |ECDF_old − ECDF_new|, with the asymptotic two-sided p-value
    (Kolmogorov distribution, the scipy.ks_2samp 'asymp' convention).

    Scale — the value-grain two-phase cumsum (the rank_transform
    machinery pointed at two ECDFs at once): each side collapses to
    (value, count) map-side (ties and hot values become one row), the
    union is ONE groupBy with two conditional sums, per-range
    cumulative counts run with range parallelism off approx-quantile
    cuts (any cuts are exact — the ECDF step positions don't move),
    range totals prefix-sum in a ≤num_ranges metadata window, and the
    sup is one global max aggregate. NULLs are excluded (no position
    on the line). Output: one row ``(n_old, n_new, ks, p_value)``.
    """
    from pyspark.sql import Window

    def side(df, tag):
        return (
            df.where(F.col(col).isNotNull())
            .select(F.col(col).cast("double").alias("__v"))
            .groupBy("__v")
            .agg(F.count(F.lit(1)).alias(f"__c_{tag}"))
        )

    # the value-grain union feeds FOUR consumers (approx-quantile cut
    # action, the totals collect, and both the cumsum and range-total
    # branches of the sup job) — materialize it once (r10; the
    # _exact_lattice/weighted_quantiles policy) instead of re-running
    # both side aggregations and the full join per consumer. The scope
    # frees it on EVERY exit (a task/quantile failure must not leak the
    # checkpoint blocks for the session lifetime).
    with CheckpointScope() as scope:
        vc = scope.pin(
            side(old, "o").join(side(new, "n"), "__v", "full").select(
                "__v",
                F.coalesce("__c_o", F.lit(0)).alias("co"),
                F.coalesce("__c_n", F.lit(0)).alias("cn"),
            )
        )
        probs = [i / num_ranges for i in range(1, num_ranges)]
        bounds = sorted(set(vc.stat.approxQuantile("__v", probs, 0.01)))
        if bounds:
            cuts = F.array(*[F.lit(float(b)) for b in bounds])
            rng = F.size(F.filter(cuts, lambda b: F.col("__v") > b))
        else:
            rng = F.lit(0)
        marked = vc.withColumn("__rng", rng)
        w_in = (
            Window.partitionBy("__rng")
            .orderBy("__v")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        within = marked.withColumn("__cum_o", F.sum("co").over(w_in)).withColumn(
            "__cum_n", F.sum("cn").over(w_in)
        )
        counts = marked.groupBy("__rng").agg(
            F.sum("co").alias("__ro"), F.sum("cn").alias("__rn")
        )
        w_off = Window.orderBy("__rng").rowsBetween(Window.unboundedPreceding, -1)
        offsets = counts.select(
            "__rng",
            F.coalesce(F.sum("__ro").over(w_off), F.lit(0).cast("long")).alias("__oo"),
            F.coalesce(F.sum("__rn").over(w_off), F.lit(0).cast("long")).alias("__on"),
        )
        joined = within.join(F.broadcast(offsets), "__rng")
        totals = vc.agg(
            F.sum("co").alias("no"), F.sum("cn").alias("nn")
        ).collect()[0]
        n_o, n_n = int(totals["no"] or 0), int(totals["nn"] or 0)
        if n_o == 0 or n_n == 0:
            raise ValueError(f"ks_exact needs non-empty sides: {n_o}, {n_n}")
        d_row = joined.select(
            F.abs(
                (F.col("__oo") + F.col("__cum_o")) / F.lit(float(n_o))
                - (F.col("__on") + F.col("__cum_n")) / F.lit(float(n_n))
            ).alias("__d")
        ).agg(F.max("__d").alias("ks")).collect()[0]
    d = float(d_row["ks"])
    # asymptotic two-sided p: Kolmogorov survival function
    import math

    lam = d * math.sqrt(n_o * n_n / (n_o + n_n))
    if lam < 1e-3:
        # the alternating series degenerates numerically as λ → 0;
        # the Kolmogorov survival function is 1 there
        p = 1.0
    else:
        p = 2.0 * sum(
            (-1) ** (k - 1) * math.exp(-2.0 * (k * lam) ** 2)
            for k in range(1, 101)
        )
        p = min(max(p, 0.0), 1.0)
    spark = old.sparkSession
    return spark.createDataFrame(
        [(n_o, n_n, round(d, 9), round(p, 9))],
        "n_old long, n_new long, ks double, p_value double",
    )
