"""Featurization for training-data pipelines: deterministic text
embeddings (feature hashing), quantile binning, and column scaling.

The glue between the text analytics and the vector operators: a 100 TB
corpus without model-generated embeddings still needs a vector column
for near-dup detection, clustering, and ANN smoke paths.
``hashed_embedding`` is the classic feature-hashing trick (Weinberger
et al. 2009 / HashingTF): token → hash bucket → count vector, L2
normalized. Hashing uses ``crc32`` of the raw token bytes — available
bit-identically JVM-side (``F.crc32``) and in the Python stdlib
(``zlib.crc32``), so an external oracle replays vectors exactly
(xxhash64 would be faster but has no stdlib twin to verify against).

All three fit/apply pairs follow the same scale contract: the FIT is
one partial-aggregable pass (or a driver-side quantile sketch read),
the APPLY is a pure scan-side projection with the fitted parameters
embedded as literals/broadcasts — nothing shuffles at apply time.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType

# Arrow-batch functions reference module helpers; ship by value (same
# policy as streaming/events.py and clustering.py).
try:  # pragma: no cover - trivial registration
    import sys as _sys

    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(_sys.modules[__name__])
except Exception:
    pass

#: shared tokenizer contract with operators/ranking.py
from data_export_tool_spark.operators.checkpoint import CheckpointScope
from data_export_tool_spark.operators.ranking import TOKEN_SPLIT_RE


def _token_buckets(text: Column, dim: int, min_len: int) -> Column:
    toks = F.filter(
        F.split(F.lower(text), TOKEN_SPLIT_RE),
        lambda t: F.length(t) >= min_len,
    )
    return F.transform(toks, lambda t: F.crc32(t.cast("binary")) % dim)


def hashed_embedding(
    df: DataFrame,
    dim: int = 64,
    text_col: str = "text",
    out_col: str = "embedding",
    min_len: int = 2,
    normalize: bool = True,
) -> DataFrame:
    """Append a ``dim``-sized ``array<double>`` feature-hashed
    embedding of ``text_col``: token counts by ``crc32(token) % dim``
    bucket, L2-normalized by default. NULL text → NULL vector; a text
    with no usable tokens → the zero vector (which the cosine
    operators already guard as NULL-similarity).

    Shape: bucket ids are computed JVM-side in the scan projection;
    one Arrow batch pass bincounts them per row (C-speed per row, no
    per-token Python). A projection — no shuffle, all columns kept.
    """
    import numpy as np
    import pandas as pd

    if dim < 1:
        raise ValueError(f"dim must be >= 1: {dim}")

    def _vec(buckets):
        out = []
        for b in buckets:
            if b is None:
                out.append(None)
                continue
            v = np.bincount(
                np.asarray(b, dtype=np.int64), minlength=dim
            ).astype(np.float64)
            if normalize:
                n = float(np.linalg.norm(v))
                if n > 0:
                    v = v / n
            out.append(v.tolist())
        return pd.Series(out, dtype="object")

    _vec.__annotations__ = {"buckets": pd.Series, "return": pd.Series}
    vec_udf = F.pandas_udf(_vec, ArrayType(DoubleType()))
    return df.withColumn(
        out_col, vec_udf(_token_buckets(F.col(text_col), dim, min_len))
    )


def py_hashed_embedding(
    text: str | None, dim: int = 64, min_len: int = 2, normalize: bool = True
) -> list[float] | None:
    """Driver-side replay twin of ``hashed_embedding`` for oracles:
    same tokenizer, same crc32 bucket, same normalization."""
    import math
    import re
    import zlib

    if text is None:
        return None
    toks = [
        t
        for t in re.split(TOKEN_SPLIT_RE, text.lower())
        if len(t) >= min_len
    ]
    v = [0.0] * dim
    for t in toks:
        v[zlib.crc32(t.encode("utf-8")) % dim] += 1.0
    if normalize:
        n = math.sqrt(sum(x * x for x in v))
        if n > 0:
            v = [x / n for x in v]
    return v


def fit_quantile_bins(
    df: DataFrame, col: str, n_bins: int, relative_error: float = 0.001
) -> list[float]:
    """The ``n_bins - 1`` interior cut points of ``col`` (Greenwald-
    Khanna sketch — one pass, driver holds only the cuts)."""
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2: {n_bins}")
    probs = [i / n_bins for i in range(1, n_bins)]
    return df.stat.approxQuantile(col, probs, relative_error)


def apply_quantile_bins(
    df: DataFrame, col: str, cuts: Sequence[float], out_col: str | None = None
) -> DataFrame:
    """Assign each row its bin: the count of cut points the value
    exceeds (0-based, monotone in the value; NULL → NULL). A pure
    scan-side projection — the same cut-counting algebra the shard
    packer uses for its range ids."""
    out = out_col or f"{col}_bin"
    arr = F.array(*[F.lit(float(c)) for c in sorted(cuts)])
    bin_id = F.size(F.filter(arr, lambda c: F.col(col) > c))
    return df.withColumn(
        out, F.when(F.col(col).isNotNull(), bin_id).cast("int")
    )


def fit_scaler(df: DataFrame, cols: Sequence[str]) -> dict:
    """Per-column (mean, stddev, min, max) in ONE partial-aggregable
    pass — the parameters both ``zscore`` and ``minmax`` application
    need."""
    if isinstance(cols, str):
        cols = [cols]
    aggs = []
    for c in cols:
        aggs += [
            F.avg(c).alias(f"__m_{c}"),
            F.stddev_samp(c).alias(f"__s_{c}"),
            F.min(c).alias(f"__lo_{c}"),
            F.max(c).alias(f"__hi_{c}"),
        ]
    row = df.agg(*aggs).first()
    return {
        c: {
            "mean": row[f"__m_{c}"],
            "std": row[f"__s_{c}"],
            "min": row[f"__lo_{c}"],
            "max": row[f"__hi_{c}"],
        }
        for c in cols
    }


def apply_scaler(
    df: DataFrame, params: dict, method: str = "zscore", suffix: str = "_scaled"
) -> DataFrame:
    """Scale each fitted column as a scan-side projection. ``zscore``:
    (x − mean)/std (std 0 or NULL → 0.0 for non-null x); ``minmax``:
    (x − min)/(max − min) (degenerate range → 0.0). NULL in → NULL
    out."""
    if method not in ("zscore", "minmax"):
        raise ValueError(f"unknown method: {method}")
    out = df
    for c, p in params.items():
        x = F.col(c)
        if method == "zscore":
            denom = p["std"]
            scaled = (
                F.lit(0.0)
                if not denom
                else (x - F.lit(p["mean"])) / F.lit(denom)
            )
        else:
            rng = (p["max"] - p["min"]) if p["max"] is not None else None
            scaled = (
                F.lit(0.0)
                if not rng
                else (x - F.lit(p["min"])) / F.lit(rng)
            )
        out = out.withColumn(
            c + suffix, F.when(x.isNotNull(), scaled).cast("double")
        )
    return out


def winsorize(
    df: DataFrame,
    cols: Sequence[str],
    lower: float = 0.01,
    upper: float = 0.99,
    relative_error: float = 0.0001,
    suffix: str = "_wins",
) -> DataFrame:
    """Robust outlier clipping: clamp each column to its
    [``lower``, ``upper``] quantile band — the standard heavy-tail
    guard before z-score scaling or binning (a single corrupt 1e308
    row otherwise flattens every scaled value to ~0).

    FIT is one ``approxQuantile`` read per column (GK sketch —
    driver holds two floats each); APPLY is a pure
    ``least/greatest`` scan projection, NULLs untouched — the same
    fit/apply contract as the scalers. Appends ``col + suffix``
    columns; ``suffix=None`` replaces in place."""
    if isinstance(cols, str):
        cols = [cols]
    if not (0.0 <= lower < upper <= 1.0):
        raise ValueError(f"need 0 <= lower < upper <= 1: {lower}, {upper}")
    out = df
    for c in cols:
        lo, hi = df.stat.approxQuantile(c, [lower, upper], relative_error)
        clipped = F.when(
            F.col(c).isNotNull(),
            F.least(F.greatest(F.col(c).cast("double"), F.lit(lo)), F.lit(hi)),
        )
        out = out.withColumn(c + suffix if suffix else c, clipped)
    return out


def pca_fit(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    whiten_eps: float = 1e-9,
) -> dict:
    """Distributed PCA over an ``array<float>`` embedding column.

    One Arrow pass emits per-batch moment partials — count, Σx (d
    doubles) and the Gram matrix ΣxxT (d² doubles, flattened) — so the
    shuffle-free reduce is sized by batch count × d², independent of
    row count (the kmeans_fit round-aggregate contract; d=1024 is
    8 MB per partial, fine; d=10⁴ needs a sketched method this
    deliberately doesn't promise). The driver forms the population
    covariance C = ΣxxT/n − μμT, takes ``eigh`` (symmetric, exact),
    and keeps the top ``k`` eigenpairs.

    Determinism: eigenvector sign is fixed by making the
    largest-|component| entry positive (first index on ties), so fits
    are replayable and the numpy oracle reproduces components exactly
    up to float tolerance.

    Returns a plain-python model dict (broadcastable, JSON-able):
    ``mean`` (d), ``components`` (k×d, rows = principal axes,
    descending eigenvalue), ``eigvals`` (k), ``explained_variance``
    (k ratios), ``n`` and ``whiten_scale`` (k: 1/√(λ+eps), the
    whitening diagonal :func:`pca_transform` applies on request).
    """
    import numpy as np

    from data_export_tool_spark.operators.clustering import _as_matrix

    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    # NULL/empty vectors are masked ARROW-side, never in a WHERE: a
    # predicate on a pandas-UDF vector column (hashed_embedding over
    # joined/CASE-built text) can fuse into an upstream join condition
    # where Python UDFs cannot evaluate (the linear.py hazard)
    base = df.select(F.col(vec_col).cast("array<double>").alias("__v"))

    def partials(batches):
        import pandas as pd

        for pdf in batches:
            pdf = pdf[pdf["__v"].map(lambda v: v is not None and len(v) > 0)]
            if len(pdf) == 0:
                continue
            X = _as_matrix(pdf["__v"])
            yield pd.DataFrame(
                {
                    "n": [len(X)],
                    "s": [X.sum(axis=0).tolist()],
                    "g": [(X.T @ X).ravel().tolist()],
                }
            )

    rows = base.mapInPandas(
        partials, "n long, s array<double>, g array<double>"
    ).collect()
    if not rows:
        raise ValueError("no usable vectors to fit PCA on")
    d = len(rows[0]["s"])
    if k > d:
        raise ValueError(f"k={k} exceeds vector dim {d}")
    n = sum(r["n"] for r in rows)
    s = np.zeros(d)
    g = np.zeros((d, d))
    for r in rows:
        s += np.array(r["s"])
        g += np.array(r["g"]).reshape(d, d)
    mu = s / n
    cov = g / n - np.outer(mu, mu)
    cov = (cov + cov.T) / 2.0  # clamp asymmetry from float error
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1][:k]
    eigvals = np.clip(w[order], 0.0, None)
    comps = v[:, order].T  # k × d
    flip = np.sign(comps[np.arange(k), np.abs(comps).argmax(axis=1)])
    flip[flip == 0] = 1.0
    comps = comps * flip[:, None]
    total_var = float(np.clip(w, 0.0, None).sum()) or 1.0
    return {
        "mean": mu.tolist(),
        "components": comps.tolist(),
        "eigvals": eigvals.tolist(),
        "explained_variance": (eigvals / total_var).tolist(),
        "whiten_scale": (1.0 / np.sqrt(eigvals + whiten_eps)).tolist(),
        "n": int(n),
    }


def pca_transform(
    df: DataFrame,
    model: dict,
    vec_col: str = "embedding",
    out_col: str = "pca",
    whiten: bool = False,
) -> DataFrame:
    """Project ``vec_col`` onto a fitted :func:`pca_fit` model:
    ``(x − μ) @ componentsT`` (× the whitening diagonal when
    ``whiten=True`` — unit-variance components, the usual prep before
    cosine ANN or k-means on skewed embedding spaces).

    Pure scan-side Arrow projection — the model rides in the closure
    (k×d floats), nothing shuffles, NULL/empty vectors yield NULL.
    """
    import numpy as np
    import pandas as pd

    from data_export_tool_spark.operators.clustering import _as_matrix

    mu = np.array(model["mean"])
    P = np.array(model["components"])
    scale = np.array(model["whiten_scale"]) if whiten else None

    def _proj(vs):
        vals = vs.to_numpy(dtype=object)
        out = [None] * len(vals)
        idx = [i for i, v in enumerate(vals) if v is not None]
        if idx:
            X = np.array(
                [np.asarray(vals[i], dtype="float64") for i in idx]
            )
            Y = (X - mu) @ P.T
            if scale is not None:
                Y = Y * scale
            for j, i in enumerate(idx):
                out[i] = Y[j].tolist()
        return pd.Series(out, dtype="object")

    _proj.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    udf = F.pandas_udf(_proj, ArrayType(DoubleType()))
    guarded = F.when(
        F.col(vec_col).isNotNull() & (F.size(vec_col) > 0),
        F.col(vec_col).cast("array<double>"),
    )
    return df.withColumn(out_col, udf(guarded))


def target_encode(
    df: DataFrame,
    cat_col: str,
    label_col: str,
    smoothing: float = 20.0,
    out_col: str | None = None,
    leave_one_out: bool = False,
) -> DataFrame:
    """Smoothed target (mean) encoding of a categorical column — the
    feature-engineering staple for high-cardinality categories
    (domain, source, language) that one-hot/hashing waste dimensions
    on: ``enc(c) = (sum_c + m·prior) / (n_c + m)`` with ``m =
    smoothing`` and ``prior`` the global label mean [Micci-Barreca
    2001, SIGKDD Explorations].

    ``leave_one_out=True`` excludes each row's OWN label from its
    encoding — ``(sum_c − y, n_c − 1)`` before smoothing — the
    standard leakage guard when encoding the same frame the model
    trains on (a category's encoding must not memorize the row it
    encodes; a singleton category degrades to the pure prior). Note
    LOO still leaks under duplicated rows — split-level guards are
    ``sampling.group_split``'s job.

    Shape: one map-side-combined groupBy on the category (+ one
    1-row global aggregate for the prior), joined back on the
    category key — AQE broadcasts the aggregated side when small.
    NULL categories form a real encoding group (ANSI GROUP BY);
    NULL-label rows contribute to neither sums nor counts but still
    receive the encoding. Output column: ``<cat_col>_te`` by default.
    """
    if smoothing < 0:
        raise ValueError(f"smoothing must be >= 0: {smoothing}")
    out = out_col or f"{cat_col}_te"
    lab = F.col(label_col).cast("double")
    prior_row = df.agg(F.avg(lab).alias("__prior")).collect()[0]
    prior = prior_row["__prior"]
    if prior is None:
        raise ValueError("label column has no non-NULL values")
    stats = df.groupBy(cat_col).agg(
        F.sum(lab).alias("__s"), F.count(lab).alias("__n")
    )
    # a plain equi-join would orphan NULL-category rows — null-safe key
    joined = df.alias("__l").join(
        stats.alias("__r"),
        F.col(f"__l.{cat_col}").eqNullSafe(F.col(f"__r.{cat_col}")),
        "left",
    ).select("__l.*", F.col("__r.__s").alias("__s"), F.col("__r.__n").alias("__n"))
    s, n = F.col("__s"), F.col("__n")
    if leave_one_out:
        s = F.when(lab.isNotNull(), s - lab).otherwise(s)
        n = F.when(lab.isNotNull(), n - 1).otherwise(n)
    enc = (F.coalesce(s, F.lit(0.0)) + smoothing * prior) / (
        F.coalesce(n, F.lit(0)) + smoothing
    )
    if smoothing == 0:
        enc = F.when(F.coalesce(n, F.lit(0)) > 0, enc)  # 0/0 → NULL, not NaN
    return joined.withColumn(out, enc).drop("__s", "__n")


def random_projection(
    df: DataFrame,
    out_dim: int,
    vec_col: str = "embedding",
    out_col: str = "rp",
    seed: int = 7,
    density: float = 1.0 / 3.0,
) -> DataFrame:
    """Johnson-Lindenstrauss sparse random projection (Achlioptas
    2003): project ``array<float>`` vectors to ``out_dim`` with the
    ±sqrt(1/(density·k)) / 0 matrix — pairwise distances preserved in
    expectation with no FIT PASS at all, the cheap alternative to
    :func:`pca_fit` when a corpus scan for moments is not worth it
    (one-off triage, pre-LSH compaction).

    The matrix is generated from ``numpy.RandomState(seed)`` at PLAN
    time (out_dim × d floats ride the closure, like the PCA model) —
    deterministic and replayable by construction. One Arrow batch pass,
    no shuffle; NULL/empty vectors → NULL. The input dimension is read
    from the first row.
    """
    import numpy as np
    import pandas as pd

    if out_dim < 1:
        raise ValueError(f"out_dim must be >= 1: {out_dim}")
    if not 0 < density <= 1:
        raise ValueError(f"density must be in (0, 1]: {density}")
    # dim via an aggregate, never a filter: a predicate on a pandas-UDF
    # vector column (hashed_embedding over joined/CASE-built text) can
    # fuse into an upstream join condition where Python UDFs cannot
    # evaluate — the linear.py _vec_base hazard
    first = df.agg(
        F.max(F.when(F.size(vec_col) > 0, F.size(vec_col))).alias("d")
    ).collect()
    if not first or first[0]["d"] is None:
        raise ValueError("no usable vectors to infer input dim from")
    d = first[0]["d"]
    rng = np.random.RandomState(seed)
    signs = rng.choice([-1.0, 0.0, 1.0], size=(out_dim, d),
                       p=[density / 2, 1 - density, density / 2])
    R = signs / np.sqrt(density * out_dim)

    def _proj(vs):
        vals = vs.to_numpy(dtype=object)
        out = [None] * len(vals)
        idx = [i for i, v in enumerate(vals) if v is not None]
        if idx:
            X = np.array([np.asarray(vals[i], dtype="float64") for i in idx])
            Y = X @ R.T
            for j, i in enumerate(idx):
                out[i] = Y[j].tolist()
        return pd.Series(out, dtype="object")

    _proj.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    udf = F.pandas_udf(_proj, ArrayType(DoubleType()))
    guarded = F.when(
        F.col(vec_col).isNotNull() & (F.size(vec_col) == d),
        F.col(vec_col).cast("array<double>"),
    )
    return df.withColumn(out_col, udf(guarded))


def woe_iv_encode(
    df: DataFrame,
    cat_col: str,
    label_col: str,
    out_col: str | None = None,
    min_count: float = 0.5,
) -> tuple[DataFrame, DataFrame]:
    """Weight-of-evidence encoding + information value — the
    credit-scoring-standard categorical encoder beside
    :func:`target_encode` (Siddiqi 2006): per category
    ``WOE = ln( (events_c / events_total) / (non_events_c /
    non_events_total) )`` and the column-level predictive-power
    summary ``IV = Σ_c (pct_events_c − pct_non_events_c) · WOE_c``
    (rule-of-thumb bands: < 0.02 useless, > 0.5 suspicious).

    ``min_count`` is the Laplace-style additive smoothing on the
    event/non-event counts (a zero cell would make WOE ±∞ — the
    standard 0.5 adjustment), applied to EVERY cell so the encoding
    is continuous in the data. NULL categories form their own
    category ('∅' — NULL-ness is usually predictive). Labels must be
    0/1 non-NULL.

    Scale: one partial-aggregable groupBy on the category (bounded by
    the alphabet), two scalar totals, then a broadcast join to attach
    the encoding — the target_encode shape. Returns ``(encoded_df,
    woe_table)``; the table is the reusable model (join it to score
    new data, the train-once/apply-many contract).
    """
    if min_count < 0:
        raise ValueError(f"min_count must be >= 0: {min_count}")
    out_col = out_col or f"{cat_col}_woe"
    y = F.col(label_col).cast("double")
    base = df.where(y.isin(0.0, 1.0))
    cat = F.coalesce(F.col(cat_col).cast("string"), F.lit("∅"))
    cells = base.groupBy(cat.alias("__cat")).agg(
        F.sum(y).alias("__ev"),
        F.sum(1.0 - y).alias("__ne"),
    )
    tot = cells.agg(
        F.sum("__ev").alias("te"), F.sum("__ne").alias("tn"),
        F.count(F.lit(1)).alias("nc"),
    ).collect()[0]
    te, tn, nc = float(tot["te"] or 0), float(tot["tn"] or 0), int(tot["nc"])
    if te == 0 or tn == 0:
        raise ValueError("woe_iv_encode needs both classes present")
    # smoothed distribution shares (totals include the smoothing mass
    # so shares still sum to 1)
    pe = (F.col("__ev") + F.lit(min_count)) / F.lit(te + min_count * nc)
    pn = (F.col("__ne") + F.lit(min_count)) / F.lit(tn + min_count * nc)
    table = cells.select(
        F.col("__cat").alias(cat_col),
        F.col("__ev").cast("long").alias("n_events"),
        F.col("__ne").cast("long").alias("n_non_events"),
        F.round(F.log(pe / pn), 6).alias("woe"),
        F.round((pe - pn) * F.log(pe / pn), 6).alias("iv_contrib"),
    )
    enc = df.withColumn("__cat", cat).join(
        F.broadcast(table.select(F.col(cat_col).alias("__cat"), "woe")),
        "__cat",
        "left",
    ).withColumnRenamed("woe", out_col).drop("__cat")
    return enc, table


def _probit(p: Column) -> Column:
    """Φ⁻¹(p) as pure column algebra — Acklam's rational approximation
    (|ε| < 1.15e-9 over (0,1); Spark has no built-in probit). Three
    branches (lower tail / central / upper tail), each a ratio of
    polynomials — all inside whole-stage codegen."""
    a = [-3.969683028665376e+01, 2.209460984245205e+02, -2.759285104469687e+02,
         1.383577518672690e+02, -3.066479806614716e+01, 2.506628277459239e+00]
    b = [-5.447609879822406e+01, 1.615858368580409e+02, -1.556989798598866e+02,
         6.680131188771972e+01, -1.328068155288572e+01]
    c = [-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e+00,
         -2.549732539343734e+00, 4.374664141464968e+00, 2.938163982698783e+00]
    d = [7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e+00,
         3.754408661907416e+00]
    plow, phigh = 0.02425, 1 - 0.02425

    def poly(coeffs, x):
        out = F.lit(float(coeffs[0]))
        for co in coeffs[1:]:
            out = out * x + F.lit(float(co))
        return out

    q_c = p - 0.5
    r_c = q_c * q_c
    central = (
        poly(a, r_c) * q_c
        / (poly(b, r_c) * r_c + 1.0)
    )
    q_l = F.sqrt(-2.0 * F.log(p))
    lower = poly(c, q_l) / (poly(d, q_l) * q_l + 1.0)
    q_h = F.sqrt(-2.0 * F.log(1.0 - p))
    upper = -poly(c, q_h) / (poly(d, q_h) * q_h + 1.0)
    return F.when(p < plow, lower).when(p > phigh, upper).otherwise(central)


def rank_transform(
    df: DataFrame,
    col: str,
    method: str = "percent_rank",
    out_col: str | None = None,
    num_ranges: int = 64,
) -> DataFrame:
    """Exact GLOBAL rank-based transform of a numeric column WITHOUT a
    single-partition sort: ``rank`` (SQL rank — ties share the min),
    ``percent_rank`` ((rank−1)/(n−1)), or ``inverse_normal`` (the
    rank-based inverse normal transform, Blom offsets
    Φ⁻¹((rank−3/8)/(n+1/4)) — the genomics/feature-normalization
    standard that forces any marginal to N(0,1)).

    Scale — two-phase range rank at VALUE grain: SQL rank is a pure
    function of the value (ties share the min rank), so the pipeline
    first collapses to (value, count) with ONE map-side-combining
    groupBy — a 90%-constant column (the classic zeros column) becomes
    ONE row instead of a mega-tie that would serialize any row-grain
    window. The distinct-value table then gets the
    pack_token_shards/walks-adjacency treatment: approx-quantile cut
    points split the value domain (any cuts are EXACT — a value's rank
    is offset + within-range running count), per-range prefix sums
    with range parallelism, range totals prefix-summed in a
    ≤num_ranges metadata window, and the rank joins back on the value
    (the mega-tie is one right-side row; AQE handles a hot left key).
    Φ⁻¹ is Acklam column algebra — the whole transform stays in
    codegen, no Python anywhere.

    NULL values pass through with a NULL transform (they have no
    rank). Appends ``out_col`` (default ``{col}_{method}``).
    """
    methods = ("rank", "avg_rank", "percent_rank", "inverse_normal")
    if method not in methods:
        raise ValueError(f"method must be one of {methods}: {method}")
    if num_ranges < 1:
        raise ValueError(f"num_ranges must be >= 1: {num_ranges}")
    out_col = out_col or f"{col}_{method}"

    ranks = _rank_lut(df.where(F.col(col).isNotNull()), col, num_ranges)
    # ONE left join attaches the LUT to the FULL input (r10): NULL
    # values never match the value key, so their transform comes out
    # NULL through the same expressions — the old separate
    # null-rows-union branch re-scanned the input a fourth time per
    # action for nothing
    joined = df.join(ranks, df[col] == ranks["__v"], "left").drop("__v")
    r = F.col("__r").cast("double")
    n = F.col("__n").cast("double")
    if method == "rank":
        expr = r.cast("long")
    elif method == "avg_rank":
        # fractional/average rank: ties take the arithmetic mean of their
        # positions = min_rank + (tie_size - 1)/2 — the Spearman-ρ
        # convention (scipy rankdata 'average')
        expr = r + (F.col("__cnt").cast("double") - 1.0) / 2.0
    elif method == "percent_rank":
        # the NULL-rank guard keeps NULL inputs NULL (the otherwise()
        # would claim 0.0 for them)
        expr = F.when(
            r.isNotNull(),
            F.when(n > 1, (r - 1.0) / (n - 1.0)).otherwise(F.lit(0.0)),
        )
    else:
        expr = _probit((r - 0.375) / (n + 0.25))
    return joined.withColumn(out_col, expr).drop("__r", "__n", "__cnt")


def _rank_lut(vals: DataFrame, col: str, num_ranges: int) -> DataFrame:
    """VALUE-grain exact-rank lookup table ``(__v, __r, __n, __cnt)``
    for the non-NULL values of ``col``: min-rank (SQL rank), total
    non-NULL count, and tie size — the two-phase range-rank shared by
    :func:`rank_transform` and :func:`spearman_matrix
    <data_export_tool_spark.operators.validate.spearman_matrix>` (which
    attaches one LUT per column to the SAME base frame instead of
    chaining full-width transforms). ``vals`` must already exclude
    NULLs of ``col``."""
    from pyspark.sql import Window

    probs = [i / num_ranges for i in range(1, num_ranges)]
    bounds = sorted(set(vals.stat.approxQuantile(col, probs, 0.01)))
    # value-grain collapse: map-side combine absorbs mega-ties
    vc = vals.groupBy(F.col(col).alias("__v")).agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    if bounds:
        cuts = F.array(*[F.lit(float(b)) for b in bounds])
        rng = F.size(F.filter(cuts, lambda b: F.col("__v") > b))
    else:
        rng = F.lit(0)
    marked = vc.withColumn("__rng", rng)
    # within-range: rank(v) = range offset + rows of SMALLER values in
    # the range + 1 — a running count over the value-grain frame
    w_in = (
        Window.partitionBy("__rng")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = marked.withColumn(
        "__lr", F.coalesce(F.sum("__cnt").over(w_in), F.lit(0).cast("long")) + 1
    )
    counts = marked.groupBy("__rng").agg(F.sum("__cnt").alias("__rcnt"))
    w_off = Window.orderBy("__rng").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "__off", F.coalesce(F.sum("__rcnt").over(w_off), F.lit(0).cast("long"))
    ).withColumn("__n", F.sum("__rcnt").over(
        Window.orderBy("__rng").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    ))
    return within.join(
        F.broadcast(offsets.select("__rng", "__off", "__n")), "__rng", "left"
    ).select(
        "__v",
        (F.col("__off") + F.col("__lr")).alias("__r"),
        "__n",
        "__cnt",
    )


def quantile_normalize(
    df: DataFrame,
    value_col: str,
    group_col: str,
    out_col: str | None = None,
    grid: int = 1000,
    exact_reference: bool = True,
) -> DataFrame:
    """Cross-group QUANTILE NORMALIZATION: transform each group's
    values so every group's marginal matches the POOLED distribution —
    the batch-effect correction (microarray/scoring-pipeline standard)
    for "annotator A's scores run hot" / "shard B's durations were
    measured in the slow datacenter": within-group ORDER is preserved
    exactly; cross-group VALUES become comparable.

    Mechanism: each row gets its within-group percent_rank computed at
    VALUE grain (collapse to (group, value, count) first — the
    rank_transform mega-tie discipline, so the window ranks distinct
    values per group, never rows; a 90%-constant group costs one row),
    then reads the pooled reference quantile function at that rank
    with linear interpolation on a ``grid``-point lattice.

    ``exact_reference=True`` builds the EXACT lattice relationally —
    the two-phase value-grain rank (``rank_transform`` machinery, no
    global sort) plus a broadcast range join of the grid against the
    (value, rank-span) table, PERCENTILE_CONT interpolation in column
    algebra. (Spark's own ``percentile(col, array(...))`` aggregate
    walks its value buffer PER probability — O(distinct·grid), a
    measured 60s at 6·10⁵ distinct × 1001 points where this path
    takes ~4s — so the builtin is deliberately avoided.) ``False``
    swaps in ``percentile_approx`` (GK sketch, bounded memory) for
    corpora where even the value-grain table is huge — the quantile
    VALUES then carry sketch error but the shape guarantee stands.

    NULL values pass through with NULL output. Appends ``out_col``
    (default ``{value_col}_qnorm``)."""
    if grid < 2:
        raise ValueError(f"grid must be >= 2: {grid}")
    out_col = out_col or f"{value_col}_qnorm"
    from pyspark.sql import Window

    x = F.col(value_col).cast("double")
    vals = df.where(x.isNotNull())
    probs = [i / grid for i in range(grid + 1)]
    if exact_reference:
        ref_vals = _exact_lattice(
            vals.select(x.alias("__lv")), "__lv", grid
        )
        ref = vals.sparkSession.range(1).select(
            F.array(*[F.lit(float(v)) for v in ref_vals]).alias("__ref")
        )
    else:
        probs_sql = ", ".join(repr(p) + "D" for p in probs)
        ref = vals.agg(
            F.expr(
                f"percentile_approx(CAST({value_col} AS DOUBLE),"
                f" array({probs_sql}))"
            ).alias("__ref")
        )
    # value-grain within-group percent_rank: (rank-1)/(n-1) where rank
    # of a value = count of strictly smaller values + 1 (SQL rank law)
    vc = vals.groupBy(F.col(group_col).alias("__g"), x.alias("__v")).agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    w_in = (
        Window.partitionBy("__g")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy("__g").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = vc.select(
        "__g",
        "__v",
        (F.coalesce(F.sum("__cnt").over(w_in), F.lit(0).cast("long")) + 1).alias(
            "__r"
        ),
        F.sum("__cnt").over(w_all).alias("__n"),
    )
    pct = F.when(
        F.col("__n") > 1,
        (F.col("__r") - 1.0) / (F.col("__n") - 1.0),
    ).otherwise(F.lit(0.5))
    # linear interpolation on the reference lattice
    pos = pct * grid
    i0 = F.floor(pos).cast("int")
    i1 = F.least(i0 + 1, F.lit(grid))
    frac = pos - i0
    qv = F.element_at(F.col("__ref"), i0 + 1) * (1 - frac) + F.element_at(
        F.col("__ref"), i1 + 1
    ) * frac
    lut = ranked.crossJoin(F.broadcast(ref)).select(
        "__g", "__v", F.round(qv, 9).alias(out_col)
    )
    # NULL values never match the (group, value) key, so they come out
    # of the same left join with a NULL transform — no separate
    # null-rows branch re-scanning the input (r10, the rank_transform
    # fix)
    return df.join(
        lut,
        (df[group_col] == lut["__g"]) & (x == lut["__v"]),
        "left",
    ).drop("__g", "__v")


def _exact_lattice(
    vals: DataFrame, value_col: str, grid: int
) -> list[float]:
    """Exact PERCENTILE_CONT values at the ``grid + 1`` even
    probabilities, computed relationally: two-phase value-grain ranks
    (no global row sort), then the (grid+1)-row probability table
    broadcast-range-joins the (value, rank-span) frame to pick each
    target's bracketing order statistics — interpolation is column
    algebra. Returns a driver list (grid+1 doubles — metadata).

    r10: the rank spans come straight from the value-grain
    ``_rank_lut`` (start = min-rank, end = start + tie − 1) — the old
    path ranked every ROW via ``rank_transform`` and re-grouped back
    to value grain, paying the row-grain join for nothing. The small
    span table is checkpointed once so n, both bracketing joins and
    the collect read cached blocks instead of re-running the rank
    pipeline three more times."""
    lut = _rank_lut(
        vals.where(F.col(value_col).isNotNull()), value_col, num_ranges=64
    )
    with CheckpointScope() as scope:
        vg = scope.pin(
            lut.select(
                "__v",
                F.col("__r").alias("__start"),
                (F.col("__r") + F.col("__cnt") - 1).alias("__end"),
                "__cnt",
            )
        )
        n = (
            vg.agg(F.sum("__cnt").alias("__n")).first()["__n"] or 0
        )
        if n == 0:
            raise ValueError("cannot build a quantile lattice of nothing")
        spark = vals.sparkSession
        g = spark.range(grid + 1).select(
            F.col("id").alias("__i"),
            (
                F.lit(1.0)
                + (F.col("id") / float(grid)) * F.lit(float(n - 1))
            ).alias("__pos"),
        ).select(
            "__i",
            "__pos",
            F.floor("__pos").cast("long").alias("__r0"),
            (F.col("__pos") - F.floor("__pos")).alias("__frac"),
        )
        v0 = vg.join(
            F.broadcast(g),
            (F.col("__r0") >= F.col("__start"))
            & (F.col("__r0") <= F.col("__end")),
        ).select("__i", "__frac", F.col("__v").alias("__v0"))
        v1 = vg.join(
            F.broadcast(g.select("__i", (F.col("__r0") + 1).alias("__r1"))),
            (F.col("__r1") >= F.col("__start"))
            & (F.col("__r1") <= F.col("__end")),
        ).select(F.col("__i").alias("__i1"), F.col("__v").alias("__v1"))
        rows = (
            v0.join(v1, v0["__i"] == v1["__i1"], "left")
            .select(
                "__i",
                (
                    F.col("__v0")
                    + F.col("__frac")
                    * (F.coalesce(F.col("__v1"), F.col("__v0")) - F.col("__v0"))
                ).alias("__q"),
            )
            .collect()
        )
    out = [None] * (grid + 1)
    for r in rows:
        out[r["__i"]] = float(r["__q"])
    if any(v is None for v in out):
        raise AssertionError("lattice gap — rank spans must cover 1..n")
    return out
