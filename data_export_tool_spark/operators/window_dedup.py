"""Latest/earliest-per-entity dedup — the reference workload's workhorse.

68 of the reference's window sites are exactly
``ROW_NUMBER() OVER (PARTITION BY client_id ORDER BY event_date DESC,
encounter_id DESC)`` followed by ``WHERE row_num = 1``
(Tx_Curr_LineList.sql:54-56,64,73,79-85 — SURVEY.md §2e W1/W2).

Two shapes, two tools. When the chosen row IS the result (a report's
base row, carried whole), ``latest_per_key`` / ``earliest_per_key``
window over it. When the chosen row only lends a value or two to a
row the caller already has (the reference's "latest non-null X per
client" CTE, LEFT JOINed on client_id), ``latest_value`` is that value
as one aggregate column (a date looked up by itself is its masked
``max``/``min``): any number of such lookups over one frame
become one ``groupBy(key).agg(...)`` and one join, instead of one
window and one join each.

Scale notes: a row_number window shuffles once on the partition key.
When several windows share the key (W4: PMTCT_Maternal_LineList.sql
computes 4 ROW_NUMBERs over one relation), computing them in one
``ranked`` call reuses a single Exchange+Sort. On a bucketed table
(catalog.write_bucketed on the key) the Exchange is elided entirely.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _order_cols(
    order_by: Sequence[Column | str], descending: bool, tiebreak: str | None
) -> list[Column]:
    cols = []
    for c in order_by:
        col = F.col(c) if isinstance(c, str) else c
        cols.append(col.desc() if descending else col.asc())
    if tiebreak is not None:
        cols.append(F.col(tiebreak).desc() if descending else F.col(tiebreak).asc())
    return cols


def ranked(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
    descending: bool = True,
    tiebreak: str | None = None,
    rank_col: str = "row_num",
) -> DataFrame:
    """Attach a ROW_NUMBER per key group.

    The reference filters ``row_num = 1`` inside a narrow CTE and then
    joins the base table back on its key to fetch the rest of the row
    (J3, ``ON a.k = b.k AND b.row_num = 1``, PMTCT_HEI_LineList.sql:197-202;
    Tx_Curr_LineList.sql:153-154): a CTE only carries the columns it
    selects. A ranked DataFrame carries every column of its input, so
    ``ranked(df, ...).filter(row_num == 1)`` (or ``latest_per_key`` /
    ``earliest_per_key``) already is the chosen row; window over the
    frame whose columns you need instead of joining it back."""
    w = Window.partitionBy(*keys).orderBy(*_order_cols(order_by, descending, tiebreak))
    return df.withColumn(rank_col, F.row_number().over(w))


def latest_per_key(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
    tiebreak: str | None = None,
) -> DataFrame:
    """One row per key: the latest by ``order_by`` (W1). ``tiebreak``
    mirrors the reference's ``encounter_id DESC`` determinism pin."""
    return (
        ranked(df, keys, order_by, descending=True, tiebreak=tiebreak)
        .filter(F.col("row_num") == 1)
        .drop("row_num")
    )


def earliest_per_key(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
    tiebreak: str | None = None,
) -> DataFrame:
    """One row per key: the earliest (W2 — first CPT dose,
    PMTCT_HEI_LineList.sql:97)."""
    return (
        ranked(df, keys, order_by, descending=False, tiebreak=tiebreak)
        .filter(F.col("row_num") == 1)
        .drop("row_num")
    )


def latest_value(
    value: Column | str,
    order_by: Sequence[Column | str],
    where: Column | None = None,
    tiebreak: str | None = None,
) -> Column:
    """Aggregate column: ``value`` on the row ``latest_per_key`` would
    choose among the group's rows that satisfy ``where``; NULL when
    none does.

    It is ``max_by`` of ``value`` keyed by the masked struct
    ``when(where, struct(*order_by, tiebreak))``, and it is exact:

    - ``max_by`` skips NULL keys, so a row failing ``where`` never wins
      (a NULL ``where`` fails, as in a filter);
    - struct comparison puts a NULL field first, so the max struct is
      ``ORDER BY order_by DESC NULLS LAST, tiebreak DESC``, the order
      ``latest_per_key`` windows by;
    - a NULL ``value`` on the chosen row is returned as NULL, not
      skipped;
    - with a unique ``tiebreak`` (the wide view's ``encounter_id``)
      there are no ties, so the choice is deterministic.

    When ``value`` is the order column itself, ``F.max`` of the masked
    column is the same lookup, and ``F.min`` is ``earliest_per_key``'s
    when the mask also excludes NULL order values (ASC puts them first,
    ``min`` skips them)."""
    key = F.struct(*order_by, *([tiebreak] if tiebreak else []))
    return F.max_by(value, key if where is None else F.when(where, key))


def latest_n_per_key(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
    n: int,
    tiebreak: str | None = None,
    rank_col: str = "row_num",
    n_salts: int = 16,
) -> DataFrame:
    """EXACTLY the latest ``n`` rows per key (ranked 1..n), WITHOUT a
    full per-key window — the "last N events per user / latest N
    versions per entity" operator, generalized from W1's keep-1.

    The naive ``row_number() <= n`` serializes each key onto one task:
    a bot entity with 10⁸ rows is a single-task sort, the same failure
    class the funnel fold and two-phase dedup exist for. Two phases,
    both exact:

    1. SALTED PARTIAL TOP-N: rows are windowed over (key, salt) where
       salt = a deterministic hash of the full row's order columns
       mod ``n_salts`` — every (key, salt) partition holds ~1/n_salts
       of a hot key's rows, and its per-partition top-n is computed
       with the same ordering. The global top-n of a key is a subset
       of the union of its per-salt top-n's (any row in the true
       top-n beats all below it in its own salt too), so keeping
       n·n_salts candidates per key loses nothing — exactness by the
       standard top-k union law.
    2. FINAL RANK: the true window over the surviving ≤ n·n_salts
       rows per key — bounded regardless of the key's original size.

    A key with few rows pays one extra tiny window; a 10⁸-row key pays
    two bounded sorts instead of one unbounded one. Ties: pass
    ``tiebreak`` (mirrors the reference's encounter_id pin) — the
    ranking is then total and the result deterministic.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1: {n}")
    order_cols = _order_cols(order_by, True, tiebreak)
    base_cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    salt = F.pmod(
        F.xxhash64(*base_cols, *( [F.col(tiebreak)] if tiebreak else [] )),
        F.lit(n_salts),
    )
    salted = df.withColumn("__salt", salt)
    w1 = Window.partitionBy(*keys, "__salt").orderBy(*order_cols)
    survivors = (
        salted.withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= n)
        .drop("__r1")
    )
    w2 = Window.partitionBy(*keys).orderBy(*order_cols)
    return (
        survivors.withColumn(rank_col, F.row_number().over(w2))
        .filter(F.col(rank_col) <= n)
        .drop("__salt")
    )
