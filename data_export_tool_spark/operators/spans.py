"""Exact substring (duplicated n-gram span) deduplication.

Document-level dedup (operators/dedup.py) removes whole near-identical
documents; this module removes REPEATED PASSAGES — license headers,
boilerplate navigation, quoted chain-mail — that recur inside otherwise
unique documents, the corpus defect Lee et al. 2022 ("Deduplicating
Training Data Makes Language Models Better", ExactSubstr) showed
inflates memorization. The reference engine has no passage-level
operator; this is part of the LLM-curation surface beyond
`/root/reference` (SURVEY §2k).

Spark-first shape, sized for a 100 TB corpus:

- Tokenize (whitespace) and hash every n-token sliding window with
  ``xxhash64`` — the window stage is one ``posexplode`` whose row count
  is Σ tokens, the same order as the corpus itself (identical to the
  BPE/token-shard stages' working set; no suffix array is ever built,
  which is the standard distributed relaxation of ExactSubstr's
  suffix-array join).
- Corpus-wide duplication is one partial-aggregable ``groupBy`` on the
  64-bit window hash (uniformly distributed keys — a boilerplate
  window repeated 10⁹ times is ONE group, absorbed map-side), keeping
  only hashes seen more than once plus their canonical owner
  ``min(struct(doc, pos))`` — a single agg, no window function.
- Flagged positions come back via a hash-keyed shuffle join, and span
  assembly is per-document windowed gap-grouping (partitions bounded
  by document length, never by corpus size).

Nothing is collected to the driver at any stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_export_tool_spark.operators.checkpoint import CheckpointScope

__all__ = ["duplicate_spans", "strip_duplicate_spans"]


def _tokens(text_col: str):
    # split(.., "\\s+") leaves "" edge elements (leading whitespace);
    # filter them so positions index real tokens
    return F.filter(
        F.split(F.col(text_col), r"\s+"), lambda x: x != F.lit("")
    )


def _window_occurrences(
    df: DataFrame, n: int, id_col: str, text_col: str
) -> DataFrame:
    """(id, pos, whash) for every n-token window start. Tokens are
    staged as a real column first — a HOF lambda capturing the
    split/filter subtree would re-evaluate it per element.

    The window hash is a LEFT FOLD of ``xxhash64`` pairs over n
    SHIFTED copies of the per-token hash array (themselves staged once
    per doc): ``h = xx(xx(...xx(t_i, t_{i+1})..., t_{i+n-1})`` via
    n−1 chained ``zip_with`` steps, each mixing two longs. Three
    candidate shapes were measured at sf0.1:

    - per-window ``xxhash64(concat_ws(slice(tokens)))`` (original):
      rebuilds an ~n·avg_token-char string per window inside an
      interpreted HOF — 4.8 s;
    - per-window ``xxhash64(slice(token_hashes))``: still an O(n)
      array alloc per window — ~4 s;
    - sliding-frame ``collect_list`` window: 1.4 s but introduces a
      token-grain shuffle by doc id the fold avoids — at corpus scale
      that doubles the heaviest exchange;
    - this fold: 1.6 s and ZERO shuffle (the whash groupBy remains the
      plan's only token-grain exchange).

    Window equality = ordered token-hash-sequence equality (the fold is
    order-sensitive and boundary-free); collision class stays 64-bit.
    Docs shorter than n yield an empty slice and emit nothing."""
    toks = df.select(F.col(id_col).alias("__id"), _tokens(text_col).alias("__t"))
    toks = toks.select(
        "__id",
        F.transform("__t", lambda x: F.xxhash64(x)).alias("__th"),
    )
    n_win = F.greatest(F.size("__th") - (n - 1), F.lit(0))

    def shifted(k: int):
        return F.slice("__th", k + 1, n_win)

    staged = toks.withColumn("__acc", shifted(0))
    for k in range(1, n):
        staged = staged.withColumn(
            "__acc",
            F.zip_with(
                F.col("__acc"), shifted(k), lambda a, b: F.xxhash64(a, b)
            ),
        )
    return staged.select("__id", F.posexplode("__acc").alias("pos", "whash"))


def _merge_spans(flagged: DataFrame, n: int) -> DataFrame:
    """Gap-group flagged window starts per doc into maximal spans:
    starts p1 < p2 merge when p2 − p1 ≤ n (overlap or adjacency), so
    [start, end) covers every flagged token exactly once."""
    w = Window.partitionBy("__id").orderBy("pos")
    seg = flagged.withColumn(
        "__new",
        F.when(
            F.col("pos") - F.lag("pos").over(w) <= F.lit(n), F.lit(0)
        ).otherwise(F.lit(1)),
    ).withColumn("__seg", F.sum("__new").over(w))
    return seg.groupBy("__id", "__seg").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + F.lit(n)).alias("span_end"),
        F.count(F.lit(1)).alias("n_windows"),
    )


def duplicate_spans(
    df: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_canonical: bool = False,
) -> DataFrame:
    """Maximal duplicated token spans per document.

    A window (n consecutive whitespace tokens) is *duplicated* when its
    token sequence occurs more than once corpus-wide — in another
    document or repeated within the same one. Overlapping/adjacent
    duplicated windows merge into one span ``[span_start, span_end)``
    (token indices into the whitespace tokenization).

    ``keep_canonical=False`` (default) reports every occurrence — the
    audit view. ``keep_canonical=True`` exempts, per window, the single
    canonical occurrence ``min(struct(id, pos))``, so the reported
    spans are exactly what :func:`strip_duplicate_spans` removes
    (Lee et al.'s keep-one-copy policy, made deterministic).

    Returns (id_col, span_start, span_end, n_tokens, n_windows).

    EAGER: calling this runs two Spark jobs immediately (the
    occurrence-table checkpoint and the span-result checkpoint —
    r10, the two consumers share no reusable Exchange) and keeps
    the small span result's checkpoint blocks for the rest of the
    session (the returned DataFrame reads them). Compose lazily
    upstream of this call, not downstream of it.
    """
    if n < 1:
        raise ValueError("window length n must be >= 1")
    # occ feeds TWO consumers (the duplication groupBy and the flagged
    # join) and the tokenize + n−1 zip_with fold is the pipeline's CPU
    # bill — materialize it once (r10; measured ~1.6 s per extra
    # recompute at sf0.1, the operator is EAGER from here). The small
    # span result is pinned and kept; the token-grain blocks are freed
    # on every exit.
    with CheckpointScope() as scope:
        occ = scope.pin(_window_occurrences(df, n, id_col, text_col))
        dup = (
            occ.groupBy("whash")
            .agg(
                F.count(F.lit(1)).alias("__cnt"),
                F.min(F.struct("__id", "pos")).alias("__own"),
            )
            .where(F.col("__cnt") > 1)
            .select("whash", "__own.__id", "__own.pos")
            .toDF("whash", "own_id", "own_pos")
        )
        flagged = occ.join(dup, "whash")
        if keep_canonical:
            flagged = flagged.where(
                ~((F.col("__id") == F.col("own_id")) & (F.col("pos") == F.col("own_pos")))
            )
        # (id, pos) is already unique: posexplode emits each start once and
        # `dup` carries ONE row per whash, so the join cannot fan out — a
        # distinct here would only add a full extra exchange
        spans = _merge_spans(flagged.select("__id", "pos"), n)
        return scope.keep(
            scope.pin(
                spans.select(
                    F.col("__id").alias(id_col),
                    "span_start",
                    "span_end",
                    (F.col("span_end") - F.col("span_start")).alias("n_tokens"),
                    "n_windows",
                )
            )
        )


def strip_duplicate_spans(
    df: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Remove duplicated passages, keeping one canonical copy corpus-wide.

    Every duplicated window occurrence except its canonical owner
    (``min(struct(id, pos))`` — deterministic, no tie ambiguity) is
    removable; removable occurrences gap-merge into spans and the
    covered tokens are dropped from the document. All other columns
    pass through; a ``span_dedup_removed`` column counts dropped
    tokens.

    Contract: documents with no removable span keep their text byte
    -for-byte; modified documents are rebuilt from the whitespace
    tokenization (whitespace-normalized, single spaces) — the same
    normalization every downstream token-level stage applies anyway.
    """
    spans = duplicate_spans(
        df, n=n, id_col=id_col, text_col=text_col, keep_canonical=True
    )
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    out = df.join(per_doc, id_col, "left")
    # token-keep test via array_contains over a STAGED covered-position
    # column, not exists() over the span structs: the natural
    # two-arg-lambda + exists(i >= start & i < end) form — where the
    # outer index variable is referenced twice inside the nested
    # lambda — trips a Spark codegen/interpreter fallback bug when the
    # resulting text later feeds a pandas UDF whose consumer is
    # filtered ([INTERNAL_ERROR] Cannot evaluate expression:
    # pythonUDF(...)); a single reference to the index is safe, and
    # staging __covered as a column keeps the flatten/transform from
    # re-evaluating per token (the HOF-capture-recompute rule)
    out = out.withColumn(
        "__covered",
        F.flatten(
            F.transform(
                F.col("__spans"),
                lambda s: F.sequence(s["span_start"], s["span_end"] - 1),
            )
        ),
    )
    toks = _tokens(text_col)
    kept = F.filter(
        toks, lambda x, i: ~F.array_contains(F.col("__covered"), i)
    )
    removed = F.size(toks) - F.size(kept)
    return out.select(
        *[c for c in df.columns if c != text_col],
        F.when(F.col("__spans").isNull(), F.col(text_col))
        .otherwise(F.concat_ws(" ", kept))
        .alias(text_col),
        F.when(F.col("__spans").isNull(), F.lit(0))
        .otherwise(removed)
        .alias("span_dedup_removed"),
    )
