"""Stage 3 of the linkage pipeline: batched pairwise scoring.

Reproduces the reference's ``compare_addresses``
(src/core/utils/address_utils.py:131-206): per-component string
similarity on lowercased values, weighted sum (postal .30, district
.25, area .20, house .10, road .10, division .05) renormalized over
components present on BOTH sides, match iff score >= 0.85.

Three scorer backends (``SCORERS``):
  * ``difflib``      — exact reference parity (SequenceMatcher /
    Ratcliff-Obershelp) as an Arrow-batched pandas UDF. This is the
    oracle-faithful path used for the F1 ≥ 0.99 criterion.
  * ``levenshtein``  — pure-JVM similarity 1 − lev/max_len via the
    built-in ``levenshtein`` expression; whole-stage codegen, no Python
    at all. This is the 100 TB hot path; its threshold is calibrated in
    tests to agree with difflib on the labeled pairs.
  * ``jaro_winkler`` — Jaro-Winkler as an Arrow-batched pandas UDF,
    value-identical to DuckDB's ``jaro_winkler_similarity``.

All score the candidate-pair DataFrame columnar-wise — no per-row
driver logic, no collect.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from ..reference_semantics import ALL_COMPONENTS, MATCH_THRESHOLD, PAIR_WEIGHTS


@F.pandas_udf(DoubleType())
def _difflib_ratio(a: pd.Series, b: pd.Series) -> pd.Series:
    """SequenceMatcher.ratio per pair, vectorized over an Arrow batch.
    Null/empty on either side → NaN (component not comparable)."""
    from difflib import SequenceMatcher

    out = []
    for x, y in zip(a, b):
        if x is None or y is None or x == "" or y == "":
            out.append(None)
        else:
            out.append(SequenceMatcher(None, x, y).ratio())
    return pd.Series(out, dtype="float64")


def _jaro(a: str, b: str) -> float:
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0
    if a == b:
        return 1.0
    window = max(la, lb) // 2 - 1
    ma = [False] * la
    mb = [False] * lb
    matches = 0
    for i, ca in enumerate(a):
        lo, hi = max(0, i - window), min(lb, i + window + 1)
        for j in range(lo, hi):
            if not mb[j] and b[j] == ca:
                ma[i] = mb[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    j = 0
    for i in range(la):
        if ma[i]:
            while not mb[j]:
                j += 1
            if a[i] != b[j]:
                t += 1
            j += 1
    m = float(matches)
    # half-transpositions use INTEGER division (t // 2), matching the
    # RapidFuzz/DuckDB implementation; the textbook t/2 differs on odd
    # mismatch counts and would break oracle value-parity
    return (m / la + m / lb + (m - t // 2) / m) / 3.0


@F.pandas_udf(DoubleType())
def _jaro_winkler(a: pd.Series, b: pd.Series) -> pd.Series:
    """Jaro-Winkler (standard: prefix scale 0.1, prefix cap 4, boost
    threshold 0.7 — value-identical to DuckDB's
    ``jaro_winkler_similarity``, verified in the oracle battery),
    vectorized over an Arrow batch. Null/empty → NaN."""
    out = []
    for x, y in zip(a, b):
        if x is None or y is None or x == "" or y == "":
            out.append(None)
            continue
        j = _jaro(x, y)
        if j > 0.7:
            prefix = 0
            for cx, cy in zip(x[:4], y[:4]):
                if cx != cy:
                    break
                prefix += 1
            j += prefix * 0.1 * (1.0 - j)
        out.append(j)
    return pd.Series(out, dtype="float64")


def _lev_sim(a: Column, b: Column) -> Column:
    """1 − levenshtein/max(len) in doubles; null when either side empty.

    Equality short-circuit: within a block most pairs agree exactly on
    the blocking-adjacent components (postal, district), and a codegen
    string-equality is a memcmp while levenshtein is an O(n·m) DP —
    value-identical output (lev=0 → sim 1.0), measurably faster kernel.
    """
    return F.when(
        a.isNotNull() & b.isNotNull() & (a != "") & (b != ""),
        F.when(a == b, F.lit(1.0)).otherwise(
            1.0 - F.levenshtein(a, b) / F.greatest(F.length(a), F.length(b)).cast("double")
        ),
    )


# scorer backend name → per-component similarity; the one list of
# scorers (the CLI builds its --scorer choices from it)
SCORERS = {
    "levenshtein": _lev_sim,
    "difflib": _difflib_ratio,
    "jaro_winkler": _jaro_winkler,
}


def score_pairs(
    pairs: DataFrame,
    components: list[str] | None = None,
    scorer: str = "difflib",
    threshold: float = MATCH_THRESHOLD,
    suffix_a: str = "_a",
    suffix_b: str = "_b",
) -> DataFrame:
    """Input: one row per candidate pair with component columns
    ``<comp>_a`` / ``<comp>_b``. Output: input + per-component sims +
    ``score`` + ``is_match``.

    Weighted-score semantics follow the reference exactly: weights are
    renormalized over the components where BOTH sides are non-empty;
    when no weighted component is comparable, fall back to the
    unweighted mean of the comparable similarities (address_utils.py
    :189-194); no comparable components at all → score 0.0.
    """
    components = components or ALL_COMPONENTS
    sim = SCORERS[scorer]

    df = pairs
    sim_cols = []
    for comp in components:
        a = F.lower(F.trim(F.col(comp + suffix_a)))
        b = F.lower(F.trim(F.col(comp + suffix_b)))
        df = df.withColumn(f"sim_{comp}", sim(a, b))
        sim_cols.append(comp)

    n_sims = sum((F.when(F.col(f"sim_{c}").isNotNull(), 1).otherwise(0)) for c in sim_cols)
    sum_sims = sum((F.coalesce(F.col(f"sim_{c}"), F.lit(0.0))) for c in sim_cols)
    avg_sim = F.when(n_sims > 0, sum_sims / n_sims).otherwise(F.lit(0.0))

    weighted_comps = [(c, w) for c, w in PAIR_WEIGHTS.items() if c in components]
    if weighted_comps:
        weighted = sum(
            (F.coalesce(F.when(F.col(f"sim_{c}").isNotNull(), F.lit(w) * F.col(f"sim_{c}")), F.lit(0.0)))
            for c, w in weighted_comps
        )
        total_w = sum(
            (F.when(F.col(f"sim_{c}").isNotNull(), F.lit(w)).otherwise(F.lit(0.0)))
            for c, w in weighted_comps
        )
        score = F.when(total_w > 0, weighted / total_w).otherwise(avg_sim)
    else:
        # no weighted component selected → reference falls back to the
        # unweighted mean (address_utils.py:189-194)
        score = avg_sim

    df = df.withColumn("score", score).withColumn("is_match", F.col("score") >= F.lit(threshold))
    return df


def attach_pair_components(
    pairs: DataFrame,
    resolved_wide: DataFrame,
    id_col: str = "mention_id",
    components: list[str] | None = None,
) -> DataFrame:
    """Join candidate-pair ids to their component columns (two hash
    joins on the mention id — co-partitioned with the pair generation
    shuffle, so AQE usually keeps one side local)."""
    components = components or ALL_COMPONENTS
    a = resolved_wide.select(
        F.col(id_col).alias("id_a"), *[F.col(c).alias(c + "_a") for c in components]
    )
    b = resolved_wide.select(
        F.col(id_col).alias("id_b"), *[F.col(c).alias(c + "_b") for c in components]
    )
    return pairs.join(a, "id_a").join(b, "id_b")


def pr_curve(
    scored: DataFrame,
    label_col: str = "is_true",
    score_col: str = "score",
    n_bins: int = 100,
    truth_total: int | None = None,
) -> DataFrame:
    """Precision/recall/F1 at every score threshold — the calibration
    sweep behind picking a match threshold (the reference hardcodes
    0.85; this is how you'd re-derive it on a labeled sample).

    One aggregation pass at corpus scale: scores bucket into ``n_bins``
    (threshold = bucket/n_bins), counts reduce to ≤ n_bins rows, and
    the cumulative "pairs at or above threshold" sums run in a DESC
    window over those rows — the global window is deliberate and safe,
    it orders at most ``n_bins`` rows, never per-pair state.

    ``truth_total`` (when given) sets the recall denominator — pass the
    corpus truth-pair count (Σ n·(n−1)/2, see ``blocking_recall``) so
    pairs blocking never proposed count as misses; default is the true
    pairs present in ``scored`` (scorer-only calibration).

    → (threshold, pred_pairs, tp, precision, recall, f1), one row per
    non-empty bucket, descending threshold.
    """
    from pyspark.sql import Window

    b = F.least(
        F.floor(F.col(score_col) * n_bins).cast("bigint"), F.lit(n_bins - 1)
    )
    binned = scored.select(
        b.alias("b"), F.col(label_col).cast("long").alias("y")
    )
    # lineage cut: per_bin is ≤ n_bins rows but its lineage is the full
    # scored input — without the cut, deriving the default truth_total
    # AND collecting the curve would each re-run the scorer end to end
    per_bin = binned.groupBy("b").agg(
        F.count(F.lit(1)).alias("n_b"), F.sum("y").alias("tp_b")
    ).localCheckpoint(eager=False)
    # cumulative-from-the-top sums via a broadcast range self-join over
    # the ≤ n_bins-row checkpointed frame (≤ n_bins² tiny comparisons)
    # instead of an unpartitioned window, which would warn about a
    # single-partition move on every run even though the frame is
    # bounded by construction
    hi = F.broadcast(per_bin.select(
        F.col("b").alias("_b2"), F.col("n_b").alias("_n2"),
        F.col("tp_b").alias("_tp2"),
    ))
    cum = (
        per_bin.join(hi, F.col("_b2") >= F.col("b"))
        .groupBy("b")
        .agg(F.sum("_n2").alias("pred_pairs"), F.sum("_tp2").alias("tp"))
        .select(
            (F.col("b") / n_bins).alias("threshold"), "pred_pairs", "tp"
        )
    )
    if truth_total is None:
        truth_total = per_bin.agg(F.sum("tp_b")).first()[0] or 0
    p = F.col("tp") / F.col("pred_pairs")
    r = (F.col("tp") / F.lit(truth_total)) if truth_total else F.lit(1.0)
    return cum.select(
        "threshold",
        "pred_pairs",
        "tp",
        p.alias("precision"),
        r.alias("recall"),
        F.when(p + r > 0, 2 * p * r / (p + r)).otherwise(F.lit(0.0)).alias("f1"),
    ).orderBy(F.col("threshold").desc())


def compare_detail(
    scored: DataFrame,
    components: list[str] | None = None,
    high: float = 0.9,
    suffix_a: str = "_a",
    suffix_b: str = "_b",
) -> DataFrame:
    """The reference ``compare()`` detail surface (extractor.py:425 →
    address_utils.py:131-176): per pair, ``common`` = components where
    both sides are present and similarity ≥ 0.9, ``differences`` =
    components where exactly one side is present, or both are present
    but similarity < 0.9 (both-absent components appear in neither).

    Runs on :func:`score_pairs` output — ``sim_<comp>`` is non-null iff
    both sides are present, so presence only needs re-deriving for the
    one-sided case. Lists are emitted as comma-joined strings in
    component order: deterministic, schema-stable, oracle-friendly.
    """
    components = components or ALL_COMPONENTS

    def present(c: str, s: str):
        v = F.lower(F.trim(F.col(c + s)))
        return v.isNotNull() & (v != "")

    commons, diffs = [], []
    for c in components:
        sim = F.col(f"sim_{c}")
        both = sim.isNotNull()
        one_side = present(c, suffix_a) != present(c, suffix_b)  # XOR
        commons.append(F.when(both & (sim >= high), F.lit(c)))
        diffs.append(F.when(one_side | (both & (sim < high)), F.lit(c)))
    return (
        scored
        .withColumn("common", F.array_join(F.array_compact(F.array(*commons)), ","))
        .withColumn("differences", F.array_join(F.array_compact(F.array(*diffs)), ","))
    )
