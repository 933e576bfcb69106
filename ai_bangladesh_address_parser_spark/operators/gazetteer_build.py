"""S2/A5: build the data-derived gazetteer from a labeled corpus.

Reference behavior (src/core/stages/gazetteer.py:58-128 build,
:460-480 dominance rule): per area over the labeled records —
mode(district), mode(division), the postal codes ranked by frequency,
and a dominance-based confidence for predicting the top postal:

    single postal OR top share >= 80%  -> 0.98
    top share >= 60%                   -> 0.95
    otherwise                          -> 0.90

The reference's Counter-based build is literally a Spark aggregation:
three partial-aggregated shuffles on the area key (postal ranking,
district mode, division mode) over the labeled corpus — a build-time
job whose output is a small broadcastable dimension. Tie-breaks are
pinned to (count desc, value asc); the reference depends on dict/
insertion order, which has no distributed equivalent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _mode(rec: DataFrame, col: str) -> DataFrame:
    """area -> most frequent non-empty value of ``col`` (count desc,
    value asc)."""
    cnt = (
        rec.filter(F.col(col) != "")
        .groupBy("area", col)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        cnt.groupBy("area")
        .agg(F.min_by(F.col(col), F.struct((-F.col("cnt")).alias("nc"), F.col(col)))
             .alias(col))
    )


def area_vocab_from_labeled(labeled: DataFrame, area_col: str = "area") -> DataFrame:
    """Labeled records → ``(variant, area)`` vocabulary rows for the
    surface dictionary (``extract_evidence``'s ``area_vocab``).

    The reference initializes its extractor with a gazetteer built from
    the batch's own labeled input (production_address_extractor.py:
    1205-1257), so at inference it recognizes every labeled area
    verbatim. The Spark analogue: derive the candidate-generation
    vocabulary from the labeled corpus. Labels pass through the same
    Stage-2 normalization as mention text so the lookup key matches the
    tokens it will join against (Bangla-script labels fold to the same
    Banglish surface, Bangla numerals to ASCII); the emitted value is
    the most frequent normalized surface form per key.
    """
    from ..functions.normalize import normalize_expr

    lab = (
        labeled.select(normalize_expr(F.trim(F.col(area_col))).alias("label"))
        .filter((F.col("label") != "") & (F.length("label") >= 3))
    )
    cnt = lab.groupBy(F.lower("label").alias("variant"), F.col("label")).agg(
        F.count(F.lit(1)).alias("cnt"))
    return cnt.groupBy("variant").agg(
        F.min_by("label", F.struct((-F.col("cnt")).alias("nc"), F.col("label")))
        .alias("area"))


def build_gazetteer(
    labeled: DataFrame,
    area_col: str = "area",
    district_col: str = "district",
    division_col: str = "division",
    postal_col: str = "postal_code",
) -> DataFrame:
    """labeled records -> one gazetteer row per area:

    (area [lowercase key], district, division, postal_codes
    [freq-sorted, pipe-joined], top_postal, n_postals, n_records,
    top_share, postal_confidence)

    Postal codes that fail the ``^\\d{4}$`` shape are dropped before
    counting (reference normalizes the same way, gazetteer.py:72-80).
    Areas with no valid postal rows still appear (from district/division
    modes) with null postal fields.
    """
    from ..functions.normalize import normalize_expr

    # Normalize area labels exactly like mention text (Bangla → Banglish,
    # numeral folding, whitespace collapse) so the lowercase key matches
    # the lower(evidence.area)==a_key join in gazetteer_evidence and the
    # display surface matches what area_vocab_from_labeled emits — a raw
    # Bangla-script or case-variant label would otherwise never join and
    # would case-split the Stage-8 vote. normalize_expr is idempotent, so
    # callers that pre-normalize (tools/eval_golden.py) are unaffected.
    norm_area = normalize_expr(F.trim(F.col(area_col)))
    rec = labeled.select(
        F.lower(norm_area).alias("area"),
        norm_area.alias("disp"),
        F.coalesce(F.trim(F.col(district_col)), F.lit("")).alias("district"),
        F.coalesce(F.trim(F.col(division_col)), F.lit("")).alias("division"),
        F.when(F.trim(F.col(postal_col)).rlike(r"^\d{4}$"), F.trim(F.col(postal_col)))
        .alias("postal"),
    ).filter(F.col("area") != "")

    per_postal = (
        rec.filter(F.col("postal").isNotNull())
        .groupBy("area", "postal")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # one sorted list per area: (cnt desc, postal asc) — the head is the
    # dominance winner, the projection is the freq-ranked code list
    lst = F.sort_array(F.collect_list(F.struct(
        (-F.col("cnt")).alias("nc"), F.col("postal").alias("postal"),
        F.col("cnt").alias("cnt"),
    )))
    postal_agg = per_postal.groupBy("area").agg(
        lst.alias("lst"),
        F.sum("cnt").alias("n_records"),
        F.count(F.lit(1)).alias("n_postals"),
    ).select(
        "area",
        F.concat_ws("|", F.transform("lst", lambda x: x["postal"])).alias("postal_codes"),
        F.element_at("lst", 1)["postal"].alias("top_postal"),
        F.col("n_postals").cast("bigint").alias("n_postals"),
        F.col("n_records").cast("bigint").alias("n_records"),
        (F.element_at("lst", 1)["cnt"] / F.col("n_records")).cast("double").alias("top_share"),
    ).withColumn(
        "postal_confidence",
        F.when((F.col("n_postals") == 1) | (F.col("top_share") >= 0.8), 0.98)
        .when(F.col("top_share") >= 0.6, 0.95)
        .otherwise(0.90),
    )

    base = rec.select("area").distinct()
    out = (
        base.join(_mode(rec, "district"), "area", "left")
        .join(_mode(rec, "division"), "area", "left")
        .join(_mode(rec, "disp"), "area", "left")
        .join(postal_agg, "area", "left")
    )
    return out.select(
        "area",
        F.coalesce("district", F.lit("")).alias("district"),
        F.coalesce("division", F.lit("")).alias("division"),
        "postal_codes", "top_postal", "n_postals", "n_records",
        "top_share", "postal_confidence",
        # surface form for emitted evidence: validated-area values must
        # vote as the SAME value the vocabulary evidence produced, not
        # as the lowercased key (a case-split vote hands the win to a
        # co-mentioned locality)
        F.coalesce("disp", F.col("area")).alias("area_display"),
    )
