"""Output-side scalar surfaces: T11 formatting, P3 validation, J7
suggest, A4 confidence banding — all Catalyst expressions / tiny
DataFrame queries over the resolved-components table.

Reference citations: format → src/core/utils/address_utils.py:69-128;
validate → :9-66; suggest → :209-259; confidence banding →
src/regex/house_number_processor.py:1192-1240.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..reference_semantics import ALL_COMPONENTS


def _nz(name: str) -> Column:
    c = F.col(name)
    return F.when(c.isNotNull() & (c != ""), c)


def format_address_expr(style: str = "full", separator: str = ", ", include_postal: bool = True) -> Column:
    """Render component columns to a display string.

    Styles (reference T11): ``full`` = house/road/area/district/division
    (+postal), ``short`` = house/road/area, ``postal`` =
    area/district/postal, ``minimal`` = area/district.
    """
    parts = {
        "full": [
            F.when(_nz("house_number").isNotNull(), F.concat(F.lit("House "), F.col("house_number"))),
            F.when(_nz("road").isNotNull(), F.concat(F.lit("Road "), F.col("road"))),
            _nz("area"),
            _nz("district"),
            _nz("division"),
        ]
        + ([_nz("postal_code")] if include_postal else []),
        "short": [
            F.when(_nz("house_number").isNotNull(), F.concat(F.lit("House "), F.col("house_number"))),
            F.when(_nz("road").isNotNull(), F.concat(F.lit("Road "), F.col("road"))),
            _nz("area"),
        ],
        "postal": [_nz("area"), _nz("district"), _nz("postal_code")],
        "minimal": [_nz("area"), _nz("district")],
    }[style]
    return F.concat_ws(separator, *parts)


def validate_cols(required: list[str] | None = None) -> dict[str, Column]:
    """P3: completeness = non-empty/9; required-missing; postal format
    check; score = 0.7·required_ok + 0.3·completeness; is_valid."""
    required = required or ["district", "area"]
    nonempty = [
        F.when(_nz(c).isNotNull(), 1).otherwise(0) for c in ALL_COMPONENTS
    ]
    completeness = sum(nonempty[1:], nonempty[0]) / F.lit(float(len(ALL_COMPONENTS)))
    req_present = [F.when(_nz(c).isNotNull(), 1).otherwise(0) for c in required]
    req_score = sum(req_present[1:], req_present[0]) / F.lit(float(len(required)))
    postal_ok = _nz("postal_code").isNull() | F.col("postal_code").rlike(r"^\d{4}$")
    missing = F.array_compact(
        F.array(*[F.when(_nz(c).isNull(), F.lit(c)) for c in required])
    )
    score = F.round(req_score * 0.7 + completeness * 0.3, 6)
    return {
        "completeness": F.round(completeness, 6),
        "missing_required": missing,
        "postal_format_ok": postal_ok,
        "validation_score": score,
        "is_valid": (score >= 0.7) & postal_ok,
    }


def suggest(
    names: DataFrame, query: str, k: int = 10, name_col: str = "name",
    method: str = "levenshtein",
) -> DataFrame:
    """J7 autocomplete: substring filter → similarity order → limit k
    (reference address_utils.py:209-259). ``method='levenshtein'`` is
    the default JVM-side ranking (oracle-comparable in DuckDB);
    ``method='difflib'`` scores with the reference's exact
    ``SequenceMatcher.ratio`` via the Arrow-batched parity UDF — the
    filter already shrinks the input to a handful of rows, so the
    Python scorer is off the hot path either way."""
    q = query.strip().lower()
    c = F.lower(F.col(name_col))
    cand = names.filter(c.contains(q))
    if method == "difflib":
        from ..operators.scoring import _difflib_ratio

        sim = F.round(_difflib_ratio(c, F.lit(q)), 6)
    else:
        sim = F.round(
            1.0 - F.levenshtein(c, F.lit(q))
            / F.greatest(F.length(c), F.lit(len(q))).cast("double"), 6)
    return (
        cand.withColumn("similarity", sim)
        .orderBy(F.col("similarity").desc(), F.col(name_col))
        .limit(k)
    )


CONFIDENCE_BANDS = [
    (0.95, "band_95_100"), (0.90, "band_90_95"), (0.85, "band_85_90"),
    (0.80, "band_80_85"), (0.70, "band_70_80"), (0.60, "band_60_70"),
    (0.50, "band_50_60"), (0.0, "band_00_50"),
]


def confidence_band_expr(conf_col: str = "overall_confidence") -> Column:
    """A4/D2 band label (8 bands + none) as a when-chain."""
    c = F.col(conf_col)
    expr = F.when(c.isNull() | (c <= 0), F.lit("band_none"))
    for lo, name in CONFIDENCE_BANDS:
        expr = expr.when(c >= lo, F.lit(name))
    return expr.otherwise(F.lit("band_none"))


def confidence_histogram(resolved: DataFrame, conf_col: str = "overall_confidence") -> DataFrame:
    return (
        resolved.withColumn("band", confidence_band_expr(conf_col))
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("band")
    )
