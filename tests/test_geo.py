"""Geo-hierarchy dimension family (S3) + J4/J5/J6 operators."""

import re

from pyspark.sql import functions as F

from ai_bangladesh_address_parser_spark.data import geo_hierarchy as gh
from ai_bangladesh_address_parser_spark.operators.extract import (
    _positional_postal,
    full_hierarchy,
    geo_evidence,
    predict_postal,
    token_hits,
)


def test_geo_json_roundtrip(spark, tmp_path):
    """S3 scan: nested division JSON (both reference shape variants,
    struct and plain-string villages) explodes to dims identical to the
    constant-backed tables, and each of the 8 constant-backed dims
    returns its constants row for row, order and nulls included."""
    from ai_bangladesh_address_parser_spark.data import dims as dm
    from ai_bangladesh_address_parser_spark.data import gazetteer as gz

    files = gh.write_division_files(str(tmp_path))
    assert len(files) == 8
    dims = gh.load_geo_dims(spark, str(tmp_path))
    for name, const in [("upazilas", gh.upazilas_df(spark)),
                        ("unions", gh.unions_df(spark)),
                        ("villages", gh.villages_df(spark))]:
        assert {tuple(r) for r in dims[name].collect()} == \
            {tuple(r) for r in const.collect()}, name
    for build, rows in [
        (gz.district_division_df, gz.DISTRICT_DIVISION),
        (gz.district_variants_df, sorted(set(gz.DISTRICT_VARIANTS))),
        (gz.areas_df, dm.AREAS),
        (gz.area_variants_df, sorted(set(dm.AREA_VARIANTS))),
        (gz.postal_codes_df, dm.POSTAL_CODES),
        (gh.upazilas_df, gh.UPAZILAS),
        (gh.unions_df, gh.UNIONS),
        (gh.villages_df, gh.VILLAGES),
    ]:
        assert [tuple(r) for r in build(spark).collect()] == [tuple(r) for r in rows], \
            build.__name__


def test_geo_invariants():
    from ai_bangladesh_address_parser_spark.data.gazetteer import DISTRICT_TO_DIVISION

    # reference density (bangladesh_geo_offline.py:58-200): 598 upazilas /
    # 3,215 unions / 2,974 villages, toy rows preserved as a prefix
    assert len(gh.UPAZILAS) == 598 and len(gh.UNIONS) == 3215 and len(gh.VILLAGES) == 2974
    assert gh.UPAZILAS[0] == ("Savar", "Dhaka", "Dhaka", "1340")
    codes = [c for _, _, _, c in gh.UPAZILAS]
    assert len(codes) == len(set(codes)), "postal codes unique per upazila"
    for _, d, dv, _ in gh.UPAZILAS:
        assert DISTRICT_TO_DIVISION[d] == dv
    # Dhaka hot: >= 10x the smallest district (FIXTURES F3 skew rule)
    from collections import Counter
    per_d = Counter(d for _, d, _, _ in gh.UPAZILAS)
    assert per_d["Dhaka"] >= 5 * min(per_d.values())


def test_predict_postal_cascade(spark):
    wide = spark.createDataFrame([
        ("m1", "", "Savar", "Dhaka"),        # P1 upazila
        ("m2", "", "Savarhat2", "Dhaka"),    # P2 union
        ("m3", "", "Savargram1", ""),        # P3 village, no district gate
        ("m4", "", "Gulshan", "Dhaka"),      # P4 post office
        ("m5", "", "Gulsh", "Dhaka"),        # P5 fuzzy containment
        ("m6", "", "", "Chattogram"),        # P6 district min-code
        ("m7", "", "Patiya", "Dhaka"),       # gate rejects Chattogram upazila
        ("m8", "1209", "Gulshan", "Dhaka"),  # not missing -> absent
        ("m9", "", "zzznope", ""),           # nothing -> absent
    ], "mention_id string, postal_code string, area string, district string")
    got = {r["mention_id"]: (r["predicted_postal"], r["prediction_confidence"],
                             r["prediction_source"])
           for r in predict_postal(wide).collect()}
    assert got["m1"] == ("1340", 0.95, "upazila_match")
    assert got["m2"] == ("1340", 0.90, "union_match")
    assert got["m3"] == ("1340", 0.85, "village_match")
    assert got["m4"] == ("1212", 0.80, "post_office_match")
    assert got["m5"] == ("1212", 0.70, "fuzzy_area_match")
    assert got["m6"] == ("4000", 0.60, "district_inference")
    assert got["m7"] == ("1000", 0.60, "district_inference")
    assert "m8" not in got and "m9" not in got


def test_geo_evidence_gating(spark):
    mentions = spark.createDataFrame([
        ("m1", "house 5, savar, dhaka"),   # upazila hit, fills all three
        ("m2", "house 7, savarhat1"),      # union hit (no upazila)
        ("m3", "plain text no geo"),       # nothing
        ("m4", "house 9, patiya"),         # area ev 'Gulshan' doesn't contain it -> emitted
        ("m5", "house 1, dhamrai"),        # has district evidence -> no district fill
        ("m6", "house 2, savar"),          # area ev 'Savar Bazar' CONTAINS it -> skipped
    ], "mention_id string, normalized string")
    ev = spark.createDataFrame(
        [("m4", "area", "Gulshan", 0.9, "regex"),
         ("m5", "district", "Dhaka", 0.9, "regex"),
         ("m6", "area", "Savar Bazar", 0.9, "regex")],
        "mention_id string, component string, value string, confidence double, source string")
    rows = {(r["mention_id"], r["component"]): (r["value"], r["confidence"], r["source"])
            for r in geo_evidence(token_hits(mentions)[1], ev).collect()}
    assert rows[("m1", "area")] == ("Savar", 0.90, "geographic_upazila_extraction")
    assert rows[("m1", "district")] == ("Dhaka", 0.95, "geographic_inferred_from_upazila")
    assert rows[("m2", "area")] == ("Savarhat1", 0.85, "geographic_union_extraction")
    assert rows[("m2", "district")][2] == "geographic_inferred_from_union"
    assert ("m3", "area") not in rows
    # reference gate (geographic_validator.py:189-191): existing area
    # evidence blocks a hit only when its value CONTAINS the name
    assert rows[("m4", "area")] == ("Patiya", 0.90, "geographic_upazila_extraction")
    assert ("m6", "area") not in rows
    assert ("m5", "area") in rows and ("m5", "district") not in rows
    assert rows[("m5", "division")][2] == "geographic_inferred_from_upazila"


def test_full_hierarchy(spark):
    df = spark.createDataFrame([("x1", "1340"), ("x2", "1212")],
                               "mention_id string, postal_code string")
    rows = {r["mention_id"]: r for r in full_hierarchy(df).collect()}
    assert rows["x1"]["upazila"] == "Savar"
    assert rows["x1"]["unions"] == "Savarhat1|Savarhat2|Savarhat3"
    assert "x2" not in rows  # 1212 is a postal-DB code, not an upazila code


def test_positional_postal_regex_occurrence(spark):
    """Regression: match position must come from the regex match, not
    the first substring occurrence (12123 contains '1212' as a
    substring but \\b\\d{4}\\b matches only the trailing token)."""
    cases = [
        "12123 Building, Dhaka 1212",
        "1212 Building, Gulshan Dhaka",
        "House 45, Dhanmondi, Dhaka-1209",
        "1216 early in a very long string of plain text",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "t string")
    out = df.select("t", _positional_postal(F.col("t"), "fsm", 0.75).alias("s")).collect()
    for r in out:
        m = re.search(r"\b(\d{4})\b", r["t"])
        exp = m.group(1) if m and m.end() > len(r["t"]) * 0.5 else None
        got = r["s"]["value"] if r["s"] else None
        assert got == exp, r["t"]


def test_postal_db_roundtrip(spark, tmp_path):
    """S4: the reference-shaped postal-code DB JSON loads back to the
    flat 1,226-row dim (curated rows + TSO/SO office entries)."""
    from ai_bangladesh_address_parser_spark.data.gazetteer import POSTAL_CODES

    fp = gh.write_postal_db(str(tmp_path))
    df = gh.load_postal_db(spark, fp)
    rows = {tuple(r) for r in df.collect()}
    assert len(rows) == len(POSTAL_CODES) == 1226
    assert ("1212", "Dhaka", "Gulshan") in rows
    assert ("1340", "Dhaka", "Savar TSO") in rows
