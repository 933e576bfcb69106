"""S3: the geo-hierarchy dimension family (upazila / union / village).

The reference loads 8 nested division JSONs — two shape variants — into
lookup dicts at init (``src/geo/bangladesh_geo_offline.py:58-173``;
variant handling at ``:86-96``, dict-or-string villages at ``:152-156``).
Real scale: 598 upazilas (each carrying a ``postalCode``), 3,215 unions,
2,974 villages. In Spark the same family becomes three flat broadcast
dimension tables produced by ``spark.read.json`` + ``explode`` — this
module provides

  * a **deterministic synthetic hierarchy** (FIXTURES.md F3 shape, at
    reference density via ``data.dims``: 598 upazilas / 3,215 unions /
    2,974 villages, Dhaka hot so skew handling is exercised; every
    upazila's district exists in ``gazetteer.DISTRICT_DIVISION``;
    postal codes unique per upazila),
  * ``write_division_files`` — serializes it as per-division JSON in
    BOTH reference shape variants (alternating), villages alternating
    dict/plain-string form,
  * ``load_geo_dims`` — the S3 scan: reads those files back with
    ``spark.read.json`` and explodes them into the three flat dims
    (tested equal to the constant-backed dims below),
  * constant-backed dims ``upazilas_df`` / ``unions_df`` /
    ``villages_df`` for operators and DuckDB oracles: no file I/O, and
    built through ``gazetteer.local_df``, so each plans as a JVM
    ``LocalRelation`` that a scan or broadcast reads without starting
    a Python worker.

All names/codes are synthetic or public administrative geography.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .gazetteer import DISTRICT_DIVISION, DISTRICT_TO_DIVISION, local_df

# Flat constants — the ground truth the loader must reproduce; built at
# reference density (598/3,215/2,974) in dims.py, toy rows as a prefix.
# upazilas: (name, district, division, postal_code)
# unions:   (name, upazila, district, division, postal_code)
# villages: (name, union, upazila, district, division, postal_code)
from .dims import UNIONS, UPAZILAS, VILLAGES  # noqa: E402  (re-export)

UPAZILA_SCHEMA = "name string, district string, division string, postal_code string"
UNION_SCHEMA = "name string, upazila string, district string, division string, postal_code string"
VILLAGE_SCHEMA = ("name string, union_name string, upazila string, district string, "
                  "division string, postal_code string")


def upazilas_df(spark: SparkSession) -> DataFrame:
    return local_df(spark, UPAZILAS, UPAZILA_SCHEMA)


def unions_df(spark: SparkSession) -> DataFrame:
    return local_df(spark, UNIONS, UNION_SCHEMA)


def villages_df(spark: SparkSession) -> DataFrame:
    return local_df(spark, VILLAGES, VILLAGE_SCHEMA)


# ---------------------------------------------------------------------------
# JSON serialization (both reference shape variants) + the S3 scan


def _division_tree(division: str) -> list[dict]:
    """Nested district objects for one division.

    Pre-grouped lookups: at reference density (598/3,215/2,974) the
    naive per-upazila rescans of UNIONS and VILLAGES were ~10M pure-
    Python comparisons per serialization (multi-second fixture setup in
    every test that writes the hierarchy)."""
    unions_by_up: dict[str, list[str]] = {}
    for un, up, *_ in UNIONS:
        unions_by_up.setdefault(up, []).append(un)
    villages_by_un: dict[str, list[str]] = {}
    for v, u, *_ in VILLAGES:
        villages_by_un.setdefault(u, []).append(v)
    out = []
    present = {d for _, d, _, _ in UPAZILAS}
    districts = [d for d, _ in DISTRICT_DIVISION if d in present]
    for district in districts:
        if DISTRICT_TO_DIVISION[district] != division:
            continue
        ups = []
        for name, d, _dv, code in UPAZILAS:
            if d != district:
                continue
            uns = [{"name": un, "villages": villages_by_un.get(un, [])}
                   for un in unions_by_up.get(name, [])]
            ups.append({"name": name, "postalCode": code, "unions": uns})
        out.append({"name": district, "division": division, "upazilas": ups})
    return out


def write_division_files(path: str) -> list[str]:
    """Serialize the hierarchy as one JSON file per division,
    alternating the reference's two shapes: even index → Format 1
    ``{"division": ..., "districts": [...]}``, odd index → Format 2
    (bare district list, division on each district). Village lists
    likewise alternate struct vs plain-string form."""
    os.makedirs(path, exist_ok=True)
    files = []
    divisions = sorted({dv for _, _, dv, _ in UPAZILAS})
    for i, division in enumerate(divisions):
        tree = _division_tree(division)
        if i % 2 == 0:
            # villages as structs in Format 1 files
            for dist in tree:
                for up in dist["upazilas"]:
                    for un in up["unions"]:
                        un["villages"] = [{"name": v} for v in un["villages"]]
            data: object = {"division": division, "districts": tree}
        else:
            data = tree  # Format 2: bare list, plain-string villages
        fp = os.path.join(path, f"bd-{division.lower()}-division.json")
        with open(fp, "w", encoding="utf-8") as f:
            json.dump(data, f, ensure_ascii=False)
        files.append(fp)
    return files


def write_postal_db(path: str) -> str:
    """S4: serialize the postal-code DB in the reference's JSON shape
    ``{"postal_codes": [{"code", "district", "postOffice"}, ...]}``
    (loader at bangladesh_geo_offline.py:175-200; real file is 1,226
    rows — this synthetic twin is the full 1,226-row dims.POSTAL_CODES,
    which already carries one TSO entry per upazila, same schema)."""
    from .dims import POSTAL_CODES

    os.makedirs(path, exist_ok=True)
    entries = [
        {"code": c, "district": d, "postOffice": po} for c, d, po in POSTAL_CODES
    ]
    fp = os.path.join(path, "bd-postal-codes.json")
    with open(fp, "w", encoding="utf-8") as f:
        json.dump({"postal_codes": entries}, f, ensure_ascii=False)
    return fp


def load_postal_db(spark: SparkSession, fp: str) -> DataFrame:
    """S4 scan: postal-code DB JSON → (code, district, post_office)."""
    return (
        spark.read.option("multiLine", True).json(fp)
        .select(F.explode("postal_codes").alias("p"))
        .select(
            F.col("p.code").alias("code"),
            F.col("p.district").alias("district"),
            F.col("p.postOffice").alias("post_office"),
        )
    )


def load_geo_dims(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """The S3 scan: nested division JSON → three flat dims.

    Handles both shape variants the way the reference does
    (``bangladesh_geo_offline.py:86-96``): dict root → take
    ``districts``; list root → rows ARE districts (division read from
    each district). Villages may be structs or plain strings
    (``:152-156``). Dimension tables are tiny (≤ thousands of rows even
    at the reference's real scale), so per-file schema dispatch on the
    driver costs nothing; the output dims are meant to be broadcast.
    """
    import glob

    up_frames, un_frames, vg_frames = [], [], []
    for fp in sorted(glob.glob(os.path.join(path, "*.json"))):
        df = spark.read.option("multiLine", True).json(fp)
        if "districts" in df.columns:  # Format 1: {division, districts:[...]}
            df = df.select(F.explode("districts").alias("d")).select(
                F.col("d.name").alias("name"), F.col("d.division").alias("division"),
                F.col("d.upazilas").alias("upazilas"),
            )
        else:  # Format 2: bare district list, division on each row
            df = df.select("name", "division", "upazilas")
        up = df.select(
            F.col("name").alias("district"), "division",
            F.explode("upazilas").alias("u"),
        ).select(
            F.col("u.name").alias("name"), "district", "division",
            F.col("u.postalCode").alias("postal_code"),
            F.col("u.unions").alias("unions"),
        )
        up_frames.append(up.select("name", "district", "division", "postal_code"))
        un = up.select(
            F.col("name").alias("upazila"), "district", "division", "postal_code",
            F.explode("unions").alias("un"),
        )
        un_frames.append(un.select(
            F.col("un.name").alias("name"), "upazila", "district", "division",
            "postal_code",
        ))
        vg = un.select(
            F.col("un.name").alias("union_name"), "upazila", "district", "division",
            "postal_code", F.explode("un.villages").alias("v"),
        )
        # villages: struct {name} in Format 1 files, plain string in
        # Format 2 — normalize per file before any union
        vname = (F.col("v.name") if dict(vg.dtypes)["v"].startswith("struct")
                 else F.col("v"))
        vg_frames.append(vg.select(
            vname.alias("name"), "union_name", "upazila", "district", "division",
            "postal_code",
        ))

    def _union_all(frames):
        out = frames[0]
        for f2 in frames[1:]:
            out = out.unionByName(f2)
        return out

    return {
        "upazilas": _union_all(up_frames),
        "unions": _union_all(un_frames),
        "villages": _union_all(vg_frames),
    }
