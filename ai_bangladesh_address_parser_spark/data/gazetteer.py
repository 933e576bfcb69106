"""Gazetteer dimension tables — the engine's broadcast lookup state.

The reference loads these as Python dicts/sets/tries at init
(``src/geo/bangladesh_geo_offline.py:58-200``, hardcoded vocabularies in
``src/regex/district_processor.py:288-514``). In Spark they are small
broadcast DataFrames joined against the mention fact table: a broadcast
hash join IS the trie ("Technique #26") at cluster scale.

All contents are public Bangladesh administrative geography (8
divisions, 64 districts) plus the spelling-variant vocabulary the
reference's behavior is defined over. Postal codes and area rows are a
representative public subset sized for tests; at production scale the
same schema is loaded from the full public postal-code dataset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# (district, division) — all 64 districts, public administrative data.
DISTRICT_DIVISION: list[tuple[str, str]] = [
    ("Dhaka", "Dhaka"), ("Faridpur", "Dhaka"), ("Gazipur", "Dhaka"),
    ("Gopalganj", "Dhaka"), ("Kishoreganj", "Dhaka"), ("Madaripur", "Dhaka"),
    ("Manikganj", "Dhaka"), ("Munshiganj", "Dhaka"), ("Narayanganj", "Dhaka"),
    ("Narsingdi", "Dhaka"), ("Rajbari", "Dhaka"), ("Shariatpur", "Dhaka"),
    ("Tangail", "Dhaka"),
    ("Chattogram", "Chattogram"), ("Bandarban", "Chattogram"),
    ("Brahmanbaria", "Chattogram"), ("Chandpur", "Chattogram"),
    ("Cumilla", "Chattogram"), ("Cox's Bazar", "Chattogram"),
    ("Feni", "Chattogram"), ("Khagrachhari", "Chattogram"),
    ("Lakshmipur", "Chattogram"), ("Noakhali", "Chattogram"),
    ("Rangamati", "Chattogram"),
    ("Rajshahi", "Rajshahi"), ("Bogura", "Rajshahi"), ("Joypurhat", "Rajshahi"),
    ("Naogaon", "Rajshahi"), ("Natore", "Rajshahi"), ("Chapainawabganj", "Rajshahi"),
    ("Pabna", "Rajshahi"), ("Sirajganj", "Rajshahi"),
    ("Khulna", "Khulna"), ("Bagerhat", "Khulna"), ("Chuadanga", "Khulna"),
    ("Jashore", "Khulna"), ("Jhenaidah", "Khulna"), ("Kushtia", "Khulna"),
    ("Magura", "Khulna"), ("Meherpur", "Khulna"), ("Narail", "Khulna"),
    ("Satkhira", "Khulna"),
    ("Barisal", "Barisal"), ("Barguna", "Barisal"), ("Bhola", "Barisal"),
    ("Jhalokati", "Barisal"), ("Patuakhali", "Barisal"), ("Pirojpur", "Barisal"),
    ("Sylhet", "Sylhet"), ("Habiganj", "Sylhet"), ("Moulvibazar", "Sylhet"),
    ("Sunamganj", "Sylhet"),
    ("Rangpur", "Rangpur"), ("Dinajpur", "Rangpur"), ("Gaibandha", "Rangpur"),
    ("Kurigram", "Rangpur"), ("Lalmonirhat", "Rangpur"), ("Nilphamari", "Rangpur"),
    ("Panchagarh", "Rangpur"), ("Thakurgaon", "Rangpur"),
    ("Mymensingh", "Mymensingh"), ("Jamalpur", "Mymensingh"),
    ("Netrokona", "Mymensingh"), ("Sherpur", "Mymensingh"),
]

# Bangla district names (full public map — the reference's Bangla
# district vocabulary, district_processor.py:322-407). Keys are the
# standard Bangla spellings; values are canonical English names.
BANGLA_DISTRICTS: list[tuple[str, str]] = [
    ("ঢাকা", "Dhaka"), ("ফরিদপুর", "Faridpur"), ("গাজীপুর", "Gazipur"),
    ("গোপালগঞ্জ", "Gopalganj"), ("কিশোরগঞ্জ", "Kishoreganj"),
    ("মাদারীপুর", "Madaripur"), ("মানিকগঞ্জ", "Manikganj"),
    ("মুন্সীগঞ্জ", "Munshiganj"), ("নারায়ণগঞ্জ", "Narayanganj"),
    ("নরসিংদী", "Narsingdi"), ("রাজবাড়ী", "Rajbari"),
    ("শরীয়তপুর", "Shariatpur"), ("টাঙ্গাইল", "Tangail"),
    ("চট্টগ্রাম", "Chattogram"), ("বান্দরবান", "Bandarban"),
    ("ব্রাহ্মণবাড়িয়া", "Brahmanbaria"), ("চাঁদপুর", "Chandpur"),
    ("কুমিল্লা", "Cumilla"), ("কক্সবাজার", "Cox's Bazar"),
    ("ফেনী", "Feni"), ("খাগড়াছড়ি", "Khagrachhari"),
    ("লক্ষ্মীপুর", "Lakshmipur"), ("নোয়াখালী", "Noakhali"),
    ("রাঙ্গামাটি", "Rangamati"),
    ("রাজশাহী", "Rajshahi"), ("বগুড়া", "Bogura"), ("জয়পুরহাট", "Joypurhat"),
    ("নওগাঁ", "Naogaon"), ("নাটোর", "Natore"),
    ("চাঁপাইনবাবগঞ্জ", "Chapainawabganj"), ("পাবনা", "Pabna"),
    ("সিরাজগঞ্জ", "Sirajganj"),
    ("খুলনা", "Khulna"), ("বাগেরহাট", "Bagerhat"), ("চুয়াডাঙ্গা", "Chuadanga"),
    ("যশোর", "Jashore"), ("ঝিনাইদহ", "Jhenaidah"), ("কুষ্টিয়া", "Kushtia"),
    ("মাগুরা", "Magura"), ("মেহেরপুর", "Meherpur"), ("নড়াইল", "Narail"),
    ("সাতক্ষীরা", "Satkhira"),
    ("বরিশাল", "Barisal"), ("বরগুনা", "Barguna"), ("ভোলা", "Bhola"),
    ("ঝালকাঠি", "Jhalokati"), ("পটুয়াখালী", "Patuakhali"),
    ("পিরোজপুর", "Pirojpur"),
    ("সিলেট", "Sylhet"), ("হবিগঞ্জ", "Habiganj"),
    ("মৌলভীবাজার", "Moulvibazar"), ("সুনামগঞ্জ", "Sunamganj"),
    ("রংপুর", "Rangpur"), ("দিনাজপুর", "Dinajpur"), ("গাইবান্ধা", "Gaibandha"),
    ("কুড়িগ্রাম", "Kurigram"), ("লালমনিরহাট", "Lalmonirhat"),
    ("নীলফামারী", "Nilphamari"), ("পঞ্চগড়", "Panchagarh"),
    ("ঠাকুরগাঁও", "Thakurgaon"),
    ("ময়মনসিংহ", "Mymensingh"), ("জামালপুর", "Jamalpur"),
    ("নেত্রকোণা", "Netrokona"), ("শেরপুর", "Sherpur"),
]

# (variant, canonical) — spelling/abbreviation variants the reference
# resolves (district_processor.py:292-407; normalizer corrections),
# plus every Bangla district spelling.
DISTRICT_VARIANTS: list[tuple[str, str]] = [
    ("dhaka", "Dhaka"), ("daka", "Dhaka"), ("dhakka", "Dhaka"),
    ("chattogram", "Chattogram"), ("chittagong", "Chattogram"),
    ("chittagang", "Chattogram"), ("ctg", "Chattogram"),
    ("cumilla", "Cumilla"), ("comilla", "Cumilla"),
    ("bogura", "Bogura"), ("bogra", "Bogura"),
    ("jashore", "Jashore"), ("jessore", "Jashore"),
    ("barisal", "Barisal"), ("barishal", "Barisal"),
    ("coxs bazar", "Cox's Bazar"), ("cox's bazar", "Cox's Bazar"),
] + [(d.lower(), d) for d, _ in DISTRICT_DIVISION] + BANGLA_DISTRICTS

# Bangla letter → Banglish block-letter map
# (block_processor.py:251-259): block values written as Bangla letters
# normalize to their Banglish names ("ব্লক ক" → block "Ka").
BANGLA_BLOCK_MAP: dict[str, str] = {
    "চ": "Cha", "ক": "Ka", "গ": "Ga", "জ": "Ja", "ড": "Da",
    "প": "Pa", "ব": "Ba", "ম": "Ma", "র": "Ra", "ল": "La",
    "এ": "A", "বি": "Bi", "সি": "Ci", "ডি": "Di", "ই": "E",
    "এফ": "F", "জি": "Gi", "এইচ": "H", "আই": "I", "জে": "Je",
    "খ": "Kha", "ছ": "Cha", "ঠ": "Tha", "থ": "Tha", "ফ": "Pha",
    "ভ": "Bha", "শ": "Sha", "স": "Sa", "হ": "Ha",
}

# (area, district, postal_code) — curated public subset covering the
# reference's fixture addresses; `Dhaka` is intentionally hot (many
# areas) so skew handling is exercised. The full ~400-row dimension the
# operators consume (reference density, district_processor.py:410-514)
# is built in ``dims.py`` with these rows as its prefix.
CURATED_AREAS: list[tuple[str, str, str]] = [
    ("Gulshan", "Dhaka", "1212"), ("Banani", "Dhaka", "1213"),
    ("Dhanmondi", "Dhaka", "1209"), ("Uttara", "Dhaka", "1230"),
    ("Mirpur", "Dhaka", "1216"), ("Mohammadpur", "Dhaka", "1207"),
    ("Tejgaon", "Dhaka", "1208"), ("Bashundhara R/A", "Dhaka", "1229"),
    ("Badda", "Dhaka", "1212"), ("Khilgaon", "Dhaka", "1219"),
    ("Motijheel", "Dhaka", "1000"), ("Jigatola", "Dhaka", "1209"),
    ("Monipur", "Dhaka", "1216"), ("Gulisthan", "Dhaka", "1000"),
    ("Lalbagh", "Dhaka", "1211"), ("Shyamoli", "Dhaka", "1207"),
    ("Banasree", "Dhaka", "1219"), ("Baridhara", "Dhaka", "1212"),
    ("Agrabad", "Chattogram", "4100"), ("Halishahar", "Chattogram", "4219"),
    ("Nasirabad", "Chattogram", "4000"), ("Pahartali", "Chattogram", "4202"),
    ("Khulshi", "Chattogram", "4225"),
    ("Zindabazar", "Sylhet", "3100"), ("Ambarkhana", "Sylhet", "3100"),
    ("Shiababi", "Rajshahi", "6000"), ("Boalia", "Rajshahi", "6100"),
    ("Sonadanga", "Khulna", "9100"), ("Daulatpur", "Khulna", "9202"),
    ("Rupatali", "Barisal", "8200"),
    # second tranche mirroring the reference's ~400-entry common_areas
    # vocabulary (area_processor.py:93-133, district_processor.py:410-514):
    # high-frequency localities from the labeled corpus
    ("Jatrabari", "Dhaka", "1204"), ("Azimpur", "Dhaka", "1205"),
    ("Khilkhet", "Dhaka", "1229"), ("Bashabo", "Dhaka", "1214"),
    ("Rampura", "Dhaka", "1219"), ("Cantonment", "Dhaka", "1206"),
    ("Old Dhaka", "Dhaka", "1100"), ("Patenga", "Chattogram", "4204"),
]

# area spelling variants (variant_lower, canonical_area); the full
# AREA_VARIANTS (these + one per dims.AREAS row) lives in dims.py.
_AREA_VARIANT_SEEDS: list[tuple[str, str]] = [
    ("zigatola", "Jigatola"), ("jigatola", "Jigatola"), ("jhigatola", "Jigatola"),
    ("gulisthan", "Gulisthan"), ("gulistan", "Gulisthan"),
    ("bashundhara", "Bashundhara R/A"), ("bashundhara r/a", "Bashundhara R/A"),
    ("uttara", "Uttara"), ("mirpur", "Mirpur"), ("gulshan", "Gulshan"),
    ("banani", "Banani"), ("dhanmondi", "Dhanmondi"), ("mohammadpur", "Mohammadpur"),
    ("tejgaon", "Tejgaon"), ("halishahar", "Halishahar"), ("agrabad", "Agrabad"),
    ("motijheel", "Motijheel"), ("badda", "Badda"), ("khilgaon", "Khilgaon"),
    ("monipur", "Monipur"), ("west monipur", "Monipur"),
] + [(a.lower(), a) for a, _, _ in CURATED_AREAS]

# (code, district, post_office) — curated postal-code DB rows; the full
# 1,226-row dimension (reference density) is built in dims.py.
CURATED_POSTAL_CODES: list[tuple[str, str, str]] = [
    ("1000", "Dhaka", "Dhaka GPO"), ("1100", "Dhaka", "Dhaka Sadar"),
    ("1205", "Dhaka", "New Market"), ("1207", "Dhaka", "Mohammadpur"),
    ("1208", "Dhaka", "Tejgaon"), ("1209", "Dhaka", "Jigatola"),
    ("1211", "Dhaka", "Posta"), ("1212", "Dhaka", "Gulshan"),
    ("1213", "Dhaka", "Banani"), ("1216", "Dhaka", "Mirpur"),
    ("1219", "Dhaka", "Khilgaon"), ("1229", "Dhaka", "Khilkhet"),
    ("1230", "Dhaka", "Uttara"), ("1310", "Narayanganj", "Fatullah"),
    ("1400", "Narayanganj", "Narayanganj Sadar"), ("1700", "Gazipur", "Gazipur Sadar"),
    ("4000", "Chattogram", "Chattogram GPO"), ("4100", "Chattogram", "Agrabad"),
    ("4202", "Chattogram", "Pahartali"), ("4219", "Chattogram", "Halishahar"),
    ("4225", "Chattogram", "Khulshi"), ("3100", "Sylhet", "Sylhet Sadar"),
    ("6000", "Rajshahi", "Rajshahi GPO"), ("6100", "Rajshahi", "Boalia"),
    ("9100", "Khulna", "Khulna GPO"), ("9202", "Khulna", "Daulatpur"),
    ("8200", "Barisal", "Barisal Sadar"), ("5400", "Rangpur", "Rangpur Sadar"),
    ("2200", "Mymensingh", "Mymensingh Sadar"), ("2000", "Tangail", "Tangail Sadar"),
]


def local_df(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Constant Python rows as a DataFrame planned as a JVM ``LocalRelation``.

    ``createDataFrame(<list>)`` pickles the rows into a ``PythonRDD``,
    so every scan or broadcast of the frame is a Spark job whose tasks
    start Python workers just to unpickle constant data. An Arrow table
    is shipped to the JVM once; below
    ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB by
    default, the largest dim here is well under 1 MB) Spark keeps it as
    a ``LocalRelation``, so reading it starts no Python worker at all.
    pyarrow is imported here, not at module import, so session set-up
    does not pay for it."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    cols = [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)]
    return spark.createDataFrame(pa.Table.from_arrays(cols, schema=arrow), struct)


def district_division_df(spark: SparkSession) -> DataFrame:
    return local_df(spark, DISTRICT_DIVISION, "district string, division string")


def district_variants_df(spark: SparkSession) -> DataFrame:
    rows = sorted(set(DISTRICT_VARIANTS))
    return local_df(spark, rows, "variant string, district string")


def areas_df(spark: SparkSession) -> DataFrame:
    from . import dims

    return local_df(spark, dims.AREAS, "area string, district string, postal_code string")


def area_variants_df(spark: SparkSession) -> DataFrame:
    from . import dims

    rows = sorted(set(dims.AREA_VARIANTS))
    return local_df(spark, rows, "variant string, area string")


def postal_codes_df(spark: SparkSession) -> DataFrame:
    from . import dims

    return local_df(
        spark, dims.POSTAL_CODES, "code string, district string, post_office string")


SURFACE_SCHEMA = "kind string, variant string, value string, district string, division string"


def surface_rows() -> list[tuple]:
    """The surface dictionary: every exact surface the evidence battery
    looks up, as ``(kind, lowercase variant, canonical value, district,
    division)``. Kinds: ``district`` and ``area`` spelling variants
    (every area name is one), ``division``, ``upazila``, ``union``.
    Variants are unique within a kind, so no Spark-side ``distinct``."""
    from . import dims

    return (
        [("district", v, d, d, DISTRICT_TO_DIVISION[d]) for v, d in sorted(set(DISTRICT_VARIANTS))]
        + [("area", v, a, None, None) for v, a in sorted(set(dims.AREA_VARIANTS))]
        + [("division", dv.lower(), dv, None, dv)
           for dv in sorted({dv for _, dv in DISTRICT_DIVISION})]
        + [("upazila", n.lower(), n, d, dv) for n, d, dv, _ in dims.UPAZILAS]
        + [("union", n.lower(), n, d, dv) for n, _, d, dv, _ in dims.UNIONS]
    )


def surface_df(spark: SparkSession, area_vocab: DataFrame | None = None) -> DataFrame:
    """The surface dictionary as one broadcastable frame. Optional
    runtime ``area_vocab`` ``(variant, area)`` rows join as ``area``
    rows and win a variant collision with the static seed."""
    d = local_df(spark, surface_rows(), SURFACE_SCHEMA)
    if area_vocab is None:
        return d
    is_area = F.col("kind") == "area"
    areas = (
        area_vocab.select("variant", F.col("area").alias("value"), F.lit(0).alias("prio"))
        .unionByName(d.filter(is_area).select("variant", "value", F.lit(1).alias("prio")))
        .groupBy("variant")
        .agg(F.min_by("value", F.struct("prio", "value")).alias("value"))
        .withColumn("kind", F.lit("area"))
    )
    return d.filter(~is_area).unionByName(areas, allowMissingColumns=True)


def area_prefix_rows() -> list[tuple[str, int, str, str]]:
    """Area prefix keys of the fuzzy area stages, as ``(pfx, width,
    area_lc, area)``: every area's 4-char prefix (``width`` 4), plus the
    3-char prefix of names 4-5 chars long (``width`` 3, the reference's
    short-name rule)."""
    from . import dims

    lc = [(a.lower(), a) for a, _, _ in dims.AREAS]
    return ([(k[:4], 4, k, a) for k, a in lc]
            + [(k[:3], 3, k, a) for k, a in lc if 4 <= len(k) <= 5])


def area_prefix_df(spark: SparkSession) -> DataFrame:
    return local_df(spark, area_prefix_rows(), "pfx string, width int, area_lc string, area string")


DISTRICT_TO_DIVISION = dict(DISTRICT_DIVISION)

_DIMS_ATTRS = ("AREAS", "AREA_VARIANTS", "POSTAL_CODES", "VALID_POSTAL_CODES")


def __getattr__(name):  # PEP 562: full-density constants live in dims.py
    if name in _DIMS_ATTRS:
        from . import dims

        return getattr(dims, name)
    raise AttributeError(name)
