"""Stage 3-7: component evidence extraction.

Re-expresses the reference's regex/gazetteer extraction battery
(SURVEY.md §2.2 T3-T9, §2.3 J1-J5) as Catalyst expressions plus
broadcast equi-joins. The output IR is the **evidence long format**:

    (mention_id, component, value, confidence, source)

mirroring the reference's ``evidence_map`` (src/core/extractor.py:155-283)
— one row per piece of evidence, resolved later by
``operators.resolve.resolve_evidence`` (Stage 8).

Scale notes:
  * All regex tiers are computed in ONE projection over the mention
    table (single pass, whole-stage codegen), then exploded to long
    format — no per-tier rescans.
  * One token table, one dictionary join: ``token_hits`` explodes the
    comma-parts, words and bigrams once and joins them once against
    the broadcast surface dictionary (``data.gazetteer.surface_df``:
    district, area, division, upazila and union surfaces). Every exact
    vocabulary lookup (district, area, division, upazila, union) is a
    filter of that one hit table — the cluster-scale equivalent of the
    reference's single trie ("Technique #26").
  * The per-mention votes (district end-of-address flag, area
    position tiers, geo argmax, fuzzy best match) are mention-keyed
    groupBys, so those shuffle; dim lookups never do.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..data import gazetteer as gz
from .house_road import house_road_area_evidence

EVIDENCE_SCHEMA = "mention_id string, component string, value string, confidence double, source string"

# D5 stage control (config/stage_config.json; tools/control_stages.py
# :34-69). Normalization, the regex battery, conflict resolution, and
# output assembly are MANDATORY (stages 2/4/8/9) and not listed here;
# these are the reference's five optional stages. "script" is
# metadata-only in the reference (nothing branches on it), so enabling
# it has no evidence effect — kept for profile fidelity.
OPTIONAL_STAGES = frozenset({"script", "fsm", "spacy", "gazetteer", "geographic"})
PROFILES: dict[str, frozenset[str]] = {
    "fast": frozenset(),
    "balanced": frozenset({"spacy", "gazetteer", "geographic"}),
    "accurate": OPTIONAL_STAGES,
    "minimal": frozenset(),
}
DEFAULT_STAGES = frozenset({"fsm", "gazetteer", "geographic"})

# --- regex tiers -----------------------------------------------------------
# (component, pattern, group, confidence, source); patterns model the
# reference tiers: fsm_parser.py:26-58 (fsm), house_number_processor.py
# :96-370, road_processor.py:141-296, postal_code_processor.py:122-202,
# flat/floor/block processors (SURVEY.md §2.2). Java dialect with (?iU)
# for Python-re parity (verified in tests).
_FSM_TIERS: list[tuple[str, str, int, float]] = [
    ("house_number", r"(?iU)House\s+No\s+(\d+[A-Za-z]?)", 1, 0.75),
    ("house_number", r"(?iU)House\s+(\d+)", 1, 0.75),
    ("house_number", r"(?iU)H\s+(\d+)", 1, 0.75),
    ("road", r"(?iU)Road\s+No\s+(\d+[A-Za-z]?)", 1, 0.75),
    ("road", r"(?iU)Road\s+(\d+)", 1, 0.75),
    ("road", r"(?iU)R\s+(\d+)", 1, 0.75),
    ("flat_number", r"(?iU)Flat\s+(\w+)", 1, 0.75),
    ("floor_number", r"(?iU)Floor\s+(\d+)", 1, 0.75),
    ("block_number", r"(?U)Block\s+([A-Z0-9]+)", 1, 0.75),
]

_REGEX_TIERS: list[tuple[str, str, int, float]] = [
    # postal: explicit > city-dash > (standalone handled separately)
    ("postal_code", r"(?iU)(?:post\s*code|postal\s*code|p\.?\s?o\.?|zip|pin)\s*[:\-]?\s*(\d{4})\b", 1, 0.98),
    ("postal_code", r"(?iU)\b[A-Za-z]+\s?-\s?(\d{4})\b", 1, 0.95),
    # flat / floor / block. Flat values may be two tokens ("BC 103",
    # "3 সি"), letter-dash-digit ("C-9"), slash-joined ("8/A", "A/6" —
    # the labeled corpus's dominant flat shape), digit-dash-digit
    # ("07-01"), or parenthesized-letter ("8(C)") —
    # flat_number_processor.py tier shapes incl. the (A)(5)→A5 concat
    # family. The keyword may repeat ("Flat No # 1/A" normalizes to
    # "Flat No No 1/A") and may stay Bangla (নম্বর is not in the
    # normalizer's keyword table).
    ("flat_number", r"(?iU)\b(?:flat|apt|apartment|suite|unit)(?:\s*(?:no|number|নম্বর))*\s*[.\-–]?\s*([A-Za-zঀ-৿]{1,2}\s*[-/]\s*\d+|(?:[A-Za-zঀ-৿]{1,2}[ \-/]?)?\d+(?:\s*\(\s*[A-Za-zঀ-৿]{1,2}\s*\)|[ \-/]?[A-Za-zঀ-৿]{1,2}|[\-/]\d+)?)(?=[\s,.)]|$)", 1, 0.90),
    # bare letter flat ("Flat -D")
    ("flat_number", r"(?iU)\b(?:flat|apt)\s*[-–]\s*([A-Za-zঀ-৿])(?![\w/-])", 1, 0.78),
    ("flat_number", r"(?iU)\(\s*([A-Za-z]\d+)\s*\)", 1, 0.80),
    ("flat_number", r"(?iU)floor,?\s+(\d+[A-Za-z])\b", 1, 0.80),
    # "F-5/A" compact form (case-sensitive F; keeps the F — labels do)
    ("flat_number", r"(?U)\b(F-\d+(?:/[A-Za-z0-9]{1,2})?)\b", 1, 0.75),
    # lift number outranks the floor ordinal when both appear — the
    # labeled corpus keys the floor to the lift ("7th Floor (Lift-6)"
    # → floor 6), floor_number_processor lift tier
    ("floor_number", r"(?iU)\blift\s*(?:no|number|নম্বর)?\s*[.\-–]?\s*(\d+)\b", 1, 0.89),
    # Bangla ordinal suffixes (৫ম/৩য়) survive normalization glued to
    # the digits ("5ম Floor") — consume them outside the capture
    ("floor_number", r"(?iU)\b(\d+(?:st|nd|rd|th)?[A-Za-z]?)[ঀ-৿]{0,3}\s*(?:floor|fl)\b", 1, 0.88),
    ("floor_number", r"(?iU)\b(?:floor|level|lift)\s*(?:no|number|নম্বর)?\s*[.\-–]?\s*([A-Za-z0-9]+)\b", 1, 0.85),
    # block codes are short (A, B2, 11, ক, Banglish letter names Kha/
    # Gha) — an arbitrary following word ("Block Basundhara") is a
    # locality, not a code. সেক্টর is not in the normalizer's keyword
    # table so it stays Bangla.
    ("block_number", r"(?iU)\b(?:block|blk|sector|সেক্টর)\s*(?:no|number|নম্বর)?\s*[.\-–]?\s*((?:kha|gha|chha|cha|tha|jha|ka|ga|ja|da|pa|ba|ma|ra|la|sha|sa|ha)(?![\w-])|[A-Za-z]{1,2}\d*|\d+[A-Za-z]?|[ঀ-৿]+)(?![\w-])", 1, 0.90),
    ("block_number", r"(?iU)\b(\d+|[A-Za-zঀ-৿])\s*(?:block|blk)\b", 1, 0.88),
]


def _tier_structs(text: Column, tiers: list[tuple[str, str, int, float]], source: str) -> list[Column]:
    """One struct column per tier; null when the tier doesn't fire.

    Within a component, earlier tiers win (reference first-match
    semantics) — enforced by only keeping the first firing tier.
    """
    out: list[Column] = []
    seen: dict[str, Column] = {}  # component -> "already matched" predicate
    for comp, pat, grp, conf in tiers:
        val = F.regexp_extract(text, pat, grp)
        fired = val != ""
        prev = seen.get(comp, F.lit(False))
        keep = fired & ~prev
        seen[comp] = prev | fired
        out.append(
            F.when(
                keep,
                F.struct(
                    F.lit(comp).alias("component"),
                    val.alias("value"),
                    F.lit(conf).alias("confidence"),
                    F.lit(source).alias("source"),
                ),
            )
        )
    return out


def _positional_postal(text: Column, source: str, conf: float) -> Column:
    """Standalone 4-digit postal, only if the match ends past 50% of the
    string (fsm_parser.py:53-58 positional rule; postal_code_processor.py
    position tiers).

    The reference checks ``match.end()`` of the FIRST regex match. The
    old ``instr(text, val)`` located the first *substring* occurrence
    instead, which diverges when the 4-digit value appears earlier
    inside a longer digit run (``"12123 Building, Dhaka 1212"``:
    ``\\b\\d{4}\\b`` matches the trailing 1212, but ``instr`` finds the
    1212 inside 12123 and mis-positions it). ``regexp_instr`` returns
    the regex match start — same pattern, same occurrence.
    """
    # T8 phone guard (postal_code_processor.py:274-472 _is_phone_number
    # semantics): phone numbers — a phone keyword introducing a digit
    # run, or a long (≥10-char) digit run across dash/slash/space —
    # are removed BEFORE the positional match, so a phone fragment
    # neither becomes a postal ("call 0171 2345 678") nor shadows a
    # later legit one ("phone 01712-3456, … dhaka 1230" → 1230).
    # Commas break digit runs, so "Dhaka - 1216, 4th floor" survives.
    cleaned = F.regexp_replace(
        F.regexp_replace(
            text,
            r"(?i)\b(?:phone|tel|telephone|mobile|mob|cell|fax|call|hotline|"
            r"ফোন|মোবাইল)\s*(?:no|number)?\s*[:.\-]?\s*\+?\d[\d\s\-/]{3,}",
            " "),
        r"\+?\d[\d\s\-/]{8,}\d", " ")
    pat = r"(?U)\b(\d{4})\b"
    val = F.regexp_extract(cleaned, pat, 1)
    # 1-based match start + 4 digits - 1 = Python match.end()
    pos_end = F.regexp_instr(cleaned, F.lit(pat)) + F.lit(3)
    # try_cast: "" → null (a plain cast throws under ANSI mode, the
    # Spark 4 default — boolean AND does not short-circuit in codegen)
    ok = (val != "") & (pos_end > F.length(cleaned) * 0.5) & (val.try_cast("int") >= 1000)
    return F.when(
        ok,
        F.struct(
            F.lit("postal_code").alias("component"),
            val.alias("value"),
            F.lit(conf).alias("confidence"),
            F.lit(source).alias("source"),
        ),
    )


def regex_evidence(mentions: DataFrame, id_col: str = "mention_id",
                   text_col: str = "normalized", fsm: bool = True) -> DataFrame:
    """All expression-computable evidence (fsm + regex tiers) in ONE pass.

    Returns the evidence long format. Single projection → explode; no
    joins, no shuffle. House/road come from the guard/priority UDF
    battery (``extract_evidence``), not from here. ``fsm=False``
    disables the optional FSM stage (stage 3).
    """
    text = F.col(text_col)
    structs = _tier_structs(text, _REGEX_TIERS, "regex") + [_positional_postal(text, "regex", 0.80)]
    # T9 group-concat flat form "(A)(5)" → "A5"
    # (flat_number_processor.py:617-830 concat family): two captures
    # joined — not expressible as a single-tier regexp_extract
    fc_pat = r"(?iU)\(\s*([A-Za-z])\s*\)\s*\(\s*(\d+)\s*\)"
    fc_a, fc_b = F.regexp_extract(text, fc_pat, 1), F.regexp_extract(text, fc_pat, 2)
    structs.append(
        F.when(
            (fc_a != "") & (fc_b != ""),
            F.struct(
                F.lit("flat_number").alias("component"),
                F.concat(fc_a, fc_b).alias("value"),
                F.lit(0.85).alias("confidence"),
                F.lit("regex").alias("source"),
            ),
        )
    )
    if fsm:
        structs = (_tier_structs(text, _FSM_TIERS, "fsm")
                   + [_positional_postal(text, "fsm", 0.75)] + structs)
    arr = F.array_compact(F.array(*structs))
    # Bangla-letter block values → Banglish names (block_processor.py
    # :251-259): single create_map lookup over the emitted value
    blk_map = F.create_map(*[F.lit(x) for kv in gz.BANGLA_BLOCK_MAP.items() for x in kv])
    ev = (
        mentions.select(F.col(id_col).alias("mention_id"), F.explode(arr).alias("e"))
        .select(
            "mention_id",
            F.col("e.component").alias("component"),
            F.when(F.col("e.component") == "block_number",
                   F.coalesce(blk_map[F.col("e.value")], F.col("e.value")))
            .otherwise(F.col("e.value")).alias("value"),
            F.col("e.confidence").alias("confidence"),
            F.col("e.source").alias("source"),
        )
    )
    return ev


def charset_jaccard(a, b):
    """Character-set Jaccard similarity — the reference's fuzzy charset
    test (gazetteer.py:321-377): distinct characters, |∩| / |∪|. ONE
    definition shared by the fuzzy-area and position-area strategies,
    which differ only in their prefix/gating rules."""
    chars = lambda c: F.array_distinct(F.filter(F.split(c, ""), lambda x: x != ""))  # noqa: E731
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.size(F.array_intersect(chars(a), chars(b))) / \
        F.size(F.array_union(chars(a), chars(b))).cast("double")


def _token_candidates(mentions: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Explode comma-parts and word n-grams (1-2) as lowercase lookup keys,
    with positional metadata for confidence rules."""
    parts = F.split(F.col(text_col), r",\s*")
    df = mentions.select(
        F.col(id_col).alias("mention_id"),
        F.posexplode(parts).alias("part_idx", "part"),
        F.size(parts).alias("n_parts"),
    )
    # strip trailing "-1234" postal glue, "-1"/"-12" sector suffixes
    # ("Mirpur-1" tokens must reach the vocabulary as "mirpur"), and
    # danglers like Bangla danda
    clean = F.lower(F.trim(F.regexp_replace(
        F.col("part"), r"(?U)\s?-\s?\d{4}\b|-\d{1,2}\b|[।.]", "")))
    toks = F.split(clean, r"(?U)\s+")
    df = df.select(
        "mention_id", "part_idx", "n_parts", clean.alias("part_clean"), toks.alias("toks")
    )
    # dash-joined compounds ("District-Tangail", "Natore-Sadar") also
    # contribute their dash-split words as lookup keys — the vocabulary
    # stores space/bare forms
    dtoks = F.when(
        F.col("part_clean").contains("-"),
        F.split(F.replace(F.col("part_clean"), F.lit("-"), F.lit(" ")), r"(?U)\s+"),
    ).otherwise(F.array())
    unigrams = df.select(
        "mention_id", "part_idx", "n_parts", "part_clean",
        F.explode(F.array_distinct(F.concat(
            F.array(F.col("part_clean")),
            F.col("toks"),
            dtoks,
            F.when(F.size("toks") >= 2, F.zip_with(
                F.slice("toks", 1, F.size("toks") - 1),
                F.slice("toks", 2, F.size("toks") - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )).otherwise(F.array()),
        ))).alias("key"),
    ).filter(F.col("key") != "")
    return unigrams


def token_hits(mentions: DataFrame, id_col: str = "mention_id",
               text_col: str = "normalized",
               area_vocab: DataFrame | None = None) -> tuple[DataFrame, DataFrame]:
    """The battery's token table and its one dictionary join.

    Returns ``(toks, hits)``: ``toks`` is ``_token_candidates`` over
    the mentions (``mention_id, part_idx, n_parts, part_clean, key``);
    ``hits`` is ``toks`` joined on ``key`` against the broadcast
    surface dictionary (adds ``kind, variant, value, district,
    division``). Each is cut once, so the district, area, division,
    fuzzy and geo consumers all read the same materialized rows.

    ``area_vocab``: optional extra ``(variant, area)`` rows — typically
    ``gazetteer_build.area_vocab_from_labeled`` over the batch's labeled
    corpus, mirroring the reference's build-gazetteer-from-input
    lifecycle. On a variant collision the labeled vocabulary wins over
    the static seed (the corpus's own naming is authoritative for it).
    """
    toks = _token_candidates(mentions, id_col, text_col).localCheckpoint(eager=False)
    d = F.broadcast(gz.surface_df(mentions.sparkSession, area_vocab))
    hits = toks.join(d, toks.key == d.variant, "inner").localCheckpoint(eager=False)
    return toks, hits


def vocab_evidence(toks: DataFrame, hits: DataFrame) -> DataFrame:
    """District + area + division evidence from the ``token_hits`` tables.

    Reference behavior modeled: district comma-part equality vs the
    64-district variant vocabulary, end-of-address → higher confidence
    (district_processor.py:695-1639); area vocabulary hits
    (area_processor.py:93-133); division direct mentions.
    """
    def ev(df: DataFrame, comp: str, conf: Column) -> DataFrame:
        return df.select("mention_id", F.lit(comp).alias("component"), "value",
                         conf.alias("confidence"), F.lit("regex").alias("source"))

    dhits = hits.filter(F.col("kind") == "district")
    # last comma-part → 0.95 (end-of-address rule), else 0.90
    dist_ev = ev(
        dhits.groupBy("mention_id", "value")
        .agg(F.max(F.col("part_idx") == F.col("n_parts") - 1).alias("at_end")),
        "district", F.when(F.col("at_end"), 0.95).otherwise(0.90))

    # comma-part index of each district mention: an area hit in the part
    # directly before a city/district name takes the reference's massive
    # "before_city_immediate" boost (area_processor.py:784-791) — here a
    # higher confidence tier so it wins the Stage-8 vote over ordinary
    # vocabulary hits ("... Monipur, Mirpur, Dhaka" → Mirpur).
    dist_parts = (
        dhits.groupBy("mention_id")
        .agg(F.collect_set("part_idx").alias("dpi"))
    )
    # middle-of-address position is the classic area slot → small bonus
    # residential-suffix extension (area_processor.py locality suffixes;
    # labeled corpus keeps the full phrase): a vocab area whose
    # comma-part continues with a residential suffix — "Nasirabad
    # Housing Society", "Shapla Residential Area" — emits the full part
    # as the value
    ext = F.trim(F.substring(
        F.col("part_clean"), F.length(F.col("key")) + 1, 64))
    area_val = F.when(
        F.col("part_clean").startswith(F.col("key"))
        & ext.isin("housing society", "housing estate", "residential area",
                    "r/a", "model town"),
        F.initcap(F.col("part_clean")),
    ).otherwise(F.col("value"))
    area_ev = ev(
        hits.filter(F.col("kind") == "area")
        .join(dist_parts, "mention_id", "left")
        .withColumn(
            "before_city",
            F.coalesce(F.array_contains(F.col("dpi"), F.col("part_idx") + 1), F.lit(False)),
        )
        .withColumn("value", area_val)
        .withColumn(
            # the LAST comma-part is normally the city/district slot; when
            # no district matched anywhere in the mention, a vocabulary
            # area there IS the locality ("Niketon, Gulshan" → Gulshan)
            # and ranks with the classic middle slot
            "last_noncity",
            (F.col("part_idx") == F.col("n_parts") - 1) & F.col("dpi").isNull(),
        )
        .groupBy("mention_id", "value")
        .agg(
            F.max(((F.col("part_idx") > 0) & (F.col("part_idx") < F.col("n_parts") - 1))
                  | F.col("last_noncity")).alias("mid"),
            F.max("before_city").alias("bc"),
            F.max("part_idx").alias("pmax"),
        ),
        "area",
        # base tier (before-city > middle > other) plus a small
        # later-position bonus: with several vocabulary areas in one
        # address, the locality nearest the district/end of the address
        # is the one the reference's position factors pick
        # (area_processor.py:784-791 before_city dominates, then
        # position-in-address). Bonus is capped below the tier gaps so
        # it only breaks ties within a tier.
        F.when(F.col("bc"), 0.92).when(F.col("mid"), 0.88).otherwise(0.85)
        + F.least(F.col("pmax"), F.lit(8)) * F.lit(0.003),
    )

    # fuzzy district recovery for the final comma-part: a trailing token
    # within edit distance 1 of a district variant ("Sylhe", "Dhak a"
    # truncations, "Dhakka" typos) emits low-confidence district
    # evidence when no exact variant matched — the reference's district
    # vocabulary bakes misspellings in (district_processor.py:292-319);
    # edit-distance-1 generalizes the same tolerance. Broadcast
    # nested-loop against the ~130 district rows of the dictionary,
    # pre-filtered by token length — linear in tokens, no shuffle.
    last_toks = (
        # n_parts >= 2: only comma-structured (address-like) text — a
        # comma-less prose page would otherwise offer its every word
        toks.filter((F.col("part_idx") == F.col("n_parts") - 1)
                    & (F.col("n_parts") >= 2) & (F.length("key") >= 4))
        .join(dhits.select("mention_id"), "mention_id", "left_anti")
    )
    dv = F.broadcast(gz.surface_df(toks.sparkSession).filter(F.col("kind") == "district"))
    fuzzy_dist = last_toks.join(
        dv,
        (F.abs(F.length("key") - F.length("variant")) <= 1)
        & (F.levenshtein("key", "variant") == 1),
        "inner",
    ).select("mention_id", "value").distinct()
    div = hits.filter(F.col("kind") == "division").select("mention_id", "value").distinct()
    return (dist_ev.unionByName(ev(fuzzy_dist, "district", F.lit(0.75)))
            .unionByName(area_ev).unionByName(ev(div, "division", F.lit(0.95))))


def gazetteer_evidence(evidence: DataFrame, gazetteer: DataFrame | None = None) -> DataFrame:
    """Stage 6/7 enrichment (J1/J3/J4): join first-pass evidence against
    the gazetteer dims and emit inferred/validated evidence.

    Models gazetteer.py:379-541: area hit → area validated 0.98, fill
    district 0.95, fill division 0.95; postal in valid list → 0.99;
    district → division 0.95; predict postal with dominance-based
    confidence (gazetteer.py:460-480: single code or ≥80% share → 0.98,
    ≥60% → 0.95, else 0.90).

    ``gazetteer``: output of ``operators.gazetteer_build.build_gazetteer``
    over a labeled corpus — the real dominance path. When None, the
    constant areas dim backs the join with one code per area (dominance
    degenerates to the single-code 0.98 rule).
    """
    spark = evidence.sparkSession
    dd = F.broadcast(gz.district_division_df(spark))
    postals = F.broadcast(gz.postal_codes_df(spark))
    if gazetteer is None:
        adim = gz.areas_df(spark).select(
            F.lower("area").alias("a_key"),
            F.col("area").alias("a_area"),
            F.col("district").alias("a_district"),
            F.col("postal_code").alias("a_top_postal"),
            F.lit(0.98).alias("a_postal_conf"),
        )
    else:
        cols = gazetteer.columns
        adim = gazetteer.select(
            F.col("area").alias("a_key"),
            # evidence value must match the vocabulary evidence's surface
            # form — a lowercased key would case-split the Stage-8 vote
            (F.col("area_display") if "area_display" in cols else F.col("area"))
            .alias("a_area"),
            F.col("district").alias("a_district"),
            F.col("top_postal").alias("a_top_postal"),
            F.coalesce("postal_confidence", F.lit(0.90)).alias("a_postal_conf"),
        )

    # one row per mention; fanned out to six enrichment branches below —
    # cut lineage so the evidence aggregation runs once, not six times
    # (the cluster-scale analogue materializes this at an Iceberg stage
    # boundary, see plans.pipeline.StageStore). localCheckpoint, not
    # persist: persist() registers the fully-analyzed plan with the
    # CacheManager and is never released by callers (long-running
    # drivers — e.g. streaming foreachBatch — would accumulate entries
    # per invocation); localCheckpoint leaves nothing registered.
    first_ev = (
        evidence.groupBy("mention_id")
        .pivot("component", ["area", "district", "postal_code"])
        .agg(F.max_by("value", F.struct("confidence", "value")))
        .localCheckpoint(eager=False)
    )

    a = first_ev.join(F.broadcast(adim), F.lower(first_ev.area) == F.col("a_key"), "inner")
    # emit the dim's CANONICAL area name, not the mention's surface form
    # (a deep-extractor candidate may carry higher confidence than the
    # vocabulary hit and win the pivot with a non-canonical casing)
    area_validated = a.select(
        "mention_id", F.lit("area").alias("component"), F.col("a_area").alias("value"),
        F.lit(0.98).alias("confidence"), F.lit("gazetteer_validated").alias("source"),
    )
    district_filled = a.filter(F.col("a_district") != "").select(
        "mention_id", F.lit("district").alias("component"), F.col("a_district").alias("value"),
        F.when(first_ev.district.isNull(), 0.95)
         .when(first_ev.district == F.col("a_district"), 0.95)
         .otherwise(0.90).alias("confidence"),
        F.when(first_ev.district.isNull() | (first_ev.district == F.col("a_district")),
               F.lit("gazetteer_validated"))
         .otherwise(F.lit("gazetteer_corrected")).alias("source"),
    )
    postal_pred = a.filter(
        first_ev.postal_code.isNull() & F.col("a_top_postal").isNotNull()
    ).select(
        "mention_id", F.lit("postal_code").alias("component"),
        F.col("a_top_postal").alias("value"),
        F.col("a_postal_conf").alias("confidence"),  # dominance rule
        F.lit("gazetteer_validated").alias("source"),
    )
    postal_validated = (
        first_ev.join(postals, first_ev.postal_code == postals.code, "inner")
        .select(
            "mention_id", F.lit("postal_code").alias("component"),
            F.col("code").alias("value"), F.lit(0.99).alias("confidence"),
            F.lit("gazetteer_validated").alias("source"),
        )
    )
    division_from_district = (
        first_ev.filter(F.col("district").isNotNull())
        .join(dd, first_ev.district == dd.district, "inner")
        .select(
            "mention_id", F.lit("division").alias("component"),
            F.col("division").alias("value"), F.lit(0.95).alias("confidence"),
            F.lit("inferred_from_district").alias("source"),
        )
    )
    # area hit also implies a division (via the area's district):
    # reference fills division whenever the gazetteer resolves a district
    # (gazetteer.py:418-439)
    division_from_area = (
        a.join(dd, F.col("a_district") == dd.district, "inner")
        .select(
            "mention_id", F.lit("division").alias("component"),
            dd.division.alias("value"), F.lit(0.95).alias("confidence"),
            F.lit("inferred_from_area").alias("source"),
        )
    )
    return (
        area_validated.unionByName(district_filled)
        .unionByName(postal_pred)
        .unionByName(postal_validated)
        .unionByName(division_from_district)
        .unionByName(division_from_area)
    )


def fuzzy_area_evidence(
    toks: DataFrame,
    evidence: DataFrame,
    min_charset_jaccard: float = 0.7,
) -> DataFrame:
    """J2: area back-extraction for mentions with NO area evidence.

    Reference semantics (gazetteer.py:191-377): fuzzy candidate = token
    whose 4-char prefix matches an area's 4-char prefix (3 chars for
    short names) AND whose character-set Jaccard vs the area name is
    ≥ 0.7; confidence 0.75. Spark shape: the ``token_hits`` token table
    anti-joined to the no-area subset → broadcast equi-join on the
    prefix key (``data.gazetteer.area_prefix_df``)
    (the fuzzy family collapses to a hash join on a coarse key + a
    cheap expression filter — no pairwise scan). Short area names
    (length 4-5) additionally key on a 3-char prefix, mirroring the
    reference's short-name rule — misspellings of short areas are
    otherwise unreachable.

    Two gated paths, mirroring the reference:
      * back-extraction — mentions with NO area evidence: scan all text
        tokens (gazetteer.py:191-319);
      * correction — mentions whose area evidence value is UNKNOWN to
        the vocabulary: fuzzy-match the extracted VALUE only, never the
        whole text (the `_fuzzy_match_area` call inside validation,
        gazetteer.py:321-377) — full-text fuzzy here would override
        legitimate unknown areas with prefix-collision junk."""
    spark = toks.sparkSession
    # every area name is also an area variant, so the static dictionary's
    # area rows are the whole known vocabulary
    known_names = F.broadcast(
        gz.surface_df(spark).filter(F.col("kind") == "area").select(F.col("variant").alias("k"))
    )
    # single scan of the evidence union feeds all three gates below
    area_ev = evidence.filter(F.col("component") == "area").select(
        "mention_id", F.lower("value").alias("k")).distinct().localCheckpoint(eager=False)
    has_area = area_ev.select("mention_id").distinct()
    unknown_vals = (
        area_ev.join(known_names, "k", "left_anti")
        .join(area_ev.join(known_names, "k").select("mention_id").distinct(),
              "mention_id", "left_anti")  # mentions with any known value keep it
        # per-WORD matching, not whole-value: the reference's
        # _fuzzy_match_area takes a words list (gazetteer.py:321-325) —
        # a multi-word unknown like "new eskaton" must NOT fuzzy-match
        # "new netrokona sadar" on the shared "new " prefix + pooled
        # charset (each word individually fails the reference's
        # core/charset tests, so the whole value survives uncorrected)
        .select("mention_id", F.explode(F.split("k", r"\s+")).alias("key"))
    )
    keys = (
        toks.join(has_area, "mention_id", "left_anti").select("mention_id", "key")
        .unionByName(unknown_vals).filter(F.length("key") >= 3)
    )
    # tokens carry both prefix widths; 3-char tokens only the short key
    keys = keys.select(
        "mention_id", "key",
        F.explode(
            F.when(F.length("key") >= 4,
                   F.array(F.substring("key", 1, 4), F.substring("key", 1, 3)))
            .otherwise(F.array(F.substring("key", 1, 3)))
        ).alias("pfx"),
    )
    cand = keys.join(
        F.broadcast(gz.area_prefix_df(spark)), "pfx"
    ).filter(F.col("key") != F.col("area_lc"))  # exact hits belong to vocab_evidence

    jac = charset_jaccard("key", "area_lc")
    # ONE best area per mention — the reference keeps a single
    # best_match across its strategy loop (gazetteer.py:244-320,
    # score `>` comparisons), never a candidate set. Best = highest
    # charset-Jaccard, ties broken lexicographically (the reference's
    # dict-insertion order is not reproducible; lexicographic is the
    # deterministic stand-in).
    return (
        cand.filter(jac >= min_charset_jaccard)
        .withColumn("jac", jac)
        .groupBy("mention_id")
        .agg(F.min_by("area", F.struct((-F.col("jac")).alias("nj"),
                                       F.col("area"))).alias("value"))
        .select(
            "mention_id",
            F.lit("area").alias("component"),
            "value",
            F.lit(0.75).alias("confidence"),
            F.lit("gazetteer_corrected").alias("source"),
        )
    )


def position_area_evidence(
    mentions: DataFrame,
    evidence: DataFrame,
    id_col: str = "mention_id",
    text_col: str = "normalized",
) -> DataFrame:
    """J2 strategy 1 — position-based area back-extraction
    (gazetteer.py:191-243): for a mention with NO area evidence but
    both road and district evidence, the words located BETWEEN the
    road value's occurrence and the district value's occurrence are
    matched against the gazetteer — exact hit 0.90
    'gazetteer_position_exact', fuzzy (4-char-prefix + charset-Jaccard
    ≥ 0.7) hit 0.80 'gazetteer_position_fuzzy'; best hit per mention.

    Spark shape: evidence self-aggregation picks the first road and
    district value per mention (pinned order: confidence desc, value
    asc — the reference reads Python list head), substring arithmetic
    slices the between-text, token explode → broadcast joins against
    the width-4 rows of the area prefix table, window argmax. All
    expressions and broadcast hash joins — no UDF, one mention-keyed
    shuffle."""
    spark = mentions.sparkSession

    ev = evidence.filter(F.col("component").isin("area", "road", "district"))

    def first_val(comp: str, name: str) -> DataFrame:
        return (
            ev.filter(F.col("component") == comp)
            .groupBy("mention_id")
            .agg(F.min_by(
                F.lower("value"),
                F.struct((-F.col("confidence")).alias("nc"), F.lower("value").alias("nv")),
            ).alias(name))
        )

    has_area = ev.filter(F.col("component") == "area").select("mention_id").distinct()
    rd = first_val("road", "road_v")
    dt = first_val("district", "dist_v")
    m = (
        mentions.select(F.col(id_col).alias("mention_id"), F.lower(text_col).alias("lt"))
        .join(has_area, "mention_id", "left_anti")
        .join(rd, "mention_id").join(dt, "mention_id")
    )
    rp = F.instr(F.col("lt"), F.col("road_v"))
    dp = F.instr(F.col("lt"), F.col("dist_v"))
    start = rp + F.length("road_v")
    # road occupies [rp, rp+len-1] (1-based); between-text runs from the
    # char after the road value up to the char before the district
    between = F.when((rp > 0) & (dp > rp), F.col("lt").substr(start, dp - start))
    toks = (
        m.select(
            "mention_id",
            F.explode(F.split(F.regexp_replace(between, r"[^\w\s]", " "), r"\s+")).alias("w"),
        )
        .select("mention_id", F.trim("w").alias("w"))
        .filter(F.length("w") > 2)
    )

    # one width-4 row per area: its lowercase name and 4-char prefix
    areas = F.broadcast(gz.area_prefix_df(spark).filter(F.col("width") == 4))
    exact = (
        toks.join(areas, toks.w == areas.area_lc)
        .select("mention_id", "area", F.lit(0.90).alias("confidence"),
                F.lit("gazetteer_position_exact").alias("source"))
    )
    jac = charset_jaccard("w", "area_lc")
    fuzzy = (
        toks.withColumn("pfx", F.substring("w", 1, 4))
        .join(areas, "pfx")
        .filter((F.col("w") != F.col("area_lc")) & (jac >= 0.7))
        .select("mention_id", "area", F.lit(0.80).alias("confidence"),
                F.lit("gazetteer_position_fuzzy").alias("source"))
    )
    w = Window.partitionBy("mention_id").orderBy(
        F.col("confidence").desc(), F.col("area").asc(), F.col("source").asc())
    return (
        exact.unionByName(fuzzy)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "mention_id", F.lit("area").alias("component"),
            F.col("area").alias("value"), "confidence", "source",
        )
    )


def predict_postal(wide: DataFrame, id_col: str = "mention_id") -> DataFrame:
    """J4: the full 6-priority postal-prediction cascade for rows
    missing a postal code (bangladesh_geo_offline.py:221-338):

      1. upazila exact match        0.95  'upazila_match'
      2. union exact match          0.90  'union_match'
      3. village exact match        0.85  'village_match'
      4. post-office exact match    0.80  'post_office_match'
      5. fuzzy post-office overlap  0.70  'fuzzy_area_match'
         (area contains PO name or PO name contains area, ``:313-318``)
      6. district min postal code   0.60  'district_inference'

    Every priority is gated on district consistency when the mention
    carries a district (``:247-249`` etc.). Physical shape: six
    broadcast joins produce candidate rows tagged with a priority
    rank, then ONE shuffle resolves the argmin per mention — no
    priority-by-priority re-aggregation. Tie-breaks are pinned (the
    reference relies on dict iteration order): within priority 4/6
    min code; within 5 longest post-office name then min code.

    Returns (mention_id, predicted_postal, prediction_confidence,
    prediction_source); rows with no prediction are absent."""
    from ..data import geo_hierarchy as gh

    spark = wide.sparkSession
    base = wide.select(
        F.col(id_col).alias("mention_id"),
        "postal_code",
        F.lower(F.trim(F.coalesce(F.col("area"), F.lit("")))).alias("akey"),
        F.lower(F.trim(F.coalesce(F.col("district"), F.lit("")))).alias("dkey"),
    )
    missing = base.filter(F.col("postal_code").isNull() | (F.col("postal_code") == ""))

    def gate(dim_district):
        return (F.col("dkey") == "") | (F.col("dkey") == F.lower(dim_district))

    def cand(df, dim, dim_key, dim_district, dim_code, prio, conf, source, tb1=None):
        j = df.join(F.broadcast(dim), (F.col("akey") == dim_key) & gate(dim_district)
                    & (dim_code != ""), "inner")
        return j.select(
            "mention_id", dim_code.alias("code"),
            F.lit(conf).alias("confidence"), F.lit(source).alias("source"),
            F.lit(prio).alias("prio"), (tb1 if tb1 is not None else F.lit(0)).alias("tb1"),
        )

    has_area = missing.filter(F.col("akey") != "")
    up = gh.upazilas_df(spark).select(
        F.lower("name").alias("k"), F.col("district").alias("d"), F.col("postal_code").alias("c"))
    un = gh.unions_df(spark).select(
        F.lower("name").alias("k"), F.col("district").alias("d"), F.col("postal_code").alias("c"))
    vg = gh.villages_df(spark).select(
        F.lower("name").alias("k"), F.col("district").alias("d"), F.col("postal_code").alias("c"))
    po = gz.postal_codes_df(spark).select(
        F.lower("post_office").alias("k"), F.col("district").alias("d"), F.col("code").alias("c"))

    c1 = cand(has_area, up, F.col("k"), F.col("d"), F.col("c"), 1, 0.95, "upazila_match")
    c2 = cand(has_area, un, F.col("k"), F.col("d"), F.col("c"), 2, 0.90, "union_match")
    c3 = cand(has_area, vg, F.col("k"), F.col("d"), F.col("c"), 3, 0.85, "village_match")
    c4 = cand(has_area, po, F.col("k"), F.col("d"), F.col("c"), 4, 0.80, "post_office_match")

    # priority 5: containment either way vs the post-office index
    # (reference scans the same index per address; ``:307-318``).
    # Bounded — NOT a nested loop: if x is a substring of y, x's leading
    # min(len(x),2)-gram is necessarily one of y's 1/2-grams, so an
    # equi-join on that gram is a sound prefilter and containment stays
    # as the residual predicate. Per-mention work is O(len(area)) probe
    # rows against a ~|dim|·len(name) broadcast gram index instead of
    # O(|dim|) string scans — flat in dim size at the 1,226-row
    # reference density and beyond.
    def _grams(col: str):
        return F.array_distinct(F.concat(
            F.expr(f"transform(sequence(1, length({col})), i -> substr({col}, i, 1))"),
            F.expr(
                f"transform(sequence(1, greatest(length({col}) - 1, 1)),"
                f" i -> substr({col}, i, 2))"),
        ))

    po_grams = po.select("k", "d", "c", F.explode(_grams("k")).alias("g"))
    lead = has_area.withColumn("lead", F.substring("akey", 1, 2))
    dir_a = lead.join(  # akey ⊆ k
        F.broadcast(po_grams), F.col("lead") == F.col("g"), "inner"
    ).where(F.col("k").contains(F.col("akey")))
    m_grams = has_area.select(
        "mention_id", "akey", "dkey", F.explode(_grams("akey")).alias("g"))
    po_lead = po.select("k", "d", "c", F.substring("k", 1, 2).alias("kf"))
    dir_b = m_grams.join(  # k ⊆ akey
        F.broadcast(po_lead), F.col("g") == F.col("kf"), "inner"
    ).where(F.col("akey").contains(F.col("k")) & (F.col("akey") != F.col("k")))
    cols5 = ["mention_id", "akey", "dkey", "k", "d", "c"]
    c5 = (
        dir_a.select(*cols5).unionByName(dir_b.select(*cols5))
        .where(((F.col("dkey") == "") | (F.col("dkey") == F.lower(F.col("d"))))
               & (F.col("c") != ""))
        .select(
            "mention_id", F.col("c").alias("code"),
            F.lit(0.70).alias("confidence"), F.lit("fuzzy_area_match").alias("source"),
            F.lit(5).alias("prio"), (-F.length("k")).alias("tb1"),
        )
    )

    dmin = gz.postal_codes_df(spark).groupBy(F.lower("district").alias("k")).agg(
        F.min("code").alias("c"))
    c6 = (
        missing.filter(F.col("dkey") != "")
        .join(F.broadcast(dmin), F.col("dkey") == F.col("k"), "inner")
        .select(
            "mention_id", F.col("c").alias("code"),
            F.lit(0.60).alias("confidence"), F.lit("district_inference").alias("source"),
            F.lit(6).alias("prio"), F.lit(0).alias("tb1"),
        )
    )

    cands = c1.unionByName(c2).unionByName(c3).unionByName(c4).unionByName(c5).unionByName(c6)
    best = cands.groupBy("mention_id").agg(
        F.min_by(
            F.struct("code", "confidence", "source"),
            F.struct("prio", "tb1", "code"),
        ).alias("b")
    )
    return best.select(
        "mention_id",
        F.col("b.code").alias("predicted_postal"),
        F.col("b.confidence").alias("prediction_confidence"),
        F.col("b.source").alias("prediction_source"),
    )


def geo_evidence(hits: DataFrame, evidence: DataFrame) -> DataFrame:
    """J5: proactive geo extraction (geographic_validator.py:171-229).

    Scan the text for an upazila name (area 0.90,
    'geographic_upazila_extraction'; auto-fill district/division 0.95
    'geographic_inferred_from_upazila' when those are missing too); if
    no upazila hits, fall back to union names (area 0.85
    'geographic_union_extraction', district/division 0.90
    'geographic_inferred_from_union').

    Gate (reference :189-191): a hit is emitted unless an existing area
    evidence value already CONTAINS the matched name — not merely when
    area evidence exists. A mention extracted as area="Dakhin
    Chayabithi" that also says "Gazipur Sadar" still gets the upazila
    evidence, and Stage-8 voting decides (geographic weight 0.95 ×
    0.90 beats a sub-vocabulary positional candidate).

    Spark shape: the upazila/union rows of the ``token_hits`` hit table
    (the reference's substring scan over dicts, restricted to token
    boundaries; the containment gate above decides per hit, so no-area
    pre-filtering would change semantics), then ONE per-mention argmax
    over both kinds. Both kinds pass the same gate, so ranking upazila
    first IS "union only where no upazila". The reference takes the
    first dict hit — we pin the total order (longest name, then
    greatest name).
    """
    spark = hits.sparkSession

    # one scan of the evidence union serves every gate below (the
    # has()/value lookups otherwise re-derive the full union ~8 times —
    # measured ~40 s of the sf0.1 extract stage)
    ev_idx = (
        evidence.filter(F.col("component").isin("area", "district", "division"))
        .select("mention_id", "component", F.lower("value").alias("lv"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def has(comp: str) -> DataFrame:
        return (ev_idx.filter(F.col("component") == comp)
                .select("mention_id").distinct())

    # existing area evidence values, for the containment gate
    area_vals = (ev_idx.filter(F.col("component") == "area")
                 .select(F.col("mention_id").alias("av_id"), "lv"))
    is_geo = F.col("kind").isin("upazila", "union")

    def best(h: DataFrame, validated: bool) -> DataFrame:
        return (
            h.groupBy("mention_id")
            .agg(F.max_by(
                F.struct("kind", "value", "district", "division"),
                F.struct(F.col("kind") == "upazila", F.length("value"), F.col("value")),
            ).alias("m"))
            .withColumn("validated", F.lit(validated))
        )

    # drop hits whose name is already contained in an area value of the
    # same mention (equi-join on mention_id + instr predicate — stays a
    # hash join, the containment test rides along)
    gated = hits.filter(is_geo).join(
        area_vals,
        (F.col("mention_id") == F.col("av_id")) & (F.instr("lv", F.col("variant")) > 0),
        "left_anti",
    )
    # J3 auto-fill branch (geographic_validator.py:37-169): a mention
    # WITH area evidence whose value IS an upazila/union name gets its
    # area validated (0.95) and district/division filled when missing.
    geo = F.broadcast(gz.surface_df(spark).filter(is_geo))
    vhits = area_vals.join(geo, F.col("lv") == F.col("variant")).withColumnRenamed(
        "av_id", "mention_id")
    src = best(gated, False).unionByName(best(vhits, True))

    validated = F.col("validated")
    upazila = F.col("m.kind") == "upazila"
    fill_conf = F.when(upazila, 0.95).otherwise(0.90)
    fill_src = F.when(validated, "geographic_validated").otherwise(
        F.concat(F.lit("geographic_inferred_from_"), F.col("m.kind")))

    def emit(comp, value, conf, source, only_missing=False):
        out = src.join(has(comp), "mention_id", "left_anti") if only_missing else src
        return out.select(
            "mention_id", F.lit(comp).alias("component"), F.col(value).alias("value"),
            conf.alias("confidence"), source.alias("source"),
        )

    return (
        emit("area", "m.value",
             F.when(validated, 0.95).when(upazila, 0.90).otherwise(0.85),
             F.when(validated, "geographic_validated").otherwise(
                 F.concat(F.lit("geographic_"), F.col("m.kind"), F.lit("_extraction"))))
        .unionByName(emit("district", "m.district", fill_conf, fill_src, True))
        .unionByName(emit("division", "m.division", fill_conf, fill_src, True))
    )


def full_hierarchy(df: DataFrame, postal_col: str = "postal_code",
                   id_col: str = "mention_id") -> DataFrame:
    """J6: postal code → full hierarchy (upazila, district, division,
    union list) via one broadcast join (bangladesh_geo_offline.py:
    340-354). Union list is sorted and pipe-joined so the output is a
    flat, engine-portable string."""
    from ..data import geo_hierarchy as gh

    spark = df.sparkSession
    un_list = gh.unions_df(spark).groupBy("upazila").agg(
        F.concat_ws("|", F.sort_array(F.collect_list("name"))).alias("unions")
    )
    up = gh.upazilas_df(spark)
    # h_-prefixed dim columns: the input df may itself carry
    # upazila/district/division columns (e.g. the resolved wide table)
    dim = F.broadcast(
        up.join(F.broadcast(un_list), up.name == un_list.upazila, "left").select(
            F.col("postal_code").alias("h_postal"),
            F.col("name").alias("h_upazila"),
            F.col("district").alias("h_district"),
            F.col("division").alias("h_division"),
            F.coalesce("unions", F.lit("")).alias("h_unions"),
        )
    )
    return df.join(dim, F.col(postal_col) == F.col("h_postal"), "inner").select(
        F.col(id_col).alias("mention_id"),
        F.col(postal_col).alias("postal_code"),
        F.col("h_upazila").alias("upazila"),
        F.col("h_district").alias("district"),
        F.col("h_division").alias("division"),
        F.col("h_unions").alias("unions"),
    )


def enrich(wide: DataFrame, id_col: str = "mention_id") -> DataFrame:
    """J8: the composed ``enrich`` verb (extractor.py:470-511) —
    resolved components + geographic hierarchy attachment + suggested
    postal for rows missing one:

      * rows WITH a postal code: attach (upazila, unions) via the J6
        full-hierarchy broadcast lookup;
      * rows WITHOUT: run the J4 prediction cascade;
      * ``final_postal`` coalesces the two; ``postal_origin`` says which.

    Two broadcast joins over the wide table — no extra shuffle."""
    base = wide.withColumn(
        "_has_postal",
        F.col("postal_code").isNotNull() & (F.col("postal_code") != ""),
    )
    hier = full_hierarchy(
        base.filter(F.col("_has_postal")), postal_col="postal_code", id_col=id_col
    ).select(
        F.col("mention_id").alias(id_col),
        F.col("upazila").alias("geo_upazila"),
        F.col("unions").alias("geo_unions"),
    )
    pred = predict_postal(base, id_col=id_col).withColumnRenamed("mention_id", id_col)
    out = (
        base.join(hier, id_col, "left")
        .join(pred, id_col, "left")
        .withColumn(
            "final_postal",
            F.when(F.col("_has_postal"), F.col("postal_code"))
            .otherwise(F.coalesce("predicted_postal", F.lit(""))),
        )
        .withColumn(
            "postal_origin",
            F.when(F.col("_has_postal"), F.lit("extracted"))
            .when(F.col("predicted_postal").isNotNull(), F.col("prediction_source"))
            .otherwise(F.lit("")),
        )
        .drop("_has_postal")
    )
    return out.na.fill({"geo_upazila": "", "geo_unions": "",
                        "predicted_postal": "", "prediction_source": ""})


def consistency_conflicts(wide: DataFrame, id_col: str = "mention_id") -> DataFrame:
    """J3: cross-component consistency checks over the resolved wide
    table — postal↔district via the postal dim, district↔division via
    the admin dim; one row per detected conflict with the suggested
    correction (geographic_validator.py:37-169 semantics)."""
    spark = wide.sparkSession
    postals = F.broadcast(gz.postal_codes_df(spark).select(
        F.col("code"), F.col("district").alias("postal_district")
    ))
    dd = F.broadcast(gz.district_division_df(spark).select(
        F.col("district").alias("dd_district"), F.col("division").alias("dd_division")
    ))
    base = wide.select(
        F.col(id_col).alias("mention_id"), "postal_code", "district", "division"
    )
    postal_conf = (
        base.join(postals, base.postal_code == postals.code)
        .filter((F.col("district") != "") & (F.col("district") != F.col("postal_district")))
        .select(
            "mention_id",
            F.lit("postal_district_mismatch").alias("conflict_type"),
            F.col("district").alias("actual"),
            F.col("postal_district").alias("expected"),
        )
    )
    div_conf = (
        base.join(dd, base.district == dd.dd_district)
        .filter((F.col("division") != "") & (F.col("division") != F.col("dd_division")))
        .select(
            "mention_id",
            F.lit("district_division_mismatch").alias("conflict_type"),
            F.col("division").alias("actual"),
            F.col("dd_division").alias("expected"),
        )
    )
    return postal_conf.unionByName(div_conf)


def extract_evidence(
    mentions: DataFrame,
    id_col: str = "mention_id",
    text_col: str = "normalized",
    gazetteer: DataFrame | None = None,
    area_vocab: DataFrame | None = None,
    stages: frozenset[str] | None = None,
) -> DataFrame:
    """Full stage 3-7 evidence generation. Input must already carry the
    normalized text column (see functions.normalize.normalize_expr).

    Every exact vocabulary lookup reads the one ``token_hits`` table
    pair. Lineage is cut on the first-pass evidence before the gazetteer
    enrichment fans out over it (6 broadcast-join branches) — without
    the cut the regex battery is re-evaluated per branch and the
    logical plan grows combinatorially. localCheckpoint rather than
    persist(): nothing stays registered with the CacheManager, so
    repeated invocations in one driver (streaming micro-batches) don't
    accumulate cached plans."""
    stages = DEFAULT_STAGES if stages is None else frozenset(stages)
    toks, hits = token_hits(mentions, id_col, text_col, area_vocab=area_vocab)
    base = regex_evidence(mentions, id_col, text_col, fsm="fsm" in stages).unionByName(
        vocab_evidence(toks, hits)
    ).unionByName(
        house_road_area_evidence(mentions, id_col=id_col, text_col=text_col)
    )
    if "spacy" in stages:
        from .ner import ner_evidence

        base = base.unionByName(ner_evidence(mentions, id_col=id_col, text_col=text_col))
    base = base.localCheckpoint(eager=False)
    first_pass = base
    if "gazetteer" in stages:
        first_pass = first_pass.unionByName(
            fuzzy_area_evidence(toks, base)
        ).unionByName(
            position_area_evidence(mentions, base, id_col, text_col))
    first_pass = first_pass.localCheckpoint(eager=False)
    out = first_pass
    if "gazetteer" in stages:
        out = out.unionByName(gazetteer_evidence(first_pass, gazetteer=gazetteer))
    if "geographic" in stages:
        out = out.unionByName(geo_evidence(hits, first_pass))
    return out
