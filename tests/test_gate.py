"""Address-likelihood gate: signal semantics + pipeline equivalence.

The gate (functions/signal.py) must be a pure work-skipper: with it on,
pure-prose pages bypass the deep battery and minhash banding, but every
pipeline OUTPUT — components, confidences, entity assignments — is
byte-identical to the ungated run.
"""

from pyspark.sql import functions as F

from ai_bangladesh_address_parser_spark.functions.signal import (
    SIGNAL_PATTERN,
    address_signal_expr,
)
from ai_bangladesh_address_parser_spark.plans.pipeline import LinkagePlan
from ai_bangladesh_address_parser_spark.sources.pages import synth_pages

# digit-free, keyword-free, vocab-free prose — the skip class
_PROSE = [
    "the committee met to discuss the quarterly agenda and adjourned early",
    "rainfall patterns shifted noticeably during the monsoon season",
    "সাহিত্য ও সংস্কৃতি নিয়ে আলোচনা সভা অনুষ্ঠিত হয়",
    "economic policy remains a topic of lively public debate",
]

# texts the gate must keep (each hits exactly one signal class)
_SIGNALFUL = [
    ("plain digit only", "lorem ipsum dolor sit amet 7 consectetur"),
    ("bangla digit", "লোরেম ইপসাম ৫ ডলর"),
    ("keyword, no digit", "the old house by the river"),
    ("bangla keyword", "পুরনো বাড়ি নদীর ধারে"),
    ("district vocab", "visiting relatives in sylhet next month"),
    ("bangla district", "ঢাকা শহরে উৎসব"),
    ("area vocab", "shops in gulshan are busy"),
    ("area variant", "the zigatola neighbourhood"),
    # geo-stage surfaces: curated upazila/union names reachable by the
    # geo token joins (round-3 gap — previously skipped)
    ("upazila seed", "trishal prose here"),
    ("upazila seed 2", "savar office prose"),
    ("union derived", "the savarhat union council met"),
    # fuzzy-area back-extraction candidate: 4-char area prefix intact
    ("fuzzy area prefix", "gulshen residential enclave"),
    # ED-1 district typo with intact 4-prefix (fuzzy-district branch)
    ("district typo prefix", "some prose, dhakka"),
]

# the DOCUMENTED residual (signal.py soundness contract): an ED-1
# district typo whose first four characters are corrupted, as the sole
# signal — gate=False is the exactness path for this class
_RESIDUAL = ["some prose, zhaka"]


def test_signal_expr_classes(spark):
    df = spark.createDataFrame(
        [(t,) for t in _PROSE] + [(t,) for _, t in _SIGNALFUL], "text string"
    )
    got = [r["s"] for r in
           df.select(address_signal_expr("text").alias("s")).collect()]
    assert got == [False] * len(_PROSE) + [True] * len(_SIGNALFUL)


def test_signal_pattern_is_static():
    # foldable literal pattern — codegen-safe, no per-row compilation
    assert isinstance(SIGNAL_PATTERN, str) and SIGNAL_PATTERN.startswith("[0-9০-৯]")
    assert "dhaka" in SIGNAL_PATTERN and "বাড়ি" in SIGNAL_PATTERN


def test_residual_class_documented():
    import re

    for t in _RESIDUAL:
        assert not re.search(SIGNAL_PATTERN, t.lower())


def test_dim_names_are_covered():
    """Soundness-by-construction: every surface the exact token join can
    match (each variant of the surface dictionary, whatever its kind)
    contains a gate term, so any text containing it passes — dim
    regeneration, or a kind added to the dictionary, cannot silently
    open a gap. Village names ride along for the geo closure terms."""
    import re

    from ai_bangladesh_address_parser_spark.data import dims
    from ai_bangladesh_address_parser_spark.data.gazetteer import surface_rows

    pat = re.compile(SIGNAL_PATTERN)
    names = [v for _, v, *_ in surface_rows()] + [n for n, *_ in dims.VILLAGES]
    missed = [n for n in names if not pat.search(n.lower())]
    assert missed == [], f"gate misses dim surfaces: {missed[:10]}"


def test_fuzzy_area_candidates_are_covered():
    """Every token the fuzzy back-extraction stage could join (4-char
    area prefix, 3-char for short names) passes the gate even when the
    rest of the word is arbitrary."""
    import re

    from ai_bangladesh_address_parser_spark.data import gazetteer as gz

    pat = re.compile(SIGNAL_PATTERN)
    for a, _, _ in gz.AREAS:
        lc = a.lower()
        probes = [lc[:4] + "xyz"] + ([lc[:3] + "qzx"] if 4 <= len(lc) <= 5 else [])
        for probe in probes:
            assert pat.search(f"prose {probe} prose"), (a, probe)


def _mixed_corpus(spark, n_pages=240):
    pages, truth = synth_pages(spark, n_pages=n_pages, n_entities=30)
    # prose negatives PLUS the former gap class: signal-bearing texts
    # whose only anchor is a geo name / fuzzy prefix — the equivalence
    # assertion below is what catches a gate that drops their evidence
    texty = _PROSE + [t for _, t in _SIGNALFUL]
    neg = spark.createDataFrame(
        [(f"prose://{i}", texty[i % len(texty)] + f" variant {'x' * (i % 3)}")
         for i in range(60)],
        "url string, text string",
    ).select(
        "url",
        F.to_timestamp(F.lit("2025-01-01 00:00:00")).alias("warc_ts"),
        F.encode("text", "UTF-8").alias("html"),
        "text",
        F.lit("en").alias("lang"),
    )
    return pages.unionByName(neg), truth


def test_gate_equivalence(spark):
    """Gated and ungated runs produce identical entities + components."""
    corpus, _ = _mixed_corpus(spark)

    def snapshot(gate: bool):
        ents = LinkagePlan(spark, gate=gate).run(corpus)
        rows = ents.select(
            "url", "mention_id", "house_number", "road", "area", "district",
            "division", "postal_code", "flat_number", "floor_number",
            "block_number", "country",
            F.col("overall_confidence").cast("string").alias("oc"),
        ).collect()
        ids = {(r["url"], r["mention_id"]) for r in rows}
        # entity ids are run-relative — compare the PARTITION they induce
        part = (ents.groupBy("entity_id")
                .agg(F.sort_array(F.collect_list("mention_id")).alias("m"))
                .select("m").collect())
        return sorted(map(tuple, (tuple(r) for r in rows))), ids, sorted(
            tuple(r["m"]) for r in part)

    rows_on, ids_on, clusters_on = snapshot(gate=True)
    rows_off, ids_off, clusters_off = snapshot(gate=False)
    assert ids_on == ids_off
    assert rows_on == rows_off
    assert clusters_on == clusters_off


def test_gate_metrics_and_singletons(spark):
    corpus, _ = _mixed_corpus(spark)
    plan = LinkagePlan(spark, gate=True)
    ents = plan.run(corpus)
    prose = ents.filter(F.col("url").startswith("prose://"))
    assert prose.count() == 60
    # the PURE-prose subset (no signal at all): survives to the output,
    # exact-dup texts collapse to one singleton entity per distinct
    # normalized text, and none merges with an address entity. The
    # signalful negatives (geo-name-only texts) legitimately carry
    # area/district evidence and may link among themselves — only the
    # signal-free class has the singleton guarantee.
    n_texty = len(_PROSE) + len(_SIGNALFUL)
    pure_urls = [f"prose://{i}" for i in range(60) if i % n_texty < len(_PROSE)]
    pure = prose.filter(F.col("url").isin(pure_urls))
    assert pure.count() == len(pure_urls)
    n_texts = pure.select("normalized").distinct().count()
    assert pure.select("entity_id").distinct().count() == n_texts > 0
    addr_ents = ents.filter(~F.col("url").startswith("prose://")).select("entity_id")
    assert pure.select("entity_id").join(addr_ents, "entity_id").count() == 0
    # and every one of them was skipped by the gate (plus nothing else:
    # every labeled synth page carries digits)
    m = plan.metrics()["s1_gate"]
    assert m["gate_skipped"] > 0
    assert m["gate_skipped"] <= m["unique_mentions"]
