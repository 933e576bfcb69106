"""End-to-end linkage pipeline tests (pages → entities) + generator
separability property vs the pure-Python reference oracle."""

import itertools
import os

from pyspark.sql import functions as F

from ai_bangladesh_address_parser_spark.data.gazetteer import DISTRICT_TO_DIVISION
from ai_bangladesh_address_parser_spark.plans.pipeline import (
    LinkagePlan,
    StageStore,
    pairwise_f1,
)
from ai_bangladesh_address_parser_spark.reference_semantics import compare_components
from ai_bangladesh_address_parser_spark.sources.pages import (
    _MISSPELL,
    SYNTH_AREAS,
    synth_pages,
)


def test_synth_corpus_separable_under_reference_semantics():
    """Every cross-entity pair scores < 0.85 and every within-entity
    surface-form pair scores ≥ 0.85 under the reference's compare
    semantics — exhaustive over all entity classes."""
    classes = []
    n = len(SYNTH_AREAS)
    for s in range(9):
        for ai, (area, dist, postal) in enumerate(SYNTH_AREAS):
            base = {
                "house_number": str(11 * ((s + ai) % 9 + 1)),
                "road": str((s + ai // 9) % 9 + 1),
                "area": area,
                "district": dist,
                "division": DISTRICT_TO_DIVISION[dist],
                "postal_code": postal,
            }
            v3 = dict(base, area=_MISSPELL.get(area, area))
            classes.append(((ai, s), [base, v3]))
    for (k1, v1), (k2, v2) in itertools.combinations(classes, 2):
        if v1[0]["district"] != v2[0]["district"]:
            continue  # never share a blocking key with high sim
        for c1, c2 in itertools.product(v1, v2):
            assert compare_components(c1, c2)["score"] < 0.85, (k1, k2)
    for _, (base, v3) in classes:
        assert compare_components(base, v3)["score"] >= 0.85


def test_pages_schema_and_determinism(spark):
    pages, truth = synth_pages(spark, n_pages=50, n_entities=20)
    assert [f.name for f in pages.schema.fields] == ["url", "warc_ts", "html", "text", "lang"]
    assert dict(pages.dtypes)["html"] == "binary"
    a = sorted(r.text for r in pages.collect())
    b = sorted(r.text for r in synth_pages(spark, 50, 20, n_partitions=3)[0].collect())
    assert a == b  # partitioning-independent, run-independent
    assert truth.count() == 50


def test_hot_path_f1_vs_reference_oracle_on_blocked_pairs(spark):
    """The BASELINE criterion, literally: pairwise F1 ≥ 0.99 of the
    scaled (levenshtein) scorer's match decisions against the reference
    semantics (difflib/SequenceMatcher oracle) on candidate pairs at
    shared blocking keys."""
    from ai_bangladesh_address_parser_spark.operators.scoring import (
        attach_pair_components,
        score_pairs,
    )

    pages, _ = synth_pages(spark, n_pages=600, n_entities=150)
    plan = LinkagePlan(spark)
    wide = plan.extract(pages)
    pairs = plan.block(wide).localCheckpoint(eager=True)
    ready = attach_pair_components(pairs, wide).localCheckpoint(eager=True)

    lev = score_pairs(ready, scorer="levenshtein").select("id_a", "id_b", "is_match")
    ora = score_pairs(ready, scorer="difflib").select(
        "id_a", "id_b", F.col("is_match").alias("oracle_match")
    )
    j = lev.join(ora, ["id_a", "id_b"]).cache()
    tp = j.filter(F.col("is_match") & F.col("oracle_match")).count()
    fp = j.filter(F.col("is_match") & ~F.col("oracle_match")).count()
    fn = j.filter(~F.col("is_match") & F.col("oracle_match")).count()
    assert tp > 0
    p = tp / (tp + fp) if tp + fp else 1.0
    r = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * p * r / (p + r)
    assert f1 >= 0.99, (tp, fp, fn, f1)


def test_linkage_end_to_end(spark, sf_dir, tmp_path):
    """One full run covering: F1 ≥ 0.99 vs ground truth, address-free
    negative pages staying singletons, per-stage checkpoints on disk,
    resume-from-checkpoint agreement, and deterministic entity ids."""
    pages, truth = synth_pages(spark, n_pages=300, n_entities=80)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)
    neg = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.to_timestamp(F.lit("2025-01-01 00:00:00")).alias("warc_ts"),
        F.encode("text", "UTF-8").alias("html"),
        F.col("text"),
        F.col("lang"),
    )
    corpus = pages.unionByName(neg)

    store = StageStore(base=str(tmp_path / "ckpt"), job_id="t1")
    ents = LinkagePlan(spark, scorer="levenshtein", store=store).run(corpus).cache()
    assert ents.count() == 340

    neg_ents = ents.filter(F.col("mention_id").startswith("doc://"))
    assert neg_ents.select("entity_id").distinct().count() == neg_ents.count()

    pos = ents.filter(~F.col("mention_id").startswith("doc://"))
    m = pairwise_f1(pos, truth)
    assert m["f1"] >= 0.99, m

    for stage in ["s1_mentions", "s2_block_keys", "s3_match_edges", "s4_entities"]:
        assert os.path.exists(os.path.join(str(tmp_path / "ckpt"), stage, "_SUCCESS"))

    # resume path: a second job over the same store reuses every stage
    # and produces identical entity assignments (determinism)
    plan2 = LinkagePlan(spark, store=StageStore(base=str(tmp_path / "ckpt"), job_id="t2"))
    # the run's stages one by one, so the resumed score alone can be
    # wrapped in a job group: on a store hit it skips its eager lineage
    # cut and runs only the stored stage's read (at most one job, the
    # parquet schema inference), not the scoring joins. The lazy cuts
    # of the frames it reads run jobs at build time, so those come first
    wide2 = plan2.extract(corpus)
    nodes2 = plan2.unique_mentions(wide2)
    pairs2 = plan2.block(nodes2, id_col="norm_key")
    sc = spark.sparkContext
    sc.setJobGroup("resumed-score", "LinkagePlan.score on a store hit")
    try:
        edges2 = plan2.score(pairs2, nodes2, id_col="norm_key")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    stages = [tracker.getStageInfo(s).name
              for j in tracker.getJobIdsForGroup("resumed-score")
              for s in tracker.getJobInfo(j).stageIds]
    assert len(stages) <= 1 and all(n.startswith("parquet at") for n in stages), stages
    ents2 = plan2.cluster(wide2, edges2, id_col="norm_key")
    ids1 = {r.mention_id: r.entity_id for r in ents.collect()}
    ids2 = {r.mention_id: r.entity_id for r in ents2.collect()}
    assert ids1 == ids2
    # the resumed run must NOT have paid the eager gate-stats scan over
    # the pages corpus (review fix: stats are skipped on a store hit —
    # gate_stats stays None, the stored stage is the source of truth)
    assert plan2.store.will_resume(spark, "s1_mentions")
    assert plan2.gate_stats is None


def test_multi_mention_page(spark, tmp_path):
    """FIXTURES F1: a page with two distinct embedded addresses yields
    two mentions with (url, mention_idx) ids and two different entity
    ids; pages sharing one of those addresses link to it. Streaming S1
    over the same pages harvests exactly the batch run's mentions."""
    import pyspark.sql.functions as F  # noqa: N812

    from ai_bangladesh_address_parser_spark.sources.pages import PAGES_SCHEMA
    from ai_bangladesh_address_parser_spark.streaming.stream_extract import (
        read_page_stream,
        stream_mentions,
    )

    two = ("Our offices. House 12, Road 5, Gulshan, Dhaka-1212. "
           "Warehouse at House 34, Road 7, Agrabad, Chattogram-4100. Call us.")
    one_a = "Visit House 12, Road 5, Gulshan, Dhaka-1212. Thanks."
    one_b = "Depot: House 34, Road 7, Agrabad, Chattogram-4100. Hours 9-5."
    rows = [("u1", None, None, two, "en"),
            ("u2", None, None, one_a, "en"),
            ("u3", None, None, one_b, "en")]
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    ents = LinkagePlan(spark).run(pages).cache()

    u1 = {r["mention_id"]: r for r in ents.filter(F.col("url") == "u1").collect()}
    assert set(u1) == {"u1#0", "u1#1"}, "two mentions harvested from u1"
    e_dhaka, e_ctg = u1["u1#0"]["entity_id"], u1["u1#1"]["entity_id"]
    assert e_dhaka != e_ctg, "distinct addresses → distinct entities"

    u2 = ents.filter(F.col("url") == "u2").collect()[0]
    u3 = ents.filter(F.col("url") == "u3").collect()[0]
    assert u2["entity_id"] == e_dhaka
    assert u3["entity_id"] == e_ctg

    src = str(tmp_path / "pages")
    pages.write.parquet(src)
    q = (
        stream_mentions(read_page_stream(spark, src))
        .writeStream.format("memory")
        .queryName("multi_mention_stream")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.sql("select mention_id, normalized from multi_mention_stream")
    batch = ents.select("mention_id", "normalized")
    assert {tuple(r) for r in streamed.collect()} == {tuple(r) for r in batch.collect()}


def test_null_empty_text_pages_are_singletons(spark):
    """Degenerate inputs: null/empty/whitespace text pages flow through
    the whole pipeline without error and stay singleton entities (no
    band keys for contentless rows, no junk mega-block)."""
    import pyspark.sql.functions as F  # noqa: N812

    rows = [
        ("p://null", None),
        ("p://empty", ""),
        ("p://ws", "   "),
        ("p://real", "House 12, Road 5, Mirpur, Dhaka-1216"),
        ("p://real2", "house 12 road 5 mirpur dhaka 1216"),
    ]
    pages = spark.createDataFrame(rows, "url string, text string").select(
        "url",
        F.to_timestamp(F.lit("2025-01-01 00:00:00")).alias("warc_ts"),
        F.encode(F.coalesce("text", F.lit("")), "UTF-8").alias("html"),
        "text",
        F.lit("en").alias("lang"),
    )
    ents = LinkagePlan(spark).run(pages)
    got = {r.url: r.entity_id for r in ents.collect()}
    assert set(got) == {r[0] for r in rows}
    # the two real variants link; the degenerate pages don't join them
    assert got["p://real"] == got["p://real2"]
    degenerates = {got["p://null"], got["p://empty"], got["p://ws"]}
    assert got["p://real"] not in degenerates


def test_empty_corpus_yields_zero_rows(spark):
    pages = spark.createDataFrame(
        [], "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    assert LinkagePlan(spark).run(pages).count() == 0


def test_bcubed_hand_example(spark):
    """B³ on the classic worked example: truth {a,b},{c}; prediction
    welds all three. P = mean(2/3, 2/3, 1/3) = 5/9, R = 1, F = 5/7."""
    from ai_bangladesh_address_parser_spark.plans.pipeline import bcubed

    ents = spark.createDataFrame(
        [("a", "x"), ("b", "x"), ("c", "x")], "url string, entity_id string"
    )
    truth = spark.createDataFrame(
        [("a", "e1"), ("b", "e1"), ("c", "e2")], "url string, truth_entity_id string"
    )
    m = bcubed(ents, truth)
    assert abs(m["precision"] - 5 / 9) < 1e-12
    assert abs(m["recall"] - 1.0) < 1e-12
    assert abs(m["f1"] - 5 / 7) < 1e-12
    assert m["n_mentions"] == 3

    # perfect clustering → all 1.0; and mention-averaging differs from
    # pairwise on purpose: pairwise precision of the welded prediction
    # is 1/3 (1 TP of 3 pred pairs), B³ precision is 5/9
    perfect = bcubed(truth.withColumnRenamed("truth_entity_id", "entity_id"), truth)
    assert perfect["precision"] == perfect["recall"] == perfect["f1"] == 1.0
    pw = pairwise_f1(ents, truth)
    assert abs(pw["precision"] - 1 / 3) < 1e-12


def test_bcubed_full_pipeline_is_perfect(spark):
    """On the separable synthetic corpus the pipeline's clusters score
    B³ = 1.0, consistent with pairwise F1 = 1.0."""
    from ai_bangladesh_address_parser_spark.plans.pipeline import LinkagePlan, bcubed
    from ai_bangladesh_address_parser_spark.sources.pages import synth_pages

    pages, truth = synth_pages(spark, n_pages=360, n_entities=30)
    ents = LinkagePlan(spark).run(pages)
    m = bcubed(ents, truth)
    assert m["precision"] == m["recall"] == m["f1"] == 1.0
