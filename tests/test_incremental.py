"""Incremental (day-2) linkage: stream of batches ≡ one batch run.

The contract (plans/incremental.py): splitting a corpus into micro-
batches and linking each against the accumulated entity state produces
EXACTLY the batch pipeline's output — same entity partition, same
entity ids (min member norm_key) — because every candidate pair is
generated by the delta in which its later node arrives and old × old
pairs were scored when they were new.
"""

import pytest
from pyspark.sql import functions as F

from ai_bangladesh_address_parser_spark.plans.incremental import IncrementalLinker
from ai_bangladesh_address_parser_spark.plans.pipeline import LinkagePlan
from ai_bangladesh_address_parser_spark.sources.pages import synth_pages


def _batch_of(pages, i, n=3):
    return pages.filter(F.pmod(F.xxhash64("url"), F.lit(n)) == i)


@pytest.fixture(scope="module")
def corpus(spark):
    pages, truth = synth_pages(spark, n_pages=360, n_entities=40)
    return pages.localCheckpoint(eager=True), truth


def _mention_entities(df):
    return {
        (r["url"], r["mention_id"]): r["entity_id"]
        for r in df.select("url", "mention_id", "entity_id").collect()
    }


def test_three_batches_equal_one_batch(spark, tmp_path, corpus):
    pages, _ = corpus
    batch_ents = _mention_entities(LinkagePlan(spark).run(pages))

    linker = IncrementalLinker(spark, str(tmp_path / "state"))
    for i in range(3):
        linker.link_batch(_batch_of(pages, i))
    inc_ents = _mention_entities(linker.entities())

    assert inc_ents == batch_ents  # ids equal, not just the partition


def test_known_text_rejoins_without_new_node(spark, tmp_path, corpus):
    """Re-ingesting pages whose normalized text is already stored must
    resolve them by the norm_key join alone: node count unchanged,
    entity ids unchanged, re-crawled urls mapped to existing entities."""
    pages, _ = corpus
    linker = IncrementalLinker(spark, str(tmp_path / "state"))
    linker.link_batch(pages)
    nodes_before = {r["norm_key"]: r["entity_id"]
                    for r in linker.nodes().select("norm_key", "entity_id").collect()}

    recrawl = pages.limit(20).withColumn(
        "url", F.concat(F.lit("recrawl://"), F.col("url")))
    linker.link_batch(recrawl)
    nodes_after = {r["norm_key"]: r["entity_id"]
                   for r in linker.nodes().select("norm_key", "entity_id").collect()}
    assert nodes_after == nodes_before

    ents = linker.entities()
    re_rows = ents.filter(F.col("url").startswith("recrawl://")).collect()
    assert len(re_rows) > 0
    for r in re_rows:
        assert nodes_before[r["norm_key"]] == r["entity_id"]


def test_new_member_merges_and_relabels(spark, tmp_path):
    """A later batch that links two previously-separate entities must
    merge them under the global min id — and leave unrelated entities'
    ids untouched."""

    def _pages(rows):
        return spark.createDataFrame(rows, "url string, text string").select(
            "url",
            F.to_timestamp(F.lit("2025-01-01 00:00:00")).alias("warc_ts"),
            F.encode("text", "UTF-8").alias("html"),
            "text",
            F.lit("en").alias("lang"),
        )

    # two variants of one address that score >= 0.85 against each other
    # only through the bridging third variant is hard to synthesize
    # reliably; instead: A and B are the SAME address spelled with and
    # without the postal code — they share the district+house block but
    # arrive in different batches, so the merge exercises the
    # new × old path and the touched-component relabeling.
    a = ("u://a", "House 11, Road 3, Dhanmondi, Dhaka")
    b = ("u://b", "House 11, Road 3, Dhanmondi, Dhaka - 1209")
    other = ("u://c", "House 55, Road 7, Agrabad, Chattogram - 4100")

    linker = IncrementalLinker(spark, str(tmp_path / "state"))
    linker.link_batch(_pages([a, other]))
    first = {r["url"]: r["entity_id"] for r in linker.entities().collect()}
    assert first["u://a"] != first["u://c"]

    linker.link_batch(_pages([b]))
    second = {r["url"]: r["entity_id"] for r in linker.entities().collect()}
    assert second["u://a"] == second["u://b"], "new node must join the old entity"
    assert second["u://c"] == first["u://c"], "untouched entity keeps its id"

    # batch equivalence for this corpus too
    batch = {
        r["url"]: r["entity_id"]
        for r in LinkagePlan(spark).run(_pages([a, other, b])).collect()
    }
    assert batch == second


def _simple_pages(spark, rows):
    return spark.createDataFrame(rows, "url string, text string").select(
        "url",
        F.to_timestamp(F.lit("2025-01-01 00:00:00")).alias("warc_ts"),
        F.encode("text", "UTF-8").alias("html"),
        "text",
        F.lit("en").alias("lang"),
    )


class _AreaOnlyPlan(LinkagePlan):
    """Single-key blocking (block = lowercased area) so block sizes are
    exactly controllable; every pair of same-area nodes shares exactly
    ONE block, making the retroactive cap's effect fully observable."""

    def block_keys(self, nodes, id_col="mention_id"):
        return nodes.select(
            F.col(id_col).alias("mention_id"),
            F.concat(F.lit("a:"), F.lower("area")).alias("block_key"),
        ).filter(F.length(F.coalesce(F.col("area"), F.lit(""))) > 0)


class _AreaOnlyLinker(IncrementalLinker):
    _plan_cls = _AreaOnlyPlan


def test_cap_crossing_is_retroactive(spark, tmp_path):
    """A block that crosses max_block across batches must behave as in
    the one-shot run: candidate_pairs drops the whole block, so edges
    generated while the block was under the cap must be unwound and the
    merged entities split back apart."""
    # two entities, two match-scoring variants each (the with/without-
    # postal pattern test_new_member_merges_and_relabels relies on);
    # houses/roads use disjoint digit sets so A never matches B
    a1 = ("u://a1", "House 11, Road 3, Dhanmondi, Dhaka")
    a2 = ("u://a2", "House 11, Road 3, Dhanmondi, Dhaka - 1209")
    b1 = ("u://b1", "House 55, Road 7, Dhanmondi, Dhaka")
    b2 = ("u://b2", "House 55, Road 7, Dhanmondi, Dhaka - 1209")

    # control: same stream, cap never reached → both entities merge
    control = _AreaOnlyLinker(spark, str(tmp_path / "ctrl"), max_block=100)
    control.link_batch(_simple_pages(spark, [a1, a2]))
    control.link_batch(_simple_pages(spark, [b1, b2]))
    ents = {r["url"]: r["entity_id"] for r in control.entities().collect()}
    assert ents["u://a1"] == ents["u://a2"]
    assert ents["u://b1"] == ents["u://b2"]
    assert ents["u://a1"] != ents["u://b1"]

    # capped: batch 1 fits (block size 2 ≤ 3) and merges A; batch 2
    # pushes the area block to 4 > 3 — the one-shot run would drop the
    # block entirely, so the A-edge must be retroactively removed
    linker = _AreaOnlyLinker(spark, str(tmp_path / "state"), max_block=3)
    linker.link_batch(_simple_pages(spark, [a1, a2]))
    first = {r["url"]: r["entity_id"] for r in linker.entities().collect()}
    assert first["u://a1"] == first["u://a2"], "under-cap batch must merge"

    linker.link_batch(_simple_pages(spark, [b1, b2]))
    second = linker.entities().select("url", "norm_key", "entity_id").collect()
    ids = {r["url"]: r["entity_id"] for r in second}
    assert len(set(ids.values())) == 4, "capped block → all singletons"
    for r in second:
        assert r["entity_id"] == r["norm_key"], "singletons keep min-id = self"


def test_partial_versioned_write_is_retried(spark, tmp_path, corpus):
    """A crash anywhere before the nodes/d<N> commit point must not wedge
    the retry: a killed nodes write leaves part files with no _SUCCESS
    (swept by the orphan check), and a crash BETWEEN the edges commit
    and the nodes commit leaves a fully-committed edges/v<N> — which is
    still uncommitted state (nodes is the sole commit point) and must be
    swept despite its _SUCCESS marker."""
    import os

    pages, _ = corpus
    base = str(tmp_path / "state")
    linker = IncrementalLinker(spark, base)
    linker.link_batch(_batch_of(pages, 0))

    # simulate the widest crash window of batch 2: edges/v2 committed
    # (complete parquet dir WITH _SUCCESS), nodes/d2 killed mid-write
    # (part files, no _SUCCESS)
    spark.createDataFrame([("junk", "junk")], "id_a string, id_b string") \
        .write.parquet(os.path.join(base, "edges", "v2"))
    nodes_path = os.path.join(base, "nodes", "d2")
    spark.createDataFrame([("junk",)], "x string").write.parquet(nodes_path)
    os.remove(os.path.join(nodes_path, "_SUCCESS"))

    restarted = IncrementalLinker(spark, base)
    assert restarted.version == 1
    restarted.link_batch(_batch_of(pages, 1))
    restarted.link_batch(_batch_of(pages, 2))
    batch_ents = _mention_entities(LinkagePlan(spark).run(pages))
    assert _mention_entities(restarted.entities()) == batch_ents
    # the junk edge from the swept uncommitted attempt must be gone
    assert restarted.edges().filter("id_a = 'junk'").count() == 0


def test_orphan_batch_dirs_are_invisible(spark, tmp_path, corpus):
    """Crash atomicity: keys/mentions dirs from a batch whose nodes
    version never committed must be invisible on restart, and the
    retried batch must overwrite them — final state equals the clean
    3-batch run."""
    import os

    pages, _ = corpus
    base = str(tmp_path / "state")
    linker = IncrementalLinker(spark, base)
    linker.link_batch(_batch_of(pages, 0))

    # simulate a crashed batch-2 attempt: keys/b2 + mentions/b2 written
    # with junk, nodes/v2 never committed
    spark.createDataFrame(
        [("deadbeef", "p:9999")], "norm_key string, block_key string"
    ).write.parquet(os.path.join(base, "keys", "b2"))
    spark.createDataFrame(
        [("u://crashed", "u://crashed#0", "deadbeef")],
        "url string, mention_id string, norm_key string",
    ).write.parquet(os.path.join(base, "mentions", "b2"))

    restarted = IncrementalLinker(spark, base)
    assert restarted.version == 1  # orphan dirs don't advance the version
    restarted.link_batch(_batch_of(pages, 1))  # retry overwrites b2
    restarted.link_batch(_batch_of(pages, 2))

    batch_ents = _mention_entities(LinkagePlan(spark).run(pages))
    assert _mention_entities(restarted.entities()) == batch_ents
    assert "deadbeef" not in {
        r["norm_key"] for r in restarted.entities().select("norm_key").collect()
    }


def test_replayed_batch_is_idempotent(spark, tmp_path, corpus):
    """An at-least-once driver (foreachBatch) may re-run a batch whose
    state commit succeeded: the replay must not change the output — no
    new nodes/edges (anti-join) and no duplicate mention rows."""
    pages, _ = corpus
    linker = IncrementalLinker(spark, str(tmp_path / "state"))
    b = _batch_of(pages, 0)
    linker.link_batch(b)
    before = _mention_entities(linker.entities())
    n_nodes = linker.nodes().count()

    linker.link_batch(b)  # replay of the identical batch
    assert _mention_entities(linker.entities()) == before
    assert linker.entities().count() == len(before)  # no dup mention rows
    assert linker.nodes().count() == n_nodes


def test_changed_text_recrawl_keeps_both_mentions(spark, tmp_path):
    """A re-crawled url whose TEXT changed carries a different norm_key
    under the same (url, mention_id); the output must keep BOTH mention
    rows — exactly what the batch pipeline emits over both page rows —
    while true replays (identical rows) still collapse."""
    v1 = ("u://x", "House 11, Road 3, Dhanmondi, Dhaka")
    v2 = ("u://x", "House 11, Road 3, Dhanmondi, Dhaka - 1209")

    linker = IncrementalLinker(spark, str(tmp_path / "state"))
    linker.link_batch(_simple_pages(spark, [v1]))
    linker.link_batch(_simple_pages(spark, [v2]))

    rows = linker.entities().select("url", "mention_id", "norm_key").collect()
    assert len(rows) == 2, "changed-text recrawl must keep both mentions"
    assert len({r["norm_key"] for r in rows}) == 2

    batch = LinkagePlan(spark).run(_simple_pages(spark, [v1, v2]))
    assert batch.select("url", "mention_id", "norm_key").count() == 2


def test_batch_metrics(spark, tmp_path, corpus):
    """collect_metrics=True records per-batch ingest counts — the day-2
    twin of StageStore's per-stage lineage."""
    pages, _ = corpus
    linker = IncrementalLinker(spark, str(tmp_path / "state"),
                               collect_metrics=True)
    linker.link_batch(_batch_of(pages, 0))
    m1 = linker.last_metrics
    assert m1["batch"] == 1 and m1["delta_mentions"] > 0
    assert m1["new_nodes"] > 0 and m1["capped_blocks"] == 0

    linker.link_batch(_batch_of(pages, 0))  # replay: nothing new
    m2 = linker.last_metrics
    assert m2["batch"] == 2 and m2["new_nodes"] == 0
    assert m2["new_match_edges"] == 0 and m2["removed_edge_nodes"] == 0
    assert linker.metrics_history == [m1, m2]


def test_vacuum_drops_old_versions_keeps_state(spark, tmp_path, corpus):
    """vacuum() deletes superseded edges snapshots (nodes are append-
    only deltas, reclaimed by compact()); reads, restart recovery, and
    further ingest are unaffected (the commit point is the highest
    committed version)."""
    import os

    pages, _ = corpus
    state = tmp_path / "state"
    linker = IncrementalLinker(spark, str(state))
    for i in range(3):
        linker.link_batch(_batch_of(pages, i))
    before = _mention_entities(linker.entities())
    # node writes are per-batch DELTAS, not corpus snapshots
    assert sorted(os.listdir(state / "nodes")) == ["d1", "d2", "d3"]

    linker.vacuum()
    assert sorted(os.listdir(state / "edges")) == ["v3"]
    assert _mention_entities(linker.entities()) == before

    restarted = IncrementalLinker(spark, str(state))
    assert restarted.version == 3
    assert _mention_entities(restarted.entities()) == before

    with pytest.raises(ValueError):
        linker.vacuum(retain=0)


def test_compact_then_ingest_equals_batch(spark, tmp_path, corpus):
    """compact() consolidates keys/mentions batch dirs into one c<K>
    checkpoint; output is unchanged and a later batch still reproduces
    the one-shot run exactly."""
    import os

    pages, _ = corpus
    state = tmp_path / "state"
    batch_ents = _mention_entities(LinkagePlan(spark).run(pages))

    linker = IncrementalLinker(spark, str(state))
    for i in range(3):
        linker.link_batch(_batch_of(pages, i, n=4))
    mid = _mention_entities(linker.entities())

    linker.compact()
    assert sorted(os.listdir(state / "keys")) == ["c3"]
    assert sorted(os.listdir(state / "mentions")) == ["c3"]
    assert sorted(os.listdir(state / "nodes")) == ["c3"]
    assert _mention_entities(linker.entities()) == mid
    linker.compact()  # idempotent at the same version
    assert sorted(os.listdir(state / "keys")) == ["c3"]

    linker.link_batch(_batch_of(pages, 3, n=4))
    assert _mention_entities(linker.entities()) == batch_ents

    # second compaction supersedes the first checkpoint and the new dir
    linker.compact()
    assert sorted(os.listdir(state / "keys")) == ["c4"]
    assert sorted(os.listdir(state / "nodes")) == ["c4"]
    assert _mention_entities(linker.entities()) == batch_ents


def test_stale_batch_dirs_after_compact_are_ignored(spark, tmp_path, corpus):
    """Crash between the c<K> commit and the b-dir sweep leaves
    superseded batch dirs on disk; readers must not double-count them."""
    import shutil as _sh

    pages, _ = corpus
    state = tmp_path / "state"
    linker = IncrementalLinker(spark, str(state))
    for i in range(2):
        linker.link_batch(_batch_of(pages, i))
    before = _mention_entities(linker.entities())
    keys_before = linker._read_batches("keys").count()

    linker.compact()
    # resurrect superseded dirs holding duplicates of the c2 rows
    _sh.copytree(state / "keys" / "c2", state / "keys" / "b1")
    _sh.copytree(state / "mentions" / "c2", state / "mentions" / "b1")
    _sh.copytree(state / "nodes" / "c2", state / "nodes" / "d1")

    assert linker._read_batches("keys").count() == keys_before
    assert _mention_entities(linker.entities()) == before
    # the retried compact (same version) finishes the sweep
    linker.compact()
    import os
    assert sorted(os.listdir(state / "keys")) == ["c2"]


def test_cli_ingest_and_maintain(spark, tmp_path, corpus):
    """The spark-submit verbs drive the day-2 path end to end: two
    `ingest` batches reproduce the one-shot run, `--maintain-every`
    and `state-maintain` leave only current state behind."""
    import os

    from ai_bangladesh_address_parser_spark.__main__ import main

    pages, _ = corpus
    state = str(tmp_path / "state")
    for i in range(2):
        (_batch_of(pages, i, n=2)
         .write.mode("overwrite").parquet(str(tmp_path / f"in{i}")))

    assert main(["ingest", "--input", str(tmp_path / "in0"),
                 "--state", state]) == 0
    assert main(["ingest", "--input", str(tmp_path / "in1"),
                 "--state", state, "--maintain-every", "2",
                 "--output", str(tmp_path / "out")]) == 0

    # maintenance fired at v2: superseded state gone
    assert sorted(os.listdir(os.path.join(state, "nodes"))) == ["c2"]
    assert sorted(os.listdir(os.path.join(state, "keys"))) == ["c2"]

    got = {
        (r["url"], r["mention_id"]): r["entity_id"]
        for r in spark.read.parquet(str(tmp_path / "out"))
        .select("url", "mention_id", "entity_id").collect()
    }
    want = _mention_entities(LinkagePlan(spark).run(pages))
    assert got == want

    # idempotent standalone maintenance verb
    assert main(["state-maintain", "--state", state]) == 0
    assert sorted(os.listdir(os.path.join(state, "keys"))) == ["c2"]
    assert main(["state-maintain", "--state", str(tmp_path / "empty")]) == 0
