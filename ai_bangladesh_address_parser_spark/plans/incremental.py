"""Incremental (day-2) linkage: link new page batches against the
EXISTING entity table instead of re-running the whole corpus.

The reference is strictly batch (its ``batch_extract`` is a Python
for-loop over one input list, production_address_extractor.py:1114-1129)
— it has no notion of yesterday's results. At 10^12-page scale a full
re-link per arriving WARC dump is not a plan; the production shape is:

  1. EXTRACT only the delta pages (same S1 as the batch pipeline);
  2. keep only nodes whose ``norm_key`` is genuinely NEW — a re-crawled
     page with known text resolves to its existing entity by the
     norm_key join alone, zero pairwise work;
  3. BLOCK the new nodes; candidate pairs are
       new × new   — the usual salted within-block self-join, and
       new × old   — one equi-join of the new keys against the STORED
                     block-key index (the old × old pairs were already
                     scored in the batches that created them);
  4. SCORE those pairs with the batch plan's own ``LinkagePlan.score``;
  5. CLUSTER only the delta: connected components over the new match
     edges plus the membership star-edges (member → entity_id) of the
     TOUCHED old entities. Untouched components never enter the join.

Equivalence to one big batch run (pinned by tests/test_incremental.py):
every candidate pair the batch run generates is generated by exactly
one delta (the one where its later node arrives), scoring is pairwise-
deterministic, and old entity ids are the min member norm_key — so CC
over (new edges ∪ touched star edges) reproduces the global min-id
labeling. Entity ids are therefore STABLE: an entity's id changes only
when a new member with a smaller norm_key joins it or a new edge merges
it with a lower-id entity — exactly when the batch run would have
labeled it differently too.

The ``max_block`` cap is RETROACTIVE, matching the one-shot semantics
exactly: ``candidate_pairs(max_block=N)`` drops a block from pairing
when its TOTAL membership exceeds N, so when a block crosses the cap
across batches the pairs its earlier (under-cap) batches generated must
be unwound. On the (rare) batch where a block newly crosses the cap,
stored match edges whose every shared block is now capped are removed,
and the components they lived in are re-clustered from the REAL
surviving edges (star edges would falsely glue the split parts back
together). That requires keeping the match-edge set in state — edges
are a matched-pairs-sized table, the same cost class as the node table
that is already rewritten per batch.

State tables (one directory per linker under ``base_dir``):

  nodes/d<N>/    APPEND-ONLY node deltas: the rows batch N added or
                 relabeled (norm_key, normalized, components,
                 entity_id, _v=N). The current node table is resolved
                 at read as latest-_v-wins per norm_key — the parquet
                 analogue of Iceberg MERGE INTO, and the reason batch
                 write I/O is O(delta + touched components), never
                 O(accumulated corpus). d<N> is the batch COMMIT POINT;
  nodes/c<K>/    compacted node checkpoint: the resolved latest-per-key
                 table at version K (see maintenance below);
  edges/v<N>/    surviving match edges (id_a, id_b) — snapshot-
                 versioned, because retroactive cap repair REMOVES
                 edges, which an append-only delta cannot express
                 without tombstones; the edge table is matched-pairs-
                 sized, a small fraction of nodes;
  keys/b<N>/     (norm_key, block_key) index rows added by batch N —
                 the join target for new × old blocking;
  mentions/b<N>/ (url, mention_id, norm_key) page↔node rows of batch N;
  keys/c<K>/, mentions/c<K>/
                 compacted checkpoints (see maintenance below): all
                 batch rows ≤ K consolidated into one table; reads use
                 the highest committed c<K> plus b<K+1>..b<current>.

State maintenance (the parquet twin of Iceberg's expire_snapshots +
rewrite_data_files, which a catalog deployment would run instead):
``vacuum(retain)`` deletes superseded edges snapshots — without it edge
storage is O(batches × matches). ``compact()`` consolidates the
per-batch keys/mentions dirs AND the node deltas, whose count otherwise
grows unboundedly (every read re-lists and re-opens N small parquet
dirs — the classic small-files problem at 10^4+ batches; for nodes,
compaction also collapses the latest-per-key resolution a delta read
pays). Compaction commits crash-safely: the consolidated c<K> dir
(errorifexists + _SUCCESS) becomes visible BEFORE the superseded
b≤K / d≤K dirs are swept, and readers ignore them whenever a committed
c<K> exists — a crash between the two steps leaves duplicate rows on
disk but never in a read. Compaction trades per-batch provenance
(which rows batch N added) for file count; run it on the same
maintenance cadence as snapshot expiry.

Crash atomicity without a transactional catalog: batch N writes
keys/b<N> and mentions/b<N> FIRST (mode=overwrite, so a retried batch
replaces its own partial output), then edges/v<N>, and the nodes/d<N>
write is the COMMIT POINT — the current version is the highest
nodes/{d,c}* with a _SUCCESS marker, and reads of keys/mentions/edges
only include versions ≤ the commit point, so orphan dirs from a
crashed attempt are invisible until their batch commits. Versioned
writes use mode=errorifexists so a committed version is never
clobbered, and a partial directory left by a killed write (part files,
no _SUCCESS) is deleted before the retry — without that sweep the
retry would fail forever with PATH_ALREADY_EXISTS. On a cluster the
tables are Iceberg tables (nodes via MERGE INTO on the touched keys —
the same delta-sized write the d<N> layout performs here — with the
writes in one transaction).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..data.gazetteer import local_df
from ..operators.blocking import MAX_BLOCK, candidate_pairs
from ..operators.cluster import connected_components, label_entities
from ..reference_semantics import MATCH_THRESHOLD
from .pipeline import LinkagePlan

_EDGE_SCHEMA = "id_a string, id_b string"


class IncrementalLinker:
    """Micro-batch linker over persistent entity state.

    ``link_batch(pages)`` ingests one batch; ``entities()`` returns the
    current per-mention entity table (same shape as the batch
    pipeline's output contract: url, mention_id, norm_key, normalized,
    components, entity_id).
    """

    # the plan type whose extract / unique_mentions / block_keys a batch
    # reuses, so the S1 and blocking-key rules live in plans.pipeline
    _plan_cls = LinkagePlan

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        scorer: str = "levenshtein",
        threshold: float = MATCH_THRESHOLD,
        use_minhash: bool = True,
        gate: bool = True,
        max_block: int = MAX_BLOCK,
        collect_metrics: bool = False,
    ):
        self.spark = spark
        self.base = base_dir
        self.scorer = scorer
        self.threshold = threshold
        self.use_minhash = use_minhash
        self.gate = gate
        self.max_block = max_block
        # per-batch ingest metrics (the day-2 twin of StageStore's
        # per-stage lineage): opt-in because each count is one extra
        # tiny job against an already-checkpointed frame. Batch
        # provenance itself is structural — keys/b<N> and mentions/b<N>
        # record exactly which rows each batch contributed.
        self.collect_metrics = collect_metrics
        self.metrics_history: list[dict] = []
        self.last_metrics: dict | None = None
        self.version = 0
        # find the latest committed version on disk (restart safety):
        # a version directory is only ever observed complete because
        # the _SUCCESS marker is written by the same parquet commit
        nodes_root = os.path.join(base_dir, "nodes")
        if os.path.isdir(nodes_root):
            done = [
                int(d[1:]) for d in os.listdir(nodes_root)
                if d[:1] in ("d", "c") and d[1:].isdigit()
                and os.path.exists(os.path.join(nodes_root, d, "_SUCCESS"))
            ]
            if done:
                self.version = max(done)

    # -- state paths -------------------------------------------------------
    def _nodes_path(self, version: int) -> str:
        return os.path.join(self.base, "nodes", f"d{version}")

    def _edges_path(self, version: int) -> str:
        return os.path.join(self.base, "edges", f"v{version}")

    def _compact_version(self, table: str) -> int:
        """Highest committed compaction checkpoint c<K> of ``table``
        with K ≤ the commit point (0 if none)."""
        root = os.path.join(self.base, table)
        if not os.path.isdir(root):
            return 0
        done = [
            int(d[1:]) for d in os.listdir(root)
            if d.startswith("c") and d[1:].isdigit()
            and int(d[1:]) <= self.version
            and os.path.exists(os.path.join(root, d, "_SUCCESS"))
        ]
        return max(done, default=0)

    def _batch_paths(self, table: str, prefix: str = "b") -> list[str]:
        """Committed dirs of ``table`` — the highest committed
        compaction checkpoint (if any) plus the per-batch dirs after
        it, all at or below the current nodes version (the commit
        point), so orphan dirs from a crashed attempt — and batch dirs
        a compaction superseded but a crash left behind — never leak
        into reads."""
        k = self._compact_version(table)
        paths = []
        if k:
            paths.append(os.path.join(self.base, table, f"c{k}"))
        paths += [
            p for b in range(k + 1, self.version + 1)
            if os.path.isdir(p := os.path.join(self.base, table, f"{prefix}{b}"))
        ]
        return paths

    def _read_batches(self, table: str) -> DataFrame | None:
        paths = self._batch_paths(table)
        return self.spark.read.parquet(*paths) if paths else None

    @staticmethod
    def _latest_per_key(deltas: DataFrame) -> DataFrame:
        """Latest-_v-wins per norm_key over node delta rows (``_v``
        kept): the one resolution rule of :meth:`nodes` and
        :meth:`compact`."""
        w = Window.partitionBy("norm_key").orderBy(F.col("_v").desc())
        return (
            deltas.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def nodes(self) -> DataFrame | None:
        """Current node table (norm_key-unique, with entity_id),
        resolved from the append-only deltas as latest-_v-wins per
        norm_key — one window pass over the committed deltas, which
        ``compact()`` collapses back to a single checkpoint read (an
        Iceberg deployment gets this for free from MERGE INTO)."""
        if self.version == 0:
            return None
        df = self.spark.read.parquet(*self._batch_paths("nodes", prefix="d"))
        return self._latest_per_key(df).drop("_v")

    def edges(self) -> DataFrame | None:
        """Current surviving match-edge table (id_a, id_b)."""
        if self.version == 0:
            return None
        path = self._edges_path(self.version)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            # state written by a pre-edges layout: repair has nothing to
            # work from; treat as empty rather than failing reads
            return local_df(self.spark, [], _EDGE_SCHEMA)
        return self.spark.read.parquet(path)

    @staticmethod
    def _clean_orphan(path: str) -> None:
        """Delete a partial versioned dir (part files, no _SUCCESS) left
        by a killed write, so the errorifexists retry can proceed. A
        COMMITTED dir (with _SUCCESS) is left alone — errorifexists then
        fails loudly, which is correct (two writers, or a version bug)."""
        if os.path.isdir(path) and not os.path.exists(
                os.path.join(path, "_SUCCESS")):
            shutil.rmtree(path, ignore_errors=True)

    # -- maintenance (the parquet twin of Iceberg expire_snapshots /
    # rewrite_data_files; run on the same cadence) -------------------------
    def vacuum(self, retain: int = 1) -> None:
        """Delete superseded edges snapshots, keeping the newest
        ``retain`` (the current version always survives). Safe at any
        time under the single-writer contract: the commit point is the
        HIGHEST committed version, so removing older ones never changes
        what a reader or a restarted linker resolves. Without this,
        edge storage is O(batches × matches) — each batch snapshots the
        surviving edge set. (Nodes need no vacuum: they are append-only
        deltas, reclaimed by ``compact()``.)"""
        if retain < 1:
            raise ValueError("retain must be >= 1")
        cutoff = self.version - retain + 1
        root = os.path.join(self.base, "edges")
        if not os.path.isdir(root):
            return
        for d in os.listdir(root):
            if d.startswith("v") and d[1:].isdigit() and int(d[1:]) < cutoff:
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)

    def compact(self) -> None:
        """Consolidate the per-batch keys/, mentions/ and nodes/ dirs
        into one compacted checkpoint each (``c<current version>``),
        then sweep the superseded per-batch dirs. Bounds the
        small-files growth of long-running state — reads open
        O(batches-since-compaction) dirs instead of O(all batches) —
        and, for nodes, collapses the latest-per-key delta resolution:
        the node checkpoint stores only each key's current row, so
        superseded relabel history is reclaimed here.

        Crash-safe without a transactional catalog: the consolidated
        table commits first (errorifexists + parquet _SUCCESS), and
        ``_batch_paths`` ignores b≤K / d≤K whenever a committed c<K>
        exists — a crash between commit and sweep leaves duplicate rows
        on disk but never in a read; the next compact() (or this one
        retried) finishes the sweep. Idempotent per version."""
        if self.version == 0:
            return
        for table, prefix in (("keys", "b"), ("mentions", "b"), ("nodes", "d")):
            paths = self._batch_paths(table, prefix)
            if not paths:
                continue
            cpath = os.path.join(self.base, table, f"c{self.version}")
            if not os.path.exists(os.path.join(cpath, "_SUCCESS")):
                self._clean_orphan(cpath)
                # one read of the current committed view; the write
                # finishes (with _SUCCESS) before anything is deleted
                df = self.spark.read.parquet(*paths)
                if table == "nodes":
                    df = self._latest_per_key(df)
                df.write.mode("errorifexists").parquet(cpath)
            self._sweep_superseded(table, prefix)

    def _sweep_superseded(self, table: str, prefix: str) -> None:
        """Remove batch/delta dirs covered by the committed compaction
        checkpoint, and older checkpoints it supersedes."""
        k = self._compact_version(table)
        if not k:
            return
        root = os.path.join(self.base, table)
        for d in os.listdir(root):
            if not d[1:].isdigit():
                continue
            if (d.startswith(prefix) and int(d[1:]) <= k) or (
                    d.startswith("c") and int(d[1:]) < k):
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)

    # -- ingest ---------------------------------------------------------------
    def link_batch(self, pages: DataFrame) -> DataFrame:
        """Ingest one batch of pages; returns the updated node table.

        All heavy work is proportional to the DELTA (new unique nodes ×
        their block neighborhoods), not to the accumulated corpus — the
        only full-state scans are the norm_key anti-join, the block-
        key equi-join, and the block-size aggregation, all plain
        columnar joins/aggs an Iceberg deployment prunes by partition.
        Retroactive cap repair (see module docstring) additionally scans
        stored edges, but only on the rare batch where a block newly
        crosses ``max_block``.
        """
        plan = self._plan_cls(
            self.spark, scorer=self.scorer, threshold=self.threshold,
            use_minhash=self.use_minhash, gate=self.gate,
            max_block=self.max_block,
        )
        # extract() ends in the plan's stage store, which (no checkpoint
        # dir) cuts lineage with an eager localCheckpoint: the mention
        # map, the node delta, and the state writes all reuse that one
        # materialization
        wide = plan.extract(pages)
        delta_mentions = wide.select("url", "mention_id", "norm_key")
        # materialized by the plan's stage store
        delta_nodes = plan.unique_mentions(wide)

        old_nodes = self.nodes()
        if old_nodes is None:
            new_nodes = delta_nodes
        else:
            # the resolved view costs one window over the deltas;
            # materialize it once — every downstream join reuses it
            old_nodes = old_nodes.localCheckpoint(eager=True)
            new_nodes = (
                delta_nodes.join(old_nodes, "norm_key", "left_anti")
                .localCheckpoint(eager=True)
            )

        new_keys = (
            plan.block_keys(new_nodes, id_col="norm_key")
            # the key table standardizes its id column to "mention_id";
            # in this table the ids ARE norm_keys — name them so
            .withColumnRenamed("mention_id", "norm_key")
            .localCheckpoint(eager=True)
        )

        old_keys = self._read_batches("keys")
        # total-size block cap over stored + delta membership, so a
        # block the batch run would cap (max_block) is capped here too —
        # including RETROACTIVELY for blocks that cross the cap now
        new_sizes = new_keys.groupBy("block_key").agg(
            F.count(F.lit(1)).alias("n_new"))
        if old_keys is not None:
            old_sizes = old_keys.groupBy("block_key").agg(
                F.count(F.lit(1)).alias("n_old"))
            sizes = new_sizes.join(old_sizes, "block_key", "full").select(
                "block_key",
                F.coalesce("n_old", F.lit(0)).alias("n_old"),
                (F.coalesce("n_new", F.lit(0)) + F.coalesce("n_old", F.lit(0))).alias("n"),
            )
        else:
            sizes = new_sizes.select(
                "block_key", F.lit(0).alias("n_old"),
                F.col("n_new").alias("n"))
        sizes = sizes.localCheckpoint(eager=True)
        capped = sizes.filter(F.col("n") > self.max_block).select("block_key")
        newly_capped = (
            sizes.filter((F.col("n") > self.max_block)
                         & (F.col("n_old") <= self.max_block))
            .select("block_key")
        )
        oversized = F.broadcast(capped)
        nk = new_keys.join(oversized, "block_key", "left_anti")

        # retroactive repair: when a block crosses the cap this batch,
        # stored edges whose EVERY shared block is now capped would not
        # exist in the one-shot run — remove them and re-cluster the
        # components they lived in from the real surviving edges
        old_edges = self.edges()
        removed_nodes = None
        if (old_edges is not None and old_keys is not None
                and not newly_capped.isEmpty()):
            old_edges, removed_nodes = self._repair_capped(
                old_edges, old_keys, newly_capped, capped)
        if old_edges is not None:
            old_edges = old_edges.localCheckpoint(eager=True)

        # new × new: the standard salted self-join (its internal cap is
        # a no-op after the shared filter above)
        pairs = candidate_pairs(
            nk.withColumnRenamed("norm_key", "mention_id"), max_block=None)
        if old_keys is not None:
            ok = old_keys.join(oversized, "block_key", "left_anti")
            # new × old: one equi-join on block_key — the delta side is
            # small, so AQE broadcasts it; old × old was scored by the
            # batches that created those nodes
            no = (
                nk.alias("n").join(ok.alias("o"), "block_key")
                .select(
                    F.least(F.col("n.norm_key"), F.col("o.norm_key")).alias("id_a"),
                    F.greatest(F.col("n.norm_key"), F.col("o.norm_key")).alias("id_b"),
                )
                .filter(F.col("id_a") != F.col("id_b"))
                .distinct()
            )
            pairs = pairs.unionByName(no).distinct()

        all_nodes = (
            new_nodes if old_nodes is None
            else old_nodes.drop("entity_id").unionByName(new_nodes)
        )
        edges = plan.score(pairs, all_nodes, id_col="norm_key").select(
            "id_a", "id_b")

        # entities needing re-clustering: TOUCHED by a new edge, or
        # AFFECTED by retroactive edge removal (those components may
        # have split, so they rebuild from real edges, not star edges)
        if old_nodes is not None:
            edge_nodes = (
                edges.select(F.col("id_a").alias("norm_key"))
                .unionByName(edges.select(F.col("id_b").alias("norm_key")))
                .distinct()
            )
            touched = (
                old_nodes.join(edge_nodes, "norm_key", "left_semi")
                .select("entity_id").distinct()
            )
            if removed_nodes is not None:
                affected = (
                    old_nodes.join(removed_nodes, "norm_key", "left_semi")
                    .select("entity_id").distinct()
                )
            else:
                affected = None
            redo = (touched if affected is None
                    else touched.unionByName(affected).distinct())
            redo = redo.localCheckpoint(eager=True)
            redo_members = old_nodes.join(
                F.broadcast(redo), "entity_id", "left_semi")
            if affected is None:
                star_entities = redo
            else:
                # star edges encode the OLD component membership — valid
                # only for components no removal touched
                star_entities = redo.join(
                    F.broadcast(affected), "entity_id", "left_anti")
            star_members = old_nodes.join(
                F.broadcast(star_entities), "entity_id", "left_semi")
            star = star_members.select(
                F.col("norm_key").alias("id_a"), F.col("entity_id").alias("id_b"))
            cc_edges = edges.unionByName(star)
            if affected is not None:
                affected_members = old_nodes.join(
                    F.broadcast(affected), "entity_id", "left_semi")
                # an old edge is internal to its old component, so id_a
                # membership alone identifies edges of affected entities
                real = old_edges.join(
                    affected_members.select(F.col("norm_key").alias("id_a")),
                    "id_a", "left_semi")
                cc_edges = cc_edges.unionByName(real)
        else:
            redo_members = None
            cc_edges = edges

        cc = connected_components(cc_edges, "id_a", "id_b")

        # the node DELTA: rows this batch ADDED (new nodes) or RELABELED
        # (members of touched/affected entities — exactly the keys whose
        # entity_id may have changed). Untouched rows are NOT rewritten;
        # reads resolve latest-_v-wins per norm_key, so batch write I/O
        # is O(delta + touched), never O(accumulated corpus).
        new_labeled = label_entities(new_nodes, cc, "norm_key")
        if redo_members is not None:
            relabeled = label_entities(
                redo_members.drop("entity_id"), cc, "norm_key")
            nodes_delta = relabeled.unionByName(new_labeled)
        else:
            nodes_delta = new_labeled
        edges_next = (
            edges if old_edges is None
            else old_edges.unionByName(edges).distinct()
        )

        # commit order: per-batch keys/mentions dirs first (overwrite —
        # a retried batch replaces its own partial output, and they stay
        # invisible to reads until the version advances), then the
        # versioned edges write, then the nodes DELTA write as the
        # commit point. The delta write triggers the full DAG, which
        # still reads deltas ≤ the current version and only committed
        # key batches. Partial versioned dirs from a killed attempt are
        # swept before the errorifexists retry (see _clean_orphan).
        nxt = self.version + 1
        if os.path.exists(os.path.join(self._nodes_path(nxt), "_SUCCESS")):
            raise RuntimeError(
                f"nodes d{nxt} is already committed — stale linker version "
                "or a concurrent writer; refusing to overwrite state")
        new_keys.write.mode("overwrite").parquet(
            os.path.join(self.base, "keys", f"b{nxt}"))
        delta_mentions.write.mode("overwrite").parquet(
            os.path.join(self.base, "mentions", f"b{nxt}"))
        # nodes is the SOLE commit point, so an edges/v<nxt> on disk is
        # from an uncommitted attempt even when its own parquet job
        # finished and wrote _SUCCESS (crash landed between the edges
        # write and the nodes write) — sweep it unconditionally, else
        # every retry wedges on errorifexists
        shutil.rmtree(self._edges_path(nxt), ignore_errors=True)
        edges_next.write.mode("errorifexists").parquet(self._edges_path(nxt))
        self._clean_orphan(self._nodes_path(nxt))
        nodes_delta.withColumn("_v", F.lit(nxt).cast("long")).write.mode(
            "errorifexists").parquet(self._nodes_path(nxt))
        self.version = nxt
        if self.collect_metrics:
            self.last_metrics = {
                "batch": nxt,
                "delta_mentions": wide.count(),
                "new_nodes": new_nodes.count(),
                "new_match_edges": edges.count(),
                "capped_blocks": capped.count(),
                "removed_edge_nodes": (
                    0 if removed_nodes is None else removed_nodes.count()),
            }
            self.metrics_history.append(self.last_metrics)
        return self.nodes()

    def _repair_capped(
        self,
        old_edges: DataFrame,
        old_keys: DataFrame,
        newly_capped: DataFrame,
        capped: DataFrame,
    ) -> tuple[DataFrame, DataFrame]:
        """Remove stored edges the one-shot run would not generate now
        that ``newly_capped`` blocks crossed the cap.

        An edge is at risk only if BOTH endpoints are members of a
        newly-capped block (pairs never span blocks), and it survives if
        its endpoints still share at least one UNCAPPED block — exactly
        ``candidate_pairs``' generation rule. Cost is proportional to
        the membership of the crossing blocks' edges, never quadratic in
        block size: everything is driven from the (small) stored edge
        set, not a block self-join.

        → (surviving_edges, removed_endpoint_nodes)
        """
        newly_b = F.broadcast(newly_capped)
        members = (
            old_keys.join(newly_b, "block_key", "left_semi")
            .select("norm_key").distinct()
        )
        at_risk = (
            old_edges
            .join(members.select(F.col("norm_key").alias("id_a")),
                  "id_a", "left_semi")
            .join(members.select(F.col("norm_key").alias("id_b")),
                  "id_b", "left_semi")
            .localCheckpoint(eager=True)
        )
        if at_risk.isEmpty():
            return old_edges, None
        # blocks shared by each at-risk edge, minus capped ones: any
        # survivor block keeps the edge
        ka = old_keys.select(F.col("norm_key").alias("id_a"), "block_key")
        kb = old_keys.select(F.col("norm_key").alias("id_b"), "block_key")
        keeps = (
            at_risk.join(ka, "id_a")
            .join(kb, ["id_b", "block_key"], "left_semi")
            .join(F.broadcast(capped), "block_key", "left_anti")
            .select("id_a", "id_b").distinct()
        )
        removed = at_risk.join(keeps, ["id_a", "id_b"], "left_anti")
        removed = removed.localCheckpoint(eager=True)
        surviving = old_edges.join(removed, ["id_a", "id_b"], "left_anti")
        removed_nodes = (
            removed.select(F.col("id_a").alias("norm_key"))
            .unionByName(removed.select(F.col("id_b").alias("norm_key")))
            .distinct()
        )
        return surviving, removed_nodes

    # -- output ---------------------------------------------------------------
    def entities(self) -> DataFrame:
        """Per-mention entity table over everything ingested so far.

        Deduplicated on (url, mention_id, norm_key): an at-least-once
        driver (e.g. Structured Streaming's foreachBatch,
        streaming/stream_link.py) may replay a committed batch after a
        crash — the replay adds no nodes or edges (every norm_key fails
        the anti-join) but does re-write the same mention rows under the
        next batch number, and this dedup makes that replay invisible in
        the output. norm_key stays in the key so a re-crawled page whose
        TEXT changed keeps both mention rows, exactly like the batch
        pipeline run over both page rows."""
        nodes = self.nodes()
        mentions = self._read_batches("mentions")
        if nodes is None or mentions is None:
            raise ValueError("no batches ingested yet")
        return (
            mentions.dropDuplicates(["url", "mention_id", "norm_key"])
            .join(nodes, "norm_key")
        )
