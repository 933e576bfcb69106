"""End-to-end linkage plan: pages → entities.

The four-stage pipeline named by the north rule, composed from the
operator modules:

  S1 EXTRACT  pages → normalized mentions → evidence → resolved components
  S2 BLOCK    (postal, soundex(district), minhash-band) keys, salted
  S3 SCORE    within-block candidate pairs → weighted similarity ≥ 0.85
  S4 CLUSTER  large-star/small-star connected components → entity_id

Checkpointing / resumability: every stage boundary can be materialized
through :class:`StageStore`. Locally that is a parquet directory per
stage; on a cluster the same hook writes an Iceberg table per stage, and
``resume=True`` restarts a killed job from the last complete snapshot
(the reference's LRU cache has no distributed analogue — recoverable
materialized stages are the scale-out replacement, SURVEY.md §1.3).

Lineage + metrics (north_rule): each materialized row carries
``(job_id, stage, partition_id)``; per-stage row counts are collected
with ``df.observe`` (no extra actions) and exposed via
:meth:`LinkagePlan.metrics`.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.normalize import norm_key_expr, normalize_expr
from ..functions.signal import address_signal_expr
from ..operators.blocking import (
    MAX_BLOCK,
    blocking_keys,
    candidate_pairs,
    expansion_repartition,
    shuffle_width,
)
from ..operators.cluster import assign_entity_ids
from ..operators.extract import DEFAULT_STAGES, PROFILES, extract_evidence
from ..operators.resolve import resolve_evidence, resolved_wide
from ..operators.scoring import attach_pair_components, score_pairs
from ..reference_semantics import ALL_COMPONENTS, MATCH_THRESHOLD

# Mention harvesting: pull the address-looking spans out of the page
# text. Anchored on the address-start keywords the reference's pattern
# tiers open with (house/holding/plot/flat + Bangla forms, SURVEY.md
# §2.2 T4/T9); each span runs to the next sentence terminator. FIXTURES
# F1 specifies 0..n embedded mentions per page — ALL spans are
# harvested (regexp_extract_all + posexplode), not just the first.
# Pages with no span fall back to the full text so nothing is dropped
# silently. One codegen'd projection — no Python.
_MENTION_PATTERN = (
    r"(?iU)((?:house|holding|plot|flat|h\s?-|বাড়ি|বাসা|ফ্ল্যাট)[^.।]*)"
)


def harvest_mentions_expr(text_col: str):
    """→ array of mention spans (≥1 element; full text when none)."""
    spans = F.regexp_extract_all(F.col(text_col), F.lit(_MENTION_PATTERN), 1)
    return F.when(F.size(spans) > 0, spans).otherwise(F.array(F.col(text_col)))


def harvest_mentions(pages: DataFrame, *carry: str) -> DataFrame:
    """pages → one row per harvested span: ``(url, mention_id,
    normalized, *carry)`` with ``mention_id = url + '#' + mention_idx``.
    The one pages → mentions step, shared by batch S1
    (:meth:`LinkagePlan.extract`) and streaming S1
    (``streaming.stream_extract.stream_mentions``); ``carry`` names
    page columns that ride along unchanged."""
    spans = pages.select(
        "url", *carry,
        F.posexplode(harvest_mentions_expr("text")).alias("mention_idx", "span"),
    )
    return spans.select(
        "url",
        F.concat(F.col("url"), F.lit("#"), F.col("mention_idx").cast("string")).alias("mention_id"),
        normalize_expr(F.col("span")).alias("normalized"),
        *carry,
    )


def iceberg_available(spark: SparkSession) -> bool:
    """True iff an Iceberg Spark runtime is on the JVM classpath."""
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


@dataclass
class StageStore:
    """Materialization + resume for stage boundaries.

    ``base`` None → no materialization (pure lazy plan). Otherwise each
    stage lives at ``<base>/<stage>`` and is reused when present and
    ``resume`` is set.

    ``catalog`` (wins over ``base``) names a configured Iceberg catalog:
    each stage is written with
    ``writeTo(f"{catalog}.{job_id}.{stage}").createOrReplace()`` and the
    committed snapshot id — the durable checkpoint token — is recorded
    in ``snapshots``. ``resume`` then means "reuse the existing table",
    i.e. restart from the last complete snapshot; a cluster deployment
    only has to point ``catalog`` at its production catalog. The test
    suite smoke-runs this branch whenever an Iceberg runtime is present
    (``iceberg_available``) and skips cleanly otherwise.
    """

    base: str | None = None
    resume: bool = True
    job_id: str = "job0"
    catalog: str | None = None
    saved: list[str] = field(default_factory=list)
    snapshots: dict[str, int] = field(default_factory=dict)

    _LINEAGE = ("_job_id", "_stage", "_partition_id")

    def _with_lineage(self, stage: str, df: DataFrame) -> DataFrame:
        return (
            df.withColumn("_job_id", F.lit(self.job_id))
            .withColumn("_stage", F.lit(stage))
            .withColumn("_partition_id", F.spark_partition_id())
        )

    def _through_iceberg(self, spark: SparkSession, stage: str, df: DataFrame) -> DataFrame:
        ident = f"{self.catalog}.{self.job_id}.{stage}"
        if self.resume and spark.catalog.tableExists(ident):
            return spark.table(ident).drop(*self._LINEAGE)
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {self.catalog}.{self.job_id}")
        self._with_lineage(stage, df).writeTo(ident).createOrReplace()
        self.saved.append(stage)
        snap = spark.sql(
            f"SELECT snapshot_id FROM {ident}.snapshots "
            f"ORDER BY committed_at DESC LIMIT 1"
        ).first()
        if snap is not None:
            self.snapshots[stage] = snap["snapshot_id"]
        return spark.table(ident).drop(*self._LINEAGE)

    def will_resume(self, spark: SparkSession, stage: str) -> bool:
        """True iff ``through()`` would short-circuit to the stored
        stage. Callers use this to skip EAGER side computations (e.g.
        the gate-stats aggregate) whose input plan would otherwise
        execute the full upstream scan just to be thrown away when the
        stage loads from its last complete snapshot."""
        if self.catalog is not None:
            return self.resume and spark.catalog.tableExists(
                f"{self.catalog}.{self.job_id}.{stage}")
        if self.base is None:
            return False
        return self.resume and os.path.exists(
            os.path.join(self.base, stage, "_SUCCESS"))

    def through(self, spark: SparkSession, stage: str, df: DataFrame) -> DataFrame:
        if self.catalog is not None:
            return self._through_iceberg(spark, stage, df)
        if self.base is None:
            # No checkpoint dir → still cut lineage with
            # localCheckpoint(): every stage output is consumed by
            # several downstream operators (the pair self-join alone
            # references the key table four times), and without a hard
            # boundary each reference re-expands the full upstream
            # plan — planning cost, work, and heap blow up
            # combinatorially. persist() is NOT enough: the
            # CacheManager retains the fully-analyzed (copy-expanded)
            # logical plan of every cached frame, which is itself
            # hundreds of MB for this pipeline. localCheckpoint
            # replaces the plan with a LogicalRDD — O(1) plan,
            # recomputation-free fan-out. (With a checkpoint dir the
            # parquet round-trip below gives the same cut durably.)
            return df.localCheckpoint(eager=True)
        path = os.path.join(self.base, stage)
        marker = os.path.join(path, "_SUCCESS")
        if self.resume and os.path.exists(marker):
            # drop lineage columns here too — a resumed run must expose
            # the same schema as a fresh one
            return spark.read.parquet(path).drop(*self._LINEAGE)
        self._with_lineage(stage, df).write.mode("overwrite").parquet(path)
        self.saved.append(stage)
        return spark.read.parquet(path).drop(*self._LINEAGE)


class LinkagePlan:
    """Builder for the full pages→entities job.

    All stage methods return DataFrames (lazy); ``run`` wires them with
    observations and optional checkpointing. S1 extracts each distinct
    normalized mention once; S2-S4 block, score and cluster those unique
    mentions (``norm_key`` nodes), and pages rejoin by ``norm_key``.
    Scorer defaults to the pure-JVM ``levenshtein`` backend (100 TB hot
    path); pass ``scorer="difflib"`` for reference-oracle parity runs.
    ``profile`` names the optional extraction stages (fast/balanced/
    accurate/minimal, reference tools/control_stages.py:45-69); None
    runs the default stage set. ``gate`` filters the S1 battery input
    and the S2 band keys with the one constant
    ``functions.signal.address_signal_expr`` predicate; ``gate=False``
    is the exact reference run.
    """

    def __init__(
        self,
        spark: SparkSession,
        scorer: str = "levenshtein",
        threshold: float = MATCH_THRESHOLD,
        store: StageStore | None = None,
        use_minhash: bool = True,
        profile: str | None = None,
        gate: bool = True,
        max_block: int | None = MAX_BLOCK,
    ):
        self.spark = spark
        self.scorer = scorer
        self.threshold = threshold
        self.store = store or StageStore(base=None)
        self.use_minhash = use_minhash
        # Address-likelihood gate (functions/signal.py): one constant
        # codegen predicate that skips the deep extraction battery and
        # minhash banding for mentions with zero cheap signal (no digit,
        # no keyword, no vocab/geo surface, no fuzzy-area prefix).
        # Output is identical up to the documented ED-1-district
        # residual (signal.py soundness contract; gate-equivalence
        # pytest); only the work for pure-prose pages disappears. Skip
        # counts ride metrics().
        self.gate = gate
        # blocks whose total membership exceeds this never generate
        # pairs (candidate_pairs drops them); surfaced as a plan knob so
        # the incremental linker's retroactive cap can be compared
        # against a one-shot run at the same setting
        self.max_block = max_block
        self.stages = DEFAULT_STAGES if profile is None else PROFILES[profile]
        self.observations: dict[str, Observation] = {}
        self.gate_stats: dict | None = None

    # -- S1 ---------------------------------------------------------------
    # target battery rows per task: the deep battery costs ~1.5 ms/row,
    # so ~256 rows ≈ 0.4 s per task — enough to amortize task launch
    # without serializing the stage
    _BATTERY_ROWS_PER_TASK = 256

    def _battery_repartition(self, live: DataFrame, id_col: str) -> DataFrame:
        """Guard the evidence battery against AQE under-parallelization.

        The battery costs milliseconds PER ROW (regex tiers, vocab
        joins, the T4-T6 Arrow UDF), but after the dedup shuffle + gate
        its input is small in BYTES — AQE's size-based coalescing packs
        it into 1-2 partitions and the battery runs nearly serial
        (measured −8.6 s on s1 at the 10× bench; the same blind spot the
        skew bench found for high-expansion joins). Explicit-
        numPartitions repartition is AQE-exempt; keyed by ``id_col`` so
        the resolve groupBy reuses the partitioning. Width adapts to the
        measured survivor count when the gate stats just computed it —
         756 sf0.1 survivors get 3 tasks, not 32 empty ones — and falls
        back to the configured shuffle width when no count is at hand
        (gate off / resume), which is the right default at scale."""
        n = None
        if self.gate_stats:
            survivors = (self.gate_stats["unique_mentions"]
                         - self.gate_stats["gate_skipped"])
            width = shuffle_width(self.spark)
            n = max(1, min(width, survivors // self._BATTERY_ROWS_PER_TASK + 1))
        return expansion_repartition(live, id_col, n=n)

    def extract(self, pages: DataFrame) -> DataFrame:
        """pages → one row per harvested mention with normalized text +
        resolved components (wide). A page may carry 0..n mentions
        (FIXTURES F1): ``mention_id = url + '#' + mention_idx``; the
        bare ``url`` rides along for truth joins.

        Dedup-before-compute: the reference's 10k-entry LRU cache with a
        claimed 99% hit rate (extractor.py:85-89) becomes
        ``dropDuplicates(norm_key)`` + rejoin — identical mentions are
        extracted once per corpus, not once per page. ``norm_key``
        (md5 of the lowercased normalized text) stays in the output:
        it is the unique-mention node id for stages 2-4.
        """
        keyed = harvest_mentions(pages).withColumn(
            "norm_key", F.md5(norm_key_expr("normalized")))
        # cut lineage before the evidence fan-out: the regex / vocab /
        # fuzzy branches each re-expand the normalize+dedup subtree
        # otherwise (measured 2× slower end-to-end)
        uniq = (keyed.select("norm_key", "normalized")
                .dropDuplicates(["norm_key"])
                .localCheckpoint(eager=False))
        sig = address_signal_expr("normalized")
        live = uniq.filter(sig) if self.gate else uniq
        # skip the EAGER stats aggregate when s1 will load from its
        # stored snapshot — otherwise a resumed run pays the full pages
        # scan + dedup shuffle just to discard the plan (gate_stats
        # stays None on resume; the stored stage is the source of truth
        # for its rows)
        if self.gate and not self.store.will_resume(self.spark, "s1_mentions"):
            # one scalar metrics aggregate over the (materialized-anyway)
            # unique-mention checkpoint; Observation can't ride here —
            # the CollectMetrics node executes during the untracked
            # checkpoint materialization and reports empty metrics
            stats = uniq.agg(
                F.count(F.lit(1)).alias("unique_mentions"),
                F.sum((~sig).cast("long")).alias("gate_skipped"),
            ).first()
            self.gate_stats = {
                "unique_mentions": stats["unique_mentions"],
                "gate_skipped": stats["gate_skipped"] or 0,
            }
        live = self._battery_repartition(live, "norm_key")
        ev = extract_evidence(live, id_col="norm_key", text_col="normalized",
                              stages=self.stages)
        wide_u = resolved_wide(resolve_evidence(ev))  # mention_id == norm_key
        wide = keyed.join(
            wide_u.withColumnRenamed("mention_id", "norm_key"), "norm_key", "left"
        )
        for c in ALL_COMPONENTS + ["overall_confidence"]:
            if c not in wide.columns:
                wide = wide.withColumn(c, F.lit(None).cast("double" if c == "overall_confidence" else "string"))
        wide = wide.na.fill({c: "" for c in ALL_COMPONENTS})
        # country rides OUTSIDE resolve and the overall-confidence mean,
        # exactly like the reference's district-processor City fields
        # (production_address_extractor.py:1292-1304) — see
        # functions/country.py
        from ..functions.country import with_country

        wide = with_country(wide, text_col="normalized")
        return self.store.through(self.spark, "s1_mentions", wide)

    def unique_mentions(self, mentions_wide: DataFrame) -> DataFrame:
        """One row per distinct normalized mention — the node table for
        unique-level blocking/scoring/clustering."""
        uniq = mentions_wide.drop("mention_id", "url").dropDuplicates(["norm_key"])
        return self.store.through(self.spark, "s2_unique_mentions", uniq)

    # -- S2 ---------------------------------------------------------------
    def block_keys(self, nodes: DataFrame, id_col: str = "mention_id") -> DataFrame:
        """(mention_id, block_key) rows for ``nodes`` — the one blocking-
        key rule, shared by :meth:`block` and the incremental linker's
        ``link_batch``. ``mention_id`` carries the ``id_col`` values."""
        return blocking_keys(
            nodes,
            id_col=id_col,
            text_col="normalized",
            postal_col="postal_code",
            district_col="district",
            use_minhash=self.use_minhash,
            band_gate=address_signal_expr("normalized") if self.gate else None,
        )

    def block(self, nodes: DataFrame, id_col: str = "mention_id") -> DataFrame:
        keys = self.store.through(
            self.spark, "s2_block_keys", self.block_keys(nodes, id_col))
        return candidate_pairs(keys, max_block=self.max_block)

    # -- S3 ---------------------------------------------------------------
    def score(self, pairs: DataFrame, nodes: DataFrame,
              id_col: str = "mention_id") -> DataFrame:
        """Candidate pairs → match edges ``(id_a, id_b, score)``: the one
        match rule, shared by :meth:`run` and the incremental linker's
        ``link_batch``.

        The score is computed in a projection and the lineage is cut
        BEFORE the ``is_match`` filter. A filter placed directly over the
        component joins is pushed into the join condition by Catalyst,
        embedding the full 9-component score expression there; a join
        condition, unlike a projection, cannot be split across generated
        methods, so Janino's 64 KB method limit can trip and the whole
        scoring plan falls back to interpreted evaluation
        (BENCH_HISTORY.md, "Incremental scoring: codegen fallback found
        and fixed"). The cut is eager, so it is skipped when the stage
        resumes from its stored snapshot."""
        scored = score_pairs(
            attach_pair_components(pairs, nodes, id_col=id_col),
            scorer=self.scorer,
            threshold=self.threshold,
        ).select("id_a", "id_b", "score", "is_match")
        if not self.store.will_resume(self.spark, "s3_match_edges"):
            scored = scored.localCheckpoint(eager=True)
        edges = scored.filter(F.col("is_match")).drop("is_match")
        return self.store.through(self.spark, "s3_match_edges", edges)

    # -- S4 ---------------------------------------------------------------
    def cluster(self, mentions_wide: DataFrame, edges: DataFrame,
                id_col: str = "mention_id") -> DataFrame:
        entities = assign_entity_ids(mentions_wide, edges, id_col=id_col)
        return self.store.through(self.spark, "s4_entities", entities)

    # ---------------------------------------------------------------------
    def run(self, pages: DataFrame) -> DataFrame:
        """Full pipeline. Returns the entities DataFrame:
        (norm_key, url, mention_id, normalized, 9 components,
        overall_confidence, entity_id)."""
        obs = Observation("s1_rows")
        self.observations["s1_mentions"] = obs
        wide = self.extract(pages).observe(obs, F.count(F.lit(1)).alias("rows"))
        nodes = self.unique_mentions(wide)
        pairs = self.block(nodes, id_col="norm_key")
        edges = self.score(pairs, nodes, id_col="norm_key")
        return self.cluster(wide, edges, id_col="norm_key")

    def metrics(self) -> dict:
        out = {}
        for stage, ob in self.observations.items():
            try:
                out[stage] = dict(ob.get)
            except Exception:
                out[stage] = {}
        if self.gate_stats is not None:
            out["s1_gate"] = self.gate_stats
        return out


def _contingency(entities: DataFrame, truth: DataFrame) -> DataFrame:
    """(entity_id, truth_entity_id, n) cell counts — the shared input of
    both cluster metrics. Accepts entities keyed by ``url`` or
    ``mention_id``; joins to ``truth`` on url."""
    ent = (entities.select("url", "entity_id") if "url" in entities.columns
           else entities.select(F.col("mention_id").alias("url"), "entity_id"))
    return (ent.join(truth, "url")
            .groupBy("entity_id", "truth_entity_id")
            .agg(F.count(F.lit(1)).alias("n")))


def pairwise_f1(entities: DataFrame, truth: DataFrame) -> dict:
    """Pairwise precision/recall/F1 of predicted ``entity_id`` clusters
    vs ``truth_entity_id`` clusters, computed distributively.

    Pair counts use the sum-over-cluster formula (n·(n−1)/2 per group;
    TP via the contingency table) — no pair materialization, three tiny
    aggregations, valid at any corpus size.
    """
    cont = _contingency(entities, truth)
    pairs = lambda c: F.sum(F.col(c) * (F.col(c) - 1) / 2)  # noqa: E731
    tp = cont.agg(pairs("n").alias("x")).first()["x"] or 0.0
    pred = cont.groupBy("entity_id").agg(F.sum("n").alias("n")).agg(pairs("n").alias("x")).first()["x"] or 0.0
    true = cont.groupBy("truth_entity_id").agg(F.sum("n").alias("n")).agg(pairs("n").alias("x")).first()["x"] or 0.0
    p = tp / pred if pred else 1.0
    r = tp / true if true else 1.0
    f1 = 2 * p * r / (p + r) if (p + r) else 0.0
    return {"precision": p, "recall": r, "f1": f1, "tp_pairs": tp, "pred_pairs": pred, "true_pairs": true}


def bcubed(entities: DataFrame, truth: DataFrame) -> dict:
    """B³ (B-cubed) precision/recall/F1 of predicted ``entity_id``
    clusters vs ``truth_entity_id`` clusters — the other standard ER
    metric alongside :func:`pairwise_f1`. Pairwise F1 over-weights large
    clusters (pairs grow quadratically in cluster size); B³ averages
    per MENTION, so singletons and small entities — the long tail of a
    web corpus — carry proportional weight.

    Per mention m: P(m) = |C(m)∩T(m)|/|C(m)|, R(m) = |C(m)∩T(m)|/|T(m)|;
    B³ P/R are the means over mentions. Computed distributively from the
    contingency table alone: each (c,t) cell of size n contributes
    n·(n/|c|) to ΣP and n·(n/|t|) to ΣR, so

        P = Σ_ct n_ct²/n_c / N,   R = Σ_ct n_ct²/n_t / N

    — three small aggregations, no per-mention state, any corpus size.
    """
    cont = _contingency(entities, truth).localCheckpoint(eager=False)
    n_c = cont.groupBy("entity_id").agg(F.sum("n").alias("n_c"))
    n_t = cont.groupBy("truth_entity_id").agg(F.sum("n").alias("n_t"))
    sums = (
        cont.join(n_c, "entity_id").join(n_t, "truth_entity_id")
        .agg(
            F.sum("n").alias("N"),
            F.sum(F.col("n") * F.col("n") / F.col("n_c")).alias("sp"),
            F.sum(F.col("n") * F.col("n") / F.col("n_t")).alias("sr"),
        ).first()
    )
    n_total = sums["N"] or 0
    p = (sums["sp"] / n_total) if n_total else 1.0
    r = (sums["sr"] / n_total) if n_total else 1.0
    f1 = 2 * p * r / (p + r) if (p + r) else 0.0
    return {"precision": p, "recall": r, "f1": f1, "n_mentions": int(n_total)}
