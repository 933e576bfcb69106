"""Benchmark driver.

Default mode: runs the headline linkage pipeline + corpus operators at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...per-stage sec...}, "sf": ..., extras...}

``--scaling`` mode: evidences the north rule's two-cluster-size
criterion in-sandbox — the same scoring job (the metric named by
BASELINE.json: candidate-pairs scored/sec) runs at local[8] and
local[32] over identical parquet input in fresh JVMs; reports
throughput at both plus scaling efficiency = (thr_4N / thr_N) / 4.

``--score-bench CPUS PAIRS_DIR`` is the single-measurement child
process used by --scaling.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _sf_of(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.0


def _spark(cpus: int):
    from ai_bangladesh_address_parser_spark.session import get_spark

    return get_spark("abap-bench", master=f"local[{cpus}]", shuffle_partitions=2 * cpus)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _corpus(spark, sf_dir: str, n_pages: int, neg_replicas: int = 1):
    from pyspark.sql import functions as F

    from ai_bangladesh_address_parser_spark.sources.pages import synth_pages

    pages, truth = synth_pages(spark, n_pages=n_pages, n_entities=270)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if neg_replicas > 1:
        # DISTINCT prose per replica (two a-z letters — no digit,
        # keyword, or vocab surface), so the scaled negatives cannot
        # collapse at the norm_key dedup and genuinely multiply the
        # unique prose set. Strictly ASCII letters: a bare chr(97+rep)
        # walks into Unicode WHITESPACE at rep 36 (U+0085) / 63 (U+00A0),
        # which normalize's (?U)\s collapse then folds together, quietly
        # deflating the unique count at --scale > 36
        reps = spark.range(neg_replicas).select(
            F.col("id").cast("int").alias("rep"))
        docs = docs.crossJoin(F.broadcast(reps)).select(
            F.concat(F.col("doc_id").cast("string"), F.lit("/"),
                     F.col("rep").cast("string")).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" xq"),
                     F.chr(F.lit(97) + F.col("rep") % 26),
                     F.chr(F.lit(97) + (F.col("rep") / 26).cast("int") % 26)
                     ).alias("text"),
            "lang",
        )
        if neg_replicas > 26 * 26:
            raise ValueError("neg_replicas suffix space is 676")
    neg = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.to_timestamp(F.lit("2025-01-01 00:00:00")).alias("warc_ts"),
        F.encode("text", "UTF-8").alias("html"),
        F.col("text"),
        F.col("lang"),
    )
    return pages.unionByName(neg), truth


def run_bench(scale: int = 1) -> dict:
    """Headline bench. ``scale`` multiplies the corpus (address pages ×
    scale over the SAME entity set; negatives replicated with distinct
    digit-free suffixes) — ``--scale10`` is the next-decade check that
    the dedup-before-compute and gate invariants hold: unique mentions
    and candidate pairs should stay ~flat while page count grows 10×."""
    from pyspark.sql import functions as F

    from ai_bangladesh_address_parser_spark.operators.dedup import (
        minhash_band_pairs,
        ngram_jaccard_pairs,
        simhash_near_pairs,
    )
    from ai_bangladesh_address_parser_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        lsh_topk,
        train_centroids,
    )
    from ai_bangladesh_address_parser_spark.plans.pipeline import LinkagePlan, pairwise_f1

    spark = _spark(CPUS)
    sf = _sf_of(SF_DIR)
    n_pages = max(2000, int(60000 * sf)) * scale  # sf0.1 → 6,000 address pages
    corpus, truth = _corpus(spark, SF_DIR, n_pages, neg_replicas=scale)

    times: dict[str, float] = {}
    extras: dict = {}

    plan = LinkagePlan(spark, scorer="levenshtein")
    t = time.time()
    wide = plan.extract(corpus)
    n_mentions = wide.count()
    times["s1_extract"] = round(time.time() - t, 2)

    # unique-level stages 2-4: exact-dup pages collapse to norm_key
    # nodes BEFORE any pairwise work (see LinkagePlan.run)
    t = time.time()
    nodes = plan.unique_mentions(wide)
    n_unique = nodes.count()
    pairs = plan.block(nodes, id_col="norm_key").localCheckpoint(eager=True)
    n_pairs = pairs.count()
    times["s2_block"] = round(time.time() - t, 2)

    t = time.time()
    edges = plan.score(pairs, nodes, id_col="norm_key")
    n_edges = edges.count()
    times["s3_score"] = round(time.time() - t, 2)
    extras["candidate_pairs"] = n_pairs
    extras["n_unique_mentions"] = n_unique
    extras["s3_stage_pairs_per_sec"] = round(n_pairs / max(times["s3_score"], 1e-9), 1)

    # Scoring-KERNEL throughput — the BASELINE-named metric — at a
    # volume that amortizes job overhead. The pipeline's own s3 now
    # scores only ~21k pairs (composite keys prune 650x harder than
    # round 1), so n_pairs/s3_time measures fixed overhead, not the
    # scorer. Here: K synthetic partners per real extracted mention
    # (ring pairing over a dense index), components attached, same
    # score_pairs kernel, timed after a warm run.
    from ai_bangladesh_address_parser_spark.operators.scoring import (
        attach_pair_components,
        score_pairs,
    )
    from pyspark.sql import Window

    addr = nodes.filter(F.col("overall_confidence").isNotNull())
    # dense 0..n-1 index WITHOUT a global window (which serializes onto
    # one partition): bucket by hash, row_number within bucket, then
    # offset each bucket by the running count of earlier buckets. Scales
    # to any kernel input size; ordering is deterministic per input.
    n_buckets = 64
    bucketed = addr.select(
        "norm_key", (F.pmod(F.xxhash64("norm_key"), F.lit(n_buckets))).alias("b")
    )
    within = bucketed.withColumn(
        "r", F.row_number().over(Window.partitionBy("b").orderBy("norm_key")) - 1
    )
    sizes = {r["b"]: r["sz"] for r in
             within.groupBy("b").agg(F.count(F.lit(1)).alias("sz")).collect()}
    run, offs = 0, []
    for b in range(n_buckets):  # n_buckets rows of metadata, driver-side
        offs.append((b, run))
        run += sizes.get(b, 0)
    offsets = spark.createDataFrame(offs, "b bigint, off bigint")
    idx = within.join(F.broadcast(offsets), "b").select(
        "norm_key", (F.col("off") + F.col("r")).alias("i")
    ).localCheckpoint(eager=True)
    n_addr = idx.count()
    k_partners = max(1, 3_000_000 // max(n_addr, 1))
    ring = idx.select(
        "i", F.explode(F.sequence(F.lit(1), F.lit(k_partners))).alias("j")
    ).select("i", ((F.col("i") + F.col("j") * 7) % n_addr).alias("p"))
    kernel_pairs = (
        ring.join(idx.select(F.col("i"), F.col("norm_key").alias("id_a")), "i")
        .join(idx.select(F.col("i").alias("p"), F.col("norm_key").alias("id_b")), "p")
        .select("id_a", "id_b")
    )
    # explicit repartition: AQE coalesces the small joined pair table
    # to a handful of partitions, which would starve the timed scoring
    # stage (measured 5x below the scaling-mode kernel without this)
    ready = attach_pair_components(
        kernel_pairs, nodes, id_col="norm_key"
    ).repartition(4 * CPUS).localCheckpoint(eager=True)
    n_kernel = ready.count()
    scored_k = score_pairs(ready, scorer="levenshtein")
    scored_k.filter(F.col("is_match")).count()  # warm JIT
    t = time.time()
    scored_k.filter(F.col("is_match")).count()
    kernel_dt = time.time() - t
    times["s3_kernel_bench"] = round(kernel_dt, 2)
    extras["kernel_pairs"] = n_kernel
    extras["pairs_scored_per_sec"] = round(n_kernel / max(kernel_dt, 1e-9), 1)

    t = time.time()
    ents = plan.cluster(wide, edges, id_col="norm_key")
    n_ents = ents.select("entity_id").distinct().count()
    times["s4_cluster"] = round(time.time() - t, 2)

    f1 = pairwise_f1(ents.filter(~F.col("mention_id").startswith("doc://")), truth)
    extras["pairwise_f1"] = round(f1["f1"], 6)
    from ai_bangladesh_address_parser_spark.plans.pipeline import bcubed

    extras["bcubed_f1"] = round(
        bcubed(ents.filter(~F.col("mention_id").startswith("doc://")), truth)["f1"], 6
    )
    # blocking-stage recall (untimed diagnostic): did every truth pair
    # survive blocking, independent of what the scorer then decided?
    from ai_bangladesh_address_parser_spark.operators.blocking import blocking_recall

    node_truth = wide.join(truth, "url").select(
        F.col("norm_key").alias("mention_id"), "truth_entity_id"
    )
    extras["blocking_recall"] = round(
        blocking_recall(pairs, node_truth)["recall"], 6
    )
    extras["n_mentions"] = n_mentions
    extras["n_entities"] = n_ents

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    t = time.time()
    minhash_band_pairs(docs).count()
    times["dedup_minhash_lsh"] = round(time.time() - t, 2)

    t = time.time()
    simhash_near_pairs(docs).count()
    times["dedup_simhash"] = round(time.time() - t, 2)

    t = time.time()
    ngram_jaccard_pairs(docs, threshold=0.5).count()
    times["dedup_ngram_jaccard"] = round(time.time() - t, 2)

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 50 == 0)  # ~2% as queries
    t = time.time()
    brute_force_topk(emb, q, k=10).count()
    times["ann_brute_force"] = round(time.time() - t, 2)

    t = time.time()
    lsh_topk(emb, q, k=10).count()
    times["ann_lsh"] = round(time.time() - t, 2)

    # IVF timing includes quantizer training (bounded driver-side
    # sample) + assignment + nprobe search — the full index-and-query
    # cost a cold run pays
    t = time.time()
    cents = train_centroids(emb, n_centroids=16, n_iters=5, sample_n=1024)
    ivf_topk(emb, q, cents, k=10, nprobe=4).count()
    times["ann_ivf"] = round(time.time() - t, 2)

    # Warm-session s1, measured AFTER the suite on a fresh plan (the
    # default StageStore is lazy/no-resume, so nothing is reused): the
    # headline s1_extract above is the FIRST job of the JVM and carries
    # the one-time task-launch/codegen-JIT warm-up (~10 s at sf0.1).
    # Reported as an extra — NOT folded into the headline total — so
    # driver-to-driver round comparisons keep their cold-inclusive
    # basis while the steady-state per-stage cost is on record.
    t = time.time()
    LinkagePlan(spark, scorer="levenshtein").extract(corpus).count()
    extras["s1_extract_warm"] = round(time.time() - t, 2)

    total = round(sum(times.values()), 2)
    return {
        "metric": "linkage_e2e_plus_corpus_ops_seconds",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "scale": scale,
        **extras,
    }


# --- negatives-scaling mode --------------------------------------------------

def run_negatives() -> dict:
    """Evidence for the address-likelihood gate: fixed 6,000 address
    pages + 5k/25k/50k DISTINCT prose negatives (each replica salted
    with a digit-free suffix so exact-dup collapse cannot mask the
    cost). Sub-linear s1+s2 growth in negatives, F1 unchanged, skip
    counts recorded; one gate-off run at 10x for contrast.
    """
    from pyspark.sql import functions as F

    from ai_bangladesh_address_parser_spark.plans.pipeline import LinkagePlan, pairwise_f1
    from ai_bangladesh_address_parser_spark.sources.pages import synth_pages

    spark = _spark(CPUS)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    def corpus_with(mult: int):
        pages, truth = synth_pages(spark, n_pages=6000, n_entities=270)
        reps = docs.select(
            "doc_id", "text",
            F.explode(F.sequence(F.lit(0), F.lit(mult - 1))).alias("rep"),
        )
        neg = reps.select(
            F.concat(F.lit("doc://"), F.col("doc_id").cast("string"),
                     F.lit("#"), F.col("rep").cast("string")).alias("url"),
            F.to_timestamp(F.lit("2025-01-01 00:00:00")).alias("warc_ts"),
            F.encode("text", "UTF-8").alias("html"),
            F.concat(
                F.col("text"), F.lit(" "),
                F.translate(F.col("rep").cast("string"),
                            "0123456789", "abcdefghij"),
            ).alias("text"),
            F.lit("en").alias("lang"),
        )
        return pages.unionByName(neg), truth

    def one(mult: int, gate: bool) -> dict:
        corpus, truth = corpus_with(mult)
        plan = LinkagePlan(spark, scorer="levenshtein", gate=gate)
        t = time.time()
        wide = plan.extract(corpus)
        wide.count()
        s1 = round(time.time() - t, 2)
        t = time.time()
        nodes = plan.unique_mentions(wide)
        pairs = plan.block(nodes, id_col="norm_key").localCheckpoint(eager=True)
        n_pairs = pairs.count()
        s2 = round(time.time() - t, 2)
        edges = plan.score(pairs, nodes, id_col="norm_key")
        ents = plan.cluster(wide, edges, id_col="norm_key")
        f1 = pairwise_f1(
            ents.filter(~F.col("mention_id").startswith("doc://")), truth)
        m = plan.metrics().get("s1_gate") or {}
        return {"negatives": 5000 * mult, "gate": gate, "s1_sec": s1,
                "s2_sec": s2, "candidate_pairs": n_pairs,
                "f1": round(f1["f1"], 6), **m}

    runs = [one(m, True) for m in (1, 5, 10)] + [one(10, False)]
    g1, g10 = runs[0], runs[2]
    growth = round((g10["s1_sec"] + g10["s2_sec"]) /
                   max(g1["s1_sec"] + g1["s2_sec"], 1e-9), 3)
    return {
        "metric": "gate_negatives_scaling_s1s2_growth_at_10x",
        "value": growth,
        "unit": "ratio",
        "runs": runs,
        "note": "fixed 6k address pages; distinct prose negatives 5k->50k; "
                "growth = gated (s1+s2) at 10x / at 1x (linear would be ~6.4 "
                "given 11k base mentions); last run = gate off at 10x",
    }


# --- skew stress mode --------------------------------------------------------

def run_skew() -> dict:
    """Hot-block stress: one postal code carries 30% of entities (hence
    ~30% of postal-bearing mentions — one p:1212 block of ~5.4k nodes at
    mention level). Measures the salted self-join vs salting disabled on
    identical keys (pair sets must be equal — salting is
    pair-preserving), and the max_block cap's recall effect end-to-end.
    """
    from pyspark.sql import functions as F

    from ai_bangladesh_address_parser_spark.operators.blocking import (
        block_stats,
        candidate_pairs,
    )
    from ai_bangladesh_address_parser_spark.plans.pipeline import LinkagePlan, pairwise_f1

    spark = _spark(CPUS)
    from ai_bangladesh_address_parser_spark.sources.pages import synth_pages

    pages, truth = synth_pages(spark, n_pages=24000, n_entities=270,
                               hot_postal_frac=0.3)
    # MENTION level (not unique level): the hot block must be large
    # enough to trip the salting path (> hot_cap=1000)
    plan = LinkagePlan(spark, scorer="levenshtein")
    wide = plan.extract(pages)
    from ai_bangladesh_address_parser_spark.operators.blocking import blocking_keys

    keys = blocking_keys(wide).localCheckpoint(eager=True)
    hot = (block_stats(keys).orderBy(F.col("block_size").desc()).limit(3)
           .collect())
    out: dict = {"top_blocks": [{"key": r["block_key"], "size": r["block_size"]}
                                for r in hot]}

    def timed_pairs(**kw):
        t = time.time()
        n = candidate_pairs(keys, **kw).count()
        return n, round(time.time() - t, 2)

    # warm both paths once (file listing, JIT), then measure
    # (salted / unsalted) x (AQE on / off), best of 2 interleaved reps.
    # AQE-off matters: adaptive skew-join splitting can absorb the hot
    # block in local mode, hiding what explicit salting buys a plain
    # sort-merge join (or any engine/config without runtime skew
    # handling); reporting both isolates the two mechanisms.
    timed_pairs()
    timed_pairs(hot_cap=2**60)  # the unsalted join shape JITs separately
    for aqe in ("true", "false"):
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        mode = "aqe_on" if aqe == "true" else "aqe_off"
        best: dict = {}
        for _ in range(2):
            for name, kw in (("salted", {}), ("unsalted", {"hot_cap": 2**60})):
                n, dt = timed_pairs(**kw)
                cur = best.get(name)
                if cur is None or dt < cur["seconds"]:
                    best[name] = {"pairs": n, "seconds": dt}
        out[mode] = best
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    out["pair_preserving"] = (
        out["aqe_on"]["salted"]["pairs"] == out["aqe_on"]["unsalted"]["pairs"]
        and out["aqe_off"]["salted"]["pairs"] == out["aqe_off"]["unsalted"]["pairs"]
    )
    t_salted = out["aqe_on"]["salted"]["seconds"]

    def f1_with(max_block):
        pairs = candidate_pairs(keys, max_block=max_block)
        edges = plan.score(pairs, wide, id_col="mention_id")
        ents = plan.cluster(wide, edges, id_col="mention_id")
        m = pairwise_f1(ents, truth)
        return {k: round(m[k], 6) for k in ("f1", "precision", "recall")}

    out["f1_uncapped"] = f1_with(max_block=100_000)
    out["f1_hot_block_dropped"] = f1_with(max_block=2_000)
    return {
        "metric": "skew_salted_vs_unsalted_seconds",
        "value": t_salted,
        "unit": "sec",
        **out,
        "note": "24k pages, 30% of entities on one postal; salting is "
                "pair-preserving (counts equal under both AQE modes); "
                "aqe_off isolates what salting buys without runtime "
                "skew-join splitting; f1_hot_block_dropped shows composite "
                "d:<sdx>:h:/a: keys recover pairs the dropped p: block "
                "would have carried",
    }


# --- connected-components scale mode ----------------------------------------

def run_cc_scale() -> dict:
    """CC scale evidence: ~10.8M-edge skewed-degree graph — 156k chains
    of length 64 (diameter stress: needs O(log 64) rounds) plus one hub
    node with 1M neighbors (degree skew). Records rounds-to-convergence
    and per-round time.
    """
    from pyspark.sql import functions as F

    from ai_bangladesh_address_parser_spark.operators.cluster import (
        connected_components,
    )

    spark = _spark(CPUS)
    n = 10_000_000
    chains = (spark.range(n).filter(F.col("id") % 64 != 63)
              .select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst")))
    hub = spark.range(1_000_000).select(
        F.lit(0).cast("long").alias("src"),
        ((F.col("id") * 7919 + 13) % n).alias("dst"),
    )
    # Materialize the synthetic graph: the raw union-of-ranges plan
    # (range filters + a lit(0) hub src) trips a Catalyst Union
    # constraint-rewrite bug ("key not found: dst#...") when CC's
    # iterative plans are analyzed on top of it; a parquet round-trip
    # gives CC the same clean scan a real edge table would.
    tmp = tempfile.mkdtemp(prefix="abap_cc_")
    chains.unionByName(hub).write.mode("overwrite").parquet(tmp)
    edges = spark.read.parquet(tmp)
    n_edges = edges.count()
    stats: list = []
    t = time.time()
    cc = connected_components(edges, stats=stats)
    n_comp = cc.select("component").distinct().count()
    total = round(time.time() - t, 2)
    return {
        "metric": "cc_rounds_to_convergence_10m_edges",
        "value": len(stats),
        "unit": "rounds",
        "n_edges": n_edges,
        "n_components": n_comp,
        "total_seconds": total,
        "rounds": stats,
        "note": "156k length-64 chains + one 1M-degree hub; O(log n) "
                "expectation: ~log2(64)+C rounds",
    }


# --- scaling mode ----------------------------------------------------------

def prepare_scoring_input(
    spark, sf_dir: str, out_dir: str, n_pages: int = 16000,
    target_pairs: int = 75_000_000,
) -> int:
    """Materialize the scored-pair input (pair ids + both sides'
    components) once; the child runs only the scoring job over it.

    Blocking here runs at MENTION level (not unique level) — the
    scaling bench measures scorer throughput. The organic pair set is
    replicated (crossJoin with a broadcast range) up to
    ``target_pairs`` so the wide config's timed region is tens of
    seconds, not ~2 s: the round-2 equality-short-circuit sped the
    scorer ~20x and left fixed job overhead (stage launch, file
    listing) dominating a ~10M-pair kernel, which understates
    efficiency at 4N. Replication preserves per-pair characteristics
    (string lengths, equal-component fraction) exactly, and matches
    scale linearly — a deterministic cross-size invariant."""
    from pyspark.sql import functions as F

    from ai_bangladesh_address_parser_spark.operators.scoring import attach_pair_components
    from ai_bangladesh_address_parser_spark.plans.pipeline import LinkagePlan
    from ai_bangladesh_address_parser_spark.sources.pages import synth_pages

    pages, _ = synth_pages(spark, n_pages=n_pages, n_entities=270)
    plan = LinkagePlan(spark, use_minhash=False)
    wide = plan.extract(pages)
    pairs = plan.block(wide)
    ready = attach_pair_components(pairs, wide)
    base_dir = out_dir + "_base"
    ready.write.mode("overwrite").parquet(base_dir)
    base = spark.read.parquet(base_dir)
    n_base = base.count()
    k = max(1, round(target_pairs / max(n_base, 1)))
    if k > 1:
        rep = F.broadcast(spark.range(k).select(F.col("id").alias("_rep")))
        final = base.crossJoin(rep)
    else:
        final = base
    # 256 output files: at local[32] the timed scan gets >=8 task waves
    # (a 32-file input would hand local[32] exactly one task per core —
    # zero pipelining, straggler-bound, biased AGAINST the wide config)
    final.repartition(256).write.mode("overwrite").parquet(out_dir)
    return spark.read.parquet(out_dir).count()


def score_bench(cpus: int, pairs_dir: str) -> dict:
    from pyspark.sql import functions as F

    from ai_bangladesh_address_parser_spark.operators.scoring import score_pairs

    # Cluster-faithful sizing: a 4N-executor cluster has 4N× the heap,
    # so the child heap scales with its core count (a shared fixed heap
    # would starve the wide config into GC-bound sub-linearity). Input
    # splits at 8MB ≈ several per core at the bench size, so both
    # configurations are CPU-bound rather than split-bound.
    os.environ["ABAP_DRIVER_MEM"] = f"{max(4, cpus)}g"
    spark = _spark(cpus)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
    pairs = spark.read.parquet(pairs_dir)
    n = pairs.count()  # warm: JVM up, file listing done, pages in page cache
    # same-JVM calibrations FIRST (quiet heap, before the scoring job
    # fills it): three trivially parallel jobs measuring what THIS box
    # actually gives `cpus` threads, one per candidate bottleneck
    # resource. A real N -> 4N *machine* scale-up multiplies every
    # resource by 4 (cores, memory bandwidth, disks); a same-box
    # local[N] -> local[4N] comparison multiplies only threads, so the
    # ceiling of whichever resource the job leans on bounds achievable
    # same-box efficiency. The box has 32 full cores (no SMT) pinned at
    # 2.1 GHz, so sub-1.0 ceilings here are hypervisor steal and shared
    # memory bandwidth, not turbo droop.
    # (1) pure-CPU, register-resident: integer hash chain
    burn_n = 4_000_000_000 * cpus
    b = spark.range(0, burn_n, 1, cpus * 8).select(F.xxhash64("id").alias("h"))
    b.agg(F.bit_xor("h")).collect()  # warm
    t2 = time.time()
    b.agg(F.bit_xor("h")).collect()
    burn_dt = time.time() - t2
    # (2) pure-FP, register-resident: 32 chained multiply-adds per row
    # (memory-bandwidth-light by construction: one long per row of
    # traffic, 32 dependent FLOPs of work)
    fma_rows = 40_000_000 * cpus
    x = F.col("id").cast("double")
    for _ in range(32):
        x = x * 1.0000001 + 1.1
    fb = spark.range(0, fma_rows, 1, cpus * 8).select(x.alias("x"))
    fb.agg(F.sum("x")).collect()  # warm
    t3 = time.time()
    fb.agg(F.sum("x")).collect()
    fma_dt = time.time() - t3
    # (3) memory/decode-bound: scan+decompress the SAME columns the
    # scorer reads, minimal compute (sum of lengths) — the parquet-
    # decode bandwidth ceiling of this box
    from ai_bangladesh_address_parser_spark.reference_semantics import ALL_COMPONENTS
    scan_cols = [c + s for c in ALL_COMPONENTS for s in ("_a", "_b")]
    scan_expr = sum(F.coalesce(F.length(F.col(c)), F.lit(0)) for c in scan_cols)
    sb = pairs.select(scan_expr.alias("nbytes"))
    sb.agg(F.sum("nbytes")).collect()  # warm
    scan_dt = float("inf")
    for _ in range(3):
        t4 = time.time()
        sb.agg(F.sum("nbytes")).collect()
        scan_dt = min(scan_dt, time.time() - t4)
    # the measured job: candidate-pairs scored/sec (BASELINE metric)
    scored = score_pairs(pairs, scorer="levenshtein")
    scored.filter(F.col("is_match")).count()  # warm: JIT-compile codegen
    # best-of-3 in-JVM: a single measurement carries scheduler/host
    # noise; the min is the closest estimate of the machine's capability
    dt = float("inf")
    for _ in range(3):
        t = time.time()
        n_match = scored.filter(F.col("is_match")).count()
        dt = min(dt, time.time() - t)
    return {"cpus": cpus, "pairs": n, "matches": n_match,
            "seconds": round(dt, 2), "pairs_per_sec": round(n / dt, 1),
            "calib_hashes_per_sec": round(burn_n / burn_dt, 0),
            "calib_fma_rows_per_sec": round(fma_rows / fma_dt, 0),
            "calib_scan_rows_per_sec": round(n / scan_dt, 1)}


_CALIBS = {
    "cpu_hash": "calib_hashes_per_sec",
    "fp_fma": "calib_fma_rows_per_sec",
    "parquet_scan": "calib_scan_rows_per_sec",
}


def run_scaling(
    n_small: int = 8, n_big: int = 32, reps: int = 3,
    target_pairs: int = 75_000_000,
) -> dict:
    """North-rule two-cluster-size evidence: the scoring job at
    local[n_small] vs local[n_big] (fresh JVM each) over identical
    parquet input. ``reps`` interleaved repetitions per size; every raw
    rep is reported alongside the best. Three same-JVM calibration jobs
    give the box's own N→4N ceiling per resource (cores, FP units,
    parquet-decode bandwidth) — a real N→4N *machine* scale-up
    multiplies all of them by 4, a same-box thread scale-up doesn't.
    """
    factor = n_big / n_small
    spark = _spark(CPUS)
    cache_dir = os.environ.get("ABAP_SCALING_PAIRS_DIR")
    pairs_dir = cache_dir or os.path.join(
        tempfile.mkdtemp(prefix="abap_scaling_"), "pairs"
    )
    if cache_dir and os.path.exists(os.path.join(pairs_dir, "_SUCCESS")):
        n = spark.read.parquet(pairs_dir).count()  # reuse across pairings
    else:
        n = prepare_scoring_input(spark, SF_DIR, pairs_dir, target_pairs=target_pairs)
    spark.stop()

    results: dict[str, dict] = {}
    raw: list[dict] = []
    order = [c for _ in range(reps) for c in (n_small, n_big)]
    pin = shutil.which("taskset") is not None
    for cpus in order:  # interleaved reps absorb host noise
        # Pin each child to exactly its core budget: a real N-core
        # executor host runs Spark tasks, GC threads, and the OS on
        # those same N cores. Unpinned, the narrow config borrows the
        # box's idle cores for GC/IO and its baseline is inflated,
        # understating N->4N efficiency.
        cmd = [sys.executable, __file__, "--score-bench", str(cpus), pairs_dir]
        if pin and cpus < os.cpu_count():
            cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
        out = subprocess.run(
            cmd, capture_output=True, text=True, timeout=3600,
        )
        lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
        if out.returncode != 0 or not lines:
            # surface the child's actual failure instead of an IndexError
            sys.stderr.write(out.stderr[-4000:])
            raise RuntimeError(
                f"--score-bench child (cpus={cpus}) failed with "
                f"rc={out.returncode}; stderr above")
        r = json.loads(lines[-1])
        raw.append(r)
        key = f"local[{cpus}]"
        if key not in results or r["pairs_per_sec"] > results[key]["pairs_per_sec"]:
            results[key] = r

    def _ratio(rb: dict, rs: dict, field: str) -> float | None:
        if field not in rb or field not in rs or not rs[field]:
            return None
        return round(rb[field] / rs[field] / factor, 3)

    rs_best = results[f"local[{n_small}]"]
    rb_best = results[f"local[{n_big}]"]
    eff = _ratio(rb_best, rs_best, "pairs_per_sec")
    ceilings = {name: _ratio(rb_best, rs_best, field) for name, field in _CALIBS.items()}
    # per-rep efficiency distribution (pair rep i small with rep i big)
    per_rep = []
    smalls = [r for r in raw if r["cpus"] == n_small]
    bigs = [r for r in raw if r["cpus"] == n_big]
    for rs, rb in zip(smalls, bigs):
        e = _ratio(rb, rs, "pairs_per_sec")
        cs = {name: _ratio(rb, rs, field) for name, field in _CALIBS.items()}
        per_rep.append({"raw_eff": e, "ceilings": cs,
                        "normalized_cpu": round(e / cs["cpu_hash"], 3)
                        if cs.get("cpu_hash") else None})
    return {
        "metric": f"scoring_scaling_efficiency_{n_small}_to_{n_big}_cores",
        "value": eff,
        "unit": "ratio",
        "pairs": n,
        "runs": results,
        "raw_reps": raw,
        "per_rep_efficiency": per_rep,
        "hardware_ceilings": ceilings,
        "normalized_efficiency": {
            name: (round(eff / c, 3) if c else None) for name, c in ceilings.items()
        },
        "note": f"strong scaling, identical input, fresh JVM per size, best "
                f"of {reps} interleaved reps; ceilings = same-box trivially "
                "parallel jobs per resource (cpu hash / fp fma / parquet "
                "column scan); box is 32 full cores, no SMT, pinned 2.1 GHz",
    }


def run_incremental() -> dict:
    """Day-2 evidence: the marginal cost of linking a FIXED-SIZE page
    delta against accumulated entity state vs re-linking the whole
    corpus from scratch (what a batch-only pipeline pays every arriving
    WARC dump at 100 TB). Run at two corpus sizes with the SAME ~2,400
    page delta: the incremental cost should stay ~flat while the full
    relink grows with the corpus — that ratio-of-growth, not the
    absolute speedup at toy scale (where per-job fixed overhead
    dominates both paths), is the scale claim. Output entity tables
    must agree (the test suite pins the stronger per-mention-id
    equality; here the bench asserts entity counts + F1 before
    reporting)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ai_bangladesh_address_parser_spark.plans.incremental import (
        IncrementalLinker,
    )
    from ai_bangladesh_address_parser_spark.plans.pipeline import (
        LinkagePlan,
        pairwise_f1,
    )
    from ai_bangladesh_address_parser_spark.sources.pages import synth_pages

    spark = _spark(CPUS)

    # Warm the JVM (codegen compilation, classloading, Arrow init) with a
    # throwaway link of both paths, else the first timed size pays a
    # one-time ~10 s first-job penalty and the growth ratios are skewed.
    warm_pages, _ = synth_pages(spark, n_pages=1_500, n_entities=60)
    warm_pages = warm_pages.localCheckpoint(eager=True)
    LinkagePlan(spark).run(warm_pages).count()
    warm_tmp = tempfile.mkdtemp(prefix="abap_incbench_warm_")
    try:
        warm_linker = IncrementalLinker(spark, f"{warm_tmp}/state")
        warm_linker.link_batch(warm_pages)
    finally:
        shutil.rmtree(warm_tmp, ignore_errors=True)

    delta_target = 2_400
    rows = []
    # NOTE: the generator's separable entity classes cap at 252
    # (9·|SYNTH_AREAS|), so the 10x corpus is 10x the PAGES over the same
    # entity universe — the re-crawl-heavy shape a day-2 path exists for.
    # The spread is 10x (not 4x) so the page-linear scan term rises above
    # per-job fixed overhead, which dominates both paths at 24k pages.
    for n_pages, n_entities in ((24_000, 270), (240_000, 1_080)):
        pages, truth = synth_pages(spark, n_pages=n_pages,
                                   n_entities=n_entities)
        pages = pages.localCheckpoint(eager=True)
        delta_pred = (
            F.pmod(F.xxhash64("url"), F.lit(n_pages // delta_target)) == 0
        )
        base_pages = pages.filter(~delta_pred)
        delta_pages = pages.filter(delta_pred)
        n_base, n_delta = base_pages.count(), delta_pages.count()

        tmp = tempfile.mkdtemp(prefix="abap_incbench_")
        try:
            linker = IncrementalLinker(spark, f"{tmp}/state")
            t = time.time()
            linker.link_batch(base_pages)
            t_base = round(time.time() - t, 2)

            t = time.time()
            linker.link_batch(delta_pages)
            t_delta = round(time.time() - t, 2)
            inc_ents = linker.entities().localCheckpoint(eager=True)

            # write-I/O of the delta batch's node commit (nodes/d2)
            # vs what a full-snapshot layout would have written per
            # batch: the resolved node table, materialized once here
            # for an honest apples-to-apples byte count
            delta_bytes = _dir_bytes(f"{tmp}/state/nodes/d2")
            snap_dir = f"{tmp}/snapshot_equiv"
            linker.nodes().write.parquet(snap_dir)
            snapshot_bytes = _dir_bytes(snap_dir)

            t = time.time()
            full_ents = (
                LinkagePlan(spark).run(pages).localCheckpoint(eager=True)
            )
            t_full = round(time.time() - t, 2)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

        rows.append({
            "n_base_pages": n_base,
            "n_delta_pages": n_delta,
            "t_base_ingest": t_base,
            "t_delta_ingest": t_delta,
            "t_full_relink": t_full,
            "delta_speedup_vs_relink": round(t_full / max(t_delta, 1e-9), 2),
            "nodes_delta_write_bytes": delta_bytes,
            "nodes_snapshot_equiv_bytes": snapshot_bytes,
            "write_amplification_if_snapshot": round(
                snapshot_bytes / max(delta_bytes, 1), 1),
            "incremental_f1": round(pairwise_f1(inc_ents, truth)["f1"], 6),
            "full_f1": round(pairwise_f1(full_ents, truth)["f1"], 6),
            "n_entities_incremental": (
                inc_ents.select("entity_id").distinct().count()),
            "n_entities_full": (
                full_ents.select("entity_id").distinct().count()),
        })
        r = rows[-1]
        assert r["incremental_f1"] == r["full_f1"], r
        assert r["n_entities_incremental"] == r["n_entities_full"], r

    small, big = rows
    return {
        "metric": "incremental_delta_vs_full_relink_seconds",
        "value": big["t_delta_ingest"],
        "unit": "sec",
        "runs": rows,
        "full_relink_growth_10x_corpus": round(
            big["t_full_relink"] / max(small["t_full_relink"], 1e-9), 2),
        "delta_growth_10x_corpus": round(
            big["t_delta_ingest"] / max(small["t_delta_ingest"], 1e-9), 2),
        "note": "same ~2,400-page delta linked against stored state at "
                "24k and 240k-page corpora; incremental cost should stay "
                "~flat while full relink grows with the corpus. "
                "Per-mention-id equality of the two outputs is pinned "
                "in tests/test_incremental.py",
    }


def scorer_audit(spark, n_pages: int = 6000, n_entities: int = 270,
                 threshold: float = 0.85) -> dict:
    """Levenshtein↔difflib disagreement audit over labeled candidate
    pairs (VERDICT r3 item 7).

    The production hot path scores with JVM levenshtein (equality
    short-circuit); the reference's own similarity is difflib
    ``SequenceMatcher.ratio`` (address_utils.py) — kept as the
    oracle-parity backend. This quantifies what the swap costs at the
    reference 0.85 threshold: both backends score the SAME candidate
    pairs, labels come from the generator's truth (same entity ⇔
    should-match at the generator's separability), and the report is
    the match-decision disagreement rate plus each backend's P/R/F1
    against truth on that pair set.
    """
    from pyspark.sql import functions as F

    from ai_bangladesh_address_parser_spark.operators.scoring import (
        attach_pair_components,
        score_pairs,
    )
    from ai_bangladesh_address_parser_spark.plans.pipeline import LinkagePlan
    from ai_bangladesh_address_parser_spark.sources.pages import synth_pages

    pages, truth = synth_pages(spark, n_pages=n_pages, n_entities=n_entities)
    plan = LinkagePlan(spark)
    wide = plan.extract(pages)
    nodes = plan.unique_mentions(wide).localCheckpoint(eager=False)
    pairs = plan.block(nodes, id_col="norm_key").localCheckpoint(eager=True)
    attached = attach_pair_components(
        pairs, nodes, id_col="norm_key").localCheckpoint(eager=True)

    # node-level truth: the generator guarantees one entity per distinct
    # normalized text, so max() is a no-op collapse
    node_truth = (
        wide.join(truth, "url")
        .groupBy("norm_key").agg(F.max("truth_entity_id").alias("te"))
    )
    both = None
    for name in ("levenshtein", "difflib"):
        s = score_pairs(attached, scorer=name, threshold=threshold).select(
            "id_a", "id_b",
            F.col("score").alias(f"score_{name}"),
            F.col("is_match").alias(f"match_{name}"),
        )
        both = s if both is None else both.join(s, ["id_a", "id_b"])
    lab = (
        both.join(node_truth.withColumnRenamed("norm_key", "id_a")
                  .withColumnRenamed("te", "te_a"), "id_a")
        .join(node_truth.withColumnRenamed("norm_key", "id_b")
              .withColumnRenamed("te", "te_b"), "id_b")
        .withColumn("same", F.col("te_a") == F.col("te_b"))
    )

    def prf(match_col: str) -> dict:
        r = lab.agg(
            F.sum((F.col(match_col) & F.col("same")).cast("long")).alias("tp"),
            F.sum((F.col(match_col) & ~F.col("same")).cast("long")).alias("fp"),
            F.sum((~F.col(match_col) & F.col("same")).cast("long")).alias("fn"),
        ).first()
        tp, fp, fn = (r["tp"] or 0), (r["fp"] or 0), (r["fn"] or 0)
        p = tp / (tp + fp) if tp + fp else 0.0
        rc = tp / (tp + fn) if tp + fn else 0.0
        return {"precision": round(p, 6), "recall": round(rc, 6),
                "f1": round(2 * p * rc / (p + rc), 6) if p + rc else 0.0}

    agg = lab.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("match_levenshtein") != F.col("match_difflib")).cast("long")).alias("dis"),
        F.avg(F.abs(F.col("score_levenshtein") - F.col("score_difflib"))).alias("mad"),
    ).first()
    return {
        "n_pairs": agg["n"],
        "disagreements": agg["dis"],
        "disagreement_rate": round(agg["dis"] / max(agg["n"], 1), 6),
        "mean_abs_score_delta": round(agg["mad"], 6),
        "threshold": threshold,
        "levenshtein": prf("match_levenshtein"),
        "difflib": prf("match_difflib"),
    }


def run_scorer_audit() -> dict:
    out = scorer_audit(_spark(CPUS))
    return {"metric": "scorer_backend_disagreement_rate",
            "value": out["disagreement_rate"], "unit": "fraction", **out}


def run_pr_curve(n_pages: int = 6000, n_entities: int = 270) -> dict:
    """Threshold calibration on the labeled bench corpus: sweep the JVM
    levenshtein scorer across all thresholds with corpus-truth recall
    (blocking misses count as misses via truth_total), and report where
    F1 peaks vs the reference's hardcoded 0.85 — i.e. re-derive the
    reference threshold from data."""
    from pyspark.sql import functions as F

    from ai_bangladesh_address_parser_spark.operators.scoring import (
        attach_pair_components,
        pr_curve,
        score_pairs,
    )
    from ai_bangladesh_address_parser_spark.plans.pipeline import LinkagePlan
    from ai_bangladesh_address_parser_spark.sources.pages import synth_pages

    spark = _spark(CPUS)
    pages, truth = synth_pages(spark, n_pages=n_pages, n_entities=n_entities)
    plan = LinkagePlan(spark)
    wide = plan.extract(pages)
    nodes = plan.unique_mentions(wide).localCheckpoint(eager=False)
    pairs = plan.block(nodes, id_col="norm_key").localCheckpoint(eager=True)
    scored = score_pairs(
        attach_pair_components(pairs, nodes, id_col="norm_key"),
        scorer="levenshtein", threshold=0.85,
    )
    node_truth = (
        wide.join(truth, "url")
        .groupBy("norm_key").agg(F.max("truth_entity_id").alias("te"))
        .localCheckpoint(eager=False)
    )
    labeled = (
        scored
        .join(node_truth.select(F.col("norm_key").alias("id_a"),
                                F.col("te").alias("te_a")), "id_a")
        .join(node_truth.select(F.col("norm_key").alias("id_b"),
                                F.col("te").alias("te_b")), "id_b")
        .withColumn("is_true", F.col("te_a") == F.col("te_b"))
    )
    truth_total = int(
        node_truth.groupBy("te").agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(F.col("n") * (F.col("n") - 1) / 2)).first()[0] or 0
    )
    n_bins = 100
    rows = pr_curve(labeled, n_bins=n_bins, truth_total=truth_total).collect()
    if not rows:
        return {"metric": "pr_curve_best_f1", "value": 0.0, "unit": "f1",
                "truth_pairs": truth_total, "scored_pairs": 0,
                "best_threshold": None, "f1_at_0.85": 0.0,
                "plateau": None, "curve_tail": []}
    best = max(rows, key=lambda r: (r["f1"], r["threshold"]))
    # STEP-FUNCTION semantics: a curve row exists only for non-empty
    # score buckets, and its cumulative counts are "pairs scoring >= its
    # bucket floor". F1 at an arbitrary threshold t is therefore the row
    # of the LOWEST non-empty bucket >= t (empty buckets between t and
    # that row contribute no pairs) — picking the row below t would
    # wrongly blend in every pair of that lower bucket.
    above = [r for r in rows if r["threshold"] >= 0.85 - 1e-9]
    f1_at_ref = min(above, key=lambda r: r["threshold"])["f1"] if above else 0.0
    # plateau of best F1 in threshold space: the CONTIGUOUS run of tied
    # rows containing the best row (a non-adjacent equal-F1 row further
    # down must not stretch the reported band across worse thresholds),
    # extended down to just above the next non-empty bucket below the
    # run (same step semantics)
    desc = sorted(rows, key=lambda r: -r["threshold"])
    i = desc.index(best)
    lo_i, hi_i = i, i
    while hi_i + 1 < len(desc) and desc[hi_i + 1]["f1"] >= best["f1"] - 1e-12:
        hi_i += 1
    while lo_i - 1 >= 0 and desc[lo_i - 1]["f1"] >= best["f1"] - 1e-12:
        lo_i -= 1
    tied = [desc[j]["threshold"] for j in range(lo_i, hi_i + 1)]
    lower = (desc[hi_i + 1]["threshold"] + 1.0 / n_bins
             if hi_i + 1 < len(desc) else 0.0)
    return {
        "metric": "pr_curve_best_f1", "value": round(best["f1"], 6), "unit": "f1",
        "truth_pairs": truth_total,
        "scored_pairs": int(max(r["pred_pairs"] for r in rows)),
        "best_threshold": best["threshold"],
        "f1_at_0.85": round(f1_at_ref, 6),
        "plateau": [round(lower, 6), max(tied)],
        "curve_tail": [
            {"t": r["threshold"], "p": round(r["precision"], 4),
             "r": round(r["recall"], 4), "f1": round(r["f1"], 4)}
            for r in rows if r["threshold"] >= 0.5
        ],
    }


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--score-bench":
        print(json.dumps(score_bench(int(sys.argv[2]), sys.argv[3])))
    elif len(sys.argv) > 1 and sys.argv[1] == "--scaling":
        a = [int(x) for x in sys.argv[2:6]]
        print(json.dumps(run_scaling(*a)))
    elif len(sys.argv) > 1 and sys.argv[1] == "--negatives":
        print(json.dumps(run_negatives()))
    elif len(sys.argv) > 1 and sys.argv[1] == "--skew":
        print(json.dumps(run_skew()))
    elif len(sys.argv) > 1 and sys.argv[1] == "--cc-scale":
        print(json.dumps(run_cc_scale()))
    elif len(sys.argv) > 1 and sys.argv[1] == "--scorer-audit":
        print(json.dumps(run_scorer_audit()))
    elif len(sys.argv) > 1 and sys.argv[1] == "--pr-curve":
        print(json.dumps(run_pr_curve()))
    elif len(sys.argv) > 1 and sys.argv[1] == "--scale10":
        print(json.dumps(run_bench(scale=10)))
    elif sys.argv[1:2] == ["--scale"]:
        # generic decade runs, e.g. `--scale 100` (the BENCH.md third-
        # decade table); same corpus construction as --scale10. Loud
        # failure on a missing N — falling through to the 1× headline
        # would print a plausible-looking but unscaled result
        if len(sys.argv) < 3:
            sys.exit("usage: bench.py --scale N")
        print(json.dumps(run_bench(scale=int(sys.argv[2]))))
    elif len(sys.argv) > 1 and sys.argv[1] == "--incremental":
        print(json.dumps(run_incremental()))
    else:
        print(json.dumps(run_bench()))
