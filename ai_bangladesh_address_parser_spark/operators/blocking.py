"""Stage 2 of the linkage pipeline: blocking.

Replaces the reference's O(n²) all-pairs loop
(examples/06-address-comparison.ts:56-105) with key-based blocking:

  * ``p:<postal>``            — exact postal code (highest precision);
  * ``d:<soundex(district)>`` — phonetic district key;
  * ``m:<band>:<sig>``        — MinHash-band keys over mention tokens
                                 (b bands × r rows, deterministic seeds).

Keys are exploded to (mention_id, block_key) rows; candidate pairs are
the within-block self-join with ``id_a < id_b`` dedup. Hot blocks (the
``Dhaka`` problem at corpus scale) are handled by **pair-preserving
salted self-join**: the left side takes one deterministic salt bucket,
the right side is replicated to all buckets, so no candidate pair is
lost while the shuffle key fans out (north_rule: explicit salting of
hot blocks; AQE skew-join remains on as a second line of defense).

Everything is JVM expressions — xxhash64/soundex/posexplode; no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MINHASH_SEEDS = 12  # k minhashes
MINHASH_BANDS = 4   # b bands of r = k/b rows each
HOT_BLOCK_CAP = 1000   # blocks larger than this get salted
SALT_BUCKETS = 8
# blocks whose total membership exceeds this never generate pairs
# (candidate_pairs drops them) — the one default cap of the batch plan
# and the incremental linker
MAX_BLOCK = 100_000


def minhash_tokens_expr(text_col: str):
    """Whitespace/comma tokens for minhash banding (lowercased).
    ``array_remove`` not a ``filter`` lambda — no interpreted HOF in a
    whole-corpus projection (split never yields nulls)."""
    return F.array_remove(F.split(F.lower(F.col(text_col)), r"[\s,]+"), "")


def minhash_shingles_expr(text_col: str, k: int = 3):
    """3-token shingles over the token stream (the banding unit).

    Distinct UNIGRAMS saturate on long texts over a common vocabulary —
    every long page ends up with the same token set, hence the same
    signature, hence one mega-block per band (measured: 4 blocks of
    ~2,650 nodes = 15 M junk pairs at the sf0.1 bench). Shingles keep
    word ORDER and locality, so long near-identical texts still
    collide while unrelated texts over the same vocabulary do not —
    the same reason ``operators.dedup`` shingles before minhashing.
    Short mentions (< k tokens) fall back to one whole-text shingle.
    """
    toks = minhash_tokens_expr(text_col)
    n = F.size(toks)
    # k-1 zip_with passes over shifted slices, not a transform with
    # per-index element_at lookups — see dedup.shingles_expr (measured
    # 7.5x on the document corpus; same construction here)
    m = F.greatest(n - (k - 1), F.lit(0))
    sh = F.slice(toks, 1, m)
    for j in range(1, k):
        sh = F.zip_with(sh, F.slice(toks, 1 + j, m),
                        lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(n >= k, sh).otherwise(F.array(F.concat_ws(" ", toks)))


def minhash_band_keys(
    mentions: DataFrame,
    id_col: str = "mention_id",
    text_col: str = "normalized",
    n_seeds: int = MINHASH_SEEDS,
    n_bands: int = MINHASH_BANDS,
) -> DataFrame:
    """→ (mention_id, block_key='m:<band>:<sig>') via the explode plan.

    One banding implementation: this reuses ``dedup.
    minhash_signatures_long`` (explode plan — codegen'd hashing,
    mentions × seeds collapse before the shuffle) and ``dedup.
    band_signatures`` with the blocking tokenizer plugged in as the
    shingle expression, so fixes to the LSH plan land once.

    Mentions whose text yields NO shingles (empty/NULL text) emit no
    band keys: the [""] fallback shingle would give every such mention
    an identical signature in every band — one quadratic junk mega-
    block of contentless rows (exact-duplicate empties already collapse
    at the norm_key level upstream).
    """
    from .dedup import band_rows, band_signatures, minhash_signatures_long

    r = band_rows(n_seeds, n_bands)
    shingles = F.array_remove(
        F.array_distinct(minhash_shingles_expr(text_col)), ""
    )
    sig = minhash_signatures_long(
        mentions, id_col=id_col, text_col=text_col, n_hashes=n_seeds,
        shingles=shingles,
    )
    return band_signatures(sig, id_col, r).select(
        F.col("_id").alias("mention_id"),
        F.concat(F.lit("m:"), F.col("band").cast("string"), F.lit(":"),
                 F.col("bsig").cast("string")).alias("block_key"),
    )


def expansion_repartition(df: DataFrame, *cols: str, n: int | None = None) -> DataFrame:
    """Explicit-numPartitions repartition ahead of a high-expansion
    self-join.

    AQE's partition coalescing sizes post-shuffle partitions from the
    MAP output — the small pre-join key table — not from the join's
    expanded output, so a 44k-row key table that expands to 38M pairs
    gets coalesced onto a handful of tasks and the expansion runs
    nearly serial (measured 6.7× slower than the static plan on the
    hot-block stress; BENCH_HISTORY.md "Hot-block skew stress"). A
    REPARTITION_BY_NUM shuffle (``repartition(n, cols)`` with an
    explicit count) is exempt from AQE coalescing, so the expansion
    keeps its parallelism under either planner mode — and since the
    join keys match the repartition keys, the self-join reuses the one
    exchange instead of adding another.
    """
    if n is None:
        n = shuffle_width(df.sparkSession)
    return df.repartition(n, *cols)


def shuffle_width(spark) -> int:
    """The configured shuffle width, falling back to core count when the
    conf is unset or non-numeric (e.g. "auto" on some platforms)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def blocking_keys(
    mentions: DataFrame,
    id_col: str = "mention_id",
    text_col: str = "normalized",
    postal_col: str = "postal_code",
    district_col: str = "district",
    house_col: str = "house_number",
    area_col: str = "area",
    use_minhash: bool = True,
    band_gate: Column | None = None,
) -> DataFrame:
    """→ (mention_id, block_key), one row per key the mention blocks on.

    District keys are COMPOSITE: ``d:<soundex(district)>:h:<house>`` and
    ``d:<soundex(district)>:a:<soundex(area)>``. A bare district key is
    quadratic at corpus scale — with 64 districts, ~n/64 of a Common-
    Crawl-sized corpus lands in the ``Dhaka`` block and the pair count
    grows O(n²/64) even under pair-preserving salting (measured: 13.9 M
    candidate pairs from 11 k mentions at sf0.1). Duplicate mentions of
    one entity share house and/or canonical area after extraction, so
    the composite keys preserve those pairs while block sizes drop to
    O(n / (64 · |house-or-area values|)). The bare ``d:<soundex>`` key
    survives ONLY for mentions with no postal, no house, and no area —
    the last-resort bucket, a vanishing fraction of real pages.

    Deliberate recall divergence from the reference's O(n²) loop: a
    RICH mention (postal/house/area present) and a SPARSE same-district
    mention (district only) share no key, so the pair is never scored —
    yet the reference's renormalized compare would score it 1.0 on the
    single shared component. That "match" is transitively toxic: one
    district-only mention pairs at 1.0 with EVERY rich mention of its
    district, and connected components would weld all Dhaka entities
    into one. Declining to generate those pairs is the scale-correct
    (and arguably semantics-correct) choice; sparse mentions still pair
    with each other through the bare key and with textually-similar
    pages through the band keys. Pinned by
    ``test_linkage.py::test_sparse_district_only_mentions_stay_apart``.

    Columns named by ``postal_col``/``district_col``/``house_col``/
    ``area_col`` that are absent from the frame degrade gracefully
    (that key family is skipped).
    """
    have = set(mentions.columns)
    nonempty = lambda c: F.col(c).isNotNull() & (F.col(c) != "")  # noqa: E731
    keys = F.array()
    postal_col = postal_col if postal_col and postal_col in have else None
    district_col = district_col if district_col and district_col in have else None
    if postal_col:
        keys = F.concat(
            keys,
            F.when(
                nonempty(postal_col),
                F.array(F.concat(F.lit("p:"), F.col(postal_col))),
            ).otherwise(F.array()),
        )
    if district_col:
        sdx = F.soundex(F.col(district_col))
        use_house = house_col and house_col in have
        use_area = area_col and area_col in have
        if use_house:
            keys = F.concat(
                keys,
                F.when(
                    nonempty(district_col) & nonempty(house_col),
                    F.array(F.concat(F.lit("d:"), sdx, F.lit(":h:"), F.col(house_col))),
                ).otherwise(F.array()),
            )
        if use_area:
            keys = F.concat(
                keys,
                F.when(
                    nonempty(district_col) & nonempty(area_col),
                    F.array(F.concat(F.lit("d:"), sdx, F.lit(":a:"),
                                     F.soundex(F.col(area_col)))),
                ).otherwise(F.array()),
            )
        bare_ok = nonempty(district_col)
        if postal_col:
            bare_ok = bare_ok & ~nonempty(postal_col)
        if use_house:
            bare_ok = bare_ok & ~nonempty(house_col)
        if use_area:
            bare_ok = bare_ok & ~nonempty(area_col)
        keys = F.concat(
            keys,
            F.when(bare_ok, F.array(F.concat(F.lit("d:"), sdx))).otherwise(F.array()),
        )
    out = (
        mentions.select(F.col(id_col).alias("mention_id"), F.explode(F.array_distinct(keys)).alias("block_key"))
        .distinct()
    )
    if use_minhash:
        # Band keys only for mentions with NO postal key: a postal-
        # carrying mention is already precisely blocked, and token-band
        # LSH over well-extracted mentions mass-pairs same-area
        # addresses (J≈0.5-0.6 → band collision ~40%), which measured
        # as the dominant pair volume (16M of 18M upper-bound pairs at
        # the sf0.1 bench). LSH stays the recall net for mentions the
        # extractor could NOT structure — its actual job.
        mh_in = mentions
        if postal_col:
            mh_in = mentions.filter(~nonempty(postal_col))
        if band_gate is not None:
            # address-likelihood gate (functions/signal.py): zero-signal
            # mentions carry no extractable structure, so banding them
            # only mass-pairs prose pages — they keep any component keys
            # above (vacuously none) and stay singletons downstream.
            mh_in = mh_in.filter(band_gate)
        out = out.unionByName(
            minhash_band_keys(mh_in, id_col=id_col, text_col=text_col)
        ).distinct()
    return out


def block_stats(keys: DataFrame) -> DataFrame:
    """Block-size metrics table — fed to the salting decision and to the
    run's metrics sink (north_rule: per-partition lineage + metrics)."""
    return keys.groupBy("block_key").agg(F.count(F.lit(1)).alias("block_size"))


def blocking_recall(
    pairs: DataFrame,
    node_truth: DataFrame,
    id_col: str = "mention_id",
    truth_col: str = "truth_entity_id",
) -> dict:
    """Blocking-stage recall: the fraction of ground-truth co-referent
    node pairs that survive into ``pairs``.

    The production diagnostic the end-to-end F1 can't give you at
    corpus scale: on a labeled sample it separates "blocking never
    proposed the pair" (a key-design problem) from "the scorer rejected
    it" (a threshold problem). Computed WITHOUT materializing truth
    pairs — the denominator is Σ n·(n−1)/2 over truth-entity node
    counts (one tiny aggregate), the numerator joins the
    already-bounded candidate set to the truth map twice — so it runs
    at any corpus size the blocking itself runs at.

    ``node_truth``: (id_col, truth_col) rows mapping each node (for the
    unique-level pipeline: norm_key) to its labeled entity. Nodes
    absent from ``node_truth`` (unlabeled / negatives) are ignored.
    """
    nt = (node_truth.select(F.col(id_col), F.col(truth_col))
          .distinct().localCheckpoint(eager=False))
    total = (
        nt.groupBy(truth_col).agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("t"))
        .first()["t"]
    ) or 0.0
    a = nt.select(F.col(id_col).alias("id_a"), F.col(truth_col).alias("t_a"))
    b = nt.select(F.col(id_col).alias("id_b"), F.col(truth_col).alias("t_b"))
    # canonicalize pair order defensively: candidate_pairs already emits
    # id_a < id_b, but a caller-supplied pair table with both (x,y) and
    # (y,x) must still count the truth pair once, never twice
    canon = pairs.select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
    )
    covered = (
        canon.distinct()
        .join(a, "id_a").join(b, "id_b")
        .filter(F.col("t_a") == F.col("t_b"))
        # re-distinct: a multi-labeled node (two truth ids on one id)
        # would otherwise count the same candidate pair twice
        .select("id_a", "id_b").distinct()
        .count()
    )
    return {
        "truth_pairs": int(total),
        "covered_pairs": int(covered),
        "recall": covered / total if total else 1.0,
    }


def candidate_pairs(
    keys: DataFrame,
    hot_cap: int = HOT_BLOCK_CAP,
    salt_buckets: int = SALT_BUCKETS,
    max_block: int | None = MAX_BLOCK,
) -> DataFrame:
    """Within-block self-join → distinct (id_a, id_b), id_a < id_b.

    Hot blocks (size > hot_cap) run through the salted join; blocks over
    ``max_block`` are dropped entirely (degenerate keys — e.g. a band
    signature shared by boilerplate — produce quadratic junk; the cap is
    recorded in block stats so nothing is silently lost).
    """
    # keys feeds the size aggregation, the anti-join, and both sides of
    # the self-joins — materialize once (callers passing an already
    # checkpointed frame make this a no-op-sized extra copy)
    keys = keys.localCheckpoint(eager=False)
    sizes = block_stats(keys)
    k = keys.join(F.broadcast(sizes.filter(F.col("block_size") > (max_block or 2**62))), "block_key", "left_anti")
    k = k.join(sizes, "block_key").withColumn("hot", F.col("block_size") > hot_cap)

    cold = expansion_repartition(
        k.filter(~F.col("hot")).select("block_key", "mention_id"), "block_key"
    )
    a, b = cold.alias("a"), cold.alias("b")
    cold_pairs = a.join(b, "block_key").filter(F.col("a.mention_id") < F.col("b.mention_id"))

    hot = k.filter(F.col("hot")).select("block_key", "mention_id")
    # left: one salt bucket per row; right: replicated to every bucket
    hl = expansion_repartition(
        hot.withColumn("salt", F.pmod(F.xxhash64("mention_id"), F.lit(salt_buckets))),
        "block_key", "salt",
    )
    hr = expansion_repartition(
        hot.withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)).cast("array<bigint>"))),
        "block_key", "salt",
    )
    hot_pairs = (
        hl.alias("a")
        .join(hr.alias("b"), ["block_key", "salt"])
        .filter(F.col("a.mention_id") < F.col("b.mention_id"))
    )

    return (
        cold_pairs.select(F.col("a.mention_id").alias("id_a"), F.col("b.mention_id").alias("id_b"))
        .unionByName(hot_pairs.select(F.col("a.mention_id").alias("id_a"), F.col("b.mention_id").alias("id_b")))
        .distinct()
    )
