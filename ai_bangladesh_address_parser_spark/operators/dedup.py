"""Corpus deduplication family — exact, MinHash+LSH, SimHash, n-gram
Jaccard.

These are the web-corpus operators a 100 TB training-data pipeline runs
before/alongside entity linkage (the reference dedups implicitly via
its LRU cache key, extractor.py:129-137; at corpus scale dedup is a
first-class job). All variants are pure DataFrame ops:

  * hashing is **md5-derived 56-bit integers** (`conv(substr(md5(x),
    1,14),16,10)`) — portable bit-for-bit to DuckDB/Trino/anything with
    md5, so every operator here is verifiable against an external SQL
    oracle, and deterministic across runs/partitions (north_rule
    determinism discipline);
  * candidate generation is explode → equi-join on content keys — the
    shuffle key is the content hash, so skew only occurs for genuinely
    repeated content (handled by AQE skew-join; degenerate shingles can
    be capped like hot blocks in ``operators.blocking``);
  * nothing collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

SIMHASH_BITS = 56  # md5-derived hashes are 56-bit (14 hex chars)


def md5_hash64(c: Column | str) -> Column:
    """Portable 56-bit integer hash: first 14 hex chars of md5."""
    c = F.col(c) if isinstance(c, str) else c
    return F.conv(F.substring(F.md5(c), 1, 14), 16, 10).cast("bigint")


def tokens_expr(c: Column | str) -> Column:
    """Lowercase word tokens (non-empty). ``array_remove`` instead of a
    ``filter`` lambda — same result (split never yields nulls), no
    interpreted higher-order function in a whole-corpus projection."""
    c = F.col(c) if isinstance(c, str) else c
    return F.array_remove(F.split(F.lower(c), r"[^a-z0-9ঀ-৿]+"), "")


def shingles_expr(c: Column | str, k: int = 3) -> Column:
    """Distinct k-token shingles (space-joined).

    Built by zipping k shifted slices of the token array (k−1
    ``zip_with`` passes with a 2-string concat lambda) instead of a
    ``transform`` whose per-index lambda allocates a ``slice`` and
    ``array_join``s it: the per-element interpreted work drops from
    O(k) array allocations to one concat, which measured **14.2 s →
    1.9 s** for the shingle explode over the sf0.1 documents corpus —
    this expression was the dominant cost of BOTH the n-gram-Jaccard
    and the MinHash dedup paths (identical output, verified
    element-for-element over the corpus)."""
    toks = tokens_expr(c)
    n = F.size(toks)
    m = F.greatest(n - (k - 1), F.lit(0))
    sh = F.slice(toks, 1, m)
    for j in range(1, k):
        sh = F.zip_with(sh, F.slice(toks, 1 + j, m),
                        lambda a, b: F.concat(a, F.lit(" "), b))
    return F.array_distinct(F.when(n >= k, sh).otherwise(F.array(F.array_join(toks, " "))))


def ngrams_expr(c: Column | str, k: int = 2) -> Column:
    """Non-distinct k-token grams (space-joined), one per position —
    the *counting* twin of ``shingles_expr`` (same zip_with
    construction) with no ``array_distinct`` and no short-doc
    fallback: a document with fewer than ``k`` tokens yields an empty
    array. Used by repetition analysis, which needs occurrence counts,
    not set membership."""
    toks = tokens_expr(c)
    n = F.size(toks)
    m = F.greatest(n - (k - 1), F.lit(0))
    g = F.slice(toks, 1, m)
    for j in range(1, k):
        g = F.zip_with(g, F.slice(toks, 1 + j, m),
                       lambda a, b: F.concat(a, F.lit(" "), b))
    return g


# --- exact -----------------------------------------------------------------

def exact_duplicates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Hash-groupBy exact dedup → one row per content group:
    (content_hash, n_docs, keep_id = min id). Map-side partial
    aggregation makes this one cheap shuffle of (hash, id)."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col).alias("_id"))
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("_id").alias("keep_id"))
    )


def drop_exact_duplicates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep the min-id representative of each exact-content group."""
    w = F.row_number().over(
        Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    )
    return docs.withColumn("_rn", w).filter(F.col("_rn") == 1).drop("_rn")


# --- minhash + LSH ---------------------------------------------------------

def minhash_signatures_long(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
    shingle_k: int = 3,
    hash_fn: str = "xxhash64",
    shingles: Column | None = None,
) -> DataFrame:
    """(id, seed, minhash) via the explode plan: shingles → seeds →
    codegen'd hash → map-side-combined min.

    Why explode instead of a higher-order ``transform`` over the
    shingle array: Spark evaluates lambda functions *interpreted* (no
    whole-stage codegen inside HOFs) — measured ~50-100× slower per
    hash than the codegen'd long-format plan. The exploded row volume
    (docs × shingles × seeds) collapses to docs × seeds at the partial
    aggregation before any shuffle, so this is also the shape that
    survives 10^12 documents.

    ``hash_fn='xxhash64'`` is the fast path; ``'md5'`` is the portable
    56-bit variant (bit-identical in DuckDB) used by oracle checks.
    ``shingles`` overrides the default shingle expression — the blocking
    band keys reuse this plan with their own tokenizer.
    """
    sh = docs.select(
        F.col(id_col).alias("_id"),
        F.explode(
            shingles if shingles is not None else shingles_expr(text_col, shingle_k)
        ).alias("sh"),
    )
    seeded = sh.select(
        "_id", F.explode(F.array(*[F.lit(i) for i in range(n_hashes)])).alias("seed"), "sh"
    )
    if hash_fn == "md5":
        hv = md5_hash64(F.concat(F.col("seed").cast("string"), F.lit("|"), F.col("sh")))
    else:
        hv = F.xxhash64(F.concat(F.col("seed").cast("string"), F.lit("|"), F.col("sh")))
    return (
        seeded.withColumn("hv", hv)
        .groupBy("_id", "seed")
        .agg(F.min("hv").alias("minhash"))
        .select(F.col("_id").alias(id_col), "seed", "minhash")
    )


def band_rows(n_hashes: int, bands: int) -> int:
    """Validated rows-per-band r = n_hashes / bands. Non-divisible
    values silently change the band COUNT (floor(seed/r) overflows past
    bands-1), so the advertised P ≈ 1−(1−J^r)^b would be wrong for the
    caller's parameters; bands > n_hashes makes r = 0 → division by
    zero. Fail loudly instead."""
    if bands < 1 or n_hashes % bands != 0:
        raise ValueError(
            f"bands={bands} must divide n_hashes={n_hashes} "
            f"(got r={n_hashes}/{bands}); the banding probability "
            f"model assumes exactly b bands of r rows"
        )
    return n_hashes // bands


def band_signatures(sig: DataFrame, id_col: str, r: int) -> DataFrame:
    """(_id, band, bsig) from long-format (id, seed, minhash) rows —
    the shared banding aggregation of the dedup LSH and the blocking
    band keys (one implementation, two key formats)."""
    return (
        sig.withColumn("band", F.floor(F.col("seed") / r))
        .groupBy(F.col(id_col).alias("_id"), "band")
        .agg(F.xxhash64(F.concat_ws(",", F.sort_array(F.collect_list(F.struct("seed", "minhash"))).cast("string"))).alias("bsig"))
    )


def minhash_band_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
    hash_fn: str = "xxhash64",
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """LSH candidate pairs: docs sharing ≥1 minhash band → (id_a, id_b),
    id_a < id_b, distinct. b bands × r = n/b rows; P(candidate) ≈
    1 − (1 − J^r)^b. Buckets larger than ``max_bucket`` (degenerate
    content, e.g. boilerplate) are dropped before the quadratic
    self-join — same policy as the blocking hot-cap."""
    r = band_rows(n_hashes, bands)
    sig = minhash_signatures_long(docs, id_col, text_col, n_hashes, shingle_k, hash_fn)
    band_sig = (
        band_signatures(sig, id_col, r)
        .select("_id", F.concat_ws(":", F.col("band").cast("string"), F.col("bsig").cast("string")).alias("band_key"))
        # referenced 2-4× below (freq filter + both self-join sides):
        # materialize once instead of recomputing the signature plan
        .localCheckpoint(eager=False)
    )
    if max_bucket:
        big = band_sig.groupBy("band_key").agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") > max_bucket)
        band_sig = band_sig.join(F.broadcast(big), "band_key", "left_anti")
    from .blocking import expansion_repartition

    # explicit-count repartition: AQE would coalesce this exchange from
    # the tiny band-key map output, serializing the pair expansion (see
    # blocking.expansion_repartition)
    band_sig = expansion_repartition(band_sig, "band_key")
    a, b = band_sig.alias("a"), band_sig.alias("b")
    return (
        a.join(b, "band_key")
        .filter(F.col("a._id") < F.col("b._id"))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )


# --- simhash ---------------------------------------------------------------

def simhash(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """56-bit SimHash per doc → (id, simhash).

    Long-format plan: explode distinct tokens → token hash → explode bit
    positions → signed vote per (doc, bit) → assemble bits. Two
    map-side-combinable aggregations; scales linearly in corpus token
    count.

    Docs whose text tokenizes to nothing (empty, whitespace/punctuation-
    only, NULL) get signature 0 instead of vanishing from the output —
    the explode would otherwise drop them, so ``simhash_near_pairs``
    would never report two trivially-identical empty docs and callers
    joining signatures back would silently lose rows (the minhash path
    keeps such docs via its [""] fallback shingle; this keeps the family
    consistent)."""
    ids = docs.select(F.col(id_col).alias("_id")).distinct()
    toks = docs.select(
        F.col(id_col).alias("_id"),
        F.explode(F.array_distinct(tokens_expr(text_col))).alias("tok"),
    ).withColumn("h", md5_hash64("tok"))
    votes = (
        toks.select(
            "_id",
            F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("bit"),
            "h",
        )
        .withColumn(
            # SQL-parsed: the PySpark shiftright wrapper only takes a
            # literal int offset, the SQL function takes any expression
            "vote",
            F.when(F.expr("shiftright(h, bit) % 2") == 1, F.lit(1)).otherwise(F.lit(-1)),
        )
        .groupBy("_id", "bit")
        .agg(F.sum("vote").alias("s"))
    )
    sigs = votes.groupBy("_id").agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr("shiftleft(cast(1 as bigint), bit)")).otherwise(F.lit(0))
        ).alias("simhash")
    )
    return (
        ids.join(sigs, "_id", "left")
        .select(F.col("_id").alias(id_col), F.coalesce("simhash", F.lit(0)).alias("simhash"))
    )


def simhash_near_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n_blocks: int | None = None,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming via the
    pigeonhole block trick: split the 56 bits into ``n_blocks`` bands;
    any pair within distance ≤ n_blocks−1 shares at least one exact
    band → band equi-join, then exact Hamming filter via bit_count.

    The pigeonhole guarantee REQUIRES n_blocks ≥ max_hamming + 1 —
    fewer bands silently miss pairs whose flipped bits land one per
    band. ``n_blocks=None`` (default) derives the minimum sound value;
    an explicit under-provisioned value raises."""
    if n_blocks is None:
        n_blocks = min(max_hamming + 1, SIMHASH_BITS)
    if max_hamming > n_blocks - 1:
        raise ValueError(
            f"n_blocks={n_blocks} cannot guarantee recall at "
            f"max_hamming={max_hamming}; need n_blocks >= {max_hamming + 1}"
        )
    sh = simhash(docs, id_col, text_col)
    width = SIMHASH_BITS // n_blocks
    mask = (1 << width) - 1
    bands = sh.select(
        F.col(id_col).alias("_id"),
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("blk"),
    ).withColumn(
        "band_val",
        F.expr(f"shiftright(simhash, blk * {width}) & {mask}"),
    ).localCheckpoint(eager=False)  # both self-join sides
    from .blocking import expansion_repartition

    bands = expansion_repartition(bands, "blk", "band_val")
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, ["blk", "band_val"])
        .filter(F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# --- n-gram jaccard --------------------------------------------------------

def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = 10_000,
) -> DataFrame:
    """All pairs with shingle-set Jaccard ≥ threshold, via the standard
    scalable plan: explode shingles → self-join on shingle (counts
    |A∩B|) → join per-doc set sizes → J = ∩ / (|A|+|B|−∩).

    ``max_shingle_freq`` drops degenerate shingles (boilerplate shared
    by >N docs) before the quadratic join — the dedup analogue of the
    hot-block cap in ``operators.blocking.candidate_pairs``."""
    sh = docs.select(
        F.col(id_col).alias("_id"), F.explode(shingles_expr(text_col, shingle_k)).alias("sh")
    ).localCheckpoint(eager=False)  # used by freq/sizes/both join sides
    if max_shingle_freq:
        freq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("n"))
        sh = sh.join(F.broadcast(freq.filter(F.col("n") > max_shingle_freq)), "sh", "left_anti")
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("sz"))
    from .blocking import expansion_repartition

    shp = expansion_repartition(sh, "sh")
    a, b = shp.alias("a"), shp.alias("b")
    inter = (
        a.join(b, "sh")
        .filter(F.col("a._id") < F.col("b._id"))
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("_id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("_id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
