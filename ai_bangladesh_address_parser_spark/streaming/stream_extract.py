"""Structured-Streaming surface: incremental mention extraction over a
growing pages table.

The reference is strictly batch (its ``batch_extract`` is a Python
for-loop, production_address_extractor.py:1114-1129); at corpus scale
the natural production shape is incremental: new WARC partitions land →
extract/normalize them once → append to the mentions table; the wide
stages (blocking/scoring/clustering) re-run periodically over the
accumulated mentions.

Two surfaces:

  * :func:`stream_mentions` — the narrow S1 stage as a true streaming
    DataFrame: one row per harvested mention, keyed ``url#idx`` exactly
    like batch S1 (the same ``plans.pipeline.harvest_mentions`` step),
    with normalized text and page script metadata; no shuffle, so any
    sink/trigger works, watermarked on ``warc_ts``;
  * :func:`run_incremental_extract` — micro-batch driver
    (``foreachBatch``) that runs the full batch S1 (including the
    groupBy resolve) per batch and appends to a mentions parquet/
    Iceberg table. foreachBatch is the idiomatic bridge when a stage
    needs batch-only operators (pivot/broadcast-join chains).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.script import script_cols
from ..sources.pages import PAGES_SCHEMA


def read_page_stream(
    spark: SparkSession, input_dir: str, fmt: str = "parquet", max_files: int = 16
) -> DataFrame:
    """File-source stream of pages; each landed file is a micro-batch
    unit (in production: the Iceberg streaming source on the pages
    table, same downstream plan)."""
    return (
        spark.readStream.format(fmt)
        .schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .load(input_dir)
    )


def stream_mentions(pages: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Narrow streaming S1: one output row per harvested mention —
    ``(url, mention_id = url#idx, normalized)``, the same rows batch S1
    harvests — plus the page's ``warc_ts``, ``lang`` and script
    metadata. Pure projections + one explode → appendable to any sink
    with exactly-once file-source semantics."""
    from ..plans.pipeline import harvest_mentions

    sc = script_cols("text")
    return harvest_mentions(
        pages.withWatermark("warc_ts", watermark)
        .withColumn("primary_script", sc["primary_script"])
        .withColumn("is_mixed", sc["is_mixed"]),
        "warc_ts", "lang", "primary_script", "is_mixed",
    )


def run_incremental_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Micro-batch S1: per landed batch of pages, run the full batch
    extraction (evidence battery + resolve) and write the wide mentions
    rows partitioned by ``_batch_id``. Restart-safe via the streaming
    checkpoint (the streaming twin of plans.pipeline.StageStore
    resumability).

    ``foreachBatch`` is at-least-once: a crash between the write and
    the checkpoint commit re-runs the batch on restart. Idempotence
    comes from the write shape, not the trigger — each batch overwrites
    ONLY its own ``_batch_id=<n>`` partition (dynamic partition
    overwrite), so a replayed batch replaces its rows instead of
    appending a duplicate set."""
    from ..plans.pipeline import LinkagePlan

    pages = read_page_stream(spark, input_dir)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        plan = LinkagePlan(batch_df.sparkSession)
        wide = plan.extract(batch_df)
        (wide.withColumn("_batch_id", F.lit(batch_id))
             .write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("_batch_id")
             .parquet(output_dir))

    writer = (
        pages.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
