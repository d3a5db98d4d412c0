"""Incremental ingest via Structured Streaming.

The reference ingests asynchronously per document (Celery chain
upload -> process_pdf -> embed_pdf, reference upload_router.py:129-130,
tasks.py:305) with status flags as its checkpointing. The Spark-native
formalization (SURVEY.md §2.10): a Structured Streaming job over the pages
table with Trigger.AvailableNow — each run drains exactly the new files,
writes posting-row *delta* segments plus a per-batch lineage manifest, and
Spark's checkpoint directory guarantees exactly-once file consumption
across restarts. A periodic compaction folds deltas into the main index
(same build path).

foreachBatch is the right tool here (not a stateful streaming agg): tf
aggregation is per-document, so each micro-batch is self-contained and the
batch body can reuse the exact batch operators.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from honeywell_search_engine_spark.index.corpus import docs_from_pages, tokenized_docs
from honeywell_search_engine_spark.index.segments import N_BUCKETS, N_SHARDS, bucket_col
from honeywell_search_engine_spark.sources.pages import PAGES_SCHEMA


def stream_postings_delta(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str | None = None,
    n_buckets: int = N_BUCKETS,
    n_shards: int = N_SHARDS,
    lang: str = "en",
) -> int:
    """Drain all currently-available new page files into OCCURRENCE-row
    delta directories (docid, doclen, term, pos — positional, so merged
    indexes stay phrase-queryable). Returns the number of micro-batches
    processed.

    Layout: {out_dir}/delta_batch=<id>/... parquet + manifest JSON per
    batch. Re-running after new files land processes only the new ones
    (checkpointed source offsets); re-running after a crash mid-batch
    reprocesses that batch idempotently (same batch id -> overwrite).
    """
    checkpoint_dir = checkpoint_dir or f"{out_dir}/_checkpoint"
    os.makedirs(f"{out_dir}/manifests", exist_ok=True)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        docs = docs_from_pages(batch_df, lang=lang)
        tok = tokenized_docs(docs)
        # occurrence-level rows WITH positions (the merged index is
        # positional — phrase queries need the new docs' positions too);
        # shard/bucket here are advisory: merge_deltas recomputes both
        # from the target index's moduli
        postings = (
            tok.select(
                "docid", "doclen", F.posexplode("tokens").alias("pos", "term")
            )
            .withColumn("shard", F.pmod(F.col("docid"), F.lit(n_shards)).cast("int"))
            .withColumn("bucket", bucket_col(F.col("term"), n_buckets))
        )
        path = f"{out_dir}/delta_batch={batch_id}"
        postings.write.mode("overwrite").parquet(path)
        # lineage manifest AFTER the data commit (crash between the two ->
        # next run overwrites the same batch id, manifest stays consistent)
        wrote = spark.read.parquet(path)
        row = wrote.agg(
            F.count("*").alias("rows"),
            F.countDistinct("docid").alias("docs"),
            F.bit_xor(F.xxhash64("term", "docid", "pos")).alias("checksum"),
        ).collect()[0]
        manifest = {
            "batch_id": batch_id,
            "rows": row["rows"],
            "docs": row["docs"],
            "checksum": int(row["checksum"] or 0),
            "status": "complete",
            "ts": time.time(),
        }
        tmp = f"{out_dir}/manifests/batch_{batch_id}.json.tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, f"{out_dir}/manifests/batch_{batch_id}.json")

    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(pages_dir)
    )
    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    batches = [
        f for f in os.listdir(f"{out_dir}/manifests") if f.endswith(".json")
    ]
    return len(batches)


def delta_postings(spark: SparkSession, out_dir: str) -> DataFrame:
    """All delta posting rows (the queryable 'fresh' slice, unioned with
    the main index by callers; compaction folds them in)."""
    return spark.read.option("basePath", out_dir).parquet(f"{out_dir}/delta_batch=*")
