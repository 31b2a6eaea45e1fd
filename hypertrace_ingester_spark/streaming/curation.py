"""Streaming corpus ingestion — the curation plan's streaming face.

A training corpus at 10^12-doc scale is not rebuilt; it is continuously
INGESTED: new documents stream in (a crawler, a firehose), must pass the
same quality gates as the batch plan, and must dedup against everything
ever kept. The state problem is the crux — naive streaming dedup keeps
per-key state forever. This job splits dedup state by horizon, each half
bounded:

- in-flight repeats (the same page fetched twice within minutes) are
  dropped by ``dropDuplicatesWithinWatermark`` — per-key state EVICTED
  once the watermark passes (streaming/jobs.py streaming_dedup);
- all-time duplicates are handled in ``foreachBatch`` by probing the
  persisted incremental index (operators/incremental.py): NO streaming
  state at all — the "state" is the bucketed index on disk, shared with
  the batch face, survivors appended back every micro-batch.

Exactly-once story for the file sink: each micro-batch OVERWRITES its own
``batch_id=N`` directory, so a replayed batch rewrites the same files
instead of duplicating them. A replayed batch's index append does add
duplicate index ROWS — harmless by construction: the index's anti-join /
band-probe semantics are set-like (a doc that matches one index row
matches two identically), and the replayed docs were already dropped as
exact dups of their own first append when re-presented.

Per-micro-batch index appends fragment the index files (one file set
per batch per bucket); run ``operators.incremental.compact_index`` on the
maintenance schedule — or let a nightly batch `run_curation` with
``corpus_index_compact_files`` set do it — to fold them back to one file
per bucket without touching probe semantics (zero-Exchange rewrite,
tests/test_compaction.py).

Quality gates reuse the batch operators' pure column expressions
(text.quality_score / repetition_signals) — the DataFrame lineage is the
batch↔streaming portability layer, same as the span pipeline
(plans/streaming_pipeline.py).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import incremental as inc
from ..operators import text as tx


def bootstrap_index(spark, index_path: str, prefix: str = "stream_corpus") -> dict:
    """Create an EMPTY incremental index so the first micro-batch has
    something to probe (idempotent layout: same tables build_index appends
    to later)."""
    empty = spark.createDataFrame([], "doc_id string, text string")
    return inc.build_index(empty, index_path, prefix=prefix)


def streaming_curate(
    stream_docs: DataFrame,
    index_path: str,
    out_dir: str,
    prefix: str = "stream_corpus",
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    threshold: float = 0.5,
    quality_gate: bool = True,
    processing_time: str | None = None,
):
    """quality gate → within-watermark exact dedup → per-batch probe of the
    persisted corpus index → survivors appended to the corpus AND the
    index. Returns the started StreamingQuery."""
    gated = stream_docs
    if quality_gate:
        gated = (
            tx.repetition_signals(tx.quality_score(gated, text_col), text_col)
            .where(F.col("quality_keep") & F.col("gopher_keep"))
            .drop("n_words", "mean_word_len", "stopword_ratio", "quality_keep",
                  "dup_word_frac", "dup_2gram_frac", "symbol_word_ratio",
                  "alpha_word_frac", "gopher_keep")
        )
    deduped = (
        gated.withColumn("_th_stream", F.md5(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_th_stream"])
        .drop("_th_stream")
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        index = inc.load_index(spark, index_path, prefix=prefix)
        kept, man = inc.incremental_dedup(
            batch_df, index, threshold=threshold,
            text_col=text_col, id_col=id_col,
        )
        # pin rows BEFORE mutating the index underneath the lazy plan
        kept = kept.localCheckpoint()
        # idempotent sink: a replayed batch overwrites its own directory
        kept.write.mode("overwrite").parquet(
            f"{out_dir}/docs/batch_id={batch_id}")
        if man["kept"] > 0:
            inc.build_index(kept, index_path, prefix=prefix, mode="append")
        man["batch_id"] = batch_id
        os.makedirs(out_dir, exist_ok=True)
        with open(f"{out_dir}/_ingest_manifest.jsonl", "a") as fh:
            fh.write(json.dumps(man) + "\n")

    writer = deduped.writeStream.foreachBatch(_process).option(
        "checkpointLocation", f"{out_dir}/_checkpoint")
    # default: drain-what's-there (tests, backfills); a live ingester passes
    # processing_time="30 seconds" to run forever on a cadence
    if processing_time is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
