"""Streaming face of the full pipeline — the reference's Kafka Streams
topology as ONE Structured Streaming job.

The batch DAG (plans/pipeline.py) and this streaming face share every
transformation: ``foreachBatch`` applies the identical
parse → enrich → route stages to each micro-batch and APPENDS to the same
partitioned sink layout, and appends incremental per-batch windowed
metrics (mergeable partial counts; use streaming/jobs.streaming_metrics
for the watermark-driven single-emission variant). This is the
SURVEY §0 mapping — "read → narrow transforms → … → N sinks" with Kafka
topic edges replaced by micro-batch lineage — and the deployment shape a
user of the reference's always-on ingester would run:

    stream = spark.readStream.format("kafka")...   # or file source
    q = run_streaming_pipeline(spark, stream, cfg)
    q.awaitTermination()

Exactly-once notes: ``foreachBatch`` + parquet append gives at-least-once
on retries (the reference's Kafka Streams default is also ALOS). With
``cfg.snapshot_routed=True`` the routed sink instead commits each batch to
a snapshot-versioned table with an idempotent ``(app_id, batch_id)`` gate
(``sources/snapshots.commit_stream_batch``) — a retry replay no-ops, which
is exactly-once; the same hook swaps to Iceberg ``writeTo(...).append()``
(whose idempotent commits use the identical recipe) when the runtime jar
exists. ``app_id`` is the query id the checkpoint persists: restarts of
one checkpoint share it, a fresh checkpoint gets a new one and its batch
ids (restarting at 0) land instead of being taken for replays.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import datagen
from ..operators import enrich as enrich_ops
from ..operators import parse as parse_ops
from ..operators import route as route_ops
from .pipeline import PipelineConfig


def _batch_stages(batch_df: DataFrame, cfg: PipelineConfig,
                  ctx: enrich_ops.EnrichContext, route_rules: DataFrame) -> DataFrame:
    """The shared per-batch DAG: parse → enrich (fused) → route. Identical
    column semantics to run_pipeline's hot path (bypass rows carry the
    code-class status heuristic, dim columns nulled)."""
    parsed = parse_ops.parse_sequences(
        batch_df, drop_criteria=cfg.drop_criteria, use_pandas_grok=cfg.use_pandas_grok
    )
    alive = parsed.filter(F.col("has_tenant") & ~F.col("is_dropped")).select(
        *parse_ops.PARSE_OUTPUT_COLS
    )
    return route_ops.route(enrich_ops.enrich_with_bypass(alive, ctx), route_rules)


def process_batch(
    batch_df: DataFrame,
    batch_id: int,
    cfg: PipelineConfig,
    ctx: enrich_ops.EnrichContext,
    route_rules: DataFrame,
) -> None:
    """One micro-batch: routed rows APPEND (at-least-once, the reference's
    Kafka Streams ALOS default); per-batch metrics OVERWRITE their own
    ``batch_id=<id>`` partition directory, so a foreachBatch retry
    re-writes the same partition instead of double-appending partials
    (round-2 ADVICE: downstream sums over metrics stay idempotent under
    micro-batch retries — asserted in tests/test_streaming.py). Each
    partition is a mergeable partial (sum downstream), the analog of the
    reference's per-window gauge emissions; the batch pipeline's one-shot
    metrics are the closed-input special case."""
    from ..operators import aggregate as agg_ops

    routed = _batch_stages(batch_df, cfg, ctx, route_rules)
    if cfg.snapshot_routed:
        # exactly-once: idempotent snapshot commit keyed by batch_id — a
        # foreachBatch retry replay of an already-landed batch no-ops
        # (sources/snapshots.py; the Iceberg recipe, stood-in locally)
        from ..sources import snapshots as snap

        snap.commit_stream_batch(
            routed, os.path.join(cfg.out_dir, "routed_snap"),
            app_id=_checkpoint_query_id(cfg), batch_id=batch_id,
        )
    else:
        route_ops.fan_out(
            routed, os.path.join(cfg.out_dir, "routed"), cfg.salt_buckets,
            mode="append",
        )
    agg_ops.sink_metrics(routed, cfg.metric_window_ms).write.mode("overwrite").parquet(
        os.path.join(cfg.out_dir, "metrics", f"batch_id={batch_id}")
    )


def _checkpoint_dir(cfg: PipelineConfig) -> str:
    return os.path.join(cfg.out_dir, "_stream_checkpoint")


def _checkpoint_query_id(cfg: PipelineConfig) -> str:
    """The StreamingQuery id stored in the checkpoint's ``metadata`` file
    (written when the query first starts): the same across restarts of
    one checkpoint, new for a fresh checkpoint."""
    with open(os.path.join(_checkpoint_dir(cfg), "metadata")) as fh:
        return json.loads(fh.readline())["id"]


def run_streaming_pipeline(
    spark: SparkSession,
    stream: DataFrame,
    cfg: PipelineConfig,
    ctx: enrich_ops.EnrichContext | None = None,
    route_rules: DataFrame | None = None,
    trigger_available_now: bool = True,
):
    """Start the streaming pipeline; returns the StreamingQuery.

    Each micro-batch runs the shared parse→enrich→route DAG and appends to
    ``cfg.out_dir/routed`` partitioned by sink — the per-view topics of the
    reference collapsed into one partitioned table family. Checkpoint state
    lives under ``cfg.out_dir/_stream_checkpoint`` (restart-safe offsets,
    the RocksDB/changelog analog)."""
    ctx = ctx or enrich_ops.EnrichContext(
        endpoints=datagen.endpoints_dim(spark),
        services=datagen.services_dim(spark),
        status_codes=datagen.status_codes_dim(spark),
    )
    rules = route_rules if route_rules is not None else datagen.route_rules_dim(spark)

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        process_batch(batch_df, batch_id, cfg, ctx, rules)

    writer = (
        stream.writeStream.foreachBatch(per_batch)
        .option("checkpointLocation", _checkpoint_dir(cfg))
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
