"""Bucketed-table layout — the "re-key once, never shuffle again" path.

The reference keeps spans co-located by trace via pre-keyed Kafka topics
(raw spans are produced keyed on (tenant, trace_id) —
JaegerSpanToAvroRawSpanTransformer.java:58-65 — so the grouper's state
store never re-partitions). The warehouse analog is a BUCKETED table:
write the fact table bucketed (and sorted) by its group key once, and
every later groupBy/join on that key reads the bucket layout instead of
shuffling — at 100 TB that turns the biggest repeated Exchange in the
workload into a one-time write-side cost. (On Iceberg the same contract
is `bucket(N, key)` partition transforms + `write.distribution-mode=hash`;
Spark's Hive-style bucketing is the in-sandbox equivalent with identical
plan behavior.)

`tests/test_bucketing.py` pins the plan property: an aggregate over the
bucket key on the bucketed table has NO Exchange, and the same aggregate
over the plain parquet copy does.

A bucketed table has one in-place rewrite, :func:`rewrite_bucketed`:
compaction after appends (``incremental.compact_index``) and row removal
(``incremental.remove_docs``) are the same bucket-aligned scan →
identical ``bucketBy`` write → rename-swap, differing only in the
transform applied to the scan.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Materialize ``df`` as a bucketed (+ sorted-within-bucket) parquet
    table in the session catalog. Sorting by the read-side window order
    (e.g. (user_id, ts_ms)) additionally lets window functions skip their
    Sort at read time. With ``path`` the table is EXTERNAL (files live at
    the given location, e.g. a pipeline checkpoint dir) — re-register it in
    a later session with ``ensure_bucketed_table``."""
    writer = (
        df.write.format("parquet")
        .mode(mode)
        # 4 MB data pages: same writer-side win as the fan-out write
        # (operators/route.py fan_out docstring; A/B in
        # scripts/write_options_ab.py) — checkpoints carry the full token
        # payload too.
        .option("parquet.page.size", str(4 * 1024 * 1024))
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*(sort_cols or bucket_cols))
    )
    if path is not None:
        if mode == "overwrite":
            # a stale catalog entry from an earlier overwrite may pin a
            # different location/schema; drop before re-creating external
            df.sparkSession.sql(f"DROP TABLE IF EXISTS {table}")
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def ensure_bucketed_table(
    spark: SparkSession,
    table: str,
    path: str,
    schema_ddl: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
) -> DataFrame:
    """Idempotently (re-)register an EXTERNAL bucketed table over files
    written by ``write_bucketed(..., path=...)`` and return it.

    The default session catalog is in-memory, so a resumed pipeline in a
    NEW session must re-declare the bucket layout before the planner can
    drop Exchanges on the bucket key — the DDL records layout metadata
    only; the parquet files (with bucket ids in their names) are reused
    as-is. A rewrite that crashed mid-swap is rolled back first
    (:func:`_restore_swap`), so a read sees the old table, never an empty
    one."""
    _restore_swap(path)
    cluster = ", ".join(bucket_cols)
    sort = ", ".join(sort_cols or bucket_cols)
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {table} ({schema_ddl}) USING parquet "
        f"CLUSTERED BY ({cluster}) SORTED BY ({sort}) INTO {n_buckets} BUCKETS "
        f"LOCATION '{path}'"
    )
    # IF NOT EXISTS silently accepts a pre-existing entry with a DIFFERENT
    # layout; a wrong declared bucket count is the worst kind of bug — the
    # planner drops Exchanges trusting it and co-partitioned joins silently
    # mis-bucket (round-4 review find). Validate the effective layout.
    have_n, have_cols = _bucket_spec(spark, table)
    if have_n != n_buckets or have_cols != list(bucket_cols):
        raise ValueError(
            f"bucketed table {table} exists with layout "
            f"({have_n} buckets on {have_cols}), requested "
            f"({n_buckets} on {list(bucket_cols)}); drop the table or pass "
            "the layout it was written with (the pipeline manifest records it)"
        )
    return spark.table(table)


def _bucket_spec(spark: SparkSession, table: str) -> tuple[int | None, list[str]]:
    """(num_buckets, bucket_cols) as the catalog sees them."""
    n, cols = None, []
    for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect():
        key = (r["col_name"] or "").strip()
        if key == "Num Buckets":
            n = int(r["data_type"].strip())
        elif key == "Bucket Columns":
            cols = [c.strip(" `") for c in r["data_type"].strip("[]").split(",")]
    return n, cols


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table back; the scan reports the bucket layout as
    its output partitioning, so Catalyst drops Exchanges whose required
    distribution it already satisfies."""
    return spark.table(table)


def file_stats(path: str) -> dict:
    """Recursive data-file census of ``path``: count, bytes, min/max size.

    Driver-side metadata listing only (the same cost every planner listing
    pays); `_`-prefixed bookkeeping (``_SUCCESS``, ``_index_meta.json``)
    and hidden files are excluded, matching Spark's own data-file filter.
    """
    n, total, smallest, largest = 0, 0, None, 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if f.startswith("_") or f.startswith("."):
                continue
            sz = os.path.getsize(os.path.join(root, f))
            n += 1
            total += sz
            largest = max(largest, sz)
            smallest = sz if smallest is None else min(smallest, sz)
    return {
        "n_files": n,
        "total_bytes": total,
        "min_bytes": smallest or 0,
        "max_bytes": largest,
    }


def _hidden_sibling(path: str, tag: str) -> str:
    """A normal-named leaf under a dot-prefixed sibling dir
    (``<parent>/.<tag>/<name>``): invisible to Spark's data-file listing of
    ``<parent>`` and to :func:`file_stats`, so a crash-left temp or old
    directory never pollutes reads. The LEAF name stays undotted because
    Spark's file index filters a dot-prefixed root path itself ("All paths
    were ignored") — only ancestors may hide."""
    d, b = os.path.split(os.path.abspath(path))
    return os.path.join(d, f".{tag}", b)


def _restore_swap(path: str) -> str:
    """Undo a swap that crashed between its two renames: ``path`` is gone
    and the only copy of the table sits at the hidden old sibling — move
    it back. Returns the old-sibling path. A reader that lands inside a
    LIVE swap's window restores too; that swap's second rename then fails
    and the table stays whole at its old version (single-writer tables:
    the writer retries)."""
    old = _hidden_sibling(path, "compact-old")
    if os.path.exists(old) and not os.path.exists(path):
        os.rename(old, path)
    return old


def _swap_dirs(path: str, tmp_path: str) -> None:
    """Replace ``path`` with ``tmp_path`` by two renames (``path`` → hidden
    old sibling, ``tmp_path`` → ``path``); the old copy is deleted only once
    ``path`` holds the new data. On entry an interrupted earlier swap is
    restored first, so a leftover old copy is deleted only while ``path``
    exists — never the only copy."""
    old = _restore_swap(path)
    if os.path.exists(old):
        shutil.rmtree(old)
    os.makedirs(os.path.dirname(old), exist_ok=True)
    os.rename(path, old)
    os.rename(tmp_path, path)
    shutil.rmtree(old)


def rewrite_bucketed(
    spark: SparkSession,
    table: str,
    path: str,
    schema_ddl: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    transform=None,
) -> dict:
    """Zero-Exchange in-place rewrite of an EXTERNAL bucketed table.

    Reads the bucket-aligned scan (its reported partitioning is the bucket
    hash), applies ``transform`` (DataFrame → DataFrame; e.g. the
    anti-filter of a takedown — a Filter keeps the scan's partitioning;
    None = pure compaction), rewrites with the identical ``bucketBy`` spec
    to a hidden temp location — the planner drops the Exchange the write
    would otherwise require, so the pass is scan → sort-within-bucket →
    write — then rename-swaps the data directory and re-registers the
    table. After N appends a bucket holds N×tasks files; after the
    rewrite it holds one. Layout metadata (catalog DDL,
    ``ensure_bucketed_table`` validation) is unchanged, so downstream
    zero-Exchange joins keep their plans. A crash before the swap leaves
    the original untouched; one inside it is undone on the next
    registration (:func:`_restore_swap`)."""
    src = ensure_bucketed_table(
        spark, table, path, schema_ddl, bucket_cols, n_buckets, sort_cols
    )
    if transform is not None:
        src = transform(src)
    before = file_stats(path)
    tmp_path = _hidden_sibling(path, "rewrite-tmp")
    tmp_table = f"{table}_rewrite_tmp"
    if os.path.exists(tmp_path):
        shutil.rmtree(tmp_path)
    # Force the bucket-aligned scan: autoBucketedScan may otherwise plan a
    # plain file-split read (no downstream operator needs the
    # distribution), and a task holding a file split rather than a whole
    # bucket writes one file per (task, bucket) again — exactly the
    # fragmentation being repaired. With the aligned scan each task IS one
    # bucket and emits exactly one file.
    auto_key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prev_auto = spark.conf.get(auto_key, "true")
    spark.conf.set(auto_key, "false")
    try:
        write_bucketed(
            src, tmp_table, bucket_cols, n_buckets,
            sort_cols=sort_cols, mode="overwrite", path=tmp_path,
        )
    finally:
        spark.conf.set(auto_key, prev_auto)
    spark.sql(f"DROP TABLE IF EXISTS {tmp_table}")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    _swap_dirs(path, tmp_path)
    ensure_bucketed_table(
        spark, table, path, schema_ddl, bucket_cols, n_buckets, sort_cols
    )
    return {
        "table": table,
        "files_before": before["n_files"],
        "files_after": file_stats(path)["n_files"],
        "bytes": before["total_bytes"],
    }
