"""Small-file compaction.

- snapshot tables (sources/snapshots.compact): appended fragments
  collapse to the size target as a NEW snapshot, rows/values identical,
  the old layout still time-travels, and a second run is a no-op
  (idempotent nightly maintenance);
- bucketed tables (sources/bucketing.rewrite_bucketed via
  incremental.compact_index): after N index appends each bucket holds
  N×tasks files; compaction lands EXACTLY one file per non-empty bucket
  with no Exchange in the rewrite read (bucket-aligned scan: one task ==
  one bucket), the catalog layout survives, and downstream zero-Exchange
  plans + the incremental-dedup probe behave identically before/after;
- the rename-swap both bucketed rewrites share survives a crash between
  its two renames.
"""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from hypertrace_ingester_spark.operators import incremental as inc
from hypertrace_ingester_spark.sources import bucketing
from hypertrace_ingester_spark.sources import snapshots as sn

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"testdata dir {SF_DIR} missing"
)


def test_compact_flat_dir(spark, tmp_path):
    t = str(tmp_path / "flat")
    df = spark.range(0, 3000).withColumn("v", F.col("id") * 2)
    for _ in range(3):
        sn.commit(df.repartition(16), t)
    pre = sn.snapshots(t)[-1]
    assert len(pre.files) == 48

    s = sn.compact(spark, t, target_file_mb=256)
    assert (s.operation, s.parent, s.rows) == ("compact", pre.version, 9000)
    assert len(s.files) == 1  # tiny table → 1 file
    assert not set(s.files) & set(pre.files)

    back = sn.read_snapshot(spark, t)
    assert back.count() == 9000
    assert back.agg(F.sum("v")).first()[0] == 3 * 2 * sum(range(3000))
    # the fragmented layout still time-travels until expiry
    assert sn.read_snapshot(spark, t, version=pre.version).count() == 9000

    # idempotent: an already-compact table is a metadata no-op
    assert sn.compact(spark, t, target_file_mb=256) is None
    assert sn.current_version(t) == s.version


@pytest.fixture(scope="module")
def appended_index(spark, tmp_path_factory):
    """An index built once then appended twice — the daily-crawl file
    fragmentation compaction exists for."""
    path = str(tmp_path_factory.mktemp("compact") / "index")
    src = pd.read_parquet(os.path.join(SF_DIR, "documents.parquet"),
                          columns=["doc_id", "text"])
    docs = spark.createDataFrame(src).repartition(8)
    prefix = "cidx_compact"
    inc.build_index(docs.where(F.col("doc_id") % 3 == 0), path, prefix=prefix,
                    n_buckets=8)
    inc.build_index(docs.where(F.col("doc_id") % 3 == 1), path, prefix=prefix,
                    n_buckets=8, mode="append")
    inc.build_index(docs.where(F.col("doc_id") % 3 == 2), path, prefix=prefix,
                    n_buckets=8, mode="append")
    yield path, prefix, src
    for t in ("exact", "bands", "sigs"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_compact_bucketed_index(spark, appended_index):
    path, prefix, src = appended_index
    idx = inc.load_index(spark, path, prefix=prefix)
    rows_before = {t: idx[t].count() for t in ("exact", "bands", "sigs")}
    files_before = {
        t: bucketing.file_stats(f"{path}/{t}")["n_files"]
        for t in ("exact", "bands", "sigs")
    }
    # three appends of an 8-partition frame fragment every bucket
    assert all(n > 8 for n in files_before.values())

    manifest = inc.compact_index(spark, path, prefix=prefix)

    for t in ("exact", "bands", "sigs"):
        stats = bucketing.file_stats(f"{path}/{t}")
        assert stats["n_files"] <= 8, t  # exactly one file per non-empty bucket
        assert stats["n_files"] < files_before[t], t
        assert manifest[t]["files_after"] == stats["n_files"]

    # geometry meta untouched, layout re-validated, rows identical
    idx2 = inc.load_index(spark, path, prefix=prefix)
    assert idx2["_meta"]["n_buckets"] == 8
    for t in ("exact", "bands", "sigs"):
        assert idx2[t].count() == rows_before[t], t

    # the zero-Exchange read property the layout exists for still holds
    plan = (
        idx2["exact"].groupBy("text_hash").agg(F.count(F.lit(1)).alias("n"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan

    # bucket-aligned rewrite: the compacted scan is one task per bucket
    auto_key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prev = spark.conf.get(auto_key, "true")
    spark.conf.set(auto_key, "false")
    try:
        assert idx2["exact"].rdd.getNumPartitions() == 8
    finally:
        spark.conf.set(auto_key, prev)


def test_probe_behaves_identically_after_compaction(spark, appended_index):
    path, prefix, src = appended_index
    idx = inc.load_index(spark, path, prefix=prefix)
    long_doc = src[src["text"].str.count(" ") >= 30].iloc[0]
    delta = spark.createDataFrame(
        pd.DataFrame(
            [
                {"doc_id": 990000, "text": long_doc["text"]},  # exact re-present
                {"doc_id": 990001,
                 "text": " ".join(f"qzc{j}" for j in range(40))},  # fresh
            ]
        )
    )
    kept, manifest = inc.incremental_dedup(delta, idx, threshold=0.5)
    assert manifest["exact_dups_vs_corpus"] == 1
    assert manifest["kept"] == 1
    assert [r["doc_id"] for r in kept.select("doc_id").collect()] == [990001]


def _tree(path):
    return {f: open(os.path.join(path, f)).read() for f in os.listdir(path)}


def test_swap_dirs_restores_interrupted_swap(tmp_path):
    """A crash between the swap's two renames leaves ``path`` missing and
    the only copy at the hidden old sibling. The next swap must restore
    it before anything else — never delete it while ``path`` is absent —
    so even a swap whose new data is missing loses nothing."""
    path = str(tmp_path / "tbl")
    old = bucketing._hidden_sibling(path, "compact-old")
    os.makedirs(old)
    with open(os.path.join(old, "part-0"), "w") as fh:
        fh.write("original")

    # a swap that fails again (its new data is missing) deletes nothing:
    # the original is still the one copy, restorable into place
    with pytest.raises(FileNotFoundError):
        bucketing._swap_dirs(path, str(tmp_path / "missing"))
    bucketing._restore_swap(path)
    assert _tree(path) == {"part-0": "original"}

    # crashed mid-swap again, then a complete swap: the new data wins
    os.rename(path, old)
    new = str(tmp_path / "new")
    os.makedirs(new)
    with open(os.path.join(new, "part-0"), "w") as fh:
        fh.write("rewritten")
    bucketing._swap_dirs(path, new)
    assert _tree(path) == {"part-0": "rewritten"}
    assert not os.path.exists(old) and not os.path.exists(new)
