"""Sort-clustered rewrite (OPTIMIZE ZORDER analog) — layout laws.

snapshots.cluster's guarantee is a LAYOUT property, so the tests assert
it at the parquet-footer level (pyarrow min/max statistics — what every
stats-aware scan, Spark/DuckDB/Trino alike, prunes with): after
clustering, per-file ranges of the cluster key in the new snapshot are
pairwise disjoint and a point predicate touches at most one file. Value
identity is checked against the pre-rewrite snapshot; the z_value Morton
interleave is pinned against a pure-python bit-interleave reference."""

import os

import pandas as pd
import pytest

from hypertrace_ingester_spark.sources import snapshots as sn

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"testdata dir {SF_DIR} missing"
)


def _scattered_docs(spark, tmp_path, n_files=12) -> str:
    """The documents table committed hash-scattered: every file spans ~the
    whole doc_id range, the layout a parallel append produces."""
    path = str(tmp_path / "docs_scattered")
    sn.commit(
        spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        .repartition(n_files, "text"),  # hash on text = random wrt doc_id
        path,
    )
    return path


def test_cluster_dir_makes_ranges_disjoint_and_preserves_values(spark, tmp_path):
    path = _scattered_docs(spark, tmp_path)
    before_pdf = (
        sn.read_snapshot(spark, path).toPandas()
        .sort_values("doc_id", ignore_index=True)
    )
    pre = sn.snapshots(path)[-1]
    before = sn.clustering_stats(path, "doc_id")
    assert before["n_files"] > 1
    assert before["overlapping_pairs"] > 0  # scattered: ranges interleave

    s = sn.cluster(spark, path, ["doc_id"], n_files=6)
    assert (s.operation, s.parent, s.rows) == ("cluster", pre.version,
                                               pre.rows)
    after = sn.clustering_stats(path, "doc_id")
    assert after["n_files"] == 6
    assert after["overlapping_pairs"] == 0
    assert after["max_files_for_point"] == 1  # point lookup reads ONE file

    after_pdf = (
        sn.read_snapshot(spark, path).toPandas()
        .sort_values("doc_id", ignore_index=True)
    )
    pd.testing.assert_frame_equal(
        before_pdf[sorted(before_pdf.columns)],
        after_pdf[sorted(after_pdf.columns)],
    )
    # a range predicate still returns the right rows off the new layout
    lo, hi = after["ranges"][2]
    got = (
        sn.read_snapshot(spark, path)
        .where(f"doc_id >= {lo} and doc_id <= {hi}")
        .count()
    )
    want = int(((before_pdf["doc_id"] >= lo) & (before_pdf["doc_id"] <= hi)).sum())
    assert got == want
    # the scattered layout still time-travels until expiry
    assert sn.read_snapshot(spark, path, version=pre.version).count() \
        == len(before_pdf)


def _py_z(vals, bits):
    out = 0
    n = len(vals)
    for b in range(bits):
        for i, v in enumerate(vals):
            out |= ((v >> b) & 1) << (b * n + i)
    return out


def test_z_value_matches_python_reference(spark):
    rows = [(i, (i * 37) % 1000, (i * 91) % 1000) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    got = (
        df.withColumn("z", sn.z_value(["x", "y"], bits=10))
        .orderBy("id").collect()
    )
    for r in got:
        assert r["z"] == _py_z([r["x"], r["y"]], 10), r


def test_z_value_rejects_overflow():
    with pytest.raises(ValueError):
        sn.z_value(["a", "b", "c"], bits=22)


def test_quantize_clamps_and_scales(spark):
    df = spark.createDataFrame(
        [(-5.0,), (0.0,), (50.0,), (100.0,), (250.0,)], "v double")
    got = [r[0] for r in df.select(
        sn.quantize("v", 0.0, 100.0, bits=8)).collect()]
    assert got[0] == 0          # clamped below
    assert got[1] == 0
    assert got[2] == 128        # midpoint of [0,100] -> 128/256
    assert got[3] == 255        # top clamps to 2^bits - 1
    assert got[4] == 255        # clamped above


def test_zorder_clustering_on_two_dims(spark, tmp_path):
    # cluster on the materialized Morton key: footer ranges on the z
    # column go disjoint, and BOTH source dims get locality (each file
    # spans a strict subset of each dimension's full range)
    rows = [(i, (i * 37) % 1024, (i * 613) % 1024) for i in range(4096)]
    path = str(tmp_path / "zorder")
    df = spark.createDataFrame(rows, "id long, x long, y long").withColumn(
        "z", sn.z_value(["x", "y"], bits=10)
    )
    sn.commit(df.repartition(8, "id"), path)
    sn.cluster(spark, path, ["z"], n_files=8)
    assert sn.clustering_stats(path, "z")["overlapping_pairs"] == 0
    for dim in ("x", "y"):
        st = sn.clustering_stats(path, dim)
        spans = [hi - lo for lo, hi in st["ranges"]]
        # z-curve locality: the average file covers well under the full
        # 0..1023 span of each interleaved dimension
        assert sum(spans) / len(spans) < 900


def test_quantize_and_z_value_null_and_overflow_semantics(spark):
    df = spark.createDataFrame(
        [(None,), (50.0,)], "v double")
    got = [r[0] for r in df.select(
        sn.quantize("v", 0.0, 100.0, bits=8)).collect()]
    assert got[0] is None          # null stays null, never the top bucket
    assert got[1] == 128
    z = spark.createDataFrame(
        [(0, 0), (1024, 0), (1023, 0), (None, 0)],
        "x long, y long").select(
        sn.z_value(["x", "y"], bits=10).alias("z")).collect()
    z = [r["z"] for r in z]
    assert z[0] != z[1]            # 1024 clamps to 1023, never aliases 0
    assert z[1] == z[2]            # ...and equals the boundary bucket
    assert z[3] is None            # null coordinate -> null z
