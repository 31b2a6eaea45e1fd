"""Crash matrix for the table layer: a failure is INJECTED at each commit
step (pytest monkeypatch on the filesystem call that step makes — no
production failpoint), then three laws are asserted:

1. a read sees the old version or the new one, never a mix and never a
   duplicated row;
2. a retry of the same operation converges to the new rows;
3. ``expire_snapshots(orphan_grace_sec=0)`` leaves no unreferenced data
   file, no ``_stage-*`` dir and no temp manifest.

Once the injected failure fires the process counts as dead: the cleanup
calls a ``finally`` would make (unlink, rmtree, rename) become no-ops, so
the table is left exactly as a killed writer leaves it.

Snapshot commit steps: after the stage write, after the staged files move
into ``data/``, after the temp manifest is written but before
``os.link``, and after the link but before the temp unlink. Bucketed
tables: between the two renames of the rename-swap.
"""

import os
import shutil

import pytest

from hypertrace_ingester_spark.operators import incremental as inc
from hypertrace_ingester_spark.sources import snapshots as sn


class Crash(Exception):
    """The injected failure."""


def _inject(monkeypatch, target: str, hits):
    """Patch ``os.rename``, ``os.link``, ``os.unlink`` and
    ``shutil.rmtree``: the first call of ``target`` whose path argument
    satisfies ``hits`` raises :class:`Crash`; from then on the four calls
    do nothing (the process is dead, its cleanup never runs)."""
    real = {"rename": os.rename, "link": os.link, "unlink": os.unlink,
            "rmtree": shutil.rmtree}
    dead = []

    def wrap(name):
        def call(*args, **kwargs):
            if dead:
                return None
            if name == target and hits(str(args[0])):
                dead.append(name)
                raise Crash(f"injected at {name}({args[0]})")
            return real[name](*args, **kwargs)
        return call

    for name in ("rename", "link", "unlink"):
        monkeypatch.setattr(os, name, wrap(name))
    monkeypatch.setattr(shutil, "rmtree", wrap("rmtree"))
    return dead


STEPS = {
    "after_stage_write": ("rename", lambda p: "/_stage-" in p),
    "after_move_to_data": ("rmtree", lambda p: "/_stage-" in p),
    "before_link": ("link", lambda p: "/.tmp-" in p),
    "after_link": ("unlink", lambda p: "/.tmp-" in p),
}


def _ids(spark, t):
    return sorted(r["id"] for r in sn.read_snapshot(spark, t).collect())


def _stream_case(spark, t):
    sn.commit_stream_batch(spark.range(0, 10).selectExpr("id", "id * 2 as v"),
                           t, app_id="app", batch_id=0)

    def op():
        sn.commit_stream_batch(
            spark.range(10, 20).selectExpr("id", "id * 2 as v")
            .repartition(2), t, app_id="app", batch_id=1)

    return op, list(range(20))


def _delete_case(spark, t):
    for lo in (0, 100):
        sn.commit(spark.range(lo, lo + 10).selectExpr("id", "id * 2 as v")
                  .coalesce(1), t)

    def op():
        sn.delete_ids(spark, t, "id", [3, 104])

    return op, [i for i in list(range(10)) + list(range(100, 110))
                if i not in (3, 104)]


@pytest.mark.parametrize("case", [_stream_case, _delete_case],
                         ids=["stream_batch", "delete_ids"])
@pytest.mark.parametrize("step", list(STEPS))
def test_snapshot_commit_crash(spark, tmp_path, monkeypatch, step, case):
    t = str(tmp_path / "tbl")
    op, new = case(spark, t)
    old = _ids(spark, t)

    with monkeypatch.context() as m:
        fired = _inject(m, *STEPS[step])
        with pytest.raises(Crash):
            op()
        assert fired
    got = _ids(spark, t)
    assert got in (old, new)            # sorted unique ids: no duplicates

    op()                                # retry converges
    assert _ids(spark, t) == new

    sn.expire_snapshots(t, orphan_grace_sec=0)
    referenced = {f for s in sn.snapshots(t) for f in s.files}
    assert {os.path.join("data", f)
            for f in os.listdir(os.path.join(t, "data"))} == referenced
    assert not [d for d in os.listdir(t) if d.startswith("_stage-")]
    assert not [f for f in os.listdir(os.path.join(t, "_snapshots"))
                if f.startswith(".tmp-")]
    assert _ids(spark, t) == new


def test_bucketed_swap_crash_between_renames(spark, tmp_path, monkeypatch):
    rows = [(i, " ".join(f"c{i}w{j}" for j in range(20))) for i in range(12)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "idx")
    prefix = "crash_idx"
    inc.build_index(docs, path, prefix=prefix, n_buckets=2)

    def exact_ids():
        idx = inc.load_index(spark, path, prefix=prefix)
        return sorted(r["doc_id"] for r in idx["exact"].collect())

    old = exact_ids()
    new = sorted(str(i) for i in range(2, 12))
    try:
        with monkeypatch.context() as m:
            # the swap's second rename moves the hidden temp into place
            fired = _inject(m, "rename", lambda p: "/.rewrite-tmp/" in p)
            with pytest.raises(Crash):
                inc.remove_docs(spark, path, [0, 1], prefix=prefix)
            assert fired
        assert not os.path.exists(os.path.join(path, "exact"))
        assert exact_ids() == old       # the read restores the old copy

        inc.remove_docs(spark, path, [0, 1], prefix=prefix)   # retry
        assert exact_ids() == new
        for tag in (".compact-old", ".rewrite-tmp"):
            hidden = os.path.join(path, tag)
            assert not os.path.isdir(hidden) or not os.listdir(hidden)
    finally:
        for t in ("exact", "bands", "sigs"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
