"""End-to-end curation plan: composition invariants over the verified
operators (each stage's semantics is oracle-tested on its own — see
COVERAGE.md; this pins the chain, the manifest audit trail, and
determinism)."""

import os

import pytest

from pyspark.sql import functions as F

from hypertrace_ingester_spark.plans.curation import CurationConfig, run_curation

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"testdata dir {SF_DIR} missing"
)


@pytest.fixture(scope="module")
def curated(spark):
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    eval_docs = docs.where("doc_id % 97 = 0").select(
        "doc_id", "text"
    )  # synthetic benchmark set: guaranteed verbatim overlap
    out, manifest = run_curation(spark, docs, eval_docs=eval_docs)
    return out.localCheckpoint(), manifest


def test_stage_counts_monotone(curated):
    _, manifest = curated
    s = manifest["stages"]
    assert s["input"]["rows"] > 0
    # every stage only ever removes rows
    order = ["input", "filtered", "exact_dedup", "near_dedup",
             "decontaminated", "mixed"]
    rows = [s[k]["rows"] for k in order]
    assert all(a >= b for a, b in zip(rows, rows[1:])), rows
    assert s["decontaminated"]["rows"] < s["near_dedup"]["rows"]  # eval overlap removed
    assert s["train_packed"]["rows"] == manifest["split_counts"].get("train", 0)
    assert s["train_packed"]["blocks"] >= 1


def test_output_schema_and_packing(curated):
    out, manifest = curated
    for c in ("doc_id", "source", "text", "n_tokens", "split",
              "tok_offset", "first_block", "n_blocks"):
        assert c in out.columns, c
    train = out.where("split = 'train'")
    # train rows all packed; offsets strictly increasing with doc_id
    assert train.where(F.col("tok_offset").isNull()).count() == 0
    rows = train.select("doc_id", "tok_offset", "n_tokens").orderBy("doc_id").collect()
    off = 0
    for r in rows:
        assert r["tok_offset"] == off
        off += r["n_tokens"]
    assert off == manifest["stages"]["train_packed"]["tokens"]
    # non-train rows carry null packing columns
    assert out.where("split != 'train' AND tok_offset IS NOT NULL").count() == 0


def test_curation_is_deterministic(spark, curated):
    out1, m1 = curated
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    eval_docs = docs.where("doc_id % 97 = 0").select("doc_id", "text")
    out2, m2 = run_curation(spark, docs, eval_docs=eval_docs)
    assert m1["stages"] == m2["stages"]
    a = {r["doc_id"]: r["tok_offset"] for r in out1.select("doc_id", "tok_offset").collect()}
    b = {r["doc_id"]: r["tok_offset"] for r in out2.select("doc_id", "tok_offset").collect()}
    assert a == b


def test_no_pii_in_curated_text(curated):
    out, _ = curated
    from hypertrace_ingester_spark.operators.text import PII_PATTERNS

    for name, pat in PII_PATTERNS.items():
        leaked = out.where(F.col("text").rlike(pat)).count()
        assert leaked == 0, f"{name} pattern survived redaction"


def test_curation_mixture_path(spark):
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    cfg = CurationConfig(
        gopher_filter=False, near_dup=False,
        mixture={"src0": 0.4, "src1": 0.4, "src2": 0.2},
    )
    out, m = run_curation(spark, docs, config=cfg)
    sources = {r["source"] for r in out.select("source").distinct().collect()}
    assert sources <= {"src0", "src1", "src2"}
    assert 0 < m["stages"]["mixed"]["rows"] <= m["stages"]["decontaminated"]["rows"]
    assert m["stages"]["train_packed"]["blocks"] >= 1


def test_exact_substr_stage(spark):
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    boiler = "terms of service apply to all content on this mirror site"
    planted = docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 9 == 2, F.concat("text", F.lit(" " + boiler)))
        .otherwise(F.col("text")),
    )
    out, manifest = run_curation(
        spark,
        planted,
        config=CurationConfig(
            quality_filter=False, gopher_filter=False, redact_pii=False,
            exact_substr_length=8,
        ),
    )
    s = manifest["stages"]
    assert "substring_dedup" in s
    assert s["substring_dedup"]["tokens"] < s["near_dedup"]["tokens"]
    assert s["substring_dedup"]["rows"] <= s["near_dedup"]["rows"]
    # the planted boilerplate run (11 words >= L=8) survives exactly once
    survivors = out.where(F.col("text").contains(boiler)).count()
    assert survivors == 1


def test_c4_clean_stage(spark):
    from tests.test_c4_signals import _c4_fixture
    import pathlib, tempfile

    path = _c4_fixture(pathlib.Path(tempfile.mkdtemp()))
    docs = spark.read.parquet(path).withColumn("source", F.lit("web"))
    out, manifest = run_curation(
        spark,
        docs,
        config=CurationConfig(
            c4_clean=True, quality_filter=False, gopher_filter=False,
            redact_pii=False, near_dup=False,
        ),
    )
    s = manifest["stages"]
    assert "c4_cleaned" in s
    assert s["c4_cleaned"]["rows"] < s["input"]["rows"]     # pages dropped
    assert s["c4_cleaned"]["tokens"] < s["input"]["tokens"]  # lines dropped
    # lorem-ipsum and brace pages never survive, and the surviving text is
    # the CLEANED text (every line terminal-punctuated)
    assert out.where(F.lower("text").contains("lorem ipsum")).count() == 0
    assert out.where(F.col("text").contains("{")).count() == 0
    bad_lines = out.select(
        F.explode(F.split("text", "\n")).alias("ln")
    ).where(~F.col("ln").rlike('[.!?"]$')).count()
    assert bad_lines == 0


def test_bpe_pack_stage(spark):
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    out, manifest = run_curation(
        spark,
        docs,
        config=CurationConfig(
            quality_filter=False, gopher_filter=False, redact_pii=False,
            near_dup=False, bpe_merges=30,
        ),
    )
    assert manifest["bpe"] == {"n_merges": 30}
    train = out.where(F.col("split") == "train")
    # train docs carry the actual subword stream and pack by ITS counts
    row = train.first()
    assert row["n_tokens"] == len(row["bpe_tokens"])
    packed_tokens = manifest["stages"]["train_packed"]["tokens"]
    assert packed_tokens == train.agg(F.sum("n_tokens")).first()[0]
    # subword count exceeds word count (30 merges can't fully re-fuse words)
    words = train.select(F.sum(F.size(F.split("text", " ")))).first()[0]
    assert packed_tokens > words
    # val/test rows are untouched (no bpe_tokens)
    rest = out.where(F.col("split") != "split").where(F.col("split") != "train")
    assert rest.where(F.col("bpe_tokens").isNotNull()).count() == 0


def test_quality_model_stage(spark):
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    cfg = CurationConfig(near_dup=False, quality_model_alpha=9.0,
                         quality_model_features=1 << 14)
    out, manifest = run_curation(spark, docs, config=cfg)
    s = manifest["stages"]
    assert "quality_model" in s, manifest.get("quality_model")
    # the Pareto rule only ever removes docs, and the survivors carry the
    # learned score
    assert 0 < s["quality_model"]["rows"] <= s["filtered"]["rows"]
    assert "quality_prob" in out.columns
    probs = out.select(F.min("quality_prob"), F.max("quality_prob")).first()
    assert 0.0 <= probs[0] <= probs[1] <= 1.0
    # deterministic: same config, same kept set
    out2, m2 = run_curation(spark, docs, config=cfg)
    assert m2["stages"]["quality_model"] == s["quality_model"]
    a = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    b = sorted(r["doc_id"] for r in out2.select("doc_id").collect())
    assert a == b


def test_checkpoint_resume_skips_dedup_prefix(spark, tmp_path):
    """resume=True re-reads the post-dedup checkpoint: the proof is that a
    resumed run fed COMPLETELY DIFFERENT input docs still produces the
    first run's output — the prefix (profile/filter/dedup) never ran."""
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    cfg = CurationConfig(checkpoint_dir=str(tmp_path / "ckpt"))
    out1, man1 = run_curation(spark, docs, config=cfg)
    assert man1["checkpointed_to"].endswith("deduped")

    decoy = docs.limit(3)  # wrong input: only the checkpoint can be right
    out2, man2 = run_curation(spark, decoy, config=cfg, resume=True)
    assert man2["resumed_from"] == man1["checkpointed_to"]
    # prefix stages restored from the manifest, not recomputed on decoy
    assert man2["stages"]["input"] == man1["stages"]["input"]
    assert man2["stages"]["near_dedup"] == man1["stages"]["near_dedup"]
    # tail reran identically (deterministic split/pack over the checkpoint)
    assert man2["stages"]["train_packed"] == man1["stages"]["train_packed"]
    assert man2["split_counts"] == man1["split_counts"]
    ids1 = sorted(r["doc_id"] for r in out1.select("doc_id").collect())
    ids2 = sorted(r["doc_id"] for r in out2.select("doc_id").collect())
    assert ids1 == ids2 and len(ids1) == man1["stages"]["mixed"]["rows"]


def test_resume_without_state_runs_full(spark, tmp_path):
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    cfg = CurationConfig(checkpoint_dir=str(tmp_path / "fresh"))
    out, man = run_curation(spark, docs, config=cfg, resume=True)
    assert "resumed_from" not in man and "checkpointed_to" in man
    assert man["stages"]["input"]["rows"] > 0


def test_url_stage(spark):
    """URL-grain curation runs before any text stage: canonical-URL dedup
    collapses tracking-param variants, blocklisted domains vanish, and a
    domain cap binds — all reflected in the url_curated manifest row."""
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    url = F.concat(
        F.lit("https://host"), (F.col("doc_id") % 10).cast("string"),
        F.lit(".example.com/page/"), (F.col("doc_id") % 50).cast("string"),
        # 1 in 2 carries a tracking param: canonicalization must collapse
        # (host, page) twins that differ only by it
        F.when(F.col("doc_id") % 2 == 0, F.lit("?utm_source=x")).otherwise(F.lit("")),
    )
    with_url = docs.withColumn("url", url)
    n_in = with_url.count()
    cfg = CurationConfig(
        url_dedup=True, url_blocklist=["host7.example.com"], domain_cap=30,
        quality_filter=False, gopher_filter=False, redact_pii=False,
        near_dup=False,
    )
    out, man = run_curation(spark, with_url, config=cfg)
    s = man["stages"]
    assert s["url_curated"]["rows"] < s["input"]["rows"] == n_in
    # (host mod 10, page mod 50) has exactly 50 distinct canonical urls;
    # host7 is one of the 10 hosts; cap 30 binds per REGISTERED domain
    # (all hosts share example.com) => <= 30 survivors
    assert s["url_curated"]["rows"] <= 30
    assert s["exact_dedup"]["rows"] <= s["url_curated"]["rows"]


def test_url_stage_skipped_without_column(spark):
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    cfg = CurationConfig(url_dedup=True, near_dup=False)
    _, man = run_curation(spark, docs, config=cfg)
    assert "url_curated" not in man["stages"]


def test_corpus_index_stage_daily_crawl_flow(spark, tmp_path):
    """Day 1 seeds the persisted index from its curated keep set; day 2
    re-presents the full corpus — everything already kept must drop via
    the index probe, and only genuinely new content survives."""
    from hypertrace_ingester_spark.operators import incremental as inc

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    idx = str(tmp_path / "corpus_idx")
    cfg = CurationConfig(
        corpus_index_path=idx, corpus_index_prefix="t_cur_idx",
        corpus_index_append=True, near_dup=False,
        # threshold low enough that every day's append trips maintenance:
        # day 2 then probes a COMPACTED index, so the dup/keep assertions
        # below also prove compaction preserves probe semantics
        corpus_index_compact_files=1,
    )
    try:
        inc.build_index(
            spark.createDataFrame([], "doc_id string, text string"),
            idx, prefix="t_cur_idx")
        out1, man1 = run_curation(spark, docs.where("doc_id % 2 = 0"),
                                  config=cfg)
        assert man1["corpus_dedup"]["near_dups_vs_corpus"] == 0  # empty index
        assert man1["index_append"]["docs_indexed"] == man1["stages"]["mixed"]["rows"]

        # day 2: all docs — every even doc is an exact dup of day 1's
        # appended keep set; odd docs are new
        out2, man2 = run_curation(spark, docs, config=cfg)
        d2 = man2["corpus_dedup"]
        assert d2["exact_dups_vs_corpus"] == man1["stages"]["mixed"]["rows"]
        ids2 = {r["doc_id"] for r in out2.select("doc_id").collect()}
        assert ids2 and all(int(i) % 2 == 1 for i in ids2)

        # maintenance fired and collapsed the append fragments: at most one
        # file per bucket per table, and the manifest records the rewrite
        from hypertrace_ingester_spark.sources import bucketing

        assert "index_compact" in man2
        for t in ("exact", "bands", "sigs"):
            stats = bucketing.file_stats(f"{idx}/{t}")
            assert stats["n_files"] <= inc.INDEX_BUCKETS, t
            assert man2["index_compact"][t]["files_after"] == stats["n_files"]
    finally:
        for t in ("t_cur_idx_exact", "t_cur_idx_bands", "t_cur_idx_sigs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_shard_output_stage(spark, tmp_path):
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    sd = str(tmp_path / "shards")
    cfg = CurationConfig(shard_dir=sd, n_shards=4, near_dup=False)
    out, man = run_curation(spark, docs, config=cfg)
    shards = man["shards"]["shards"]
    assert sum(s["rows"] for s in shards.values()) == man["stages"]["train_packed"]["rows"]
    assert sum(s["tokens"] for s in shards.values()) == man["stages"]["train_packed"]["tokens"]
    back = spark.read.parquet(sd)
    assert back.count() == man["stages"]["train_packed"]["rows"]
    assert "tok_offset" in back.columns  # packing columns ride into shards


def test_metrics_and_datacard_artifacts(spark, tmp_path):
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    md = str(tmp_path / "metrics")
    cfg = CurationConfig(metrics_dir=md, datacard=True, near_dup=False)
    out, man = run_curation(spark, docs, config=cfg)
    # datacard covers the OUTPUT corpus at (source, lang) grain
    assert man["datacard"] and sum(
        r["n_docs"] for r in man["datacard"]) == man["stages"]["mixed"]["rows"]
    # exposition format: HELP/TYPE headers + one line per stage metric
    import json as _json
    text = open(os.path.join(md, "metrics.prom")).read()
    assert "# TYPE curation_stage_rows gauge" in text
    assert f'curation_stage_rows{{stage="mixed"}} {man["stages"]["mixed"]["rows"]}' in text
    assert "curation_run_seconds" in text
    saved = _json.load(open(os.path.join(md, "_curation_run.json")))
    assert saved["stages"]["input"]["rows"] == man["stages"]["input"]["rows"]


def test_ccnet_gate_and_temperature_mixture(spark):
    """CCNet perplexity gate drops the per-language tail bucket; mixture
    by temperature hits the tempered proportions without an explicit
    target dict. Both verified against their operators' own laws."""
    from hypertrace_ingester_spark.operators import sampling as smp

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    cfg = CurationConfig(
        quality_filter=False, gopher_filter=False, redact_pii=False,
        near_dup=False, ccnet_buckets=("head", "middle"),
        mixture_temperature=0.5,
    )
    out, manifest = run_curation(spark, docs, config=cfg)
    s = manifest["stages"]
    # the gate runs after dedup and keeps ~2/3 per language
    assert "ccnet_gate" in s
    n_in, n_gate = s["exact_dedup"]["rows"], s["ccnet_gate"]["rows"]
    assert 0.6 * n_in <= n_gate <= 0.72 * n_in, (n_in, n_gate)
    # temperature mixing ran: achieved source shares match the tempered
    # weights of the gate-surviving corpus within hash quantization noise
    gated_totals = {}
    full = run_curation(
        spark, docs,
        config=CurationConfig(
            quality_filter=False, gopher_filter=False, redact_pii=False,
            near_dup=False, ccnet_buckets=("head", "middle"),
        ),
    )[0]
    # mixture input == the decontaminated frame == gate output here
    pre = full.groupBy("source").agg(
        F.sum("n_tokens").alias("t")).collect()
    gated_totals = {r["source"]: r["t"] for r in pre}
    want = smp.temperature_weights(gated_totals, 0.5)
    got_tot = {r["source"]: r["t"] for r in out.groupBy("source").agg(
        F.sum("n_tokens").alias("t")).collect()}
    tot = sum(got_tot.values())
    for src, w in want.items():
        assert got_tot[src] / tot == pytest.approx(w, abs=0.05), (src, w)
    # exclusivity guard
    with pytest.raises(ValueError):
        run_curation(spark, docs, config=CurationConfig(
            mixture={"web": 1.0}, mixture_temperature=0.3))


def test_unicode_normalize_stage_collapses_nfd_twins(spark):
    """With unicode_normalize on, byte-different NFD/NFC spellings of the
    same string exact-dedup to one doc; off, they survive as two."""
    nfc = "café con leche " * 5
    nfd = "café con leche " * 5
    rows = [(0, nfc, "en", "web"), (1, nfd, "en", "web"),
            (2, "an unrelated document body here", "en", "web")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    base = dict(quality_filter=False, gopher_filter=False, redact_pii=False,
                near_dup=False, decontaminate_k=13)
    out_off, man_off = run_curation(spark, docs, config=CurationConfig(**base))
    out_on, man_on = run_curation(
        spark, docs, config=CurationConfig(unicode_normalize=True, **base))
    assert man_off["stages"]["exact_dedup"]["rows"] == 3
    assert "normalized" in man_on["stages"]
    assert man_on["stages"]["exact_dedup"]["rows"] == 2
    # the survivor is the min doc_id and its text is the COMPOSED form
    kept = {r["doc_id"]: r["text"] for r in out_on.collect()}
    assert 0 in kept and 1 not in kept
    assert kept[0] == nfc
