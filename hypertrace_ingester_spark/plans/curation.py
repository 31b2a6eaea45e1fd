"""End-to-end corpus curation plan — chains the training-data operators
into the standard web-scale assembly pipeline (the documents-table
counterpart of plans/pipeline.py's span topology):

    [opt-in URL curation: canonical dedup / blocklist / domain cap]
    → [opt-in link-graph domain-rank floor] → [opt-in Unicode NFC cleanup]
    → [opt-in boilerplate heavy-hitter removal (corpus-discovered list)]
    → [opt-in C4 line cleaning (line keep + page keep, text replaced)]
    → profile (ONE fused text scan) → quality + Gopher filter → PII redaction
    → [opt-in learned quality classifier + Pareto retention]
    → exact dedup → MinHash near-dup clustering → canonical keep
    → [opt-in exact-substring dedup at word-token grain]
    → [opt-in persisted corpus-index probe (daily-crawl flow)]
    → [opt-in CCNet perplexity gate (head/middle/tail per language)]
    → benchmark decontamination (13-gram) → [opt-in semantic
      decontamination over an embedding column] → mixture sampling
      (explicit targets or mT5 temperature-scaled) → train/val/test split
    → sequence packing (train split) → [opt-in shards / datacard /
      index append + threshold-gated compaction]

Every stage is the already-verified operator (COVERAGE.md maps each to its
oracle); this plan contributes the composition, a per-stage manifest
(row/token counts, like run_pipeline's), and the stage ordering a real
pipeline uses: all map-side filters run BEFORE any dedup shuffle so the
expensive stages see the smallest corpus, and near-dup clustering runs on
the exact-deduped survivors only.

Scale notes: profile + filters are one codegen'd map stage; exact dedup is
one content-hash shuffle; the near-dup stage shuffles narrow (id, band)
rows (see dedup.minhash_near_dups); the filtered corpus is
localCheckpoint'd once before fan-in counting so manifest actions don't
recompute the profile scan.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import bpe as bp
from ..operators import dedup as dd
from ..operators import quality_model as qm
from ..operators import sampling as sp
from ..operators import datacard as dc
from ..operators import incremental as inc
from ..operators import text as tx
from ..operators import weburl as wu
from ..sources import bucketing
from ..sources import prometheus as prom
from ..sources import shards as sh


@dataclass
class CurationConfig:
    # opt-in URL-grain curation (RefinedWeb §3.1): runs BEFORE anything
    # reads the text — URL-level exact dedup on the canonical URL (two
    # crawls of one page collapse), domain blocklist, per-domain cap. All
    # three need a ``url_col`` column; silently skipped when absent (the
    # synthetic documents table has none).
    url_col: str = "url"
    url_dedup: bool = False
    url_blocklist: list[str] | None = None
    domain_cap: int | None = None
    # opt-in link-graph rank floor (Common Crawl domain-ranks signal):
    # PageRank over the crawl's OWN outlink graph (needs `links` + url
    # columns — ingest_crawl keep_links=True provides them); pages whose
    # registered domain ranks below the floor drop; domains outside the
    # graph keep a NULL rank and SURVIVE (no link evidence either way).
    domain_rank_floor: float | None = None
    # opt-in C4 line-level cleaning (Raffel et al. 2020): runs FIRST — C4
    # applies its line filters before every other stage — replacing text
    # with the cleaned text_c4 and dropping pages that fail c4_keep. Off by
    # default: it requires line-structured text (the synthetic documents
    # table is single-line word soup with no sentence punctuation, which
    # c4_keep would drop wholesale).
    c4_clean: bool = False
    # opt-in Unicode first-mile cleanup (text.normalize_text): NFC +
    # control/zero-width/BOM strip, BEFORE anything reads the text —
    # hashes, shingles and LM grams must see the composed form or two
    # byte-different spellings of one string dedup as distinct docs
    unicode_normalize: bool = False
    # page-level word blocklist for the C4 stage (the published recipe's
    # LDNOOBW filter; the list itself is caller-supplied data)
    c4_badwords: list[str] | None = None
    # opt-in corpus-derived boilerplate removal (RefinedWeb §3.2 line-wise
    # filtering with the list discovered from the corpus itself,
    # dedup.frequent_lines): lines whose normalized key appears in ≥ this
    # fraction of docs are template chrome and are stripped from EVERY doc
    # (vs line_dedup, which keeps one copy). Runs before the profile scan
    # so quality/Gopher signals score the real prose. The discovered list
    # is bounded (top_k) and broadcast; discovery can run on a
    # deterministic hash sample of docs (heavy hitters survive sampling).
    boilerplate_min_doc_frac: float | None = None
    boilerplate_top_k: int = 10_000
    boilerplate_sample_frac: float | None = None
    # opt-in script gate (text.script_profile): keep only docs whose
    # dominant Unicode script is in this set (e.g. ("latin",)); docs with
    # NO classified script chars ('unk') are kept only if 'unk' is listed.
    # Map-side, runs with the other pre-profile filters.
    allowed_scripts: tuple[str, ...] | None = None
    gopher_filter: bool = True
    quality_filter: bool = True
    redact_pii: bool = True
    near_dup: bool = True
    jaccard_threshold: float = 0.5
    # opt-in learned quality classifier (GPT-3 Appendix A / LLaMA §2.1):
    # trains the tokenize->HashingTF->logistic-regression pipeline on the
    # PRE-filter profile's weak labels (pass-both-heuristics = positive),
    # scores the heuristic survivors, and keeps via GPT-3's Pareto rule
    # with this alpha (their value: 9.0). None = off. Runs before any
    # dedup shuffle so the expensive stages see the thinned corpus.
    quality_model_alpha: float | None = None
    quality_model_features: int = 1 << 18
    # bounded training set for the quality classifier (the fit_centroids
    # pattern): a linear scorer needs ~10^5 weak-labeled examples, not the
    # corpus — without this cap the LBFGS loop's input lineage is the full
    # profile-scan prefix, re-materialized per fit at corpus scale (found
    # by the round-5 10x scale run: the stage dominated the plan wall).
    # None = train on everything (the pre-round-5 behavior).
    quality_model_train_rows: int | None = 100_000
    # opt-in ExactSubstr stage (Lee et al. 2021) at word-token grain: every
    # non-first occurrence of a duplicated run of >= this many tokens is cut
    # (dedup.substring_dedup is element-type agnostic — the same gram-hash /
    # span-cut plan that dedups int32 token ids runs on the word arrays).
    # Runs AFTER doc-level near-dup so the gram stream sees the smallest
    # corpus; docs cut to zero tokens vanish.
    exact_substr_length: int | None = None
    # opt-in corpus-wide LINE-level dedup (dedup.line_dedup — the C4
    # "discard repeated spans" recipe at line grain): a line survives only
    # at its first corpus occurrence, docs are rebuilt from surviving
    # lines, fully-duplicate docs vanish. Runs AFTER doc-level dedup (the
    # cheap hash passes first), before the substring stage.
    line_dedup: bool = False
    decontaminate_k: int = 13
    # opt-in SEMANTIC decontamination (similarity.semantic_decontaminate):
    # when the docs frame carries an embedding column and run_curation is
    # given eval_vectors, rows with cosine >= this to ANY eval vector drop
    # — the paraphrase-leakage complement of the 13-gram pass above
    semantic_threshold: float | None = None
    embedding_col: str = "embedding"
    # opt-in real BPE tokenization before packing: the tokenizer trains on
    # the TRAIN split only (no val/test leakage into the vocabulary), the
    # train docs gain bpe_tokens, and packing runs on real subword counts
    # instead of whitespace word counts.
    bpe_merges: int | None = None
    # opt-in CCNet perplexity gate (Wenzek et al. 2020 §4.3): bigram-LM
    # perplexity against a trusted corpus (run_curation's ``lm_docs``;
    # self-trained on the deduped survivors when absent), docs cut into
    # head/middle/tail per language, only these buckets survive. Runs
    # AFTER dedup — CCNet's own order: never spend LM scoring on rows
    # dedup was about to drop. e.g. ("head", "middle").
    ccnet_buckets: tuple[str, ...] | None = None
    # EXACTLY ONE of: explicit target proportions, or mT5-style
    # temperature-scaled natural proportions (sampling.temperature_weights)
    mixture: dict[str, float] | None = None
    mixture_temperature: float | None = None
    split_weights: dict[str, float] | None = field(
        default_factory=lambda: {"train": 0.98, "val": 0.01, "test": 0.01}
    )
    block_tokens: int = 2048
    seed: int = 0
    # opt-in dedup against a PERSISTED corpus index (the daily-crawl flow,
    # operators/incremental.py): after within-delta dedup, the survivors
    # probe the index (delta-side-only shuffles) and docs already in the
    # corpus — exactly or nearly — drop; with ``corpus_index_append`` the
    # final keep set (post-mixture) appends back, so tomorrow's delta
    # dedups against today's. Runs in the resumable TAIL: a resumed run
    # re-probes the CURRENT index (a crashed run's partial append is
    # harmless — the index's probe semantics are set-like).
    corpus_index_path: str | None = None
    corpus_index_prefix: str = "corpus_index"
    corpus_jaccard_threshold: float = 0.5
    corpus_index_append: bool = False
    # maintenance trigger for the daily-append flow: after the append, if
    # any index table has fragmented past this many files, compact it back
    # to one file per bucket (incremental.compact_index — zero-Exchange
    # rewrite). Threshold-gated so the common day is metadata-probe-only;
    # None disables.
    corpus_index_compact_files: int | None = None
    # opt-in final write: the packed TRAIN split lands as deterministic
    # training shards (sources/shards.py — hash membership + in-shard
    # order, one task per shard dir); per-shard manifest recorded
    shard_dir: str | None = None
    n_shards: int = 64
    # opt-in run artifacts: manifest JSON + Prometheus text exposition
    # (same textfile-collector contract as the span pipeline's S6
    # exporter) land here; with ``datacard=True`` the manifest also
    # carries the per-(source, lang) release statistics of the OUTPUT
    # (sketch path — one extra shuffle over the curated frame)
    metrics_dir: str | None = None
    datacard: bool = False
    # stage-boundary checkpoint for restart (a 100 TB curation run WILL be
    # preempted mid-way): the post-dedup corpus — the output of the entire
    # expensive shuffle prefix (profile scan, filters, exact dedup, near-dup
    # clustering, substring dedup) — is written here once, and
    # ``run_curation(..., resume=True)`` re-reads it instead of recomputing,
    # re-running only the cheap tail (decontaminate → mix → split → pack).
    # Same contract as PipelineConfig.checkpoint_parse.
    checkpoint_dir: str | None = None


def _tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn(
        "n_tokens", F.size(F.split(F.col(text_col), " ")).cast("long")
    )


def _ckpt_state_path(ckpt_dir: str) -> str:
    return os.path.join(ckpt_dir, "_curation_manifest.json")


def ingest_crawl(
    spark: SparkSession,
    warc_path: str | None = None,
    payloads: DataFrame | None = None,
    min_words: int = 1,
    max_link_density: float = 0.35,
    keep_links: bool = False,
    honor_noindex: bool = True,
    robots_rules: DataFrame | None = None,
) -> DataFrame:
    """Crawl files → documents: the ingestion head that makes the curation
    plan start where a real corpus build starts (WARC bytes, not clean
    parquet). Parses WARC records (sources/warc.py), keeps well-formed
    HTTP-200 text/html responses, boilerplate-extracts the text
    (operators/webextract.py), and emits the documents shape run_curation
    consumes — WITH a ``url`` column, so the URL-grain stages (canonical
    dedup / blocklist / domain cap) activate on their real input.

    ``doc_id`` is ``xxhash64(record_id)`` (stable across re-crawls of the
    same record id); ``source`` is the registered domain of the target URI
    (the per-source grain the mixture/datacard stages weigh). Map-only:
    record split, header parse, and extraction all fuse into the file scan
    — the first shuffle of a crawl build belongs to dedup, not ingestion.
    """
    from ..operators import webextract as wx
    from ..sources import warc as wc

    if payloads is None:
        if warc_path is None:
            raise ValueError("ingest_crawl needs warc_path or payloads")
        payloads = wc.read_warc_files(spark, warc_path)
    parsed = wc.parse_warc(payloads).where(
        (F.col("warc_type") == "response")
        & F.col("content_len_ok")
        & (F.col("http_status") == 200)
        & F.col("http_content_type").startswith("text/html")
    )
    if honor_noindex or keep_links:
        parsed = wx.robots_meta(parsed, html_col="html")
    if honor_noindex:  # page-level robots opt-out, enforced at extraction
        parsed = parsed.where(~F.col("robots_noindex"))
    if robots_rules is not None:
        # host-level robots.txt policy (RFC 9309, sources/robots.py) —
        # applied BEFORE extraction so disallowed pages never pay the
        # regexp-heavy boilerplate removal (review find); robots_filter is
        # itself map-side (broadcast host→rules dim + row-local winner),
        # so the ingestion head stays shuffle-free
        from ..sources import robots as rbt

        parsed = rbt.robots_filter(parsed, robots_rules, url_col="target_uri")
    ex = wx.extract_text(
        parsed, min_words=min_words, max_link_density=max_link_density
    )
    host = wu._host_expr("target_uri")
    cols = [
        F.xxhash64(F.col("record_id")).alias("doc_id"),
        F.col("target_uri").alias("url"),
        wu._reg_domain_expr(host).alias("source"),
        F.when(F.col("page_lang") == "", "unk")
        .otherwise(F.col("page_lang"))
        .alias("lang"),
        F.col("page_title").alias("title"),
        F.col("text"),
    ]
    if keep_links:  # outlinks feed the domain-rank stage / crawl frontier
        ex = wx.extract_links(ex, html_col="html")
        # robots nofollow = the page's links carry no endorsement: the
        # page itself stays in the corpus, but it contributes no edges to
        # the link graph / frontier (the PageRank-era convention)
        cols.append(
            F.when(
                F.col("robots_nofollow"),
                F.array().cast("array<string>"),
            )
            .otherwise(F.col("links"))
            .alias("links")
        )
    return ex.select(*cols).where(F.col("text") != "")


def run_curation(
    spark: SparkSession,
    docs: DataFrame,
    eval_docs: DataFrame | None = None,
    config: CurationConfig | None = None,
    resume: bool = False,
    lm_docs: DataFrame | None = None,
    eval_vectors: DataFrame | None = None,
) -> tuple[DataFrame, dict]:
    """Run the curation pipeline; returns ``(curated, manifest)`` where
    ``curated`` carries ``doc_id, source, text, n_tokens, split`` plus
    packing columns on the train split, and ``manifest`` records per-stage
    row and token counts (the audit trail a 100 TB curation run ships with
    its output).

    With ``cfg.checkpoint_dir`` set, the post-dedup corpus is checkpointed
    to parquet; ``resume=True`` then skips every stage up to and including
    dedup and re-reads the checkpoint (restart-safe, like run_pipeline)."""
    cfg = config or CurationConfig()
    t0 = time.time()
    # stage_walls lives BESIDE stages, not inside them: stage entries are
    # pure counts that callers (and tests) compare for determinism; walls
    # are machine state. Each wall is the time since the previous record —
    # the stage's own lazy compute plus the recording count, the per-stage
    # table a scale run reports (round-5 VERDICT #7).
    manifest: dict = {"stages": {}, "stage_walls": {}}
    _last_record = [time.time()]

    def record(name: str, df: DataFrame) -> None:
        agg = df.agg(
            F.count("*").alias("rows"), F.sum("n_tokens").alias("tokens")
        ).first()
        now = time.time()
        manifest["stages"][name] = {
            "rows": agg["rows"],
            "tokens": int(agg["tokens"] or 0),
        }
        manifest["stage_walls"][name] = round(now - _last_record[0], 3)
        _last_record[0] = now

    dedup_ckpt = (
        os.path.join(cfg.checkpoint_dir, "deduped") if cfg.checkpoint_dir
        else None
    )
    if resume and cfg.checkpoint_dir and os.path.exists(
        _ckpt_state_path(cfg.checkpoint_dir)
    ):
        with open(_ckpt_state_path(cfg.checkpoint_dir)) as fh:
            state = json.load(fh)
        if state.get("deduped_complete"):
            deduped = spark.read.parquet(dedup_ckpt)
            manifest["stages"].update(state["stages"])
            manifest["resumed_from"] = dedup_ckpt
            return _curation_tail(
                spark, deduped, eval_docs, cfg, manifest, record, t0,
                lm_docs=lm_docs, eval_vectors=eval_vectors,
            )

    base_cols = [c for c in ("doc_id", "source", "lang") if c in docs.columns]
    if (
        cfg.semantic_threshold is not None
        and eval_vectors is not None
        and cfg.embedding_col in docs.columns
    ):
        # the tail's semantic-decontamination stage needs the vectors, so
        # they ride the doc frame through the prefix (the one case where a
        # wide column is deliberately carried — the alternative is a full
        # embeddings join in the tail); without eval_vectors the stage
        # can't run, so the carry would be pure cost (review find)
        base_cols.append(cfg.embedding_col)
    record("input", _tokens(docs))

    # 0a) opt-in URL-grain curation — BEFORE anything reads the text
    if cfg.url_col in docs.columns and (
        cfg.url_dedup or cfg.url_blocklist or cfg.domain_cap
    ):
        if cfg.url_dedup:
            canon = wu.canonical_url(docs, cfg.url_col)
            keep_url = canon.groupBy("canonical_url").agg(
                F.min("doc_id").alias("doc_id"))
            docs = canon.join(keep_url, ["canonical_url", "doc_id"]).drop(
                "canonical_url")
        if cfg.url_blocklist:
            docs = wu.blocklist_filter(docs, cfg.url_blocklist, cfg.url_col)
        if cfg.domain_cap:
            docs = wu.per_domain_cap(docs, cfg.domain_cap, cfg.url_col)
        record("url_curated", _tokens(docs))

    # 0b) opt-in link-graph domain-rank floor — PageRank over the crawl's
    # outlink graph (operators/linkgraph.py), then a broadcast rank join;
    # the graph is narrow (domain, double) so the doc side never shuffles
    if (
        cfg.domain_rank_floor is not None
        and "links" in docs.columns
        and cfg.url_col in docs.columns
    ):
        from ..operators import linkgraph as lgr

        # reserved internal names: a caller's own rank/domain columns must
        # not collide with the join (keep_canonical's _dedup_cluster_id rule)
        ranks = lgr.page_rank(lgr.domain_edges(docs, url_col=cfg.url_col)).select(
            F.col("domain").alias("_dom"), F.col("rank").alias("_dom_rank")
        )
        dom = wu._reg_domain_expr(wu._host_expr(cfg.url_col))
        docs = (
            docs.withColumn("_dom", dom)
            .join(F.broadcast(ranks), "_dom", "left")
            .where(
                F.col("_dom_rank").isNull()
                | (F.col("_dom_rank") >= cfg.domain_rank_floor)
            )
            .drop("_dom", "_dom_rank")
        )
        record("domain_ranked", _tokens(docs))
    if "links" in docs.columns:
        docs = docs.drop("links")  # served the graph; never enters text stages

    # 0) opt-in C4 line cleaning — another map-only stage ahead of the
    # profile scan, so every later stage sees the cleaned, smaller text
    # 0c) opt-in Unicode cleanup — before any stage hashes or grams the
    # text (NFD/NFC spellings of one string must dedup as one doc)
    if cfg.unicode_normalize:
        docs = tx.normalize_text(docs).drop("was_normalized")
        record("normalized", _tokens(docs))

    # 0d) opt-in boilerplate heavy-hitters: discover the corpus's template
    # lines (bounded broadcast artifact) and strip every occurrence —
    # line-grain cleaning ahead of the profile scan, like the C4 stage
    if cfg.boilerplate_min_doc_frac is not None:
        import math

        last_rows = list(manifest["stages"].values())[-1]["rows"]
        eff_docs = last_rows * (cfg.boilerplate_sample_frac or 1.0)
        min_docs = max(2, math.ceil(cfg.boilerplate_min_doc_frac * eff_docs))
        # pin the bounded discovery list: without this, every downstream
        # action until the 'filtered' checkpoint would re-run the two
        # full-corpus discovery shuffles (the lsh_signatures recompute
        # lesson — round-3 ADVICE — applied here)
        bp_lines = dd.frequent_lines(
            docs, min_docs=min_docs, top_k=cfg.boilerplate_top_k,
            sample_frac=cfg.boilerplate_sample_frac, seed=cfg.seed + 31,
        ).localCheckpoint(eager=False)
        docs = dd.boilerplate_filter(docs, bp_lines).drop(
            "n_lines_kept", "n_lines_dropped"
        )
        record("boilerplate", _tokens(docs))

    if cfg.c4_clean:
        sig = tx.c4_line_signals(docs, badwords=cfg.c4_badwords)
        docs = sig.where(F.col("c4_keep")).select(
            *base_cols, F.col("text_c4").alias("text")
        )
        record("c4_cleaned", _tokens(docs))

    # 0e) opt-in Unicode script gate — map-side, before the profile scan
    if cfg.allowed_scripts:
        scripted = tx.script_profile(docs)
        docs = scripted.where(
            F.col("pred_script").isin(*cfg.allowed_scripts)
        ).select(*docs.columns)
        record("script_gated", _tokens(docs))

    # 1) fused profile scan + map-side filters
    prof = tx.text_profile(docs)
    keep = F.lit(True)
    if cfg.quality_filter:
        keep = keep & F.col("quality_keep")
    if cfg.gopher_filter:
        keep = keep & F.col("gopher_keep")
    text_out = F.col("text_redacted") if cfg.redact_pii else F.col("text")
    filtered = _tokens(
        prof.where(keep).select(*base_cols, text_out.alias("text"))
    ).localCheckpoint(eager=False)
    record("filtered", filtered)

    # 1b) opt-in learned quality classifier + Pareto retention
    if cfg.quality_model_alpha is not None:
        labeled = qm.weak_labels(prof)
        # the trainability decision runs on the FULL weak-label frame —
        # deciding it on a sample would mislabel a rare-minority corpus
        # as "single-class" and silently skip training (review find)
        if labeled.select("label").distinct().count() >= 2:
            train = labeled
            if cfg.quality_model_train_rows is not None:
                n = train.count()
                if n > cfg.quality_model_train_rows:
                    train = train.sample(
                        cfg.quality_model_train_rows / n, seed=cfg.seed + 7)
                # pin the BOUNDED training set (≤ cap, or corpus already
                # smaller): LBFGS makes ~max_iter passes and without this
                # each one re-materializes the profile-scan prefix. With
                # the cap disabled (None) the frame stays lazy — eagerly
                # pinning a corpus-scale frame would be the worse trade
                # (review find).
                train = train.localCheckpoint()
                if train.select("label").distinct().count() < 2:
                    # sampling dropped the minority class entirely —
                    # correctness over the perf cap: train on everything
                    train = labeled
            model = qm.train_quality_model(
                train, n_features=cfg.quality_model_features
            )
            scored = qm.score_quality(filtered, model)
            filtered = (
                qm.pareto_keep(scored, alpha=cfg.quality_model_alpha,
                               seed=cfg.seed + 11)
                .where(F.col("pareto_keep"))
                .drop("pareto_keep")
            ).localCheckpoint(eager=False)
            record("quality_model", filtered)
        else:
            manifest["quality_model"] = {"skipped": "single-class weak labels"}

    # 2) exact dedup: keep the minimum doc id per content hash
    keep_ids = dd.exact_dedup(filtered).select(
        F.col("keep_doc_id").alias("doc_id")
    )
    exact = filtered.join(keep_ids, "doc_id")
    record("exact_dedup", exact)

    # 3) near-dup clustering → canonical keep
    if cfg.near_dup:
        pairs = dd.minhash_near_dups(exact, threshold=cfg.jaccard_threshold)
        clusters = dd.duplicate_clusters(pairs)
        deduped = dd.keep_canonical(exact, clusters)
    else:
        deduped = exact
    record("near_dedup", deduped)

    # 3a2) opt-in corpus line-level dedup (C4 recipe): rebuild docs from
    # first-occurrence lines; line_dedup emits only (doc_id, text, stats),
    # so the caller's other columns rejoin on doc_id; n_tokens recomputed
    if cfg.line_dedup:
        others = deduped.drop("text", "n_tokens")
        rebuilt = dd.line_dedup(deduped).drop(
            "n_lines_kept", "n_lines_dropped"
        )
        deduped = _tokens(rebuilt.join(others, "doc_id"))
        record("line_dedup", deduped)

    # 3b) opt-in exact-substring dedup at word-token grain
    if cfg.exact_substr_length:
        cut = dd.substring_dedup(
            deduped.withColumn("_toks", F.split("text", " ")),
            length=cfg.exact_substr_length,
            tok_col="_toks",
            n_col=None,
        )
        deduped = _tokens(
            cut.where(F.size("_toks") > 0)
            .withColumn("text", F.array_join("_toks", " "))
            .drop("_toks", "n_tok_dropped", "n_tokens")
        )
        record("substring_dedup", deduped)

    if dedup_ckpt is not None:
        # the expensive prefix ends here: persist, mark complete, and read
        # the checkpoint back so the tail's lineage starts at the files
        # (a resumed run and a straight-through run share the same plan)
        deduped.write.mode("overwrite").parquet(dedup_ckpt)
        os.makedirs(cfg.checkpoint_dir, exist_ok=True)
        with open(_ckpt_state_path(cfg.checkpoint_dir), "w") as fh:
            json.dump(
                {"deduped_complete": True, "stages": manifest["stages"]}, fh
            )
        deduped = spark.read.parquet(dedup_ckpt)
        manifest["checkpointed_to"] = dedup_ckpt

    return _curation_tail(spark, deduped, eval_docs, cfg, manifest, record,
                          t0, lm_docs=lm_docs, eval_vectors=eval_vectors)


def _curation_tail(
    spark: SparkSession,
    deduped: DataFrame,
    eval_docs: DataFrame | None,
    cfg: CurationConfig,
    manifest: dict,
    record,
    t0: float,
    lm_docs: DataFrame | None = None,
    eval_vectors: DataFrame | None = None,
) -> tuple[DataFrame, dict]:
    """Stages after the dedup checkpoint boundary: [corpus-index probe] →
    decontaminate → mixture → split → (BPE) → pack → [index append].
    Cheap relative to the prefix — recomputed on resume rather than
    checkpointed."""
    # 3c) opt-in dedup against the persisted corpus index
    if cfg.corpus_index_path:
        index = inc.load_index(
            spark, cfg.corpus_index_path, prefix=cfg.corpus_index_prefix)
        deduped, inc_man = inc.incremental_dedup(
            deduped, index, threshold=cfg.corpus_jaccard_threshold)
        manifest["corpus_dedup"] = inc_man
        record("corpus_dedup", deduped)

    # 3d) opt-in CCNet perplexity gate: score with the bigram LM (trusted
    # corpus when given, self-trained otherwise), cut head/middle/tail per
    # language (exact rank cuts — the oracle-parity path; flip to the
    # percentile_approx sketch at real scale via text.perplexity_buckets'
    # exact flag), keep only the configured buckets
    if cfg.ccnet_buckets:
        model = tx.train_bigram_lm(
            lm_docs if lm_docs is not None else deduped)
        # pin the NARROW (doc_id, ppl) frame: perplexity_buckets references
        # its input twice (cut aggregate + output join) and the LM scoring
        # subtree is the expensive lineage — the lsh_signatures recompute
        # lesson (round-3 ADVICE) applied here
        ppl = (
            tx.ngram_lm_perplexity(deduped, model=model)
            .select("doc_id", "ppl")
            .localCheckpoint()
        )
        scored = deduped.join(ppl, "doc_id")
        by = ("lang",) if "lang" in deduped.columns else ()
        deduped = (
            tx.perplexity_buckets(scored, by=by)
            .where(F.col("ppl_bucket").isin(*cfg.ccnet_buckets))
            .drop("ppl", "ppl_bucket")
        )
        record("ccnet_gate", deduped)

    # 4) benchmark decontamination
    if eval_docs is not None:
        flagged = dd.decontaminate(deduped, eval_docs, k=cfg.decontaminate_k)
        clean = flagged.where(~F.col("contaminated")).drop(
            "n_hit_grams", "n_eval_docs_hit", "contaminated"
        )
    else:
        clean = deduped
    record("decontaminated", clean)

    # 4b) opt-in semantic decontamination — the paraphrase complement of
    # the 13-gram pass, when the corpus carries embeddings and the caller
    # supplies eval_vectors (columns: vec_id, <embedding_col>)
    if (
        cfg.semantic_threshold is not None
        and eval_vectors is not None
        and cfg.embedding_col in clean.columns
    ):
        from ..operators import similarity as sim

        flagged = sim.semantic_decontaminate(
            clean, eval_vectors, threshold=cfg.semantic_threshold,
            id_col="doc_id", vec_col=cfg.embedding_col,
            eval_vec_col=cfg.embedding_col,
        )
        clean = flagged.where(~F.col("contaminated")).drop(
            "max_eval_cos", "n_eval_hits", "nearest_eval_id", "contaminated",
            cfg.embedding_col,  # dead weight past this stage: never let the
            # wide vector ride mixture/split/packing/shards (review find)
        )
        record("semantic_decontaminated", clean)

    # 5) mixture sampling — explicit target proportions, or mT5
    # temperature-scaled natural proportions (both token-budgeted)
    if cfg.mixture and cfg.mixture_temperature is not None:
        raise ValueError("set mixture OR mixture_temperature, not both")
    if cfg.mixture:
        mixed = sp.mixture_sample(clean, cfg.mixture, seed=cfg.seed + 7)
    elif cfg.mixture_temperature is not None:
        mixed = sp.temperature_mixture_sample(
            clean, cfg.mixture_temperature, seed=cfg.seed + 7)
    else:
        mixed = clean
    mixed = _tokens(mixed.drop("n_tokens"))
    record("mixed", mixed)

    # 5b) opt-in index append — the FINAL keep set becomes corpus state
    # tomorrow's delta probes; pin rows first so the split/pack lineage
    # below never recomputes through the mutated index
    if cfg.corpus_index_path and cfg.corpus_index_append:
        mixed = mixed.localCheckpoint()
        manifest["index_append"] = inc.build_index(
            mixed, cfg.corpus_index_path, prefix=cfg.corpus_index_prefix,
            mode="append")
        if cfg.corpus_index_compact_files:
            worst = max(
                bucketing.file_stats(f"{cfg.corpus_index_path}/{t}")["n_files"]
                for t in ("exact", "bands", "sigs")
            )
            if worst > cfg.corpus_index_compact_files:
                manifest["index_compact"] = inc.compact_index(
                    spark, cfg.corpus_index_path,
                    prefix=cfg.corpus_index_prefix)

    # 6) deterministic split
    split = sp.hash_split(mixed, cfg.split_weights, seed=cfg.seed)

    # 7) pack the train split — on real BPE subword counts when opted in
    train = split.where(F.col("split") == "train")
    if cfg.bpe_merges:
        merges = bp.train_bpe(train, n_merges=cfg.bpe_merges)
        train = bp.bpe_tokenize(train, merges).withColumn(
            "n_tokens", F.col("n_bpe_tokens").cast("long")
        ).drop("n_bpe_tokens")
        manifest["bpe"] = {"n_merges": len(merges)}
    packed = sp.pack_offsets(train, block_tokens=cfg.block_tokens)
    rest = split.where(F.col("split") != "train")
    curated = packed.unionByName(rest, allowMissingColumns=True)
    record("train_packed", packed)
    manifest["stages"]["train_packed"]["blocks"] = int(
        packed.agg(F.max("last_block")).first()[0] or -1
    ) + 1
    manifest["split_counts"] = {
        r["split"]: r["n"]
        for r in split.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    # 8) opt-in: the packed train split lands as training shards
    if cfg.shard_dir:
        manifest["shards"] = sh.write_training_shards(
            packed, cfg.shard_dir, n_shards=cfg.n_shards, seed=cfg.seed + 23)
    if cfg.datacard:
        manifest["datacard"] = [
            r.asDict() for r in dc.corpus_datacard(
                mixed, exact_quantiles=False, exact_distinct=False
            ).collect()
        ]
    manifest["elapsed_sec"] = round(time.time() - t0, 2)
    if cfg.metrics_dir:
        os.makedirs(cfg.metrics_dir, exist_ok=True)
        with open(os.path.join(cfg.metrics_dir, "_curation_run.json"), "w") as fh:
            json.dump(manifest, fh, default=str)
        prom.write_curation_metrics(cfg.metrics_dir, manifest)
    return curated, manifest
