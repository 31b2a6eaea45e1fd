"""Benchmark harness — prints ONE JSON line with headline timings.

Two workloads:
1. the flagship synthetic-sequences parse→enrich→route→aggregate pipeline
   (BASELINE.json north_rule metric: sequences/sec end-to-end);
2. headline operator queries from the catalog, run at $SPARK_GRAFT_SF_DIR
   (default /root/testdata/sf0.1) and forced with a noop write (full
   computation, no driver collect).

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (default: the host's CPU count),
SPARK_GRAFT_DRIVER_MEM (default: half of MemTotal, capped at 16g),
SPARK_GRAFT_BENCH_ROWS (default 1,000,000 synthetic sequences).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

from hypertrace_ingester_spark import datagen
from hypertrace_ingester_spark.plans.pipeline import PipelineConfig, run_pipeline
from hypertrace_ingester_spark.queries import REGISTRY, _load_extensions

_load_extensions()
from hypertrace_ingester_spark.session import (
    default_driver_mem, default_parallelism, get_spark)

# round-3 note: catalog consolidated to 50 entries (driver samples the
# first 50); v_span_event_view / v_service_call_view / e_backend_classify
# now carry the full spans-domain semantics formerly under *_full/_edges/
# _providers names, and d_text_profile fuses the five per-doc text metrics.
HEADLINE = [
    "q1_pricing_summary",
    "e_multihop_dims",
    "e_broadcast_endpoint",
    "g_sessionize",
    "v_span_event_view",
    "v_service_call_rollup",
    "a_windowed_counts",
    "a_percentiles",
    "r_route_fanout",
    "d_exact_dedup",
    "d_text_profile",
    "d_minhash_lsh",
    "d_simhash",
    "s_knn_bruteforce",
    "d_embed_near_dup",
    "s_ann_ivf",
    "g_api_nodes",
    "v_service_call_view",
    "e_backend_classify",
    "p_http_fields",
]


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def spin_probe() -> float:
    """Single-thread CPU speed in Mops over a 0.2 s window — the per-run
    machine-state marker recorded next to every measured number. Module
    scope so sibling scripts (write_options_ab) share ONE calibration."""
    t0 = time.time()
    x = 0
    while time.time() - t0 < 0.2:
        x += 1
    return round(x / (time.time() - t0) / 1e6, 2)


def fault_probe(mb: int = 64) -> float:
    """Page-fault bandwidth in GB/s: touch every page of a fresh anonymous
    mapping. The root-caused degraded-DRAM regime (BENCH/BASELINE.md) shows
    here (healthy ~1.7-6, episodes 0.02-0.2) while the pure-CPU spin probe
    stays normal. 64 MB default keeps the between-rep gate cheap (~0.03 s
    healthy, a few seconds mid-episode); host_probe uses 256 MB."""
    import mmap

    n = mb * 1024 * 1024
    buf = mmap.mmap(-1, n)
    t0 = time.time()
    for off in range(0, n, 4096):
        buf[off] = 1
    g = round((mb / 1024) / max(time.time() - t0, 1e-9), 2)
    buf.close()
    return g


def host_probe(own_jvms: int = 0) -> dict:
    """Cheap canary for the two failure modes that have poisoned
    measurements on this sandbox (round 3): stray Spark JVMs left behind by
    killed parent processes (an orphaned driver keeps executing its
    submitted job at ~12 cores), and hypervisor CPU-steal bursts. Reported
    in the bench JSON so a slow number is attributable; costs <1 s."""
    import subprocess

    def stat():
        v = open("/proc/stat").readline().split()[1:9]
        return list(map(int, v))  # user nice sys idle iowait irq softirq steal

    a = stat()
    t0 = time.time()
    x = 0
    while time.time() - t0 < 0.4:
        x += 1
    spin_mops = round(x / (time.time() - t0) / 1e6, 2)
    b = stat()
    d = [y - z for z, y in zip(a, b)]
    steal_pct = round(100 * d[7] / max(sum(d), 1), 1)
    # page-fault bandwidth probe: the root-caused degradation mode is the
    # hypervisor collapsing fault bandwidth (1.7 GB/s → 5-50 MB/s) while
    # pure-CPU spin stays healthy — so the spin probe alone can miss it.
    # Healthy ≳ 2 GB/s on this box, deep episodes read double-digit MB/s.
    fault_gbps = fault_probe(mb=256)
    try:
        out = subprocess.run(
            ["ps", "-eo", "pid,cmd"], capture_output=True, text=True, timeout=5
        ).stdout
        stray = sum(
            1 for ln in out.splitlines()
            if "java" in ln and "/opt/spark" in ln
        ) - own_jvms  # pass 1 when our own session is already up
    except Exception:
        stray = -1
    probe = {"steal_pct": steal_pct, "spin_mops": spin_mops,
             "fault_gbps": fault_gbps, "stray_jvms": max(stray, 0)}
    if probe["stray_jvms"] > 0:
        print(f"WARNING: {probe['stray_jvms']} stray Spark JVM(s) running — "
              "numbers below are contaminated", file=sys.stderr)
    return probe


def main() -> None:
    # heap and cores come from the host (session defaults): the heap is
    # pinned and committed up front, so a constant sized for a bigger host
    # refuses to start the JVM on a smaller one
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", default_driver_mem())
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_parallelism()
    n_rows = int(os.environ.get("SPARK_GRAFT_BENCH_ROWS", "1000000"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    probe_pre = host_probe(own_jvms=0)
    # bounded pre-wait: if the opening probe catches a collapsed page-fault
    # window (the root-caused degraded-DRAM regime, healthy ~1.7 GB/s,
    # episodes 0.05-0.2), wait up to 6 minutes for recovery before burning
    # the measurement budget — round 4 observed a single degraded warmup eat
    # 250 s of the 300 s pipeline budget, leaving min-of-2 instead of
    # min-of-5. Episodes often clear in tens of seconds; if this one
    # doesn't, proceed anyway (the per-run probes make it visible).
    wait_t0 = time.time()
    # deadline on WALL clock, not summed sleeps: mid-episode the probe's own
    # 256 MB page-touch can take tens of seconds, so counting only the
    # sleeps would let the gate run 2x+ past its documented 6-minute budget
    while probe_pre.get("fault_gbps", 9.9) < 0.8 and time.time() - wait_t0 < 360:
        time.sleep(45)
        probe_pre = host_probe(own_jvms=0)
    if time.time() - wait_t0 >= 45:
        probe_pre["pre_wait_sec"] = round(time.time() - wait_t0, 1)
    spark = get_spark(app_name="bench", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 8))

    # --- flagship pipeline throughput (sequences/sec) -------------------
    # Input is materialized to parquet first (the north rule's input is an
    # Iceberg TABLE, not a generator) so the timed section measures the
    # pipeline: scan → parse → enrich → route fan-out → aggregate.
    # tmpfs when available: bench outputs otherwise hit disk-writeback
    # stalls in the sandbox (production sinks are object storage)
    scratch = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    input_dir = os.path.join(scratch, f"bench_seq_{n_rows}.parquet")
    if not os.path.exists(os.path.join(input_dir, "_SUCCESS")):
        datagen.generate_sequences(spark, n_rows, partitions=cpus * 4).write.mode(
            "overwrite"
        ).parquet(input_dir)
    seqs = spark.read.parquet(input_dir)

    # one untimed warmup run (JIT + page cache), then 5 measured runs with
    # the BEST run reported as `value` and the median alongside — this host
    # has episodic multi-minute degradations (see BENCH/BASELINE.md
    # "Measurement hygiene": hypervisor steal bursts, single-thread spin
    # speed measured dropping 5.2 → 1.4 Mops for minutes at a time,
    # slowdowns up to 20x, strictly one-sided noise), so the minimum is the
    # honest estimate of what the code does; the median and the per-run
    # spin probe show the machine-state distribution the run actually saw
    # elapsed-time guard: during a degraded-host regime each run can take
    # 3-10x its healthy wall; cap the measured series (keeping >=2 runs)
    # so the whole bench stays within any external runtime budget instead
    # of being killed mid-way and reporting nothing
    # between-rep fault gate (round 5, VERDICT #3): the r4 driver's best-of-5
    # was 8.96 s only because its capture ran into a collapsing DRAM window
    # (post-run fault probe 0.17 GB/s) while probe-gated captures of the same
    # code hit 6.84-6.88 s. So each MEASURED rep now takes a cheap 64 MB
    # fault probe first; if the window is degraded (< the 1.5 GB/s gate at
    # the condition below) the rep is deferred up to a bounded wait budget
    # instead of burning a measurement slot recording the hypervisor. The
    # warmup rep is never gated (JIT has to happen regardless), deferrals
    # are visible in the JSON (gate_wait_sec), and the elapsed-time guard
    # still caps the section.
    bench_t0 = time.time()
    pipeline_runs = []
    run_spins = []
    run_faults = []
    gate_wait_sec = 0.0
    i = 0
    while i < 6:
        f = fault_probe() if i > 0 else -1.0
        # gate at 1.5 GB/s: round-5 observation — reps admitted at
        # 1.1-1.3 GB/s still measured 35-40 s (the regime is degraded well
        # below the healthy ≥2); the 6.8-8.9 s captures all ran at ≥1.5.
        # The budget bound keeps a fully-degraded window from stalling the
        # bench: after 150 s of deferrals it measures anyway, visibly.
        if (
            i > 0
            and f < 1.5
            and gate_wait_sec < 150
            and time.time() - bench_t0 < 330
        ):
            time.sleep(20)
            gate_wait_sec += 20
            continue
        out_dir = tempfile.mkdtemp(prefix="bench_pipe_", dir=scratch)
        t0 = time.time()
        run_pipeline(spark, seqs, PipelineConfig(out_dir=out_dir))
        dt = time.time() - t0
        shutil.rmtree(out_dir, ignore_errors=True)
        if i > 0:
            pipeline_runs.append(dt)
            run_spins.append(spin_probe())
            run_faults.append(f)
        i += 1
        if len(pipeline_runs) >= 2 and time.time() - bench_t0 > 300:
            break
    # report runs in RUN ORDER (spin/fault lists stay aligned per rep);
    # min/median from a sorted copy
    runs_sorted = sorted(pipeline_runs)
    pipeline_sec = runs_sorted[0]
    pipeline_median = runs_sorted[len(runs_sorted) // 2]

    # --- headline operator queries --------------------------------------
    # Materialize the shared spans-domain checkpoint ONCE before timing:
    # six graph queries reuse it by design (operators/spandom.py), so each
    # query's number is its true incremental cost instead of "whoever ran
    # first pays the ~6 s derivation". The derivation itself is reported as
    # its own line item and included in total_query_sec.
    from hypertrace_ingester_spark.operators import spandom

    t0 = time.time()
    spandom.spans(spark, sf_dir).count()
    query_secs: dict[str, float] = {
        "_spandom_shared": round(time.time() - t0, 3)
    }
    # three interleaved passes, per-query min: a single episodic host stall
    # otherwise poisons whichever queries it overlaps (one-sided noise, same
    # rationale as the pipeline best-run). Interleaving (full pass over the
    # list, then repeat) rather than back-to-back reps means a multi-minute
    # degraded window can't cover all reps of one query — round 3's two-pass
    # version still recorded 5.7 s for a 1.06 s query because both its reps
    # fell inside one window. Per-query spin probes (recorded at the min
    # run) and the raw runs list make contamination visible in the JSON
    # instead of needing a re-run to diagnose. Later passes are skipped when
    # the degraded-host guard has already spent the time budget.
    query_runs: dict[str, list[float]] = {}
    query_spins: dict[str, float] = {}
    passes_done = 0
    pass_gate_wait = 0.0
    for _pass in range(3):
        # between-pass fault gate (same rationale as the pipeline reps):
        # don't start a whole 20-query pass inside a collapsed window
        while (_pass > 0 and pass_gate_wait < 60
               and fault_probe() < 1.5
               and time.time() - bench_t0 < 420):
            time.sleep(20)
            pass_gate_wait += 20
        for name in HEADLINE:
            qd = REGISTRY[name]
            t0 = time.time()
            force(qd.fn(spark, sf_dir))
            dt = round(time.time() - t0, 3)
            runs = query_runs.setdefault(name, [])
            if not runs or dt <= min(runs):
                query_spins[name] = spin_probe()
            runs.append(dt)
        passes_done += 1
        if time.time() - bench_t0 > 420:
            break
    query_secs.update({n: min(v) for n, v in query_runs.items()})

    # --- ANN recall vs the exact baseline (same sf_dir embeddings) -------
    # recall@5 over the 20-query fixture: each approximate path's neighbor
    # pairs vs cosine_topk's. Reported so the recall/compute trade-off is a
    # measured number, not a docstring claim.
    from pyspark.sql import functions as F

    from hypertrace_ingester_spark.operators import similarity as sim
    from hypertrace_ingester_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    ann_queries = emb.filter(F.col("vec_id") < 20)

    def recall(df, exact_pairs):
        got = {(r["query_id"], r["neighbor_id"]) for r in df.collect()}
        return round(len(got & exact_pairs) / len(exact_pairs), 3)

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.cosine_topk(emb, ann_queries, k=5).collect()
    }
    trained = sim.fit_centroids(emb, 64)
    ann_recall = {
        "lsh_b8": recall(sim.ann_topk(emb, ann_queries, dim=64, k=5, bits=8), exact),
        "lsh_b8_multiprobe4": recall(
            sim.ann_topk(emb, ann_queries, dim=64, k=5, bits=8, nprobe=4), exact
        ),
        # multi-table union (classic LSH recall lever; corpus rows ×tables)
        "lsh_b8_t8_multiprobe4": recall(
            sim.ann_topk(emb, ann_queries, dim=64, k=5, bits=8, tables=8, nprobe=4),
            exact,
        ),
        "lsh_b8_t16_multiprobe4": recall(
            sim.ann_topk(emb, ann_queries, dim=64, k=5, bits=8, tables=16, nprobe=4),
            exact,
        ),
        "ivf_random_p4": recall(sim.ivf_topk(emb, ann_queries, dim=64, k=5), exact),
        "ivf_trained_p4": recall(
            sim.ivf_topk(emb, ann_queries, dim=64, k=5, centroids=trained), exact
        ),
        "ivf_trained_p4_ma2": recall(
            sim.ivf_topk(
                emb, ann_queries, dim=64, k=5, centroids=trained, corpus_probe=2
            ),
            exact,
        ),
    }
    # IVF-PQ (driver-gated via s_ann_ivf since round 5): production shape —
    # k-means codebooks on unit vectors + trained coarse centroids; ADC
    # quantization error costs recall vs exact-rerank IVF at equal probes
    books = sim.fit_pq_codebooks(emb, 64, m=8, k=64)
    ann_recall["ivfpq_trained_p4_m8"] = recall(
        sim.ivfpq_topk(emb, ann_queries, dim=64, codebooks=books, k=5,
                       centroids=trained)
        .withColumnRenamed("vec_id", "neighbor_id"), exact)
    ann_recall["ivfpq_trained_p4_m8_ma2"] = recall(
        sim.ivfpq_topk(emb, ann_queries, dim=64, codebooks=books, k=5,
                       centroids=trained, corpus_probe=2)
        .withColumnRenamed("vec_id", "neighbor_id"), exact)
    # PQ-then-exact-rerank: ADC top-100 -> exact cosine rescoring; should
    # recover exact-rerank IVF's recall at the same probes (the ADC stage
    # only has to get the true neighbor into its top-R)
    ann_recall["ivfpq_rerank100_p4_m8_ma2"] = recall(
        sim.ivfpq_rerank_topk(emb, ann_queries, dim=64, codebooks=books,
                              k=5, rerank=100, centroids=trained,
                              corpus_probe=2)
        .withColumnRenamed("vec_id", "neighbor_id"), exact)

    # --- Drain-tier log templates (catalog-neutral datum, round 5) -------
    # the depth-bounded tree tier over the V6 log-event summaries; not a
    # catalog entry (catalog is pinned at 50), so its cost/compression is
    # recorded here instead
    from hypertrace_ingester_spark.operators import drain as drain_mod

    # compose log-shaped lines from event columns (the raw events summary
    # degenerates to one masked template): numeric slots mask to <NUM>,
    # the node-name slot is an unmaskable literal only the tree tier can
    # wildcard — i.e. the case the Drain tier exists for
    ev = load_table(spark, sf_dir, "events")
    log_lines = ev.select(
        "event_id",
        F.format_string(
            "%s request for user %d on node %s completed in %.0f ms",
            F.col("event_type"), F.col("user_id"),
            F.element_at(
                F.array(*[F.lit(s) for s in
                          ("alpha", "bravo", "charlie", "delta", "echo")]),
                (F.col("user_id") % 5 + 1).cast("int")),
            F.col("value"),
        ).alias("summary"),
    )
    t0 = time.time()
    stats = (
        drain_mod.drain_templates(log_lines,
                                  msg_col="summary", order_col="event_id")
        .agg(
            F.count(F.lit(1)).alias("n_msgs"),
            F.countDistinct("cluster_id").alias("n_clusters"),
            F.sum("n_lines").alias("n_lines"),
        ).collect()[0]
    )
    drain_datum = {
        "sec": round(time.time() - t0, 3),
        "n_lines": int(stats["n_lines"]),
        "n_distinct_msgs": int(stats["n_msgs"]),
        "n_clusters": int(stats["n_clusters"]),
    }

    # one-word regime tag so a reader of the JSON doesn't have to re-derive
    # the calibration (BENCH/BASELINE.md): healthy >= 2 GB/s fault
    # bandwidth, sub-healthy 1-2 (numbers inflated up to ~2x), degraded
    # < 1 (numbers meaningless for code comparisons)
    faults_seen = [f for f in run_faults if f >= 0]
    med_fault = sorted(faults_seen)[len(faults_seen) // 2] if faults_seen \
        else probe_pre.get("fault_gbps", -1)
    regime = ("healthy" if med_fault >= 2.0 else
              "sub-healthy" if med_fault >= 1.0 else "degraded")

    result = {
        "metric": "e2e_pipeline_sec",
        "value": round(pipeline_sec, 3),
        "host_regime": regime,
        "unit": "sec",
        "queries": query_secs,
        "ann_recall_at_5": ann_recall,
        "drain_templates": drain_datum,
        "sf": sf,
        "pipeline_rows": n_rows,
        "throughput_seq_per_sec": round(n_rows / pipeline_sec, 1),
        "pipeline_median_sec": round(pipeline_median, 3),
        "median_throughput_seq_per_sec": round(n_rows / pipeline_median, 1),
        "pipeline_runs_sec": [round(t, 3) for t in pipeline_runs],
        "pipeline_run_spin_mops": run_spins,
        "pipeline_run_fault_gbps": run_faults,
        "gate_wait_sec": round(gate_wait_sec, 1),
        "cpus": cpus,
        "total_query_sec": round(sum(query_secs.values()), 3),
        "query_passes": passes_done,
        "query_pass_gate_wait_sec": round(pass_gate_wait, 1),
        "query_runs_sec": query_runs,
        "query_spin_mops": query_spins,
        "host_probe_pre": probe_pre,
        "host_probe_post": host_probe(own_jvms=1),
    }
    print(json.dumps(result))


if __name__ == "__main__":
    sys.exit(main())
