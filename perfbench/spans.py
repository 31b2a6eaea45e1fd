"""spans-graph: three trace-graph catalog operators over seeded events
tables, each forced with a noop sink.

``v_span_event_view``, ``g_api_nodes`` and ``v_service_call_view`` walk
each trace inside ``applyInPandas``, so this is the workload that crosses
the Python-worker boundary. The shared spans derivation
(``operators.spandom.spans``) is built once per table in set-up, as the
catalog does.

Set-up first runs every operator over a small warm-up table, so the JVM's
JIT and the session's Python workers are warm. A "cold" pass is then the
first pass over a table the session has not walked yet, writing parquet;
it is made over ``COLD_TABLES`` tables and reported as their median,
because a single pass moves with the shared host. The timed window
interleaves those cold passes with warm noop passes over the first
measured table.
"""

from __future__ import annotations

import glob
import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

from . import checks, host, inputs
from .common import Ctx, quantiles
from .tracing import ledger, read_event_log

QUERIES = ("v_span_event_view", "g_api_nodes", "v_service_call_view")
N_EVENTS = 4_000
WARMUP_EVENTS = 2_000
COLD_TABLES = 3
COLD_EVERY = 2  # a cold pass, then a warm one
ORACLE_TRACES = 8  # per measured table
MIN_PASSES = 3


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run(ctx: Ctx) -> None:
    from hypertrace_ingester_spark import queries as qcat
    from hypertrace_ingester_spark.operators import spandom

    tr = ctx.tracer
    # table 0 warms the session; tables 1..COLD_TABLES are measured
    tables = [ctx.path(f"sf{i}") for i in range(COLD_TABLES + 1)]
    with tr.span("datagen.input"):
        t0 = time.perf_counter()
        for i, sf in enumerate(tables):
            inputs.write_events(sf, N_EVENTS if i else WARMUP_EVENTS, (ctx.seed, i))
        ctx.layers["datagen.input_s"] = time.perf_counter() - t0

    sr = ctx.spark_run(event_log=ctx.trace)
    with tr.span("session.start"):
        t0 = time.perf_counter()
        spark = sr.start(f"perfbench-{ctx.workload}")
        ctx.layers["session.start_s"] = time.perf_counter() - t0
    sc = spark.sparkContext
    fns = {q: qcat.queries()[q] for q in QUERIES}
    ctx.mark("session")

    with tr.span("warmup"):
        sc.setJobGroup("warmup", "warm-up table")
        spandom.spans(spark, tables[0]).count()
        for q in QUERIES:  # parquet, so the cold passes' writer is warm too
            fns[q](spark, tables[0]).write.parquet(ctx.path("warmup", q))
    ctx.mark("warmup")

    builds, counts = [], []
    for i in range(1, len(tables)):
        with tr.span("spandom.build", run_id=f"sf{i}"):
            t0 = time.perf_counter()
            sc.setJobGroup(f"spandom.build.sf{i}", "spans derivation")
            counts.append(spandom.spans(spark, tables[i]).count())
            builds.append(time.perf_counter() - t0)
    ctx.layers["spandom.build_s"] = statistics.median(builds)
    sf, n_spans = tables[1], counts[0]  # the timed passes walk the first measured table
    n_traces = spark.read.parquet(sf).select("user_id").distinct().count()
    ctx.info["input"] = {"events": n_spans, "traces": n_traces,
                         "spans_per_trace": n_spans / n_traces}

    # cold passes write parquet (their output is what the oracle checks);
    # they are spread over the window between the warm noop passes over sf1,
    # so both sample the same stretch of the shared host
    outputs = {i: {q: ctx.path("out", f"sf{i}", q) for q in QUERIES}
               for i in range(1, len(tables))}
    ctx.e2e["setup_s"] = time.time() - ctx.t_proc
    ctx.mark("setup")

    colds: list[float] = []
    passes: list[float] = []
    per_query: dict[str, list[float]] = {q: [] for q in QUERIES}
    cpu: dict[str, float] = {}
    t_end = time.perf_counter() + ctx.seconds
    while (len(colds) < COLD_TABLES or len(passes) < MIN_PASSES
           or time.perf_counter() + statistics.median(passes) <= t_end):
        # every COLD_EVERY-th pass is cold until each measured table had one
        if len(colds) < COLD_TABLES and (len(colds) + len(passes)) % COLD_EVERY == 0:
            i = len(colds) + 1
            with tr.span("trace_graph.cold", run_id=f"sf{i}"):
                t0 = time.perf_counter()
                for q in QUERIES:
                    sc.setJobGroup(f"cold.sf{i}.{q}", q)
                    fns[q](spark, tables[i]).write.parquet(outputs[i][q])
                colds.append(time.perf_counter() - t0)
            continue
        i = len(passes)
        cpu0 = host.tree_cpu_s(sr.jvm_pid)
        with tr.span("trace_graph.pass", run_id=f"pass-{i}"):
            t_pass = time.perf_counter()
            for q in QUERIES:
                sc.setJobGroup(f"pass-{i}.{q}", q)
                with tr.span(f"trace_graph.{q}", run_id=f"pass-{i}"):
                    t0 = time.perf_counter()
                    _force(fns[q](spark, sf))
                    per_query[q].append(time.perf_counter() - t0)
            passes.append(time.perf_counter() - t_pass)
        for k, v in host.tree_cpu_s(sr.jvm_pid).items():
            cpu[k] = cpu.get(k, 0.0) + v - cpu0.get(k, 0.0)
    ctx.e2e["cold_run_s"] = statistics.median(colds)
    ctx.e2e["peak_rss_mb"] = ctx.peak_rss_mb(sr.jvm_pid)

    ctx.mark("window")
    files = glob.glob(ctx.path("out", "*", "*", "*.parquet"))
    out_rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    out_bytes = sum(os.path.getsize(f) for f in files)
    rng = np.random.default_rng(ctx.seed)
    con = checks.connect()
    for i, out in outputs.items():
        sample = rng.choice(n_traces, size=min(ORACLE_TRACES, n_traces), replace=False).tolist()
        problems = checks.check_spans(con, os.path.join(tables[i], "events.parquet"), sample, out)
        # a wrong operator fails its cold pass, and every timed pass over sf1 too
        runs = 1 + (len(passes) if i == 1 else 0)
        for q, found in problems.items():
            ctx.attempted += runs
            if found:
                ctx.failed += runs
                ctx.problems += [f"sf{i} {q}: {p}" for p in found]
    con.close()
    ctx.mark("checks")

    p50, p90 = quantiles(passes)
    ctx.e2e.update({
        "seq_per_s": n_spans / p50,
        "bytes_per_row": out_bytes / out_rows,
        "latency_p50_s": p50,
        "latency_p90_s": p90,
        "cpu_us_per_row": sum(cpu.values()) / (n_spans * len(passes)) * 1e6,
    })
    ctx.info["pass_walls_s"] = [round(w, 3) for w in passes]
    ctx.info["cold_walls_s"] = [round(w, 3) for w in colds]

    if ctx.trace:
        n = len(passes)
        ctx.layers.update({f"trace_graph.{q}_s": statistics.median(v) for q, v in per_query.items()})
        ctx.layers["trace_graph.py_cpu_s"] = cpu["python"] / n
        sr.close()
        log = read_event_log(sr.event_log_path())
        tg = ledger(log, ctx.cores, lambda j: j.group.startswith("pass-"))
        ctx.layers.update({
            "trace_graph.cpu_s": tg["cpu_s"] / n,
            "trace_graph.slot_util": tg["slot_util"],
            "trace_graph.py_bytes": tg["python_bytes"] / n,
            "pipeline.jobs": tg["jobs"] / n,
            "pipeline.gc_s": tg["gc_s"] / n,
            "pipeline.shuffle_bytes": tg["shuffle_bytes"] / n,
            "pipeline.spill_bytes": tg["spill_bytes"] / n,
        })
