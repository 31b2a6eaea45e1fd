"""stream-trickle: an open loop of small files into the streaming face.

A publisher thread moves pre-generated parquet files into the watched
directory by atomic rename, one every ``INTERVAL_S`` seconds, on a fixed
schedule that does not slow when the query does.
``run_streaming_pipeline(..., trigger_available_now=False)`` consumes them.
A file's latency runs from the time it was due to the commit of the
micro-batch that read it. Files map to batches through the checkpoint's
``sources/0`` log, including its ``*.compact`` files, and batches to
commit times through the ``commits/`` log.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from urllib.parse import unquote, urlparse

import pyarrow.parquet as pq

from . import checks, host, inputs
from .common import Ctx, dir_bytes, quantiles
from .tracing import read_event_log

FILE_ROWS = 100
INTERVAL_S = 0.25
WARMUP_S = 8.0
DRAIN_S = 10.0


def file_batches(source_log_dir: str) -> dict[str, int]:
    """Published file path -> batch id, from a file-stream source log.
    A ``<n>.compact`` file repeats every entry up to batch ``n``."""
    out: dict[str, int] = {}
    for name in os.listdir(source_log_dir):
        if name.startswith(".") or not name.split(".")[0].isdigit():
            continue
        with open(os.path.join(source_log_dir, name)) as f:
            lines = f.read().splitlines()
        for line in lines[1:]:  # the first line is the log version
            if line.strip():
                entry = json.loads(line)
                out[unquote(urlparse(entry["path"]).path)] = entry["batchId"]
    return out


def commit_times(commits_dir: str) -> dict[int, float]:
    return {int(n): os.stat(os.path.join(commits_dir, n)).st_mtime
            for n in os.listdir(commits_dir) if n.isdigit()}


class Publisher(threading.Thread):
    """Renames ``files[i]`` into ``dest`` at ``t0 + i * interval``."""

    def __init__(self, files: list[str], dest: str, t0: float, interval: float):
        super().__init__(daemon=True)
        self.files, self.dest, self.t0, self.interval = files, dest, t0, interval
        self.due: dict[str, float] = {}
        self.late: list[float] = []
        self.stop_event = threading.Event()
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for i, src in enumerate(self.files):
                due = self.t0 + i * self.interval
                if self.stop_event.wait(max(0.0, due - time.time())):
                    return
                dst = os.path.join(self.dest, f"part-{i:05d}.parquet")
                os.rename(src, dst)
                self.late.append(time.time() - due)
                self.due[dst] = due
        except BaseException as e:  # noqa: BLE001 - surfaced by the caller
            self.error = e


def run(ctx: Ctx) -> None:
    from hypertrace_ingester_spark.plans.pipeline import PipelineConfig
    from hypertrace_ingester_spark.plans.streaming_pipeline import run_streaming_pipeline

    tr = ctx.tracer
    n_files = int((WARMUP_S + ctx.seconds) / INTERVAL_S)
    stage, watched, out = ctx.path("stage"), ctx.path("in"), ctx.path("out")

    sr = ctx.spark_run(event_log=ctx.trace)
    with tr.span("session.start"):
        t0 = time.perf_counter()
        spark = sr.start(f"perfbench-{ctx.workload}")
        ctx.layers["session.start_s"] = time.perf_counter() - t0

    with tr.span("datagen.input"):
        t0 = time.perf_counter()
        seq = inputs.sequences(spark, n_files * FILE_ROWS, ctx.seed)
        table = seq.toArrow().sort_by("doc_id")
        os.makedirs(stage)
        files = [os.path.join(stage, f"{i:05d}.parquet") for i in range(n_files)]
        for i, path in enumerate(files):
            pq.write_table(table.slice(i * FILE_ROWS, FILE_ROWS), path)
        ctx.layers["datagen.input_s"] = time.perf_counter() - t0
    os.makedirs(watched)

    stream = spark.readStream.schema(seq.schema).parquet(watched)
    query = run_streaming_pipeline(spark, stream, PipelineConfig(out_dir=out),
                                   trigger_available_now=False)
    ckpt = os.path.join(out, "_stream_checkpoint")
    t_pub = time.time() + 0.2
    window = (t_pub + WARMUP_S, t_pub + WARMUP_S + ctx.seconds)
    pub = Publisher(files, watched, t_pub, INTERVAL_S)
    cpu = {}
    try:
        pub.start()
        time.sleep(max(0.0, window[0] - time.time()))
        ctx.e2e["setup_s"] = time.time() - ctx.t_proc
        cpu[0] = host.tree_cpu_s(sr.jvm_pid)
        time.sleep(max(0.0, window[1] - time.time()))
        cpu[1] = host.tree_cpu_s(sr.jvm_pid)
        pub.join(timeout=ctx.seconds + WARMUP_S + 5)
        if pub.error:
            raise pub.error
        deadline = time.time() + DRAIN_S
        while time.time() < deadline:
            mapping = file_batches(os.path.join(ckpt, "sources", "0"))
            done = commit_times(os.path.join(ckpt, "commits"))
            if all(mapping.get(p) in done for p in pub.due):
                break
            time.sleep(0.2)
        progress = query.recentProgress
    finally:
        pub.stop_event.set()
        query.stop()
    ctx.e2e["peak_rss_mb"] = ctx.peak_rss_mb(sr.jvm_pid)

    mapping = file_batches(os.path.join(ckpt, "sources", "0"))
    done = commit_times(os.path.join(ckpt, "commits"))
    committed = [p for p in pub.due if mapping.get(p) in done]
    lat = {p: done[mapping[p]] - pub.due[p] for p in committed}
    measured = [p for p, d in pub.due.items() if window[0] <= d < window[1]]
    missed = [p for p in pub.due if p not in lat]
    ctx.attempted += len(pub.due)
    ctx.failed += len(missed)
    if missed:
        ctx.problems.append(f"{len(missed)} files not committed within {DRAIN_S}s of the last due time")

    con = checks.connect()
    checks.load_expected(con, committed)
    ctx.info["input"] = checks.input_shares(con, committed) | {
        "files": len(pub.due), "file_rows": FILE_ROWS, "interval_s": INTERVAL_S}
    counts, problems = checks.check_routed(con, out, allow_duplicates=True)
    con.close()
    ctx.info["check"] = counts  # duplicates are reported, not failed
    ctx.problems += problems

    batches = [p for p in progress if p.numInputRows > 0]
    m_batches = sorted({mapping[p] for p in measured if p in lat})
    in_window = [p for p in batches if p.batchId in set(m_batches)]
    p50, p90 = quantiles([lat[p] for p in measured if p in lat])
    rows_w = sum(p.numInputRows for p in in_window)
    busy_s = sum(p.durationMs.get("triggerExecution", 0) for p in in_window) / 1000
    _, routed_bytes = dir_bytes(out + "/routed/*/*.parquet")
    ctx.e2e.update({
        "cold_run_s": batches[0].durationMs["triggerExecution"] / 1000,
        "seq_per_s": rows_w / busy_s,
        "bytes_per_row": routed_bytes / max(counts["routed"], 1),
        "latency_p50_s": p50,
        "latency_p90_s": p90,
        "cpu_us_per_row": sum(cpu[1][k] - cpu[0][k] for k in cpu[0])
        / max(len(measured) * FILE_ROWS, 1) * 1e6,
    })
    ctx.info["latency_samples"] = len([p for p in measured if p in lat])

    if ctx.trace:
        def med(key: str) -> float:
            return statistics.median(p.durationMs.get(key, 0) for p in in_window) / 1000

        trig = [p.durationMs["triggerExecution"] / 1000 for p in in_window]
        b50, b90 = quantiles(trig)
        backlog = [p for p in measured if p not in lat or done[mapping[p]] > window[1]]
        files_n, nbytes = dir_bytes(out + "/routed/*/*.parquet")
        ctx.layers.update({
            "stream.batches": len(in_window),
            "stream.rows_per_batch": statistics.median(p.numInputRows for p in in_window),
            "stream.batch_p50_s": b50,
            "stream.batch_p90_s": b90,
            "stream.add_batch_s": med("addBatch"),
            "stream.plan_s": med("queryPlanning"),
            "stream.source_s": med("latestOffset") + med("getBatch"),
            "stream.commit_s": med("walCommit") + med("commitOffsets"),
            "stream.gen_late_s": max(pub.late),
            "stream.backlog_end": len(backlog),
            "route.files": files_n,
            "route.bytes": nbytes,
        })
        sr.close()
        log = read_event_log(sr.event_log_path())
        per_batch: dict[str, int] = {}
        for job in log.jobs.values():
            if job.batch_id is not None and int(job.batch_id) in set(m_batches):
                per_batch[job.batch_id] = per_batch.get(job.batch_id, 0) + 1
        ctx.layers["stream.jobs_per_batch"] = statistics.median(per_batch.values()) if per_batch else 0
