"""The benchmark's workloads. Each takes a ``Ctx`` and returns a dict with
the measured wall-clock windows and their total (``elapsed_s``), op counts,
the correctness verdict and its per-layer numbers."""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import statistics
import time

import pandas as pd

# clip backlog drained twice (tumbling, then join): 2 micro-batches of 16
# files. The job warms up on its first 8 files, so small files keep that
# warm-up (part of setup_s) short.
CLIPS_N = 2000
CLIPS_FILES = 32
BATCHES = 2
SALT = 8
# the reference's query verbs run on the repository's sf0.01 events table
# (10,000 rows, 5 tags), shipped here byte for byte so a run reads nothing
# outside its checkout; it does not depend on the seed
EVENTS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
# shuffle partitions of the session: the job's own default for the drains
# (the job reuses this session), the session default (= cores) for the
# queries, as the repository's oracle tool runs them
SHUFFLE_PARTITIONS = {"clip_jobs": 16, "rtdip_queries": None}
QUERIES = [
    "ts_resample_avg", "ts_resample_filled",
    "ts_interpolate_linear", "ts_interpolate_at_time",
    "ts_twa_linear", "ts_twa_step",
    "ts_latest", "ts_summary", "ts_circular_avg", "ts_asof_join", "ts_raw",
    "stream_twa",
    "dq_expectations", "dq_expectations_extended", "dq_expectations_conditioned",
]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def worker_warmup(spark, cores: int) -> None:
    """One small Arrow job per core, so the Python workers are running."""

    def identity(batches):
        yield from batches

    _noop(spark.range(0, cores * 1000, numPartitions=cores).mapInArrow(identity, "id long"))


class _TimedQuery:
    """StreamingQuery stand-in that stamps when ``awaitTermination`` returns."""

    def __init__(self, q, marks: dict, cpu) -> None:
        self._q, self._marks, self._cpu = q, marks, cpu

    def awaitTermination(self, *a):
        r = self._q.awaitTermination(*a)
        if "t1" not in self._marks:
            self._marks["t1"], self._marks["cpu1"] = time.time(), self._cpu()
        return r

    def __getattr__(self, name):
        return getattr(self._q, name)


def _instrument_stream(ctx, marks: dict) -> None:
    """Hook the stream entry points the job calls: ``run_to_sink`` marks the
    start of the measured drain, ``MergeSink.write_batch`` is timed on every
    run (its wall is part of each op), and the plan builders get spans."""
    from core_spark.streaming import join, sink, source, windows

    orig_run = sink.run_to_sink
    orig_write = sink.MergeSink.write_batch

    def run_to_sink(*a, **kw):
        marks["cpu0"], marks["t0"] = ctx.cpu(), time.time()
        with ctx.tracer.span("sink.run_to_sink"):
            q = orig_run(*a, **kw)
        marks["query_id"] = str(q.id)
        return _TimedQuery(q, marks, ctx.cpu)

    def write_batch(self, batch_df, batch_id):
        data = os.path.join(self.table_dir, "data")
        before = set(os.listdir(data)) if os.path.isdir(data) else set()
        t = time.time()
        with ctx.tracer.span("sink.write_batch", batch_id=batch_id):
            orig_write(self, batch_df, batch_id)
        marks.setdefault("write_ms", []).append((time.time() - t) * 1000.0)
        if ctx.tracer.enabled:
            # partitions this batch merged into: its lineage entry's
            # partitions that held data before the write
            entry = [e for e in self.lineage() if e["batch_id"] == batch_id][-1]
            parts = (f"{self.partition_col}={k}" for k in entry.get("partitions") or {})
            touched = [p for p in parts if p in before]
            marks.setdefault("rewritten", []).append(len(touched))
            marks.setdefault("rewritten_bytes", []).append(sum(
                os.path.getsize(os.path.join(dp, f))
                for p in touched for dp, _, fs in os.walk(os.path.join(data, p)) for f in fs
            ))

    ctx.patch(sink, "run_to_sink", run_to_sink)
    ctx.patch(sink.MergeSink, "write_batch", write_batch)
    if ctx.tracer.enabled:
        for mod, fn in ((source, "clips_stream"), (source, "corrections_stream"),
                        (windows, "tumbling_energy"), (join, "corrected_transcripts")):
            ctx.patch(mod, fn, ctx.tracer.spanned(getattr(mod, fn), f"{mod.__name__.split('.')[-1]}.{fn}"))


def _progress_layers(progress: list[dict]) -> dict:
    dur = lambda k: sum((p.get("durationMs") or {}).get(k, 0) for p in progress)  # noqa: E731
    trig = [(p.get("durationMs") or {}).get("triggerExecution", 0) for p in progress]
    rows = mem = 0
    commit = dropped = 0
    for p in progress:
        ops = p.get("stateOperators") or []
        r = sum(op.get("numRowsTotal") or 0 for op in ops)
        if r >= rows:
            rows, mem = r, sum(op.get("memoryUsedBytes") or 0 for op in ops)
        commit += sum(op.get("commitTimeMs") or 0 for op in ops)
        dropped += sum(op.get("numRowsDroppedByWatermark") or 0 for op in ops)
    return {
        "batch.count": len(progress),
        "batch.trigger_ms_p50": statistics.median(trig) if trig else 0,
        "batch.trigger_ms_max": max(trig, default=0),
        "batch.query_planning_ms": dur("queryPlanning"),
        "batch.add_batch_ms": dur("addBatch"),
        "batch.wal_commit_ms": dur("walCommit"),
        "source.get_batch_ms": dur("getBatch"),
        "state.rows_total": rows,
        "state.memory_bytes": mem,
        "state.bytes_per_row": mem / rows if rows else 0,
        "state.commit_ms": commit,
        "state.rows_dropped_by_watermark": dropped,
    }


def _drain(ctx, mode: str) -> dict:
    """One closed-loop drain of the pre-landed backlog through the shipped
    spark-submit entrypoint, ``streaming.job``; per-layer names carry the
    mode as a prefix."""
    from core_spark.streaming import job
    from core_spark.streaming.sink import MergeSink

    from . import check

    work = ctx.fresh_dir(f"job_{mode}")
    if mode == "join":
        shutil.copytree(ctx.inputs["corrections"], os.path.join(work, "corrections"))
    marks: dict = {}
    _instrument_stream(ctx, marks)
    argv = ["--cores", str(ctx.cores), "--mode", mode, "--input", ctx.inputs["clips"],
            "--work", work, "--keep-work", "--salt", str(SALT), "--spectral", "1",
            "--batches", str(BATCHES),
            "--files-per-trigger", str(ctx.inputs["clips_files"] // BATCHES),
            "--n-clips", str(ctx.clips_n)]
    marks["job_start"] = time.time()
    try:
        with ctx.tracer.span(f"job.main.{mode}"), contextlib.redirect_stdout(io.StringIO()):
            job.main(argv)
    finally:
        ctx.unpatch()
    t0, t1 = marks["t0"], marks["t1"]
    progress = ctx.listener.of(marks["query_id"])
    with open(os.path.join(work, "progress.jsonl"), "w") as f:
        f.writelines(json.dumps(p) + "\n" for p in progress)
    sink = MergeSink(os.path.join(work, f"out_{mode}"), key_cols=["clip_id"])
    with ctx.untimed():
        out = sink.read(ctx.spark).toPandas()
        ckpt = os.path.join(work, f"ckpt_{mode}")
        if mode == "join":
            failed, problems = check.join_gate(out, ctx.inputs["clips"], ctx.inputs["corrections"])
        else:
            energy = reference_energy(ctx.spark, ctx.inputs["clips"], ctx.inputs["energy_cache"])
            failed, problems = check.windows_gate(out, ctx.inputs["clips"], energy, ckpt, progress)
    rows = sum(e["rows"] for e in sink.lineage() if "rows" in e)
    write_ms = marks.get("write_ms") or [0]
    layers = {
        **_progress_layers(progress),
        "job.warmup_s": t0 - marks["job_start"],
        "clips_per_s": ctx.clips_n / (t1 - t0),
        "sink.write_batch_ms_p50": statistics.median(write_ms),
        "sink.write_batch_ms_max": max(write_ms),
        "sink.write_batch_s_total": sum(write_ms) / 1000.0,
        "sink.rows_committed": rows,
        "sink.partitions_rewritten": sum(marks.get("rewritten") or [0]),
        "sink.bytes_rewritten_per_row": sum(marks.get("rewritten_bytes") or [0]) / rows if rows else 0,
    }
    if mode == "join":
        layers["corrected_rows"] = int(out["corrected"].sum())
    return {
        "windows": [(t0, t1)], "elapsed_s": t1 - t0, "cpu_s": marks["cpu1"] - marks["cpu0"],
        "attempted": len(progress), "failed": len(failed),
        "problems": [f"{mode}: {p}" for p in problems],
        "layers": {f"{mode}.{k}": v for k, v in layers.items()},
    }


def clip_jobs(ctx) -> dict:
    """The backlog drained by the job in tumbling mode (decode-heavy), then
    in join mode (decode pruned away; join state and sink merges)."""
    runs = [_drain(ctx, mode) for mode in ctx.modes]
    return {
        "windows": [w for r in runs for w in r["windows"]],
        "elapsed_s": sum(r["elapsed_s"] for r in runs),
        "cpu_s": sum(r["cpu_s"] for r in runs),
        "attempted": sum(r["attempted"] for r in runs),
        "failed": sum(r["failed"] for r in runs),
        "problems": [p for r in runs for p in r["problems"]],
        "layers": {k: v for r in runs for k, v in r["layers"].items()},
    }


def clips_probes(ctx) -> dict:
    """Scan and decode measured on their own (traced runs of clip_jobs):
    a noop write of the clip table's decode columns, then the same plus the
    Arrow feature pass."""
    from core_spark.streaming.source import clips_batch
    from core_spark.streaming.windows import clip_features_spectral

    cols = ["clip_id", "ingest_ts", "sr_hz", "dur_ms", "bytes", "codec"]
    df = clips_batch(ctx.spark, ctx.inputs["clips"])
    t = time.time()
    with ctx.tracer.span("scan"):
        _noop(df.select(*cols))
    scan = time.time() - t
    t = time.time()
    with ctx.tracer.span("decode"):
        _noop(clip_features_spectral(df))
    decode = time.time() - t
    return {"scan.s": scan, "decode.s": decode, "decode.self_s": decode - scan,
            "decode.clips_per_s": ctx.clips_n / decode}


def rtdip_queries(ctx, oracle: bool = True) -> dict:
    """The reference's query verbs, one at a time, each fully materialized
    through a ``noop`` write, after an untimed oracle pass over the same
    table (which also warms code generation and the Python workers)."""
    import duckdb

    from core_spark import registry

    from . import check

    sf_dir = ctx.inputs["events"]
    failed, problems = set(), []
    if oracle:
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
        )
        with ctx.untimed():
            failed, problems = check.oracle_gate(
                ctx.spark, con, registry.QUERIES, registry.ORACLES, QUERIES, sf_dir, ctx.cores)
        con.close()
    walls, windows, cpu = {}, [], 0.0
    for name in QUERIES:
        c, t = ctx.cpu(), time.time()
        with ctx.tracer.span(f"query.{name}"):
            try:
                _noop(registry.QUERIES[name](ctx.spark, sf_dir))
            except Exception as ex:  # counted as a failed op, run continues
                failed.add(name)
                problems.append(f"{name}: {str(ex).splitlines()[0][:200]}")
        walls[name] = time.time() - t
        cpu += ctx.cpu() - c
        windows.append((t, t + walls[name]))
    return {
        "windows": windows, "elapsed_s": sum(walls.values()), "cpu_s": cpu,
        "attempted": len(QUERIES), "failed": len(failed), "problems": problems,
        "layers": {f"query.{n}_s": w for n, w in walls.items()},
    }


WORKLOADS = {"clip_jobs": clip_jobs, "rtdip_queries": rtdip_queries}


def reference_energy(spark, clips_dir: str, cache_path: str) -> pd.Series:
    """Per-clip energy from the batch feature pass, indexed by clip index.

    A clip's payload is a function of its index alone (the seed moves only
    its id prefix and timestamp), so one batch pass serves every seed."""
    if not os.path.exists(cache_path):
        from core_spark.streaming.source import clips_batch
        from core_spark.streaming.windows import clip_features_spectral

        pdf = clip_features_spectral(clips_batch(spark, clips_dir)).select(
            "clip_id", "energy").toPandas()
        pdf["i"] = pdf["clip_id"].str[3:].astype(int)
        tmp = cache_path + ".tmp"
        pdf[["i", "energy"]].to_parquet(tmp)
        os.replace(tmp, cache_path)
    pdf = pd.read_parquet(cache_path)
    return pdf.set_index("i")["energy"]
