"""Seeded benchmark inputs, generated once per (seed, size) and cached.

Everything the program under test reads is written here, before any
measured run and outside any timed region:

- clip backlogs: ``core_spark.synth.make_clips_pdf`` slices, one parquet
  file per slice, with file modification times set in index order so a
  file stream replays them in event-time order;
- transcript corrections: ``synth.make_corrections_pdf_range``.

Only the newest few cache entries are kept, so runs over many seeds do
not fill the disk.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

KEEP_ENTRIES = 4


def _done_marker(d: str) -> str:
    return os.path.join(d, "_SUCCESS")


def _cached(cache: str, name: str, build) -> str:
    """Directory ``cache/name``, built by ``build(tmp_dir)`` if absent.

    The build writes into a temporary directory that is renamed into place,
    so an interrupted run never leaves a half-written entry behind."""
    d = os.path.join(cache, name)
    if os.path.exists(_done_marker(d)):
        os.utime(d)
        return d
    os.makedirs(cache, exist_ok=True)
    entries = sorted(
        (os.path.join(cache, e) for e in os.listdir(cache)), key=os.path.getmtime
    )
    for old in entries[: max(0, len(entries) - KEEP_ENTRIES + 1)]:
        shutil.rmtree(old, ignore_errors=True)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(_done_marker(tmp), "w").close()
    os.replace(tmp, d)
    return d


def _arrow_clips(pdf: pd.DataFrame) -> pa.Table:
    from core_spark.synth import CLIPS_SCHEMA

    pdf = pdf.assign(ingest_ts=pd.to_datetime(pdf["ingest_ts"]).dt.tz_localize("UTC"))
    types = {"string": pa.string(), "binary": pa.binary(), "integer": pa.int32(),
             "timestamp": pa.timestamp("us", tz="UTC")}
    schema = pa.schema(
        [pa.field(f.name, types[f.dataType.typeName()], False) for f in CLIPS_SCHEMA]
    )
    return pa.Table.from_pandas(pdf[schema.names], schema=schema, preserve_index=False)


def _write_clip_files(jobs: list[list]) -> None:
    from core_spark.synth import make_clips_pdf

    for path, seed, lo, hi in jobs:
        pq.write_table(_arrow_clips(make_clips_pdf(hi - lo, seed, start=lo)), path)


def _run_workers(groups: list[list]) -> None:
    """One ``python -m perfbench.inputs`` process per group of jobs, each
    waited for, on every path out (a multiprocessing pool would leave its
    resource tracker running after this process exits)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    procs = []
    try:
        for g in groups:
            procs.append(subprocess.Popen(
                [sys.executable, "-m", "perfbench.inputs", json.dumps(g)], cwd=root))
        codes = [p.wait() for p in procs]
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()
    if any(codes):
        raise RuntimeError(f"clip generation failed: exit codes {codes}")


def _order_mtimes(paths: list[str]) -> None:
    """File streams take the oldest files first; pin index order."""
    base = 1_700_000_000
    for k, p in enumerate(paths):
        os.utime(p, (base + k, base + k))


def _slices(n: int, n_files: int) -> list[tuple[int, int]]:
    return [(k * n // n_files, (k + 1) * n // n_files) for k in range(n_files)]


def clips(cache: str, seed: int, n: int, n_files: int, workers: int) -> str:
    """Clip backlog with audio payloads: ``n_files`` index-ordered files."""

    def build(d: str) -> None:
        jobs = [
            (os.path.join(d, f"part-{k:05d}.parquet"), seed, lo, hi)
            for k, (lo, hi) in enumerate(_slices(n, n_files))
        ]
        w = max(1, min(workers, len(jobs)))
        _run_workers([jobs[k::w] for k in range(w)])
        _order_mtimes([j[0] for j in jobs])

    return _cached(cache, f"clips_s{seed}_n{n}_f{n_files}", build)


def corrections(cache: str, seed: int, n: int, n_files: int) -> str:
    """Corrections for clips [0, n): every 10th clip, every 3rd of those
    beyond the 60 s join tolerance (synth's ground truth)."""
    from core_spark.synth import make_corrections_pdf_range

    def build(d: str) -> None:
        pdf = make_corrections_pdf_range(0, n, seed=seed)
        pdf["correction_ts"] = pd.to_datetime(pdf["correction_ts"]).dt.tz_localize("UTC")
        schema = pa.schema([
            pa.field("clip_id", pa.string(), False),
            pa.field("corrected_transcript", pa.string(), False),
            pa.field("correction_ts", pa.timestamp("us", tz="UTC"), False),
        ])
        for k, (lo, hi) in enumerate(_slices(len(pdf), n_files)):
            pq.write_table(
                pa.Table.from_pandas(pdf.iloc[lo:hi], schema=schema, preserve_index=False),
                os.path.join(d, f"part-{k:05d}.parquet"),
            )

    return _cached(cache, f"corr_s{seed}_n{n}_f{n_files}", build)


if __name__ == "__main__":
    _write_clip_files(json.loads(sys.argv[1]))
