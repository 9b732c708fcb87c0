"""Correctness gates: every measured output is compared with a reference.

Each gate returns the set of failed op ids (micro-batch ids or query
names) plus a list of human-readable problems; an empty set means the
workload's output is correct.
"""

from __future__ import annotations

import glob
import json
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

WINDOW_US = 60 * 10**6


def _ts_us(series: pd.Series) -> np.ndarray:
    return pd.to_datetime(series, utc=True).dt.as_unit("us").astype("int64").to_numpy()


def _wm_us(progress: dict) -> int:
    wm = (progress.get("eventTime") or {}).get("watermark")
    return 0 if wm is None else int(pd.Timestamp(wm).value // 1000)


def file_batches(checkpoint: str) -> dict[str, int]:
    """Input file name -> micro-batch id, from the file source's log in
    the query checkpoint."""
    out = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        with open(path) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def read_clips(clips_dir: str, columns: list[str]) -> pd.DataFrame:
    frames = []
    for path in sorted(glob.glob(os.path.join(clips_dir, "part-*.parquet"))):
        pdf = pq.read_table(path, columns=columns).to_pandas()
        pdf["_file"] = os.path.basename(path)
        frames.append(pdf)
    return pd.concat(frames, ignore_index=True)


def windows_gate(
    sink: pd.DataFrame,
    clips_dir: str,
    energy: pd.Series,
    checkpoint: str,
    progress: list[dict],
) -> tuple[set, list[str]]:
    """Streaming tumbling windows vs a batch recomputation.

    A clip is dropped as late when its window has closed by the watermark
    in force before its micro-batch (Spark filters late rows on the
    previous batch's watermark), so the batch side keeps exactly the clips
    the stream admitted. Every emitted window must then equal the batch
    aggregate of its admitted clips (``n_clips`` and ``sum_dur_ms`` exact,
    ``avg_energy`` within 1e-9); every admitted window not emitted must
    still be open under the final watermark; and all clips must be
    accounted for as emitted, dropped (consistent with the progress counts)
    or held in open windows. ``energy`` is the batch feature pass's per-clip
    energy, indexed by clip index."""
    problems: list[str] = []
    failed: set = set()
    clips = read_clips(clips_dir, ["clip_id", "ingest_ts", "dur_ms"])
    batch_of = file_batches(checkpoint)
    prog = sorted(progress, key=lambda p: p["batchId"])
    wm = {p["batchId"]: _wm_us(p) for p in prog}
    prev_wm = {b: wm.get(b - 1, 0) for b in wm}
    clips["batch"] = clips["_file"].map(batch_of)
    if clips["batch"].isna().any():
        problems.append(f"{int(clips['batch'].isna().sum())} clips in no micro-batch")
        return {-1}, problems
    ts = _ts_us(clips["ingest_ts"])
    clips["w_start"] = ts - ts % WINDOW_US
    clips["prefix"] = clips["clip_id"].str[:2]
    clips["energy"] = energy.reindex(clips["clip_id"].str[3:].astype(int)).to_numpy()
    late = clips["w_start"] + WINDOW_US <= clips["batch"].map(prev_wm).to_numpy()
    dropped = int(late.sum())
    # the stateful operator counts the late partial-aggregate rows it drops,
    # not clips: per batch it must drop something exactly when late clips
    # arrived, and never more rows than clips
    late_clips = clips[late].groupby("batch").size()
    for p in prog:
        rows = sum(op.get("numRowsDroppedByWatermark") or 0
                   for op in p.get("stateOperators") or [])
        clips_late = int(late_clips.get(p["batchId"], 0))
        if (rows > 0) != (clips_late > 0) or rows > clips_late:
            problems.append(f"batch {p['batchId']}: {clips_late} late clips, "
                            f"{rows} rows dropped by the watermark")
            failed.add(p["batchId"])
    ref = (
        clips[~late]
        .groupby(["w_start", "prefix"])
        .agg(n=("clip_id", "size"), dur=("dur_ms", "sum"), e=("energy", "sum"))
        .reset_index()
    )
    out = sink.assign(w_start=_ts_us(sink["window_start"]))
    if out.duplicated(["w_start", "prefix"]).any():
        problems.append("duplicate window rows in the sink")
        failed.update(out.loc[out.duplicated(["w_start", "prefix"]), "_batch_id"])
    m = out.merge(ref, on=["w_start", "prefix"], how="outer", indicator=True)
    emitted = m[m["_merge"] != "right_only"]
    bad = emitted[
        (emitted["_merge"] == "left_only")
        | (emitted["n_clips"] != emitted["n"])
        | (emitted["sum_dur_ms"] != emitted["dur"])
        | ~(np.abs(emitted["avg_energy"] - emitted["e"] / emitted["n"]) <= 1e-9)
    ]
    if len(bad):
        problems.append(f"{len(bad)} emitted windows differ from the batch reference")
        failed.update(bad["_batch_id"].astype(int))
    held = m[m["_merge"] == "right_only"]
    final_wm = wm[prog[-1]["batchId"]] if prog else 0
    closed = held[held["w_start"] + WINDOW_US <= final_wm]
    if len(closed):
        problems.append(f"{len(closed)} closed windows never emitted")
        failed.add(-1)
    total = int(emitted["n_clips"].sum()) + dropped + int(held["n"].sum())
    if total != len(clips):
        problems.append(f"clip accounting: {total} of {len(clips)}")
        failed.add(-1)
    return failed, problems


def join_gate(
    sink: pd.DataFrame, clips_dir: str, corrections_dir: str, tolerance_s: int = 60
) -> tuple[set, list[str]]:
    """Corrections join vs the synth ground truth: each clip emitted at
    most once, and the corrected set equals the corrections that arrived
    within the tolerance, restricted to the emitted clips."""
    problems: list[str] = []
    failed: set = set()
    dup = sink["clip_id"].duplicated(keep=False)
    if dup.any():
        problems.append(f"{int(dup.sum())} rows repeat a clip_id")
        failed.update(sink.loc[dup, "_batch_id"].astype(int))
    clips = read_clips(clips_dir, ["clip_id", "ingest_ts"])
    corr = pd.concat(
        [pq.read_table(p).to_pandas()
         for p in sorted(glob.glob(os.path.join(corrections_dir, "part-*.parquet")))],
        ignore_index=True,
    ).merge(clips, on="clip_id")
    lag = _ts_us(corr["correction_ts"]) - _ts_us(corr["ingest_ts"])
    truth = set(corr.loc[(lag >= 0) & (lag <= tolerance_s * 10**6), "clip_id"])
    emitted = set(sink["clip_id"])
    got = set(sink.loc[sink["corrected"], "clip_id"])
    wrong = got.symmetric_difference(truth & emitted)
    if wrong:
        problems.append(f"{len(wrong)} clips with the wrong corrected flag")
        failed.update(sink.loc[sink["clip_id"].isin(wrong), "_batch_id"].astype(int))
    final = np.where(sink["corrected"], sink["corrected_transcript"], sink["transcript"])
    off = sink[sink["final_transcript"] != final]
    if len(off):
        problems.append(f"{len(off)} rows with the wrong final_transcript")
        failed.update(off["_batch_id"].astype(int))
    return failed, problems


def oracle_gate(spark, con, queries, oracles, names, sf_dir,
                threads: int) -> tuple[set, list[str]]:
    """Each query's rows vs its registry DuckDB oracle, compared exactly
    after the canonical normalisation ``tools/check_oracles.py`` applies.
    The Spark side runs ``threads`` queries at a time; the DuckDB side runs
    on the caller's connection, one query at a time."""
    from concurrent.futures import ThreadPoolExecutor

    from tools.check_oracles import norm

    def rows(name: str) -> pd.DataFrame:
        return norm(queries[name](spark, sf_dir).toPandas())

    with ThreadPoolExecutor(threads) as pool:
        got = {name: pool.submit(rows, name) for name in names}
    problems: list[str] = []
    failed: set = set()
    for name in names:
        try:
            a = got[name].result()
            b = norm(con.execute(oracles[name]).fetchdf())
            pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
        except Exception as ex:  # a crash or a mismatch both fail the query
            failed.add(name)
            problems.append(f"{name}: {str(ex).splitlines()[0][:200]}")
    return failed, problems
