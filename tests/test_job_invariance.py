"""Physical invariance of the shipped CEP job (streaming/job.py): the sink
tables must not depend on how many state stores hold the stateful
operators' state. A run with the old fixed 16 shuffle partitions and a run
with the default (one store per core) drain the same backlog, in tumbling
mode with salted two-stage windows and in stream-stream join mode; their
sink tables must be equal, and the default run must keep Spark's
checkpoint checksum files."""

from __future__ import annotations

import glob
import os

import numpy as np
import pytest

from helpers import session_conf

N_CLIPS = 320
N_FILES = 8
BATCHES = 2
# session confs streaming.job sets on the shared session; restored after
_JOB_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.execution.arrow.maxRecordsPerBatch",
)
_KEYS = {"tumbling": ["window_start", "prefix"], "join": ["clip_id"]}


@pytest.fixture(scope="module")
def backlog(spark, tmp_path_factory):
    from core_spark import synth

    path = str(tmp_path_factory.mktemp("job_backlog") / "clips")
    synth.write_clips_parquet(spark, path, N_CLIPS, n_files=N_FILES)
    return path


def _drain(spark, monkeypatch, backlog, work, mode, extra):
    """One ``job.main`` drain; returns (sink table sorted by key, the
    query's progress reports, the job's metrics)."""
    from core_spark.streaming import job
    from core_spark.streaming import sink as sk

    queries = []
    run_to_sink = sk.run_to_sink

    def capture(*args, **kwargs):
        queries.append(run_to_sink(*args, **kwargs))
        return queries[-1]

    monkeypatch.setattr(sk, "run_to_sink", capture)
    argv = [
        "--mode", mode, "--input", backlog, "--n-clips", str(N_CLIPS), "--work", str(work),
        "--salt", "8", "--batches", str(BATCHES),
        "--files-per-trigger", str(N_FILES // BATCHES), *extra,
    ]
    with session_conf(spark, {k: spark.conf.get(k) for k in _JOB_CONFS}):
        metrics = job.main(argv)
    keys = _KEYS[mode]
    out = (
        sk.MergeSink(os.path.join(work, f"out_{mode}"), key_cols=keys)
        .read(spark)
        .toPandas()
    )
    return out.sort_values(keys).reset_index(drop=True), queries[-1].recentProgress, metrics


def _assert_tables_equal(a, b):
    assert list(a.columns) == list(b.columns)
    assert len(a) == len(b) > 0
    for c in a.columns:
        if a[c].dtype.kind == "f":
            np.testing.assert_allclose(a[c], b[c], rtol=1e-9, atol=1e-9, err_msg=c)
        else:
            assert a[c].tolist() == b[c].tolist(), c


@pytest.mark.parametrize("mode", ["tumbling", "join"])
def test_job_result_invariant_to_state_store_count(spark, monkeypatch, tmp_path, backlog, mode):
    cores = spark.sparkContext.defaultParallelism
    fixed, _, _ = _drain(
        spark, monkeypatch, backlog, tmp_path / "fixed16", mode,
        ["--cores", str(cores), "--shuffle-partitions", "16"],
    )
    # with --cores omitted the job takes the running session's local[N],
    # not the environment's core count
    monkeypatch.setenv("SPARK_GRAFT_CPUS", str(cores + 1))
    default, progress, metrics = _drain(
        spark, monkeypatch, backlog, tmp_path / "default", mode, []
    )
    _assert_tables_equal(fixed, default)
    assert metrics["cores"] == cores

    # the default is one state store per core, for every stateful operator
    ops = [op for p in progress for op in p.get("stateOperators") or []]
    assert ops
    assert {op["numShufflePartitions"] for op in ops} == {cores}
    # checkpoint verification stayed on: Spark's per-version checksum files
    # sit beside the state deltas
    crc = glob.glob(
        str(tmp_path / "default" / f"ckpt_{mode}" / "state" / "**" / "[0-9]*.delta.crc"),
        recursive=True,
    )
    assert crc
