"""Benchmark of record for core_spark.

    python3 perfbench/run.py --workload clip_jobs --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed (cached under ``.perfbench_work/``), runs the workload on
``local[nproc]``, checks its output and prints one JSON result as the last
line of standard output. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` reports the per-layer metrics from a traced run (spans,
streaming progress, Spark event log). See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

PROCESS_START = time.time()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.workloads import QUERIES, WORKLOADS  # noqa: E402

END_TO_END = {  # name -> unit
    "setup_s": "s", "elapsed_s": "s", "cpu_s": "s", "peak_pss_mb": "MB",
}
_DRAIN_LAYERS = {
    "job.warmup_s": "s", "clips_per_s": "1/s",
    "batch.count": "count", "batch.trigger_ms_p50": "ms", "batch.trigger_ms_max": "ms",
    "batch.query_planning_ms": "ms", "batch.add_batch_ms": "ms", "batch.wal_commit_ms": "ms",
    "source.get_batch_ms": "ms",
    "state.rows_total": "count", "state.memory_bytes": "bytes", "state.bytes_per_row": "bytes",
    "state.commit_ms": "ms", "state.rows_dropped_by_watermark": "count",
    "sink.write_batch_ms_p50": "ms", "sink.write_batch_ms_max": "ms",
    "sink.write_batch_s_total": "s", "sink.rows_committed": "count",
    "sink.partitions_rewritten": "count", "sink.bytes_rewritten_per_row": "bytes",
}
PER_LAYER = {  # name -> unit; a layer a workload does not run reads 0
    "session.get_spark_s": "s",
    "scan.s": "s", "decode.s": "s", "decode.self_s": "s", "decode.clips_per_s": "1/s",
    "arrow.bytes_to_python": "bytes", "arrow.bytes_from_python": "bytes",
    **{f"{m}.{k}": u for m in ("tumbling", "join") for k, u in _DRAIN_LAYERS.items()},
    "join.corrected_rows": "count",
    "shuffle.bytes_written": "bytes", "shuffle.bytes_read": "bytes", "spill.bytes": "bytes",
    "task.run_ms": "ms", "task.cpu_ms": "ms", "task.gc_ms": "ms",
    **{f"query.{q}_s": "s" for q in QUERIES},
    "trace.overhead_pct": "%", "scaling.clips_per_s_1core": "1/s", "scaling.efficiency": "ratio",
}


def host() -> dict:
    """nproc, MemTotal, the git sha (empty outside git) and a hash of the
    program's sources."""
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    try:
        sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10).stdout.strip()
    except OSError:
        sha = ""
    h = hashlib.sha256()
    for dp, dns, fns in sorted(os.walk(os.path.join(ROOT, "core_spark"))):
        dns.sort()
        for fn in sorted(fns):
            if fn.endswith(".py"):
                with open(os.path.join(dp, fn), "rb") as f:
                    h.update(fn.encode() + f.read())
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_kb": mem_kb,
            "git_sha": sha, "src_sha": h.hexdigest()[:12]}


def child_env(work: str, cores: int, mem_kb: int) -> None:
    """Fit the engine to this host, for the JVM and Python workers this
    process starts: local[nproc], a heap of ~15% of MemTotal (AlwaysPreTouch
    commits it all), and every scratch directory inside the work dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, int(mem_kb * 0.15 / 2**20))}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })


class Ctx:
    """What a workload needs: the session, its inputs, the tracer and
    listener, and scratch directories."""

    def __init__(self, args, spark, tracer, listener, work, inputs, jvm_pid) -> None:
        self.args, self.spark, self.tracer, self.listener = args, spark, tracer, listener
        self.jvm_pid = jvm_pid
        self.work, self.inputs = work, inputs
        self.cores = args.cores
        self.clips_n = inputs.get("clips_n", 0)
        self.modes = ["tumbling", "join"]
        self.untimed_spans: list[tuple[float, float]] = []
        self._patched: list[tuple] = []

    def cpu(self) -> float:
        """CPU seconds used so far by the JVM and its Python workers."""
        from perfbench.trace import cpu_seconds

        return cpu_seconds(self.jvm_pid)

    def fresh_dir(self, name: str) -> str:
        d = os.path.join(self.work, "run", name)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d

    @contextlib.contextmanager
    def untimed(self):
        t = time.time()
        try:
            yield
        finally:
            self.untimed_spans.append((t, time.time()))

    def patch(self, owner, attr: str, value) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def unpatch(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)


def make_inputs(args, work: str, workers: int, src_sha: str) -> dict:
    from perfbench import inputs, workloads as wl

    cache = os.path.join(work, "cache")
    if args.workload == "rtdip_queries":
        return {"events": wl.EVENTS_DIR}
    n, files = wl.CLIPS_N, wl.CLIPS_FILES
    return {"clips": inputs.clips(cache, args.seed, n, files, workers),
            "corrections": inputs.corrections(cache, args.seed, n, 4),
            "clips_n": n, "clips_files": files,
            # per-clip energy depends on the clip index and the decoder only
            "energy_cache": os.path.join(work, f"energy_{src_sha}_n{n}.parquet")}


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM and its Python workers to exit."""
    from pyspark import SparkContext

    from perfbench.trace import descendants

    proc = getattr(SparkContext._gateway, "proc", None)
    tree = descendants(proc.pid) if proc else []
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid in tree[1:]:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        with contextlib.suppress(OSError):
            os.kill(pid, 9)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=20,
                   help="recorded; each workload's measured work is fixed (README.md)")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # a terminated run still stops its JVM (stop_spark runs in a finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "core_spark")):
        print(f"core_spark not found under {ROOT}: run from a repository checkout",
              file=sys.stderr)
        return 2
    hw = host()
    args.cores = hw["nproc"]
    work = os.path.join(ROOT, ".perfbench_work")
    child_env(work, args.cores, hw["mem_total_kb"])
    inputs = make_inputs(args, work, hw["nproc"], hw["src_sha"])
    gen_s = time.time() - PROCESS_START

    # ---- set-up: JVM, session, Python workers (timed as setup_s)
    t_setup = time.time()
    from core_spark.session import get_spark
    from perfbench import trace, workloads

    tracer = trace.Tracer(bool(args.trace))
    conf = {}
    if args.trace:
        log_dir = os.path.join(work, "run", "eventlog")
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        conf = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
                "spark.eventLog.rolling.enabled": "false", "spark.eventLog.compress": "false"}
    with tracer.span("session.get_spark"):
        spark = get_spark(f"perfbench-{args.workload}", cores=args.cores,
                          shuffle_partitions=workloads.SHUFFLE_PARTITIONS[args.workload],
                          extra_conf=conf)
    with tracer.span("session.worker_warmup"):
        workloads.worker_warmup(spark, args.cores)
    listener = trace.Progress()
    spark.streams.addListener(listener)
    from pyspark import SparkContext

    jvm_pid = SparkContext._gateway.proc.pid
    ctx = Ctx(args, spark, tracer, listener, work, inputs, jvm_pid)
    steal0 = trace.steal_share()
    try:
        with trace.MemSampler(jvm_pid) as mem:
            res = WORKLOADS[args.workload](ctx)
        steal1 = trace.steal_share()
        first = res["windows"][0][0]
        setup_s = first - t_setup - sum(e - s for s, e in ctx.untimed_spans if e <= first)
        repeat = {}  # a traced run's reference drains or passes
        if args.trace and args.workload == "clip_jobs":
            res["layers"].update(workloads.clips_probes(ctx))
            # tracing overhead: the tumbling drain three times more, spans
            # off, on, off. A first drain runs about twice as long as a
            # repeat, so the repeats compare with each other, not with the
            # first drains, and the traced one sits between two untraced ones
            # because each repeat runs a little warmer than the last. (A fresh
            # untraced process would add its whole set-up to a run that must
            # end within the run time limit.)
            ctx.modes = ["tumbling"]
            for name, on in (("untraced", False), ("traced", True), ("untraced2", False)):
                ctx.tracer = trace.Tracer(on)
                repeat[name] = workloads.clip_jobs(ctx)
            ref_s = (repeat["untraced"]["elapsed_s"] + repeat["untraced2"]["elapsed_s"]) / 2
            traced_s = repeat["traced"]["elapsed_s"]
            # scaling: the untraced repeat again on one core, in a new
            # session on this (already warm) JVM
            spark.stop()
            spark = get_spark(f"perfbench-{args.workload}-1core", cores=1,
                              shuffle_partitions=workloads.SHUFFLE_PARTITIONS[args.workload],
                              extra_conf=conf)
            workloads.worker_warmup(spark, 1)
            spark.streams.addListener(listener)
            ctx.spark, ctx.cores, ctx.tracer = spark, 1, trace.Tracer(False)
            repeat["1core"] = workloads.clip_jobs(ctx)
            rate_1 = ctx.clips_n / repeat["1core"]["elapsed_s"]
            res["layers"]["scaling.clips_per_s_1core"] = rate_1
            res["layers"]["scaling.efficiency"] = ctx.clips_n / ref_s / (args.cores * rate_1)
        elif args.trace:
            # tracing overhead: two more timed passes, spans off then on. The
            # measured pass is only the second run of each query and takes up
            # to a quarter longer than later ones, so these two compare with
            # each other, not with it
            for name, on in (("untraced", False), ("traced", True)):
                ctx.tracer = trace.Tracer(on)
                repeat[name] = workloads.rtdip_queries(ctx, oracle=False)
            ref_s, traced_s = repeat["untraced"]["elapsed_s"], repeat["traced"]["elapsed_s"]
        for r in repeat.values():
            for k in ("attempted", "failed", "problems"):
                res[k] += r[k]
    finally:
        t_stop = time.time()
        stop_spark(spark)
    stop_s = time.time() - t_stop
    for problem in res["problems"]:
        print(f"check failed: {problem}", file=sys.stderr)

    if args.trace:
        tracer.write(os.path.join(work, "run", f"trace_{args.workload}_s{args.seed}.jsonl"))
        layers = dict.fromkeys(PER_LAYER, 0)
        layers.update(res["layers"])
        layers.update(trace.fold_event_log(log_dir, res["windows"]))
        layers["session.get_spark_s"] = sum(tracer.durations("session.get_spark"))
        layers["trace.overhead_pct"] = 100.0 * (traced_s - ref_s) / ref_s
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        e2e = {
            "setup_s": setup_s,
            "elapsed_s": res["elapsed_s"],
            "cpu_s": res["cpu_s"],
            "peak_pss_mb": mem.peak / 2**20,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    result = {"correct": res["failed"] == 0, "attempted": res["attempted"],
              "failed": res["failed"], "metrics": metrics}
    info = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "input_gen_s": round(gen_s, 3), "stop_s": round(stop_s, 3),
            **hw, "cores": args.cores, "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "host_steal_pct": round(100.0 * (steal1[0] - steal0[0])
                                    / max(1, steal1[1] - steal0[1]), 2)}
    print(json.dumps({"info": info}))
    width = max(len(k) for k in metrics)
    for k, m in metrics.items():
        print(f"  {k:<{width}}  {m['value']:>16.4f}  {m['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
