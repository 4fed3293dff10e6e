"""The engine's benchmark: three workloads against its public API.

    python3 perfbench/run.py --workload flagship_drain --seed 1 \
        --seconds 20 --trace 0

Workloads (``perfbench/README.md`` says why each exists, and why
``BENCHMARK.json`` lists only the first and the last):

- ``flagship_drain``: closed-loop drain of a pre-committed Iceberg clip
  topic through tail source -> payload-direct decode -> 60 s watermark ->
  10 min tumbling window per speaker -> exactly-once ledger sink.
- ``live_tail``: open loop; a producer thread commits one small snapshot per
  tick while the tail source feeds the ``applyInPandasWithState`` window
  store and the ledger sink.
- ``serve_upsert``: open-loop point lookups of skewed speaker keys through
  ``FeatureView.get_feature_vector`` while a writer thread upserts one
  flagship trigger's window rows on a fixed period.

The run builds every input from ``--seed``, measures for ``--seconds``,
checks the outputs against an oracle, prints one line per named metric and,
as its last line, one JSON object.  With ``--trace 0`` that object carries
the end-to-end metrics; with ``--trace 1`` the run records spans and
streaming progress and the object carries the per-layer metrics.  Per-run
detail (every metric, checks, host context, span self times) goes to
``perfbench/out/<workload>-trace<N>.json``.  The exit code is 1 when a
correctness check fails and 2 when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("flagship_drain", "live_tail", "serve_upsert")

#: end-to-end metrics, reported by every workload (README: per-workload meaning)
E2E_METRICS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_ms_p50": "ms",
    "peak_rss_mb": "MB",
}

#: per-layer metrics of the traced run; a layer the workload does not
#: exercise reads 0 (the detail file lists which).  ``live_tail``'s producer
#: metrics (``tail.backlog_files_max``, ``iceberg.commit_append_ms_p50``)
#: stay in its detail file: no listed workload has a producer, and the final
#: line must stay under 2 KB
LAYER_METRICS = {
    "audio.decode_s": "s",
    "audio.decode_s_1task": "s",
    "audio.parallel_eff": "frac",
    "iceberg.scan_meta_s": "s",
    "iceberg.scan_payload_s": "s",
    "windows.agg_s": "s",
    "state.commit_ms_p50": "ms",
    "state.fsync_ms_p50": "ms",
    "state.update_ms_p50": "ms",
    "state.rows_total_end": "count",
    "state.memory_bytes_end": "bytes",
    "state.rows_dropped_by_watermark": "count",
    "state.pandas_trigger_ms_p50": "ms",
    "state.pandas_update_ms_p50": "ms",
    "state.pandas_commit_ms_p50": "ms",
    "streams.triggers": "count",
    "streams.trigger_ms_p50": "ms",
    "streams.add_batch_ms_p50": "ms",
    "streams.query_planning_ms_p50": "ms",
    "streams.wal_commit_ms_p50": "ms",
    "streams.commit_offsets_ms_p50": "ms",
    "streams.breakdown_coverage": "frac",
    "tail.latest_offset_ms_p50": "ms",
    "iceberg.plan_files_ms": "ms",
    "sink.write_batch_ms_p50": "ms",
    "sink.commit_ms_p50": "ms",
    "store.insert_ms_p50": "ms",
    "store.read_collect_ms": "ms",
    "store.ledger_token_us_p50": "us",
    "serving.lookup_us_p50": "us",
    "serving.rebuild_ms_p50": "ms",
    "serving.stale_ms_p50": "ms",
    "serving.lookup_ms_p99": "ms",
    "gen.late_ms_max": "ms",
    "host.capacity_iters_per_s": "iters/s",
    "trace.overhead_frac": "frac",
}

#: driver heap cap, through the engine's own ``SPARK_GRAFT_DRIVER_MEM``, with
#: no minimum heap and no pre-touch.  Below the cap G1 grows the heap when
#: its own GC-time measurements say so; at the engine's 16g default the
#: flagship's peak memory ranged over 3.0-4.4 GB between runs, at 2g the
#: lookup workload's over 1.1-1.6 GB
DRIVER_MEMORY = "1g"
CAPACITY_PROBE_S = 0.5


def _sig7(value: float):
    v = float(f"{value:.7g}")
    return int(v) if v.is_integer() else v


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the host since boot, from /proc/stat.
    Steal is time the hypervisor gave this VM's CPUs to other tenants."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return fields[7], sum(fields[:8])


def _pss_bytes(pid: int) -> int:
    """Proportional set size: a page shared by N processes counts 1/N in
    each, so forked Python workers do not count their parent's pages again."""
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    raise OSError(f"no Pss line for {pid}")


def _cmdline(pid: int) -> bytes:
    with open(f"/proc/{pid}/cmdline", "rb") as fh:
        return fh.read()


def process_tree_rss(root_pid: int) -> int:
    """Resident bytes (PSS) of ``root_pid`` and all its descendants.

    A JVM starts its child processes with vfork semantics: until the child
    execs, it shares the JVM's whole address space and /proc reports the
    JVM's memory for it as well.  Such a child still carries its parent's
    command line and is skipped."""
    parent_of = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command field may hold spaces; ppid is 2nd after its ')'
        parent_of[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        for child, parent in parent_of.items():
            if parent == p and child not in tree:
                tree.add(child)
                frontier.append(child)
    total = 0
    for pid in tree:
        try:
            cmd = _cmdline(pid)
            if pid != root_pid and b"java" in cmd.split(b"\0", 1)[0] \
                    and cmd == _cmdline(parent_of[pid]):
                continue
            total += _pss_bytes(pid)
        except OSError:  # the process exited between listing and reading
            continue
    return total


class RssSampler:
    """Samples the driver process tree's resident memory every 0.1 s."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, process_tree_rss(os.getpid()))
            self._stop.wait(0.1)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def configure_environment(work: str) -> None:
    """Keep Spark's and Python's scratch files inside the run's work dir
    and let Python workers import the engine."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    # pandas deprecation chatter from Spark's own serializers, per batch
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    # read by the JVM launcher itself, so the engine still builds its own
    # launch arguments; no perf-data file outside the work dir
    os.environ["JDK_JAVA_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                      "-XX:-UsePerfData")
    import tempfile

    tempfile.tempdir = tmp


def start_spark(work: str, nproc: int):
    from engine.session import get_spark

    return get_spark(
        "perfbench", cores=nproc, shuffle_partitions=nproc,
        extra_conf={
            "spark.local.dir": os.path.join(work, "tmp"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
        })


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit (its
    Python workers exit with it)."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


class RunContext:
    """What a workload needs: seed, budget, tracer, session, work dir."""

    def __init__(self, args, work: str, nproc: int, tracer):
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.work = work
        self.nproc = nproc
        self.tracer = tracer
        self.spark = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import engine.session  # noqa: F401
        from scripts.hw_ceiling_probe import measure
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    import workloads
    from benchlib import Tracer, self_time_by_name

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(HERE, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    configure_environment(work)
    tracer = Tracer(enabled=bool(args.trace))
    ctx = RunContext(args, work, nproc, tracer)
    wl = workloads.WORKLOADS[args.workload](ctx)

    # capacity probe first: it forks worker processes, and nothing else
    # runs yet (no JVM, no threads)
    capacity = measure(nproc, CAPACITY_PROBE_S)
    try:
        t0 = time.perf_counter()
        wl.generate()
        t_gen = time.perf_counter() - t0
        # peak memory of the system under test: the oracle's and the
        # generator's own memory stay outside the sampled window
        with RssSampler() as rss:
            t0 = time.perf_counter()
            ctx.spark = start_spark(work, nproc)
            t_session = time.perf_counter() - t0
            try:
                master = ctx.spark.sparkContext.master
                t0 = time.perf_counter()
                wl.warm()
                t_warm = time.perf_counter() - t0
                steal0, total0 = cpu_jiffies()
                res = wl.measure()
                steal1, total1 = cpu_jiffies()
            except BaseException:
                stop_spark(ctx.spark)
                raise
        try:
            wl.check(res)
            if ctx.traced:
                wl.probe_layers(res)
        finally:
            stop_spark(ctx.spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    setup_s = t_gen + t_session + t_warm
    steal_frac = (steal1 - steal0) / max(total1 - total0, 1)
    e2e = {
        "setup_s": setup_s,
        "throughput_per_s": res.throughput_per_s,
        "latency_ms_p50": res.latency_ms_p50,
        "peak_rss_mb": rss.peak / 2**20,
    }
    layers = {name: 0.0 for name in LAYER_METRICS}
    layers.update(res.layers)
    layers["host.capacity_iters_per_s"] = capacity
    host = {"nproc": nproc, "master": master,
            "capacity_iters_per_s": capacity,
            "steal_frac_measured": steal_frac,
            "capacity_probe":
                f"scripts/hw_ceiling_probe.measure(nproc, {CAPACITY_PROBE_S})"}
    detail = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "host": host,
        "setup": {"generate_s": t_gen, "session_s": t_session,
                  "warm_s": t_warm},
        "end_to_end": e2e,
        "named": res.named,
        "per_layer": layers if ctx.traced else None,
        "layers_not_exercised": sorted(
            n for n in LAYER_METRICS
            if n not in res.layers and n != "host.capacity_iters_per_s"),
        "checks": res.checks,
        "attempted": res.attempted, "failed": res.failed,
        "error_frac": res.failed / res.attempted,
        "span_self_time": self_time_by_name(tracer.spans),
        "extra": res.extra,
    }
    stem = os.path.join(out_dir, f"{args.workload}-trace{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    if ctx.traced:
        tracer.write(stem + ".spans.json")

    correct = all(c["ok"] for c in res.checks)
    for name, (value, unit) in res.named.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    print(f"{args.workload} error_frac = {detail['error_frac']:.6g} "
          f"({res.failed}/{res.attempted})")
    for c in res.checks:
        print(f"{args.workload} check {c['name']}: "
              f"{'ok' if c['ok'] else 'FAILED'} {c.get('info', '')}")
    print(f"{args.workload} host nproc={nproc} master={master} "
          f"capacity_iters_per_s={capacity:.1f} "
          f"steal_frac_measured={steal_frac:.3f} seed={args.seed}")
    print(f"{args.workload} detail -> {os.path.relpath(stem, ROOT)}.json")
    if ctx.traced:
        # seven significant digits (0.1 us on sub-second timings) keep the
        # per-layer line under 2 KB
        metrics = {n: {"value": _sig7(layers[n]), "unit": u}
                   for n, u in LAYER_METRICS.items()}
    else:
        metrics = {n: {"value": e2e[n], "unit": u}
                   for n, u in E2E_METRICS.items()}
    print(json.dumps({"correct": correct, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics},
                     separators=(",", ":")))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
