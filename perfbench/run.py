"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload harvest --seed 1 --seconds 8 --trace 0

Run from the root of a checkout.  One Python process runs the package on
``local[<cores>]`` in a closed loop with one client (see workloads.py).
A run:

1. set-up: starts the Spark session, generates the workload's inputs from
   ``--seed`` into a private directory under ``.perfbench_work/`` (the
   warehouse, cache root, temp and Spark local dirs live there too, and
   it is removed at exit), loads seeds and warms up (harvest: the episode
   on a smaller frontier; queries: a pass that collects every leaf for its
   oracle check);
2. measure: repeats the workload's fixed episode while another fits in
   ``--seconds`` (at least once), timing every call into the package in
   wall seconds and in CPU seconds of the process tree;
3. checks every output outside the timed regions (checks.py);
4. with ``--trace 1``, restarts the Spark context with the event log on,
   runs one more episode and attributes its time to layers (eventlog.py);
   the tracing overhead is that episode's wall time against the untraced
   median.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it is the full run record (per-wave phases, host context).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "commoncrawlnewsdataset_spark", "__init__.py")


def stop_jvm(timeout_s: float = 60.0) -> None:
    """Stop Spark, shut the JVM gateway down and wait until the JVM and
    the Python workers it started have exited."""
    from pyspark import SparkContext

    from commoncrawlnewsdataset_spark.session import stop_spark
    from perfbench import procfs

    stop_spark()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=timeout_s)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + timeout_s
    while procfs.descendants(os.getpid(), procfs.parents()) and time.time() < deadline:
        time.sleep(0.1)


def costed_fetch_us(n: int = 2000) -> float:
    """Measured per-URL cost of the bench's costed fetcher (nominal 100 us)."""
    from commoncrawlnewsdataset_spark.benchlib import make_costed_fetcher

    fetch = make_costed_fetcher(100.0)
    t0 = time.perf_counter()
    for i in range(n):
        fetch(f"https://h{i % 50}.example.org/p/{i}")
    return (time.perf_counter() - t0) / n * 1e6


class Context:
    def __init__(self, args, work: str):
        self.seed, self.work = args.seed, work
        self.cores = os.cpu_count() or 1
        self.record: dict = {}
        self.spark = None
        self.fetch_acc = None

    def start_spark(self, event_log: str | None = None) -> float:
        from commoncrawlnewsdataset_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # no hsperfdata file in the system temp dir
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": event_log,
            })
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench", master=f"local[{self.cores}]",
            shuffle_partitions=self.cores, extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.fetch_acc = self.spark.sparkContext.accumulator(0.0)
        return time.perf_counter() - t0


def run(args, work: str) -> dict:
    from perfbench import eventlog, procfs
    from perfbench.workloads import WORKLOADS, median

    ctx = Context(args, work)
    wl = WORKLOADS[args.workload](ctx)
    rec = ctx.record
    rec.update(workload=args.workload, seed=args.seed, cores=ctx.cores,
               loadavg_start=procfs.loadavg(), costed_fetch_us=costed_fetch_us())
    steal0, total0 = procfs.cpu_ticks()

    session_s = ctx.start_spark()
    t0 = time.perf_counter()
    wl.prepare()
    gen_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.warmup()
    warmup_s = time.perf_counter() - t0
    wl.repeat_setup()

    ops, passes, pass_cpu, episode_s = [], [], [], 0.0
    t_start = time.perf_counter()
    while not passes or time.perf_counter() - t_start + episode_s <= args.seconds:
        t0 = time.perf_counter()
        mine = wl.episode(f"e{len(passes)}")
        episode_s = time.perf_counter() - t0
        ops += mine
        passes.append(sum(o.wall for o in mine))
        pass_cpu.append(sum(o.cpu for o in mine))
    setup_s = session_s + gen_s + median(wl.prepare_s) + warmup_s

    metrics = {
        "setup_s": (setup_s, "s"),
        "pass_s": (median(passes), "s"),
    }
    workload_level = {"pass_cpu_s": (median(pass_cpu), "s"), **wl.figures(ops)}
    rec.update({k: v for k, (v, _) in workload_level.items()})
    layers = {}
    if args.trace:
        ctx.spark.stop()
        log_dir = os.path.join(work, "eventlog")
        ctx.start_spark(event_log=log_dir)
        traced = wl.episode("t0")
        traced_pass = sum(o.wall for o in traced)
        ctx.spark.stop()
        log = eventlog.Log(eventlog.load(log_dir))
        layers = {
            "session.start_s": (session_s, "s"),
            "inputs.gen_s": (gen_s, "s"),
            "waves.load_seeds_s": (median(wl.prepare_s), "s"),
            "warmup_s": (warmup_s, "s"),
            "trace.overhead_s": (traced_pass - median(passes), "s"),
        }
        layers.update(workload_level)
        layers.update(wl.per_layer(ops, traced, log))
        ops += traced
    rec.update(
        passes_s=passes, pass_cpu_s=pass_cpu, setup_parts_s={
            "session": session_s, "gen": gen_s, "prepare": wl.prepare_s, "warmup": warmup_s},
        ops=[{"name": o.name, "wall_s": o.wall, "cpu_s": o.cpu, "failed": o.failed,
              **{k: v for k, v in o.info.items() if k not in ("per_partition_rows", "top_hosts")}}
             for o in ops],
        problems=[i for o in ops for i in o.problems],
        loadavg_end=procfs.loadavg(),
    )
    steal1, total1 = procfs.cpu_ticks()
    rec["cpu_steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
    return {"ops": ops, "metrics": metrics, "layers": layers, "record": rec}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.exists(PACKAGE):
        print(f"package source not found at {PACKAGE}: run from a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import procfs
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # everything the run writes stays under ``work``
    tempfile.tempdir = os.path.join(work, "tmp")
    os.environ.update(
        CCN_CACHE_ROOT=os.path.join(work, "cache"),
        TMPDIR=tempfile.tempdir,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        # a small heap keeps the shared host's memory and the peak-RSS
        # figure steady; every input fits in it many times over
        SPARK_GRAFT_DRIVER_MEM=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "1g"),
    )
    try:
        with procfs.PeakMemory() as rss:
            out = run(args, work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    ops = out["ops"]
    out["metrics"]["peak_rss_mb"] = (rss.peak / 2**20, "MB")
    failed = sum(o.failed for o in ops)
    record = {"record": json_safe(out.get("record", {}))}
    print(json.dumps(record))
    # every declared metric is printed; a layer the workload does not run
    # reads 0 (per-layer only: every end-to-end metric applies everywhere)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    chosen = out["layers"] if args.trace else out["metrics"]
    metrics = {m["name"]: {"value": float(chosen.get(m["name"], (0.0,))[0]), "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))
    return 0


def json_safe(x):
    return json.loads(json.dumps(x, default=str))


if __name__ == "__main__":
    raise SystemExit(main())
