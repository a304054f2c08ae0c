"""Round-8 measurement harness (guide §1): per-query noop-sink isolation,
best-of-N timing, and `.explain("formatted")` capture.

This is NOT bench.py (which is frozen for the driver): it exists so each
optimization can be measured in isolation — same session profile, same
noop sink, same queries — without re-running the whole bench, and so the
plan files under plans/r08/ are reproducible.

Usage:
  python tools/bench_extra.py time  [reps] [query ...]   # best-of-N per query
  python tools/bench_extra.py plans [outdir] [query ...] # explain(formatted)
  python tools/bench_extra.py wave  [n_urls]             # frontier wave phases
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

BENCH_QUERIES = [
    "pricing_summary", "star_join_topn", "sessionize", "text_stats",
    "quality_filter", "lang_id", "dedup_exact", "simhash", "hashed_ids",
    "cosine_topk", "int8_quantize", "politeness_wave", "url_seen_antijoin",
    "warc_scan", "jaccard_pairs", "minhash_lsh_pairs", "cosine_dup_pairs_lsh",
    "chunk_dedup", "repetition_stats", "domain_cap", "crawl_corpus_pipeline",
    "int8_topk", "ann_rescore_topk",
]
EXTRA = ["quality_metrics_udf", "minhash_lsh_capped", "minhash_lsh_xxhash"]


def _session():
    from commoncrawlnewsdataset_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("ccnews-bench-extra", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _registry(spark):
    import __spark_entry__ as entry_mod
    from commoncrawlnewsdataset_spark.operators.dedup import minhash_lsh_pairs
    from commoncrawlnewsdataset_spark.plans.queries import spark_queries

    reg = dict(spark_queries())
    reg["quality_metrics_udf"] = entry_mod.q_quality_metrics_udf

    def _mk_minhash(hasher):
        def fn(spark, sf_dir):
            docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
            return minhash_lsh_pairs(
                docs, "doc_id", "text", 8, 4, k=3, bucket_cap=64, hasher=hasher
            )
        return fn

    reg["minhash_lsh_capped"] = _mk_minhash("md5")
    reg["minhash_lsh_xxhash"] = _mk_minhash("xxhash64")
    return reg


def cmd_time(reps: int, names: list[str]) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = _session()
    reg = _registry(spark)
    names = names or (BENCH_QUERIES + EXTRA)
    # warmup (JVM/codegen/python workers), as bench.py does
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1000).count()
    reg["pricing_summary"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    out = {}
    for name in names:
        samples = []
        for _ in range(reps):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            df = reg[name](spark, sf_dir)
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            samples.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        out[name] = {"min": min(samples), "samples": samples}
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({
        "summary": {k: v["min"] for k, v in out.items()},
        "loadavg": open("/proc/loadavg").read().split()[:3],
    }))


def cmd_plans(outdir: str, names: list[str], suffix: str) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = _session()
    reg = _registry(spark)
    os.makedirs(outdir, exist_ok=True)
    for name in names or (BENCH_QUERIES + EXTRA):
        df = reg[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path}")


def cmd_wave(n_urls: int) -> None:
    import shutil
    import tempfile

    from commoncrawlnewsdataset_spark.benchlib import frontier_wave_bench

    spark = _session()
    # warmup then 2 measured, mirroring bench.py; keep the state dir long
    # enough to read the wave manifest's phase_s breakdown
    frontier_wave_bench(spark, n_urls=50_000)
    for i in range(2):
        tmp = tempfile.mkdtemp(prefix="wave-probe-")
        try:
            r = frontier_wave_bench(spark, n_urls=n_urls, state_dir=tmp)
            with open(os.path.join(tmp, "wave=00001", "manifest.json")) as fh:
                m = json.load(fh)
            r["phase_s"] = m["phase_s"]
            print(json.dumps(r), flush=True)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "time"
    if cmd == "time":
        reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
        cmd_time(reps, sys.argv[3:])
    elif cmd == "plans":
        outdir = sys.argv[2] if len(sys.argv) > 2 else "plans/r08"
        suffix = os.environ.get("PLAN_SUFFIX", "before")
        cmd_plans(outdir, sys.argv[3:], suffix)
    elif cmd == "wave":
        cmd_wave(int(sys.argv[2]) if len(sys.argv) > 2 else 400_000)
    else:
        raise SystemExit(f"unknown command {cmd}")
