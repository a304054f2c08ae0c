"""The benchmark's workloads.

Each workload is a closed loop with one client: a wave, compaction, corpus
step or query starts only after the previous one returned.  Every call into
the package is tagged with ``setJobGroup`` so a traced run can attribute
the Spark jobs it caused.  A workload repeats one *episode* (fixed work on
fixed inputs) for as long as the run lasts, so how many episodes fit does
not change what each one measures.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback

from perfbench import checks, gen
from perfbench.procfs import tree_cpu_s


def median(xs):
    return statistics.median(xs) if xs else 0.0


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class Op:
    """One timed operation and the outcome of its output check."""

    def __init__(self, kind: str, name: str):
        self.kind, self.name = kind, name
        self.wall = self.cpu = 0.0
        self.info: dict = {}
        self.problems: list[str] = []

    @property
    def failed(self) -> bool:
        return bool(self.problems)


def timed_fetcher(inner, acc):
    """Wrap a per-URL fetcher so the Python workers sum their own fetch
    time into a Spark accumulator (the fetch floor, measured)."""
    import time as _time

    def fetch(url, max_retries=5):
        t0 = _time.perf_counter()
        try:
            return inner(url, max_retries)
        finally:
            acc.add(_time.perf_counter() - t0)

    return fetch


class Workload:
    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.prepare_s: list[float] = []

    def call(self, op: Op, group: str, fn, *args):
        """Run ``fn`` under a job-group tag, timing it; an exception fails
        the operation instead of the run."""
        self.ctx.spark.sparkContext.setJobGroup(group, group)
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            return fn(*args)
        except Exception:
            op.problems.append(f"{group} raised:\n{traceback.format_exc()}")
            return None
        finally:
            op.wall = time.perf_counter() - t0
            op.cpu = tree_cpu_s() - cpu0
            self.ctx.spark.sparkContext.setJobGroup("bench", "bench")

    # subclasses: prepare() once, warmup(), episode(tag) repeatedly
    def prepare(self):
        raise NotImplementedError

    def repeat_setup(self) -> None:
        """Extra set-up rounds, so set-up time is a median."""

    def warmup(self):
        raise NotImplementedError

    def episode(self, tag: str) -> list[Op]:
        raise NotImplementedError

    def figures(self, ops: list[Op]) -> dict:
        """The workload's own headline figures (per-layer metrics)."""
        raise NotImplementedError

    def per_layer(self, ops: list[Op], traced: list[Op], log) -> dict:
        """Per-layer figures: timings from the untraced ``ops``, plan and
        task attribution from the ``traced`` episode's event ``log``."""
        raise NotImplementedError


# ---------------------------------------------------------------------------
# harvest
# ---------------------------------------------------------------------------


def link_expander(fetched):
    """One new child and one already-known URL (the page itself) per
    fetched page, so the discovery gate both inserts and rejects."""
    from pyspark.sql import functions as F

    return fetched.select(
        F.explode(F.array(F.concat(F.col("url"), F.lit("/c")), F.col("url"))).alias("url"),
        F.lit(0.25).alias("priority"),
        F.col("discovered_ts"),
    )


class Harvest(Workload):
    """The crawl-to-corpus dataflow of ``crawl_corpus_pipeline``: page sink,
    bucketed state and link discovery for a wave, a compaction, a second
    wave, then extract, quality filter and packing over ``runner.pages()``.
    The wave after the compaction selects through the candidate head and
    the bloom URL-seen gate; the gate also screens every discovered link."""

    name = "harvest"
    n_urls, n_hosts, budget = 10_000, 300, 15
    waves = 2
    compact_after = 1
    chunk_tokens = 2048

    def prepare(self):
        self.state_disk: list[int] = []
        self.sink_bytes: list[int] = []
        self.seeds = os.path.join(self.ctx.work, "seeds.parquet")
        gen.write_frontier(self.seeds, self.ctx.seed, self.n_urls, self.n_hosts)
        # the warm-up runs the same calls on a smaller frontier
        self.warm_seeds = os.path.join(self.ctx.work, "warm_seeds.parquet")
        gen.write_frontier(self.warm_seeds, self.ctx.seed + 1, self.n_urls // 8, self.n_hosts // 4)

    def seeded_runner(self, tag: str, seeds: str):
        """A WaveRunner on fresh state and sink dirs with ``seeds`` loaded;
        returns it with the seed-load seconds."""
        from commoncrawlnewsdataset_spark.frontier.waves import (
            WaveRunner,
            simulated_fetch_with_payload,
        )

        spark = self.ctx.spark
        state = os.path.join(self.ctx.work, f"state-{tag}")
        for d in (state, state + "-pages"):
            shutil.rmtree(d, ignore_errors=True)
        r = WaveRunner(
            spark, state, per_host_budget=self.budget, nsalt=8,
            use_bloom=True, use_robots=False, detailed_metrics=False,
            fetcher=timed_fetcher(simulated_fetch_with_payload, self.ctx.fetch_acc),
            page_sink_dir=state + "-pages", link_expander=link_expander,
            bucket_state=8,
        )
        spark.sparkContext.setJobGroup(f"load:{tag}", "load")
        t0 = time.perf_counter()
        r.load_seeds(spark.read.parquet(seeds))
        return r, time.perf_counter() - t0

    def repeat_setup(self):
        for i in range(2):
            self.prepare_s.append(self.seeded_runner(f"setup{i}", self.seeds)[1])

    def crawl(self, r, tag: str, check: bool) -> list[Op]:
        ops = []
        for k in range(1, self.waves + 1):
            self.ctx.fetch_acc.add(-self.ctx.fetch_acc.value)
            op = Op("wave", f"wave:{tag}:{k}")
            m = self.call(op, op.name, r.run_wave)
            op.info["fetch_busy_s"] = self.ctx.fetch_acc.value
            if m is not None:
                op.info.update(m)
                if check:
                    op.problems += self.check_wave(r, m)
            ops.append(op)
            if k == self.compact_after:
                cop = Op("compact", f"compact:{tag}:{k}")
                self.call(cop, cop.name, r.compact)
                if check and not cop.failed:
                    cop.problems += self.check_compact(r, k)
                ops.append(cop)
        return ops

    def check_wave(self, r, m) -> list[str]:
        """Wave 1 precedes any discovery, so it must select exactly the
        seeds' per-host ranks (0, budget]; every wave's counts must add up."""
        if m["wave"] == 1:
            delta = os.path.join(r.state_dir, "wave=00001", "delta.parquet")
            return checks.check_wave(self.seeds, delta, m, self.budget)
        if m.get("n_fetched", 0) + m.get("n_failed", 0) != m.get("n_selected", 0):
            return [f"wave {m['wave']}: n_fetched + n_failed != n_selected"]
        return []

    def check_compact(self, r, k) -> list[str]:
        import duckdb

        path = os.path.join(r.state_dir, f"checkpoint={k:05d}", "state.parquet")
        n, d = duckdb.sql(
            f"SELECT count(*), count(DISTINCT url) FROM read_parquet('{path}/*.parquet')"
        ).fetchone()
        return [f"compact {k}: {n - d} duplicate URLs in the checkpoint"] if n != d else []

    def corpus(self, r, tag: str, check: bool) -> list[Op]:
        """extract -> quality metrics + filter -> pack, each step written to
        parquet so its time is its own."""
        from commoncrawlnewsdataset_spark.functions.extract import extract_articles
        from commoncrawlnewsdataset_spark.functions.textmetrics import with_quality_metrics
        from commoncrawlnewsdataset_spark.operators.filters import filter_quality
        from commoncrawlnewsdataset_spark.operators.packing import pack_chunks

        spark = self.ctx.spark
        paths = {k: os.path.join(self.ctx.work, f"corpus-{tag}", k)
                 for k in ("articles", "filtered", "packed")}

        def extract():
            extract_articles(r.pages()).write.mode("overwrite").parquet(paths["articles"])

        def quality():
            articles = spark.read.parquet(paths["articles"])
            filter_quality(with_quality_metrics(articles)).write.mode("overwrite").parquet(
                paths["filtered"])

        def pack():
            filtered = spark.read.parquet(paths["filtered"])
            pack_chunks(filtered, self.chunk_tokens, id_col="url", text_col="text") \
                .write.mode("overwrite").parquet(paths["packed"])

        ops = []
        for step, fn in (("extract", extract), ("quality", quality), ("pack", pack)):
            op = Op("corpus", f"corpus:{tag}:{step}")
            self.call(op, op.name, fn)
            ops.append(op)
            if op.failed:
                return ops
        if check:
            ops[-1].problems += self.check_corpus(r, paths, ops)
        return ops

    def check_corpus(self, r, paths, ops) -> list[str]:
        import duckdb

        def one(sql):
            return duckdb.sql(sql).fetchone()

        n_pages = one(f"SELECT count(*) FROM read_parquet('{r.page_sink_dir}/*/*.parquet') WHERE ok")[0]
        n_art = one(f"SELECT count(*) FROM read_parquet('{paths['articles']}/*.parquet')")[0]
        texts = duckdb.sql(f"SELECT text FROM read_parquet('{paths['filtered']}/*.parquet')").fetchall()
        packed, n_chunks = one(
            f"SELECT coalesce(sum(n_tokens), 0), coalesce(max(last_chunk), -1) + 1 "
            f"FROM read_parquet('{paths['packed']}/*.parquet')")
        ops[0].info.update(pages=n_pages, articles=n_art)
        ops[1].info.update(articles=n_art, passed=len(texts))
        ops[2].info.update(chunks=n_chunks)
        return checks.check_harvest(
            r.page_sink_dir, self.budget, checks.token_total(t[0] for t in texts), int(packed))

    def warmup(self):
        r, _ = self.seeded_runner("warm", self.warm_seeds)
        self.crawl(r, "warm", check=False)
        self.corpus(r, "warm", check=False)

    def episode(self, tag):
        r, load_s = self.seeded_runner(tag, self.seeds)
        self.prepare_s.append(load_s)
        ops = self.crawl(r, tag, check=True)
        self.state_disk.append(dir_bytes(r.state_dir))
        self.sink_bytes.append(dir_bytes(r.page_sink_dir))
        return ops + self.corpus(r, tag, check=True)

    # ---- metrics ------------------------------------------------------

    def figures(self, ops):
        """The crawl's own throughput figures (reported per layer: they do
        not exist on the queries workload)."""
        waves = [o for o in ops if o.kind == "wave"]
        comps = [o for o in ops if o.kind == "compact"]
        corpus = [o for o in ops if o.kind == "corpus"]
        n_ep = max(1, len({o.name.split(":")[1] for o in ops}))
        crawl_wall = sum(o.wall for o in waves + comps)
        corpus_wall = sum(o.wall for o in corpus)
        return {
            "urls_per_s": (sum(o.info.get("n_selected", 0) for o in waves) / crawl_wall, "1/s"),
            "wave_s_p50": (median([o.wall for o in waves]), "s"),
            "compact_s_p50": (median([o.wall for o in comps]), "s"),
            "corpus_s": (corpus_wall / n_ep, "s"),
            "pages_to_corpus_per_s": (
                sum(o.info.get("n_fetched", 0) for o in waves) / (crawl_wall + corpus_wall), "1/s"),
        }

    def per_layer(self, ops, traced, log):
        cores = self.ctx.cores
        waves = [o for o in traced if o.kind == "wave" and "phase_s" in o.info]
        comps = [o for o in traced if o.kind == "compact"]
        corpus = [o for o in ops if o.kind == "corpus"]
        per_wave = []
        for o in waves:
            phases = log.phases(o.name)
            maybe, probed = log.bloom_rows(o.name)
            floor = o.info["fetch_busy_s"] / cores
            per_wave.append({
                "name": o.name, "wall_s": o.wall, "manifest_phase_s": o.info["phase_s"],
                "head_used": o.info.get("head_used"), "phases_s": phases,
                "unattributed_s": o.wall - sum(phases.values()),
                "fetch_busy_s": o.info["fetch_busy_s"], "fetch_floor_s": floor,
                "engine_s": o.wall - floor, "layers_task_s": log.stage_layers(o.name),
                "bloom_maybe_rows": maybe, "bloom_probed_rows": probed, **log.totals(o.name),
                "job_list": log.job_list(o.name),
            })
        self.ctx.record["waves"] = per_wave

        def med(key):
            return median([w.get(key, 0.0) for w in per_wave])

        def med_of(field, key):
            return median([w[field].get(key, 0.0) for w in per_wave])

        def step(name):
            return [o for o in corpus if o.name.endswith(":" + name)]

        fetched = sum(o.info.get("n_fetched", 0) for o in waves)
        probed = sum(w["bloom_probed_rows"] for w in per_wave)
        crawl_ops = waves + comps
        ex, qu, pk = step("extract"), step("quality"), step("pack")
        return {
            "waves.fetch_busy_s": (med("fetch_busy_s"), "s"),
            "waves.fetch_floor_s": (med("fetch_floor_s"), "s"),
            "waves.engine_s": (med("engine_s"), "s"),
            "waves.fetch_tasks": (med_of("layers_task_s", "fetch_tasks"), "count"),
            "waves.select_s": (med_of("phases_s", "select"), "s"),
            "waves.fetch_write_s": (med_of("phases_s", "fetch_write"), "s"),
            "waves.metrics_s": (med_of("phases_s", "metrics"), "s"),
            "waves.commit_s": (med_of("phases_s", "commit"), "s"),
            "waves.unattributed_s": (med("unattributed_s"), "s"),
            "waves.jobs_per_wave": (med("jobs"), "count"),
            "waves.tasks_per_wave": (med("tasks"), "count"),
            "waves.shuffle_bytes_per_wave": (med("shuffle_write"), "B"),
            "waves.scan_bytes_per_wave": (med("scan"), "B"),
            "waves.spill_bytes": (sum(w.get("spill", 0.0) for w in per_wave), "B"),
            "waves.head_used_share": (
                sum(1 for w in per_wave if w["head_used"]) / max(1, len(per_wave)), "ratio"),
            "core.gate_s": (med_of("layers_task_s", "gate"), "task_s"),
            "core.bloom_pass_ratio": (
                sum(w["bloom_maybe_rows"] for w in per_wave) / probed if probed else 0.0, "ratio"),
            "politeness.rank_s": (med_of("layers_task_s", "rank"), "task_s"),
            "compact.bytes_written": (
                median([log.totals(o.name).get("written", 0.0) for o in comps]), "B"),
            "state.bytes_written_per_url": (
                sum(log.totals(o.name).get("written", 0.0) for o in crawl_ops) / self.n_urls, "B"),
            "state.bytes_on_disk_per_url": (self.state_disk[-1] / self.n_urls, "B"),
            "links.expand_s": (med_of("phases_s", "links"), "s"),
            "links.candidates": (2 * fetched / max(1, len(waves)), "count"),
            "links.fresh_ratio": (
                sum(o.info.get("n_discovered", 0) for o in waves) / (2 * fetched) if fetched else 0.0,
                "ratio"),
            "sink.bytes_written_per_page": (self.sink_bytes[-1] / fetched if fetched else 0.0, "B"),
            "extract.s": (median([o.wall for o in ex]), "s"),
            "extract.articles_per_page": (
                sum(o.info.get("articles", 0) for o in ex)
                / max(1, sum(o.info.get("pages", 0) for o in ex)), "ratio"),
            "quality.s": (median([o.wall for o in qu]), "s"),
            "quality.pass_ratio": (
                sum(o.info.get("passed", 0) for o in qu)
                / max(1, sum(o.info.get("articles", 0) for o in qu)), "ratio"),
            "pack.s": (median([o.wall for o in pk]), "s"),
            "pack.chunks": (median([o.info.get("chunks", 0) for o in pk]), "count"),
        }


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

FAMILIES = {
    "dedup_s": ["jaccard_pairs", "minhash_lsh_pairs", "simhash", "dedup_exact",
                "chunk_dedup", "repetition_stats", "cosine_dup_pairs_lsh"],
    "search_s": ["cosine_topk", "int8_topk", "int8_quantize", "ann_rescore_topk"],
    # ``sessionize`` is left out: it disagrees with its oracle whenever a
    # user's gap lies in (1800, 1801) s (Spark truncates timestamps to whole
    # seconds before comparing the gap), which some seeds' events hold
    "relational_s": ["pricing_summary", "star_join_topn",
                     "politeness_wave", "url_seen_antijoin"],
    "text_s": ["text_stats", "quality_filter", "lang_id", "hashed_ids",
               "warc_scan", "domain_cap"],
}
LEAVES = [leaf for fam in FAMILIES.values() for leaf in fam]


class Queries(Workload):
    """One pass over the query leaves on seeded star-schema, event,
    document and embedding tables."""

    name = "queries"
    scale = 0.01

    def prepare(self):
        self.sf_dir = os.path.join(self.ctx.work, "tables")
        gen.write_query_tables(self.sf_dir, self.ctx.seed, self.scale)

    def warmup(self):
        """The first pass collects every leaf for the oracle check (made,
        untimed, before the first timed pass); it also warms the JVM, so it
        is set-up."""
        from commoncrawlnewsdataset_spark.plans.queries import spark_queries

        reg = spark_queries()
        self.collected = {}
        for leaf in LEAVES:
            self.ctx.spark.sparkContext.setJobGroup(f"warm:{leaf}", "warm")
            try:
                df = reg[leaf](self.ctx.spark, self.sf_dir)
                self.collected[leaf] = checks.Result(df.toPandas(), df.dtypes)
            except Exception:
                self.collected[leaf] = traceback.format_exc()

    def check_all(self) -> dict[str, list[str]]:
        oracles = checks.oracle_frames(self.sf_dir, LEAVES)
        out = {}
        for leaf in LEAVES:
            got = self.collected[leaf]
            if isinstance(got, str):
                out[leaf] = [f"{leaf} raised:\n{got}"]
            else:
                out[leaf] = checks.check_leaf(leaf, got, oracles[leaf])
        return out

    def episode(self, tag):
        from commoncrawlnewsdataset_spark.plans.queries import spark_queries

        if not hasattr(self, "leaf_problems"):
            self.leaf_problems = self.check_all()
        reg = spark_queries()
        ops = []
        for leaf in LEAVES:
            op = Op("query", f"query:{tag}:{leaf}")
            built = {}

            def run(fn=reg[leaf]):
                t0 = time.perf_counter()
                df = fn(self.ctx.spark, self.sf_dir)
                built["s"] = time.perf_counter() - t0
                df.write.format("noop").mode("overwrite").save()

            self.call(op, op.name, run)
            op.info["leaf"] = leaf
            op.info["build_s"] = built.get("s", op.wall)
            op.problems += self.leaf_problems[leaf]
            ops.append(op)
        return ops

    def leaf_times(self, ops) -> dict[str, float]:
        return {leaf: median([o.wall for o in ops if o.info["leaf"] == leaf]) for leaf in LEAVES}

    def figures(self, ops):
        t = self.leaf_times(ops)
        out = {"query_pass_s": (sum(t.values()), "s")}
        for fam, leaves in FAMILIES.items():
            out[fam] = (sum(t[x] for x in leaves), "s")
        return out

    def per_layer(self, ops, traced, log):
        out = {}
        for leaf in LEAVES:
            mine = [o for o in ops if o.info["leaf"] == leaf]
            (t,) = [o for o in traced if o.info["leaf"] == leaf]
            out[f"q.{leaf}.s"] = (median([o.wall for o in mine]), "s")
            out[f"q.{leaf}.build_s"] = (median([o.info["build_s"] for o in mine]), "s")
            out[f"q.{leaf}.shuffle_bytes"] = (log.totals(t.name).get("shuffle_write", 0.0), "B")
            if leaf in FAMILIES["dedup_s"]:
                out[f"q.{leaf}.scan_count"] = (log.scan_count(t.name), "count")
        return out


WORKLOADS = {w.name: w for w in (Harvest, Queries)}
