"""Round-8 optimization equivalence tests.

Every r8 optimization is a plan change that must NOT change results:
- single-delta snapshot reads skip the latest-record window,
- the first wave after a seed load skips the URL-seen gate,
- the post-compaction delta broadcast hints are size-gated (hint-on ≡
  hint-off, and an unprovable bound drops the hint),
- compact()'s in-place layout conversion swap is crash-recoverable,
- with_sql_text_stats computes each split array once (same values),
- the quality_metrics_udf ASCII guard rides the lazy plan.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from commoncrawlnewsdataset_spark.frontier.waves import WaveRunner, simulated_fetch


def _seed_df(spark, n=400, n_hosts=7):
    return spark.range(n).select(
        F.concat(
            F.lit("https://h"), (F.col("id") % n_hosts).cast("string"),
            F.lit(".example.org/p/"), F.col("id").cast("string"),
        ).alias("url"),
        (F.abs(F.hash(F.col("id").cast("string"))) % 1000 / 1000.0).alias("priority"),
        (
            F.lit("2024-01-01 00:00:00").cast("timestamp")
            + F.make_interval(secs=F.col("id") % 977)
        ).alias("discovered_ts"),
    )


def _rows(df, cols=("url", "status", "wave")):
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def test_snapshot_single_delta_no_window(spark, tmp_path):
    """state() over exactly one committed delta must equal the windowed
    resolution (the delta is unique-per-url by construction), and its plan
    must carry no window over the delta."""
    runner = WaveRunner(spark, str(tmp_path / "s"), per_host_budget=5,
                        use_robots=False, fetcher=simulated_fetch,
                        detailed_metrics=False)
    runner.load_seeds(_seed_df(spark))
    st = runner.state()
    plan = st._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, "single-delta snapshot should skip the window"
    # equivalence vs the general path (force it by reading 2 waves later)
    runner.run_wave()
    st2 = runner.state(upto_wave=0)  # still single delta
    assert _rows(st2) == _rows(st)
    st_all = runner.state()  # two deltas -> windowed path
    assert "Window" in st_all._jdf.queryExecution().executedPlan().toString()
    # every url uniquely resolved either way
    assert st_all.groupBy("url").count().filter("count > 1").count() == 0


def test_first_wave_skips_urlseen_gate_equivalently(spark, tmp_path):
    """Wave 1 after load_seeds with assume_no_fetched on (the run_wave
    default now) must select exactly what the gated path selects."""
    runner = WaveRunner(spark, str(tmp_path / "s"), per_host_budget=5,
                        use_robots=False, fetcher=simulated_fetch,
                        detailed_metrics=False)
    runner.load_seeds(_seed_df(spark))
    state = runner.state()
    fast = runner.select_wave(state, assume_no_fetched=True)
    slow = runner.select_wave(state, assume_no_fetched=False)
    cols = ("url", "rank")
    assert _rows(fast, cols) == _rows(slow, cols)
    # and run_wave (which engages the fast path itself) commits the same
    # selection as the gated selection computed above
    manifest = runner.run_wave()
    assert manifest["n_selected"] == len(_rows(slow, ("url",)))


def _mk_compacted_runner(spark, tmp_path, **kw):
    runner = WaveRunner(spark, str(tmp_path / "s"), per_host_budget=5,
                        use_robots=False, fetcher=simulated_fetch,
                        detailed_metrics=False, bucket_state=4, head_factor=0,
                        **kw)
    runner.load_seeds(_seed_df(spark))
    runner.run_wave()
    runner.compact()
    runner.run_wave()
    return runner


def test_broadcast_gate_hint_on_equals_hint_off(spark, tmp_path):
    """The size-gated delta broadcast (VERDICT r7 #1): state() with the
    hint engaged (bound <= max) equals state() with the hint dropped
    (broadcast_delta_max=0), wave-for-wave."""
    import dataclasses

    runner = _mk_compacted_runner(spark, tmp_path)
    on = runner.state()
    off_runner = dataclasses.replace(runner, broadcast_delta_max=0)
    off = off_runner.state()
    assert _rows(on, ("url", "status", "wave", "host")) == _rows(
        off, ("url", "status", "wave", "host")
    )
    # the gate actually flips the hint: bound is known and positive here
    assert runner._last_delta_bound and runner._last_delta_bound > 0
    assert runner._maybe_broadcast(on.select("url")) is not None
    # hint-off runner must not broadcast
    off_runner._last_delta_bound = runner._last_delta_bound
    df = off.select("url")
    assert off_runner._maybe_broadcast(df) is df  # unchanged, no hint


def test_broadcast_gate_unprovable_bound_drops_hint(spark, tmp_path):
    """A fork delta has no manifest row count -> bound None -> no hint,
    and state() still resolves correctly."""
    runner = _mk_compacted_runner(spark, tmp_path)
    forked = runner.fork(str(tmp_path / "fork"))
    forked.run_wave()
    forked.compact()
    forked.run_wave()
    # the fork's post-checkpoint waves have proper manifests, so bound is
    # provable again there; simulate the unprovable case directly:
    assert runner._delta_rows_bound([0]) is not None  # seeded manifest
    assert forked._delta_rows_bound([0]) is None      # forked_from manifest
    st = forked.state()
    assert st.groupBy("url").count().filter("count > 1").count() == 0


def test_compact_swap_crash_recovery(spark, tmp_path):
    """A crash between the two swap renames leaves state.parquet.old; the
    next read recovers it and deletes nothing else."""
    import shutil

    runner = _mk_compacted_runner(spark, tmp_path)
    ckpt = runner.committed_checkpoints()[-1]
    out = runner._checkpoint_dir(ckpt)
    state_path = os.path.join(out, "state.parquet")
    before = _rows(runner.state(upto_wave=ckpt))
    # simulate the torn swap: old moved aside, new never arrived
    os.rename(state_path, state_path + ".old")
    assert not os.path.isdir(state_path)
    runner._recover_checkpoint_swap(ckpt)
    assert os.path.isdir(state_path)
    assert _rows(runner.state(upto_wave=ckpt)) == before
    # a .rewrite next to an intact state.parquet may be a live compactor's
    # staging dir: readers leave it in place, only compact() clears it
    os.makedirs(state_path + ".rewrite", exist_ok=True)
    runner._recover_checkpoint_swap(ckpt)
    assert _rows(runner.state(upto_wave=ckpt)) == before
    assert os.path.isdir(state_path + ".rewrite")
    assert runner.compact(ckpt) == ckpt
    assert not os.path.isdir(state_path + ".rewrite")
    # and the read path runs recovery implicitly
    os.rename(state_path, state_path + ".old")
    assert _rows(runner.state(upto_wave=ckpt)) == before
    shutil.rmtree(str(tmp_path / "s"), ignore_errors=True)


def test_delta_rows_bound_from_manifests(spark, tmp_path):
    """The manifest-derived bound covers every delta-writing path and never
    under-counts (it is an upper bound on resolved rows)."""
    runner = WaveRunner(spark, str(tmp_path / "s"), per_host_budget=5,
                        use_robots=False, fetcher=simulated_fetch,
                        detailed_metrics=False)
    runner.load_seeds(_seed_df(spark, n=100))
    runner.run_wave()
    runner.requeue_failed()
    runner.reprioritize(lambda df: F.col("priority") * 2)
    waves = runner.committed_waves()
    bound = runner._delta_rows_bound(waves)
    actual = sum(
        spark.read.parquet(
            os.path.join(runner._wave_dir(w), "delta.parquet")
        ).count()
        for w in waves
    )
    assert bound is not None and bound >= actual


def test_head_depth_scales_with_crawl_delay_override(spark, tmp_path):
    """VERDICT r7 #5: the persisted candidate head is sized per host as
    head_factor x max(budget, crawl-delay override), so an override budget
    above the uniform depth no longer forces the partial fallback on every
    truncated wave; selection remains exactly the full-scan selection."""
    rules = spark.createDataFrame(
        [("h0.example.org", "/never/", False, 1.0)],
        "host string, path_prefix string, allowed boolean, crawl_delay_s double",
    )
    kw = dict(per_host_budget=3, nsalt=2, use_robots=True, robots_rules=rules,
              wave_seconds=30.0, fetcher=simulated_fetch,
              detailed_metrics=False, bucket_state=4)
    head = WaveRunner(spark, str(tmp_path / "h"), head_factor=4, **kw)
    full = WaveRunner(spark, str(tmp_path / "f"), head_factor=0, **kw)
    # h0 override budget = floor(30/1) = 30 > uniform depth 4*3 = 12;
    # give h0 plenty of pending so it stays truncated
    urls = [f"https://h0.example.org/p/{i:03d}" for i in range(200)] + [
        f"https://h{1 + i % 3}.example.org/p/{i:03d}" for i in range(60)
    ]
    for r in (head, full):
        r.load_seeds(_seed_df(spark, n=1).limit(0).unionByName(
            spark.createDataFrame([(u,) for u in urls], "url string")
            .select("url", F.lit(0.5).alias("priority"),
                    F.lit("2024-01-01 00:00:00").cast("timestamp").alias("discovered_ts"))
        ))
        r.run_wave()
        r.compact()
    counts = spark.read.parquet(
        head._checkpoint_dir(head.committed_checkpoints()[-1])
        + "/head_counts.parquet"
    )
    got = {r["host"]: r["head_h"] for r in counts.collect()}
    assert got["h0.example.org"] == 4 * 30   # factor x override
    assert all(v == 12 for h, v in got.items() if h != "h0.example.org")
    # the deep head proves validity: wave 2 runs the head path, no partial
    m_head = head.run_wave()
    m_full = full.run_wave()
    assert m_head["head_used"] is True
    assert m_head["n_selected"] == m_full["n_selected"]
    # and the SELECTED url sets agree wave-for-wave
    a = {r["url"] for r in head.state().filter(
        F.col("status").isin("fetched", "failed")).collect()}
    b = {r["url"] for r in full.state().filter(
        F.col("status").isin("fetched", "failed")).collect()}
    assert a == b


def test_cache_torn_entry_fails_loud(tmp_path):
    """VERDICT r7 #6: an entry published without its _SUCCESS marker (the
    torn-rename signature of an object-store mount) must raise, never be
    consumed; a healthy build carries the marker."""
    from commoncrawlnewsdataset_spark.cache import ensure_cached_dir

    parent = str(tmp_path / "kind")

    def build(tmp):
        os.makedirs(tmp)
        with open(os.path.join(tmp, "data.bin"), "w") as fh:
            fh.write("x")

    final = ensure_cached_dir(parent, "e-aaaa", build)
    assert os.path.exists(os.path.join(final, "_SUCCESS"))
    # simulate the torn publish
    os.remove(os.path.join(final, "_SUCCESS"))
    with pytest.raises(RuntimeError, match="_SUCCESS"):
        ensure_cached_dir(parent, "e-aaaa", build)


def test_sql_text_stats_values_unchanged(spark):
    """The single-pass with_sql_text_stats computes the same values as the
    per-metric definitions it replaced."""
    from commoncrawlnewsdataset_spark.functions.textmetrics import (
        sql_bullet_point_starts,
        sql_fraction_ellipsis,
        sql_javascript_count,
        sql_line_count,
        sql_sentences_count,
        sql_word_count,
        with_sql_text_stats,
    )

    rows = [
        (0, "plain words here and there. More words follow!"),
        (1, "• bullet line\nsecond line...\nthird – line…\n"),
        (2, ""),
        (3, None),
        (4, "JavaScript javascript JAVASCRIPT\n\n\nx y z"),
        (5, "  leading   and trailing   spaces  "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in with_sql_text_stats(df).collect()
    }
    t = F.col("text")
    wc = sql_word_count(t)
    nl = sql_line_count(t)
    ref = {
        r["doc_id"]: r.asDict()
        for r in df.select(
            "doc_id",
            wc.alias("word_count"),
            sql_sentences_count(t).alias("sentences_count"),
            sql_javascript_count(t).alias("javascript_count"),
            (wc / nl).cast("double").alias("words_per_line"),
            F.when(
                wc > 0,
                (F.length(F.regexp_replace(t, r"\s+", "")) / wc).cast("double"),
            ).otherwise(F.lit(0.0)).alias("mean_word_length"),
            sql_fraction_ellipsis(t).alias("fraction_ellipsis"),
            sql_bullet_point_starts(t).alias("bullet_point_starts"),
        ).collect()
    }
    for k in ref:
        for col, v in ref[k].items():
            assert got[k][col] == v or (v != v and got[k][col] != got[k][col]), (
                k, col, v, got[k][col]
            )
