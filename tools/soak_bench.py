"""Multi-wave compaction soak (VERDICT r2 #5): run ~50 REAL waves over a
10^6-url frontier with periodic compaction + snapshot expiration and show
per-wave cost stays FLAT — i.e. the O(delta) snapshot read + checkpoint
cadence actually holds at the wave counts the north rule implies, extending
BENCH/ODELTA.md's single datapoint.  Writes BENCH/SOAK.md.

Usage: python tools/soak_bench.py [n_urls] [n_hosts] [budget] [compact_every] [max_waves] [out_md] [bucket_state] [head_factor]

``bucket_state`` > 0 runs the frontier in url-bucketed checkpoint mode
(VERDICT r5 #4) — compaction writes a bucketed+sorted table, the per-wave
URL-seen gate joins Exchange-free against it and builds the bloom
incrementally.  Every run records a per-wave SHUFFLE WRITE column (Spark UI
REST, cumulative deltas) so plain vs bucketed shuffle mass is directly
comparable wave by wave.

``head_factor`` (default 8; bucketed mode only) sizes the per-host
candidate head persisted at compaction (VERDICT r6 #3): post-compaction
waves rank head ∪ deltas instead of the full pending set.  0 disables —
the A/B against the full O(pending) selection (BENCH/HEAD.md).
"""

from __future__ import annotations

import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    n_urls = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_hosts = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000
    budget = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    compact_every = int(sys.argv[4]) if len(sys.argv) > 4 else 5
    max_waves = int(sys.argv[5]) if len(sys.argv) > 5 else 50
    out_md = sys.argv[6] if len(sys.argv) > 6 else "BENCH/SOAK.md"
    bucket_state = int(sys.argv[7]) if len(sys.argv) > 7 else 0
    head_factor = int(sys.argv[8]) if len(sys.argv) > 8 else 8

    from pyspark.sql import functions as F

    from commoncrawlnewsdataset_spark.frontier.waves import WaveRunner
    from commoncrawlnewsdataset_spark.session import get_spark

    spark = get_spark(
        "soak-bench",
        extra_conf={
            "spark.ui.enabled": "true",
            # the shuffle column sums COMPLETED stages via the UI REST API:
            # at the default retainedStages=1000 a long soak evicts old
            # stages and the cumulative sum silently DROPS (r6 review) —
            # retain enough for any soak this tool runs
            "spark.ui.retainedStages": "200000",
        },
    )

    def shuffle_write_bytes() -> int:
        """Cumulative shuffle-write bytes across completed stages (UI REST;
        measurement-only — the engine never depends on the UI)."""
        import json as _json
        import urllib.request

        base = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        try:
            with urllib.request.urlopen(
                f"{base}/api/v1/applications/{app}/stages?status=COMPLETE", timeout=10
            ) as r:
                stages = _json.load(r)
            return sum(st.get("shuffleWriteBytes", 0) for st in stages)
        except Exception:
            return -1
    # synthesize the frontier distributed (a 10^6-row driver loop would be
    # the bottleneck, not the engine)
    seeds = spark.range(n_urls).select(
        F.concat(
            F.lit("https://h"),
            (F.col("id") % n_hosts).cast("string"),
            F.lit(".example.org/p/"),
            F.col("id").cast("string"),
        ).alias("url"),
        (F.pmod(F.xxhash64("id"), F.lit(1000)) / 1000.0).alias("priority"),
        (
            F.lit("2024-01-01 00:00:00").cast("timestamp")
            + F.make_interval(secs=F.col("id").cast("double"))
        ).alias("discovered_ts"),
    )

    state_dir = tempfile.mkdtemp(prefix="soak-state-")
    runner = WaveRunner(
        spark, state_dir, per_host_budget=budget, nsalt=8,
        use_robots=False, detailed_metrics=False,
        bucket_state=bucket_state or None,
        head_factor=head_factor,
    )
    t0 = time.time()
    runner.load_seeds(seeds)
    seed_s = time.time() - t0

    rows = []
    shuf_prev = shuffle_write_bytes()
    for _ in range(max_waves):
        t0 = time.time()
        m = runner.run_wave()
        wall = time.time() - t0
        shuf_now = shuffle_write_bytes()
        shuf_mb = (shuf_now - shuf_prev) / 1e6 if shuf_now >= 0 and shuf_prev >= 0 else -1
        if shuf_mb < 0 and shuf_now >= 0 and shuf_prev >= 0:
            # cumulative sum went DOWN: UI evicted stages despite the raised
            # retention — mark the sample invalid rather than print a lie
            shuf_mb = float("nan")
        note = ""
        if (
            compact_every
            and not m.get("done")
            and m["wave"] % compact_every == 0
        ):
            tc = time.time()
            runner.compact(m["wave"])
            expired = runner.expire_snapshots()
            note = f"compact {time.time()-tc:.1f}s, expired {len(expired)}"
        shuf_prev = shuffle_write_bytes()  # compaction shuffle not charged to waves
        if m.get("head_used"):
            note = (note + ", " if note else "") + "head"
        rows.append((m["wave"], m["n_selected"], wall, m["phase_s"], note, shuf_mb))
        if m.get("done"):
            break

    work = [r for r in rows if r[1] > 0]
    early = [r[2] for r in work[1:6]]
    late = [r[2] for r in work[-5:]]
    ratio = (sum(late) / len(late)) / (sum(early) / len(early))
    total_fetched = sum(r[1] for r in rows)
    total_s = sum(r[2] for r in rows)

    with open(out_md, "w") as f:
        f.write(
            f"# {max_waves}-wave compaction soak — {n_urls:,} urls, {n_hosts:,} hosts, "
            f"budget {budget}, compact_every={compact_every} + expire_snapshots"
            f"{f', bucket_state={bucket_state}' if bucket_state else ''}"
            f"{f', head_factor={head_factor}' if bucket_state and head_factor else ', head OFF'}\n\n"
            f"Seed load: {seed_s:.1f}s.  Total: {total_fetched:,} urls attempted "
            f"over {len(work)} working waves, {total_s:.1f}s "
            f"({total_fetched/total_s:,.0f} urls/s sustained, local[32]).\n\n"
            f"**Flatness: mean wall of waves {work[1][0]}-{work[5][0]} = "
            f"{sum(early)/len(early):.2f}s vs waves {work[-5][0]}-{work[-1][0]} = "
            f"{sum(late)/len(late):.2f}s -> late/early ratio {ratio:.2f}** "
            "(<= ~1.2 means per-wave cost does NOT grow with the accumulated "
            "wave log — the O(delta) snapshot read + compaction cadence holds; "
            "ratios well below 1 additionally reflect the draining pending "
            "set.  With head_factor=0 — or before the first compaction — "
            "wave SELECTION is the full O(pending) rank; with the candidate "
            "head it is O(head ∪ delta) per wave, see BENCH/HEAD.md).\n\n"
            "| wave | selected | wall (s) | select (s) | fetch+write (s) | metrics (s) | shuffle write (MB) | compaction |\n"
            "|---|---|---|---|---|---|---|---|\n"
        )
        for w, nsel, wall, ph, note, shuf_mb in rows:
            f.write(
                f"| {w} | {nsel:,} | {wall:.2f} | {ph['select']:.2f} | "
                f"{ph['fetch_write']:.2f} | {ph['metrics']:.2f} | "
                f"{shuf_mb:.0f} | {note} |\n"
            )
    print(
        f"waves={len(rows)} fetched={total_fetched:,} total={total_s:.1f}s "
        f"late/early={ratio:.2f} -> {out_md}"
    )


if __name__ == "__main__":
    main()
