"""VERDICT r7 #5: soak the candidate-head wave selection under robots
crawl-delay budget OVERRIDES that exceed the persisted head depth, so the
partial fallback (r7.2) is exercised at soak scale — and report
head_used / partial / full frequency and per-wave cost, with a
head-OFF control run for wall comparison and a per-wave n_selected
equality check (per-host rank independence makes the partial union
exact, so both runs must schedule identical counts).

Usage: python tools/head_adaptive_bench.py [n_urls] [n_hosts] [budget]
           [head_factor] [wave_seconds] [n_override_hosts] [max_waves]
           [out_md]

Default shape: head depth H = head_factor x budget = 400; overridden
hosts get crawl_delay 1 s at wave_seconds=600 -> override budget 600 > H,
so every truncated overridden host forces the partial leg.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    n_urls = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    n_hosts = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000
    budget = int(sys.argv[3]) if len(sys.argv) > 3 else 50
    head_factor = int(sys.argv[4]) if len(sys.argv) > 4 else 8
    wave_seconds = float(sys.argv[5]) if len(sys.argv) > 5 else 600.0
    n_override = int(sys.argv[6]) if len(sys.argv) > 6 else 20
    max_waves = int(sys.argv[7]) if len(sys.argv) > 7 else 9
    out_md = sys.argv[8] if len(sys.argv) > 8 else "BENCH/HEAD_ADAPTIVE.md"

    import shutil
    import tempfile

    from commoncrawlnewsdataset_spark.benchlib import (
        make_costed_fetcher,
        synth_frontier_seeds,
    )
    from commoncrawlnewsdataset_spark.frontier.waves import WaveRunner
    from commoncrawlnewsdataset_spark.session import get_spark

    spark = get_spark("head-adaptive-soak")
    spark.sparkContext.setLogLevel("ERROR")

    # overridden hosts: crawl_delay 1s -> budget floor(wave_seconds/1),
    # deliberately ABOVE the head depth head_factor*budget; the disallow
    # prefix matches nothing, so gating drops no urls
    rules = spark.createDataFrame(
        [
            (f"h{i}.example.org", "/never-matches/", False, 1.0)
            for i in range(n_override)
        ],
        "host string, path_prefix string, allowed boolean, crawl_delay_s double",
    )

    seeds = synth_frontier_seeds(spark, n_urls, n_hosts)
    runs = {}
    for name, hf in (("head", head_factor), ("full", 0)):
        tmp = tempfile.mkdtemp(prefix=f"headadpt-{name}-")
        runner = WaveRunner(
            spark, tmp, per_host_budget=budget, nsalt=8, use_bloom=True,
            use_robots=True, robots_rules=rules, wave_seconds=wave_seconds,
            detailed_metrics=False, fetcher=make_costed_fetcher(100.0),
            bucket_state=64, head_factor=hf,
        )
        t0 = time.time()
        runner.load_seeds(seeds)
        seed_s = time.time() - t0
        rows = []
        for w in range(1, max_waves + 1):
            t0 = time.time()
            m = runner.run_wave()
            rows.append(
                {
                    "wave": m["wave"],
                    "n_selected": m["n_selected"],
                    "wall": round(time.time() - t0, 2),
                    "head_used": m["head_used"],
                    "phase_s": m["phase_s"],
                }
            )
            if w % 3 == 0 and not m.get("done"):
                runner.compact(m["wave"])
                runner.expire_snapshots()
            if m.get("done"):
                break
        runs[name] = {"seed_s": seed_s, "rows": rows, "dir": tmp}

    # per-wave scheduled counts must be identical head-vs-full (the
    # partial union is provably the full selection)
    mismatches = [
        (a["wave"], a["n_selected"], b["n_selected"])
        for a, b in zip(runs["head"]["rows"], runs["full"]["rows"])
        if a["n_selected"] != b["n_selected"]
    ]

    H = head_factor * budget
    modes = [str(r["head_used"]) for r in runs["head"]["rows"]]
    counts = {m: modes.count(m) for m in set(modes)}
    with open(out_md, "w") as f:
        f.write(
            f"# Candidate-head soak under crawl-delay budget overrides "
            f"(VERDICT r7 #5)\n\n"
            f"{n_urls:,} urls, {n_hosts:,} hosts, default budget {budget}, "
            f"head_factor={head_factor} (head depth H={H}), "
            f"wave_seconds={wave_seconds:g} with crawl_delay 1 s on "
            f"{n_override} hosts -> override budget "
            f"{int(wave_seconds)} > H, so truncated overridden hosts "
            f"cannot prove head validity and take the PARTIAL leg "
            f"(full-scan selection restricted to the invalid hosts).\n\n"
            f"head_used per wave: {counts} over {len(modes)} waves.  "
            f"Per-wave n_selected head-vs-full mismatches: "
            f"{mismatches if mismatches else 'NONE (exact)'}\n\n"
        )
        for name in ("head", "full"):
            rr = runs[name]
            total = sum(r["n_selected"] for r in rr["rows"])
            wall = sum(r["wall"] for r in rr["rows"])
            f.write(
                f"## {name} (seed {rr['seed_s']:.1f}s; {total:,} urls over "
                f"{wall:.1f}s = {total / wall:,.0f} urls/s)\n\n"
                "| wave | selected | wall (s) | head_used | select (s) | fetch+write (s) |\n"
                "|---|---|---|---|---|---|\n"
            )
            for r in rr["rows"]:
                ph = r["phase_s"]
                f.write(
                    f"| {r['wave']} | {r['n_selected']:,} | {r['wall']} | "
                    f"{r['head_used']} | {ph['select']} | {ph['fetch_write']} |\n"
                )
            f.write("\n")
    for rr in runs.values():
        shutil.rmtree(rr["dir"], ignore_errors=True)
    print(
        f"modes={counts} mismatches={len(mismatches)} -> {out_md}"
    )


if __name__ == "__main__":
    main()
