"""Shows that every output check in checks.py rejects a corrupted result.

    python3 perfbench/selftest.py

Builds small correct results without Spark (the expected values
themselves), confirms each check passes them, then corrupts them one way
at a time and confirms each check fails.  Exits non-zero on any miss.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import checks, gen  # noqa: E402

BUDGET = 5


def write_rows(path: str, urls: list[str], wave: int, status: str = "fetched") -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    pq.write_table(pa.table({
        "url": urls, "status": [status] * len(urls), "wave": [wave] * len(urls),
    }), os.path.join(path, "part-0.parquet"))


def wave_cases(work: str):
    seeds = os.path.join(work, "seeds.parquet")
    gen.write_frontier(seeds, 7, 2000, 40)
    want = sorted(checks.expected_wave(seeds, 1, BUDGET))
    later = sorted(checks.expected_wave(seeds, 2, BUDGET))
    delta = os.path.join(work, "delta.parquet")
    ok = {"wave": 1, "n_selected": len(want), "n_fetched": len(want) - 3, "n_failed": 3}

    def case(urls, manifest, extra=()):
        write_rows(delta, urls, 1)
        if extra:
            pq.write_table(pa.table({"url": list(extra), "status": ["pending"] * len(extra),
                                     "wave": [1] * len(extra)}),
                           os.path.join(delta, "part-1.parquet"))
        return checks.check_wave(seeds, delta, manifest, BUDGET)

    yield "wave: correct selection", case(want, ok, extra=["https://new.example.org/x"]), True
    yield "wave: a rank past the budget", case(want[1:] + later[:1], ok), False
    yield "wave: a URL selected twice", case(want[1:] + want[:1] * 2, ok), False
    yield "wave: counts do not add up", case(want, {**ok, "n_failed": 4}), False
    yield "wave: manifest miscounts rows", case(want[1:], ok), False


def harvest_cases(work: str):
    sink = os.path.join(work, "pages")

    def case(waves, art=100, packed=100):
        shutil.rmtree(sink, ignore_errors=True)
        for k, urls in enumerate(waves, 1):
            write_rows(os.path.join(sink, f"wave={k:05d}.parquet"), urls, k)
        return checks.check_harvest(sink, BUDGET, art, packed)

    w1 = [f"https://h{h}.example.org/p/{i}" for h in range(3) for i in range(BUDGET)]
    w2 = [u + "/c" for u in w1]
    yield "harvest: correct crawl", case([w1, w2]), True
    yield "harvest: a URL fetched twice", case([w1, w2[1:] + w1[:1]]), False
    yield "harvest: a host over budget", case([w1 + ["https://h0.example.org/p/extra"], w2]), False
    yield "harvest: packing lost tokens", case([w1, w2], packed=99), False


def leaf_cases(work: str):
    from tools import selfcheck

    sf = os.path.join(work, "tables")
    gen.write_query_tables(sf, 3, 0.001)
    for name in ("pricing_summary", "url_seen_antijoin"):
        want, types, cols = checks.oracle_frames(sf, [name])[name]
        dtypes = [(c, selfcheck.DUCK_TO_SPARK.get(t, t.lower())) for c, t in zip(cols, types)]

        def case(pdf, dt=dtypes, name=name, oracle=(want, types, cols)):
            return checks.check_leaf(name, checks.Result(pdf, dt), oracle)

        bad_value = want.copy()
        bad_value.iloc[0, len(cols) - 1] = bad_value.iloc[0, len(cols) - 1] + 1
        bad_type = [(c, "string") for c, _ in dtypes]
        yield f"{name}: the oracle's own rows", case(want), True
        yield f"{name}: one value changed", case(bad_value), False
        yield f"{name}: one row dropped", case(want.iloc[1:]), False
        yield f"{name}: a column type changed", case(want, bad_type), False


def main() -> int:
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="selftest-", dir=os.path.join(ROOT, ".perfbench_work"))
    misses = 0
    try:
        for cases in (wave_cases, harvest_cases, leaf_cases):
            for label, problems, should_pass in cases(work):
                ok = (not problems) == should_pass
                misses += not ok
                verdict = "ok  " if ok else "MISS"
                print(f"{verdict} {label}: {'passes' if not problems else problems[0]}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"{misses} misses")
    return 1 if misses else 0


if __name__ == "__main__":
    raise SystemExit(main())
