"""Output checks, run outside the timed regions.

Each check returns a list of problems; an empty list is a pass.  The
expected values come from DuckDB or plain Python over the generated inputs
and the bytes the program committed, never from the program's own plans.
"""

from __future__ import annotations

import glob
import os

import duckdb
import pandas as pd

HOST_SQL = "regexp_extract(url, '^https://([^/]+)', 1)"


def expected_wave(seeds_path: str, wave: int, budget: int) -> set[str]:
    """URLs a closed frontier selects in ``wave``: per-host ranks
    ((wave-1)*budget, wave*budget] under (priority desc, discovered_ts,
    url).  Holds while nothing is re-queued and no links are discovered."""
    lo, hi = (wave - 1) * budget, wave * budget
    rows = duckdb.sql(f"""
        SELECT url FROM (
          SELECT url, row_number() OVER (
                   PARTITION BY {HOST_SQL}
                   ORDER BY priority DESC, discovered_ts, url) AS rk
          FROM read_parquet('{seeds_path}'))
        WHERE rk > {lo} AND rk <= {hi}""").fetchall()
    return {r[0] for r in rows}


def check_wave(seeds_path: str, delta_path: str, manifest: dict, budget: int) -> list[str]:
    """A wave selected exactly the expected ranks (its delta's fetched and
    failed rows; pending rows are discovered links), and its manifest's
    counts add up."""
    wave = manifest["wave"]
    got = duckdb.sql(
        f"SELECT url FROM read_parquet('{delta_path}/*.parquet') "
        f"WHERE wave = {wave} AND status <> 'pending'"
    ).fetchall()
    got_urls = [r[0] for r in got]
    want = expected_wave(seeds_path, wave, budget)
    problems = []
    if len(got_urls) != len(set(got_urls)):
        problems.append(f"wave {wave}: a URL was selected twice")
    missing, extra = want - set(got_urls), set(got_urls) - want
    if missing or extra:
        problems.append(
            f"wave {wave}: selection differs from ranks ({(wave - 1) * budget}, "
            f"{wave * budget}]: {len(missing)} missing, {len(extra)} extra"
        )
    n_sel = manifest.get("n_selected", 0)
    if manifest.get("n_fetched", 0) + manifest.get("n_failed", 0) != n_sel:
        problems.append(f"wave {wave}: n_fetched + n_failed != n_selected ({n_sel})")
    if n_sel != len(got_urls):
        problems.append(f"wave {wave}: manifest n_selected {n_sel} != {len(got_urls)} delta rows")
    return problems


def check_harvest(pages_dir: str, budget: int, article_tokens: int, packed_tokens: int) -> list[str]:
    """The crawl fetched no URL twice, kept every host within its budget in
    every wave, and packing kept every token of the filtered articles."""
    problems = []
    files = sorted(glob.glob(os.path.join(pages_dir, "wave=*.parquet")))
    if not files:
        return ["harvest: the page sink is empty"]
    con = duckdb.connect()
    parts = " UNION ALL ".join(
        f"SELECT '{os.path.basename(f)}' AS wave, url, {HOST_SQL} AS host "
        f"FROM read_parquet('{f}/*.parquet')"
        for f in files
    )
    dup = con.sql(f"SELECT count(*) - count(DISTINCT url) FROM ({parts})").fetchone()[0]
    if dup:
        problems.append(f"harvest: {dup} URLs fetched more than once")
    over = con.sql(
        f"SELECT wave, host, count(*) AS n FROM ({parts}) GROUP BY 1, 2 "
        f"HAVING count(*) > {budget} ORDER BY 3 DESC LIMIT 1"
    ).fetchall()
    if over:
        problems.append(f"harvest: host {over[0][1]} got {over[0][2]} fetches in {over[0][0]} (budget {budget})")
    if packed_tokens != article_tokens:
        problems.append(f"harvest: packed {packed_tokens} tokens, filtered articles hold {article_tokens}")
    return problems


def token_total(texts) -> int:
    """Whitespace tokens, the count ``pack_chunks`` budgets by default."""
    return sum(len(t.split()) for t in texts if t)


def oracle_frames(sf_dir: str, names: list[str]) -> dict[str, tuple]:
    """(oracle dataframe, DuckDB column types) per leaf."""
    import __spark_entry__ as entry
    from tools import selfcheck

    con = selfcheck.duck_conn(sf_dir)
    sqls = entry.oracle_sql()
    out = {}
    for name in names:
        rel = con.sql(sqls[name])
        out[name] = (rel.df(), [str(t) for t in rel.types], list(rel.columns))
    return out


class Result:
    """A collected leaf result in the shape selfcheck's comparators read."""

    def __init__(self, pdf: pd.DataFrame, dtypes: list[tuple[str, str]]):
        self.pdf, self.dtypes = pdf, dtypes

    def toPandas(self) -> pd.DataFrame:
        return self.pdf.copy()


class _Rel:
    def __init__(self, columns, types):
        self.columns, self.types = columns, types


def check_leaf(name: str, got: Result, oracle: tuple) -> list[str]:
    """selfcheck's schema and order-insensitive value comparison."""
    from tools import selfcheck

    want, types, cols = oracle
    problems = selfcheck.compare_schema(got, _Rel(cols, types))
    problems += selfcheck.compare(name, got, want)
    return [f"{name}: {i}" for i in problems]
