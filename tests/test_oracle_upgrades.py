"""Round-7 oracle upgrades: extract_pipeline / quality_metrics_udf value
oracles and their fail-loud domain guards (VERDICT r6 #1/#2)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E


def test_pages_fixture_is_deterministic_and_cached(monkeypatch, tmp_path):
    """Same content -> same signature-addressed path; the parquet is
    written once and reused (mtime stable across calls)."""
    monkeypatch.setenv("CCN_CACHE_ROOT", str(tmp_path / "cache"))
    p1 = E._ensure_pages_fixture()
    m1 = os.path.getmtime(p1)
    p2 = E._ensure_pages_fixture()
    assert p2 == p1
    assert os.path.getmtime(p2) == m1
    assert f"pages-n{E.N_FIXTURE_PAGES}-" in p1


def test_extract_oracle_guard_rejects_real_trafilatura(monkeypatch):
    """If the real extractor ever appears, the oracle must refuse to certify
    the fallback replay instead of silently mismatching."""
    from commoncrawlnewsdataset_spark.functions import extract as EX
    from commoncrawlnewsdataset_spark.synth import make_pages_pdf

    monkeypatch.setattr(EX, "HAVE_TRAFILATURA", True)
    with pytest.raises(ValueError, match="trafilatura"):
        E._assert_extract_oracle_domain(make_pages_pdf(10))


def test_extract_oracle_guard_rejects_exotic_whitespace():
    """A page whose extracted text carries non-{space,newline} whitespace is
    outside the proven replay domain -> loud failure, not a wrong hash."""
    import pandas as pd

    pdf = pd.DataFrame(
        [{"url": "https://h.example.org/a",
          "html": "<html><title>t</title><p>word\x0bword more words here.</p></html>".encode()}]
    )
    with pytest.raises(ValueError, match="whitespace"):
        E._assert_extract_oracle_domain(pdf)


def test_extract_oracle_guard_rejects_unicode_boundary_divergence():
    """A text whose sentence count differs between unicode and ASCII \\b
    (sentence starting with a non-ASCII letter after a non-boundary) must
    be rejected, since RE2's \\b is ASCII."""
    import pandas as pd

    # text 'Ä.': unicode \b fires before Ä (1 sentence); ASCII \b sees no
    # word char at all (0 sentences) -> findall counts diverge.
    pdf = pd.DataFrame(
        [{"url": "https://h.example.org/a",
          "html": "<html><title>t</title><p>Ä.</p></html>".encode()}]
    )
    with pytest.raises(ValueError, match="sentence"):
        E._assert_extract_oracle_domain(pdf)


def test_quality_metrics_guard_rejects_non_ascii(spark, tmp_path):
    """q_quality_metrics_udf asserts the ASCII oracle domain and fails loud
    outside it.  r8: the guard is folded into the lazy plan (per-row
    raise_error rides the UDF's own scan instead of a separate eager
    pre-scan job), so the failure surfaces at EXECUTION — the query can
    still never return rows from outside the proven replay domain."""
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    spark.createDataFrame(
        [(0, "plain ascii text"), (1, "text mit Umlaut ü")], "doc_id long, text string"
    ).write.parquet(f"{sf}/documents.parquet")
    with pytest.raises(Exception, match="ASCII oracle domain"):
        E.q_quality_metrics_udf(spark, sf).collect()


def test_quality_metrics_guard_names_null_doc_id(spark, tmp_path):
    """A non-ASCII row whose doc_id is NULL still raises with a message
    that names the row (doc_id=NULL), not a NULL message."""
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    spark.createDataFrame(
        [(0, "plain ascii text"), (None, "text mit Umlaut ü")], "doc_id long, text string"
    ).write.parquet(f"{sf}/documents.parquet")
    with pytest.raises(Exception, match=r"ASCII oracle domain \(doc_id=NULL\)"):
        E.q_quality_metrics_udf(spark, sf).collect()


def test_sessionize_compares_gap_in_microseconds(spark, tmp_path):
    """A gap of 1800.5 s breaks the session (it exceeds the 1800 s rule),
    exactly as the DuckDB oracle's fractional epoch() compares it; 1800 s
    itself does not.  A whole-second cast would keep 1800.5 inside."""
    import datetime as dt

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from commoncrawlnewsdataset_spark.plans.queries import (
        ORACLE_SESSIONIZE,
        q_sessionize,
    )

    t0 = dt.datetime(2024, 1, 1)
    gaps = {1: [0.0, 1800.5, 3600.5, 3601.0], 2: [0.0, 1799.9, 3599.9]}
    rows = [(u, t0 + dt.timedelta(seconds=s)) for u, ss in gaps.items() for s in ss]
    sf = str(tmp_path / "sf")
    os.makedirs(f"{sf}/events.parquet")
    pq.write_table(
        pa.table({
            "event_id": pa.array(range(len(rows)), pa.int64()),
            "ts": pa.array([t for _, t in rows], pa.timestamp("us")),
            "user_id": pa.array([u for u, _ in rows], pa.int64()),
            "event_type": ["view"] * len(rows),
            "value": [1.0] * len(rows),
            "props": ["{}"] * len(rows),
        }),
        f"{sf}/events.parquet/part-0.parquet",
    )
    got = {tuple(r) for r in q_sessionize(spark, sf).collect()}
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet/*.parquet')")
    want = set(con.sql(ORACLE_SESSIONIZE).fetchall())
    assert got == want == {(1, 2, 3), (2, 1, 3)}


def test_extract_pipeline_matches_entry_rows(spark, monkeypatch, tmp_path):
    """The oracle-backed q_extract_pipeline (fixture-parquet input) computes
    the same result set as entry() (createDataFrame input) — same synth
    rows, same pipeline."""
    monkeypatch.setenv("CCN_CACHE_ROOT", str(tmp_path / "cache"))
    got = {
        (r["url"], r["word_count"], r["loc_normal"])
        for r in E.q_extract_pipeline(spark, "unused").collect()
    }
    want = {
        (r["url"], r["word_count"],
         r["loc_normal"])
        for r in E.entry(spark).collect()
    }
    assert got == want and len(got) > 0
