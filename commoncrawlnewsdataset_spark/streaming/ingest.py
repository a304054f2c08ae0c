"""Continuous pages ingest via Structured Streaming.

The reference is pure batch (SURVEY §2.12: no watermarks/state anywhere);
its nearest analogs are month partitioning (coarse tumbling window) and the
skip-processed resume (at-least-once micro-batching).  This module provides
the optional streaming path:

- ``stream_pages``        file-source readStream over a pages directory
- ``hourly_host_counts``  watermarked tumbling-window aggregation (late data
                          bounded by the watermark)
- ``stream_extract_to``   foreachBatch: each micro-batch runs the batch
                          extraction spine and appends to a sink dir —
                          exactly the crawl-wave pattern, which is why the
                          wave loop itself stays batch (per-wave global
                          barriers: politeness budget, frontier re-rank).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from commoncrawlnewsdataset_spark.schemas import PAGES_SCHEMA


def stream_pages(spark: SparkSession, path: str, max_files_per_trigger: int = 4) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def stream_warc_pages(
    spark: SparkSession, path_glob: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """Continuous WARC ingestion: file-source stream of raw .warc/.warc.gz
    shards -> from-scratch WARC/1.0 parse (response filter + header
    projection inside the scan stage) -> input_hint pages shape.  New shards
    dropped into the directory flow through on the next micro-batch — the
    streaming form of stage 02 (02_extract_newscrawl.py:18-39), minus the
    destructive delete (the checkpoint tracks processed files instead)."""
    from commoncrawlnewsdataset_spark.sources.pages import (
        parse_warc_blobs,
        warc_records_to_pages,
    )

    blobs = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, length long, content binary"
        )
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(path_glob)
        .select("content")
    )
    return warc_records_to_pages(parse_warc_blobs(blobs))


def hourly_host_counts(pages_stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Event-time tumbling window with late-data bound: pages per host-hour."""
    from commoncrawlnewsdataset_spark.functions.urls import host_of

    return (
        pages_stream.withColumn("host", host_of(F.col("url")))
        .withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", "1 hour").alias("w"), "host")
        .agg(F.count("*").alias("n_pages"))
        .select(F.col("w.start").alias("hour"), "host", "n_pages")
    )


def stateful_host_counts(pages_stream: DataFrame):
    """Custom stateful operator via applyInPandasWithState: running page
    count + last-seen timestamp per host across micro-batches (the pattern a
    custom frontier statistic — e.g. per-host politeness debt — would use).

    Returns (host, n_pages_total, batches_seen) in update mode; state is one
    (count, batches) pair per host."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )
    from typing import Iterable

    from commoncrawlnewsdataset_spark.functions.urls import host_of

    out_schema = StructType(
        [
            StructField("host", StringType()),
            StructField("n_pages_total", LongType()),
            StructField("batches_seen", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("count", LongType()), StructField("batches", LongType())]
    )

    def update(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        (host,) = key
        count, batches = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            count += len(pdf)
        batches += 1
        state.update((count, batches))
        yield pd.DataFrame(
            {"host": [host], "n_pages_total": [count], "batches_seen": [batches]}
        )

    hosts = pages_stream.select(host_of(F.col("url")).alias("host"))
    return hosts.groupBy("host").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def politeness_debt(
    requests_stream: DataFrame,
    crawl_delays: dict[str, float] | None = None,
    batch_seconds: float = 60.0,
    default_delay: float = 1.0,
):
    """Per-host crawl-delay DEBT carried across micro-batches — the stateful
    streaming generalization of WaveRunner's per-wave budget arithmetic
    (budget = wave_seconds / crawl_delay, frontier/waves.py; reference
    analog: the 1 rps geocode RateLimiter, 07_geocode_news.py:149-155).
    Each micro-batch a host may spend the batch's time budget plus any
    banked remainder; requests beyond it are deferred and the shortfall
    carries forward as state:

        allowed_i = floor((batch_seconds + carry_{i-1}) / delay)
        granted_i = min(n_i, allowed_i)
        carry_i   = min(batch_seconds, batch_seconds + carry_{i-1}
                                       - granted_i * delay)

    The recurrence is deterministic, so a plain batch loop replays it
    exactly — the stream ≡ batch check in tests/test_pipeline.py.  State
    updates only on batches where the host appears (idle-batch credit would
    use a timeout-based state expiry in production).  Emits cumulative
    (host, n_requested, n_granted, n_deferred, carry_s, batches_seen) in
    update mode; state is one (requested, granted, carry, batches) tuple
    per host — O(hosts), never O(urls)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )
    from typing import Iterable

    from commoncrawlnewsdataset_spark.functions.urls import host_of

    delays = dict(crawl_delays or {})
    out_schema = StructType(
        [
            StructField("host", StringType()),
            StructField("n_requested", LongType()),
            StructField("n_granted", LongType()),
            StructField("n_deferred", LongType()),
            StructField("carry_s", DoubleType()),
            StructField("batches_seen", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("requested", LongType()),
            StructField("granted", LongType()),
            StructField("carry", DoubleType()),
            StructField("batches", LongType()),
        ]
    )

    def update(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        (host,) = key
        delay = delays.get(host, default_delay)
        requested, granted, carry, batches = (
            state.get if state.exists else (0, 0, 0.0, 0)
        )
        n = sum(len(pdf) for pdf in pdfs)
        allowed = int((batch_seconds + carry) // delay)
        g = min(n, allowed)
        carry = min(batch_seconds, batch_seconds + carry - g * delay)
        requested += n
        granted += g
        batches += 1
        state.update((requested, granted, carry, batches))
        yield pd.DataFrame(
            {
                "host": [host],
                "n_requested": [requested],
                "n_granted": [granted],
                "n_deferred": [requested - granted],
                "carry_s": [carry],
                "batches_seen": [batches],
            }
        )

    hosts = requests_stream.select(host_of(F.col("url")).alias("host"))
    return hosts.groupBy("host").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def sessionize_stream(events_stream: DataFrame, gap_s: int = 1800):
    """Streaming twin of the batch sessionizer (plans.queries.q_sessionize):
    gap-based sessions per user as a custom stateful operator.  State per
    user is (last_us, current_session_events, n_sessions,
    max_session_events), times in epoch microseconds as in the batch rule;
    each micro-batch's events are sorted by (ts, event_id) inside the group
    and folded through the same >gap_s break rule the batch window uses,
    so chronologically-batched input converges to the batch answer
    exactly (the stream ≡ batch test).
    Emits running (user_id, n_sessions, max_session_events) in update mode
    — O(users) state, never O(events)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType
    from typing import Iterable

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_sessions", LongType()),
            StructField("max_session_events", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("last_us", LongType()),
            StructField("cur_events", LongType()),
            StructField("n_sessions", LongType()),
            StructField("max_events", LongType()),
        ]
    )

    def update(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        (user_id,) = key
        last, cur, ns, mx = state.get if state.exists else (None, 0, 0, 0)
        ev = pd.concat(list(pdfs), ignore_index=True)
        ev = ev.sort_values(["ts", "event_id"])
        for t in ev["ts"].astype("int64") // 10**3:  # ns epoch -> microseconds
            t = int(t)
            if last is None or t - last > gap_s * 10**6:
                ns += 1
                cur = 1
            else:
                cur += 1
            mx = max(mx, cur)
            last = t
        state.update((last, cur, ns, mx))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_sessions": [ns], "max_session_events": [mx]}
        )

    ev = events_stream.select("user_id", "event_id", "ts")
    return ev.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stream_dedup_corpus_to(
    pages_stream: DataFrame, store_dir: str, sink_dir: str, checkpoint_dir: str
) -> StreamingQuery:
    """Continuous corpus building with CROSS-BATCH dedup: each micro-batch
    runs the batch extraction spine, then drops content whose fingerprint
    was ingested by ANY earlier COMMITTED micro-batch (or earlier run — the
    fingerprint log under ``store_dir`` persists) before writing the sink.

    Effectively-once protocol (order matters — appending fingerprints
    BEFORE the sink write would turn a mid-batch failure into silent
    at-most-once: the retry would anti-join against fingerprints whose
    documents never reached the sink and drop them forever):

    1. the anti-join reads only fingerprints from epochs whose sink write
       COMMITTED (sink_dir/epoch=<e>/_SUCCESS exists) — a fingerprint from
       a failed attempt never suppresses its documents' retry.  The current
       epoch's own fingerprints are likewise excluded so a retry AFTER a
       successful sink write recomputes the same survivor set instead of
       dropping everything;
    2. the sink write is per-epoch OVERWRITE into sink_dir/epoch=<e> —
       idempotent under Structured Streaming's epoch replay (same input →
       same survivors → same directory contents);
    3. only then are the survivors' fingerprints appended, stamped with the
       epoch.  A crash between 2 and 3 replays the epoch: step 1 keeps the
       rows, step 2 rewrites identical data, step 3 appends (duplicate
       fingerprint rows for one epoch are harmless to an anti-join).

    The (sink_dir, store_dir) pair is bound to ONE checkpoint lineage:
    epoch ids are assigned by the streaming checkpoint, so pointing a
    FRESH checkpoint_dir at an existing sink would restart ids at 0 and
    overwrite prior epoch directories — standard foreachBatch epoch-id
    semantics (a batch is identified by (checkpointLocation, epoch_id)).
    Restarting with the SAME checkpoint_dir — the supported resume path —
    continues the id sequence and is exactly what the protocol above is
    built for."""
    import os

    from commoncrawlnewsdataset_spark.functions.extract import extract_articles
    from commoncrawlnewsdataset_spark.operators.dedup import (
        append_fingerprints,
        dedup_batch_against_fps,
        fingerprint_log,
    )

    def _committed_epochs() -> set[int]:
        if not os.path.isdir(sink_dir):
            return set()
        return {
            int(d.split("=", 1)[1])
            for d in os.listdir(sink_dir)
            if d.startswith("epoch=")
            and os.path.exists(os.path.join(sink_dir, d, "_SUCCESS"))
        }

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        arts = extract_articles(batch_df)
        committed = _committed_epochs() - {int(epoch_id)}
        seen = fingerprint_log(batch_df.sparkSession, store_dir, epochs=committed)
        kept = dedup_batch_against_fps(arts, seen, "url", "text")
        kept.drop("_fp").withColumn("epoch", F.lit(epoch_id)).write.mode(
            "overwrite"
        ).parquet(os.path.join(sink_dir, f"epoch={int(epoch_id)}"))
        append_fingerprints(kept, store_dir, epoch=int(epoch_id))

    return (
        pages_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_extract_to(
    pages_stream: DataFrame, sink_dir: str, checkpoint_dir: str
) -> StreamingQuery:
    """foreachBatch extraction: reuses the exact batch plan per micro-batch
    (epoch = micro-batch id, the streaming analog of a crawl wave)."""
    from commoncrawlnewsdataset_spark.functions.extract import extract_articles

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        (
            extract_articles(batch_df)
            .withColumn("epoch", F.lit(epoch_id))
            .write.mode("append")
            .parquet(sink_dir)
        )

    return (
        pages_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
