"""Structured Streaming operators for the event/ingest side of the pipeline.

The reference has no streaming surface (SURVEY.md §2.9 — resumability comes
from snapshot checkpoints, see ``checkpoint.py``); these operators cover the
training-data-pipeline side: continuous document/event ingestion with
watermarked windowed aggregation and session windows.  File-source streams
over the same parquet layout the batch engine reads ⇒ one code path for
backfill + live."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_SCHEMA = ("event_id long, ts timestamp, user_id long, "
                 "event_type string, value double, props string")


def read_event_stream(spark: SparkSession, path: str,
                      schema: str = EVENTS_SCHEMA) -> DataFrame:
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 4).parquet(path))


def windowed_event_counts(events: DataFrame, *, window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window per-type counts/sums with late-data watermark."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("w"), "event_type")
            .agg(F.count("*").alias("n"),
                 F.sum("value").alias("value_sum"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n", "value_sum"))


def session_windows(events: DataFrame, *, gap: str = "30 minutes",
                    watermark: str = "2 hours") -> DataFrame:
    """Per-user session windows (gap-based), the sessionization primitive."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.session_window("ts", gap).alias("s"), "user_id")
            .agg(F.count("*").alias("n_events"),
                 F.sum("value").alias("value_sum"))
            .select(F.col("s.start").alias("session_start"),
                    F.col("s.end").alias("session_end"),
                    "user_id", "n_events", "value_sum"))


def run_stream_to_memory(stream_df: DataFrame, name: str,
                         *, mode: str = "complete"):
    """Drive a streaming query to a memory sink and drain all available
    input (test/backfill helper)."""
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode(mode).start())
    q.processAllAvailable()
    return q


def streaming_exact_dedup(events: DataFrame, *, key_col: str = "user_id",
                          content_col: str = "props",
                          id_col: str = "event_id",
                          state_ttl_ms: int | None = None) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState`` (the brief's
    stateful-streaming primitive): per-key online EXACT dedup — only the
    first occurrence of each content hash per key is emitted; the seen-hash
    set rides in the group state across micro-batches.

    This is the streaming twin of ``pipeline.dedup.exact_dedup``: backfill
    runs the batch groupBy, live ingest runs this, and both agree on the
    keeper set (first-seen by arrival order within the stream).  Events
    with NULL content are dropped: there is nothing to hash (hashing
    ``str(None)`` would make them duplicates of the text "None").

    State-size contract: with the default ``state_ttl_ms=None`` the per-key
    seen-hash set grows for the lifetime of the stream — exact forever, but
    unbounded state (fine for bounded replays/backfills, NOT for a
    long-lived 100 TB ingest).  Pass ``state_ttl_ms`` to bound it: a key
    idle longer than the TTL has its state evicted on the next trigger
    (ProcessingTimeTimeout), so dedup becomes exact-within-TTL — the
    standard bounded-state trade for continuous pipelines."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (f"{key_col} long, {id_col} long, content_hash string")
    state_schema = "seen array<string>"
    timeout = (GroupStateTimeout.ProcessingTimeTimeout if state_ttl_ms
               else GroupStateTimeout.NoTimeout)

    def dedup_fn(key, pdf_iter, state: GroupState):
        import hashlib

        import pandas as pd
        if state_ttl_ms and state.hasTimedOut:
            state.remove()
            return
        seen = set(state.get[0]) if state.exists else set()
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            hashes = pdf[content_col].astype(str).map(
                lambda s: hashlib.md5(s.encode()).hexdigest())
            keep = []
            for i, h in enumerate(hashes):
                if h not in seen:
                    seen.add(h)
                    keep.append(i)
            if keep:
                sub = pdf.iloc[keep]
                yield pd.DataFrame({
                    key_col: sub[key_col].to_numpy(),
                    id_col: sub[id_col].to_numpy(),
                    "content_hash": hashes.iloc[keep].to_numpy()})
        state.update((sorted(seen),))
        if state_ttl_ms:
            state.setTimeoutDuration(state_ttl_ms)

    return (events.where(F.col(content_col).isNotNull()).groupBy(key_col)
            .applyInPandasWithState(dedup_fn, out_schema, state_schema,
                                    "append", timeout))


def streaming_bloom_dedup(events: DataFrame, *, key_col: str = "user_id",
                          content_col: str = "props",
                          id_col: str = "event_id",
                          bloom_bits: int = 65_536,
                          n_probes: int = 4) -> DataFrame:
    """Bounded-state streaming dedup: per-key state is a FIXED-SIZE Bloom
    filter (``bloom_bits`` bits, ``n_probes`` md5-derived probes) instead of
    the exact seen-hash set — the 100 TB answer to
    ``streaming_exact_dedup``'s unbounded growth.

    Contract: no duplicate is ever emitted twice (Bloom filters have no
    false negatives); a NEW item may be falsely dropped with probability
    ≈ (1 − e^{−kn/m})^k — at the defaults, under 1% until ~6k distinct
    items per key, degrading gracefully after.  State size is
    ``bloom_bits/8`` bytes per key, FOREVER, regardless of stream length.
    Events with NULL content are dropped, as in the exact variant.
    Emitted rows carry ``distinct_seen`` (the filter's insert count) so a
    monitor can alert when a key approaches its false-positive budget."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (f"{key_col} long, {id_col} long, content_hash string, "
                  f"distinct_seen long")
    state_schema = "bits binary, n long"
    nbytes = bloom_bits // 8

    def dedup_fn(key, pdf_iter, state: GroupState):
        import hashlib

        import numpy as np
        import pandas as pd
        if state.exists:
            bits = np.frombuffer(state.get[0], dtype=np.uint8).copy()
            n_seen = int(state.get[1])
        else:
            bits = np.zeros(nbytes, dtype=np.uint8)
            n_seen = 0
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            keep, hashes = [], []
            for i, s in enumerate(pdf[content_col].astype(str)):
                h = hashlib.md5(s.encode()).digest()
                pos = [int.from_bytes(h[4 * j:4 * j + 4], "little")
                       % bloom_bits for j in range(n_probes)]
                hit = all(bits[p >> 3] & (1 << (p & 7)) for p in pos)
                if not hit:
                    for p in pos:
                        bits[p >> 3] |= 1 << (p & 7)
                    n_seen += 1
                    keep.append(i)
                    hashes.append(h.hex())
            if keep:
                sub = pdf.iloc[keep]
                yield pd.DataFrame({
                    key_col: sub[key_col].to_numpy(),
                    id_col: sub[id_col].to_numpy(),
                    "content_hash": hashes,
                    "distinct_seen": n_seen})
        state.update((bytes(bits.tobytes()), n_seen))

    return (events.where(F.col(content_col).isNotNull()).groupBy(key_col)
            .applyInPandasWithState(dedup_fn, out_schema, state_schema,
                                    "append", GroupStateTimeout.NoTimeout))
