"""Pipeline operators: dedup library vs its dual-dialect gate SQL twins,
text analysis, multimodal plumbing, streaming windows vs batch."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from city2graph_spark.gate import register_views, sql_minhash_lsh, sql_simhash
from city2graph_spark.io.documents import synth_spans
from city2graph_spark.pipeline.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_neardup_pairs,
)
from city2graph_spark.pipeline.multimodal import (
    decode_features,
    frame_sample,
    resize_meta,
    synth_media,
)
from city2graph_spark.pipeline.text import (
    doc_fingerprint,
    lang_id,
    quality_scores,
    token_count,
)

SF = "/root/testdata/sf0.001"


def test_dedup_library_matches_gate_sql(spark):
    from city2graph_spark.gate import sql_simhash_neardup
    from city2graph_spark.pipeline.dedup import minhash_lsh_pairs_md5
    register_views(spark, SF)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    lib = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs_md5(docs).collect()}
    sql = {(r.doc_a, r.doc_b)
           for r in spark.sql(sql_minhash_lsh("spark")).collect()}
    assert lib == sql and len(lib) > 0
    sh_lib = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    sh_sql = {r.doc_id: r.simhash
              for r in spark.sql(sql_simhash("spark")).collect()}
    assert sh_lib == sh_sql
    nd_lib = {(r.doc_a, r.doc_b, r.hamming)
              for r in simhash_neardup_pairs(docs).collect()}
    nd_sql = {(r.doc_a, r.doc_b, r.hamming)
              for r in spark.sql(sql_simhash_neardup("spark")).collect()}
    assert nd_lib == nd_sql


def test_register_views_restores_a_dropped_view(spark):
    """The registration memo must not skip a session whose views are gone."""
    register_views(spark, SF)
    spark.catalog.dropTempView("documents")
    register_views(spark, SF)
    assert spark.catalog.tableExists("documents")


def test_minhash_fast_path_finds_planted_neardups(spark):
    """The fused mapInPandas library path (the bench headliner) must
    bucket planted near-duplicates together and stay deterministic."""
    base = "the quick brown fox jumps over the lazy dog " * 4
    docs = spark.createDataFrame(
        [(0, base), (1, base.replace("lazy", "hazy")), (2, "zzz completely different yyy"),
         (3, base), (4, "qqq " + base)],
        "doc_id long, text string")
    a = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(docs).collect()}
    b = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(docs).collect()}
    assert a == b
    assert {(0, 1), (0, 3), (0, 4)} <= a
    assert not any(2 in p for p in a)


def test_minhash_null_text_pairs_with_nothing(spark):
    """NULL text has no shingles: no pair, least of all with the literal
    text "None" (the fused kernel once hashed NULL as that string)."""
    from city2graph_spark.pipeline.dedup import minhash_lsh_pairs_md5
    docs = spark.createDataFrame(
        [(0, None), (1, None), (2, "None"), (3, "None")],
        "doc_id long, text string")
    for pairs in (minhash_lsh_pairs, minhash_lsh_pairs_md5):
        assert {(r.doc_a, r.doc_b) for r in pairs(docs).collect()} == {(2, 3)}


def test_exact_dedup_finds_planted_dupes(spark):
    docs = spark.createDataFrame(
        [(0, "aaa bbb"), (1, "ccc"), (2, "aaa bbb"), (3, "aaa bbb")],
        "doc_id long, text string")
    got = {r.keeper_id: r.n_copies for r in exact_dedup(docs).collect()}
    assert got == {0: 3, 1: 1}
    nd = {(r.doc_a, r.doc_b) for r in
          simhash_neardup_pairs(docs, max_hamming=0).collect()}
    assert {(0, 2), (0, 3), (2, 3)} <= nd
    jac = {(r.doc_a, r.doc_b): r.jaccard for r in
           ngram_jaccard_pairs(docs, n=3, threshold=0.99).collect()}
    assert set(jac) == {(0, 2), (0, 3), (2, 3)}


def test_ngram_jaccard_hot_shingle_cap(spark):
    """Stopword-shingle skew guard: every doc shares a hot prefix; without
    the cap it alone links all pairs at low threshold, with the cap only
    genuinely-similar docs pair up — and the hot shingle leaves both the
    intersection AND the union (sizes shrink)."""
    hot = "the "      # one shared 4-gram across all docs
    docs = spark.createDataFrame(
        [(i, hot + f"unique{i:04d}") for i in range(40)]
        + [(100, hot + "same same"), (101, hot + "same same")],
        "doc_id long, text string")
    uncapped = ngram_jaccard_pairs(docs, n=4, threshold=0.05).collect()
    capped = ngram_jaccard_pairs(docs, n=4, threshold=0.05,
                                 max_shingle_df=5).collect()
    # hot shingle links every doc pair without the cap
    assert len(uncapped) > 800
    got = {(r.doc_a, r.doc_b): r.jaccard for r in capped}
    assert (100, 101) in got
    assert got[(100, 101)] == 1.0   # identical docs stay exact post-cap
    # no pair is linked by the hot shingle alone any more
    assert all(a == 100 and b == 101 for a, b in got)


def test_text_ops(spark):
    docs = spark.createDataFrame(
        [(0, "the cat and the dog"), (1, "xyz qrs tuv")],
        "doc_id long, text string")
    assert {r.doc_id: r.n_tokens for r in token_count(docs).collect()} \
        == {0: 5, 1: 3}
    q = {r.doc_id: (r.n_tokens, r.n_distinct) for r in
         quality_scores(docs).collect()}
    assert q == {0: (5, 4), 1: (3, 3)}
    langs = {r.doc_id: r.pred_lang for r in lang_id(docs).collect()}
    assert langs == {0: "en", 1: "other"}
    fp = doc_fingerprint(docs)
    a = {r.doc_id: r.fingerprint for r in fp.collect()}
    # identical text → identical fingerprint; distinct text → distinct
    docs2 = spark.createDataFrame([(5, "the cat and the dog")],
                                  "doc_id long, text string")
    b = {r.doc_id: r.fingerprint for r in doc_fingerprint(docs2).collect()}
    assert b[5] == a[0] != a[1]


def test_multimodal_plumbing(spark):
    base = spark.createDataFrame([(i, f"text {i}") for i in range(30)],
                                 "doc_id long, text string")
    media = synth_media(synth_spans(base)).cache()
    assert media.count() == 10  # every 3rd doc carries a media span
    feats = decode_features(media)
    rows = feats.collect()
    assert len(rows) == 10
    assert all(0 <= r.ch_r <= 255 for r in rows)
    # determinism of the stubbed decode
    again = {r.media_ref: r.ch_r for r in decode_features(media).collect()}
    assert {r.media_ref: r.ch_r for r in rows} == again
    fs = frame_sample(media, every_ms=5000)
    n = fs.groupBy("media_ref").count().collect()
    durs = {r.media_ref: r.duration_ms for r in media.collect()}
    for r in n:
        assert r["count"] == durs[r.media_ref] // 5000 + 1
    rs = resize_meta(media, max_side=64).collect()
    assert all(max(r.new_width, r.new_height) <= 64 for r in rs)


def test_streaming_windows_match_batch(spark):
    from city2graph_spark.streaming.windows import (
        read_event_stream, run_stream_to_memory, windowed_event_counts)
    d = tempfile.mkdtemp()
    shutil.copy(f"{SF}/events.parquet", f"{d}/events.parquet")
    stream = read_event_stream(spark, d)
    q = run_stream_to_memory(windowed_event_counts(stream), "win_counts")
    try:
        got = {(str(r.window_start), r.event_type): r.n
               for r in spark.sql("SELECT * FROM win_counts").collect()}
        batch = (spark.read.parquet(f"{d}/events.parquet")
                 .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
                 .agg(F.count("*").alias("n")))
        want = {(str(r["w"]["start"]), r.event_type): r.n
                for r in batch.collect()}
        assert got == want and len(got) > 0
    finally:
        q.stop()


def test_streaming_stateful_dedup(spark):
    """applyInPandasWithState custom operator: per-key first-seen dedup —
    emitted set matches the batch exact-dedup keeper semantics."""
    from city2graph_spark.streaming.windows import (
        read_event_stream,
        run_stream_to_memory,
        streaming_exact_dedup,
    )
    d = tempfile.mkdtemp()
    shutil.copy(f"{SF}/events.parquet", f"{d}/events.parquet")
    stream = read_event_stream(spark, d)
    q = run_stream_to_memory(streaming_exact_dedup(stream), "dedup_out",
                             mode="append")
    try:
        got = spark.sql("SELECT * FROM dedup_out").collect()
        # one emitted row per (user_id, content hash)
        keys = {(r.user_id, r.content_hash) for r in got}
        assert len(keys) == len(got) > 0
        batch = (spark.read.parquet(f"{d}/events.parquet")
                 .groupBy("user_id", F.md5(F.col("props").cast("string"))
                          .alias("h")).count())
        assert batch.count() == len(got)
    finally:
        q.stop()


def test_streaming_bloom_dedup_bounded_state(spark):
    """Bounded-state variant: per-key Bloom state — no duplicate is ever
    emitted twice, and at event-table cardinality (far below the filter's
    false-positive budget) the keeper set matches the exact path."""
    from city2graph_spark.streaming.windows import (
        read_event_stream,
        run_stream_to_memory,
        streaming_bloom_dedup,
    )
    d = tempfile.mkdtemp()
    shutil.copy(f"{SF}/events.parquet", f"{d}/events.parquet")
    stream = read_event_stream(spark, d)
    q = run_stream_to_memory(streaming_bloom_dedup(stream), "bloom_out",
                             mode="append")
    try:
        got = spark.sql("SELECT * FROM bloom_out").collect()
        keys = {(r.user_id, r.content_hash) for r in got}
        assert len(keys) == len(got) > 0   # never emits a dup twice
        batch = (spark.read.parquet(f"{d}/events.parquet")
                 .groupBy("user_id", F.md5(F.col("props").cast("string"))
                          .alias("h")).count())
        n_exact = batch.count()
        # false-positive drops only; at this cardinality expect none
        assert len(got) <= n_exact
        assert len(got) >= int(n_exact * 0.99)
        # state is fixed-size: distinct_seen monotone per key, bounded
        per_key = {}
        for r in got:
            per_key.setdefault(r.user_id, []).append(r.distinct_seen)
        assert all(max(v) <= 6000 for v in per_key.values())
    finally:
        q.stop()


def test_streaming_dedup_drops_null_content(spark):
    """NULL content is dropped by both streaming dedups, never hashed as
    the text "None"."""
    import datetime as dt

    from city2graph_spark.streaming.windows import (
        EVENTS_SCHEMA,
        read_event_stream,
        run_stream_to_memory,
        streaming_bloom_dedup,
        streaming_exact_dedup,
    )
    t = dt.datetime(2024, 1, 1)
    d = tempfile.mkdtemp()
    try:
        spark.createDataFrame(
            [(0, t, 7, "view", 1.0, None), (1, t, 7, "view", 1.0, "None"),
             (2, t, 7, "view", 1.0, None), (3, t, 7, "view", 1.0, "None")],
            EVENTS_SCHEMA).coalesce(1).write.parquet(f"{d}/events")
        for name, op in (("null_exact", streaming_exact_dedup),
                         ("null_bloom", streaming_bloom_dedup)):
            q = run_stream_to_memory(op(read_event_stream(spark, f"{d}/events")),
                                     name, mode="append")
            try:
                got = spark.sql(f"SELECT event_id FROM {name}").collect()
                assert [r.event_id for r in got] == [1]
            finally:
                q.stop()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_session_windows_gap_semantics(spark):
    """Gap-based sessionization (batch mode): events within `gap` of the
    running session extend it; session end = last event + gap."""
    import datetime as dt
    from city2graph_spark.streaming.windows import session_windows
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0, 1.0), (1, t0 + dt.timedelta(minutes=10), 2.0),
        (1, t0 + dt.timedelta(minutes=50), 4.0),   # 50 > 10+30 ⇒ new session
        (2, t0 + dt.timedelta(minutes=5), 8.0),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = {(r.user_id, str(r.session_start), str(r.session_end)): r.n_events
           for r in session_windows(ev, gap="30 minutes").collect()}
    assert out == {
        (1, "2024-01-01 12:00:00", "2024-01-01 12:40:00"): 2,
        (1, "2024-01-01 12:50:00", "2024-01-01 13:20:00"): 1,
        (2, "2024-01-01 12:05:00", "2024-01-01 12:35:00"): 1,
    }
