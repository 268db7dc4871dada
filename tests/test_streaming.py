"""Structured Streaming tests: AvailableNow incremental ingest with
exactly-once checkpointing, watermark windowed aggregation parity with
the batch twin, streaming dedup, the native session_window, and the
streaming q_* keys with their landing-and-replay protocol."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from fordgobike_data_pipeline_spark import harness
from fordgobike_data_pipeline_spark.harness_warehouse import _stream_waves
from fordgobike_data_pipeline_spark.io import load_tables
from fordgobike_data_pipeline_spark.operators import sessions
from fordgobike_data_pipeline_spark.streaming import incremental

from . import fixtures
from .conftest import SF_SMOKE
from .test_sources import _write_csv


def test_stream_ingest_exactly_once(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    bronze = str(tmp_path / "bronze")
    ckpt = str(tmp_path / "ckpt")
    rows = fixtures.make_trips(n=30)
    _write_csv(landing / "201801-a.csv", rows[:20])

    incremental.stream_ingest_trips(spark, str(landing), bronze, ckpt)
    assert spark.read.parquet(bronze).count() == 20

    # re-run with no new files → no duplicates (checkpoint)
    incremental.stream_ingest_trips(spark, str(landing), bronze, ckpt)
    assert spark.read.parquet(bronze).count() == 20

    # new file → only the delta is ingested
    _write_csv(landing / "201802-b.csv", rows[20:])
    incremental.stream_ingest_trips(spark, str(landing), bronze, ckpt)
    df = spark.read.parquet(bronze)
    assert df.count() == 30
    assert {r.period for r in df.select("period").distinct().collect()} == {
        "201801", "201802",
    }


def test_windowed_counts_stream_matches_batch(spark, tmp_path):
    """The streaming windowed aggregation over a file stream must equal
    the batch computation on the same data."""
    ev = load_tables(spark, SF_SMOKE, ("events",))["events"]
    src = str(tmp_path / "events_src")
    ev.write.parquet(src)

    stream = spark.readStream.schema(ev.schema).parquet(src)
    agg = incremental.windowed_event_counts(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.bucket_start, r.cnt, r.sum_value)
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    want = {
        (r.bucket_start, r.cnt, r.sum_value)
        for r in incremental.windowed_event_counts(ev).collect()
    }
    assert got == want and got


def test_streaming_dedup(spark, tmp_path):
    ev = load_tables(spark, SF_SMOKE, ("events",))["events"].limit(50)
    doubled = ev.unionByName(ev)
    src = str(tmp_path / "dup_src")
    doubled.write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    q = (
        incremental.deduped_stream(stream)
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert spark.sql("SELECT count(*) FROM dedup_out").first()[0] == 50


def test_stream_stream_join_matches_batch_range_join(spark, tmp_path):
    """The watermarked stream-stream join must produce exactly the
    batch time-bounded join over the same data."""
    ev = load_tables(spark, SF_SMOKE, ("events",))["events"]
    clicks_b = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("click_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    views_b = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("view_user"),
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    )
    c_src, v_src = str(tmp_path / "c"), str(tmp_path / "v")
    clicks_b.write.parquet(c_src)
    views_b.write.parquet(v_src)
    c_stream = spark.readStream.schema(clicks_b.schema).parquet(c_src)
    v_stream = spark.readStream.schema(views_b.schema).parquet(v_src)
    q = (
        incremental.stream_stream_join(c_stream, v_stream)
        .writeStream.format("memory")
        .queryName("ssj")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.click_id, r.view_id) for r in spark.sql("SELECT * FROM ssj").collect()
    }
    want = {
        (r.click_id, r.view_id)
        for r in incremental.stream_stream_join(clicks_b, views_b).collect()
    }
    assert got == want and len(got) > 0


def test_stateful_totals_survive_restart(spark, tmp_path):
    """applyInPandasWithState: per-user totals accumulate across a
    second batch arriving after a full stop/restart — state restored
    from the checkpoint."""
    ev = load_tables(spark, SF_SMOKE, ("events",))["events"]
    first, second = ev.filter(F.col("event_id") < 60), ev.filter(
        (F.col("event_id") >= 60) & (F.col("event_id") < 100)
    )
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    first.write.mode("append").parquet(src)

    def run(name):
        got: dict = {}

        def sink(batch_df, batch_id):
            for r in batch_df.collect():
                got[r.user_id] = (r.n_events, r.sum_value)

        stream = spark.readStream.schema(ev.schema).parquet(src)
        q = (
            incremental.stateful_user_totals(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return got

    run("totals_1")
    second.write.mode("append").parquet(src)
    got = run("totals_2")

    both = first.unionByName(second)
    want = {
        r.user_id: (r.n, round(r.s, 2))
        for r in both.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    # users touched by batch 2 must show CUMULATIVE totals incl. batch 1
    batch2_users = {r.user_id for r in second.select("user_id").distinct().collect()}
    for u in batch2_users:
        assert got[u] == want[u]


def test_session_windows_properties(spark):
    ev = load_tables(spark, SF_SMOKE, ("events",))["events"]
    out = sessions.session_windows(ev, gap_seconds=1800)
    rows = out.collect()
    assert sum(r.n_events for r in rows) == ev.count()
    # session ids are 1..k contiguous per user
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r.session_id)
    for ids in by_user.values():
        assert sorted(ids) == list(range(1, len(ids) + 1))
    # sessions don't overlap per user and bounds are ordered
    for r in rows:
        assert r.session_start <= r.session_end


def test_session_window_native_agrees_on_counts(spark):
    """The native session_window and the lag/cumsum formulation must
    produce the same number of sessions and event totals."""
    ev = load_tables(spark, SF_SMOKE, ("events",))["events"]
    a = sessions.session_windows(ev, gap_seconds=1800)
    b = sessions.session_windows_native(ev, gap="30 minutes")
    assert a.count() == b.count()
    assert (
        a.agg(F.sum("n_events")).first()[0] == b.agg(F.sum("n_events")).first()[0]
    )


def test_stream_curate_documents_cross_batch_dedup(spark, tmp_path):
    """Two micro-batch waves through the curation ingest: junk is
    quality-gated out, an exact duplicate arriving in a LATER batch is
    rejected by the persisted fingerprint index, and the checkpoint
    keeps re-runs exactly-once (no re-processing, no index growth)."""
    import json
    import os

    landing = str(tmp_path / "landing")
    accepted = str(tmp_path / "accepted")
    index = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)

    good = "the quick brown fox jumps over the lazy dog again and again " * 5
    junk = "!!! ??? !!! ??? !!!"
    with open(f"{landing}/b1.json", "w") as f:
        for d in (
            {"doc_id": 1, "source": "s1", "text": good},
            {"doc_id": 2, "source": "s1", "text": junk},
            {"doc_id": 3, "source": "s1", "text": good + " tail one"},
        ):
            f.write(json.dumps(d) + "\n")
    incremental.stream_curate_documents(spark, landing, accepted, index, ckpt)
    first = {r.doc_id for r in spark.read.parquet(accepted).collect()}
    assert first == {1, 3}  # junk gated out

    # wave 2: one duplicate of doc 1's content, one genuinely new doc
    with open(f"{landing}/b2.json", "w") as f:
        for d in (
            {"doc_id": 10, "source": "s2", "text": good},
            {"doc_id": 11, "source": "s2", "text": good + " fresh content here"},
        ):
            f.write(json.dumps(d) + "\n")
    incremental.stream_curate_documents(spark, landing, accepted, index, ckpt)
    second = {r.doc_id for r in spark.read.parquet(accepted).collect()}
    assert second == {1, 3, 11}  # 10 rejected by the cross-batch index

    # exactly-once: a third drain with nothing new changes nothing
    n_index = spark.read.parquet(index).count()
    incremental.stream_curate_documents(spark, landing, accepted, index, ckpt)
    assert {r.doc_id for r in spark.read.parquet(accepted).collect()} == second
    assert spark.read.parquet(index).count() == n_index


def test_hopping_windows_stream_matches_batch(spark, tmp_path):
    """Hopping (slide < size) streaming aggregation equals the batch
    computation, and every event lands in size/slide = 2 windows."""
    ev = load_tables(spark, SF_SMOKE, ("events",))["events"]
    src = str(tmp_path / "hop_src")
    ev.write.parquet(src)

    stream = spark.readStream.schema(ev.schema).parquet(src)
    agg = incremental.windowed_event_counts(stream, "1 hour", slide="30 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("hop_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.bucket_start, r.cnt, r.sum_value)
        for r in spark.sql("SELECT * FROM hop_counts").collect()
    }
    want = {
        (r.bucket_start, r.cnt, r.sum_value)
        for r in incremental.windowed_event_counts(
            ev, "1 hour", slide="30 minutes"
        ).collect()
    }
    assert got == want and got
    # double-counting contract: window memberships sum to 2x the events
    assert sum(c for _, c, _ in got) == 2 * ev.count()


def test_curate_batch_replay_is_idempotent(spark, tmp_path):
    """Checkpoint replay semantics of the curation ingest: re-running a
    micro-batch with the same batch_id — from a clean state OR from a
    crash between the two sink writes — must converge to the same
    accepted corpus and index, with no duplicated and no lost docs."""
    import shutil

    accepted = str(tmp_path / "accepted")
    index = str(tmp_path / "index")
    good = "the quick brown fox jumps over the lazy dog again and again " * 5

    b0 = spark.createDataFrame(
        [(1, "s1", good), (3, "s1", good + " tail one")],
        "doc_id BIGINT, source STRING, text STRING",
    )
    b1 = spark.createDataFrame(
        [(10, "s2", good), (11, "s2", good + " fresh content here")],
        "doc_id BIGINT, source STRING, text STRING",
    )
    incremental._curate_batch(b0, 0, accepted, index, 0.3)
    incremental._curate_batch(b1, 1, accepted, index, 0.3)
    want = {1, 3, 11}  # 10 is a cross-batch dup of 1
    assert {r.doc_id for r in spark.read.parquet(accepted).collect()} == want
    n_index = spark.read.parquet(index).count()

    # clean replay of batch 1 (crash after both writes, before commit)
    incremental._curate_batch(b1, 1, accepted, index, 0.3)
    assert {r.doc_id for r in spark.read.parquet(accepted).collect()} == want
    assert spark.read.parquet(index).count() == n_index

    # crash BETWEEN the sinks: accepted written, index write lost
    shutil.rmtree(f"{index}/batch_id=1")
    incremental._curate_batch(b1, 1, accepted, index, 0.3)
    assert {r.doc_id for r in spark.read.parquet(accepted).collect()} == want
    assert spark.read.parquet(index).count() == n_index

    # crash the other way: index written, accepted write lost
    shutil.rmtree(f"{accepted}/batch_id=1")
    incremental._curate_batch(b1, 1, accepted, index, 0.3)
    assert {r.doc_id for r in spark.read.parquet(accepted).collect()} == want
    assert spark.read.parquet(index).count() == n_index


def test_stream_curate_near_dedup(spark, tmp_path):
    """Near-dup curation over the file stream: a LATER batch's
    near-duplicate (small edit, Jaccard ≥ 0.8) of an accepted doc is
    dropped by the persisted band index; a within-batch near-dup pair
    keeps only its min-id doc; genuinely fresh content passes. The
    band index is the third batch_id-partitioned sink."""
    import json
    import os

    landing = str(tmp_path / "landing")
    accepted = str(tmp_path / "accepted")
    index = str(tmp_path / "index")
    band = str(tmp_path / "band")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)

    base = " ".join(f"word{i} token{i} item{i}" for i in range(14))  # 42 tokens
    other = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(14))
    fresh_text = " ".join(f"unique{i} new{i} thing{i}" for i in range(14))

    with open(f"{landing}/b1.json", "w") as f:
        f.write(json.dumps({"doc_id": 1, "source": "s1", "text": base}) + "\n")
    incremental.stream_curate_documents(
        spark, landing, accepted, index, ckpt, band_index_path=band
    )
    assert {r.doc_id for r in spark.read.parquet(accepted).collect()} == {1}

    with open(f"{landing}/b2.json", "w") as f:
        for d in (
            # near-dup of accepted doc 1 (appended tail, J ≈ 0.95)
            {"doc_id": 20, "source": "s2", "text": base + " tail extra"},
            # within-batch near-dup pair — min id 21 must win
            {"doc_id": 21, "source": "s2", "text": other + " ending one"},
            {"doc_id": 22, "source": "s2", "text": other + " ending two"},
            {"doc_id": 23, "source": "s2", "text": fresh_text},
        ):
            f.write(json.dumps(d) + "\n")
    incremental.stream_curate_documents(
        spark, landing, accepted, index, ckpt, band_index_path=band
    )
    got = {r.doc_id for r in spark.read.parquet(accepted).collect()}
    assert got == {1, 21, 23}, got
    # band index covers exactly the accepted docs, per batch partition
    bidx = spark.read.parquet(band)
    assert {r.doc_id for r in bidx.select("doc_id").distinct().collect()} == {1, 21, 23}
    assert {r.batch_id for r in bidx.select("batch_id").distinct().collect()} == {0, 1}


def test_curate_batch_near_dedup_replay_idempotent(spark, tmp_path):
    """Replaying a near-dedup'd micro-batch (same batch_id) from a
    clean state or from a crash that lost the band-index write must
    converge to the same three sinks."""
    import shutil

    accepted = str(tmp_path / "accepted")
    index = str(tmp_path / "index")
    band = str(tmp_path / "band")
    base = " ".join(f"word{i} token{i} item{i}" for i in range(14))

    b0 = spark.createDataFrame(
        [(1, "s1", base)], "doc_id BIGINT, source STRING, text STRING"
    )
    b1 = spark.createDataFrame(
        [(20, "s2", base + " tail extra"),
         (23, "s2", " ".join(f"unique{i} new{i} thing{i}" for i in range(14)))],
        "doc_id BIGINT, source STRING, text STRING",
    )
    incremental._curate_batch(b0, 0, accepted, index, 0.3, band_index_path=band)
    incremental._curate_batch(b1, 1, accepted, index, 0.3, band_index_path=band)
    want = {1, 23}  # 20 is a cross-batch near-dup of 1
    assert {r.doc_id for r in spark.read.parquet(accepted).collect()} == want
    n_band = spark.read.parquet(band).count()

    # clean replay
    incremental._curate_batch(b1, 1, accepted, index, 0.3, band_index_path=band)
    assert {r.doc_id for r in spark.read.parquet(accepted).collect()} == want
    assert spark.read.parquet(band).count() == n_band

    # crash before the band-index write: docs+fingerprints landed,
    # band partition lost — replay must restore it without dup docs
    shutil.rmtree(f"{band}/batch_id=1")
    incremental._curate_batch(b1, 1, accepted, index, 0.3, band_index_path=band)
    assert {r.doc_id for r in spark.read.parquet(accepted).collect()} == want
    assert spark.read.parquet(band).count() == n_band


def test_curate_batch_metrics_sink(spark, tmp_path):
    """The per-batch accounting row records the funnel (in → quality →
    exact → accepted) and is replay-idempotent like the data sinks."""
    accepted = str(tmp_path / "accepted")
    index = str(tmp_path / "index")
    metrics = str(tmp_path / "metrics")
    good = "the quick brown fox jumps over the lazy dog again and again " * 5

    b0 = spark.createDataFrame(
        [(1, "s1", good), (2, "s1", "!!! ??? !!!"), (3, "s1", good)],
        "doc_id BIGINT, source STRING, text STRING",
    )
    incremental._curate_batch(b0, 0, accepted, index, 0.3, metrics_path=metrics)
    m = spark.read.parquet(metrics).collect()
    assert len(m) == 1
    r = m[0]
    assert (r.n_in, r.n_quality, r.n_exact, r.n_accepted, r.batch_id) == (3, 2, 1, 1, 0)

    # replay overwrites the same row, never double-counts
    incremental._curate_batch(b0, 0, accepted, index, 0.3, metrics_path=metrics)
    assert spark.read.parquet(metrics).count() == 1


def test_curate_batch_metrics_come_from_observations(spark, tmp_path, monkeypatch):
    """With the band index and metrics on, the funnel row is read off
    the batch's checkpoint jobs: no count() runs, and the row equals
    the four count() values the counting code wrote. n_quality counts
    kept once although the exact-dedup plan reads kept twice."""
    accepted = str(tmp_path / "accepted")
    index = str(tmp_path / "index")
    band = str(tmp_path / "band")
    metrics = str(tmp_path / "metrics")
    good = "the quick brown fox jumps over the lazy dog again and again " * 5
    base = " ".join(f"word{i} token{i} item{i}" for i in range(14))
    schema = "doc_id BIGINT, source STRING, text STRING"
    b0 = spark.createDataFrame(
        [(1, "s1", good), (2, "s1", "!!! ??? !!!"), (3, "s1", good)], schema
    )
    b1 = spark.createDataFrame(
        [
            (20, "s2", base + " tail extra"),  # within-batch near-dup of 21
            (21, "s2", base),
            (23, "s2", " ".join(f"unique{i} new{i} thing{i}" for i in range(14))),
            (24, "s2", good),  # cross-batch exact dup of 1
        ],
        schema,
    )
    calls = []
    real = type(b0).count
    monkeypatch.setattr(type(b0), "count", lambda self: calls.append(self) or real(self))
    for batch_id, b in enumerate((b0, b1)):
        incremental._curate_batch(
            b, batch_id, accepted, index, 0.3,
            band_index_path=band, metrics_path=metrics,
        )
    assert calls == []
    rows = sorted(tuple(r) for r in spark.read.parquet(metrics).collect())
    # (n_in, n_quality, n_exact, n_accepted, batch_id)
    assert rows == [(3, 2, 1, 1, 0), (4, 4, 3, 2, 1)]


def test_curate_batch_without_metrics_runs_no_count(spark, tmp_path, monkeypatch):
    """The funnel counts are extra jobs a metrics-off batch must not pay."""
    good = "the quick brown fox jumps over the lazy dog again and again " * 5
    b0 = spark.createDataFrame(
        [(1, "s1", good), (2, "s1", "!!! ??? !!!")],
        "doc_id BIGINT, source STRING, text STRING",
    )
    cls = type(b0)
    calls = []
    real = cls.count

    def spy(self):
        calls.append(self)
        return real(self)

    monkeypatch.setattr(cls, "count", spy)
    incremental._curate_batch(
        b0, 0, str(tmp_path / "accepted"), str(tmp_path / "index"), 0.3
    )
    assert calls == []


def test_stream_maintain_mv_two_waves_and_replay(spark, tmp_path):
    """Streaming MV maintenance: after each wave the published MV must
    equal the direct aggregation over everything ingested so far, and
    replaying a batch (crash recovery) must not change the MV."""
    import json as _json
    import os

    landing = str(tmp_path / "landing")
    partials = str(tmp_path / "partials")
    mv = str(tmp_path / "mv")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)

    def write_wave(name, rows):
        with open(f"{landing}/{name}.json", "w") as f:
            for k, v in rows:
                f.write(_json.dumps({"k": k, "v": v}) + "\n")

    def mv_state():
        return {
            r.k: (r.n_rows, r.total, r.vmin, r.vmax)
            for r in spark.read.parquet(mv).collect()
        }

    wave1 = [(1, 10.0), (1, 20.0), (2, 5.0)]
    write_wave("w1", wave1)
    incremental.stream_maintain_mv(
        spark.readStream.schema("k INT, v DOUBLE").json(landing),
        partials, mv, ckpt, ["k"], "v",
    )
    assert mv_state() == {1: (2, 30.0, 10.0, 20.0), 2: (1, 5.0, 5.0, 5.0)}

    wave2 = [(1, 40.0), (3, 7.0)]
    write_wave("w2", wave2)
    incremental.stream_maintain_mv(
        spark.readStream.schema("k INT, v DOUBLE").json(landing),
        partials, mv, ckpt, ["k"], "v",
    )
    want = {1: (3, 70.0, 10.0, 40.0), 2: (1, 5.0, 5.0, 5.0), 3: (1, 7.0, 7.0, 7.0)}
    assert mv_state() == want

    # crash-replay: re-running batch 1's body must converge, not double
    b1 = spark.createDataFrame(wave2, "k int, v double")
    incremental._mv_batch(b1, 1, partials, mv, ["k"], "v")
    assert mv_state() == want
    incremental._mv_batch(b1, 1, partials, mv, ["k"], "v")
    assert mv_state() == want


def test_stream_maintain_mv_with_distinct_sketches(spark, tmp_path):
    """COUNT(DISTINCT) via per-batch HLL sketch partials: across two
    waves the MV's approx_distinct must equal the exact distinct count
    (tiny cardinalities are exact in HLL), and batch replay converges."""
    import json as _json
    import os

    landing = str(tmp_path / "landing")
    partials = str(tmp_path / "partials")
    mv = str(tmp_path / "mv")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)

    def write_wave(name, rows):
        with open(f"{landing}/{name}.json", "w") as f:
            for k, v, u in rows:
                f.write(_json.dumps({"k": k, "v": v, "u": u}) + "\n")

    schema = __import__("pyspark.sql.types", fromlist=["StructType"]).StructType.fromDDL(
        "k INT, v DOUBLE, u BIGINT"
    )
    # user 101 appears in BOTH waves for k=1 — a plain count of
    # per-batch distincts would double-count it; sketch union must not
    write_wave("w1", [(1, 10.0, 101), (1, 20.0, 102), (2, 5.0, 103)])
    incremental.stream_maintain_mv(
        spark.readStream.schema(schema).json(landing),
        partials, mv, ckpt, ["k"], "v", distinct_col="u",
    )
    write_wave("w2", [(1, 40.0, 101), (1, 1.0, 104)])
    incremental.stream_maintain_mv(
        spark.readStream.schema(schema).json(landing),
        partials, mv, ckpt, ["k"], "v", distinct_col="u",
    )
    state = {r.k: (r.n_rows, r.approx_distinct) for r in spark.read.parquet(mv).collect()}
    assert state == {1: (4, 3), 2: (1, 1)}
    # replay wave-2's batch body: registers rewrite identically
    b1 = spark.createDataFrame([(1, 40.0, 101), (1, 1.0, 104)], schema)
    incremental._mv_batch(b1, 1, partials, mv, ["k"], "v", distinct_col="u")
    assert {
        r.k: (r.n_rows, r.approx_distinct) for r in spark.read.parquet(mv).collect()
    } == state


def test_stream_apply_changelog_tombstones_and_replay(spark, tmp_path):
    """Streaming CDC snapshot: latest-wins across waves, deletes remove
    keys, a RETAINED tombstone defeats a stale late upsert (the
    resurrect bug dropping tombstones would cause), and batch replay
    converges."""
    import json as _json
    import os

    from pyspark.sql.types import StructType

    landing = str(tmp_path / "landing")
    state = str(tmp_path / "state")
    snap = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)
    schema = StructType.fromDDL("k string, ts int, tb int, op string, val string")

    def write_wave(name, rows):
        with open(f"{landing}/{name}.json", "w") as f:
            for k, ts, tb, op, val in rows:
                f.write(
                    _json.dumps({"k": k, "ts": ts, "tb": tb, "op": op, "val": val})
                    + "\n"
                )

    def run():
        incremental.stream_apply_changelog(
            spark.readStream.schema(schema).json(landing),
            state, snap, ckpt, ["k"], "ts", "op", ["tb"],
        )

    def snapshot():
        return {r.k: r.val for r in spark.read.parquet(snap).collect()}

    wave1 = [("a", 1, 1, "upsert", "a1"), ("b", 1, 2, "upsert", "b1")]
    write_wave("w1", wave1)
    run()
    assert snapshot() == {"a": "a1", "b": "b1"}

    # wave 2: update a, delete b
    wave2 = [("a", 2, 3, "upsert", "a2"), ("b", 2, 4, "delete", None)]
    write_wave("w2", wave2)
    run()
    assert snapshot() == {"a": "a2"}

    # wave 3: a STALE upsert for b (ts older than the delete) must NOT
    # resurrect it; a newer upsert for c appears
    wave3 = [("b", 1, 5, "upsert", "stale"), ("c", 3, 6, "upsert", "c1")]
    write_wave("w3", wave3)
    run()
    assert snapshot() == {"a": "a2", "c": "c1"}
    # the tombstone is still in state, guarding future stale arrivals
    st = {r.k: r.op for r in spark.read.parquet(state).collect()}
    assert st["b"] == "delete"

    # crash-replay: re-folding wave 3 into state is a no-op
    b3 = spark.createDataFrame(wave3, schema)
    incremental._cdc_batch(b3, state, snap, ["k"], "ts", "op", ["tb"])
    assert snapshot() == {"a": "a2", "c": "c1"}
    incremental._cdc_batch(b3, state, snap, ["k"], "ts", "op", ["tb"])
    assert snapshot() == {"a": "a2", "c": "c1"}


def test_stream_dedup_matches_batch_distinct(spark):
    agg = {
        r.event_type: r.n_events
        for r in harness.all_queries()["q_stream_dedup"](spark, SF_SMOKE).collect()
    }
    from fordgobike_data_pipeline_spark.io import load_tables

    ev = load_tables(spark, SF_SMOKE, ("events",))["events"]
    expected = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert agg == expected


def test_stream_session_matches_batch_native(spark):
    """Streaming session_window (append + flush sentinel) must emit
    exactly the batch-native session set."""
    from fordgobike_data_pipeline_spark.io import load_tables
    from fordgobike_data_pipeline_spark.operators import sessions as sess_ops

    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in harness.all_queries()["q_stream_session"](spark, SF_SMOKE).collect()
    }
    ev = load_tables(spark, SF_SMOKE, ("events",))["events"]
    want = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in sess_ops.session_windows_native(ev, gap="30 minutes").collect()
    }
    assert got == want


def test_stream_window_matches_batch_buckets(spark):
    got = {
        (r.bucket_start, r.cnt, r.sum_cents)
        for r in harness.all_queries()["q_stream_window"](spark, SF_SMOKE).collect()
    }
    from fordgobike_data_pipeline_spark.io import load_tables

    ev = load_tables(spark, SF_SMOKE, ("events",))["events"]
    want = {
        (r.b, r.n, r.sc)
        for r in ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sc"),
        )
        .select(F.col("w.start").alias("b"), "n", "sc")
        .collect()
    }
    assert got == want


def test_stream_stateful_matches_batch(spark):
    got = {
        r.user_id: (r.n_events, r.sum_cents)
        for r in harness.all_queries()["q_stream_stateful"](spark, SF_SMOKE).collect()
    }
    ev = load_tables(spark, SF_SMOKE, ("events",))["events"]
    want = {
        r.user_id: (r.n, r.sc)
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sc"),
        )
        .collect()
    }
    assert got == want


def test_stream_dedup_wm_harness_matches_events(spark):
    import __spark_entry__ as entry

    qs = entry.queries()
    sf = SF_SMOKE
    out = qs["q_stream_dedup_wm"](spark, sf)
    ev = spark.read.parquet(f"{sf}/events.parquet")
    assert out.count() == ev.count()  # each redelivered event exactly once
    assert out.select("event_id").distinct().count() == out.count()


def _plan_node_names(plan) -> set[str]:
    names, nodes = set(), [plan]
    while nodes:
        node = nodes.pop()
        names.add(node.nodeName())
        children = node.children()
        nodes.extend(children.apply(i) for i in range(children.size()))
    return names


def test_stream_stateful_keeps_state_in_the_jvm(spark, monkeypatch):
    """q_stream_stateful's running totals are a built-in streaming
    aggregation: the query it starts holds its state in a JVM state
    store, with no pandas state operator in the executed plan."""
    from pyspark.sql.streaming import DataStreamWriter

    started = []
    real_start = DataStreamWriter.start

    def start(self, *args, **kwargs):
        started.append(real_start(self, *args, **kwargs))
        return started[-1]

    monkeypatch.setattr(DataStreamWriter, "start", start)
    harness.all_queries()["q_stream_stateful"](spark, SF_SMOKE).collect()
    assert len(started) == 1
    plan = started[0]._jsq.streamingQuery().lastExecution().executedPlan()
    names = _plan_node_names(plan)
    assert "FlatMapGroupsInPandasWithState" not in names
    assert "StateStoreSave" in names


class _DataBatches(StreamingQueryListener):
    """Per streaming run, the number of micro-batches that read rows."""

    def __init__(self):
        super().__init__()
        self.runs: dict[str, int] = {}
        self.done: set[str] = set()

    def onQueryStarted(self, event):
        self.runs.setdefault(str(event.runId), 0)

    def onQueryProgress(self, event):
        if event.progress.numInputRows > 0:
            run = str(event.progress.runId)
            self.runs[run] = self.runs.get(run, 0) + 1

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.done.add(str(event.runId))


def _data_batches(spark, action):
    """Run ``action``; return its result and the data micro-batch count
    of each streaming run it started, once the listener has seen every
    run's termination (posted after its last progress event)."""
    import time

    tally = _DataBatches()
    spark.streams.addListener(tally)
    try:
        out = action()
        deadline = time.time() + 30
        while set(tally.runs) - tally.done and time.time() < deadline:
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(tally)
    assert not set(tally.runs) - tally.done, "listener never saw the runs end"
    return out, list(tally.runs.values())


@pytest.mark.parametrize("name", ["q_stream_mv", "q_stream_cdc"])
def test_stream_key_runs_two_data_batches(spark, name):
    """The two landed waves must reach the MV/CDC state as at least two
    micro-batches with data, or the cross-batch merge never runs."""
    _, runs = _data_batches(
        spark, lambda: harness.all_queries()[name](spark, SF_SMOKE).collect()
    )
    assert len(runs) == 1 and runs[0] >= 2


def _to_parquet(stream, root):
    return stream.writeStream.format("parquet").option("path", os.path.join(root, "out"))


def test_stream_waves_raises_when_one_wave_holds_all_data(spark):
    """All rows in one wave means one data micro-batch: no state ever
    carries across batches, so the landing protocol must refuse it."""
    rows = spark.range(0, 20, 1, 1).withColumnRenamed("id", "k")
    with pytest.raises(RuntimeError, match="1 data micro-batch"):
        _stream_waves(spark, [rows, rows.limit(0)], _to_parquet)


def test_stream_waves_trigger_one_wave_of_files(spark):
    """Multi-file waves (the sf1 replica lands ten files per wave) still
    run as one micro-batch per wave: a literal one-file trigger would
    run six batches here, and no trigger at all one."""
    rows = spark.range(0, 60, 1, 3).withColumnRenamed("id", "k")
    waves = [rows.filter(F.col("k") % 2 == wv) for wv in (0, 1)]
    root, runs = _data_batches(spark, lambda: _stream_waves(spark, waves, _to_parquet))
    assert runs == [2]
    assert spark.read.parquet(os.path.join(root, "out")).count() == 60
