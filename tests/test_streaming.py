"""Batch/stream parity for the Structured Streaming surface.

The streaming transforms are the SAME functions the oracle-checked
batch queries run (plans/events_queries.py); these tests prove the
incremental execution converges to the batch answer.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from sfcrimedatapipeline_spark.operators.sessionize import sessionize, sessionize_stream
from sfcrimedatapipeline_spark.sources.tables import read_table
from sfcrimedatapipeline_spark.streaming.events import (
    hourly_event_counts,
    run_stream_to_memory,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """events rewritten as 4 TIME-SLICED parquet files (µs timestamps)
    so micro-batches arrive in rough event-time order — a round-robin
    split would make most rows late against the watermark, which drops
    them before the stateful operator (realistic streams are
    time-ordered; the watermark contract assumes it)."""
    path = tmp_path_factory.mktemp("events_stream") / "events"
    path.mkdir()
    rows = read_table(spark, SF_DIR, "events").orderBy("ts").collect()
    quarter = (len(rows) + 3) // 4
    schema = read_table(spark, SF_DIR, "events").schema
    for i in range(4):
        part = rows[i * quarter : (i + 1) * quarter]
        spark.createDataFrame(part, schema).coalesce(1).write.parquet(
            str(path / f"slice-{i}")
        )
    # flatten: the file source watches one directory; pin strictly
    # increasing mtimes — the source orders files by modification time,
    # and near-identical copy times would randomize micro-batch order
    import os
    import shutil
    import time

    flat = tmp_path_factory.mktemp("events_stream_flat")
    base_t = time.time() - 1000
    for i in range(4):
        for f in sorted((path / f"slice-{i}").glob("*.parquet")):
            dest = flat / f"part-{i}.parquet"
            shutil.copy(f, dest)
            os.utime(dest, (base_t + i * 10, base_t + i * 10))
    return str(flat)


def _rows(df, cols):
    return sorted(tuple(str(v) for v in r) for r in df.select(*cols).collect())


def test_hourly_counts_stream_matches_batch(spark, events_dir):
    batch = hourly_event_counts(spark.read.parquet(events_dir))
    streamed = run_stream_to_memory(
        spark, events_dir, hourly_event_counts, query_name="hourly_parity"
    )
    cols = ["window_start", "event_type", "n_events", "sum_value"]
    assert _rows(streamed, cols) == _rows(batch, cols)


def test_sessionize_stream_emits_closed_batch_sessions(spark, events_dir):
    events = spark.read.parquet(events_dir)
    batch = sessionize(events).collect()

    streamed = run_stream_to_memory(
        spark,
        events_dir,
        lambda s: sessionize_stream(s, watermark="1 hour"),
        query_name="sessionize_parity",
        output_mode="append",
    ).collect()
    assert streamed, "stream emitted no closed sessions"

    # every emitted session must equal a batch session for that user
    # (session_idx numbering can differ between engines' orderings, so
    # compare on the session content key)
    batch_keys = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"]): float(
            r["sum_value"]
        )
        for r in batch
    }
    for r in streamed:
        key = (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        assert key in batch_keys, f"stream session {key} not found in batch"
        assert abs(batch_keys[key] - r["sum_value"]) < 1e-6

    # completeness: every batch session that closed safely before the
    # final watermark must have been emitted
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    horizon = max_ts - dt.timedelta(hours=1) - dt.timedelta(minutes=35)
    emitted = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in streamed
    }
    for key in batch_keys:
        if key[2] < horizon:
            assert key in emitted, f"closed batch session {key} missing from stream"


def test_sessionize_stream_sum_exact_on_adversarial_values(spark, tmp_path):
    """Stream and batch sums must be BIT-IDENTICAL, not just close.

    The value set is adversarial for a float accumulator: 0.005 repeats
    (each rounds to 0.01 under the batch decimal(18,2) cast — a raw
    float sum diverges by 0.005*n, far past any tolerance) plus the
    classic shortest-repr rounding edges (0.105, 2.675). The stateful
    path's integer-cents accumulator reproduces the batch decimal
    discipline exactly (VERDICT r2 #7)."""
    import pandas as pd

    base = pd.Timestamp("2024-03-01 00:00:00")
    rows = [(1, base + pd.Timedelta(seconds=i), 0.005) for i in range(200)]
    rows += [
        (1, base + pd.Timedelta(seconds=200 + j), v)
        for j, v in enumerate([0.105, 0.115, 2.675, 1.005])
    ]
    # far-future successor: closes session 1 inside the first micro-batch
    rows.append((1, base + pd.Timedelta(hours=3), 1.0))
    df = spark.createDataFrame(
        [(u, t.to_pydatetime(), v) for u, t, v in rows],
        "user_id long, ts timestamp, value double",
    )
    d = str(tmp_path / "adversarial")
    df.coalesce(1).write.parquet(d)

    batch = {
        (r["user_id"], r["session_start"]): r["sum_value"]
        for r in sessionize(spark.read.parquet(d)).collect()
    }
    streamed = run_stream_to_memory(
        spark,
        d,
        lambda s: sessionize_stream(s),
        query_name="adversarial_parity",
        output_mode="append",
    ).collect()
    assert streamed, "no closed session emitted"
    for r in streamed:
        key = (r["user_id"], r["session_start"])
        assert r["sum_value"] == batch[key], (r["sum_value"], batch[key])
    # the 200x0.005 session must have summed the ROUNDED values
    # (0.105→0.11, 0.115→0.12, 2.675→2.68, 1.005→1.01 under the
    # shortest-repr HALF_UP cast)
    first = min(batch)
    assert batch[first] == pytest.approx(2.0 + 0.11 + 0.12 + 2.68 + 1.01, abs=0)


def test_sliding_window_covers_each_event_twice(spark):
    """1 h window / 30 min slide: every event is in exactly 2 windows,
    so total n_events doubles the row count and each window matches the
    30-min-truncated arithmetic."""
    import datetime as dt

    from sfcrimedatapipeline_spark.streaming.events import sliding_event_counts

    base = dt.datetime(2024, 1, 1, 10, 17, 23)
    rows = [
        (i, base + dt.timedelta(minutes=13 * i), 1, "click", 1.0, None)
        for i in range(20)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string"
    )
    out = sliding_event_counts(ev).collect()
    assert sum(r.n_events for r in out) == 2 * len(rows)
    for r in out:
        epoch = r.window_start.replace(tzinfo=dt.timezone.utc).timestamp()
        assert epoch % 1800 == 0


def test_session_window_exact_gap_merges(spark):
    """Boundary semantics of the native operator, pinned empirically:
    an event EXACTLY gap after the previous one still merges (inclusive
    boundary — same convention as operators.sessionize), and gap + 1 us
    splits. The oracle's diff > gap break encodes this."""
    import datetime as dt

    from sfcrimedatapipeline_spark.operators.sessionize import sessionize
    from sfcrimedatapipeline_spark.streaming.events import session_window_agg

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    gap = dt.timedelta(minutes=30)
    eps = dt.timedelta(microseconds=1)
    rows = [
        (1, t0, 7, "click", 1.0, None),
        (2, t0 + gap, 7, "click", 1.0, None),              # exactly gap later
        (3, t0 + gap + gap + eps, 7, "click", 1.0, None),  # gap + 1 µs
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string"
    )
    native = session_window_agg(ev, gap="30 minutes").collect()
    assert sorted((r.n_events, r.session_end - r.session_start) for r in native) == [
        (1, gap), (2, 2 * gap)
    ]
    legacy = sessionize(ev, gap_minutes=30).collect()
    assert sorted(r.n_events for r in legacy) == [1, 2]


def test_stream_restart_resumes_exactly_once(spark, tmp_path):
    """Checkpoint recovery: a file-source stream processed halfway,
    STOPPED, given more files, and restarted against the SAME
    checkpoint must resume where it left off — the final sink holds
    every input row exactly once (no loss, no reprocessing)."""
    import shutil

    from sfcrimedatapipeline_spark.streaming.events import (
        EVENTS_SCHEMA,
        write_time_sliced_stream_dir,
    )
    from sfcrimedatapipeline_spark.sources.tables import read_table

    events = read_table(spark, "/root/testdata/sf0.001", "events")
    staged = write_time_sliced_stream_dir(
        events, str(tmp_path / "staged"), n_slices=6
    )
    watch = tmp_path / "watch"
    watch.mkdir()
    files = sorted(p for p in (tmp_path / "staged").iterdir()
                   if p.suffix == ".parquet")
    assert len(files) == 6
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        q = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(watch))
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    for f in files[:3]:
        shutil.copy(f, watch / f.name)
    run_once()
    mid = spark.read.parquet(sink).count()
    assert 0 < mid < events.count()
    for f in files[3:]:
        shutil.copy(f, watch / f.name)
    run_once()  # NEW query object, SAME checkpoint
    out = spark.read.parquet(sink)
    assert out.count() == events.count()  # nothing lost, nothing doubled
    assert out.select("event_id").distinct().count() == events.count()


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema evolution across parquet generations: a later writer adds
    a column; mergeSchema reads the union with NULL backfill for old
    files — the additive-evolution contract a long-lived 100 TB table
    relies on."""
    p = str(tmp_path / "tbl")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(
        p + "/gen=1"
    )
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.parquet(p + "/gen=2")
    merged = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(merged.columns) == {"id", "name", "score", "gen"}
    rows = {r.id: r for r in merged.collect()}
    assert rows[1].score is None and rows[2].score == 9.5


def test_watermarked_dedup_drops_within_horizon_and_reemits_after(spark, tmp_path):
    """dropDuplicatesWithinWatermark contract (operators/dedup.py:
    dedup_exact_stream_watermarked): a duplicate arriving within the
    delay of the kept occurrence is dropped; once the watermark passes
    the state's expiration the key re-emits — time-bounded state trades
    exactly-once-per-corpus for bounded memory."""
    import datetime as dt
    import os
    import shutil

    from sfcrimedatapipeline_spark.operators.dedup import (
        dedup_exact_stream_watermarked,
    )
    from sfcrimedatapipeline_spark.streaming.events import run_stream_to_memory

    t0 = dt.datetime(2024, 1, 1)
    # the watermark lags one batch (batch N runs under the watermark
    # computed at the end of batch N-1), so the advancing row needs a
    # follow-up batch before eviction is visible
    batches = [
        [(1, "dup doc", t0)],                                  # emit
        [(2, "dup doc", t0 + dt.timedelta(minutes=10))],       # in horizon: drop
        [(3, "other doc", t0 + dt.timedelta(hours=5))],        # advances watermark
        [(4, "third doc", t0 + dt.timedelta(hours=5, minutes=30))],  # wm now 4h: evicts dup
        [(5, "dup doc", t0 + dt.timedelta(hours=6))],          # state evicted: re-emit
    ]
    ddl = "doc_id long, text string, ts timestamp"
    watch = tmp_path / "watch"
    watch.mkdir()
    base_t = 1_700_000_000
    for i, rows in enumerate(batches):  # one file per batch, mtime-ordered
        part = tmp_path / f"part{i}"
        spark.createDataFrame(rows, ddl).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(part))
        [src] = [f for f in os.listdir(part) if f.endswith(".parquet")]
        dest = watch / f"part-{i}.parquet"
        shutil.copy(part / src, dest)
        os.utime(dest, (base_t + i * 10, base_t + i * 10))

    out = run_stream_to_memory(
        spark,
        str(watch),
        lambda s: dedup_exact_stream_watermarked(s, delay="1 hour"),
        query_name="wm_dedup_eviction",
        output_mode="append",
        schema=ddl,
    )
    fps = [r.fingerprint for r in out.collect()]
    assert len(fps) == 4  # dup, other, third, dup-again
    assert len(set(fps)) == 3
    dup_fp = max(set(fps), key=fps.count)
    assert fps.count(dup_fp) == 2


def test_corpus_accretion_state_suppresses_rerun(spark, tmp_path):
    """The accretion loop's whole point: a SECOND stream over the same
    corpus against the accumulated state emits nothing, and a stream of
    one-new-one-old docs emits exactly the new one."""
    import os

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from sfcrimedatapipeline_spark.streaming.events import (
        run_corpus_accretion_stream,
    )

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    src1 = str(tmp_path / "src1")
    spark.createDataFrame(
        [(1, "alpha doc"), (2, "beta doc"), (3, "alpha doc")], schema
    ).coalesce(1).write.parquet(src1)
    state = str(tmp_path / "state")

    kept = run_corpus_accretion_stream(spark, src1, state, schema)
    got = {(r.doc_id, r.fingerprint) for r in kept.collect()}
    assert {d for d, _ in got} == {1, 2}  # min id per fingerprint

    # second pass: same docs, fresh checkpoint, SAME fingerprint state
    state2 = str(tmp_path / "state2")
    os.makedirs(state2)
    os.rename(
        os.path.join(state, "fingerprints"),
        os.path.join(state2, "fingerprints"),
    )
    src2 = str(tmp_path / "src2")
    spark.createDataFrame(
        [(10, "alpha doc"), (11, "gamma doc")], schema
    ).coalesce(1).write.parquet(src2)
    kept2 = run_corpus_accretion_stream(spark, src2, state2, schema)
    rows = kept2.collect()
    assert {(r.doc_id,) for r in rows} == {(11,)}  # only the new doc
    # state accreted: three distinct fingerprints now
    n_state = spark.read.parquet(os.path.join(state2, "fingerprints")).count()
    assert n_state == 3


def test_python_stream_source_exactly_once_across_batch_sizes(spark):
    # the emitted id set must be exactly [0, n) regardless of how the
    # offset range is chopped into micro-batches
    from sfcrimedatapipeline_spark.sources.jsonl import register_sequence_stream_source

    register_sequence_stream_source(spark)
    for batch in (7, 100, 5000):
        name = f"seqs_b{batch}"
        q = (
            spark.readStream.format("seqstream")
            .option("n", 300)
            .option("batch", batch)
            .load()
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        ids = sorted(r.id for r in spark.table(name).collect())
        assert ids == list(range(300)), batch


def test_wm_dau_overcounts_after_eviction(spark, tmp_path):
    """events_dau_stream_wm's state contract: a (user, day) duplicate
    arriving within the watermark delay is dropped; once the watermark
    passes the entry's expiration the key re-emits and the day's DAU
    overcounts — time-bounded state trades exactly-once per corpus for
    bounded memory (the dedup_exact_stream_wm eviction precedent,
    applied to the DAU dedup keys)."""
    import datetime as dt
    import shutil

    from sfcrimedatapipeline_spark.streaming.events import run_stream_to_memory

    t0 = dt.datetime(2024, 1, 1)
    # watermark lags one batch, so eviction needs a follow-up batch
    batches = [
        [(1, t0)],                                   # user 1 day 1: emit
        [(1, t0 + dt.timedelta(minutes=10))],        # in horizon: drop
        [(2, t0 + dt.timedelta(hours=5))],           # advances watermark
        [(3, t0 + dt.timedelta(hours=5, minutes=30))],  # wm 4h30: evicts u1
        [(1, t0 + dt.timedelta(hours=6))],           # re-emit: DAU double-counts
    ]
    ddl = "user_id long, ts timestamp"
    watch = tmp_path / "watch"
    watch.mkdir()
    base_t = 1_700_000_000
    for i, rows in enumerate(batches):
        part = tmp_path / f"part{i}"
        spark.createDataFrame(rows, ddl).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(part))
        [src] = [f for f in os.listdir(part) if f.endswith(".parquet")]
        dest = watch / f"part-{i}.parquet"
        shutil.copy(part / src, dest)
        os.utime(dest, (base_t + i * 10, base_t + i * 10))

    def transform(stream):
        return (
            stream.withWatermark("ts", "1 hour")
            .select("user_id", F.to_date("ts").alias("day"), "ts")
            .dropDuplicatesWithinWatermark(["user_id", "day"])
            .select("user_id", "day")
        )

    deduped = run_stream_to_memory(
        spark,
        str(watch),
        transform,
        query_name="wm_dau_eviction",
        output_mode="append",
        schema=ddl,
    )
    dau = {
        r.day.isoformat(): r.dau
        for r in deduped.groupBy("day")
        .agg(F.count("*").cast("long").alias("dau"))
        .collect()
    }
    # 3 distinct users, but user 1's evicted entry re-emitted: DAU = 4
    assert dau == {"2024-01-01": 4}
