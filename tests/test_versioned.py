"""Versioned-table contract: snapshot isolation, time travel,
rollback-as-metadata, crash-survivor handling, and vacuum safety."""

from __future__ import annotations

import json
import os

import pytest

from sfcrimedatapipeline_spark.sources import versioned as V


def _df(spark, vals):
    return spark.createDataFrame([(i, f"v{i}") for i in vals], "id long, s string")


def test_time_travel_and_latest(spark, tmp_path):
    p = str(tmp_path / "t")
    v1 = V.write_version(_df(spark, range(5)), p, note="initial")
    v2 = V.write_version(_df(spark, range(100, 103)), p, note="refresh")
    assert (v1, v2) == (1, 2)
    assert V.read_version(spark, p).count() == 3            # latest
    assert V.read_version(spark, p, 1).count() == 5          # time travel
    assert sorted(r["id"] for r in V.read_version(spark, p, 2).collect()) == [
        100, 101, 102,
    ]
    assert [h["note"] for h in V.history(p)] == ["initial", "refresh"]


def test_rollback_is_metadata_only_and_appends_history(spark, tmp_path):
    p = str(tmp_path / "t")
    V.write_version(_df(spark, range(4)), p)
    V.write_version(_df(spark, range(9)), p, note="bad load")
    v3 = V.rollback(p, 1)
    assert v3 == 3
    assert V.read_version(spark, p).count() == 4
    # no new data files were written: v3 references v1's files
    assert V.read_manifest(p, 3)["files"] == V.read_manifest(p, 1)["files"]
    assert len(V.history(p)) == 3  # bad version stays inspectable
    assert V.read_version(spark, p, 2).count() == 9


def test_crash_survivor_manifest_is_skipped_not_clobbered(spark, tmp_path):
    p = str(tmp_path / "t")
    V.write_version(_df(spark, range(3)), p)
    # simulate a crash between manifest write and _latest update:
    # v2 manifest exists, pointer still says 1
    m = dict(V.read_manifest(p, 1), version=2, note="crashed commit")
    V._atomic_write(V._manifest_path(p, 2), json.dumps(m))
    assert V.latest_version(p) == 2  # manifest is the commit
    v3 = V.write_version(_df(spark, range(7)), p)
    assert v3 == 3  # next writer never reuses the survivor's number
    assert V.read_version(spark, p).count() == 7


def test_vacuum_reclaims_only_unreferenced_groups(spark, tmp_path):
    p = str(tmp_path / "t")
    V.write_version(_df(spark, range(2)), p)
    V.write_version(_df(spark, range(3)), p)
    V.rollback(p, 1)  # v3 references v1's files
    removed = V.vacuum(p, keep_versions=2)  # keep v2, v3
    # v1's group is shared with v3 -> retained; v2's group is its own
    assert removed == []  # v2 is within keep window
    removed = V.vacuum(p, keep_versions=1)  # keep only v3
    assert len(removed) == 1  # v2's group reclaimed, v1's survives via v3
    assert V.read_version(spark, p).count() == 2  # latest still readable
    assert V.read_version(spark, p, 1).count() == 2  # shared files intact


def test_append_version_accumulates_and_time_travels(spark, tmp_path):
    p = str(tmp_path / "t")
    V.append_version(_df(spark, range(3)), p, note="day 1")
    V.append_version(_df(spark, range(100, 104)), p, note="day 2")
    assert V.read_version(spark, p, 1).count() == 3
    assert V.read_version(spark, p).count() == 7  # cumulative
    # the append reuses day-1's physical files, no rewrite
    f1 = set(V.read_manifest(p, 1)["files"])
    f2 = set(V.read_manifest(p, 2)["files"])
    assert f1 < f2


def test_versioned_stream_sink_one_version_per_batch(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    # two source files -> two micro-batches (maxFilesPerTrigger=1)
    _df(spark, range(4)).coalesce(1).write.parquet(str(src / "a"))
    _df(spark, range(50, 53)).coalesce(1).write.parquet(str(src / "b"))
    for sub in ("a", "b"):
        for f in (src / sub).glob("*.parquet"):
            f.rename(src / f"{sub}_{f.name}")
    stream = (
        spark.readStream.schema("id long, s string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    table = str(tmp_path / "table")
    q = V.versioned_stream_sink(
        stream, table, checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    hist = V.history(table)
    assert len(hist) == 2
    assert {h["note"] for h in hist} == {"stream batch 0", "stream batch 1"}
    assert V.read_version(spark, table).count() == 7  # both batches
    assert V.read_version(spark, table, 1).count() in (3, 4)  # first batch only


def test_vacuum_path_spelling_invariant(spark, tmp_path):
    """ADVICE r6: retention compared by group basename, so calling
    vacuum through a differently-spelled but equivalent path (here:
    a route through the parent + a redundant segment) must not treat
    every retained group as deletable."""
    p = str(tmp_path / "t")
    V.write_version(_df(spark, range(2)), p)
    V.write_version(_df(spark, range(3)), p)
    alt = os.path.join(str(tmp_path), ".", "t")  # equivalent, ≠ string
    assert alt != p
    removed = V.vacuum(alt, keep_versions=1)
    assert len(removed) == 1  # only v1's group, never the latest
    assert V.read_version(spark, p).count() == 3  # latest intact


def test_vacuum_rejects_zero_retention(tmp_path):
    """ADVICE r6: keep_versions=0 would delete the latest committed
    snapshot while its manifest dangles — must raise, not comply."""
    import pytest

    with pytest.raises(ValueError, match="keep_versions"):
        V.vacuum(str(tmp_path / "t"), keep_versions=0)


def test_stream_replay_guard_ignores_note_collisions(spark, tmp_path):
    """ADVICE r6: the replay guard keys on dedicated manifest fields
    (stream_batch_id + stream_query), so a manual append whose NOTE
    happens to spell 'stream batch 0' must not cause the stream's real
    batch 0 to be silently skipped."""
    src = tmp_path / "src"
    src.mkdir()
    _df(spark, range(4)).coalesce(1).write.parquet(str(src / "a"))
    for f in (src / "a").glob("*.parquet"):
        f.rename(src / f"a_{f.name}")
    table = str(tmp_path / "table")
    # adversarial manual append: note collides with the old guard key
    V.append_version(_df(spark, range(900, 902)), table, note="stream batch 0")
    stream = (
        spark.readStream.schema("id long, s string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = V.versioned_stream_sink(
        stream, table, checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    hist = V.history(table)
    assert len(hist) == 2  # manual append + the real batch 0
    assert V.read_manifest(table, 2).get("stream_batch_id") == 0
    assert V.read_version(spark, table).count() == 6  # 2 manual + 4 stream


def test_stream_replayed_batch_id_commits_once(spark, tmp_path):
    """A batch id already committed by THIS query is skipped on replay
    (field-based dedup), while the same batch id from a DIFFERENT
    query name is a distinct stream and commits."""
    table = str(tmp_path / "table")
    V.append_version(
        _df(spark, range(3)), table, note="stream batch 0",
        extra={"stream_batch_id": 0, "stream_query": "qa"},
    )
    src = tmp_path / "src"
    src.mkdir()
    _df(spark, range(10, 14)).coalesce(1).write.parquet(str(src / "a"))
    for f in (src / "a").glob("*.parquet"):
        f.rename(src / f"a_{f.name}")
    stream = (
        spark.readStream.schema("id long, s string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    # same query name -> batch 0 is a replay, must be skipped
    q = V.versioned_stream_sink(
        stream, table, checkpoint_dir=str(tmp_path / "ck1"), query_name="qa"
    )
    q.awaitTermination(120)
    assert len(V.history(table)) == 1  # skipped: already committed
    # different query name -> distinct stream, must commit
    q = V.versioned_stream_sink(
        stream, table, checkpoint_dir=str(tmp_path / "ck2"), query_name="qb"
    )
    q.awaitTermination(120)
    assert len(V.history(table)) == 2
    assert V.read_version(spark, table).count() == 7


def test_versioned_replay_skips_despite_many_other_writers(spark, tmp_path, monkeypatch):
    """Exactly-once across other-writer floods: after the sink commits
    batch 0, MORE manifests than the fallback scan will ever read land
    from other writers; a fresh-checkpoint replay of batch 0 must still
    be skipped — the per-query sidecar index resolves it in O(1)."""
    import sfcrimedatapipeline_spark.sources.versioned as V

    monkeypatch.setattr(V, "REPLAY_WINDOW", 2)
    monkeypatch.setattr(V, "TOTAL_SCAN_CAP", 4)

    def _df(rng):
        return spark.createDataFrame([(i, f"s{i}") for i in rng], "id long, s string")

    table = str(tmp_path / "table")
    src = tmp_path / "src"
    src.mkdir()
    _df(range(4)).coalesce(1).write.parquet(str(src / "a"))
    for f in (src / "a").glob("*.parquet"):
        f.rename(src / f"a_{f.name}")

    def stream():
        return (
            spark.readStream.schema("id long, s string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )

    q = V.versioned_stream_sink(
        stream(), table, checkpoint_dir=str(tmp_path / "ck1"), query_name="qa"
    )
    q.awaitTermination(120)
    assert len(V.history(table)) == 1
    # flood: 6 other-writer commits (> TOTAL_SCAN_CAP) bury qa's manifest
    for i in range(6):
        V.append_version(_df(range(2)), table, note=f"other {i}")
    # fresh checkpoint => Spark re-delivers batch 0; must NOT double-append
    q = V.versioned_stream_sink(
        stream(), table, checkpoint_dir=str(tmp_path / "ck2"), query_name="qa"
    )
    q.awaitTermination(120)
    assert len(V.history(table)) == 7  # 1 stream + 6 manual, no duplicate

    # pre-index table (sidecar removed): the capped scan can no longer
    # prove the replay — it must WARN (never silently double-append)
    for name in os.listdir(os.path.join(table, V._MANIFESTS)):
        if name.startswith("_last_batch."):
            os.remove(os.path.join(table, V._MANIFESTS, name))
    with pytest.warns(UserWarning, match="capped"):
        q = V.versioned_stream_sink(
            stream(), table, checkpoint_dir=str(tmp_path / "ck3"), query_name="qa"
        )
        q.awaitTermination(120)
