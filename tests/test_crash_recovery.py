"""Crash-point and concurrency matrix for the table layer — the analogue
of the reference's crash-recovery suite (crash_recovery_tests.rs:49-1313,
testing_strategy.md:379-391):

  CP-A  compact crashes between file rewrite and snapshot commit
  CP-B  append crashes between stage-and-move and snapshot commit
  CP-C  append+compact race on the same parent version (M3 guard)
  CP-D  streaming batch crashes after table append, before checkpoint
        commit (kill-restart-mid-stream: replay must not duplicate keyed
        events, sequences stay gapless)
"""

import json
import os

import pytest

from zombi_spark.ingest.batch import RAW_EVENT_SCHEMA, prepare_events
from zombi_spark.streaming.ingest import StreamingIngest
from zombi_spark.table.event_table import CommitConflictError, EventTable


def _batch(spark, start, n, topic="t", key=None):
    rows = [
        (
            topic,
            0,
            f"p{i}".encode(),
            1704067200000 + i * 1000,
            f"{key}-{i}" if key else None,
            i,
        )
        for i in range(start, start + n)
    ]
    return spark.createDataFrame(rows, RAW_EVENT_SCHEMA)


def test_compact_crash_before_commit_preserves_table(spark, tmp_path, monkeypatch):
    """CP-A: a crash after the rewrite but before the snapshot commit
    leaves the table serving the pre-compact snapshot (compaction.rs:282-396
    commit-then-delete order); the rewritten files are unreferenced and the
    orphan sweep reclaims them."""
    t = EventTable(spark, str(tmp_path), "events")
    for s in range(3):
        t.append(prepare_events(_batch(spark, s * 5, 5)))
    v_before = t.latest_version()
    rows_before = t.read().count()

    real_commit = EventTable._commit_snapshot

    def _crash(self, *a, **kw):
        raise RuntimeError("simulated crash at CP-A")

    monkeypatch.setattr(EventTable, "_commit_snapshot", _crash)
    with pytest.raises(RuntimeError, match="CP-A"):
        t.compact(min_input_files=2)
    monkeypatch.setattr(EventTable, "_commit_snapshot", real_commit)

    # the table is exactly the pre-compact snapshot — nothing lost
    assert t.latest_version() == v_before
    assert t.read().count() == rows_before
    # the half-written compacted files are orphans; reclaiming them does
    # not disturb the committed data
    removed = t.remove_orphans(older_than_s=0)
    assert removed  # the moved-but-uncommitted rewrite output
    assert t.read().count() == rows_before
    # a rerun of the same compaction now succeeds end-to-end
    snap = t.compact(min_input_files=2)
    assert snap["files_rewritten"] > 0
    assert t.read().count() == rows_before


def test_append_crash_after_move_not_adopted(spark, tmp_path):
    """CP-B: parquet moved into the data tree by an append that never
    committed is invisible to read() and is NOT adopted by the next
    successful append (snapshots record their own files, never a directory
    listing)."""
    t = EventTable(spark, str(tmp_path), "events")
    t.append(prepare_events(_batch(spark, 0, 10)))

    # simulate the crash window: stage-and-move runs, commit never does
    events = prepare_events(_batch(spark, 100, 7))
    staging = os.path.join(t.path, ".append-crashed")
    moved = t._stage_and_move(events, staging, schema=t.table_schema())
    assert moved  # files really landed in the data tree

    assert t.read().count() == 10  # invisible to the committed view
    # the next real append commits only ITS files — crashed rows stay out
    t.append(prepare_events(_batch(spark, 10, 5)))
    assert t.read().count() == 15
    on_disk = {f["file_path"] for f in t._walk_data_files()}
    assert {e["file_path"] for e in moved} <= on_disk
    # orphan sweep reclaims the crashed files, committed data intact
    removed = t.remove_orphans(older_than_s=0)
    assert {e["file_path"] for e in moved} <= set(removed)
    assert t.read().count() == 15


def test_concurrent_append_compact_no_lost_commit(spark, tmp_path):
    """CP-C / M3: an append that lands while a compaction is being planned
    must not be dropped. The compact commit detects the stale parent
    (CommitConflictError) and rebases its immutable delta once — both
    commits survive (compaction.rs:98-137, iceberg_storage.rs:360-374)."""
    t = EventTable(spark, str(tmp_path), "events")
    for s in range(3):
        t.append(prepare_events(_batch(spark, s * 5, 5)))

    raced = {"done": False}
    real_commit = EventTable._commit_snapshot

    def _racing_commit(self, summary, **kw):
        if summary.get("operation") == "compact" and not raced["done"]:
            raced["done"] = True
            # a concurrent writer sneaks in an append between compact's
            # planning and its commit
            t2 = EventTable(spark, str(tmp_path), "events")
            t2.append(prepare_events(_batch(spark, 100, 4, topic="race")))
        return real_commit(self, summary, **kw)

    import unittest.mock as mock

    with mock.patch.object(EventTable, "_commit_snapshot", _racing_commit):
        snap = t.compact(min_input_files=2)

    assert raced["done"]
    assert snap["files_rewritten"] > 0
    # neither commit was lost: 15 compacted rows + 4 raced rows
    assert t.read().count() == 19
    assert t.read().where("topic = 'race'").count() == 4
    # and the raced append's watermark carried into the compact snapshot
    assert "zombi.watermark.race/0" in t.latest_snapshot()["watermarks"]


def test_parallel_disjoint_appends_all_commit(spark, tmp_path):
    """CP-E: N writers appending DISTINCT topics in parallel — every
    commit survives via optimistic rebase (no mutex), versions are
    contiguous, and no rows are lost. The lock-free equivalent of the
    reference's per-topic commit mutex (iceberg_storage.rs:360-374)."""
    import threading

    t = EventTable(spark, str(tmp_path), "events")
    n_writers = 4
    errors: list[Exception] = []

    def _write(i: int) -> None:
        try:
            # each writer its own handle (no shared Python state)
            w = EventTable(spark, str(tmp_path), "events")
            w.append(prepare_events(_batch(spark, i * 10, 10, topic=f"topic{i}")))
        except Exception as exc:  # pragma: no cover - surfaced in assert
            errors.append(exc)

    threads = [threading.Thread(target=_write, args=(i,)) for i in range(n_writers)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)

    assert errors == []
    assert t.read().count() == n_writers * 10
    versions = [s["version"] for s in t.snapshots()]
    assert versions == list(range(n_writers))  # contiguous, none lost
    # every writer's watermark landed in the final summary
    wm = t.latest_snapshot()["watermarks"]
    assert {f"zombi.watermark.topic{i}/0" for i in range(n_writers)} <= set(wm)


def test_same_partition_append_race_refuses(spark, tmp_path):
    """CP-F: a concurrent commit advancing the SAME producer partition
    means both writers assigned sequences from one base — rebasing would
    commit the INV-1 violation, so append raises instead."""
    import unittest.mock as mock

    t = EventTable(spark, str(tmp_path), "events")
    t.append(prepare_events(_batch(spark, 0, 5)))

    def _wm_df(table):
        wmm = table.watermark_map()
        if not wmm:
            return None
        return spark.createDataFrame(
            [(tp, p, s) for (tp, p), s in wmm.items()],
            "topic string, partition int, _base_seq long",
        )

    raced = {"done": False}
    real_commit = EventTable._commit_snapshot

    def _racing_commit(self, summary, **kw):
        if not raced["done"]:
            raced["done"] = True
            t2 = EventTable(spark, str(tmp_path), "events")
            # same topic 't', same partition 0 → same watermark key; seeds
            # sequences from the SAME committed base the outer writer used
            t2.append(prepare_events(_batch(spark, 100, 3), watermarks=_wm_df(t2)))
        return real_commit(self, summary, **kw)

    outer = prepare_events(_batch(spark, 5, 5), watermarks=_wm_df(t))
    with mock.patch.object(EventTable, "_commit_snapshot", _racing_commit):
        with pytest.raises(CommitConflictError, match="sequences would collide"):
            t.append(outer)
    # the raced writer's commit is intact; the refused writer's files are
    # orphans the sweep reclaims
    assert t.read().count() == 8
    t.remove_orphans(older_than_s=0)
    assert t.read().count() == 8


def test_stale_parent_commit_raises(spark, tmp_path):
    """M3 unit form: committing against a stale expected parent raises
    instead of last-write-winning."""
    t = EventTable(spark, str(tmp_path), "events")
    t.append(prepare_events(_batch(spark, 0, 5)))
    with pytest.raises(CommitConflictError):
        t._commit_snapshot({"operation": "append", "watermarks": {}}, expected_parent=None)
    with pytest.raises(CommitConflictError):
        t._commit_snapshot({"operation": "append", "watermarks": {}}, expected_parent=7)


def test_kill_restart_mid_stream(spark, tmp_path, monkeypatch):
    """CP-D (crash_recovery_tests.rs:998-1078): the worst crash point —
    the table append COMMITTED but the streaming checkpoint did not, so
    restart replays the batch. Keyed events must not duplicate (the
    idempotency anti-join suppresses the replay) and sequences stay
    gapless."""
    landing = str(tmp_path / "landing")
    os.makedirs(landing)

    def _write_file(name, start, n):
        with open(os.path.join(landing, name), "w") as fh:
            for i in range(start, start + n):
                fh.write(
                    json.dumps(
                        {
                            "topic": "t",
                            "partition": 0,
                            "payload": f"p{i}",
                            "timestamp_ms": 1704067200000 + i * 1000,
                            "idempotency_key": f"k-{i}",
                            "ingest_order": i,
                        }
                    )
                    + "\n"
                )

    _write_file("b1.json", 0, 6)
    table = EventTable(spark, str(tmp_path), "events")
    ing = StreamingIngest(spark, landing, table, str(tmp_path / "ckpt"))

    # crash AFTER the table committed, BEFORE foreachBatch returns (so the
    # streaming checkpoint never records the batch)
    real_process = StreamingIngest._process_batch
    crashed = {"done": False}

    def _crashing(self, batch_df, batch_id):
        real_process(self, batch_df, batch_id)
        if not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("simulated crash at CP-D")

    monkeypatch.setattr(StreamingIngest, "_process_batch", _crashing)
    q = ing.start(available_now=True)
    with pytest.raises(Exception):
        q.awaitTermination(120)
    assert crashed["done"]
    assert table.read().count() == 6  # the append itself committed

    # restart with the SAME checkpoint: Spark replays the uncommitted
    # batch; more data arrived meanwhile
    monkeypatch.setattr(StreamingIngest, "_process_batch", real_process)
    _write_file("b2.json", 6, 4)
    ing2 = StreamingIngest(spark, landing, table, str(tmp_path / "ckpt"))
    q2 = ing2.start(available_now=True)
    q2.awaitTermination(120)

    got = table.read()
    assert got.count() == 10  # replayed keyed events suppressed, no dups
    assert got.select("idempotency_key").distinct().count() == 10
    seqs = sorted(r.sequence for r in got.collect())
    assert seqs == list(range(1, 11))  # gapless across crash + restart


def test_append_guard_uses_caller_watermark_baseline(spark, tmp_path):
    """INV-1 across the read-prepare-append gap: a caller seeds sequences
    from watermark_map(), a concurrent append commits BEFORE the caller's
    append() starts, and the guard must still catch the collision — which
    it only can if the baseline is the caller's read, not a re-read at
    append start (both sides of a re-read comparison would already
    reflect the concurrent commit)."""
    t = EventTable(spark, str(tmp_path), "events")
    t.append(prepare_events(_batch(spark, 0, 5)))

    def _wm_df(table):
        wmm = table.watermark_map()
        if not wmm:
            return None
        return spark.createDataFrame(
            [(tp, p, s) for (tp, p), s in wmm.items()],
            "topic string, partition int, _base_seq long",
        )

    # caller reads watermarks (hwm=5 for t/0) and prepares its batch
    base_wm = {f"zombi.watermark.{k[0]}/{k[1]}": v for k, v in t.watermark_map().items()}
    outer = prepare_events(_batch(spark, 100, 3), watermarks=_wm_df(t))

    # concurrent writer lands FIRST, advancing the same partition
    t2 = EventTable(spark, str(tmp_path), "events")
    t2.append(prepare_events(_batch(spark, 200, 4), watermarks=_wm_df(t2)))

    # with the caller-supplied baseline the stale batch is refused
    with pytest.raises(CommitConflictError, match="sequences would collide"):
        t.append(outer, expected_watermarks=base_wm)
    assert t.read().count() == 9  # first + concurrent only


def test_replayed_batch_is_skipped_exactly_once_for_unkeyed(spark, tmp_path):
    """The foreachBatch transactional sink: re-running a micro-batch
    with an already-committed batch id is a NO-OP, so UNKEYED events
    survive a crash-between-table-commit-and-checkpoint replay exactly
    once — and the streams map survives an intervening compaction."""
    from pyspark.sql import Row

    from zombi_spark.streaming.ingest import StreamingIngest

    ing = StreamingIngest(
        spark,
        str(tmp_path / "landing"),
        EventTable(spark, str(tmp_path), "events"),
        str(tmp_path / "ckpt"),
    )
    # Spark writes <ckpt>/metadata at query start; the guard keys on its
    # query id (no readable id → guard safely OFF, not path-keyed)
    os.makedirs(tmp_path / "ckpt", exist_ok=True)
    with open(tmp_path / "ckpt" / "metadata", "w") as fh:
        fh.write('{"id": "original-query-uuid"}')
    batch = spark.createDataFrame(
        [("t", 0, b"u1", 1704067200000, None, 1), ("t", 0, b"u2", 1704067201000, None, 2)],
        "topic string, partition int, payload binary, timestamp_ms long, "
        "idempotency_key string, ingest_order long",
    )
    ing._process_batch(batch, batch_id=0)
    assert ing.table.read().count() == 2
    v_after = ing.table.latest_version()

    # crash replay: same batch id re-runs → recognized, skipped, no commit
    ing._process_batch(batch, batch_id=0)
    assert ing.table.read().count() == 2
    assert ing.table.latest_version() == v_after

    # maintenance between batches must not erase the replay guard
    ing.table.compact(min_input_files=1)
    ing._process_batch(batch, batch_id=0)  # replay after compact: still a no-op
    assert ing.table.read().count() == 2

    # the NEXT batch id commits normally and advances the guard
    batch2 = spark.createDataFrame(
        [("t", 0, b"u3", 1704067202000, None, 3)],
        batch.schema,
    )
    ing._process_batch(batch2, batch_id=1)
    assert ing.table.read().count() == 3
    assert ing.table.last_stream_batch(ing._stream_identity()) == 1
    # a different stream identity is unaffected by this one's guard
    assert ing.table.last_stream_batch("/elsewhere/ckpt") is None

    # a DELETED-AND-RECREATED checkpoint restarts batch ids at 0 with a
    # fresh query id — its batch 0 is genuinely new data and must
    # append, not be swallowed by the old guard
    os.makedirs(tmp_path / "ckpt", exist_ok=True)
    with open(tmp_path / "ckpt" / "metadata", "w") as fh:
        fh.write('{"id": "fresh-query-uuid"}')
    batch3 = spark.createDataFrame(
        [("t", 0, b"u4", 1704067203000, None, 4)],
        batch.schema,
    )
    ing._process_batch(batch3, batch_id=0)  # id 0 again, NEW identity
    assert ing.table.read().count() == 4
    assert "#fresh-query-uuid" in ing._stream_identity()

    # unreadable metadata: the guard fails SAFE — off (at-least-once),
    # never a stale path-keyed match that would drop new data
    os.remove(tmp_path / "ckpt" / "metadata")
    assert ing._stream_identity() is None
    batch4 = spark.createDataFrame(
        [("t", 0, b"u5", 1704067204000, None, 5)], batch.schema
    )
    ing._process_batch(batch4, batch_id=0)  # guard off → still appends
    assert ing.table.read().count() == 5
