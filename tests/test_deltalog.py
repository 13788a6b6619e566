"""Delta-log writer + DataFrame replay (S6/S7/U2 semantics).

The reference delegates replay to the deltalake crate (src/main.rs:357) and
passes the raw log through (src/main.rs:532-538); these tests pin our
from-scratch implementation: versioned commits, add/remove reconciliation,
time travel, metadata evolution.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from delta_lake_proxy_spark import deltalog


def test_commit_versioning(tmp_path):
    t = str(tmp_path / "t")
    os.makedirs(t)
    v0 = deltalog.write_commit(t, [{"path": "a.parquet", "partitionValues": {}, "size": 1, "modificationTime": 0}])
    v1 = deltalog.write_commit(t, [{"path": "b.parquet", "partitionValues": {}, "size": 2, "modificationTime": 0}])
    assert (v0, v1) == (0, 1)
    assert deltalog.latest_version(t) == 1
    names = os.listdir(deltalog.log_path(t))
    assert "00000000000000000000.json" in names
    # every engine commit also maintains its version checksum (round 11)
    assert "00000000000000000001.crc" in names


def test_replay_add_remove(spark, tmp_path):
    t = str(tmp_path / "t")
    os.makedirs(t)
    deltalog.write_commit(t, [
        {"path": "p=1/a.parquet", "partitionValues": {"p": "1"}, "size": 1, "modificationTime": 0},
        {"path": "p=2/b.parquet", "partitionValues": {"p": "2"}, "size": 2, "modificationTime": 0},
    ], partition_cols=["p"], schema_json="{}")
    deltalog.write_commit(t, [
        {"path": "p=1/c.parquet", "partitionValues": {"p": "1"}, "size": 3, "modificationTime": 0},
    ], removes=[{"path": "p=1/a.parquet"}])
    live = {r["path"] for r in deltalog.snapshot_files(spark, t).collect()}
    assert live == {"p=2/b.parquet", "p=1/c.parquet"}
    # time travel: at version 0 the removed file is still live
    v0 = {r["path"] for r in deltalog.snapshot_files(spark, t, version=0).collect()}
    assert v0 == {"p=1/a.parquet", "p=2/b.parquet"}


def test_re_add_after_remove_is_live(spark, tmp_path):
    t = str(tmp_path / "t")
    os.makedirs(t)
    deltalog.write_commit(t, [{"path": "a.parquet", "partitionValues": {}, "size": 1, "modificationTime": 0}])
    deltalog.write_commit(t, [], removes=[{"path": "a.parquet"}])
    deltalog.write_commit(t, [{"path": "a.parquet", "partitionValues": {}, "size": 9, "modificationTime": 0}])
    rows = deltalog.snapshot_files(spark, t).collect()
    assert len(rows) == 1 and rows[0]["size"] == 9


def test_partition_values_from_path():
    pv = deltalog.partition_values_from_path("year=2023/month=10/x.parquet", ["year", "month"])
    assert pv == {"year": "2023", "month": "10"}
    # url-encoded values decode; non-partition segments ignored
    pv = deltalog.partition_values_from_path("mic=X%20LON/other/f.parquet", ["mic"])
    assert pv == {"mic": "X LON"}


def test_table_metadata_latest_wins(spark, tmp_path):
    t = str(tmp_path / "t")
    os.makedirs(t)
    deltalog.write_commit(t, [], schema_json='{"v":1}', partition_cols=["p"])
    deltalog.write_commit(t, [], schema_json='{"v":2}', partition_cols=["p"])
    meta = deltalog.table_metadata(spark, t)
    assert meta["schemaString"] == '{"v":2}'
    assert meta["partitionColumns"] == ["p"]


def test_table_id_survives_metadata_commits(spark, tmp_path):
    """The table id and creation time are fixed for the table's life: a
    property change re-emits metaData and keeps both."""
    from delta_lake_proxy_spark import Engine, EngineConfig

    t = str(tmp_path / "t")
    os.makedirs(t)
    deltalog.write_commit(t, [], schema_json='{"v":1}')
    Engine(spark, EngineConfig(table_mapping={"t": t}, read_only=False)).set_table_properties(
        "t", {"delta.appendOnly": "true"}
    )
    v0, v1 = deltalog.load_snapshot(t, 0), deltalog.load_snapshot(t, 1)
    assert v1.configuration["delta.appendOnly"] == "true"
    assert v1.metadata["id"] == v0.metadata["id"]
    assert v1.metadata_action["createdTime"] == v0.metadata_action["createdTime"]


def test_commit_dir_state_tracks_disk(spark, tmp_path, lineitem):
    t = str(tmp_path / "t")
    lineitem.limit(20).repartition(1).write.partitionBy("l_returnflag").parquet(t)
    v = deltalog.commit_dir_state(t, ["l_returnflag"])
    assert v == 0
    snap = deltalog.snapshot_files(spark, t)
    n_files = snap.count()
    assert n_files >= 1
    # partitionValues parsed from the hive paths
    flags = {r["partitionValues"]["l_returnflag"] for r in snap.collect()}
    assert flags <= {"A", "N", "R"} and flags
    # idempotent second commit: no new adds/removes needed but version bumps
    v2 = deltalog.commit_dir_state(t, ["l_returnflag"])
    assert v2 == 1
    assert deltalog.snapshot_files(spark, t).count() == n_files


def test_read_log_has_versions(spark, tmp_path):
    t = str(tmp_path / "t")
    os.makedirs(t)
    deltalog.write_commit(t, [{"path": "a", "partitionValues": {}, "size": 1, "modificationTime": 0}])
    deltalog.write_commit(t, [{"path": "b", "partitionValues": {}, "size": 1, "modificationTime": 0}])
    log = deltalog.read_log(spark, t)
    assert set(r["version"] for r in log.select("version").distinct().collect()) == {0, 1}
    # protocol + metaData only in version 0
    assert log.filter(F.col("protocol").isNotNull()).count() == 1


def test_checkpoint_roundtrip(spark, tmp_path):
    """Checkpoint at version N; later snapshots read checkpoint + JSON tail
    and must equal the full-history replay (including post-checkpoint removes
    of checkpointed files)."""
    t = str(tmp_path / "ckpt")
    os.makedirs(t)
    for i in range(4):
        deltalog.write_commit(
            t,
            [{"path": f"f{i}.parquet", "partitionValues": {}, "size": i + 1, "modificationTime": 0}],
            schema_json='{"v":1}' if i == 0 else None,
        )
    v = deltalog.write_checkpoint(spark, t)
    assert v == 3
    assert deltalog.last_checkpoint(t)["version"] == 3
    # post-checkpoint commits: add one, remove a checkpointed file
    deltalog.write_commit(
        t,
        [{"path": "f9.parquet", "partitionValues": {}, "size": 9, "modificationTime": 0}],
        removes=[{"path": "f1.parquet"}],
    )
    got = {r["path"] for r in deltalog.snapshot_files(spark, t).collect()}
    want = {r["path"] for r in deltalog.snapshot_files(spark, t, use_checkpoint=False).collect()}
    assert got == want == {"f0.parquet", "f2.parquet", "f3.parquet", "f9.parquet"}
    # time travel BEFORE the checkpoint still works (falls back to JSON replay)
    v1 = {r["path"] for r in deltalog.snapshot_files(spark, t, version=1).collect()}
    assert v1 == {"f0.parquet", "f1.parquet"}
    # metadata survives checkpointing
    assert deltalog.table_metadata(spark, t)["schemaString"] == '{"v":1}'


def test_checkpoint_then_engine_read(spark, tmp_path, lineitem):
    """End-to-end: governed table, checkpoint, append, read through Engine."""
    from delta_lake_proxy_spark import Engine, EngineConfig
    from delta_lake_proxy_spark.engine import write_governed_table

    path = str(tmp_path / "gct")
    write_governed_table(spark, lineitem.limit(100).repartition(1), path, ["l_returnflag"])
    deltalog.write_checkpoint(spark, path)
    eng = Engine(spark, EngineConfig(table_mapping={"t": path}, read_only=False))
    eng.write_table("t", lineitem.limit(10), mode="append")
    snap_files = eng.snapshot_files("t").count()
    assert snap_files >= 4  # 3 partitions + appended file(s)
    assert eng.read_table("t").count() == 110


def test_auto_checkpoint_on_interval(spark, tmp_path, lineitem):
    from delta_lake_proxy_spark import Engine, EngineConfig
    from delta_lake_proxy_spark.engine import write_governed_table

    path = str(tmp_path / "auto_ck")
    write_governed_table(spark, lineitem.limit(20).repartition(1), path, [])
    cfg = EngineConfig(table_mapping={"t": path}, read_only=False, checkpoint_interval=2)
    eng = Engine(spark, cfg)
    eng.write_table("t", lineitem.limit(5), mode="append")  # v1 -> no ckpt
    assert deltalog.last_checkpoint(path) is None
    eng.write_table("t", lineitem.limit(5), mode="append")  # v2 -> ckpt
    assert deltalog.last_checkpoint(path)["version"] == 2
    assert eng.read_table("t").count() == 30


def test_add_actions_carry_footer_stats(spark, tmp_path, lineitem):
    t = str(tmp_path / "stats_t")
    lineitem.limit(100).repartition(1).write.parquet(t)
    deltalog.commit_dir_state(t, [])
    import json

    rows = deltalog.snapshot_files(spark, t).collect()
    stats = json.loads(rows[0]["stats"])
    assert stats["numRecords"] == 100
    assert stats["minValues"]["l_quantity"] <= stats["maxValues"]["l_quantity"]
    assert "l_returnflag" in stats["minValues"]  # strings too


def test_scan_with_skipping_prunes_files(spark, tmp_path, lineitem):
    """Range-partition lineitem by orderkey into 4 files (tight, disjoint
    ranges), then a narrow orderkey range must read fewer files and return
    exactly the filtered rows."""
    from pyspark.sql import functions as F

    from delta_lake_proxy_spark import Engine, EngineConfig

    t = str(tmp_path / "skip_t")
    lineitem.repartitionByRange(4, "l_orderkey").sortWithinPartitions(
        "l_orderkey"
    ).write.parquet(t)
    deltalog.commit_dir_state(t, [])
    eng = Engine(spark, EngineConfig(table_mapping={"t": t}))
    lo = int(lineitem.agg(F.min("l_orderkey")).collect()[0][0])
    df = eng.scan_with_skipping("t", {"l_orderkey": (lo, lo + 10)})
    files_read = {r[0] for r in df.select(F.input_file_name()).distinct().collect()}
    assert len(files_read) == 1  # 3 of 4 files skipped via footer stats
    want = lineitem.filter(
        (F.col("l_orderkey") >= lo) & (F.col("l_orderkey") <= lo + 10)
    ).count()
    assert df.count() == want
    # no stats match -> conservative full result correctness on open range
    df_all = eng.scan_with_skipping("t", {"l_orderkey": (None, None)})
    assert df_all.count() == lineitem.count()


def test_stats_survive_every_commit_producer(spark, tmp_path, lineitem):
    """Stats-emission audit (round-7 verdict item 7): every write path that
    rewrites files — compaction, UPDATE, MERGE, overwrite — must re-emit
    ``add.stats`` from the new footers, or ``scan_with_skipping`` silently
    stops pruning after routine maintenance. Pins that (a) every live add
    carries stats after each operation and (b) skipping still prunes files
    on the compacted table."""
    import json

    from pyspark.sql import functions as F

    from delta_lake_proxy_spark import Engine, EngineConfig

    t = str(tmp_path / "stats_t")
    eng = Engine(spark, EngineConfig(table_mapping={"t": t}, read_only=False))

    def assert_all_stats(op: str):
        adds = deltalog._live_adds_no_spark(t).values()
        assert adds and all(a.get("stats") for a in adds), f"stats lost by {op}"
        for a in adds:
            st = json.loads(a["stats"])
            assert "l_orderkey" in st["minValues"], f"column stats lost by {op}"

    # overwrite write with clustering
    eng.write_table("t", lineitem, mode="overwrite", sort_by=["l_orderkey"], sort_files=4)
    assert_all_stats("overwrite")
    # fragment + compact (files_per_partition collapses the 4 files to 1;
    # bin-packing path exercised separately) — stats must be re-collected
    eng.write_table("t", lineitem.limit(500), mode="append")
    eng.compact_table("t", files_per_partition=4)
    assert_all_stats("compact")
    # DML rewrites
    eng.update("t", F.col("l_orderkey") >= 0, {"l_tax": F.col("l_tax")})
    assert_all_stats("update")
    eng.delete("t", F.col("l_linenumber") == 7)
    assert_all_stats("delete")
    keys = eng.read_table("t").limit(3).select("l_orderkey", "l_linenumber")
    eng.merge("t", eng.read_table("t").join(keys, ["l_orderkey", "l_linenumber"]), on=["l_orderkey", "l_linenumber"])
    assert_all_stats("merge")

    # after ALL of that, footer-stats skipping still prunes: recompact into
    # tight ranges and scan a narrow window
    eng.write_table(
        "t", eng.read_table("t"), mode="overwrite", sort_by=["l_orderkey"], sort_files=4
    )
    assert_all_stats("recluster")
    lo = int(lineitem.agg(F.min("l_orderkey")).collect()[0][0])
    df = eng.scan_with_skipping("t", {"l_orderkey": (lo, lo + 10)})
    files_read = {r[0] for r in df.select(F.input_file_name()).distinct().collect()}
    n_live = len(deltalog._live_adds_no_spark(t))
    assert len(files_read) < n_live  # pruning still effective post-maintenance


def test_optimistic_concurrency(spark, tmp_path):
    """A racing commit at the same version: blind appends retry at the next
    version; remove-carrying commits surface ConcurrentWriteError."""
    t = str(tmp_path / "occ")
    os.makedirs(t)
    deltalog.write_commit(t, [{"path": "a", "partitionValues": {}, "size": 1, "modificationTime": 0}])
    # simulate a concurrent writer owning version 1
    with open(os.path.join(deltalog.log_path(t), f"{1:020d}.json"), "w") as f:
        f.write('{"commitInfo": {"operation": "WRITE", "timestamp": 0}}\n'
                '{"add": {"path": "other", "partitionValues": {}, "size": 1, '
                '"modificationTime": 0, "dataChange": true}}\n')
    # blind append lands at version 2
    v = deltalog.write_commit(t, [{"path": "b", "partitionValues": {}, "size": 1, "modificationTime": 0}])
    assert v == 2
    live = {r["path"] for r in deltalog.snapshot_files(spark, t).collect()}
    assert live == {"a", "other", "b"}
    # an overwrite-style commit that targets an already-taken version
    # (stale snapshot between version computation and link) must conflict
    import pytest as _pytest
    from unittest import mock

    real_latest = deltalog.latest_version
    with mock.patch.object(deltalog, "latest_version", lambda p: real_latest(p) - 1):
        with _pytest.raises(deltalog.ConcurrentWriteError):
            deltalog.write_commit(
                t,
                [{"path": "c", "partitionValues": {}, "size": 1, "modificationTime": 0}],
                removes=[{"path": "a"}],
            )


def test_multipart_checkpoint_roundtrip(spark, tmp_path):
    """A snapshot above max_actions_per_part writes the multi-part
    {v:020d}.checkpoint.{part:010d}.{parts:010d}.parquet set; BOTH readers
    (Spark snapshot_files and the driver-side _live_adds_no_spark) must
    reconstruct the identical live set after pre-checkpoint JSON pruning,
    with dict-shaped partitionValues."""
    t = str(tmp_path / "ckpt_multi")
    os.makedirs(t)
    adds = [
        {
            "path": f"p={i % 3}/f{i}.parquet",
            "partitionValues": {"p": str(i % 3)},
            "size": i + 1,
            "modificationTime": 0,
        }
        for i in range(25)
    ]
    deltalog.write_commit(t, adds, schema_json='{"v":1}')
    deltalog.write_commit(
        t,
        [{"path": "p=9/f99.parquet", "partitionValues": {"p": "9"}, "size": 9, "modificationTime": 0}],
        removes=[{"path": "p=0/f0.parquet"}],
    )
    v = deltalog.write_checkpoint(spark, t, max_actions_per_part=10)
    ck = deltalog.last_checkpoint(t)
    assert ck["version"] == v and ck.get("parts", 0) >= 2
    files = deltalog.checkpoint_data_files(t, ck)
    assert all(os.path.exists(f) for f in files) and len(files) == ck["parts"]
    # prune the pre-checkpoint JSON commits (log cleanup)
    logd = deltalog.log_path(t)
    for name in os.listdir(logd):
        if name.endswith(".json") and name[:-5].isdigit() and int(name[:-5]) <= v:
            os.remove(os.path.join(logd, name))
    want = {f"p={i % 3}/f{i}.parquet" for i in range(1, 25)} | {"p=9/f99.parquet"}
    got_spark = {r["path"] for r in deltalog.snapshot_files(spark, t).collect()}
    assert got_spark == want
    live = deltalog._live_adds_no_spark(t)
    assert set(live) == want
    assert live["p=9/f99.parquet"]["partitionValues"] == {"p": "9"}
    # metadata (schema) survives via the multi-part checkpoint
    assert deltalog.table_metadata(spark, t)["schemaString"] == '{"v":1}'


def test_cleanup_log_retention(spark, tmp_path, lineitem):
    """cleanup_log removes only checkpoint-covered JSON commits and
    superseded checkpoint files; snapshot replay, schema, and engine reads
    survive; post-checkpoint commits and the current checkpoint stay."""
    from delta_lake_proxy_spark import Engine, EngineConfig
    from delta_lake_proxy_spark.engine import write_governed_table

    path = str(tmp_path / "cleanup_t")
    write_governed_table(spark, lineitem.limit(100).repartition(1), path, ["l_returnflag"])
    eng = Engine(spark, EngineConfig(table_mapping={"t": path}, read_only=False))
    eng.write_table("t", lineitem.limit(10))
    deltalog.write_checkpoint(spark, path)  # ckpt @ v1 (superseded below)
    eng.write_table("t", lineitem.limit(10))
    v = deltalog.write_checkpoint(spark, path)  # ckpt @ v2
    eng.write_table("t", lineitem.limit(10))  # JSON tail @ v3
    before = eng.read_table("t").count()
    # retention keeps everything young
    assert eng.cleanup_log("t", retention_hours=1.0) == 0
    removed = eng.cleanup_log("t", retention_hours=0.0)
    # v0..v2 commits + the superseded v1 checkpoint file
    # v0..v2 commits + the superseded v1 checkpoint + the v0/v1 crcs
    # (the v2 crc stays: it still serves the tip fast path)
    assert removed == 6
    logd = deltalog.log_path(path)
    names = sorted(os.listdir(logd))
    assert f"{3:020d}.json" in names
    assert all(not (n.endswith(".json") and n[:-5].isdigit() and int(n[:-5]) <= v) for n in names)
    eng.invalidate_caches()
    assert eng.read_table("t").count() == before
    assert deltalog.table_metadata(spark, path)["partitionColumns"] == ["l_returnflag"]


def test_timestamp_as_of_time_travel(spark, tmp_path, lineitem):
    """timestamp_as_of resolves to the last version committed at or before
    the given time (Delta timestampAsOf rule); too-early timestamps raise."""
    import time as _time

    import pytest
    from delta_lake_proxy_spark import Engine, EngineConfig
    from delta_lake_proxy_spark.engine import write_governed_table

    path = str(tmp_path / "ts_travel")
    write_governed_table(spark, lineitem.limit(50).repartition(1), path, [])
    t_v0 = _time.time()
    _time.sleep(0.05)
    eng = Engine(spark, EngineConfig(table_mapping={"t": path}, read_only=False))
    eng.write_table("t", lineitem.limit(10))
    assert eng.read_table("t", timestamp_as_of=t_v0).count() == 50
    # the newest commit's own timestamp resolves to the latest version...
    newest_ms = (
        deltalog.read_log(spark, path)
        .agg(F.max("commitInfo.timestamp"))
        .collect()[0][0]
    )
    assert eng.read_table("t", timestamp_as_of=newest_ms / 1000.0).count() == 60
    with pytest.raises(ValueError, match="no commit at or before"):
        eng.read_table("t", timestamp_as_of=t_v0 - 3600)
    with pytest.raises(ValueError, match="not both"):
        eng.read_table("t", version=0, timestamp_as_of=t_v0)
    # ...but a timestamp AFTER the latest commit is OUT OF RANGE (Delta
    # timestampAsOf semantics), not silently "latest"
    with pytest.raises(ValueError, match="after the latest commit"):
        eng.read_table("t", timestamp_as_of="2100-01-01T00:00:00")


def test_cleanup_at_tip_then_write_not_lost(spark, tmp_path):
    """Regression (round-6 HIGH): checkpoint at the log tip, cleanup_log
    removes every JSON commit — the NEXT commit must still land at
    checkpoint_version + 1 (not restart at 0, which snapshot replay would
    silently ignore: data loss)."""
    t = str(tmp_path / "tip")
    os.makedirs(t)
    for i in range(3):
        deltalog.write_commit(
            t,
            [{"path": f"f{i}.parquet", "partitionValues": {}, "size": 1, "modificationTime": 0}],
            schema_json='{"v":1}' if i == 0 else None,
        )
    v = deltalog.write_checkpoint(spark, t)
    assert v == 2
    removed = deltalog.cleanup_log(t, retention_hours=0.0)
    assert removed == 5  # all JSON commits + the v0/v1 crcs (tip crc stays)
    # latest_version must see the checkpoint, not report -1
    assert deltalog.latest_version(t) == 2
    nv = deltalog.write_commit(
        t, [{"path": "f9.parquet", "partitionValues": {}, "size": 9, "modificationTime": 0}]
    )
    assert nv == 3
    live = {r["path"] for r in deltalog.snapshot_files(spark, t).collect()}
    assert live == {"f0.parquet", "f1.parquet", "f2.parquet", "f9.parquet"}
    # the driver-side replay agrees
    assert set(deltalog._live_adds_no_spark(t)) == live
    # and a RE-checkpoint after cleanup must not lose the pre-cleanup files
    v2 = deltalog.write_checkpoint(spark, t)
    assert v2 == 3
    deltalog.cleanup_log(t, retention_hours=0.0)
    live2 = {r["path"] for r in deltalog.snapshot_files(spark, t).collect()}
    assert live2 == live
    # protocol/metaData survive two generations of checkpoint + cleanup
    assert deltalog.table_metadata(spark, t)["schemaString"] == '{"v":1}'


def test_txn_watermark_survives_checkpoint_and_cleanup(spark, tmp_path):
    """Delta checkpoints carry txn actions so app watermarks outlive log
    retention: stream two batches -> checkpoint -> cleanup_log(0) -> the
    appId's last version is still visible (replayed batch stays dropped)."""
    t = str(tmp_path / "txn_ck")
    os.makedirs(t)
    deltalog.write_commit(
        t,
        [{"path": "b0.parquet", "partitionValues": {}, "size": 1, "modificationTime": 0}],
        txn={"appId": "app-A", "version": 0},
    )
    deltalog.write_commit(
        t,
        [{"path": "b1.parquet", "partitionValues": {}, "size": 1, "modificationTime": 0}],
        txn={"appId": "app-A", "version": 1},
    )
    deltalog.write_commit(
        t,
        [{"path": "c0.parquet", "partitionValues": {}, "size": 1, "modificationTime": 0}],
        txn={"appId": "app-B", "version": 7},
    )
    deltalog.write_checkpoint(spark, t)
    deltalog.cleanup_log(t, retention_hours=0.0)
    # all JSON commits are gone; the checkpoint alone must answer
    assert deltalog.last_txn_version(t, "app-A") == 1
    assert deltalog.last_txn_version(t, "app-B") == 7
    assert deltalog.last_txn_version(t, "app-C") == -1
    # a newer JSON txn supersedes the checkpointed one
    deltalog.write_commit(
        t,
        [{"path": "b2.parquet", "partitionValues": {}, "size": 1, "modificationTime": 0}],
        txn={"appId": "app-A", "version": 2},
    )
    assert deltalog.last_txn_version(t, "app-A") == 2
    # and the next checkpoint carries the SUPERSEDED map forward
    deltalog.write_checkpoint(spark, t)
    deltalog.cleanup_log(t, retention_hours=0.0)
    assert deltalog.last_txn_version(t, "app-A") == 2
    assert deltalog.last_txn_version(t, "app-B") == 7


def test_occ_disjoint_remove_commit_retries(spark, tmp_path):
    """Round-6 OCC: a remove-carrying commit that loses the version race to a
    winner whose changes are DISJOINT (pure append of other files) retries
    and lands at the next version — Delta's WriteSerializable rule — while
    a winner that touched the same file still conflicts."""
    from unittest import mock

    import pytest as _pytest

    t = str(tmp_path / "occ_retry")
    os.makedirs(t)
    deltalog.write_commit(
        t,
        [
            {"path": "a", "partitionValues": {}, "size": 1, "modificationTime": 0},
            {"path": "b", "partitionValues": {}, "size": 1, "modificationTime": 0},
        ],
    )
    # winner: blind append of c (disjoint from the loser's remove of a)
    deltalog.write_commit(
        t, [{"path": "c", "partitionValues": {}, "size": 1, "modificationTime": 0}]
    )

    real = deltalog.latest_version

    def stale_once(p):
        # first call (version computation) sees the pre-winner log; the
        # retry's re-listing sees reality
        stale_once.n += 1
        return real(p) - 1 if stale_once.n == 1 else real(p)

    stale_once.n = 0
    with mock.patch.object(deltalog, "latest_version", stale_once):
        v = deltalog.write_commit(
            t,
            [{"path": "a2", "partitionValues": {}, "size": 2, "modificationTime": 0}],
            removes=[{"path": "a"}],
        )
    assert v == 2  # landed AFTER the winner instead of failing
    live = {r["path"] for r in deltalog.snapshot_files(spark, t).collect()}
    assert live == {"b", "c", "a2"}

    # same race, but the winner REMOVED the file the loser tombstones -> conflict
    deltalog.write_commit(
        t,
        [{"path": "b2", "partitionValues": {}, "size": 1, "modificationTime": 0}],
        removes=[{"path": "b"}],
    )  # v3: winner removes b

    stale_once.n = 0
    with mock.patch.object(deltalog, "latest_version", stale_once):
        with _pytest.raises(deltalog.ConcurrentWriteError):
            deltalog.write_commit(
                t,
                [{"path": "b3", "partitionValues": {}, "size": 1, "modificationTime": 0}],
                removes=[{"path": "b"}],
            )

    # a winner that changed metaData conflicts with any remove-carrying loser
    deltalog.write_commit(
        t,
        [{"path": "d", "partitionValues": {}, "size": 1, "modificationTime": 0}],
        schema_json='{"v":2}',
    )
    stale_once.n = 0
    with mock.patch.object(deltalog, "latest_version", stale_once):
        with _pytest.raises(deltalog.ConcurrentWriteError):
            deltalog.write_commit(
                t,
                [{"path": "c2", "partitionValues": {}, "size": 1, "modificationTime": 0}],
                removes=[{"path": "c"}],
            )


def test_estimate_snapshot_actions_bounds(spark, tmp_path):
    """The driver-side replay guard must OVERESTIMATE (err toward the
    distributed path): the estimate is >= the true action count both before
    and after checkpointing."""
    t = str(tmp_path / "est")
    os.makedirs(t)
    for i in range(5):
        deltalog.write_commit(
            t,
            [
                {"path": f"f{i}-{j}.parquet", "partitionValues": {}, "size": 1, "modificationTime": 0}
                for j in range(4)
            ],
        )
    true_live = len(deltalog._live_adds_no_spark(t))
    assert deltalog.estimate_snapshot_actions(t) >= true_live
    # a pinned version is sized at that version, not at the tip
    at_1 = deltalog.estimate_snapshot_actions(t, 1)
    assert len(deltalog._live_adds_no_spark(t, max_version=1)) <= at_1
    assert at_1 < deltalog.estimate_snapshot_actions(t)
    deltalog.write_checkpoint(spark, t)
    deltalog.cleanup_log(t, retention_hours=0.0)
    est = deltalog.estimate_snapshot_actions(t)
    assert est >= true_live
    # post-cleanup the estimate is exact-ish: checkpoint rows only
    assert est <= true_live + 3  # + metaData/protocol rows


def test_multipart_checkpoint_carries_txn(spark, tmp_path):
    """txn watermarks survive via MULTI-PART checkpoints too (the txn row
    may land in any part)."""
    t = str(tmp_path / "mp_txn")
    os.makedirs(t)
    adds = [
        {"path": f"f{i}.parquet", "partitionValues": {}, "size": 1, "modificationTime": 0}
        for i in range(30)
    ]
    deltalog.write_commit(t, adds, txn={"appId": "mp-app", "version": 9})
    v = deltalog.write_checkpoint(spark, t, max_actions_per_part=10)
    assert (deltalog.last_checkpoint(t).get("parts") or 0) >= 2
    deltalog.cleanup_log(t, retention_hours=0.0)
    assert deltalog.last_txn_version(t, "mp-app") == 9
    assert len(deltalog._live_adds_no_spark(t)) == 30


_XP_SCHEMA = (
    '{"type":"struct","fields":['
    '{"name":"x","type":"long","nullable":true,"metadata":{}},'
    '{"name":"p","type":"string","nullable":true,"metadata":{}}]}'
)


@pytest.mark.parametrize("layout", ["single", "multipart", "v2"])
def test_checkpoint_write_runs_no_spark_job(spark, tmp_path, count_jobs, layout):
    """Checkpoints are built on the driver: no Spark job in any layout
    (one file, multi-part, v2 main + sidecars), and the files alone replay
    the live set, the txn watermark and the metaData once the JSON history
    and the crcs are gone."""
    from delta_lake_proxy_spark import Engine, EngineConfig

    t = str(tmp_path / layout)
    os.makedirs(t)
    for i in range(3):
        deltalog.write_commit(
            t,
            [
                {
                    "path": f"p={i % 2}/f{i}-{j}.parquet",
                    "partitionValues": {"p": str(i % 2)},
                    "size": j + 1,
                    "modificationTime": 0,
                    "stats": '{"numRecords":1}',
                }
                for j in range(8)
            ],
            schema_json=_XP_SCHEMA if i == 0 else None,
            partition_cols=["p"] if i == 0 else None,
            txn={"appId": "app", "version": i},
        )
    if layout == "v2":
        eng = Engine(spark, EngineConfig(table_mapping={"t": t}, read_only=False))
        eng.enable_v2_checkpoints("t")
    want = deltalog._live_adds_no_spark(t)
    per_part = 10 if layout != "single" else deltalog.CHECKPOINT_PART_ACTIONS
    v, jobs = count_jobs(lambda: deltalog.write_checkpoint(spark, t, per_part))
    assert jobs == 0
    ck = deltalog.last_checkpoint(t)
    # 24 adds + protocol/metaData/txn: 3 parts of 10, or 3 sidecars + main
    n_files = {"single": 1, "multipart": 3, "v2": 4}[layout]
    assert len(deltalog.checkpoint_data_files(t, ck)) == n_files
    deltalog.cleanup_log(t, retention_hours=0.0)
    logd = deltalog.log_path(t)
    for name in os.listdir(logd):
        assert not name.endswith(".json")
        if name.endswith(".crc"):
            os.remove(os.path.join(logd, name))
    got = deltalog._live_adds_no_spark(t)
    assert set(got) == set(want)
    assert all(a["dataChange"] is False for a in got.values())
    assert {p: (a["size"], a["stats"]) for p, a in got.items()} == {
        p: (a["size"], a["stats"]) for p, a in want.items()
    }
    assert deltalog.all_txn_versions(t) == {"app": 2}
    assert deltalog.table_metadata(spark, t)["partitionColumns"] == ["p"]


def test_v2_checkpoint_over_a_classic_one_at_the_same_version(spark, tmp_path):
    """``_last_checkpoint`` records a v2 checkpoint's main file under the
    spec's ``v2Checkpoint`` field, and readers resolve from it: after a
    classic and then a v2 checkpoint at one version, the checkpoint files
    are the v2 main file plus its sidecars, not the classic file (which is
    made unreadable here to prove it)."""
    t = str(tmp_path / "t")
    os.makedirs(t)
    for i in range(3):
        deltalog.write_commit(
            t,
            [
                {
                    "path": f"p={i % 2}/f{i}-{j}.parquet",
                    "partitionValues": {"p": str(i % 2)},
                    "size": j + 1,
                    "modificationTime": 0,
                }
                for j in range(8)
            ],
            schema_json=_XP_SCHEMA if i == 0 else None,
            partition_cols=["p"] if i == 0 else None,
        )
    want = deltalog._live_adds_no_spark(t)
    v = deltalog.write_checkpoint(spark, t)
    assert deltalog.write_checkpoint_v2(spark, t, 10) == v
    ck = deltalog.last_checkpoint(t)
    logd = deltalog.log_path(t)
    main = os.path.join(logd, ck["v2Checkpoint"]["path"])
    assert ck["v2Checkpoint"]["sizeInBytes"] == os.path.getsize(main)
    assert ck["v2Checkpoint"]["modificationTime"] == int(os.stat(main).st_mtime * 1000)
    files = deltalog.checkpoint_data_files(t, ck)
    assert files[0] == main and len(files) == 4  # main + 3 sidecars of 10
    assert all(os.path.dirname(f) == os.path.join(logd, "_sidecars") for f in files[1:])
    with open(os.path.join(logd, f"{v:020d}.checkpoint.parquet"), "wb") as f:
        f.write(b"not parquet")
    for name in os.listdir(logd):
        if name.endswith((".json", ".crc")):
            os.remove(os.path.join(logd, name))
    assert set(deltalog._live_adds_no_spark(t)) == set(want)
    assert deltalog.table_metadata(spark, t)["partitionColumns"] == ["p"]


def test_checkpoint_is_built_from_one_version(spark, tmp_path):
    """A commit that lands while version v is checkpointed must not leak
    into the checkpoint: its metaData, txn rows, adds and the healed crc
    all come from v — time travel to v must not read v+1's properties."""
    from unittest import mock

    import pyarrow.parquet as pq

    t = str(tmp_path / "one_version")
    os.makedirs(t)

    def add(p):
        return {"path": p, "partitionValues": {}, "size": 1, "modificationTime": 0}

    v = deltalog.write_commit(
        t, [add("a")], schema_json='{"v":1}', txn={"appId": "app", "version": 1}
    )
    deltalog.write_commit(
        t,
        [add("b")],
        schema_json='{"v":1}',
        configuration={"graft.late": "yes"},
        txn={"appId": "app", "version": 2},
    )
    logd = deltalog.log_path(t)
    for name in os.listdir(logd):
        if name.endswith(".crc"):
            os.remove(os.path.join(logd, name))  # every piece replays the log
    with mock.patch.object(deltalog, "latest_version", lambda p: v):
        assert deltalog.write_checkpoint(spark, t) == v
    rows = pq.read_table(os.path.join(logd, f"{v:020d}.checkpoint.parquet")).to_pylist()
    meta = [r["metaData"] for r in rows if r["metaData"]]
    assert len(meta) == 1 and "graft.late" not in dict(meta[0]["configuration"] or [])
    assert [r["txn"] for r in rows if r["txn"]] == [{"appId": "app", "version": 1}]
    assert [r["add"]["path"] for r in rows if r["add"]] == ["a"]
    crc = deltalog.read_version_checksum(t, v)
    assert "graft.late" not in crc["metadata"]["configuration"]
    assert crc["setTransactions"] == [{"appId": "app", "version": 1}]
    assert crc["numFiles"] == 1


def test_time_travel_below_cleanup_fails_loudly(spark, tmp_path):
    """After cleanup_log, a version below the checkpoint must RAISE, not
    silently replay an empty log (a RESTORE to it would otherwise tombstone
    the whole table); nonexistent future versions also raise."""
    import pytest as _pytest

    t = str(tmp_path / "tt_guard")
    os.makedirs(t)
    for i in range(3):
        deltalog.write_commit(
            t, [{"path": f"f{i}.parquet", "partitionValues": {}, "size": 1, "modificationTime": 0}]
        )
    deltalog.write_checkpoint(spark, t)
    deltalog.cleanup_log(t, retention_hours=0.0)
    # the checkpointed tip itself still replays, though no commit file is left
    assert deltalog.commit_actions(t, 2) is None
    assert deltalog.snapshot_files(spark, t, version=2).count() == 3
    with _pytest.raises(ValueError, match="no longer reproducible"):
        deltalog.snapshot_files(spark, t, version=1).count()
    with _pytest.raises(ValueError, match="does not exist"):
        deltalog.snapshot_files(spark, t, version=99).count()
    # restore to a cleaned version fails loudly instead of emptying the table
    from delta_lake_proxy_spark import Engine, EngineConfig

    eng = Engine(spark, EngineConfig(table_mapping={"t": t}, read_only=False))
    with _pytest.raises(ValueError, match="no longer reproducible"):
        eng.restore("t", version=0)
    with _pytest.raises(ValueError, match="no longer reproducible"):
        eng.read_table("t", version=1)
    assert deltalog.snapshot_files(spark, t).count() == 3  # table intact


def _checkpoint_files_at(t: str, v: int) -> set[str]:
    prefix = f"{v:020d}.checkpoint."
    return {n for n in os.listdir(deltalog.log_path(t)) if n.startswith(prefix)}


def _rewrite_fixture(t: str) -> set[str]:
    os.makedirs(t)
    deltalog.write_commit(
        t,
        [
            {"path": f"p={i % 3}/f{i}.parquet", "partitionValues": {"p": str(i % 3)},
             "size": i + 1, "modificationTime": 0}
            for i in range(24)
        ],
        schema_json='{"v":1}',
    )
    deltalog.write_commit(t, [], removes=[{"path": "p=0/f0.parquet"}])
    return {f"p={i % 3}/f{i}.parquet" for i in range(1, 24)}


def test_rewritten_checkpoint_leaves_only_its_own_files(spark, tmp_path):
    """Rewriting the checkpoint at a version that already has one, with
    another part count or the other layout, supersedes the earlier files:
    log cleanup reclaims them, only what ``_last_checkpoint`` names stays,
    and the snapshot reads the same — also once the commits it covers are
    gone and each rewrite is built from the previous checkpoint."""
    t = str(tmp_path / "rewrite")
    want = _rewrite_fixture(t)
    writes = [
        lambda: deltalog.write_checkpoint(spark, t),  # one part
        lambda: deltalog.write_checkpoint(spark, t, max_actions_per_part=10),  # 3
        lambda: deltalog.write_checkpoint_v2(spark, t, 10),
        lambda: deltalog.write_checkpoint(spark, t, max_actions_per_part=10),
        lambda: deltalog.write_checkpoint(spark, t),
    ]
    for write in writes:
        v = write()
        deltalog.cleanup_log(t, retention_hours=0.0)
        ck = deltalog.last_checkpoint(t)
        listed = {os.path.basename(f) for f in deltalog.checkpoint_data_files(t, ck)}
        assert _checkpoint_files_at(t, v) == {
            n for n in listed if n.startswith(f"{v:020d}.")
        }
        assert set(deltalog._live_adds_no_spark(t)) == want
        assert {r["path"] for r in deltalog.snapshot_files(spark, t).collect()} == want
    assert deltalog.last_checkpoint(t).get("parts") is None
    assert _checkpoint_files_at(t, v) == {f"{v:020d}.checkpoint.parquet"}


def test_checkpoint_rewrite_spares_the_files_last_checkpoint_names(spark, tmp_path):
    """Two writers checkpoint one version and the first one's
    ``_last_checkpoint`` lands last (v2 main files are uuid-named, so their
    files differ): the rewrite itself deletes nothing, so a reader still
    holding either pointer reads on, and cleanup reclaims only the files
    the final ``_last_checkpoint`` does not name — and only once they are
    past the retention window."""
    import json

    t = str(tmp_path / "race")
    want = _rewrite_fixture(t)
    v = deltalog.write_checkpoint_v2(spark, t, 10)
    first = deltalog.last_checkpoint(t)
    first_files = deltalog.checkpoint_data_files(t, first)
    deltalog.write_checkpoint_v2(spark, t, 10)
    second_files = deltalog.checkpoint_data_files(t, deltalog.last_checkpoint(t))
    assert not set(first_files) & set(second_files)
    assert all(os.path.exists(f) for f in first_files + second_files)
    with open(deltalog._last_checkpoint_file(t), "w", encoding="utf-8") as f:
        f.write(json.dumps(first))
    assert deltalog.cleanup_log(t, retention_hours=1.0) == 0
    assert all(os.path.exists(f) for f in second_files)
    deltalog.cleanup_log(t, retention_hours=0.0)
    assert all(os.path.exists(f) for f in first_files)
    assert not any(os.path.exists(f) for f in second_files)
    assert _checkpoint_files_at(t, v) == {os.path.basename(first_files[0])}
    assert set(deltalog._live_adds_no_spark(t)) == want
    assert {r["path"] for r in deltalog.snapshot_files(spark, t).collect()} == want


def _stats_add(path: str, part: str) -> dict:
    import json

    return {
        "path": path, "partitionValues": {"p": part}, "size": 1000,
        "modificationTime": 0, "dataChange": True,
        "stats": json.dumps({"numRecords": 10, "minValues": {"id": 0},
                             "maxValues": {"id": 9}, "nullCount": {"id": 0}}),
    }


def test_estimate_counts_only_adds_on_a_churned_table(spark, tmp_path):
    """40 one-file partitions, 30 of them tombstoned: the estimate counts
    add rows and add lines only, so it stays between the live count and
    the 40 files ever added, before and after a checkpoint."""
    t = str(tmp_path / "churn")
    os.makedirs(t)
    deltalog.write_commit(
        t, [_stats_add(f"p={i}/f.parquet", str(i)) for i in range(40)],
        partition_cols=["p"], schema_json="{}",
    )
    deltalog.write_commit(t, [], removes=[{"path": f"p={i}/f.parquet"} for i in range(30)])
    assert len(deltalog._live_adds_no_spark(t)) == 10
    assert 10 <= deltalog.estimate_snapshot_actions(t) <= 40
    assert deltalog.estimate_snapshot_actions(t, 0) == 40
    deltalog.write_checkpoint(spark, t)
    assert deltalog.estimate_snapshot_actions(t) == 10
    deltalog.write_commit(
        t, [_stats_add("p=50/f.parquet", "50")],
        removes=[{"path": "p=30/f.parquet"}],
    )
    assert deltalog.estimate_snapshot_actions(t) == 11


@pytest.mark.parametrize("layout", ["single", "multi", "v2"])
def test_estimate_bounds_live_files_in_every_checkpoint_layout(spark, tmp_path, layout):
    """Checkpoint add rows come from the footer's ``add.path`` null count
    (the v2 main file carries none; its sidecars do), falling back to the
    row count when the footer has no statistics."""
    import pyarrow.parquet as pq

    t = str(tmp_path / layout)
    os.makedirs(t)
    deltalog.write_commit(
        t, [_stats_add(f"p={i % 4}/f{i}.parquet", str(i % 4)) for i in range(25)],
        partition_cols=["p"], schema_json="{}",
    )
    deltalog.write_commit(t, [], removes=[{"path": f"p={i % 4}/f{i}.parquet"} for i in range(5)])
    if layout == "v2":
        deltalog.write_checkpoint_v2(spark, t, 10)
    else:
        deltalog.write_checkpoint(spark, t, 10 if layout == "multi" else 1_000_000)
    deltalog.write_commit(
        t, [_stats_add("p=0/g.parquet", "0")], removes=[{"path": "p=1/f5.parquet"}]
    )
    live = len(deltalog._live_adds_no_spark(t))
    assert live == 20
    assert deltalog.estimate_snapshot_actions(t) == 21  # 20 checkpoint adds + 1 tail add
    # a checkpoint written without footer statistics counts every row
    files = deltalog.checkpoint_data_files(t, deltalog.last_checkpoint(t))
    rows = 0
    for f in files:
        table = pq.read_table(f)
        pq.write_table(table, f, write_statistics=False)
        rows += table.num_rows if "add" in table.column_names else 0
    est = deltalog.estimate_snapshot_actions(t)
    assert est == rows + 1 and est >= live


def test_estimate_bounds_a_large_tail_file_by_its_size(tmp_path, monkeypatch):
    """A tail file past the scan limit (a bulk commit) is bounded by its
    size over the smallest add line, not read: still an upper bound on
    its adds, and no read of the file."""
    t = str(tmp_path / "bulk")
    os.makedirs(t)
    deltalog.write_commit(
        t, [_stats_add(f"p={i % 4}/f{i}.parquet", str(i % 4)) for i in range(30)],
        partition_cols=["p"], schema_json="{}",
    )
    deltalog.write_commit(t, [], removes=[{"path": "p=0/f0.parquet"}])
    assert deltalog.estimate_snapshot_actions(t) == 30
    commits = [os.path.join(deltalog.log_path(t), f"{v:020d}.json") for v in (0, 1)]
    monkeypatch.setattr(deltalog, "_TAIL_SCAN_MAX_BYTES", 0)
    real_open = open

    def no_log_reads(path, *a, **k):
        assert path not in commits, f"read {path}"
        return real_open(path, *a, **k)

    monkeypatch.setattr("builtins.open", no_log_reads)
    est = deltalog.estimate_snapshot_actions(t)
    assert est == sum(os.path.getsize(c) // 64 for c in commits) and est >= 30
