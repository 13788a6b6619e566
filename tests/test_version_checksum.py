"""Version checksum files (<version>.crc — delta-io/delta VersionChecksum).

Engine commits must maintain the chain incrementally (O(commit), never
O(table)); the tip crc must serve the driver-side resolvers from ONE file;
stale/foreign/absent checksums must degrade to replay, never to wrong
answers. The reference consumes these through the deltalake kernel
(src/main.rs:357)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from delta_lake_proxy_spark import deltalog
from delta_lake_proxy_spark.config import EngineConfig
from delta_lake_proxy_spark.engine import Engine


def mk_engine(spark, path, extra=None):
    mapping = {"t": path, **(extra or {})}
    return Engine(spark, EngineConfig(table_mapping=mapping, read_only=False))


def src_df(spark, n=30, base=0):
    return spark.range(base, base + n).select(
        F.col("id").cast("long").alias("id"),
        (F.col("id") % 3).cast("string").alias("part"),
        (F.col("id") * 2).cast("double").alias("val"),
    )


def assert_valid(path):
    rep = deltalog.validate_version_checksum(path)
    assert rep["ok"], rep
    return rep


def crc_files(path):
    d = os.path.join(path, "_delta_log")
    return sorted(n for n in os.listdir(d) if n.endswith(".crc"))


def _norm(v):
    """Checkpoint-replayed actions carry explicit None feature keys where
    commit-JSON ones omit them — semantically identical; normalize for
    comparison."""
    if isinstance(v, dict):
        return {k: _norm(x) for k, x in v.items() if x is not None}
    return v


def assert_fastpath_parity(path):
    for fn in (
        deltalog.table_metadata_no_spark,
        deltalog.table_protocol_no_spark,
        deltalog.table_configuration_no_spark,
        deltalog.all_txn_versions,
        deltalog.live_domain_metadata,
    ):
        assert _norm(fn(path)) == _norm(fn(path, use_checksum=False)), fn.__name__


def test_chain_maintained_across_write_dml_compact(spark, tmp_path):
    """Every engine commit (create, append, DELETE, UPDATE, MERGE,
    compaction) writes a crc whose deep validation passes."""
    path = str(tmp_path / "t")
    eng = mk_engine(spark, path)
    eng.write_table("t", src_df(spark), mode="overwrite", partition_by=["part"])
    assert crc_files(path) == ["00000000000000000000.crc"]
    assert_valid(path)

    eng.write_table("t", src_df(spark, 10, base=100), mode="append")
    assert_valid(path)

    eng.delete("t", F.col("id") == 3)
    assert_valid(path)

    eng.update("t", F.col("id") == 5, {"val": F.lit(999.0)})
    assert_valid(path)

    eng.merge("t", src_df(spark, 5, base=105), on=["id"])
    assert_valid(path)

    eng.compact_table("t")
    rep = assert_valid(path)
    # one crc per retained version
    assert len(crc_files(path)) == rep["version"] + 1


def test_fast_paths_match_replay(spark, tmp_path):
    """Every resolver the crc can serve must agree with the raw replay."""
    path = str(tmp_path / "t")
    eng = mk_engine(spark, path)
    eng.write_table("t", src_df(spark), mode="overwrite", partition_by=["part"])
    eng.write_table(
        "t", src_df(spark, 8, base=50), mode="append", txn={"appId": "app1", "version": 7}
    )
    assert_fastpath_parity(path)
    assert deltalog.last_txn_version(path, "app1") == 7


def test_crc_is_actually_used_and_validated(spark, tmp_path):
    """Proof of use: a sentinel crc at the tip short-circuits the
    configuration resolver; the replay path and the validator both see
    through it."""
    path = str(tmp_path / "t")
    eng = mk_engine(spark, path)
    eng.write_table("t", src_df(spark), mode="overwrite")
    v = deltalog.latest_version(path)
    crc = deltalog.read_version_checksum(path, v)
    crc["metadata"] = dict(crc["metadata"])
    crc["metadata"]["configuration"] = {"sentinel.marker": "via-crc"}
    with open(os.path.join(path, "_delta_log", f"{v:020d}.crc"), "w") as f:
        json.dump(crc, f)
    assert deltalog.table_configuration_no_spark(path) == {"sentinel.marker": "via-crc"}
    assert deltalog.table_configuration_no_spark(path, use_checksum=False) == {}
    rep = deltalog.validate_version_checksum(path)
    assert rep["ok"] and "metadata.schemaString" not in rep["mismatches"]


def test_stale_crc_is_ignored(spark, tmp_path):
    """A crc below the tip (foreign writer committed without one) must not
    short-circuit anything."""
    path = str(tmp_path / "t")
    eng = mk_engine(spark, path)
    eng.write_table("t", src_df(spark), mode="overwrite")
    v = deltalog.latest_version(path)
    # foreign commit without a crc: hand-append an empty commit file
    nxt = os.path.join(path, "_delta_log", f"{v + 1:020d}.json")
    with open(nxt, "w") as f:
        f.write(json.dumps({"commitInfo": {"operation": "FOREIGN", "timestamp": 1}}) + "\n")
    assert deltalog.read_version_checksum(path, v) is not None
    assert deltalog._tip_checksum(path) is None  # stale guard
    assert deltalog.table_configuration_no_spark(path) == deltalog.table_configuration_no_spark(
        path, use_checksum=False
    )


def test_foreign_shape_and_malformed_crc(spark, tmp_path):
    """A delta-spark-shaped crc with extra fields parses; a crc missing
    required fields (or unparseable) resolves to None and everything falls
    back to replay."""
    path = str(tmp_path / "t")
    eng = mk_engine(spark, path)
    eng.write_table("t", src_df(spark), mode="overwrite")
    v = deltalog.latest_version(path)
    p = os.path.join(path, "_delta_log", f"{v:020d}.crc")
    crc = deltalog.read_version_checksum(path, v)
    # extra foreign fields must pass through read_version_checksum
    crc["txnId"] = "00000000-0000-0000-0000-000000000000"
    crc["histogramOpt"] = {"sortedBinBoundaries": [0], "fileCounts": [1], "totalBytes": [1]}
    # foreign crcs may omit the optional maps entirely
    crc.pop("setTransactions", None)
    crc.pop("domainMetadata", None)
    with open(p, "w") as f:
        json.dump(crc, f)
    got = deltalog.read_version_checksum(path, v)
    assert got is not None and got["txnId"] == crc["txnId"]
    # optional maps absent -> those resolvers must NOT claim empty from it
    assert deltalog.all_txn_versions(path) == deltalog.all_txn_versions(
        path, use_checksum=False
    )
    # malformed: missing numFiles
    bad = {k: vv for k, vv in crc.items() if k != "numFiles"}
    with open(p, "w") as f:
        json.dump(bad, f)
    assert deltalog.read_version_checksum(path, v) is None
    with open(p, "w") as f:
        f.write("not json")
    assert deltalog.read_version_checksum(path, v) is None
    assert deltalog.table_metadata_no_spark(path)["schemaString"]


def test_raw_remove_of_non_live_path_stays_exact(spark, tmp_path):
    """A raw commit tombstoning a path that was never live must not corrupt
    the counters — the snapshot simulation makes it a no-op, and validation
    still passes."""
    path = str(tmp_path / "t")
    eng = mk_engine(spark, path)
    eng.write_table("t", src_df(spark), mode="overwrite")
    before = deltalog.read_version_checksum(path, deltalog.latest_version(path))
    deltalog.write_commit(path, [], [{"path": "never/existed.parquet"}])
    rep = assert_valid(path)
    after = deltalog.read_version_checksum(path, rep["version"])
    assert after["numFiles"] == before["numFiles"]
    assert after["tableSizeBytes"] == before["tableSizeBytes"]


def test_raw_sized_remove_of_tombstoned_path_stays_exact(spark, tmp_path):
    """ADVICE r11 #3: a raw commit carrying a SIZED remove of an
    already-tombstoned path (a legal reconciliation no-op) must not
    double-decrement numFiles/tableSizeBytes — uncertified removes route
    through the snapshot simulation (only Engine commits, whose removes
    are live by construction, certify crc_live_removes and keep the pure
    arithmetic)."""
    path = str(tmp_path / "t")
    eng = mk_engine(spark, path)
    eng.write_table("t", src_df(spark), mode="overwrite")
    live0 = deltalog._live_adds_no_spark(path)
    dead_path, dead_add = next(iter(sorted(live0.items())))
    eng.write_table("t", src_df(spark, 10, base=100), mode="overwrite")  # tombstones live0
    before = deltalog.read_version_checksum(path, deltalog.latest_version(path))
    deltalog.write_commit(
        path, [], [{"path": dead_path, "size": dead_add.get("size")}]
    )
    rep = assert_valid(path)
    after = deltalog.read_version_checksum(path, rep["version"])
    assert after["numFiles"] == before["numFiles"]
    assert after["tableSizeBytes"] == before["tableSizeBytes"]


def test_chain_gap_pauses_and_backfill_heals(spark, tmp_path):
    """A foreign commit without a crc breaks the chain — subsequent engine
    commits must NOT write checksums derived from a missing predecessor —
    and Engine.write_version_checksum restores it."""
    path = str(tmp_path / "t")
    eng = mk_engine(spark, path)
    eng.write_table("t", src_df(spark), mode="overwrite")
    v0 = deltalog.latest_version(path)
    # foreign writer: hand-written commit, no crc
    with open(os.path.join(path, "_delta_log", f"{v0 + 1:020d}.json"), "w") as f:
        f.write(
            json.dumps({"commitInfo": {"operation": "FOREIGN", "timestamp": 1}}) + "\n"
        )
    # the NEXT engine commit stays paused (no predecessor crc)
    eng.write_table("t", src_df(spark, 5, base=200), mode="append")
    v2 = deltalog.latest_version(path)
    assert v2 == v0 + 2
    assert deltalog.read_version_checksum(path, v2) is None
    healed = eng.write_version_checksum("t")
    assert healed["numFiles"] == len(deltalog._live_adds_no_spark(path))
    assert_valid(path)
    # chain resumes incrementally after the heal
    eng.write_table("t", src_df(spark, 5, base=300), mode="append")
    assert_valid(path)


def test_dv_dml_and_row_tracking_checksums(spark, tmp_path):
    """DV-writing DML (remove+add of the SAME path with a new DV) must keep
    numFiles/tableSizeBytes stable; the rowTracking high-water-mark domain
    must ride the crc's domainMetadata."""
    path = str(tmp_path / "t")
    eng = mk_engine(spark, path)
    eng.write_table("t", src_df(spark), mode="overwrite")
    eng.enable_row_tracking("t")
    assert_valid(path)
    eng.write_table("t", src_df(spark, 10, base=400), mode="append")
    rep = assert_valid(path)
    crc = deltalog.read_version_checksum(path, rep["version"])
    domains = {d["domain"] for d in crc["domainMetadata"]}
    assert deltalog.ROW_TRACKING_DOMAIN in domains
    assert deltalog.row_id_high_water_mark(path) >= 0
    # DV leg on its own table (the engine refuses to rewrite an existing
    # feature list, so rowTracking + DV enablement don't compose here)
    dv_path = str(tmp_path / "dv")
    dv_eng = mk_engine(spark, dv_path)
    dv_eng.write_table("t", src_df(spark), mode="overwrite")
    dv_eng.enable_deletion_vectors("t")
    assert_valid(dv_path)
    before = deltalog.read_version_checksum(dv_path, deltalog.latest_version(dv_path))
    dv_eng.delete("t", F.col("id") == 7)  # DV path: same file, new DV
    after_rep = assert_valid(dv_path)
    after = deltalog.read_version_checksum(dv_path, after_rep["version"])
    assert after["numFiles"] == before["numFiles"]
    assert after["tableSizeBytes"] == before["tableSizeBytes"]


def test_cleanup_retires_old_crcs_keeps_tip(spark, tmp_path):
    path = str(tmp_path / "t")
    eng = mk_engine(spark, path)
    eng.write_table("t", src_df(spark), mode="overwrite")
    for i in range(3):
        eng.write_table("t", src_df(spark, 5, base=500 + 10 * i), mode="append")
    deltalog.write_checkpoint(spark, path)
    v = deltalog.latest_version(path)
    removed = deltalog.cleanup_log(path, retention_hours=0.0)
    assert removed > 0
    assert crc_files(path) == [f"{v:020d}.crc"]
    # the tip fast path survives cleanup
    assert_fastpath_parity(path)
    assert_valid(path)


def test_ict_table_records_in_commit_timestamp(spark, tmp_path):
    path = str(tmp_path / "t")
    eng = mk_engine(spark, path)
    eng.write_table("t", src_df(spark), mode="overwrite")
    eng.enable_in_commit_timestamps("t")
    eng.write_table("t", src_df(spark, 5, base=600), mode="append")
    v = deltalog.latest_version(path)
    crc = deltalog.read_version_checksum(path, v)
    assert crc["inCommitTimestampOpt"] == deltalog._commit_ict(path, v)
    assert_valid(path)


def test_restore_and_clone_keep_chain(spark, tmp_path):
    path = str(tmp_path / "t")
    clone_path = str(tmp_path / "c")
    eng = mk_engine(spark, path, extra={"c": clone_path})
    eng.write_table("t", src_df(spark), mode="overwrite")
    eng.write_table("t", src_df(spark, 10, base=700), mode="append")
    eng.delete("t", F.col("id") == 701)
    eng.restore("t", version=1)
    assert_valid(path)
    eng.clone_table("t", clone_path, target_alias="c")
    assert_valid(clone_path)


def test_checkpoint_self_heals_broken_chain(spark, tmp_path):
    """A checkpoint on a crc-less table (foreign history) restarts the
    chain: the checkpoint writer composes the missing crc from its own
    driver-side replay — no Spark job, no explicit repair call."""
    path = str(tmp_path / "t")
    eng = mk_engine(spark, path)
    eng.write_table("t", src_df(spark), mode="overwrite")
    # simulate an all-foreign history: drop every crc
    for name in crc_files(path):
        os.remove(os.path.join(path, "_delta_log", name))
    eng.write_table("t", src_df(spark, 5, base=900), mode="append")
    assert crc_files(path) == []  # chain is down
    deltalog.write_checkpoint(spark, path)
    assert_valid(path)
    assert_fastpath_parity(path)
    # and the v2 form heals too
    path2 = str(tmp_path / "t2")
    eng2 = mk_engine(spark, path2)
    eng2.write_table("t", src_df(spark), mode="overwrite")
    eng2.enable_v2_checkpoints("t")
    for name in crc_files(path2):
        os.remove(os.path.join(path2, "_delta_log", name))
    deltalog.write_checkpoint(spark, path2)  # dispatches to v2
    assert_valid(path2)


def test_describe_table_serves_counters_from_crc_without_spark_jobs(spark, tmp_path):
    """DESCRIBE DETAIL reads file counters from the tip crc — zero Spark
    jobs (pinned by failing any job submission), matching the replay."""
    path = str(tmp_path / "t")
    eng = mk_engine(spark, path)
    eng.write_table("t", src_df(spark), mode="overwrite", partition_by=["part"])
    want = deltalog.read_version_checksum(path, deltalog.latest_version(path))
    tracker = {"jobs": 0}

    class L:
        pass

    # cheap job-count probe: statusTracker's active+completed ids before/after
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup(None) or [])
    df = eng.describe_table("t")  # counters resolved HERE, driver-side
    after = set(st.getJobIdsForGroup(None) or [])
    assert after == before, "describe_table must not submit Spark jobs with a tip crc"
    rows = df.collect()
    assert rows[0]["numFiles"] == want["numFiles"]
    assert rows[0]["sizeInBytes"] == want["tableSizeBytes"]
    # without a crc the replay fallback still answers (and MAY run a job)
    for name in crc_files(path):
        os.remove(os.path.join(path, "_delta_log", name))
    rows2 = eng.describe_table("t").collect()
    assert rows2[0]["numFiles"] == want["numFiles"]
    assert rows2[0]["sizeInBytes"] == want["tableSizeBytes"]
