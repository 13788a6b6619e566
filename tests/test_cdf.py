"""Delta Change Data Feed — REAL change files, not the file-granular analog.

Round-7 upgrade: ``delta.enableChangeDataFeed=true`` tables get row-exact
change files under ``_change_data/`` from every DML path (delete / update /
merge), ``table_changes`` serves commits from their cdc actions when
present (deriving insert/delete from dataChange add/remove otherwise), and
``dataChange=false`` rewrites (compaction) contribute NOTHING to the feed
or to incremental streams — the Delta OPTIMIZE contract that keeps a
100 TB table's downstream consumers from re-ingesting everything after
maintenance.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from delta_lake_proxy_spark import Engine, EngineConfig, deltalog
from delta_lake_proxy_spark.engine import write_governed_table
from delta_lake_proxy_spark.errors import UnsupportedProtocolError


@pytest.fixture()
def cdf_table(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, float(i), "A" if i % 2 == 0 else "B") for i in range(20)],
        "id long, val double, part string",
    )
    write_governed_table(spark, df.repartition(2), path, ["part"])  # v0
    eng = Engine(spark, EngineConfig(table_mapping={"t": path}, read_only=False))
    eng.set_table_properties("t", {"delta.enableChangeDataFeed": "true"})  # v1
    return eng, path


def test_enable_cdf_upgrades_protocol_and_blocks_raw_commits(cdf_table):
    eng, path = cdf_table
    proto = deltalog.table_protocol_no_spark(path)
    assert proto["minWriterVersion"] == 4
    # a raw commit cannot produce change files -> must refuse from now on
    with pytest.raises(UnsupportedProtocolError):
        deltalog.write_commit(path, adds=[], removes=[{"path": "x"}])


def test_delete_writes_change_files(cdf_table):
    eng, path = cdf_table
    eng.delete("t", F.col("id") < 5)  # v2
    cdc_dir = os.path.join(path, "_change_data")
    assert os.path.isdir(cdc_dir)
    feed = eng.table_changes("t", from_version=1, to_version=2)
    rows = feed.collect()
    assert {r["_change_type"] for r in rows} == {"delete"}
    assert sorted(r["id"] for r in rows) == [0, 1, 2, 3, 4]
    assert all(r["_commit_version"] == 2 for r in rows)
    # partition column round-trips through the partitioned change files
    assert all(r["part"] == ("A" if r["id"] % 2 == 0 else "B") for r in rows)
    # and the table itself no longer has the rows
    assert eng.read_table("t").count() == 15


def test_update_writes_pre_and_post_images(cdf_table):
    eng, path = cdf_table
    eng.update("t", F.col("id") == 6, {"val": F.col("val") * 10})  # v2
    rows = eng.table_changes("t", from_version=1, to_version=2).collect()
    by_type = {r["_change_type"]: r for r in rows}
    assert set(by_type) == {"update_preimage", "update_postimage"}
    assert by_type["update_preimage"]["val"] == 6.0
    assert by_type["update_postimage"]["val"] == 60.0


def test_merge_feed_types(cdf_table, spark):
    eng, path = cdf_table
    src = spark.createDataFrame(
        [(3, 99.0, "B"), (100, 1.0, "A")], "id long, val double, part string"
    )
    eng.merge("t", src, on=["id"])  # v2
    rows = eng.table_changes("t", from_version=1, to_version=2).collect()
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r["_change_type"], []).append(r)
    assert [r["id"] for r in by_type["insert"]] == [100]
    assert [r["id"] for r in by_type["update_preimage"]] == [3]
    assert by_type["update_preimage"][0]["val"] == 3.0
    assert [r["id"] for r in by_type["update_postimage"]] == [3]
    assert by_type["update_postimage"][0]["val"] == 99.0


def test_append_derives_inserts_without_change_files(cdf_table, spark):
    eng, path = cdf_table
    eng.write_table(
        "t",
        spark.createDataFrame([(50, 5.0, "A")], "id long, val double, part string"),
        mode="append",
    )  # v2
    assert not os.path.isdir(os.path.join(path, "_change_data"))
    rows = eng.table_changes("t", from_version=1, to_version=2).collect()
    assert len(rows) == 1 and rows[0]["_change_type"] == "insert"
    assert rows[0]["id"] == 50


def test_compaction_contributes_nothing(cdf_table):
    eng, path = cdf_table
    v = eng.compact_table("t", files_per_partition=1)
    feed = eng.table_changes("t", from_version=v - 1, to_version=v)
    assert feed.count() == 0
    # and the DML feed before it still reads fine
    eng.delete("t", F.col("id") == 0)
    assert eng.table_changes("t", from_version=v).count() == 1


def test_compaction_does_not_refeed_stream(cdf_table, spark, tmp_path):
    """A dataChange=false rewrite must be INVISIBLE to the log-cursor
    stream: no non-append failure, no duplicate rows."""
    eng, path = cdf_table
    from delta_lake_proxy_spark.sources.governed import GovernedDataSource

    spark.dataSource.register(GovernedDataSource)
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    def run_once():
        q = (
            spark.readStream.format("governed")
            .option("path", path)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()  # bootstrap: 20 rows
    assert spark.read.parquet(out).count() == 20
    eng.compact_table("t", files_per_partition=1)
    run_once()  # compaction commit must add NOTHING
    assert spark.read.parquet(out).count() == 20


def test_foreign_cdc_actions_honored(spark, tmp_path):
    """A commit written by another engine with cdc actions: table_changes
    must serve the change files, not derive from the commit's add/remove."""
    eng_path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "x")], "id long, s string")
    write_governed_table(spark, df, eng_path, [])
    # hand-author v1: a rewrite commit with a cdc file
    import pyarrow as pa
    import pyarrow.parquet as pq

    cdc_dir = os.path.join(eng_path, "_change_data")
    os.makedirs(cdc_dir, exist_ok=True)
    cdc_rel = "_change_data/cdc-000.parquet"
    pq.write_table(
        pa.table(
            {
                "id": pa.array([1], type=pa.int64()),
                "s": pa.array(["x"]),
                "_change_type": pa.array(["delete"]),
            }
        ),
        os.path.join(eng_path, cdc_rel),
    )
    live = sorted(deltalog._live_adds_no_spark(eng_path))
    with open(
        os.path.join(eng_path, "_delta_log", "00000000000000000001.json"),
        "w",
        encoding="utf-8",
    ) as f:
        f.write(json.dumps({"commitInfo": {"operation": "DELETE", "timestamp": 1}}) + "\n")
        for p in live:
            f.write(
                json.dumps(
                    {"remove": {"path": p, "deletionTimestamp": 1, "dataChange": True}}
                )
                + "\n"
            )
        f.write(
            json.dumps(
                {
                    "cdc": {
                        "path": cdc_rel,
                        "partitionValues": {},
                        "size": os.path.getsize(os.path.join(eng_path, cdc_rel)),
                        "dataChange": False,
                    }
                }
            )
            + "\n"
        )
    eng = Engine(spark, EngineConfig(table_mapping={"t": eng_path}))
    rows = eng.table_changes("t", from_version=0, to_version=1).collect()
    # the cdc file is authoritative: exactly one 'delete' row, NOT the
    # derived full-file delete AND the cdc rows double-counted
    assert len(rows) == 1
    assert rows[0]["_change_type"] == "delete" and rows[0]["id"] == 1


def test_vacuum_reclaims_cdc_files_past_retention(cdf_table):
    eng, path = cdf_table
    eng.delete("t", F.col("id") < 3)
    assert os.path.isdir(os.path.join(path, "_change_data"))
    eng.vacuum("t", retention_hours=0)
    # cdc files are unreferenced by the snapshot: reclaimed like Delta's
    # VACUUM (CDF availability is bounded by the retention window)
    remaining = []
    for root, _dirs, files in os.walk(os.path.join(path, "_change_data")):
        remaining += [f for f in files if f.endswith(".parquet")]
    assert remaining == []
    # the table itself is intact
    assert eng.read_table("t").count() == 17


@pytest.mark.full
def test_streaming_change_feed(cdf_table, spark, tmp_path):
    """readChangeFeed streaming: bootstrap arrives as 'insert' at the
    starting snapshot version, a DELETE feeds its change-file rows AS
    deletes (no ignoreChanges needed), compaction feeds nothing, and an
    append feeds derived inserts — each stamped with its commit version."""
    eng, path = cdf_table
    from delta_lake_proxy_spark.sources.governed import GovernedDataSource

    spark.dataSource.register(GovernedDataSource)
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    def run_once():
        q = (
            spark.readStream.format("governed")
            .option("path", path)
            .option("readChangeFeed", "true")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out)

    got = run_once()  # bootstrap at v1 (create + property commits)
    assert got.count() == 20
    assert {r["_change_type"] for r in got.collect()} == {"insert"}
    assert {r["_commit_version"] for r in got.collect()} == {1}

    eng.delete("t", F.col("id") < 3)  # v2: cdc delete rows
    got = run_once()
    dels = got.filter(F.col("_change_type") == "delete").collect()
    assert sorted(r["id"] for r in dels) == [0, 1, 2]
    assert all(r["_commit_version"] == 2 for r in dels)

    before = run_once().count()
    eng.compact_table("t", files_per_partition=1)  # v3: dataChange=false
    assert run_once().count() == before  # nothing fed

    eng.write_table(
        "t",
        spark.createDataFrame([(77, 7.0, "A")], "id long, val double, part string"),
        mode="append",
    )  # v4
    got = run_once()
    ins = got.filter(
        (F.col("_change_type") == "insert") & (F.col("_commit_version") == 4)
    ).collect()
    assert [r["id"] for r in ins] == [77]


def test_streaming_change_feed_update_images(cdf_table, spark, tmp_path):
    eng, path = cdf_table
    from delta_lake_proxy_spark.sources.governed import GovernedDataSource

    spark.dataSource.register(GovernedDataSource)
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    def run_once():
        q = (
            spark.readStream.format("governed")
            .option("path", path)
            .option("readChangeFeed", "true")
            .option("startingVersion", "latest")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out)

    run_once()  # position at the tip, skip the snapshot
    eng.update("t", F.col("id") == 4, {"val": F.col("val") + 100})
    got = run_once()
    by_type = {r["_change_type"]: r for r in got.collect()}
    assert set(by_type) == {"update_preimage", "update_postimage"}
    assert by_type["update_preimage"]["val"] == 4.0
    assert by_type["update_postimage"]["val"] == 104.0


def test_batch_reader_rejects_read_change_feed(cdf_table, spark):
    eng, path = cdf_table
    from delta_lake_proxy_spark.sources.governed import GovernedDataSource

    spark.dataSource.register(GovernedDataSource)
    with pytest.raises(Exception, match="table_changes"):
        (
            spark.read.format("governed")
            .option("path", path)
            .option("readChangeFeed", "true")
            .load()
            .collect()
        )


def test_table_changes_timestamp_bounds(cdf_table, spark):
    """Timestamp-bounded CDF: bounds resolve through the same rule as
    timestampAsOf (ICT-aware), exclusive start / inclusive end."""
    import json as _json
    import os as _os

    eng, path = cdf_table
    eng.delete("t", F.col("id") < 2)  # v2
    eng.delete("t", F.col("id") == 5)  # v3
    # pin deterministic commit timestamps: v ms = (v+1) * 1_000_000
    logd = _os.path.join(path, "_delta_log")
    for name in sorted(_os.listdir(logd)):
        if not (name.endswith(".json") and name[:-5].isdigit()):
            continue
        v = int(name[:-5])
        p = _os.path.join(logd, name)
        lines = []
        for line in open(p, encoding="utf-8"):
            if not line.strip():
                continue
            a = _json.loads(line)
            if "commitInfo" in a:
                a["commitInfo"]["timestamp"] = (v + 1) * 1_000_000
            lines.append(_json.dumps(a))
        open(p, "w", encoding="utf-8").write("\n".join(lines) + "\n")
    eng.invalidate_caches()
    # startingTimestamp is INCLUSIVE of the first commit at-or-after the
    # bound (Delta CDF): strictly between v2 (3s) and v3 (4s) → v3 only
    feed = eng.table_changes("t", from_timestamp=3500, to_timestamp=4000)
    rows = feed.collect()
    assert [r["id"] for r in rows] == [5]
    assert rows[0]["_commit_version"] == 3
    # a commit EXACTLY at from_timestamp is included (round-7 advice: the
    # at-or-before-exclusive resolution silently dropped it)
    feed = eng.table_changes("t", from_timestamp=3000, to_timestamp=4000)
    assert sorted(r["_commit_version"] for r in feed.collect()) == [2, 2, 3]
    # a pre-history timestamp serves the feed from the start of retained
    # history instead of raising
    all_rows = eng.table_changes("t", from_timestamp=10).collect()
    # v0's create feeds as inserts; v1 (enable CDF) is metadata-only
    assert {r["_commit_version"] for r in all_rows} == {0, 2, 3}
    # a starting timestamp after the newest commit is out of range
    with pytest.raises(ValueError, match="after the latest"):
        eng.table_changes("t", from_timestamp=10_000)
    with pytest.raises(ValueError, match="from_version or from_timestamp"):
        eng.table_changes("t")
    with pytest.raises(ValueError, match="either from_version"):
        eng.table_changes("t", from_version=1, from_timestamp=1000)


def test_feed_replay_reconstructs_table(cdf_table, spark):
    """End-to-end CDF invariant: applying the whole change feed to an
    empty state — inserts/update_postimages upsert, deletes/preimages
    retract — reconstructs exactly the live table, across appends, DML,
    merge, and an interleaved compaction."""
    eng, path = cdf_table
    eng.write_table(
        "t",
        spark.createDataFrame(
            [(100, 1.0, "A"), (101, 2.0, "B")], "id long, val double, part string"
        ),
        mode="append",
    )
    eng.delete("t", F.col("id") < 3)
    eng.compact_table("t", files_per_partition=1)
    eng.update("t", F.col("id") == 100, {"val": F.lit(42.0)})
    eng.merge(
        "t",
        spark.createDataFrame(
            [(101, 9.0, "B"), (200, 3.0, "A")], "id long, val double, part string"
        ),
        on=["id"],
    )
    feed = eng.table_changes("t", from_version=1).collect()
    state: dict[int, tuple] = {}
    # initial snapshot (v0/v1): the 20 fixture rows
    for i in range(20):
        state[i] = (float(i), "A" if i % 2 == 0 else "B")
    retract = ("delete", "update_preimage")
    for r in sorted(
        feed, key=lambda r: (r["_commit_version"], r["_change_type"] not in retract)
    ):
        if r["_change_type"] in ("delete", "update_preimage"):
            state.pop(r["id"], None)
        else:  # insert / update_postimage
            state[r["id"]] = (r["val"], r["part"])
    want = {
        r["id"]: (r["val"], r["part"]) for r in eng.read_table("t").collect()
    }
    assert state == want


# ---------------------------------------------------------------------------
# DV-writing DML on CDF tables (round-10: CDF no longer forces copy-on-write)
# ---------------------------------------------------------------------------


@pytest.fixture()
def dv_cdf_table(spark, tmp_path):
    """A CDF table upgraded to deletion vectors: the writer-7 protocol
    enumerates BOTH features, and DML takes the DV shape while still
    writing row-exact change files."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, float(i), "A" if i % 2 == 0 else "B") for i in range(20)],
        "id long, val double, part string",
    )
    write_governed_table(spark, df.repartition(2), path, ["part"])  # v0
    eng = Engine(spark, EngineConfig(table_mapping={"t": path}, read_only=False))
    eng.set_table_properties("t", {"delta.enableChangeDataFeed": "true"})  # v1
    eng.enable_deletion_vectors("t")  # v2: (3,7)+deletionVectors+changeDataFeed
    return eng, path


def test_dv_cdf_upgrade_enumerates_both_features(dv_cdf_table):
    eng, path = dv_cdf_table
    proto = deltalog.table_protocol_no_spark(path)
    assert set(proto["writerFeatures"]) == {"deletionVectors", "changeDataFeed"}
    assert proto["readerFeatures"] == ["deletionVectors"]
    assert eng._dv_dml_eligible(path)


def test_dv_delete_writes_change_files(dv_cdf_table):
    eng, path = dv_cdf_table
    files_before = set(deltalog._live_paths_no_spark(path))
    eng.delete("t", F.col("id") < 5)  # v3: DV shape
    # the DV shape rewrote NO data files (same physical set, new DVs)
    assert set(deltalog._live_paths_no_spark(path)) == files_before
    assert any(
        (a.get("deletionVector") or {}).get("storageType")
        for a in deltalog._live_adds_no_spark(path).values()
    )
    rows = eng.table_changes("t", from_version=2, to_version=3).collect()
    assert {r["_change_type"] for r in rows} == {"delete"}
    assert sorted(r["id"] for r in rows) == [0, 1, 2, 3, 4]
    assert all(r["part"] == ("A" if r["id"] % 2 == 0 else "B") for r in rows)
    assert eng.read_table("t").count() == 15


def test_dv_update_writes_pre_and_post_images(dv_cdf_table):
    eng, path = dv_cdf_table
    files_before = set(deltalog._live_paths_no_spark(path))
    eng.update("t", F.col("id") == 6, {"val": F.col("val") * 10})  # v3
    # DV shape: old files survive (DV'd), one appended file carries the row
    assert files_before <= set(deltalog._live_paths_no_spark(path))
    rows = eng.table_changes("t", from_version=2, to_version=3).collect()
    by_type = {r["_change_type"]: r for r in rows}
    assert set(by_type) == {"update_preimage", "update_postimage"}
    assert by_type["update_preimage"]["val"] == 6.0
    assert by_type["update_postimage"]["val"] == 60.0
    assert eng.read_table("t").filter(F.col("id") == 6).collect()[0]["val"] == 60.0


def test_dv_merge_feed_types(dv_cdf_table, spark):
    eng, path = dv_cdf_table
    src = spark.createDataFrame(
        [(3, 99.0, "B"), (100, 1.0, "A")], "id long, val double, part string"
    )
    eng.merge("t", src, on=["id"])  # v3: DV shape (mark matched, append all)
    rows = eng.table_changes("t", from_version=2, to_version=3).collect()
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r["_change_type"], []).append(r)
    assert [r["id"] for r in by_type["insert"]] == [100]
    assert [r["id"] for r in by_type["update_preimage"]] == [3]
    assert by_type["update_preimage"][0]["val"] == 3.0
    assert [r["id"] for r in by_type["update_postimage"]] == [3]
    assert by_type["update_postimage"][0]["val"] == 99.0
    assert eng.read_table("t").count() == 21


def test_dv_cdf_feed_replay_reconstructs_table(dv_cdf_table, spark):
    """Replaying the full change feed (insert - delete + postimages) must
    reconstruct the DV table exactly — the invariant that certifies the
    DV-shaped change files are row-exact."""
    eng, path = dv_cdf_table
    eng.delete("t", F.col("id") % 7 == 1)  # v3
    eng.update("t", F.col("id") == 4, {"val": F.lit(400.0)})  # v4
    src = spark.createDataFrame(
        [(2, -2.0, "A"), (200, 0.5, "A")], "id long, val double, part string"
    )
    eng.merge("t", src, on=["id"])  # v5
    feed = eng.table_changes("t", from_version=2).collect()
    state: dict[int, tuple] = {
        r["id"]: (r["val"], r["part"]) for r in eng.read_table("t", version=2).collect()
    }
    # removals apply before additions within each commit
    for r in sorted(feed, key=lambda r: (r["_commit_version"],
                                         r["_change_type"] in ("update_postimage", "insert"))):
        if r["_change_type"] in ("delete", "update_preimage"):
            state.pop(r["id"], None)
        if r["_change_type"] in ("insert", "update_postimage"):
            state[r["id"]] = (r["val"], r["part"])
    actual = {
        r["id"]: (r["val"], r["part"]) for r in eng.read_table("t").collect()
    }
    assert state == actual


@pytest.mark.full
def test_streaming_change_feed_over_dv_commits(dv_cdf_table, spark, tmp_path):
    """readChangeFeed streaming over DV-shaped DML (round-10): a DV DELETE
    commit serves its cdc change files as authoritative (previously any DV
    commit in the window refused as non-derivable), and the untouched data
    files are never re-fed."""
    eng, path = dv_cdf_table
    from delta_lake_proxy_spark.sources.governed import GovernedDataSource

    spark.dataSource.register(GovernedDataSource)
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    def run_once():
        q = (
            spark.readStream.format("governed")
            .option("path", path)
            .option("readChangeFeed", "true")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out)

    got = run_once()  # bootstrap
    n_boot = got.count()
    assert n_boot == 20
    eng.delete("t", F.col("id") < 4)  # DV shape + cdc files
    got = run_once()
    dels = got.filter(F.col("_change_type") == "delete").collect()
    assert sorted(r["id"] for r in dels) == [0, 1, 2, 3]
    # exactly the 4 change rows arrived — no file re-feed alongside them
    assert got.count() == n_boot + 4
    eng.update("t", F.col("id") == 8, {"val": F.lit(80.0)})  # DV shape
    got = run_once()
    ups = {
        r["_change_type"]: r["val"]
        for r in got.filter(F.col("id") == 8).collect()
        if r["_change_type"].startswith("update")
    }
    assert ups == {"update_preimage": 8.0, "update_postimage": 80.0}
