"""Delta protocol version/feature gating (round-7 verdict item 1).

The reference delegates reads to ``deltalake::open_table`` (src/main.rs:357),
which refuses tables whose ``protocol.minReaderVersion`` it cannot honor.
These tests pin the same refusal through EVERY replay path of this engine:
a column-mapping (reader 2) or deletion-vector (reader 3) table must raise
``UnsupportedProtocolError`` — never silently mis-read — and commits into
tables demanding ``minWriterVersion`` > 2 (or writer features) must refuse,
never corrupt.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from delta_lake_proxy_spark import Engine, EngineConfig, deltalog
from delta_lake_proxy_spark.errors import UnsupportedProtocolError

SCHEMA_STRING = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}},
            {"name": "part", "type": "string", "nullable": True, "metadata": {}},
        ],
    }
)


def _write_parquet(full_path: str, ids: list[int]) -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(full_path), exist_ok=True)
    pq.write_table(pa.table({"id": pa.array(ids, type=pa.int64())}), full_path)
    return os.path.getsize(full_path)


def make_table(root: str, protocol: dict, extra_meta_conf: dict | None = None) -> str:
    """A minimal foreign delta table whose version-0 commit carries the given
    ``protocol`` action (and optionally a metaData ``configuration``)."""
    rel = "part=A/part-00000.parquet"
    size = _write_parquet(os.path.join(root, rel), [1, 2, 3])
    logd = os.path.join(root, "_delta_log")
    os.makedirs(logd, exist_ok=True)
    actions = [
        {"commitInfo": {"timestamp": 1700000000000, "operation": "WRITE"}},
        {"protocol": protocol},
        {
            "metaData": {
                "id": "p-test",
                "format": {"provider": "parquet"},
                "schemaString": SCHEMA_STRING,
                "partitionColumns": ["part"],
                "configuration": extra_meta_conf or {},
                "createdTime": 1700000000000,
            }
        },
        {
            "add": {
                "path": rel,
                "partitionValues": {"part": "A"},
                "size": size,
                "modificationTime": 1700000000000,
                "dataChange": True,
            }
        },
    ]
    with open(os.path.join(logd, "00000000000000000000.json"), "w", encoding="utf-8") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    return root


READER2 = {"minReaderVersion": 2, "minWriterVersion": 5}
READER3 = {
    "minReaderVersion": 3,
    "minWriterVersion": 7,
    "readerFeatures": ["deletionVectors"],
    "writerFeatures": ["deletionVectors"],
}
# a reader feature this engine genuinely does not implement: must refuse
# with the generic unknown-feature message (catalog-managed tables get a
# NAMED refusal instead — test_catalog_managed_named_refusal below)
READER3_UNKNOWN = {
    "minReaderVersion": 3,
    "minWriterVersion": 7,
    "readerFeatures": ["someFutureFeature"],
    "writerFeatures": ["someFutureFeature"],
}
WRITER7 = {"minReaderVersion": 1, "minWriterVersion": 7}
WRITER_FEATS = {
    "minReaderVersion": 1,
    "minWriterVersion": 7,
    "writerFeatures": ["rowTracking"],
}
SUPPORTED = {"minReaderVersion": 1, "minWriterVersion": 2}


@pytest.fixture(params=["reader2_unknown_mode", "reader3_unknown"])
def unreadable_table(request, tmp_path):
    """Still-unreadable protocols: a columnMapping MODE beyond name/id
    (both of which are now read-supported — test_column_mapping.py), and
    reader-3 features beyond the implemented set (deletion vectors are
    READ-supported too, see test_deletion_vectors.py)."""
    proto = READER2 if request.param == "reader2_unknown_mode" else READER3_UNKNOWN
    conf = (
        {"delta.columnMapping.mode": "hybrid"}
        if request.param == "reader2_unknown_mode"
        else None
    )
    return make_table(str(tmp_path / "t"), proto, conf)


def test_reader3_dv_table_is_readable(spark, tmp_path):
    """A reader-3 table whose only demanded feature is deletionVectors now
    opens (and with no DVs present reads all rows unchanged)."""
    path = make_table(str(tmp_path / "t"), READER3)
    eng = Engine(spark, EngineConfig(table_mapping={"t": path}))
    assert eng.read_table("t").count() == 3


def test_protocol_resolver(tmp_path):
    path = make_table(str(tmp_path / "t"), READER3)
    proto = deltalog.table_protocol_no_spark(path)
    assert proto["minReaderVersion"] == 3
    assert proto["readerFeatures"] == ["deletionVectors"]


def test_unreadable_snapshot_files(spark, unreadable_table):
    with pytest.raises(UnsupportedProtocolError, match="minReaderVersion"):
        deltalog.snapshot_files(spark, unreadable_table).collect()


def test_unreadable_driver_replay(unreadable_table):
    with pytest.raises(UnsupportedProtocolError):
        deltalog._live_adds_no_spark(unreadable_table)


def test_unreadable_metadata(unreadable_table):
    with pytest.raises(UnsupportedProtocolError):
        deltalog.table_metadata_no_spark(unreadable_table)


def test_unreadable_engine_read(spark, unreadable_table):
    eng = Engine(spark, EngineConfig(table_mapping={"t": unreadable_table}))
    with pytest.raises(UnsupportedProtocolError):
        eng.read_table("t").collect()


def test_unreadable_governed_source(spark, unreadable_table):
    from delta_lake_proxy_spark.sources.governed import GovernedDataSource

    spark.dataSource.register(GovernedDataSource)
    with pytest.raises(Exception, match="[Uu]nsupported Delta protocol"):
        spark.read.format("governed").option("path", unreadable_table).load().collect()


def test_unwritable_commit_refused(tmp_path):
    path = make_table(str(tmp_path / "t"), WRITER7)
    # readable (reader 1) ...
    assert len(deltalog._live_adds_no_spark(path)) == 1
    # ... but a commit must refuse, not corrupt
    with pytest.raises(UnsupportedProtocolError, match="minWriterVersion"):
        deltalog.write_commit(path, adds=[], removes=[{"path": "x"}])


def test_writer_features_refused(tmp_path):
    """rowTracking refuses RAW commits: ``deltalog.write_commit`` without
    ``row_tracking_assign`` cannot prove the fresh-baseRowId obligation
    (the Engine write paths pass it and ARE allowed —
    tests/test_row_tracking.py pins the positive path). The feature-form
    of the LEGACY capabilities behaves like their version forms:
    checkConstraints with a declared constraint refuses raw commits
    (cannot prove validation) but is vacuous when none is declared."""
    path = make_table(str(tmp_path / "t"), WRITER_FEATS)
    with pytest.raises(UnsupportedProtocolError, match="rowTracking"):
        deltalog.write_commit(path, adds=[], removes=[{"path": "x"}])
    cc = make_table(
        str(tmp_path / "cc"),
        {
            "minReaderVersion": 1,
            "minWriterVersion": 7,
            "writerFeatures": ["checkConstraints"],
        },
        {"delta.constraints.pos": "id > 0"},
    )
    with pytest.raises(UnsupportedProtocolError):
        deltalog.write_commit(cc, adds=[], removes=[{"path": "x"}])
    # without a declared constraint the feature is vacuously honored
    vac = make_table(
        str(tmp_path / "vac"),
        {
            "minReaderVersion": 1,
            "minWriterVersion": 7,
            "writerFeatures": ["checkConstraints"],
        },
    )
    deltalog.write_commit(vac, adds=[], removes=[])


def test_unwritable_engine_dml(spark, tmp_path):
    path = make_table(str(tmp_path / "t"), WRITER7)
    eng = Engine(spark, EngineConfig(table_mapping={"t": path}, read_only=False))
    assert eng.read_table("t").count() == 3  # reads stay fine
    with pytest.raises(UnsupportedProtocolError):
        eng.delete("t", F.col("id") == 1)


def test_supported_protocol_fully_functional(spark, tmp_path):
    path = make_table(str(tmp_path / "t"), SUPPORTED)
    eng = Engine(spark, EngineConfig(table_mapping={"t": path}, read_only=False))
    assert eng.read_table("t").count() == 3
    eng.delete("t", F.col("id") == 1)
    assert eng.read_table("t").count() == 2


def test_protocol_upgrade_detected_after_checkpoint(spark, tmp_path):
    """An upgrade commit AFTER version 0 wins (newest protocol), and survives
    log cleanup via the checkpoint fallback. A reader-2 table WITHOUT
    column mapping demands nothing beyond reader-1 semantics and stays
    readable, as does reader-3 with deletionVectors; an unknown reader-3
    feature refuses."""
    path = make_table(str(tmp_path / "t"), SUPPORTED)
    with open(
        os.path.join(path, "_delta_log", "00000000000000000001.json"),
        "w",
        encoding="utf-8",
    ) as f:
        f.write(json.dumps({"commitInfo": {"timestamp": 1, "operation": "UPGRADE"}}) + "\n")
        f.write(json.dumps({"protocol": READER2}) + "\n")
    assert len(deltalog._live_adds_no_spark(path)) == 1  # reader 2, no mapping
    with open(
        os.path.join(path, "_delta_log", "00000000000000000002.json"),
        "w",
        encoding="utf-8",
    ) as f:
        f.write(json.dumps({"protocol": READER3}) + "\n")
    assert len(deltalog._live_adds_no_spark(path)) == 1  # DV feature: readable
    with open(
        os.path.join(path, "_delta_log", "00000000000000000003.json"),
        "w",
        encoding="utf-8",
    ) as f:
        f.write(json.dumps({"protocol": READER3_UNKNOWN}) + "\n")
    with pytest.raises(UnsupportedProtocolError):
        deltalog._live_adds_no_spark(path)


def test_append_only_table_refuses_removes(spark, tmp_path):
    """Writer protocol 2 semantics, HONORED not just version-gated: a table
    with delta.appendOnly=true accepts appends but refuses every
    remove-carrying commit (DELETE/overwrite/compaction)."""
    path = make_table(
        str(tmp_path / "t"), SUPPORTED, extra_meta_conf={"delta.appendOnly": "true"}
    )
    rel = "part=A/part-00001.parquet"
    _write_parquet(os.path.join(path, rel), [9])
    v = deltalog.write_commit(
        path,
        [{"path": rel, "partitionValues": {"part": "A"}, "size": 1, "modificationTime": 1}],
    )
    assert v == 1  # appends fine
    with pytest.raises(ValueError, match="appendOnly"):
        deltalog.write_commit(path, [], [{"path": rel}])
    # no .tmp debris left in the log directory after the refused commit
    logd = os.path.join(path, "_delta_log")
    assert not [n for n in os.listdir(logd) if n.endswith(".tmp")]
    # engine-level DML refuses too
    eng = Engine(spark, EngineConfig(table_mapping={"t": path}, read_only=False))
    with pytest.raises(ValueError, match="appendOnly"):
        eng.delete("t", F.col("id") == 1)


def test_table_properties_survive_commits_and_cleanup(spark, tmp_path):
    """metaData.configuration must be CARRIED, not stripped: a
    schema-re-emitting append, a checkpoint, and log cleanup all preserve
    delta.appendOnly — the remove refusal still fires afterwards."""
    path = make_table(
        str(tmp_path / "t"), SUPPORTED, extra_meta_conf={"delta.appendOnly": "true"}
    )
    rel = "part=A/part-00001.parquet"
    _write_parquet(os.path.join(path, rel), [9])
    # schema-carrying commit (metaData re-emitted): property carried forward
    deltalog.write_commit(
        path,
        [{"path": rel, "partitionValues": {"part": "A"}, "size": 1, "modificationTime": 1}],
        schema_json=SCHEMA_STRING,
        partition_cols=["part"],
    )
    assert deltalog.check_append_only(path)
    # checkpoint + cleanup: the checkpoint's metaData carries it
    deltalog.write_checkpoint(spark, path)
    deltalog.cleanup_log(path, retention_hours=0.0)
    assert deltalog.check_append_only(path)
    with pytest.raises(ValueError, match="appendOnly"):
        deltalog.write_commit(path, [], [{"path": rel}])


WRITER3 = {"minReaderVersion": 1, "minWriterVersion": 3}


def test_check_constraints_enforced_on_engine_writes(spark, tmp_path):
    """Writer protocol 3 (CHECK constraints) is SUPPORTED through the Engine
    write path: declared delta.constraints.* are validated on every written
    row-set (violations reject the write), raw log-level commits are refused
    (they cannot prove validation), and DML keeps working when rows stay
    valid."""
    path = make_table(
        str(tmp_path / "t"),
        WRITER3,
        extra_meta_conf={"delta.constraints.positive_id": "id > 0"},
    )
    eng = Engine(spark, EngineConfig(table_mapping={"t": path}, read_only=False))
    assert eng.read_table("t").count() == 3  # reads unaffected (reader 1)

    good = spark.createDataFrame([(7, "A")], "id long, part string")
    eng.write_table("t", good, mode="append")
    assert eng.read_table("t").count() == 4

    bad = spark.createDataFrame([(-1, "A")], "id long, part string")
    with pytest.raises(ValueError, match="positive_id"):
        eng.write_table("t", bad, mode="append")
    # null passes (SQL CHECK semantics)
    nullrow = spark.createDataFrame([(None, "A")], "id long, part string")
    eng.write_table("t", nullrow, mode="append")

    # UPDATE that would break the constraint is rejected; a valid one lands
    with pytest.raises(ValueError, match="positive_id"):
        eng.update("t", F.col("id") == 7, {"id": F.lit(-7)})
    eng.update("t", F.col("id") == 7, {"id": F.lit(70)})
    assert eng.read_table("t").filter("id = 70").count() == 1

    # raw commits cannot prove validation -> refused while constraints exist
    with pytest.raises(UnsupportedProtocolError, match="minWriterVersion=3"):
        deltalog.write_commit(path, [{"path": "x", "partitionValues": {}, "size": 1}])


def test_writer3_without_constraints_is_writable(tmp_path):
    """A writer-3 table with NO declared constraints is vacuously compliant:
    raw commits pass the gate."""
    path = make_table(str(tmp_path / "t"), WRITER3)
    rel = "part=A/part-00001.parquet"
    _write_parquet(os.path.join(path, rel), [5])
    v = deltalog.write_commit(
        path, [{"path": rel, "partitionValues": {"part": "A"}, "size": 1}]
    )
    assert v == 1


def test_describe_and_property_management(spark, tmp_path, lineitem):
    """DESCRIBE DETAIL + SET TBLPROPERTIES + ADD CONSTRAINT round-trip on
    an engine-created table."""
    from delta_lake_proxy_spark.engine import write_governed_table

    path = str(tmp_path / "t")
    write_governed_table(
        spark, lineitem.limit(100).repartition(1), path, ["l_returnflag"]
    )
    eng = Engine(spark, EngineConfig(table_mapping={"t": path}, read_only=False))
    d = eng.describe_table("t").collect()[0]
    assert d["format"] == "parquet" and d["location"] == path
    assert d["partitionColumns"] == ["l_returnflag"]
    assert d["numFiles"] >= 1 and d["sizeInBytes"] > 0
    # lineitem's l_shipdate is TIMESTAMP_NTZ, so creation DECLARES the
    # timestampNtz feature (spec: types may only be used under a declared
    # feature — round 11; previously the fixture was silently (1,2))
    assert d["minReaderVersion"] == 3 and d["minWriterVersion"] == 7

    eng.set_table_properties("t", {"delta.appendOnly": "false", "team": "data"})
    assert deltalog.table_configuration_no_spark(path)["team"] == "data"
    eng.set_table_properties("t", {}, unset=["team"])
    assert "team" not in deltalog.table_configuration_no_spark(path)
    with pytest.raises(ValueError, match="add_check_constraint"):
        eng.set_table_properties("t", {"delta.constraints.x": "l_quantity > 0"})

    # existing rows satisfy qty > 0 -> constraint lands and then ENFORCES
    eng.add_check_constraint("t", "qty_pos", "l_quantity > 0")
    assert (
        deltalog.declared_constraints(path)["qty_pos"] == "l_quantity > 0"
    )
    bad = eng.read_table("t").limit(1).withColumn("l_quantity", F.lit(-5.0))
    with pytest.raises(ValueError, match="qty_pos"):
        eng.write_table("t", bad, mode="append")
    # a constraint existing rows violate is refused up front
    with pytest.raises(ValueError, match="existing"):
        eng.add_check_constraint("t", "impossible", "l_quantity > 1e9")
    # describe surfaces the property map
    props = eng.describe_table("t").collect()[0]["properties"]
    assert props["delta.constraints.qty_pos"] == "l_quantity > 0"


def test_blind_append_conflicts_on_concurrent_rule_change(tmp_path):
    """A blind append that loses the version race to a commit that CHANGED
    the table's configuration (concurrent ADD CONSTRAINT / appendOnly flip)
    must conflict, not retry with stale validation; losing to a plain
    same-config append still retries cleanly."""
    from unittest import mock

    path = make_table(str(tmp_path / "t"), SUPPORTED)
    rel = "part=A/part-00001.parquet"
    _write_parquet(os.path.join(path, rel), [5])

    # winner: a config-changing metaData commit
    deltalog.write_commit(
        path,
        [],
        [],
        schema_json=SCHEMA_STRING,
        partition_cols=["part"],
        configuration={"delta.constraints.pos": "id > 0"},
        enforced_constraints=True,
    )
    real = deltalog.latest_version

    def stale_once(p):
        stale_once.n += 1
        return real(p) - 1 if stale_once.n == 1 else real(p)

    stale_once.n = 0
    with mock.patch.object(deltalog, "latest_version", stale_once):
        with pytest.raises(deltalog.ConcurrentWriteError):
            # our gates saw the PRE-constraint config; the race must surface
            deltalog.write_commit(
                path,
                [{"path": rel, "partitionValues": {"part": "A"}, "size": 1}],
                configuration={},
                enforced_constraints=True,
            )

    # losing to a plain append (same config) retries fine
    v_now = real(path)
    stale_once.n = 0
    with mock.patch.object(deltalog, "latest_version", stale_once):
        v = deltalog.write_commit(
            path,
            [{"path": rel, "partitionValues": {"part": "A"}, "size": 1}],
            configuration={"delta.constraints.pos": "id > 0"},
            enforced_constraints=True,
        )
    assert v == v_now + 1


def test_governed_writer_refuses_constraint_tables(spark, tmp_path):
    from delta_lake_proxy_spark.sources.governed import GovernedDataSource

    path = make_table(
        str(tmp_path / "t"),
        WRITER3,
        extra_meta_conf={"delta.constraints.positive_id": "id > 0"},
    )
    spark.dataSource.register(GovernedDataSource)
    df = spark.createDataFrame([(7, "A")], "id long, part string")
    with pytest.raises(Exception, match="CHECK constraints"):
        df.write.format("governed").option("path", path).mode("append").save()


def test_parse_interval_hours():
    assert deltalog.parse_interval_hours("interval 7 days") == 168.0
    assert deltalog.parse_interval_hours("interval 168 hours") == 168.0
    assert deltalog.parse_interval_hours("2 weeks") == 336.0
    assert deltalog.parse_interval_hours("interval 30 minutes") == 0.5
    assert deltalog.parse_interval_hours("interval 0 hours") == 0.0
    assert deltalog.parse_interval_hours(None) is None
    assert deltalog.parse_interval_hours("garbage") is None


def test_retention_properties_govern_maintenance(spark, tmp_path):
    """delta.deletedFileRetentionDuration / delta.logRetentionDuration /
    delta.checkpointInterval on the TABLE govern vacuum, cleanup_log, and
    auto-checkpointing when the caller passes no explicit values."""
    import shutil

    path = make_table(
        str(tmp_path / "t"),
        SUPPORTED,
        extra_meta_conf={
            "delta.deletedFileRetentionDuration": "interval 0 hours",
            "delta.logRetentionDuration": "interval 0 hours",
            "delta.checkpointInterval": "2",
        },
    )
    eng = Engine(
        spark,
        EngineConfig(table_mapping={"t": path}, read_only=False, checkpoint_interval=0),
    )
    # orphan a file, then default-args vacuum reclaims it IMMEDIATELY
    # because the table property sets retention to zero
    orphan = os.path.join(path, "part=A", "orphan.parquet")
    shutil.copyfile(os.path.join(path, "part=A", "part-00000.parquet"), orphan)
    assert eng.vacuum("t") == 1
    assert not os.path.exists(orphan)
    # two appends: delta.checkpointInterval=2 fires at version 2 even though
    # the ENGINE's own interval is disabled
    df = eng.read_table("t").limit(1)
    eng.write_table("t", df, mode="append")
    assert deltalog.last_checkpoint(path) is None
    eng.write_table("t", df, mode="append")
    ck = deltalog.last_checkpoint(path)
    assert ck is not None and int(ck["version"]) == 2
    # default-args cleanup_log prunes immediately (property zero retention)
    assert eng.cleanup_log("t") > 0
    assert eng.read_table("t").count() == 5  # snapshot intact post-cleanup


def test_invariants_table_refuses_writes(tmp_path):
    """Writer protocol 2 requires ENFORCING column invariants on every
    written row. The Engine write paths do (round 10 — tests/
    test_invariants.py); RAW commit paths cannot prove per-row validation,
    so a table declaring delta.invariants must refuse them instead of
    silently violating the constraint."""
    import json as _json

    schema = _json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": "id",
                    "type": "long",
                    "nullable": True,
                    "metadata": {
                        "delta.invariants": '{"expression":{"expression":"id > 0"}}'
                    },
                },
                {"name": "part", "type": "string", "nullable": True, "metadata": {}},
            ],
        }
    )
    root = str(tmp_path / "t")
    rel = "part=A/part-00000.parquet"
    _write_parquet(os.path.join(root, rel), [1])
    logd = os.path.join(root, "_delta_log")
    os.makedirs(logd)
    with open(os.path.join(logd, "00000000000000000000.json"), "w", encoding="utf-8") as f:
        f.write(json.dumps({"protocol": SUPPORTED}) + "\n")
        f.write(
            json.dumps(
                {
                    "metaData": {
                        "id": "inv",
                        "format": {"provider": "parquet"},
                        "schemaString": schema,
                        "partitionColumns": ["part"],
                        "createdTime": 1,
                    }
                }
            )
            + "\n"
        )
        f.write(
            json.dumps(
                {
                    "add": {
                        "path": rel,
                        "partitionValues": {"part": "A"},
                        "size": 1,
                        "modificationTime": 1,
                        "dataChange": True,
                    }
                }
            )
            + "\n"
        )
    # readable...
    assert len(deltalog._live_adds_no_spark(root)) == 1
    # ...but unwritable: we cannot enforce the declared invariant
    with pytest.raises(UnsupportedProtocolError, match="delta.invariants"):
        deltalog.write_commit(root, [{"path": "x", "partitionValues": {}, "size": 1}])


def _stream_with_upgrade(spark, tmp_path, upgrade_proto: dict):
    from delta_lake_proxy_spark.sources.governed import GovernedStreamReader
    from pyspark.sql import types as T

    path = make_table(str(tmp_path / "t"), SUPPORTED)
    reader = GovernedStreamReader(
        T.StructType.fromJson(json.loads(SCHEMA_STRING)), {"path": path}
    )
    assert len(reader.partitions({"version": -1}, {"version": 0})) == 1
    rel = "part=A/part-00001.parquet"
    size = _write_parquet(os.path.join(path, rel), [9])
    with open(
        os.path.join(path, "_delta_log", "00000000000000000001.json"),
        "w",
        encoding="utf-8",
    ) as f:
        f.write(json.dumps({"protocol": upgrade_proto}) + "\n")
        f.write(
            json.dumps(
                {
                    "add": {
                        "path": rel,
                        "partitionValues": {"part": "A"},
                        "size": size,
                        "modificationTime": 1,
                        "dataChange": True,
                    }
                }
            )
            + "\n"
        )
    return reader


def test_mid_stream_protocol_upgrade_stops_stream(spark, tmp_path):
    """An upgrade commit demanding an UNIMPLEMENTED reader capability inside
    an incremental window must fail the stream reader, not be skipped."""
    reader = _stream_with_upgrade(spark, tmp_path, READER3_UNKNOWN)
    with pytest.raises(UnsupportedProtocolError):
        reader.partitions({"version": 0}, {"version": 1})


def test_mid_stream_dv_upgrade_continues(spark, tmp_path):
    """An upgrade WITHIN the supported surface (deletionVectors) does not
    stop the stream — the partitions apply DVs file-locally."""
    reader = _stream_with_upgrade(spark, tmp_path, READER3)
    assert len(reader.partitions({"version": 0}, {"version": 1})) == 1


# -- writer-4 generated columns HONORED on the Engine write path (round 7) --

GEN_SCHEMA = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}},
            {"name": "part", "type": "string", "nullable": True, "metadata": {}},
            {
                "name": "twice",
                "type": "long",
                "nullable": True,
                "metadata": {"delta.generationExpression": "id * 2"},
            },
        ],
    }
)


def _gen_table(tmp_path, extra_conf=None):
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "gen")
    rel = "part=A/part-00000.parquet"
    full = os.path.join(root, rel)
    os.makedirs(os.path.dirname(full), exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "id": pa.array([1, 2], type=pa.int64()),
                "twice": pa.array([2, 4], type=pa.int64()),
            }
        ),
        full,
    )
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}},
        {
            "metaData": {
                "id": "gen-test",
                "format": {"provider": "parquet"},
                "schemaString": GEN_SCHEMA,
                "partitionColumns": ["part"],
                "configuration": extra_conf or {},
                "createdTime": 1700000000000,
            }
        },
        {
            "add": {
                "path": rel,
                "partitionValues": {"part": "A"},
                "size": os.path.getsize(full),
                "modificationTime": 1700000000000,
                "dataChange": True,
            }
        },
    ]
    logd = os.path.join(root, "_delta_log")
    os.makedirs(logd, exist_ok=True)
    with open(os.path.join(logd, "00000000000000000000.json"), "w", encoding="utf-8") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    return root


def test_generated_column_computed_on_append(spark, tmp_path):
    path = _gen_table(tmp_path)
    eng = Engine(spark, EngineConfig(table_mapping={"t": path}, read_only=False))
    df = spark.createDataFrame([(5, "B")], "id long, part string")  # no 'twice'
    v = eng.write_table("t", df, mode="append")
    assert v == 1
    eng.invalidate_caches()
    rows = {r["id"]: r for r in eng.read_table("t").collect()}
    assert rows[5]["twice"] == 10 and rows[5]["part"] == "B"
    assert rows[1]["twice"] == 2  # original rows intact


def test_generated_column_validated_when_provided(spark, tmp_path):
    path = _gen_table(tmp_path)
    eng = Engine(spark, EngineConfig(table_mapping={"t": path}, read_only=False))
    ok = spark.createDataFrame([(7, "B", 14)], "id long, part string, twice long")
    eng.write_table("t", ok, mode="append")
    bad = spark.createDataFrame([(8, "B", 99)], "id long, part string, twice long")
    with pytest.raises(ValueError, match="generated column"):
        eng.write_table("t", bad, mode="append")


def test_generated_column_raw_commit_refused(tmp_path):
    path = _gen_table(tmp_path)
    with pytest.raises(UnsupportedProtocolError, match="generat|minWriterVersion"):
        deltalog.write_commit(path, adds=[], removes=[{"path": "x"}])


def test_writer4_cdf_enabled_append_derives_raw_refuses(spark, tmp_path):
    """Since the round-7 CDF work, an ENGINE append to a CDF-enabled
    writer-4 table is legitimate (inserts derive from dataChange adds, no
    change files needed) — and the generated column still computes. A raw
    log-level commit cannot prove CDF handling and keeps refusing."""
    path = _gen_table(tmp_path, extra_conf={"delta.enableChangeDataFeed": "true"})
    eng = Engine(spark, EngineConfig(table_mapping={"t": path}, read_only=False))
    df = spark.createDataFrame([(5, "B")], "id long, part string")
    eng.write_table("t", df, mode="append")
    feed = eng.table_changes("t", from_version=0).collect()
    assert [(r["_change_type"], r["id"], r["twice"]) for r in feed] == [
        ("insert", 5, 10)
    ]
    with pytest.raises(UnsupportedProtocolError):
        deltalog.write_commit(path, adds=[], removes=[{"path": "x"}])


# -- timestampNtz reader feature (round 7) ----------------------------------


def test_timestamp_ntz_table_readable(spark, tmp_path):
    """Reader-3 feature timestampNtz: schemaString timestamp_ntz fields map
    to Spark's TimestampNTZType and read natively through the engine and
    the governed source."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "ntz")
    rel = "part-00000.parquet"
    os.makedirs(root, exist_ok=True)
    ts = [datetime.datetime(2024, 1, 1, 12, 0, i) for i in range(3)]
    pq.write_table(
        pa.table(
            {
                "id": pa.array([1, 2, 3], type=pa.int64()),
                "ts": pa.array(ts, type=pa.timestamp("us")),  # no timezone: NTZ
            }
        ),
        os.path.join(root, rel),
    )
    schema_string = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True, "metadata": {}},
                {"name": "ts", "type": "timestamp_ntz", "nullable": True, "metadata": {}},
            ],
        }
    )
    logd = os.path.join(root, "_delta_log")
    os.makedirs(logd, exist_ok=True)
    actions = [
        {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["timestampNtz"],
                "writerFeatures": ["timestampNtz"],
            }
        },
        {
            "metaData": {
                "id": "ntz-test",
                "format": {"provider": "parquet"},
                "schemaString": schema_string,
                "partitionColumns": [],
                "configuration": {},
                "createdTime": 1700000000000,
            }
        },
        {
            "add": {
                "path": rel,
                "partitionValues": {},
                "size": os.path.getsize(os.path.join(root, rel)),
                "modificationTime": 1700000000000,
                "dataChange": True,
            }
        },
    ]
    with open(os.path.join(logd, "00000000000000000000.json"), "w", encoding="utf-8") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    eng = Engine(spark, EngineConfig(table_mapping={"t": root}))
    df = eng.read_table("t")
    assert str(df.schema["ts"].dataType) == "TimestampNTZType()"
    rows = sorted((r["id"], r["ts"]) for r in df.collect())
    assert rows[0] == (1, ts[0]) and rows[2][1] == ts[2]
    # governed source too
    from delta_lake_proxy_spark.sources.governed import GovernedDataSource

    spark.dataSource.register(GovernedDataSource)
    got = spark.read.format("governed").option("path", root).load().collect()
    assert sorted(r["id"] for r in got) == [1, 2, 3]
    assert sorted(r["ts"] for r in got)[1] == ts[1]
    # writes land (round 11: timestampNtz's writer obligation is native
    # type support, which every engine write path has — the feature is
    # stripped at the gate like appendOnly)
    assert deltalog.write_commit(root, adds=[], removes=[{"path": "x"}]) == 1


# -- v2 checkpoints (round 7): uuid-named main file + sidecars --------------


def make_v2_checkpoint_table(root: str) -> str:
    """A foreign table whose snapshot at v1 is captured by a V2 CHECKPOINT:
    uuid-named main parquet holding checkpointMetadata/protocol/metaData
    plus ``sidecar`` actions; the add state lives in two sidecar files
    under ``_delta_log/_sidecars/``. The pre-checkpoint JSON commits are
    DELETED, so every read must resolve through the v2 layout."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rels = {}
    for i, rel in enumerate(
        ["part-a.parquet", "part-b.parquet", "part-c.parquet"]
    ):
        rels[rel] = _write_parquet(os.path.join(root, rel), [i * 10, i * 10 + 1])
    schema_string = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True, "metadata": {}}
            ],
        }
    )
    logd = os.path.join(root, "_delta_log")
    sidecars = os.path.join(logd, "_sidecars")
    os.makedirs(sidecars, exist_ok=True)

    add_type = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
        ]
    )

    def add_rows(names):
        return pa.array(
            [
                {
                    "path": r,
                    "partitionValues": [],
                    "size": rels[r],
                    "modificationTime": 1700000000000,
                    "dataChange": True,
                }
                for r in names
            ],
            type=add_type,
        )

    pq.write_table(
        pa.table({"add": add_rows(["part-a.parquet"])}),
        os.path.join(sidecars, "sc-1.parquet"),
    )
    pq.write_table(
        pa.table({"add": add_rows(["part-b.parquet", "part-c.parquet"])}),
        os.path.join(sidecars, "sc-2.parquet"),
    )

    proto_type = pa.struct(
        [
            ("minReaderVersion", pa.int32()),
            ("minWriterVersion", pa.int32()),
            ("readerFeatures", pa.list_(pa.string())),
            ("writerFeatures", pa.list_(pa.string())),
        ]
    )
    meta_type = pa.struct(
        [
            ("id", pa.string()),
            ("format", pa.struct([("provider", pa.string())])),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", pa.map_(pa.string(), pa.string())),
            ("createdTime", pa.int64()),
        ]
    )
    side_type = pa.struct(
        [("path", pa.string()), ("sizeInBytes", pa.int64()), ("modificationTime", pa.int64())]
    )
    ckmeta_type = pa.struct([("version", pa.int64())])
    proto_val = {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": ["v2Checkpoint"],
        "writerFeatures": ["v2Checkpoint"],
    }
    meta_val = {
        "id": "v2-test",
        "format": {"provider": "parquet"},
        "schemaString": schema_string,
        "partitionColumns": [],
        "configuration": [],
        "createdTime": 1700000000000,
    }
    rows = {
        "checkpointMetadata": pa.array([{"version": 1}, None, None, None, None], type=ckmeta_type),
        "protocol": pa.array([None, proto_val, None, None, None], type=proto_type),
        "metaData": pa.array([None, None, meta_val, None, None], type=meta_type),
        "sidecar": pa.array(
            [
                None,
                None,
                None,
                {"path": "sc-1.parquet", "sizeInBytes": 1, "modificationTime": 1},
                {"path": "sc-2.parquet", "sizeInBytes": 1, "modificationTime": 1},
            ],
            type=side_type,
        ),
    }
    pq.write_table(
        pa.table(rows),
        os.path.join(logd, "00000000000000000001.checkpoint.80a083e8.parquet"),
    )
    with open(os.path.join(logd, "_last_checkpoint"), "w", encoding="utf-8") as f:
        f.write(json.dumps({"version": 1, "size": 5}))
    # post-checkpoint JSON commit: one more file (composition check)
    rel_d = "part-d.parquet"
    size_d = _write_parquet(os.path.join(root, rel_d), [100])
    with open(os.path.join(logd, "00000000000000000002.json"), "w", encoding="utf-8") as f:
        f.write(
            json.dumps(
                {
                    "add": {
                        "path": rel_d,
                        "partitionValues": {},
                        "size": size_d,
                        "modificationTime": 1700000000500,
                        "dataChange": True,
                    }
                }
            )
            + "\n"
        )
    return root


def test_v2_checkpoint_reads(spark, tmp_path):
    root = make_v2_checkpoint_table(str(tmp_path / "t"))
    # driver-side replay resolves main + sidecars
    live = deltalog._live_adds_no_spark(root)
    assert sorted(live) == [
        "part-a.parquet", "part-b.parquet", "part-c.parquet", "part-d.parquet"
    ]
    # metadata + protocol resolved from the v2 main file
    assert deltalog.table_metadata_no_spark(root)["id"] == "v2-test"
    proto = deltalog.table_protocol_no_spark(root)
    assert proto["readerFeatures"] == ["v2Checkpoint"]
    # Spark replay and full engine read
    snap = {r["path"] for r in deltalog.snapshot_files(spark, root).collect()}
    assert len(snap) == 4
    eng = Engine(spark, EngineConfig(table_mapping={"t": root}))
    assert sorted(r["id"] for r in eng.read_table("t").collect()) == [
        0, 1, 10, 11, 20, 21, 100
    ]
    # governed source too
    from delta_lake_proxy_spark.sources.governed import GovernedDataSource

    spark.dataSource.register(GovernedDataSource)
    got = spark.read.format("governed").option("path", root).load()
    assert got.count() == 7


def test_v2_checkpoint_table_checkpoints_in_v2_form(spark, tmp_path):
    """The v2Checkpoint feature forbids classic checkpoints — round 7
    refused the write; round 8 produces the V2 FORM instead: a uuid-named
    main file carrying checkpointMetadata/sidecar/protocol/metaData, file
    actions in _sidecars/, and reads resolving through the new layout."""
    import glob as _glob

    root = make_v2_checkpoint_table(str(tmp_path / "t"))
    v = deltalog.write_checkpoint(spark, root)
    assert v == 2
    logd = os.path.join(root, "_delta_log")
    assert not os.path.exists(
        os.path.join(logd, f"{v:020d}.checkpoint.parquet")
    ), "classic checkpoint must not be written into a v2Checkpoint table"
    mains = _glob.glob(os.path.join(logd, f"{v:020d}.checkpoint.*.parquet"))
    assert len(mains) == 1
    import pyarrow.parquet as pq

    main = pq.read_table(mains[0])
    cms = [c for c in main.column("checkpointMetadata").to_pylist() if c]
    assert cms == [{"version": 2}]
    sidecars = [s for s in main.column("sidecar").to_pylist() if s]
    assert sidecars and all(
        os.path.exists(os.path.join(logd, "_sidecars", s["path"]))
        for s in sidecars
    )
    protos = [p for p in main.column("protocol").to_pylist() if p]
    assert protos[0]["readerFeatures"] == ["v2Checkpoint"]
    # prune the JSON history: every read path must now resolve through the
    # NEW v2 checkpoint alone
    for name in list(os.listdir(logd)):
        if name.endswith(".json") and name[:-5].isdigit():
            os.remove(os.path.join(logd, name))
    assert set(deltalog._live_paths_no_spark(root)) == {
        "part-a.parquet",
        "part-b.parquet",
        "part-c.parquet",
        "part-d.parquet",
    }
    got = {r["path"] for r in deltalog.snapshot_files(spark, root).collect()}
    assert got == {
        "part-a.parquet",
        "part-b.parquet",
        "part-c.parquet",
        "part-d.parquet",
    }
    assert deltalog.table_metadata_no_spark(root)["id"] == "v2-test"


def test_enable_v2_checkpoints_engine_roundtrip(spark, tmp_path):
    """enable_v2_checkpoints upgrades a plain table; subsequent engine
    writes pass the gate (the honored v2Checkpoint feature never blocks a
    commit), checkpoints take the v2 form, and cleanup_log reclaims
    superseded sidecars but never the referenced ones."""
    import glob as _glob

    from delta_lake_proxy_spark import Engine, EngineConfig
    from delta_lake_proxy_spark.engine import write_governed_table

    root = str(tmp_path / "t2")
    df = spark.createDataFrame(
        [(i, "A" if i < 5 else "B") for i in range(10)], "id long, part string"
    )
    write_governed_table(spark, df.repartition(1), root, ["part"])  # v0
    eng = Engine(
        spark, EngineConfig(table_mapping={"t": root}, read_only=False)
    )
    eng.enable_v2_checkpoints("t")  # v1
    proto = deltalog.table_protocol_no_spark(root)
    assert proto["readerFeatures"] == ["v2Checkpoint"]
    # writes still pass the gate after the upgrade
    eng.delete("t", F.col("id") == 3)  # v2
    deltalog.write_checkpoint(spark, root)
    logd = os.path.join(root, "_delta_log")
    assert _glob.glob(os.path.join(logd, "*.checkpoint.*.parquet"))
    assert not _glob.glob(os.path.join(logd, "*.checkpoint.parquet"))
    first_sidecars = set(os.listdir(os.path.join(logd, "_sidecars")))
    eng.delete("t", F.col("id") == 7)  # v3
    deltalog.write_checkpoint(spark, root)
    removed = deltalog.cleanup_log(root, retention_hours=0)
    assert removed >= 1
    live_sidecars = set(os.listdir(os.path.join(logd, "_sidecars")))
    assert not (first_sidecars & live_sidecars), "superseded sidecars linger"
    assert sorted(r["id"] for r in eng.read_table("t").collect()) == sorted(
        set(range(10)) - {3, 7}
    )
    # time travel BELOW the pruned history fails loudly, as on classic
    with pytest.raises(ValueError, match="reproducible"):
        deltalog.snapshot_files(spark, root, version=0).collect()


def test_v2_checkpoint_keeps_table_properties(spark, tmp_path):
    """The v2 checkpoint's metaData row carries the full action:
    properties and createdTime survive once cleanup_log retires the JSON
    commit that set them (and without any version checksum to fall back
    on)."""
    from delta_lake_proxy_spark.engine import write_governed_table

    root = str(tmp_path / "t")
    df = spark.createDataFrame([(i, "AB"[i % 2]) for i in range(6)], "id long, part string")
    write_governed_table(spark, df.repartition(1), root, ["part"])  # v0
    eng = Engine(spark, EngineConfig(table_mapping={"t": root}, read_only=False))
    eng.enable_v2_checkpoints("t")  # v1
    eng.set_table_properties("t", {"graft.owner": "ops"})  # v2
    created = deltalog.load_snapshot(root).metadata_action.get("createdTime")
    assert deltalog.write_checkpoint(spark, root) == 2
    assert deltalog.cleanup_log(root, retention_hours=0) >= 3
    logd = os.path.join(root, "_delta_log")
    for name in os.listdir(logd):
        assert not name.endswith(".json")
        if name.endswith(".crc"):
            os.remove(os.path.join(logd, name))
    snap = deltalog.load_snapshot(root)
    assert snap.version == 2
    assert snap.configuration["graft.owner"] == "ops"
    assert snap.metadata_action.get("createdTime") == created
    eng.invalidate_caches()
    assert eng.read_table("t").count() == 6


# -- variantType reader feature (round 7) -----------------------------------


def test_variant_table_readable_through_engine(spark, tmp_path):
    """Reader-3 feature variantType: Spark 4 reads VARIANT natively on the
    engine scan path; the governed pyarrow source refuses with a pointer
    at Engine.read_table (it cannot represent variant Arrow batches)."""
    import glob

    root = str(tmp_path / "var")
    df = spark.sql(
        "SELECT id, parse_json(concat('{\"k\": ', id, '}')) AS v FROM range(5)"
    )
    df.coalesce(1).write.parquet(root)
    part = os.path.basename(glob.glob(os.path.join(root, "part-*.parquet"))[0])
    logd = os.path.join(root, "_delta_log")
    os.makedirs(logd, exist_ok=True)
    actions = [
        {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["variantType"],
                "writerFeatures": ["variantType"],
            }
        },
        {
            "metaData": {
                "id": "var-test",
                "format": {"provider": "parquet"},
                "schemaString": df.schema.json(),
                "partitionColumns": [],
                "configuration": {},
                "createdTime": 1700000000000,
            }
        },
        {
            "add": {
                "path": part,
                "partitionValues": {},
                "size": os.path.getsize(os.path.join(root, part)),
                "modificationTime": 1700000000000,
                "dataChange": True,
            }
        },
    ]
    with open(os.path.join(logd, "00000000000000000000.json"), "w", encoding="utf-8") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    eng = Engine(spark, EngineConfig(table_mapping={"t": root}))
    got = eng.read_table("t").select(
        "id", F.expr("variant_get(v, '$.k', 'long')").alias("k")
    )
    assert sorted((r["id"], r["k"]) for r in got.collect()) == [
        (i, i) for i in range(5)
    ]
    from delta_lake_proxy_spark.sources.governed import GovernedDataSource

    spark.dataSource.register(GovernedDataSource)
    with pytest.raises(Exception, match="Engine.read_table"):
        spark.read.format("governed").option("path", root).load().collect()


# -- typeWidening reader feature (round 7) ----------------------------------


def test_type_widened_table_readable(spark, tmp_path):
    """Files written BEFORE a type widen carry the narrow type; the logged
    (widest) schema is authoritative. Engine path promotes via Spark's
    parquet reader, governed source casts per Arrow batch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "tw")
    os.makedirs(root, exist_ok=True)
    # narrow file: int32 id, float32 score
    rel_n = "part-narrow.parquet"
    pq.write_table(
        pa.table(
            {
                "id": pa.array([1, 2], pa.int32()),
                "score": pa.array([1.5, 2.5], pa.float32()),
            }
        ),
        os.path.join(root, rel_n),
    )
    # post-widen file: long id, double score
    rel_w = "part-wide.parquet"
    pq.write_table(
        pa.table(
            {
                "id": pa.array([3], pa.int64()),
                "score": pa.array([3.5], pa.float64()),
            }
        ),
        os.path.join(root, rel_w),
    )
    schema_string = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True, "metadata": {}},
                {"name": "score", "type": "double", "nullable": True, "metadata": {}},
            ],
        }
    )
    logd = os.path.join(root, "_delta_log")
    os.makedirs(logd, exist_ok=True)
    actions = [
        {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["typeWidening"],
                "writerFeatures": ["typeWidening"],
            }
        },
        {
            "metaData": {
                "id": "tw-test",
                "format": {"provider": "parquet"},
                "schemaString": schema_string,
                "partitionColumns": [],
                "configuration": {"delta.enableTypeWidening": "true"},
                "createdTime": 1700000000000,
            }
        },
    ] + [
        {
            "add": {
                "path": rel,
                "partitionValues": {},
                "size": os.path.getsize(os.path.join(root, rel)),
                "modificationTime": 1700000000000,
                "dataChange": True,
            }
        }
        for rel in (rel_n, rel_w)
    ]
    with open(os.path.join(logd, "00000000000000000000.json"), "w", encoding="utf-8") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    eng = Engine(spark, EngineConfig(table_mapping={"t": root}))
    df = eng.read_table("t")
    assert df.schema["id"].dataType.simpleString() == "bigint"
    rows = sorted((r["id"], r["score"]) for r in df.collect())
    assert rows == [(1, 1.5), (2, 2.5), (3, 3.5)]
    from delta_lake_proxy_spark.sources.governed import GovernedDataSource

    spark.dataSource.register(GovernedDataSource)
    got = spark.read.format("governed").option("path", root).load()
    assert sorted((r["id"], r["score"]) for r in got.collect()) == rows


def test_vacuum_protocol_check_feature(spark, tmp_path):
    """vacuumProtocolCheck: readable, and vacuum runs its reclamation
    through the protocol-gated replay (refusing outright on tables whose
    protocol the engine cannot honor, before any delete)."""
    proto = {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": ["vacuumProtocolCheck"],
        "writerFeatures": ["vacuumProtocolCheck"],
    }
    path = make_table(str(tmp_path / "t"), proto)
    eng = Engine(spark, EngineConfig(table_mapping={"t": path}, read_only=False))
    assert eng.read_table("t").count() == 3
    # an unreferenced stray file is reclaimed; the live file survives
    stray = os.path.join(path, "part=A", "stray.parquet")
    _write_parquet(stray, [9])
    assert eng.vacuum("t", retention_hours=0) == 1
    assert not os.path.exists(stray)
    assert eng.read_table("t").count() == 3
    # an UNSUPPORTED protocol fails vacuum at the gate, before any delete
    bad = make_table(str(tmp_path / "bad"), READER3_UNKNOWN)
    eng2 = Engine(spark, EngineConfig(table_mapping={"t": bad}, read_only=False))
    with pytest.raises(UnsupportedProtocolError):
        eng2.vacuum("t", retention_hours=0)


# -- domain metadata / clustered tables (round 8) ---------------------------


def make_clustered_table(root: str) -> str:
    """A foreign liquid-clustered table: writer-7 clusteredTable +
    domainMetadata features, clustering columns in the delta.clustering
    domain."""
    rel = "part-00000.parquet"
    size = _write_parquet(os.path.join(root, rel), [1, 2, 3])
    logd = os.path.join(root, "_delta_log")
    os.makedirs(logd, exist_ok=True)
    actions = [
        {"commitInfo": {"timestamp": 1700000000000, "operation": "WRITE"}},
        {
            "protocol": {
                "minReaderVersion": 1,
                "minWriterVersion": 7,
                "writerFeatures": ["clusteredTable", "domainMetadata"],
            }
        },
        {
            "metaData": {
                "id": "cl-test",
                "format": {"provider": "parquet"},
                "schemaString": SCHEMA_STRING,
                "partitionColumns": [],
                "configuration": {},
                "createdTime": 1700000000000,
            }
        },
        {
            "domainMetadata": {
                "domain": "delta.clustering",
                "configuration": json.dumps({"clusteringColumns": [["id"]]}),
                "removed": False,
            }
        },
        {
            "domainMetadata": {
                "domain": "app.scratch",
                "configuration": "{}",
                "removed": False,
            }
        },
        {
            "add": {
                "path": rel,
                "partitionValues": {},
                "size": size,
                "modificationTime": 1700000000000,
                "dataChange": True,
            }
        },
    ]
    with open(
        os.path.join(logd, "00000000000000000000.json"), "w", encoding="utf-8"
    ) as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    return root


def test_clone_carries_live_domains(spark, tmp_path):
    """Advice pin (round 9): a shallow clone of a liquid-clustered table
    must carry the source's LIVE domainMetadata — re-declaring the
    clusteredTable writer feature with no delta.clustering domain would
    violate the preserve-domains obligation and upstream CLONE semantics."""
    root = make_clustered_table(str(tmp_path / "cl"))
    dst = str(tmp_path / "cl-clone")
    eng = Engine(
        spark,
        EngineConfig(table_mapping={"t": root, "c": dst}, read_only=False),
    )
    eng.clone_table("t", dst)
    doms = deltalog.live_domain_metadata(dst)
    assert set(doms) == {"delta.clustering", "app.scratch"}
    assert "clusteringColumns" in doms["delta.clustering"]["configuration"]
    proto = deltalog.table_protocol_no_spark(dst)
    assert "domainMetadata" in (proto.get("writerFeatures") or [])
    assert eng.read_table("c").count() == 3


def test_clustered_table_reads_writes_and_preserves_domains(spark, tmp_path):
    """clusteredTable + domainMetadata writer features: reads work, engine
    appends pass the gate, a domain removal tombstones, and CHECKPOINTS
    carry the live domains — log cleanup must never strip a foreign
    table's clustering metadata."""
    root = make_clustered_table(str(tmp_path / "cl"))
    eng = Engine(
        spark, EngineConfig(table_mapping={"t": root}, read_only=False)
    )
    assert eng.read_table("t").count() == 3
    doms = deltalog.live_domain_metadata(root)
    assert set(doms) == {"delta.clustering", "app.scratch"}
    # a write into the clustered table passes (feature honored, not refused)
    df = spark.createDataFrame([(9, "B")], "id long, part string")
    eng.write_table("t", df, mode="append")
    assert eng.read_table("t").count() == 4
    # a removal (foreign writer) tombstones the domain
    v = deltalog.latest_version(root) + 1
    with open(
        os.path.join(root, "_delta_log", f"{v:020d}.json"), "w", encoding="utf-8"
    ) as f:
        f.write(
            json.dumps(
                {"commitInfo": {"operation": "REMOVE DOMAIN", "timestamp": 1700000001000}}
            )
            + "\n"
        )
        f.write(
            json.dumps(
                {
                    "domainMetadata": {
                        "domain": "app.scratch",
                        "configuration": None,
                        "removed": True,
                    }
                }
            )
            + "\n"
        )
    assert set(deltalog.live_domain_metadata(root)) == {"delta.clustering"}
    # checkpoint + cleanup: the domain survives in the checkpoint alone
    deltalog.write_checkpoint(spark, root)
    deltalog.cleanup_log(root, retention_hours=0)
    doms = deltalog.live_domain_metadata(root)
    assert set(doms) == {"delta.clustering"}
    assert "clusteringColumns" in doms["delta.clustering"]["configuration"]
    assert eng.read_table("t").count() == 4


def test_compaction_honors_clustering_domain(spark, tmp_path):
    """A clusteredTable with a preserved delta.clustering domain compacts
    CLUSTERED by default (round-10): OPTIMIZE without explicit sort/zorder
    args range-sorts on the domain's clustering columns, so per-file
    min/max ranges on those columns are near-disjoint afterwards — the
    clusteredTable feature's best-effort physical obligation."""
    root = make_clustered_table(str(tmp_path / "cl"))
    eng = Engine(
        spark, EngineConfig(table_mapping={"t": root}, read_only=False)
    )
    # interleaved appends: every file spans nearly the whole id range
    for lo in (100, 101, 102):
        df = spark.createDataFrame(
            [(i, "B") for i in range(lo, 1000, 7)], "id long, part string"
        )
        eng.write_table("t", df.coalesce(1), mode="append")
    n_before = eng.read_table("t").count()
    eng.compact_table("t", files_per_partition=3)
    assert eng.read_table("t").count() == n_before
    # domain survived the rewrite
    doms = deltalog.live_domain_metadata(root)
    assert "delta.clustering" in doms
    # per-file id ranges are disjoint (true clustering, not hash binning)
    spans = []
    for a in deltalog._live_adds_no_spark(root).values():
        st = json.loads(a["stats"])
        spans.append((st["minValues"]["id"], st["maxValues"]["id"]))
    assert len(spans) == 3
    spans.sort()
    for i in range(1, len(spans)):
        assert spans[i][0] > spans[i - 1][1], f"overlapping file ranges: {spans}"


def test_enable_clustering_then_compact(spark, tmp_path):
    """Engine-side CLUSTER BY (round-10): enable_clustering declares the
    clusteredTable feature + delta.clustering domain on a plain table;
    compact_table then reclusters on the declared columns by default, and
    the domain survives checkpoint + log cleanup."""
    path = str(tmp_path / "t")
    eng = Engine(spark, EngineConfig(table_mapping={"t": path}, read_only=False))
    df = spark.range(0, 600).select(
        (F.col("id") * 37 % 600).alias("k"), F.col("id").alias("v")
    )
    for i in range(3):  # interleaved appends: every file spans ~all of k
        eng.write_table("t", df.filter(F.col("v") % 3 == i).coalesce(1))
    eng.enable_clustering("t", ["k"])
    proto = deltalog.table_protocol_no_spark(path)
    assert set(proto["writerFeatures"]) == {"clusteredTable", "domainMetadata"}
    doms = deltalog.live_domain_metadata(path)
    assert json.loads(doms["delta.clustering"]["configuration"]) == {
        "clusteringColumns": [["k"]]
    }
    eng.compact_table("t", files_per_partition=3)
    spans = []
    for a in deltalog._live_adds_no_spark(path).values():
        st = json.loads(a["stats"])
        spans.append((st["minValues"]["k"], st["maxValues"]["k"]))
    assert len(spans) == 3
    spans.sort()
    for i in range(1, len(spans)):
        assert spans[i][0] > spans[i - 1][1], f"overlapping file ranges: {spans}"
    # domain survives checkpoint-seeded replay
    deltalog.write_checkpoint(spark, path)
    deltalog.cleanup_log(path, retention_hours=0)
    assert "delta.clustering" in deltalog.live_domain_metadata(path)
    # validation: unknown / partition columns refuse
    with pytest.raises(ValueError, match="not in table schema"):
        eng.enable_clustering("t", ["nope"])
    p2 = str(tmp_path / "p")
    eng2 = Engine(spark, EngineConfig(table_mapping={"p": p2}, read_only=False))
    eng2.write_table(
        "p",
        spark.range(4).select(F.col("id"), (F.col("id") % 2).alias("part")),
        partition_by=["part"],
    )
    with pytest.raises(ValueError, match="partition columns"):
        eng2.enable_clustering("p", ["part"])


@pytest.mark.parametrize("feature", ["catalogManaged", "coordinatedCommits"])
def test_catalog_managed_named_refusal(spark, tmp_path, feature):
    """Verdict r11 missing #3: catalog-coordinated tables (Delta 4.x
    catalogManaged / the coordinatedCommits RFC) refuse BY NAME with an
    actionable message — the filesystem log is not the source of truth,
    so neither reads nor filesystem commits can be honored."""
    proto = {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": [feature],
        "writerFeatures": [feature],
    }
    path = make_table(str(tmp_path / "t"), proto)
    with pytest.raises(UnsupportedProtocolError, match="coordinated by a"):
        deltalog._live_adds_no_spark(path)
    with pytest.raises(UnsupportedProtocolError, match=feature):
        Engine(spark, EngineConfig(table_mapping={"t": path})).read_table("t")
    with pytest.raises(UnsupportedProtocolError, match="never ratifies"):
        deltalog.write_commit(path, [], [])


def test_writer_only_coordinated_commits_refuses_commits_not_reads(spark, tmp_path):
    """coordinatedCommits was a WRITER feature in its RFC form: a table
    declaring it only on the writer side stays readable (the filesystem
    log IS authoritative for readers there) but refuses filesystem
    commits by name."""
    proto = {
        "minReaderVersion": 1,
        "minWriterVersion": 7,
        "writerFeatures": ["coordinatedCommits"],
    }
    path = make_table(str(tmp_path / "t2"), proto)
    eng = Engine(spark, EngineConfig(table_mapping={"t": path}))
    assert eng.read_table("t").count() == 3
    with pytest.raises(UnsupportedProtocolError, match="coordinatedCommits"):
        deltalog.write_commit(path, [], [])
