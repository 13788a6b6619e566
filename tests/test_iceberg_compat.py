"""icebergCompatV1/V2 (Delta UniForm writer features) — round 11.

Active Iceberg compatibility (`delta.enableIcebergCompatVn=true`) demands
every NEW data file be readable by an Iceberg client pointed at the same
parquet: field ids in the footers (Iceberg resolves columns by id, never
name), int64 timestamps (Iceberg cannot read INT96), partition values
materialized in file content (Iceberg readers take them from the files),
deletion vectors inactive, column mapping on. ``Engine.write_table``
honors these via ``_prepare_iceberg_write``; raw commits refuse. The
reference serves UniForm tables through the ``deltalake`` crate
(ref ``src/main.rs:357``).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from delta_lake_proxy_spark import Engine, EngineConfig, deltalog
from delta_lake_proxy_spark.errors import UnsupportedProtocolError

from test_column_mapping import PHYS_ID, PHYS_PART, PHYS_VAL, make_mapped_table

PHYS_TS = "col-5e6f7a8b"


def _engine(spark, path: str) -> Engine:
    return Engine(spark, EngineConfig(table_mapping={"t": path}, read_only=False))


@pytest.fixture()
def mapped(tmp_path):
    return make_mapped_table(str(tmp_path / "cm"))["root"]


def _iceberg_enabled(spark, tmp_path, version=2):
    root = make_mapped_table(str(tmp_path / "ice"))["root"]
    eng = _engine(spark, root)
    eng.enable_iceberg_compat("t", version=version)
    return root, eng


def _data_field_ids(parquet_path: str) -> dict[str, int]:
    import pyarrow.parquet as pq

    out = {}
    for f in pq.read_schema(parquet_path):
        raw = (f.metadata or {}).get(b"PARQUET:field_id")
        if raw is not None:
            out[f.name] = int(raw)
    return out


def test_enable_upgrades_protocol_and_property(spark, mapped):
    eng = _engine(spark, mapped)
    eng.enable_iceberg_compat("t")
    proto = deltalog.table_protocol_no_spark(mapped)
    assert proto["minWriterVersion"] == 7
    assert set(proto["writerFeatures"]) == {"columnMapping", "icebergCompatV2"}
    conf = deltalog.table_configuration_no_spark(mapped)
    assert conf["delta.enableIcebergCompatV2"] == "true"
    # mapping survives; logical reads unchanged
    assert eng.read_table("t", user="admin").count() == 5
    assert deltalog.iceberg_compat_version(mapped) == 2


def test_enable_v1_variant(spark, tmp_path):
    root, _ = _iceberg_enabled(spark, tmp_path, version=1)
    proto = deltalog.table_protocol_no_spark(root)
    assert "icebergCompatV1" in proto["writerFeatures"]
    assert deltalog.iceberg_compat_version(root) == 1


def test_enable_refuses_unmapped_table(spark, tmp_path):
    root = str(tmp_path / "plain")
    eng = _engine(spark, root)
    eng.write_table("t", spark.createDataFrame([Row(id=1)]), mode="overwrite")
    with pytest.raises(UnsupportedProtocolError, match="requires column mapping"):
        eng.enable_iceberg_compat("t")


def test_append_writes_field_ids_and_materialized_partitions(spark, tmp_path):
    """The staged files must be Iceberg-readable: every column carries its
    delta.columnMapping.id as a parquet field id, and the partition value
    is present IN the file content, not just the directory name."""
    root, eng = _iceberg_enabled(spark, tmp_path)
    df = spark.createDataFrame([Row(id=10, val=15.0, part="C")])
    eng.write_table("t", df, mode="append", partition_by=["part"])
    # logical read serves the new row
    got = eng.read_table("t", user="admin")
    assert got.filter(F.col("part") == "C").count() == 1
    # the new physical file sits in a PHYSICAL partition dir
    new_files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet") and f"{PHYS_PART}=C" in dp
    ]
    assert len(new_files) == 1
    import pyarrow.parquet as pq

    t = pq.read_table(new_files[0])
    # partition value materialized in file content (Iceberg reads it there)
    assert t.column(PHYS_PART).to_pylist() == ["C"]
    ids = _data_field_ids(new_files[0])
    assert ids == {PHYS_ID: 1, PHYS_VAL: 2, PHYS_PART: 3}
    # the add action still records hive-style partitionValues for Delta
    adds = deltalog._live_adds_no_spark(root)
    rel = os.path.relpath(new_files[0], root).replace(os.sep, "/")
    assert adds[rel]["partitionValues"] == {PHYS_PART: "C"}


def test_timestamps_written_int64(spark, tmp_path):
    """icebergCompat forbids INT96: a timestamp column must land as int64
    (TIMESTAMP_MICROS) in the staged parquet."""
    root = str(tmp_path / "ts")
    files = {"f0.parquet": [1, 2]}
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(root, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                PHYS_ID: pa.array(files["f0.parquet"], type=pa.int64()),
                PHYS_TS: pa.array([0, 1000000], type=pa.timestamp("us")),
            }
        ),
        os.path.join(root, "f0.parquet"),
    )
    schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": "id",
                    "type": "long",
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 1,
                        "delta.columnMapping.physicalName": PHYS_ID,
                    },
                },
                {
                    "name": "ts",
                    "type": "timestamp",
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 2,
                        "delta.columnMapping.physicalName": PHYS_TS,
                    },
                },
            ],
        }
    )
    logd = os.path.join(root, "_delta_log")
    os.makedirs(logd)
    actions = [
        {"commitInfo": {"timestamp": 1700000000000, "operation": "WRITE"}},
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {
            "metaData": {
                "id": "ice-ts",
                "format": {"provider": "parquet"},
                "schemaString": schema,
                "partitionColumns": [],
                "configuration": {
                    "delta.columnMapping.mode": "name",
                    "delta.columnMapping.maxColumnId": "2",
                },
                "createdTime": 1700000000000,
            }
        },
        {
            "add": {
                "path": "f0.parquet",
                "partitionValues": {},
                "size": os.path.getsize(os.path.join(root, "f0.parquet")),
                "modificationTime": 1700000000000,
                "dataChange": True,
                "stats": json.dumps({"numRecords": 2}),
            }
        },
    ]
    with open(os.path.join(logd, f"{0:020d}.json"), "w") as f:
        f.write("\n".join(json.dumps(a) for a in actions) + "\n")
    eng = _engine(spark, root)
    eng.enable_iceberg_compat("t")
    before = set(deltalog._live_adds_no_spark(root))
    eng.write_table(
        "t",
        spark.sql(
            "SELECT CAST(3 AS BIGINT) AS id, TIMESTAMP'2024-01-01 00:00:00' AS ts"
        ),
        mode="append",
    )
    new_rel = (set(deltalog._live_adds_no_spark(root)) - before).pop()
    meta = pq.ParquetFile(os.path.join(root, new_rel)).metadata
    col_types = {
        meta.row_group(0).column(i).path_in_schema: meta.row_group(0)
        .column(i)
        .physical_type
        for i in range(meta.num_columns)
    }
    assert col_types[PHYS_TS] == "INT64"
    assert _data_field_ids(os.path.join(root, new_rel)) == {PHYS_ID: 1, PHYS_TS: 2}


def test_write_refuses_with_active_dvs(spark, tmp_path):
    """A (malformed or DV-racing) table declaring BOTH enableIcebergCompat
    and enableDeletionVectors refuses writes — Iceberg readers cannot
    apply DVs, so new files must not land under that contract."""
    root = make_mapped_table(str(tmp_path / "bad"))["root"]
    eng = _engine(spark, root)
    eng.enable_iceberg_compat("t")
    # corrupt the configuration the way a non-conforming writer would
    logd = os.path.join(root, "_delta_log")
    v = deltalog.latest_version(root)
    p = os.path.join(logd, f"{v:020d}.json")
    txt = open(p).read().replace(
        '"delta.enableIcebergCompatV2": "true"',
        '"delta.enableIcebergCompatV2": "true", '
        '"delta.enableDeletionVectors": "true"',
    )
    open(p, "w").write(txt)
    with pytest.raises(UnsupportedProtocolError, match="forbids active deletion"):
        eng.write_table(
            "t",
            spark.createDataFrame([Row(id=99, val=1.0, part="A")]),
            mode="append",
            partition_by=["part"],
        )


def test_enable_refuses_dv_tables_and_foreign_features(spark, mapped, tmp_path):
    # foreign mapped fixture with an extra declared feature refuses
    logd = os.path.join(mapped, "_delta_log")
    p = os.path.join(logd, "00000000000000000000.json")
    txt = open(p).read().replace(
        '"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}',
        '"protocol": {"minReaderVersion": 2, "minWriterVersion": 7, '
        '"writerFeatures": ["columnMapping", "appendOnly"]}',
    )
    open(p, "w").write(txt)
    eng = _engine(spark, mapped)
    with pytest.raises(UnsupportedProtocolError, match="refusing to rewrite"):
        eng.enable_iceberg_compat("t")


def test_raw_commit_refuses_on_active_table(spark, tmp_path):
    root, _ = _iceberg_enabled(spark, tmp_path)
    # a raw commit can prove neither the mapped translation nor the
    # iceberg file obligations
    with pytest.raises(UnsupportedProtocolError):
        deltalog.write_commit(root, adds=[], removes=[])


def test_inactive_feature_demands_nothing(spark, tmp_path):
    """Feature listed but property off (the spec's activation contract):
    ordinary mapped writes proceed without iceberg staging."""
    root = make_mapped_table(str(tmp_path / "cm2"))["root"]
    p = os.path.join(root, "_delta_log", "00000000000000000000.json")
    txt = open(p).read().replace(
        '"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}',
        '"protocol": {"minReaderVersion": 2, "minWriterVersion": 7, '
        '"writerFeatures": ["columnMapping", "icebergCompatV2"]}',
    )
    open(p, "w").write(txt)
    assert deltalog.iceberg_compat_version(root) is None
    eng = _engine(spark, root)
    eng.write_table(
        "t",
        spark.createDataFrame([Row(id=50, val=2.5, part="A")]),
        mode="append",
        partition_by=["part"],
    )
    assert eng.read_table("t", user="admin").count() == 6


def test_write_refuses_when_int64_timestamps_cannot_be_set(spark, tmp_path, monkeypatch):
    """A session that refuses to set ``outputTimestampType`` and keeps
    INT96 would stage files Iceberg cannot read: the write fails closed,
    before anything is committed."""
    from pyspark.errors import AnalysisException
    from pyspark.sql.conf import RuntimeConfig

    root, eng = _iceberg_enabled(spark, tmp_path)
    key = "spark.sql.parquet.outputTimestampType"

    class Refused(AnalysisException):
        def __init__(self):
            Exception.__init__(self, f"cannot modify {key}")

        def getCondition(self):
            return "CANNOT_MODIFY_CONFIG"

    real_set, real_get = RuntimeConfig.set, RuntimeConfig.get

    def refuse(self, k, v):
        if k == key:
            raise Refused()
        return real_set(self, k, v)

    def get(self, k, *a, **kw):
        return "INT96" if k == key else real_get(self, k, *a, **kw)

    monkeypatch.setattr(RuntimeConfig, "set", refuse)
    monkeypatch.setattr(RuntimeConfig, "get", get)
    before = deltalog.latest_version(root)
    with pytest.raises(UnsupportedProtocolError, match="INT96"):
        eng.write_table(
            "t",
            spark.createDataFrame([Row(id=11, val=1.0, part="A")]),
            mode="append",
            partition_by=["part"],
        )
    assert deltalog.latest_version(root) == before
