"""Reader-2 column mapping — NAME and ID modes SUPPORTED, not just refused.

A delta-spark table with ``delta.columnMapping.mode=name`` stores parquet
columns and partition directories under opaque PHYSICAL names
(``col-<uuid>``) while the logged schema exposes LOGICAL names via field
metadata; ``mode=id`` additionally makes the parquet FIELD IDS (not the
file's column names) authoritative for data-column resolution. Every read
path here must serve LOGICAL columns with correct values: the engine scan
(enumerated and listing-join, Spark's fieldId.read resolution for id
mode), ACL enforcement at row and file level, data skipping, the governed
DataSource (batch and stream, pyarrow field-id resolution). Writes to
mapped tables stay refused.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from delta_lake_proxy_spark import Engine, EngineConfig, deltalog
from delta_lake_proxy_spark.errors import UnsupportedProtocolError

PHYS_ID = "col-9a8b7c6d"
PHYS_VAL = "col-1f2e3d4c"
PHYS_PART = "col-0a1b2c3d"

MAPPED_SCHEMA = json.dumps(
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
                "name": "val",
                "type": "double",
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": 2,
                    "delta.columnMapping.physicalName": PHYS_VAL,
                },
            },
            {
                "name": "part",
                "type": "string",
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": 3,
                    "delta.columnMapping.physicalName": PHYS_PART,
                },
            },
        ],
    }
)


def _write_phys_parquet(full_path: str, ids: list[int]) -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(full_path), exist_ok=True)
    t = pa.table(
        {
            PHYS_ID: pa.array(ids, type=pa.int64()),
            PHYS_VAL: pa.array([i * 1.5 for i in ids], type=pa.float64()),
        }
    )
    pq.write_table(t, full_path)
    return os.path.getsize(full_path)


def make_mapped_table(root: str) -> dict:
    """A foreign NAME-mapped table: physical parquet columns, physical
    partition directories, physical partitionValues keys."""
    files = {
        f"{PHYS_PART}=A/part-00000.parquet": ([1, 2, 3], "A"),
        f"{PHYS_PART}=B/part-00001.parquet": ([4, 5], "B"),
    }
    logd = os.path.join(root, "_delta_log")
    os.makedirs(logd, exist_ok=True)
    actions = [
        {"commitInfo": {"timestamp": 1700000000000, "operation": "WRITE"}},
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {
            "metaData": {
                "id": "cm-test",
                "format": {"provider": "parquet"},
                "schemaString": MAPPED_SCHEMA,
                "partitionColumns": ["part"],
                "configuration": {
                    "delta.columnMapping.mode": "name",
                    "delta.columnMapping.maxColumnId": "3",
                },
                "createdTime": 1700000000000,
            }
        },
    ]
    for rel, (ids, part) in files.items():
        size = _write_phys_parquet(os.path.join(root, rel), ids)
        actions.append(
            {
                "add": {
                    "path": rel,
                    "partitionValues": {PHYS_PART: part},
                    "size": size,
                    "modificationTime": 1700000000000,
                    "dataChange": True,
                    "stats": json.dumps(
                        {
                            "numRecords": len(ids),
                            "minValues": {PHYS_ID: min(ids), PHYS_VAL: min(ids) * 1.5},
                            "maxValues": {PHYS_ID: max(ids), PHYS_VAL: max(ids) * 1.5},
                        }
                    ),
                }
            }
        )
    with open(os.path.join(logd, "00000000000000000000.json"), "w", encoding="utf-8") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    return {"root": root}


@pytest.fixture()
def mapped(tmp_path):
    return make_mapped_table(str(tmp_path / "cm"))["root"]


def test_column_mapping_resolver(mapped):
    assert deltalog.column_mapping(mapped) == {
        "id": PHYS_ID, "val": PHYS_VAL, "part": PHYS_PART
    }


def test_engine_read_serves_logical_columns(spark, mapped):
    eng = Engine(spark, EngineConfig(table_mapping={"t": mapped}))
    df = eng.read_table("t")
    assert set(df.columns) == {"id", "val", "part"}
    rows = {r["id"]: r for r in df.collect()}
    assert sorted(rows) == [1, 2, 3, 4, 5]
    assert rows[4]["val"] == 6.0 and rows[4]["part"] == "B"


def test_engine_listing_join_path(spark, mapped):
    eng = Engine(spark, EngineConfig(table_mapping={"t": mapped}))
    eng.large_listing_threshold = 0  # force the listing-join scan
    eng.invalidate_caches()
    df = eng.read_table("t")
    assert set(df.columns) == {"id", "val", "part"}
    assert df.count() == 5
    assert df.filter(F.col("part") == "A").count() == 3


def test_acl_enforced_on_logical_names(spark, mapped):
    """The user's DNF uses LOGICAL names; enforcement must prune the mapped
    physical partitions at row AND file level."""
    eng = Engine(
        spark,
        EngineConfig(
            table_mapping={"t": mapped},
            allowed_partitions={"t": [{"part": "A"}]},
        ),
    )
    assert eng.read_table("t", user="u").count() == 3  # row-level
    allowed = {r["path"] for r in eng.allowed_files("t", "u").collect()}
    assert all(f"{PHYS_PART}=A" in p for p in allowed) and len(allowed) == 1
    from delta_lake_proxy_spark.errors import ForbiddenByPolicyError

    with pytest.raises(ForbiddenByPolicyError):
        eng.authorize_file("t", "u", f"{PHYS_PART}=B/part-00001.parquet")
    eng.authorize_file("t", "u", f"{PHYS_PART}=A/part-00000.parquet")


def test_data_skipping_translates_stats_keys(spark, mapped):
    eng = Engine(spark, EngineConfig(table_mapping={"t": mapped}))
    df = eng.scan_with_skipping("t", {"id": (4, 10)})
    files = {r[0] for r in df.select(F.input_file_name()).distinct().collect()}
    assert len(files) == 1  # the A file (ids 1-3) pruned via physical stats
    assert {r["id"] for r in df.collect()} == {4, 5}


def test_governed_source_batch_and_stream(spark, mapped, tmp_path):
    from delta_lake_proxy_spark.sources.governed import GovernedDataSource

    spark.dataSource.register(GovernedDataSource)
    df = (
        spark.read.format("governed")
        .option("path", mapped)
        .option("dnf", json.dumps([{"part": "B"}]))
        .load()
    )
    assert set(df.columns) == {"id", "val", "part"}
    rows = df.collect()
    assert {r["id"] for r in rows} == {4, 5}
    assert all(r["part"] == "B" for r in rows)

    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("governed")
        .option("path", mapped)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    q.stop()
    got = spark.read.parquet(out)
    assert {r["id"] for r in got.collect()} == {1, 2, 3, 4, 5}


def test_mapped_append_writes_physical_files(spark, mapped):
    """Engine.write_table on a NAME-mapped table (writer 5): rows arrive
    with LOGICAL columns, the written file and partition directory carry
    PHYSICAL names, partitionValues and stats keys are physical, and the
    logged schemaString (with its mapping metadata) is preserved — the new
    file is indistinguishable from a conforming mapped writer's."""
    eng = Engine(spark, EngineConfig(table_mapping={"t": mapped}, read_only=False))
    new_rows = spark.createDataFrame(
        [(6, 9.0, "C")], "id long, val double, part string"
    )
    v = eng.write_table("t", new_rows, mode="append")
    assert v == 1
    eng.invalidate_caches()
    df = eng.read_table("t")
    rows = {r["id"]: r for r in df.collect()}
    assert sorted(rows) == [1, 2, 3, 4, 5, 6]
    assert rows[6]["val"] == 9.0 and rows[6]["part"] == "C"
    # on-disk shape: physical partition dir, physical parquet columns
    live = deltalog._live_adds_no_spark(mapped)
    new_rel = [p for p in live if p.startswith(f"{PHYS_PART}=C/")]
    assert len(new_rel) == 1, sorted(live)
    add = live[new_rel[0]]
    assert add["partitionValues"] == {PHYS_PART: "C"}
    assert PHYS_ID in (add.get("stats") or "")  # stats keyed physically
    import pyarrow.parquet as pq

    file_cols = pq.ParquetFile(os.path.join(mapped, new_rel[0])).schema_arrow.names
    assert PHYS_ID in file_cols and PHYS_VAL in file_cols
    assert "id" not in file_cols
    # the logged schema kept its mapping metadata
    meta = deltalog.table_metadata_no_spark(mapped)
    assert "delta.columnMapping.physicalName" in meta["schemaString"]


def test_mapped_overwrite_and_acl_on_new_rows(spark, mapped):
    eng = Engine(spark, EngineConfig(table_mapping={"t": mapped}, read_only=False))
    repl = spark.createDataFrame(
        [(10, 1.0, "A"), (11, 2.0, "B")], "id long, val double, part string"
    )
    eng.write_table("t", repl, mode="overwrite")
    eng.invalidate_caches()
    assert {r["id"] for r in eng.read_table("t").collect()} == {10, 11}
    gated = Engine(
        spark,
        EngineConfig(
            table_mapping={"t": mapped}, allowed_partitions={"t": [{"part": "A"}]}
        ),
    )
    assert {r["id"] for r in gated.read_table("t", user="u").collect()} == {10}


def test_mapped_schema_evolution_refused(spark, mapped):
    eng = Engine(spark, EngineConfig(table_mapping={"t": mapped}, read_only=False))
    widened = spark.createDataFrame(
        [(7, 1.0, "A", "x")], "id long, val double, part string, extra string"
    )
    with pytest.raises(UnsupportedProtocolError, match="schema evolution"):
        eng.write_table("t", widened, mode="append")


def test_mapped_raw_commit_and_id_mode_still_refused(spark, mapped, id_mapped):
    # raw log-level commits cannot prove physical translation -> refuse
    # (Engine DML translates since round 11 — pinned in test_mapped_dml.py)
    with pytest.raises(UnsupportedProtocolError, match="write path does not translate"):
        deltalog.write_commit(mapped, adds=[], removes=[{"path": "x"}])
    # id-mode writes refuse even through Engine.write_table
    eng_id = Engine(
        spark, EngineConfig(table_mapping={"t": id_mapped}, read_only=False)
    )
    one = spark.createDataFrame([(9, 1.0, "A")], "id long, val double, part string")
    with pytest.raises(UnsupportedProtocolError, match="id-mode"):
        eng_id.write_table("t", one, mode="append")


# -- ID mode (parquet field-id resolution) ----------------------------------
#
# In id mode the file's column NAMES are not authoritative — resolution MUST
# go through the parquet field ids matching delta.columnMapping.id. The
# fixture writes files whose column names match NEITHER the logical nor the
# logged physical names, so any name-based resolution would come back all
# null; only correct id resolution yields the values.


def _write_id_parquet(full_path: str, ids: list[int]) -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(full_path), exist_ok=True)
    schema = pa.schema(
        [
            pa.field("c_one", pa.int64(), metadata={b"PARQUET:field_id": b"1"}),
            pa.field("c_two", pa.float64(), metadata={b"PARQUET:field_id": b"2"}),
        ]
    )
    t = pa.table(
        {
            "c_one": pa.array(ids, type=pa.int64()),
            "c_two": pa.array([i * 1.5 for i in ids], type=pa.float64()),
        },
        schema=schema,
    )
    pq.write_table(t, full_path)
    return os.path.getsize(full_path)


def make_id_mapped_table(root: str) -> str:
    files = {
        f"{PHYS_PART}=A/part-00000.parquet": ([1, 2, 3], "A"),
        f"{PHYS_PART}=B/part-00001.parquet": ([4, 5], "B"),
    }
    logd = os.path.join(root, "_delta_log")
    os.makedirs(logd, exist_ok=True)
    actions = [
        {"commitInfo": {"timestamp": 1700000000000, "operation": "WRITE"}},
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {
            "metaData": {
                "id": "cm-id-test",
                "format": {"provider": "parquet"},
                "schemaString": MAPPED_SCHEMA,
                "partitionColumns": ["part"],
                "configuration": {
                    "delta.columnMapping.mode": "id",
                    "delta.columnMapping.maxColumnId": "3",
                },
                "createdTime": 1700000000000,
            }
        },
    ]
    for rel, (ids, part) in files.items():
        size = _write_id_parquet(os.path.join(root, rel), ids)
        actions.append(
            {
                "add": {
                    "path": rel,
                    "partitionValues": {PHYS_PART: part},
                    "size": size,
                    "modificationTime": 1700000000000,
                    "dataChange": True,
                }
            }
        )
    with open(os.path.join(logd, "00000000000000000000.json"), "w", encoding="utf-8") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    return root


@pytest.fixture()
def id_mapped(tmp_path):
    return make_id_mapped_table(str(tmp_path / "idm"))


def test_id_mode_resolver(id_mapped):
    assert deltalog.column_mapping_field_ids(id_mapped) == {
        "id": 1, "val": 2, "part": 3
    }
    # physical names still govern partition dirs / pv keys / stats keys
    assert deltalog.column_mapping(id_mapped)["part"] == PHYS_PART


def test_id_mode_engine_read(spark, id_mapped):
    eng = Engine(spark, EngineConfig(table_mapping={"t": id_mapped}))
    df = eng.read_table("t")
    assert set(df.columns) == {"id", "val", "part"}
    rows = {r["id"]: r for r in df.collect()}
    assert sorted(rows) == [1, 2, 3, 4, 5]
    assert rows[4]["val"] == 6.0 and rows[4]["part"] == "B"


def test_id_mode_read_refuses_without_field_id_resolution(spark, id_mapped):
    """A session that resolves parquet columns by name would read the wrong
    columns of an id-mode table: the read refuses instead."""
    eng = Engine(spark, EngineConfig(table_mapping={"t": id_mapped}))
    key = "spark.sql.parquet.fieldId.read.enabled"
    spark.conf.set(key, "false")
    try:
        with pytest.raises(UnsupportedProtocolError, match="fieldId"):
            eng.read_table("t")
    finally:
        spark.conf.set(key, "true")
    assert eng.read_table("t").count() == 5


def test_id_mode_engine_read_with_acl(spark, id_mapped):
    eng = Engine(
        spark,
        EngineConfig(
            table_mapping={"t": id_mapped},
            allowed_partitions={"t": [{"part": "A"}]},
        ),
    )
    assert {r["id"] for r in eng.read_table("t", user="u").collect()} == {1, 2, 3}


def test_id_mode_checkpoint_and_cleanup(spark, id_mapped):
    """An id-mapped table checkpoints, and once cleanup_log retired its
    commits (and no crc serves the metadata) the checkpoint alone serves
    the same rows through the engine and the same live file set."""

    def state():
        eng = Engine(spark, EngineConfig(table_mapping={"t": id_mapped}))
        rows = sorted(eng.read_table("t").collect(), key=lambda r: r["id"])
        files = sorted(
            deltalog.snapshot_files(spark, id_mapped).collect(), key=lambda r: r["path"]
        )
        return rows, files

    before = state()
    assert len(before[0]) == 5 and len(before[1]) == 2
    v = deltalog.write_checkpoint(spark, id_mapped)
    assert deltalog.cleanup_log(id_mapped, retention_hours=0) >= 1
    logd = os.path.join(id_mapped, "_delta_log")
    for name in os.listdir(logd):
        assert not name.endswith(".json")
        if name.endswith(".crc"):
            os.remove(os.path.join(logd, name))
    snap = deltalog.load_snapshot(id_mapped)
    assert snap.version == v and snap.mapping_mode == "id"
    assert state() == before


def test_id_mode_governed_source(spark, id_mapped):
    from delta_lake_proxy_spark.sources.governed import GovernedDataSource

    spark.dataSource.register(GovernedDataSource)
    df = spark.read.format("governed").option("path", id_mapped).load()
    rows = {r["id"]: r for r in df.collect()}
    assert sorted(rows) == [1, 2, 3, 4, 5]
    assert rows[2]["val"] == 3.0 and rows[2]["part"] == "A"


def test_reader3_columnmapping_feature_allowed(spark, tmp_path):
    """Reader 3 whose ONLY demanded feature is columnMapping (name mode) is
    readable; any other feature still refuses."""
    root = str(tmp_path / "r3")
    make_mapped_table(root)
    p = os.path.join(root, "_delta_log", "00000000000000000000.json")
    s = open(p).read().replace(
        '{"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}',
        '{"protocol": {"minReaderVersion": 3, "minWriterVersion": 7, '
        '"readerFeatures": ["columnMapping"], "writerFeatures": ["columnMapping"]}}',
    )
    open(p, "w").write(s)
    eng = Engine(spark, EngineConfig(table_mapping={"t": root}))
    assert eng.read_table("t").count() == 5


def test_mapped_table_with_deletion_vectors(spark, tmp_path):
    """Combination: NAME-mode column mapping + deletion vectors — physical
    names resolve AND positions filter, through the engine and the
    governed source."""
    from delta_lake_proxy_spark import dv as dv_mod

    root = str(tmp_path / "cmdv")
    make_mapped_table(root)
    # upgrade protocol to reader 3 with both features; DV the A file ({0})
    logp = os.path.join(root, "_delta_log", "00000000000000000000.json")
    s = open(logp).read().replace(
        '{"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}',
        '{"protocol": {"minReaderVersion": 3, "minWriterVersion": 7, '
        '"readerFeatures": ["columnMapping", "deletionVectors"], '
        '"writerFeatures": ["columnMapping", "deletionVectors"]}}',
    )
    open(logp, "w").write(s)
    desc = dv_mod.inline_descriptor([0])  # first row of the A file: id=1
    rel_a = f"{PHYS_PART}=A/part-00000.parquet"
    actions = [
        {"commitInfo": {"timestamp": 2, "operation": "DELETE"}},
        {"remove": {"path": rel_a, "deletionTimestamp": 2, "dataChange": True}},
        {
            "add": {
                "path": rel_a,
                "partitionValues": {PHYS_PART: "A"},
                "size": os.path.getsize(os.path.join(root, rel_a)),
                "modificationTime": 2,
                "dataChange": True,
                "deletionVector": desc,
            }
        },
    ]
    with open(
        os.path.join(root, "_delta_log", "00000000000000000001.json"), "w"
    ) as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    eng = Engine(spark, EngineConfig(table_mapping={"t": root}))
    got = {r["id"]: r for r in eng.read_table("t").collect()}
    assert sorted(got) == [2, 3, 4, 5]  # id=1 DV-deleted, logical names served
    assert got[2]["part"] == "A" and got[4]["part"] == "B"
    from delta_lake_proxy_spark.sources.governed import GovernedDataSource

    spark.dataSource.register(GovernedDataSource)
    rows = spark.read.format("governed").option("path", root).load().collect()
    assert sorted(r["id"] for r in rows) == [2, 3, 4, 5]


def test_mapped_table_shallow_clone(spark, mapped, tmp_path):
    """Round 8: shallow clones of NAME-mapped tables graduated from refused
    to supported — the clone copies the mapped schemaString, configuration,
    and protocol; reads resolve physical data columns and physical
    partitionValues keys exactly like the source, with partition values
    taken from the LOG (no physical partition dirs exist under the
    clone)."""
    dst = str(tmp_path / "cmc")
    eng = Engine(
        spark,
        EngineConfig(table_mapping={"t": mapped, "c": dst}, read_only=False),
    )
    eng.clone_table("t", dst)
    proto = deltalog.table_protocol_no_spark(dst)
    assert int(proto["minReaderVersion"]) == 2  # demands travel with the clone
    assert (
        deltalog.table_configuration_no_spark(dst)["delta.columnMapping.mode"]
        == "name"
    )
    df = eng.read_table("c")
    assert set(df.columns) == {"id", "val", "part"}
    rows = {r["id"]: r for r in df.collect()}
    assert sorted(rows) == [1, 2, 3, 4, 5]
    assert rows[4]["val"] == 6.0 and rows[4]["part"] == "B"
    # ACL DNF on logical names still applies on the clone
    eng2 = Engine(
        spark,
        EngineConfig(
            table_mapping={"c": dst},
            allowed_partitions={"c": [{"part": "A"}]},
        ),
    )
    assert sorted(r["id"] for r in eng2.read_table("c", user="u").collect()) == [1, 2, 3]
    # DML on mapped tables translates since round 11 — on a clone the
    # rewrite lands in the CLONE (physical layout), the source untouched
    assert eng.delete("c", F.col("id") == 1) > 0
    assert sorted(r["id"] for r in eng.read_table("c").collect()) == [2, 3, 4, 5]
    assert eng.read_table("t").count() == 5  # source unaffected
    # translating appends land in the CLONE only; the source is untouched
    extra = spark.createDataFrame([(9, 9.0, "B")], "id long, val double, part string")
    eng.write_table("c", extra, mode="append")
    assert sorted(r["id"] for r in eng.read_table("c").collect()) == [2, 3, 4, 5, 9]
    assert sorted(r["id"] for r in eng.read_table("t").collect()) == [1, 2, 3, 4, 5]


def test_mapped_and_dv_clones_through_governed_source(spark, mapped, tmp_path):
    """The pyarrow governed source serves clones of mapped and DV tables:
    physical-name resolution comes from the clone's copied log, absolute
    file references resolve as-is, and 'p'-form DV descriptors decode the
    source's bins file-locally."""
    from delta_lake_proxy_spark.sources.governed import GovernedDataSource
    from tests.test_deletion_vectors import LIVE_IDS, make_dv_table

    dv_src = make_dv_table(str(tmp_path / "dvsrc"))
    eng = Engine(
        spark,
        EngineConfig(
            table_mapping={"m": mapped, "d": dv_src}, read_only=False
        ),
    )
    mc, dc = str(tmp_path / "mc"), str(tmp_path / "dc")
    eng.clone_table("m", mc)
    eng.clone_table("d", dc)
    spark.dataSource.register(GovernedDataSource)
    got = spark.read.format("governed").option("path", mc).load()
    assert set(got.columns) == {"id", "val", "part"}
    assert sorted(r["id"] for r in got.collect()) == [1, 2, 3, 4, 5]
    got2 = spark.read.format("governed").option("path", dc).load()
    assert sorted(r["id"] for r in got2.collect()) == LIVE_IDS
