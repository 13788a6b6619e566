"""One parsed ``deltalog.Snapshot`` per operation.

- Every engine operation resolves the log tip exactly once, at its start,
  and a warm GET touches no file at all (``count_tip_resolutions``).
- A DML commit starts at its snapshot's ``version + 1``, so a commit that
  lands between the DML's scan and its commit reaches the conflict check
  instead of being overwritten (lost update).
- Corrupt metadata fails closed with ``UnsupportedProtocolError``: a
  schemaString that is not JSON or whose ``fields`` is not a list of named
  objects, a ``delta.invariants`` value that is JSON but not the spec's
  wrapper, and an unknown writer feature.
- A pinned version, a timestamp lookup and a change-feed window are read on
  the driver: building those reads runs no Spark job.
- A governed tip read lists only the files its ACL admits, and the reader
  stats them on the driver: no listing job past Spark's 32-path
  parallel-discovery default.
"""

from __future__ import annotations

import json
import os
from urllib.parse import unquote, urlparse

import pyspark.sql.functions as F
import pytest

from delta_lake_proxy_spark import Engine, EngineConfig, deltalog
from delta_lake_proxy_spark.engine import write_governed_table
from delta_lake_proxy_spark.errors import NoSuchKeyError, UnsupportedProtocolError


def _table(spark, root: str, rows: int = 100, files: int = 2) -> str:
    path = os.path.join(root, "t")
    df = spark.range(0, rows).withColumn("p", (F.col("id") % files).cast("string"))
    write_governed_table(spark, df.repartition(1), path, ["p"])
    return path


def _engine(spark, path: str) -> Engine:
    return Engine(spark, EngineConfig(table_mapping={"t": path}, read_only=False))


# ---------------------------------------------------------------------------
# one tip resolution per operation
# ---------------------------------------------------------------------------


def test_one_tip_resolution_per_operation(spark, tmp_path, count_tip_resolutions):
    """Below the checkpoint interval every operation lists ``_delta_log/``
    for the tip once; the rest of its listings are the log replays it
    needs. Counts are (tip resolutions, ``_delta_log/`` listings)."""
    path = _table(spark, str(tmp_path))
    count = lambda fn: count_tip_resolutions(fn, path)[1:]  # noqa: E731

    eng = _engine(spark, path)
    # cold: tip + live-file replay + the scan's action-count estimate
    assert count(lambda: eng.read_table("t").count()) == (1, 3)
    assert count(lambda: eng.read_table("t").count()) == (1, 1)
    # append: the tip crc serves protocol and metaData; no replay
    more = spark.range(100, 110).withColumn("p", F.lit("0"))
    assert count(lambda: _engine(spark, path).write_table("t", more)) == (1, 1)
    # DML on a cold engine: tip + replay + estimate, plus the checksum's
    # pre-commit replay (sizeless copy-on-write tombstones)
    assert count(lambda: _engine(spark, path).delete("t", F.col("id") == 3)) == (1, 4)
    src = spark.range(0, 5).withColumn("p", (F.col("id") % 2).cast("string"))
    assert count(lambda: _engine(spark, path).merge("t", src, on=["id", "p"])) == (1, 4)
    eng = _engine(spark, path)
    assert count(lambda: eng.list_files("t").collect()) == (1, 2)
    rel = sorted(eng._file_index(path).adds)[0]
    assert count(lambda: eng.authorize_file("t", "anyone", rel)) == (0, 0)
    assert deltalog.latest_version(path) < EngineConfig().checkpoint_interval
    # 100 + 10 appended - 1 deleted - 4 matched + 5 merged
    assert eng.read_table("t").count() == 110


def test_get_trusts_the_cached_entry_until_an_operation_refreshes_it(spark, tmp_path):
    """GET does not tip-check; a read (like LIST) refreshes the one entry,
    and an engine commit drops it."""
    path = _table(spark, str(tmp_path))
    eng = _engine(spark, path)
    eng.read_table("t").count()
    only = sorted(eng._file_index(path).adds)
    deltalog.write_commit(path, [], removes=[{"path": only[0]}])
    assert eng.authorize_file("t", "anyone", only[0])  # stale entry, by contract
    eng.read_table("t")  # tip-checked: rebuilds the entry
    with pytest.raises(NoSuchKeyError):
        eng.authorize_file("t", "anyone", only[0])
    v = eng.write_table("t", spark.range(5).withColumn("p", F.lit("1")))
    assert eng._file_index(path, tip_check=False).version == v


# ---------------------------------------------------------------------------
# lost update
# ---------------------------------------------------------------------------


def test_delete_conflicts_with_a_commit_after_its_snapshot(spark, tmp_path):
    """A raw commit removes the table's only file between ``Engine.delete``'s
    scan and its commit. The delete computed its removes from the older
    snapshot, so it must conflict — not commit its 90 survivors over the
    winner and resurrect the rows the winner deleted."""
    path = _table(spark, str(tmp_path), rows=100, files=1)
    eng = _engine(spark, path)
    (only,) = eng._file_index(path).adds
    real_commit = eng._commit_moved

    def racing_commit(snap, moved, adds, removes, **kw):
        deltalog.write_commit(path, [], removes=[{"path": only}])  # the winner
        return real_commit(snap, moved, adds, removes, **kw)

    eng._commit_moved = racing_commit
    with pytest.raises(deltalog.ConcurrentWriteError):
        eng.delete("t", F.col("id") < 10)
    eng._commit_moved = real_commit
    assert eng.read_table("t").count() == 0  # nothing resurrected
    assert deltalog._live_adds_no_spark(path) == {}
    # the loser's staged files were cleaned up: only the original remains
    on_disk = [
        os.path.relpath(os.path.join(r, f), path)
        for r, _d, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]
    assert on_disk == [only]


def test_append_retries_past_a_commit_after_its_snapshot(spark, tmp_path):
    """Blind appends stay non-conflicting: an append whose snapshot went
    stale retries at the next version and both commits survive."""
    path = _table(spark, str(tmp_path), rows=10, files=1)
    eng = _engine(spark, path)
    real_commit = eng._commit_moved

    def racing_commit(snap, moved, adds, removes, **kw):
        deltalog.write_commit(path, [])  # an empty winner at snap.version + 1
        return real_commit(snap, moved, adds, removes, **kw)

    eng._commit_moved = racing_commit
    v = eng.write_table("t", spark.range(10, 15).withColumn("p", F.lit("0")))
    eng._commit_moved = real_commit
    assert v == 2
    assert eng.read_table("t").count() == 15


# ---------------------------------------------------------------------------
# fail closed on corrupt metadata
# ---------------------------------------------------------------------------


def _raw_table(root: str, schema_string: str, protocol: dict | None = None) -> str:
    """A foreign table with one data file and the given schemaString."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rel = "part=A/part-00000.parquet"
    os.makedirs(os.path.join(root, "part=A"))
    pq.write_table(pa.table({"id": pa.array([1, 2, 3], type=pa.int64())}), os.path.join(root, rel))
    os.makedirs(deltalog.log_path(root))
    actions = [
        {"commitInfo": {"timestamp": 1700000000000, "operation": "WRITE"}},
        {"protocol": protocol or {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": "corrupt",
                "format": {"provider": "parquet"},
                "schemaString": schema_string,
                "partitionColumns": ["part"],
                "configuration": {},
                "createdTime": 1700000000000,
            }
        },
        {
            "add": {
                "path": rel,
                "partitionValues": {"part": "A"},
                "size": os.path.getsize(os.path.join(root, rel)),
                "modificationTime": 1700000000000,
                "dataChange": True,
            }
        },
    ]
    with open(os.path.join(deltalog.log_path(root), f"{0:020d}.json"), "w") as f:
        f.write("\n".join(json.dumps(a) for a in actions) + "\n")
    return root


def _schema(invariant: str | None = None) -> str:
    md = {} if invariant is None else {"delta.invariants": invariant}
    return json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True, "metadata": md},
                {"name": "part", "type": "string", "nullable": True, "metadata": {}},
            ],
        }
    )


def _rows(spark):
    return spark.createDataFrame([(7, "A")], "id long, part string")


CORRUPT_SCHEMAS = {
    "not_json": '{"type": "struct", "fields": [',
    "fields_not_a_list": '{"type": "struct", "fields": {"id": "long"}}',
    "field_without_name": '{"type": "struct", "fields": [{"type": "long"}]}',
    "field_not_an_object": '{"type": "struct", "fields": ["id"]}',
}


@pytest.mark.parametrize("kind", sorted(CORRUPT_SCHEMAS))
def test_corrupt_schema_string_refuses_commit_and_read(spark, tmp_path, kind):
    path = _raw_table(str(tmp_path / "t"), CORRUPT_SCHEMAS[kind])
    with pytest.raises(UnsupportedProtocolError, match="corrupt metadata"):
        deltalog.write_commit(path, [])
    eng = _engine(spark, path)
    with pytest.raises(UnsupportedProtocolError, match="corrupt metadata"):
        eng.write_table("t", _rows(spark))
    with pytest.raises(UnsupportedProtocolError, match="corrupt metadata"):
        eng.read_table("t")
    assert deltalog.latest_version(path) == 0  # nothing committed


@pytest.mark.parametrize(
    "invariant",
    ['{"expression": "id > 0"}', '["id > 0"]', '{"expression": {"sql": "id > 0"}}', "42"],
)
def test_malformed_invariants_refuse_the_commit(spark, tmp_path, invariant):
    """JSON that is not ``{"expression": {"expression": "<sql>"}}`` is not
    evaluated as SQL text: the commit refuses."""
    path = _raw_table(str(tmp_path / "t"), _schema(invariant))
    with pytest.raises(UnsupportedProtocolError, match="delta.invariants"):
        deltalog.declared_invariants(path)
    with pytest.raises(UnsupportedProtocolError, match="delta.invariants"):
        _engine(spark, path).write_table("t", _rows(spark))
    with pytest.raises(UnsupportedProtocolError, match="delta.invariants"):
        deltalog.write_commit(path, [], enforced_constraints=True)
    assert deltalog.latest_version(path) == 0


def test_unknown_writer_feature_refuses_the_commit(spark, tmp_path):
    proto = {"minReaderVersion": 1, "minWriterVersion": 7, "writerFeatures": ["futureFeature"]}
    path = _raw_table(str(tmp_path / "t"), _schema(), protocol=proto)
    with pytest.raises(UnsupportedProtocolError, match="futureFeature"):
        deltalog.write_commit(path, [])
    with pytest.raises(UnsupportedProtocolError, match="futureFeature"):
        _engine(spark, path).write_table("t", _rows(spark))
    assert deltalog.latest_version(path) == 0
    assert _engine(spark, path).read_table("t").count() == 3  # reads are fine


@pytest.mark.parametrize("schema_string", ["{}", '{"v":1}', ""])
def test_schema_without_fields_declares_no_columns(tmp_path, schema_string):
    path = _raw_table(str(tmp_path / "t"), schema_string)
    snap = deltalog.load_snapshot(path)
    assert snap.fields == () and snap.schema is None
    assert snap.invariants == {} and snap.generated == {} and snap.identity == {}
    assert deltalog.write_commit(path, []) == 1


# ---------------------------------------------------------------------------
# pinned versions and commit windows are read on the driver
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("read", ["version", "timestamp", "changes"])
def test_pinned_reads_and_change_feeds_plan_without_spark_jobs(spark, tmp_path, count_jobs, read):
    """Building a time-travel read, a timestamp read or a change feed runs
    0 Spark jobs: the pinned entry, the timestamp lookup and the window's
    actions all come from the driver-side log reader."""
    path = _table(spark, str(tmp_path))
    eng = _engine(spark, path)
    eng.write_table("t", spark.range(100, 110).withColumn("p", F.lit("0")))
    ci = next(deltalog.commit_actions(path, 0))["commitInfo"]
    t0 = (ci["timestamp"] + 0.5) / 1000  # between v0 and v1, epoch seconds
    build = {
        "version": lambda: eng.read_table("t", version=0),
        "timestamp": lambda: eng.read_table("t", timestamp_as_of=t0),
        "changes": lambda: eng.table_changes("t", 0, 1),
    }[read]
    build()  # warm the tip entry and the JVM-side readers
    df, jobs = count_jobs(build)
    assert jobs == 0
    assert df.count() == {"version": 100, "timestamp": 100, "changes": 10}[read]


# ---------------------------------------------------------------------------
# governed tip reads list the admitted files on the driver
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("user", ["alice", "bob", "carol"])
def test_governed_tip_read_lists_admitted_files_without_spark_jobs(
    spark, tmp_path, count_jobs, user
):
    """On a 40-file table (past the 32-path parallel-discovery default),
    building a tip read runs 0 Spark jobs, and the scan's input files are
    exactly the files the user's DNF admits: all 40 for an unrestricted
    user, the two granted partitions for a governed one, none (and no
    rows) for a deny-all grant."""
    path = _table(spark, str(tmp_path), rows=400, files=40)
    eng = Engine(
        spark,
        EngineConfig(table_mapping={"t": path}),
        permissions_df=spark.createDataFrame(
            [
                (1, "bob", "t", json.dumps({"p": "7"})),
                (2, "bob", "t", json.dumps({"p": "31"})),
                (3, "carol", "t", json.dumps({})),
            ],
            "id int, user_id string, table_name string, partition_filters string",
        ),
    )
    admitted = {"alice": None, "bob": {"7", "31"}, "carol": set()}[user]
    adds = deltalog._live_adds_no_spark(path)
    assert len(adds) == 40
    want = sorted(
        os.path.join(path, r)
        for r, a in adds.items()
        if admitted is None or a["partitionValues"]["p"] in admitted
    )
    build = lambda: eng.read_table("t", user=user)  # noqa: E731
    build()  # warm the ACL and snapshot caches
    df, jobs = count_jobs(build)
    assert jobs == 0
    assert sorted(unquote(urlparse(u).path) for u in df.inputFiles()) == want
    assert df.count() == 10 * len(want)


@pytest.mark.parametrize("key", ["P", "id"])
def test_grant_keys_match_partition_values_exactly(spark, tmp_path, key):
    """A grant key that differs in case from the partition column, or names
    a non-partition column, admits no file on the driver — the rule GET
    applies — so the read returns no rows (fail-closed), where a
    case-insensitive Catalyst filter alone would have matched rows."""
    from delta_lake_proxy_spark.errors import ForbiddenByPolicyError

    path = _table(spark, str(tmp_path), rows=20, files=2)
    eng = Engine(
        spark,
        EngineConfig(table_mapping={"t": path}, allowed_partitions={"t": [{key: "1"}]}),
    )
    assert eng.read_table("t").count() == 0
    adds = deltalog._live_adds_no_spark(path)
    rel = next(r for r, a in adds.items() if a["partitionValues"]["p"] == "1")
    with pytest.raises(ForbiddenByPolicyError):
        eng.authorize_file("t", "anonymous", rel)


def test_governed_read_admitting_no_file_of_a_schemaless_table(spark, tmp_path):
    """A table whose log carries no schema takes its column types from the
    files, so a governed read keeps every file and the Catalyst filter
    alone enforces the grant: a grant that admits no file still reads (0
    rows) with the partition column, and a grant on one partition sees the
    same schema as an unrestricted user even when only the other
    partition's value is not an integer."""
    path = str(tmp_path / "t")
    spark.range(0, 20).withColumn("p", (F.col("id") % 2).cast("string")).write.partitionBy(
        "p"
    ).parquet(path)
    deltalog.commit_dir_state(path, ["p"])
    assert deltalog.load_snapshot(path).schema is None
    for grant, rows in (([{"p": "1"}], 10), ([{"p": "9"}], 0), ([{}], 0)):
        eng = Engine(
            spark, EngineConfig(table_mapping={"t": path}, allowed_partitions={"t": grant})
        )
        assert eng.read_table("t").count() == rows

    mixed = str(tmp_path / "mixed")
    spark.range(0, 20).withColumn(
        "p", F.when(F.col("id") % 2 == 0, F.lit("1")).otherwise(F.lit("x"))
    ).write.partitionBy("p").parquet(mixed)
    deltalog.commit_dir_state(mixed, ["p"])
    assert deltalog.load_snapshot(mixed).schema is None
    everyone = Engine(spark, EngineConfig(table_mapping={"m": mixed}))
    granted = Engine(
        spark, EngineConfig(table_mapping={"m": mixed}, allowed_partitions={"m": [{"p": "1"}]})
    )
    assert dict(everyone.read_table("m").dtypes)["p"] == "string"
    df = granted.read_table("m")
    assert df.schema == everyone.read_table("m").schema
    assert sorted(r.p for r in df.select("p").distinct().collect()) == ["1"]
    assert df.count() == 10
