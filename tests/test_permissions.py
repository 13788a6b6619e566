"""One driver-side snapshot of the permissions table per ACL-cache TTL.

- ``acl.load_permissions`` + ``Permissions.lookup`` give exactly what
  ``acl.permissions_for`` gives, pair by pair.
- An ACL-cache miss runs no Spark job once the snapshot is loaded; N
  distinct users inside one TTL cost one job in total.
- A revoked grant stops admitting within one TTL (a memo entry never
  outlives its snapshot); ``invalidate_caches()`` drops the snapshot.
- The memo is keyed on ``(user, alias)``: a ``:`` in a user or alias
  cannot make two pairs share an entry.
- A malformed grant row denies its own ``(user, table)`` with a 403 and
  leaves every other pair alone.
"""

from __future__ import annotations

import json

import pytest

from delta_lake_proxy_spark import Engine, EngineConfig, acl, deltalog
from delta_lake_proxy_spark.errors import ForbiddenByPolicyError

SCHEMA = "id int, user_id string, table_name string, partition_filters string"


def _engine(spark, gov_table, rows, ttl_s=120.0, aliases=("gov",)):
    return Engine(
        spark,
        EngineConfig(
            table_mapping={a: gov_table for a in aliases}, acl_cache_ttl_s=ttl_s
        ),
        permissions_df=spark.createDataFrame(rows, SCHEMA),
    )


def _file_in(gov_table, flag):
    """A live data file of ``gov_table`` in partition ``l_returnflag=flag``."""
    adds = deltalog._live_adds_no_spark(gov_table)
    return next(
        p for p, a in sorted(adds.items())
        if a["partitionValues"]["l_returnflag"] == flag
    )


def _fake_clock(eng):
    now = [0.0]
    eng._acl_cache._clock = eng._permissions_cache._clock = lambda: now[0]
    return now


# ---------------------------------------------------------------------------
# parity with permissions_for
# ---------------------------------------------------------------------------


def test_snapshot_lookup_matches_permissions_for(spark):
    perms = spark.createDataFrame(
        [
            (1, "alice", "t", json.dumps({"mic": "XLON"})),
            (2, "bob", "t", json.dumps({"mic": "XMIL"})),
            (3, "alice", "t", json.dumps({})),  # blanked grant: kept as {}
            (4, "alice", "u", json.dumps({"mic": "XPAR", "d": 1})),
            (5, "alice", "t", None),  # skipped
            (6, "alice", "t", ""),  # skipped
            (7, "carol", "t", None),  # only a null row: unrestricted
            (8, "alice", "t", json.dumps({"mic": "XAMS"})),
            (9, "dave", "u", json.dumps({})),  # only a blanked grant
        ],
        SCHEMA,
    )
    snap = acl.load_permissions(perms)
    want = {
        ("alice", "t"): [{"mic": "XLON"}, {}, {"mic": "XAMS"}],  # collect order
        ("alice", "u"): [{"mic": "XPAR", "d": "1"}],
        ("bob", "t"): [{"mic": "XMIL"}],
        ("bob", "u"): [],
        ("carol", "t"): [],
        ("dave", "u"): [{}],
        ("erin", "t"): [],
    }
    for (user, table), dnf in want.items():
        assert snap.lookup(user, table) == dnf
        assert acl.permissions_for(perms, user, table) == dnf
    assert acl.load_permissions(None).lookup("alice", "t") == []


def test_snapshot_lookup_matches_permissions_for_map_column(spark):
    perms = spark.createDataFrame(
        [
            (1, "alice", "t", {"mic": "XLON", "seg": "A"}),
            (2, "alice", "t", {}),  # an empty map is an empty value: skipped
            (3, "alice", "t", None),
            (4, "alice", "t", {"mic": "XPAR"}),
            (5, "bob", "t", {"mic": "XMIL"}),
        ],
        "id int, user_id string, table_name string, "
        "partition_filters map<string,string>",
    )
    snap = acl.load_permissions(perms)
    for user, dnf in [
        ("alice", [{"mic": "XLON", "seg": "A"}, {"mic": "XPAR"}]),
        ("bob", [{"mic": "XMIL"}]),
        ("carol", []),
    ]:
        assert snap.lookup(user, "t") == dnf
        assert acl.permissions_for(perms, user, "t") == dnf


# ---------------------------------------------------------------------------
# Spark jobs
# ---------------------------------------------------------------------------


def test_acl_miss_runs_no_spark_job_once_snapshot_warm(spark, gov_table, count_jobs):
    rows = [(i, f"u{i}", "gov", json.dumps({"l_returnflag": "A"})) for i in range(3)]
    eng = _engine(spark, gov_table, rows)
    rel = _file_in(gov_table, "A")
    assert eng.authorize_file("gov", "u0", rel)  # loads snapshot + file index
    ok, jobs = count_jobs(lambda: eng.authorize_file("gov", "u1", rel))
    assert ok and jobs == 0
    with pytest.raises(ForbiddenByPolicyError):
        eng.authorize_file("gov", "u2", _file_in(gov_table, "R"))


def test_distinct_user_misses_in_one_ttl_run_one_job(spark, gov_table, count_jobs):
    n = 12
    rows = [
        (i, f"u{i}", "gov", json.dumps({"l_returnflag": "AR"[i % 2]}))
        for i in range(n)
    ]
    eng = _engine(spark, gov_table, rows)
    dnfs, jobs = count_jobs(
        lambda: [eng.resolved_dnf("gov", f"u{i}") for i in range(n)]
    )
    assert jobs == 1
    assert dnfs == [[{"l_returnflag": "AR"[i % 2]}] for i in range(n)]


# ---------------------------------------------------------------------------
# freshness
# ---------------------------------------------------------------------------


def test_revoked_grant_stops_admitting_within_one_ttl(spark, gov_table):
    grant_a = [
        (1, "u", "gov", json.dumps({"l_returnflag": "A"})),
        (2, "v", "gov", json.dumps({"l_returnflag": "A"})),
    ]
    eng = _engine(spark, gov_table, grant_a, ttl_s=10.0)
    now = _fake_clock(eng)
    rel_a = _file_in(gov_table, "A")
    assert eng.authorize_file("gov", "u", rel_a)  # snapshot taken at t=0
    now[0] = 1.0  # revoke: v keeps only R
    eng.permissions_df = spark.createDataFrame(
        [
            (1, "u", "gov", json.dumps({"l_returnflag": "A"})),
            (2, "v", "gov", json.dumps({"l_returnflag": "R"})),
        ],
        SCHEMA,
    )
    now[0] = 9.0  # inside the TTL: v's first lookup reads the t=0 snapshot
    assert eng.authorize_file("gov", "v", rel_a)
    now[0] = 11.0  # one TTL after the revocation: the memo entry built at
    with pytest.raises(ForbiddenByPolicyError):  # t=9 went with its snapshot
        eng.authorize_file("gov", "v", rel_a)
    assert eng.authorize_file("gov", "v", _file_in(gov_table, "R"))
    assert eng.authorize_file("gov", "u", rel_a)


def test_invalidate_caches_drops_snapshot(spark, gov_table, count_jobs):
    eng = _engine(spark, gov_table, [(1, "u", "gov", json.dumps({"l_returnflag": "A"}))])
    assert eng.resolved_dnf("gov", "u") == [{"l_returnflag": "A"}]
    eng.permissions_df = spark.createDataFrame(
        [(1, "u", "gov", json.dumps({"l_returnflag": "N"}))], SCHEMA
    )
    assert eng.resolved_dnf("gov", "w") == []  # new user, same snapshot
    assert eng.resolved_dnf("gov", "u") == [{"l_returnflag": "A"}]
    eng.invalidate_caches()
    dnf, jobs = count_jobs(lambda: eng.resolved_dnf("gov", "u"))
    assert dnf == [{"l_returnflag": "N"}] and jobs == 1


# ---------------------------------------------------------------------------
# memo key
# ---------------------------------------------------------------------------


def test_acl_memo_key_does_not_collide_on_colon(spark, gov_table):
    """User ``a:b`` on alias ``c`` and user ``a`` on alias ``b:c`` both
    read ``a:b:c`` as a joined string key; each must get its own grant."""
    eng = _engine(
        spark,
        gov_table,
        [
            (1, "a:b", "c", json.dumps({"l_returnflag": "A"})),
            (2, "a", "b:c", json.dumps({"l_returnflag": "R"})),
        ],
        aliases=("c", "b:c"),
    )
    assert eng.resolved_dnf("c", "a:b") == [{"l_returnflag": "A"}]
    assert eng.resolved_dnf("b:c", "a") == [{"l_returnflag": "R"}]
    assert eng.resolved_dnf("c", "a:b") == [{"l_returnflag": "A"}]


# ---------------------------------------------------------------------------
# malformed grant rows
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("bad", ["{not json", "[]", "null", "7", '"A"'])
def test_malformed_grant_denies_only_its_pair(spark, gov_table, bad):
    eng = _engine(
        spark,
        gov_table,
        [
            (1, "bad", "gov", json.dumps({"l_returnflag": "A"})),
            (2, "bad", "gov", bad),
            (3, "good", "gov", json.dumps({"l_returnflag": "A"})),
            (4, "bad", "other", json.dumps({"l_returnflag": "R"})),
        ],
        aliases=("gov", "other"),
    )
    rel_a = _file_in(gov_table, "A")
    with pytest.raises(ForbiddenByPolicyError) as err:
        eng.authorize_file("gov", "bad", rel_a)
    assert err.value.status == 403 and err.value.user == "bad"
    with pytest.raises(ForbiddenByPolicyError):
        eng.read_table("gov", user="bad")
    assert eng.authorize_file("gov", "good", rel_a)
    assert eng.resolved_dnf("other", "bad") == [{"l_returnflag": "R"}]
    with pytest.raises(ForbiddenByPolicyError):
        acl.permissions_for(eng.permissions_df, "bad", "gov")
    assert acl.permissions_for(eng.permissions_df, "good", "gov") == [
        {"l_returnflag": "A"}
    ]
