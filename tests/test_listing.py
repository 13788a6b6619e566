"""S3-listing emulation semantics (S3-S5, O1-O2, P1, P5).

Mirrors the reference's listing tests (src/main.rs:1247-1346: prefix
translation, alias-namespace rewriting; src/main.rs:1601-1652: continuation
token; src/main.rs:251-262: start-after strictly-after, max-keys limit).
"""

from __future__ import annotations

import pytest

from delta_lake_proxy_spark import Engine, EngineConfig


@pytest.fixture(scope="module")
def eng(spark, gov_table):
    return Engine(spark, EngineConfig(table_mapping={"gov": gov_table}))


def keys(df):
    return [r["key"] for r in df.collect()]


def test_keys_are_alias_namespaced_and_ordered(eng):
    ks = keys(eng.list_files("gov"))
    assert ks == sorted(ks)
    assert all(k.startswith("gov/l_returnflag=") for k in ks)
    assert len(ks) == 3


def test_prefix_filter(eng):
    ks = keys(eng.list_files("gov", prefix="gov/l_returnflag=A/"))
    assert len(ks) == 1 and "l_returnflag=A" in ks[0]
    assert keys(eng.list_files("gov", prefix="gov/zzz")) == []


def test_start_after_strictly_after(eng):
    all_keys = keys(eng.list_files("gov"))
    ks = keys(eng.list_files("gov", start_after=all_keys[0]))
    assert ks == all_keys[1:]


def test_max_keys_and_continuation_token(eng):
    all_keys = keys(eng.list_files("gov"))
    page1 = keys(eng.list_files("gov", max_keys=2))
    assert page1 == all_keys[:2]
    page2 = keys(eng.list_files("gov", continuation_token=page1[-1], max_keys=2))
    assert page2 == all_keys[2:]


def test_listing_is_not_acl_filtered(spark, gov_table):
    # the reference never filters listings (src/main.rs:514-529)
    eng = Engine(
        spark,
        EngineConfig(
            table_mapping={"gov": gov_table},
            allowed_partitions={"gov": [{"l_returnflag": "A"}]},
        ),
    )
    assert len(keys(eng.list_files("gov"))) == 3


def test_delimiter_groups_common_prefixes(eng):
    """delimiter='/' collapses partition directories into CommonPrefixes
    rows (ref src/main.rs:307-317; golden src/main.rs:1286-1294)."""
    df = eng.list_files("gov", prefix="gov/", delimiter="/")
    rows = df.collect()
    assert [r["key"] for r in rows] == [
        "gov/l_returnflag=A/",
        "gov/l_returnflag=N/",
        "gov/l_returnflag=R/",
    ]
    assert all(r["is_common_prefix"] for r in rows)
    assert all(r["size"] is None and r["modificationTime"] is None for r in rows)


def test_delimiter_mixes_contents_and_prefixes_in_key_order(eng):
    """Keys without the delimiter in their remainder stay Contents rows,
    interleaved with prefixes in lexicographic order; max_keys counts both
    (S3 semantics)."""
    # delimiter '=' with prefix 'gov/': every key groups at 'gov/l_returnflag='
    rows = eng.list_files("gov", prefix="gov/", delimiter="=").collect()
    assert [r["key"] for r in rows] == ["gov/l_returnflag="]
    assert rows[0]["is_common_prefix"]
    # a prefix BELOW the partition dir leaves plain file keys ungrouped
    rows2 = eng.list_files("gov", prefix="gov/l_returnflag=A/", delimiter="/").collect()
    assert len(rows2) == 1 and not rows2[0]["is_common_prefix"]
    assert rows2[0]["size"] > 0
    # pagination over grouped rows: strictly-after + max_keys
    page1 = eng.list_files("gov", prefix="gov/", delimiter="/", max_keys=2).collect()
    assert [r["key"] for r in page1] == ["gov/l_returnflag=A/", "gov/l_returnflag=N/"]
    page2 = eng.list_files(
        "gov", prefix="gov/", delimiter="/", continuation_token=page1[-1]["key"]
    ).collect()
    assert [r["key"] for r in page2] == ["gov/l_returnflag=R/"]


def test_file_stats_schema(eng):
    rows = eng.file_stats("gov").collect()
    assert len(rows) == 3
    for r in rows:
        assert r["size"] > 0 and r["last_modified"] is not None


@pytest.fixture(scope="module")
def churned(spark, lineitem, tmp_path_factory):
    """A two-level partitioned table whose snapshot needs every replay
    rule: a checkpoint, a JSON tail after it, and a file the tail removes."""
    from delta_lake_proxy_spark import deltalog
    from delta_lake_proxy_spark.engine import write_governed_table

    path = str(tmp_path_factory.mktemp("listing") / "churned")
    df = lineitem.select("l_orderkey", "l_returnflag", "l_linestatus")
    write_governed_table(
        spark, df.repartition(1), path, ["l_returnflag", "l_linestatus"]
    )
    eng = Engine(spark, EngineConfig(table_mapping={"t": path}, read_only=False))
    eng.write_table("t", df.limit(50))
    deltalog.write_checkpoint(spark, path)
    eng.write_table("t", df.limit(20).repartition(2))
    victim = sorted(deltalog._live_adds_no_spark(path))[0]
    deltalog.write_commit(path, [], [{"path": victim, "dataChange": True}])
    assert deltalog.last_checkpoint(path)["version"] == 1
    return eng, path, victim


def expected_page(files, prefix=None, start_after=None, max_keys=None,
                  continuation_token=None, delimiter=None):
    """ListObjectsV2 semantics stated directly: group every prefixed key,
    keep grouped keys strictly after the token, sort, cut at max_keys."""
    prefix = prefix or ""
    after = continuation_token or start_after
    rows = {}
    for key, size, mtime in files:
        if not key.startswith(prefix):
            continue
        pos = key.find(delimiter, len(prefix)) if delimiter else -1
        if pos >= 0:
            group = key[: pos + len(delimiter)]
            rows[group] = (group, None, None, True)
        else:
            rows[key] = (key, size, mtime, False)
    out = sorted(r for k, r in rows.items() if not after or k > after)
    out = out[:max_keys] if max_keys is not None else out
    return out if delimiter else [r[:3] for r in out]


def snapshot_listing(spark, path):
    """Alias-namespaced keys with size and mtime from the Spark log replay."""
    from delta_lake_proxy_spark import deltalog

    return [
        ("t/" + r["path"], r["size"], r["modificationTime"])
        for r in deltalog.snapshot_files(spark, path).collect()
    ]


def test_replay_fixture_has_removed_file(spark, churned):
    eng, path, victim = churned
    files = snapshot_listing(spark, path)
    assert "t/" + victim not in {k for k, _, _ in files}
    assert len(files) > 4
    assert keys(eng.list_files("t")) == sorted(k for k, _, _ in files)


@pytest.mark.parametrize(
    "kw",
    [
        {},
        {"prefix": "t/l_returnflag=N/"},
        {"prefix": "t/l_returnflag=N"},
        {"prefix": "t/zzz"},
        {"max_keys": 0},
        {"max_keys": 1},
        {"max_keys": 10_000},
        {"prefix": "t/l_returnflag=N/", "max_keys": 2},
        {"delimiter": "/"},
        {"prefix": "t/", "delimiter": "/"},
        {"prefix": "t/", "delimiter": "="},
        {"prefix": "t/l_returnflag=N/", "delimiter": "/"},
        {"prefix": "t/l_returnflag=N/", "delimiter": "="},
        {"prefix": "t/l_returnflag=A/l_linestatus=F/", "delimiter": "/"},
        {"prefix": "t/", "delimiter": "/", "max_keys": 0},
    ],
)
def test_listing_matches_spark_replay(spark, churned, kw):
    eng, path, _ = churned
    want = expected_page(snapshot_listing(spark, path), **kw)
    assert [tuple(r) for r in eng.list_files("t", **kw).collect()] == want


@pytest.mark.parametrize("delimiter", [None, "/", "="])
@pytest.mark.parametrize("token", ["start_after", "continuation_token"])
def test_strictly_after_matches_spark_replay(spark, churned, delimiter, token):
    """Every key, every group and a key inside a group as the marker."""
    eng, path, _ = churned
    files = snapshot_listing(spark, path)
    markers = sorted({k for k, _, _ in files}) + [
        "t/", "t/l_returnflag=N/", "t/l_returnflag=N/l_linestatus=O/", "t/zzz"
    ]
    for after in markers:
        kw = {"prefix": "t/", token: after, "delimiter": delimiter}
        want = expected_page(files, **kw)
        assert [tuple(r) for r in eng.list_files("t", **kw).collect()] == want, after


@pytest.mark.parametrize(
    "prefix, delimiter",
    [("t/", "/"), ("t/l_returnflag=N/", "/"), ("t/l_returnflag=", "=")],
)
def test_delimiter_pages_chain_with_continuation_token(spark, churned, prefix,
                                                       delimiter):
    eng, path, _ = churned
    want = expected_page(snapshot_listing(spark, path), prefix=prefix,
                         delimiter=delimiter)
    page1 = [tuple(r) for r in eng.list_files(
        "t", prefix=prefix, delimiter=delimiter, max_keys=1).collect()]
    page2 = [tuple(r) for r in eng.list_files(
        "t", prefix=prefix, delimiter=delimiter, max_keys=len(want),
        continuation_token=page1[-1][0]).collect()]
    assert len(want) >= 2
    assert page1 + page2 == want


def test_empty_page_keeps_column_types(churned):
    eng, _, _ = churned
    assert eng.list_files("t", max_keys=0).dtypes == [
        ("key", "string"), ("size", "bigint"), ("modificationTime", "bigint")
    ]
    assert eng.list_files("t", prefix="t/zzz", delimiter="/").dtypes == [
        ("key", "string"), ("size", "bigint"), ("modificationTime", "bigint"),
        ("is_common_prefix", "boolean"),
    ]


def test_list_and_get_run_zero_spark_jobs(spark, churned, count_jobs):
    """LIST pages and GETs are driver-side lookups on a cold and on a warm
    file index."""
    _, path, _ = churned
    eng = Engine(
        spark,
        EngineConfig(
            table_mapping={"t": path},
            allowed_partitions={"t": [{"l_returnflag": "N"}]},
        ),
    )
    granted = next(k for k in keys(eng.list_files("t")) if "l_returnflag=N" in k)
    for warm in (False, True):
        if not warm:
            eng.invalidate_caches()
        rows, jobs = count_jobs(
            lambda: eng.list_files("t", prefix="t/", max_keys=3).collect()
        )
        assert len(rows) == 3 and jobs == 0
        rows, jobs = count_jobs(
            lambda: eng.list_files("t", prefix="t/", delimiter="/").collect()
        )
        assert rows and jobs == 0
        if not warm:
            eng.invalidate_caches()
        ok, jobs = count_jobs(lambda: eng.authorize_file("t", "u", granted[2:]))
        assert ok is True and jobs == 0


def test_list_sees_commit_written_behind_the_engine(spark, churned):
    """A commit straight through the log writer, with no engine cache
    invalidation, shows in the next LIST; the refreshed index is the one
    GET reads."""
    import os
    import shutil

    from delta_lake_proxy_spark import deltalog

    eng, path, _ = churned
    before = keys(eng.list_files("t"))
    src = before[0][2:]
    assert eng.authorize_file("t", "u", src)
    rel = os.path.join(os.path.dirname(src), "part-behind-engine.parquet")
    shutil.copyfile(os.path.join(path, src), os.path.join(path, rel))
    deltalog.write_commit(
        path, [deltalog.add_action_for(path, rel, ["l_returnflag", "l_linestatus"])]
    )
    after = keys(eng.list_files("t"))
    assert after == sorted(before + ["t/" + rel])
    assert eng.authorize_file("t", "u", rel)


def test_repeated_page_reuses_its_dataframe(churned, count_jobs, monkeypatch):
    """A page whose rows the entry already served comes back as the same
    DataFrame: no new createDataFrame, and its collect still runs no job.
    Requests that resolve to the same rows share it; the same rows under a
    delimiter are another relation (one more column)."""
    eng, _, _ = churned
    eng.invalidate_caches()
    built = []
    real = eng.spark.createDataFrame
    monkeypatch.setattr(
        eng.spark, "createDataFrame", lambda *a, **k: built.append(1) or real(*a, **k)
    )
    first = eng.list_files("t", prefix="t/", max_keys=3)
    want = first.collect()
    assert len(built) == 1
    again = eng.list_files("t", prefix="t/", max_keys=3)
    assert again is first and len(built) == 1
    rows, jobs = count_jobs(again.collect)
    assert rows == want and jobs == 0
    # a marker before every key selects the same rows
    assert eng.list_files("t", prefix="t/", start_after="t/", max_keys=3) is first
    grouped = eng.list_files("t", prefix="t/", max_keys=3, delimiter="#")
    assert grouped is not first and len(built) == 2
    assert [tuple(r)[:3] for r in grouped.collect()] == [tuple(r) for r in want]


def test_readded_path_lists_its_new_size(spark, tmp_path):
    """A path removed and then added again with another size lists with
    the new size: the served page of the earlier version is not reused."""
    import os

    from delta_lake_proxy_spark import deltalog

    t = str(tmp_path / "readd")
    os.makedirs(t)

    def add(size):
        return {"path": "p=1/a.parquet", "partitionValues": {"p": "1"},
                "size": size, "modificationTime": 7}

    deltalog.write_commit(t, [add(10)], partition_cols=["p"], schema_json="{}")
    eng = Engine(spark, EngineConfig(table_mapping={"t": t}))

    def page():
        return [tuple(r) for r in eng.list_files("t").collect()]

    assert page() == [("t/p=1/a.parquet", 10, 7)]
    deltalog.write_commit(t, [], [{"path": "p=1/a.parquet", "dataChange": True}])
    assert page() == []
    deltalog.write_commit(t, [add(20)])
    assert page() == [("t/p=1/a.parquet", 20, 7)]


def test_page_memo_is_bounded(spark, churned, monkeypatch):
    """The entry keeps at most its bound of pages and of rows, evicting the
    least recently served, and never keeps a page over the MaxKeys
    ceiling."""
    from delta_lake_proxy_spark import deltalog, engine

    _, path, _ = churned
    monkeypatch.setattr(engine, "_LIST_PAGE_MEMO_SIZE", 2)
    ix = engine._FileIndex(deltalog.load_snapshot(path))
    pages = [[(f"t/k{i}", i, 0, False)] for i in range(4)]
    frames = [ix.page_frame(spark, rows, None) for rows in pages]
    assert len(ix._pages) == 2
    assert ix.page_frame(spark, pages[3], None) is frames[3]
    assert ix.page_frame(spark, pages[0], None) is not frames[0]
    assert len(ix._pages) == 2
    ceiling = engine._LIST_PAGE_MEMO_MAX_ROWS
    long = [(f"t/k{i:05d}", i, 0, False) for i in range(ceiling + 1)]
    big = ix.page_frame(spark, long, None)
    assert ix.page_frame(spark, long, None) is not big
    assert big.count() == ceiling + 1
    at_ceiling = long[:ceiling]
    assert ix.page_frame(spark, at_ceiling, None) is ix.page_frame(
        spark, at_ceiling, None
    )
    assert len(ix._pages) == 2
    # the row bound evicts the oldest pages until the rows fit
    monkeypatch.setattr(engine, "_LIST_PAGE_MEMO_ROWS", ceiling + 1)
    last = ix.page_frame(spark, long[:2], None)
    assert list(ix._pages.values()) == [last] and ix._page_rows == 2
