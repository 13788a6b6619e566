"""Plan-level ACL injection (SURVEY §4 design 2): the compiled Catalyst
resolution rule in ``ext/java/graft/GovernedAclRule.java``.

The rule must apply to RAW ``spark.read.parquet(path)`` — no Engine involved —
so these tests drive a fresh subprocess SparkSession (extensions are static
confs; the shared test session cannot load them).
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

from delta_lake_proxy_spark import acl

JAR = acl.extension_jar_path()


def test_dnf_to_sql_semantics():
    assert acl.dnf_to_sql(None) is None
    assert acl.dnf_to_sql([]) is None
    assert acl.dnf_to_sql([{}]) == "false"  # configured-but-empty: deny-all
    sql = acl.dnf_to_sql([{"a": "1", "b": "x"}, {"c": "o'k"}])
    assert "CAST(`a` AS STRING) = '1'" in sql and " OR " in sql
    assert r"'o\'k'" in sql  # quote escaping (backslash form)
    # backslash escapes before the quote: '\' must not shift literal parsing
    assert r"'a\\b'" in acl.dnf_to_sql([{"c": "a\\b"}])


def test_dnf_to_sql_quote_and_backslash_roundtrip(spark):
    """The escaped literal must select exactly the raw value when Spark
    parses it (the ADVICE failure mode: backslash shifting the match)."""
    for raw in ("o'k", "a\\b", "a\\'b", "plain"):
        df = spark.createDataFrame([(raw,), ("other",)], "c string")
        sql = acl.dnf_to_sql([{"c": raw}])
        assert [r["c"] for r in df.filter(sql).collect()] == [raw]


def test_extension_confs_shape(tmp_path):
    confs = acl.extension_confs({str(tmp_path / "t"): [{"p": "1"}]})
    assert confs["spark.sql.extensions"] == "graft.GovernedAclExtension"
    assert confs["spark.jars"].endswith("graft-acl-ext.jar")
    assert "\t" in confs["spark.graft.acl.rules"]


def test_extension_confs_reject_control_characters(tmp_path):
    # a tab/newline in a path or partition value would corrupt the
    # line-oriented rule encoding — rejected loudly, never emitted
    with pytest.raises(ValueError, match="tab/newline"):
        acl.extension_confs({str(tmp_path / "evil\tpath"): [{"p": "1"}]})
    with pytest.raises(ValueError, match="tab/newline"):
        acl.extension_confs({str(tmp_path / "t"): [{"p": "1\n/etc\tfalse"}]})


@pytest.mark.skipif(not os.path.exists(JAR), reason="extension jar not built")
def test_raw_read_is_filtered_in_extension_session(spark, tmp_path, lineitem):
    """End-to-end in a fresh JVM: a session built with extension_confs
    filters raw parquet reads of the governed path (allow one partition,
    deny-all for a second path), while an unregistered path is untouched."""
    gov = str(tmp_path / "govext")
    free = str(tmp_path / "freeext")
    base = lineitem.select("l_orderkey", "l_quantity", "l_returnflag").limit(300)
    base.write.partitionBy("l_returnflag").parquet(gov)
    base.write.partitionBy("l_returnflag").parquet(free)
    n_total = base.count()
    n_a = base.filter("l_returnflag = 'A'").count()
    assert 0 < n_a < n_total

    confs = acl.extension_confs(
        {gov: [{"l_returnflag": "A"}], str(tmp_path / "denied"): [{}]}
    )
    script = textwrap.dedent(
        f"""
        from pyspark.sql import SparkSession
        b = (SparkSession.builder.master("local[2]").appName("ext-test")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "4"))
        for k, v in {confs!r}.items():
            b = b.config(k, v)
        spark = b.getOrCreate()
        raw = spark.read.parquet({gov!r})
        assert raw.count() == {n_a}, f"governed: got {{raw.count()}}, want {n_a}"
        flags = {{r[0] for r in raw.select("l_returnflag").distinct().collect()}}
        assert flags == {{"A"}}, flags
        # plan carries the injected filter
        plan = raw._jdf.queryExecution().optimizedPlan().toString()
        assert "l_returnflag" in plan and "Filter" in plan, plan
        free = spark.read.parquet({free!r})
        assert free.count() == {n_total}, "unregistered path must be untouched"
        # V2 path: force parquet through DataSourceV2Relation (FileTable)
        spark.conf.set("spark.sql.sources.useV1SourceList", "")
        raw2 = spark.read.parquet({gov!r})
        plan2 = raw2._jdf.queryExecution().analyzed().toString()
        assert "RelationV2" in plan2, "expected a DSv2 relation: " + plan2
        assert raw2.count() == {n_a}, f"DSv2 governed: got {{raw2.count()}}, want {n_a}"
        # streaming relations are governed too: readStream over the
        # governed path must only surface the allowed partition
        seen = []
        stream = (spark.readStream.schema(raw.schema)
                  .option("pathGlobFilter", "*.parquet").parquet({gov!r}))
        q = (stream.writeStream
             .foreachBatch(lambda df, bid: seen.append(df.count()))
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        q.stop()
        assert sum(seen) == {n_a}, f"streaming governed: got {{sum(seen)}}, want {n_a}"
        # runtime conf mutation must NOT clear enforcement: the rule
        # snapshotted the rules string at session creation
        spark.conf.set("spark.graft.acl.rules", "")
        still = spark.read.parquet({gov!r})
        assert still.count() == {n_a}, "conf.set('') must not disable the ACL rule"
        print("EXT-OK")
        spark.stop()
        """
    )
    env = dict(os.environ)
    env["PYTHONPATH"] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
    )
    assert out.returncode == 0, out.stdout + out.stderr
    assert "EXT-OK" in out.stdout
