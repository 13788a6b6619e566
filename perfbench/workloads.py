"""Set-up, operation loops and answer checks of the two workloads.

Every workload runs closed-loop on one client thread: the next operation is
sent when the previous one has returned. Each operation is timed on its own
and checked against an answer computed without the engine.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import OrderedDict
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import oracle

ALIAS = "lineitem_ym"
REGISTRY = [
    "agg_group",
    "join_inner",
    "metrics_tumbling_window",
    "pipeline_clean_corpus",
    "dedup_near_minhash",
    "similarity_lsh",
]
GOVERNED_USERS = 300  # three times the engine's 100-entry ACL cache
UNRESTRICTED_USERS = 4
# Zipf skew of the GET users: in steady state about a quarter of GETs miss
# the 100-entry LRU ACL cache, mostly users it evicted earlier.
ZIPF_S = 1.0
BLOCK_REQUESTS = 100  # serve_requests stops only between blocks
# The first blocks of a fresh JVM run slower and vary most from run to run
# while the JIT compiles Spark's planning and scheduling paths; they are
# served, LIST pages included, but not measured.
WARMUP_BLOCKS = 3
MEASURED_BLOCKS = 6  # at least; about 140 of their GETs miss the ACL cache
LIST_EVERY = 25  # one LIST page per this many requests
LIST_MAX_KEYS = 50
DRIVER_ONLY = ("get", "get_after_write")  # op kinds that start no Spark job of their own
CHURN_CYCLE = "AAMAADAAA"  # A = append, M = merge, D = delete: 9 commits
READS_AFTER = (1, 2, 4, 5, 8)  # commits of the cycle followed by a governed read


def percentile(xs: list[float], p: float) -> float:
    """Linear-interpolated ``p``-th percentile."""
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


@dataclass
class Run:
    """Timings and outcomes of one run's measured operations, and the
    workload's own end-to-end figures with the samples behind each."""

    tracer: object = None
    samples: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)
    figures: dict[str, float] = field(default_factory=dict)
    basis: dict[str, str] = field(default_factory=dict)  # figure -> what it is, with n

    def timed(self, kind: str, fn) -> None:
        """Run one operation; ``fn`` returns whether the answer was right."""
        self.attempted += 1
        ok, err = False, "wrong answer"
        t0 = time.perf_counter()
        try:
            if self.tracer is not None:
                with self.tracer.op(kind, group=kind not in DRIVER_ONLY) as rec:
                    ok = fn(rec)
            else:
                ok = fn({})
        except Exception as e:  # noqa: BLE001 - any raise is a failed op
            err = f"{type(e).__name__}: {str(e)[:300]}"
        self.samples.setdefault(kind, []).append(time.perf_counter() - t0)
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(f"{kind}: {err}")

    def figure(self, name: str, value_ms: float, what: str, n: int) -> None:
        self.figures[name] = value_ms
        self.basis[name] = f"{what} (n={n})"


# -- shared set-up --------------------------------------------------------------


class Setup:
    """Inputs, grants and the pristine ``lineitem_ym`` tables of one run."""

    def __init__(self, spark, root: str, seed: int):
        from delta_lake_proxy_spark import acl

        self.spark, self.root, self.seed = spark, root, seed
        self.in_dir = os.path.join(root, "in")
        self.paths = gen.write_inputs(seed, self.in_dir)
        self.grants = gen.make_grants(seed, GOVERNED_USERS, UNRESTRICTED_USERS)
        perms = os.path.join(root, "permissions.parquet")
        rows = self.grants.rows(ALIAS)
        pq.write_table(
            pa.table({c: [r[i] for r in rows] for i, c in enumerate(acl.PERMISSIONS_COLUMNS)}),
            perms,
        )
        self.perms_df = spark.read.parquet(perms)
        self.tables: list[str] = []  # one identical table per build

    def engine(self, path: str, read_only: bool = True):
        from delta_lake_proxy_spark.engine import Engine

        return Engine(
            self.spark,
            {"tableMapping": {ALIAS: path}, "readOnly": read_only},
            permissions_df=self.perms_df,
        )

    def build_table(self) -> str:
        """Bulk load, checkpoint, then one small append as the JSON tail."""
        from pyspark.sql import functions as F

        from delta_lake_proxy_spark import deltalog
        from delta_lake_proxy_spark.io import load_table

        path = os.path.join(self.root, f"{ALIAS}_{len(self.tables) + 1}")
        eng = self.engine(path, read_only=False)
        li = load_table(self.spark, self.in_dir, "lineitem")
        ym = li.withColumn("year", F.year("l_shipdate")).withColumn(
            "month", F.month("l_shipdate")
        )
        key = F.col("l_orderkey")
        eng.write_table(
            ALIAS, ym.filter(key % 10 != 0).repartition(2, "l_orderkey"),
            partition_by=["year", "month"],
        )
        deltalog.write_checkpoint(self.spark, path)
        eng.write_table(ALIAS, ym.filter(key % 10 == 0).coalesce(1))
        self.tables.append(path)
        return path

    def shape(self) -> dict:
        from delta_lake_proxy_spark import deltalog

        files = layout(self.tables[-1])
        return {
            "partitions": len(set(files.values())),
            "live_files": len(files),
            "commits": deltalog.latest_version(self.tables[-1]) + 1,
            "rows": pq.ParquetFile(self.paths["lineitem"]).metadata.num_rows,
        }


def layout(table: str) -> dict[str, tuple[int, int]]:
    """Data files on disk (table-relative) -> (year, month)."""
    out = {}
    for d, _, files in os.walk(table):
        if "_delta_log" in d:
            continue
        for f in files:
            if f.endswith(".parquet"):
                rel = os.path.relpath(os.path.join(d, f), table)
                y, m = (int(p.split("=")[1]) for p in rel.split("/")[:2])
                out[rel] = (y, m)
    return out


def _status(eng, user: str, rel: str) -> int:
    from delta_lake_proxy_spark.errors import ForbiddenByPolicyError, NoSuchKeyError

    try:
        eng.authorize_file(ALIAS, user, rel)
        return 200
    except ForbiddenByPolicyError:
        return 403
    except NoSuchKeyError:
        return 404


def _expected_status(grants: gen.Grants, files: dict, user: str, rel: str) -> int:
    part = files.get(rel)
    if user not in grants.by_user:  # no permission rows: unrestricted
        return 200 if part is not None else 404
    return 200 if part is not None and part in grants.by_user[user] else 403


# -- serve_requests ---------------------------------------------------------------


def _request_blocks(s: Setup, files: dict[str, tuple[int, int]]):
    """Endless request stream in blocks. A request is
    ``("get", user, key, expected status)`` or
    ``("list", prefix, start_after, expected keys)``.

    The stream's shape — users, request kinds, LIST prefixes and offsets —
    comes from a fixed generator, so every seed serves the same sequence of
    ACL-cache hits and misses and the same page sizes. The seed picks the
    grants, hence which keys a user may read, and the keys drawn."""
    by_part: dict[tuple[int, int], list[str]] = {}
    for rel, part in sorted(files.items()):
        by_part.setdefault(part, []).append(rel)
    keys = sorted(files)
    shape = np.random.default_rng(2)
    rng = np.random.default_rng([s.seed, 2])
    i = 0
    while True:
        block = []
        for user in gen.zipf_users(shape, s.grants.users, BLOCK_REQUESTS, ZIPF_S):
            i += 1
            if i % LIST_EVERY == 0:
                y = gen.YEARS[int(shape.integers(0, len(gen.YEARS)))]
                prefix = f"year={y}/"
                under = [k for k in keys if k.startswith(prefix)]
                after = None if shape.random() < 0.5 else under[int(shape.integers(0, len(under)))]
                expect = [f"{ALIAS}/{k}" for k in under if after is None or k > after]
                block.append(("list", f"{ALIAS}/{prefix}", after and f"{ALIAS}/{after}",
                              expect[:LIST_MAX_KEYS]))
                continue
            granted = s.grants.by_user.get(user)
            r = shape.random()
            if r < 0.8:  # a file the user may read
                parts = granted or gen.PARTITIONS
                pool = by_part[parts[int(rng.integers(0, len(parts)))]]
            elif r < 0.92:  # a file in a partition the user was not granted
                parts = [p for p in gen.PARTITIONS if not granted or p not in granted]
                pool = by_part[parts[int(rng.integers(0, len(parts)))]]
            else:  # a key that does not exist
                y, m = gen.PARTITIONS[int(rng.integers(0, len(gen.PARTITIONS)))]
                pool = [f"year={y}/month={m}/part-99999-absent-{i}.snappy.parquet"]
            rel = pool[int(rng.integers(0, len(pool)))]
            block.append(("get", user, rel, _expected_status(s.grants, files, user, rel)))
        yield block


def serve_requests(s: Setup, run: Run, seconds: float) -> None:
    """GET authorization and LIST pages against a pristine table, served
    block by block on warm caches. Users outnumber the ACL cache three to
    one, so the LRU evicts throughout; the stream is the same for every
    seed and a run is far shorter than the cache's 120 s TTL, so the ACL
    misses of the first ``k`` blocks are the same in every run."""
    table = s.tables[-1]
    files = layout(table)
    eng = s.engine(table)
    cap = eng.config.acl_cache_size
    lru: OrderedDict[str, None] = OrderedDict()  # model of the ACL cache's keys
    counts = {"misses": 0, "evictions": 0}
    miss_times: list[float] = []

    def get(user, rel, expect):
        return lambda rec: _status(eng, user, rel) == expect

    def page(prefix, after, expect):
        def op(rec):
            df = eng.list_files(ALIAS, prefix=prefix, start_after=after, max_keys=LIST_MAX_KEYS)
            got = [r["key"] for r in df.collect()]
            if run.tracer is not None:
                from tracing import catalyst_phases

                rec["phases"] = catalyst_phases(df)
            return got == expect

        return op

    def serve(block, measured: bool) -> None:
        for req in block:
            if req[0] == "get":
                op = get(*req[1:])
                miss = req[1] not in lru
                lru[req[1]] = None
                lru.move_to_end(req[1])
                if len(lru) > cap:
                    lru.popitem(last=False)
                    counts["evictions"] += measured
            else:
                op = page(*req[1:])
            if measured:
                run.timed(req[0], op)
                if req[0] == "get" and miss:
                    counts["misses"] += 1
                    miss_times.append(run.samples["get"][-1])
            else:
                op({})

    blocks = _request_blocks(s, files)
    for _ in range(WARMUP_BLOCKS):  # fills the ACL cache and warms the JVM
        serve(next(blocks), measured=False)
    t0 = time.perf_counter()
    ends = []
    while time.perf_counter() - t0 < seconds or len(ends) < MEASURED_BLOCKS:
        serve(next(blocks), measured=True)
        ends.append(time.perf_counter() - t0)
    run.extra["window_s"] = ends[-1]
    run.extra["blocks_s"] = [round(b - a, 3) for a, b in zip([0.0] + ends, ends)]
    run.extra["acl_misses"] = counts["misses"]
    run.extra["acl_evictions"] = counts["evictions"]
    gets = run.samples["get"]
    run.figure("p50_ms", 1e3 * statistics.median(gets), "GET median", len(gets))
    run.figure("slow_ms", 1e3 * statistics.median(miss_times), "GET median on an ACL-cache miss",
               len(miss_times))


# -- analytics_churn ------------------------------------------------------------------


def q1(df):
    from pyspark.sql import functions as F

    return df.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("l_quantity").alias("sum_qty"),
        F.sum("l_extendedprice").alias("sum_price"),
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
    )


def _files_read(df) -> int | None:
    """``numFiles`` of the executed scan: files that survived ACL pruning."""
    total, found = 0, False
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            stack.append(node.child())
            continue
        metrics = node.metrics()
        if cls == "FileSourceScanExec" and metrics.contains("numFiles"):
            total += int(metrics.apply("numFiles").value())
            found = True
        kids = node.children()
        for k in range(kids.size()):
            stack.append(kids.apply(k))
    return total if found else None


def _trace_read(run: Run, rec, df, agg) -> None:
    """Traced runs only: Catalyst phases and the files listed vs admitted."""
    from tracing import catalyst_phases

    rec["phases"] = catalyst_phases(agg)
    run.extra.setdefault("files_listed", []).append(len(df.inputFiles()))
    n = _files_read(agg)
    if n is not None:
        run.extra.setdefault("files_admitted", []).append(n)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _batch(rng, keys: list[tuple[int, int]], parts: list[tuple[int, int]]) -> pa.Table:
    """Rows for ``keys``; row ``i`` lands in ``parts[i]``."""
    n = len(keys)
    ship = [np.datetime64(f"{y}-{m:02d}-{int(rng.integers(1, 28)):02d}", "us") for y, m in parts]
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    return pa.table({
        "l_orderkey": np.array([k for k, _ in keys], dtype=np.int64),
        "l_partkey": rng.integers(0, 2000, size=n, dtype=np.int64),
        "l_suppkey": rng.integers(0, 100, size=n, dtype=np.int64),
        "l_linenumber": np.array([n_ for _, n_ in keys], dtype=np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, size=n), 2),
        "l_discount": np.round(rng.integers(0, 11, size=n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, size=n) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, size=n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, size=n)],
        "l_shipdate": pa.array(np.array(ship, dtype="datetime64[us]"), type=pa.timestamp("us")),
        "year": np.array([y for y, _ in parts], dtype=np.int32),
        "month": np.array([m for _, m in parts], dtype=np.int32),
    })


class _Mirror:
    """DuckDB copy of the written table's rows. Every batch the engine
    commits is applied here as well, so each governed read has an answer
    computed without the engine."""

    def __init__(self, con):
        self.con = con
        con.execute(
            "CREATE TABLE mirror AS SELECT *, year(l_shipdate)::INTEGER AS year, "
            "month(l_shipdate)::INTEGER AS month FROM lineitem"
        )
        self.next_key = con.execute("SELECT max(l_orderkey) + 1 FROM mirror").fetchone()[0]

    def keys(self, y: int, m: int) -> list[tuple[int, int]]:
        return self.con.execute(
            "SELECT l_orderkey, l_linenumber FROM mirror WHERE year = ? AND month = ? "
            "ORDER BY 1, 2", [y, m]).fetchall()

    def upsert(self, t: pa.Table) -> None:
        self.con.register("batch", t)
        self.con.execute(
            "DELETE FROM mirror USING batch WHERE mirror.l_orderkey = batch.l_orderkey "
            "AND mirror.l_linenumber = batch.l_linenumber")
        self.con.execute("INSERT INTO mirror BY NAME SELECT * FROM batch")
        self.con.unregister("batch")

    def delete(self, y: int, m: int, r: int) -> int:
        where = "WHERE year = ? AND month = ? AND l_orderkey % 3 = ?"
        n = self.con.execute(f"SELECT count(*) FROM mirror {where}", [y, m, r]).fetchone()[0]
        self.con.execute(f"DELETE FROM mirror {where}", [y, m, r])
        return n


class _Churn:
    """Writers on a pristine table: ``steps`` holds one cycle of appends, a
    merge and a delete. After each commit, a GET of a file the commit
    added; after the merge, the delete, the checkpoint commit and two
    appends, a governed Q1 read by the next of ``len(READS_AFTER)`` users
    holding 1-12 months, checked against the mirror. The table starts at
    version 1, so the engine's default checkpoint interval of 10 puts a
    checkpoint on the last commit of the first cycle in every run."""

    def __init__(self, s: Setup, run: Run, table: str, con):
        from delta_lake_proxy_spark import deltalog

        self.s, self.run, self.table, self.con = s, run, table, con
        self.mirror = _Mirror(con)
        self.rng = np.random.default_rng([s.seed, 3])
        by_size = sorted(s.grants.by_user, key=lambda u: (len(s.grants.by_user[u]), u))
        self.readers = [by_size[int(i)]
                        for i in np.linspace(0, len(by_size) - 1, len(READS_AFTER))]
        self.commits = 0
        # the getter is unrestricted: a stale snapshot shows as 404
        self.getter = next(u for u in s.grants.users if u not in s.grants.by_user)
        self.eng = s.engine(table, read_only=False)
        self.batch_dir = os.path.join(s.root, "batches")
        os.makedirs(self.batch_dir, exist_ok=True)
        self.version = self.v0 = deltalog.latest_version(table)
        self.rows = 0
        self.checkpointed: list[float] = []  # appends whose commit wrote a checkpoint
        self.bytes0 = _dir_bytes(table)
        self.log0 = _dir_bytes(os.path.join(table, "_delta_log"))
        steps = {"A": self.append, "M": self.merge, "D": self.delete}
        self.steps = [steps[c] for c in CHURN_CYCLE]

    def _df(self, t: pa.Table, name: str):
        p = os.path.join(self.batch_dir, f"{name}.parquet")
        pq.write_table(t, p)
        return self.s.spark.read.parquet(p)

    def _parts(self, k: int) -> list[tuple[int, int]]:
        """Half in the widest reader's grant, so reads see the writes."""
        rng, granted = self.rng, self.s.grants.by_user[self.readers[-1]]
        own = [granted[int(i)] for i in rng.integers(0, len(granted), size=k // 2)]
        other = [gen.PARTITIONS[int(i)]
                 for i in rng.integers(0, len(gen.PARTITIONS), size=k - k // 2)]
        return own + other

    def _commit(self, kind: str, version_fn, changed: int) -> None:
        run = self.run

        def op(rec):
            v = version_fn()
            ok = v == self.version + 1
            self.version = v
            self.rows += changed
            return ok

        run.timed(kind, op)
        v = self.version
        k = self.commits % len(CHURN_CYCLE)
        self.commits += 1
        if k in READS_AFTER:
            user = self.readers[READS_AFTER.index(k)]
            expect = oracle.q1_answer(self.con, "mirror", self.s.grants.by_user[user])

            def read(rec):
                df = self.eng.read_table(ALIAS, user)
                agg = q1(df)
                ok = oracle.same(oracle.spark_rows(agg), expect)
                if run.tracer is not None:
                    _trace_read(run, rec, df, agg)
                return ok

            run.timed("read", read)
        with open(os.path.join(self.table, "_delta_log", f"{v:020d}.json"),
                  encoding="utf-8") as f:
            adds = sorted(a["add"]["path"] for a in map(json.loads, f) if "add" in a)
        rel = adds[int(self.rng.integers(0, len(adds)))] if adds else None
        run.timed("get_after_write",
                  lambda rec: rel is not None and _status(self.eng, self.getter, rel) == 200)

    def append(self) -> None:
        parts = [p for p in self._parts(6) for _ in range(10)]
        keys = [(self.mirror.next_key + i, 1) for i in range(len(parts))]
        self.mirror.next_key += len(parts)
        batch = _batch(self.rng, keys, parts)
        df = self._df(batch, f"append-{self.version + 1}")
        self.mirror.upsert(batch)
        self._commit("append", lambda: self.eng.write_table(ALIAS, df), len(keys))
        v = f"{self.version:020d}.checkpoint"
        if any(f.startswith(v) for f in os.listdir(os.path.join(self.table, "_delta_log"))):
            self.checkpointed.append(self.run.samples["append"][-1])

    def merge(self) -> None:
        part = self._parts(2)[0]
        old = self.mirror.keys(*part)
        pick = self.rng.choice(len(old), size=min(30, len(old)), replace=False)
        new = [(self.mirror.next_key + i, 1) for i in range(20)]
        self.mirror.next_key += len(new)
        keys = [tuple(old[int(i)]) for i in pick] + new
        batch = _batch(self.rng, keys, [part] * len(keys))
        df = self._df(batch, f"merge-{self.version + 1}")
        self.mirror.upsert(batch)
        self._commit("merge",
                     lambda: self.eng.merge(ALIAS, df, on=["l_orderkey", "l_linenumber"]),
                     len(keys))

    def delete(self) -> None:
        from pyspark.sql import functions as F

        (y, m), r = self._parts(2)[0], int(self.rng.integers(0, 3))
        gone = self.mirror.delete(y, m, r)
        cond = (F.col("year") == y) & (F.col("month") == m) & (F.col("l_orderkey") % 3 == r)
        self._commit("delete", lambda: self.eng.delete(ALIAS, cond), gone)

    def finish(self) -> None:
        extra = self.run.extra
        commits = self.version - self.v0
        extra["commits"] = commits
        extra["read_users"] = {u: len(self.s.grants.by_user[u]) for u in self.readers}
        extra["bytes_per_row_written"] = (_dir_bytes(self.table) - self.bytes0) / max(1, self.rows)
        extra["log_bytes_per_commit"] = (
            _dir_bytes(os.path.join(self.table, "_delta_log")) - self.log0
        ) / max(1, commits)


def analytics_churn(s: Setup, run: Run, seconds: float) -> None:
    """Write churn on a pristine many-file table with governed Q1 reads and
    GETs between the commits, interleaved with the six registry rows on
    the one-file inputs: the Spark side of the engine. Runs whole
    cycles until ``seconds`` have passed; one cycle takes longer than the
    benchmark's ``run_seconds`` on a 4-core host, so a run is one cycle."""
    from delta_lake_proxy_spark import queries

    con = oracle.connect(s.in_dir)
    reg_expect = oracle.registry_answers(con, REGISTRY, queries.resolved_oracles())
    churn = _Churn(s, run, s.tables[-1], con)

    def registry(name):
        def op(rec):
            df = queries.QUERIES[name](s.spark, s.in_dir)
            ok = oracle.same(oracle.spark_rows(df), reg_expect[name])
            if run.tracer is not None:
                from tracing import catalyst_phases

                rec["phases"] = catalyst_phases(df)
            return ok

        return lambda: run.timed(name, op)

    rows = [registry(name) for name in REGISTRY]
    cycle = []
    for k, step in enumerate(churn.steps):
        cycle += [step] + rows[k:k + 1]
    t0 = time.perf_counter()
    cycles = 0
    while cycles == 0 or time.perf_counter() - t0 < seconds:
        for step in cycle:
            step()
        cycles += 1
    run.extra["window_s"] = time.perf_counter() - t0
    run.extra["cycles"] = cycles
    churn.finish()
    con.close()
    reads = run.samples["read"]
    run.figure("p50_ms", 1e3 * statistics.median(reads), "governed Q1 read median", len(reads))
    run.figure("slow_ms", 1e3 * statistics.median(churn.checkpointed),
               "median append whose commit wrote the checkpoint", len(churn.checkpointed))


WORKLOADS = {
    "serve_requests": serve_requests,
    "analytics_churn": analytics_churn,
}
