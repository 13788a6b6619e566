"""The governed lakehouse engine: catalog + ACL-injected reads + file surface.

This is the Spark-native rebuild of the reference proxy's semantic core
(SURVEY.md §3.1): catalog resolution (ref ``src/main.rs:498-512``), permission
resolution (``src/main.rs:555-573``), DNF partition-ACL enforcement
(``src/main.rs:389-415``, ``576-594``), listing with alias<->physical key
rewriting (``src/main.rs:228-339``), read-only write blocking
(``src/main.rs:941-948``), and table maintenance (charter G9).

Enforcement model: the reference authorizes at *file* granularity (membership
of the requested file in the pruned set, else 403). Here the ACL compiles to a
Catalyst predicate injected into the scan, so Catalyst's partition pruning
computes the same file set declaratively and enforcement is *row*-level —
strictly stronger. For explicit file requests, :meth:`Engine.authorize_file`
reproduces the reference's exact 403 behavior. Divergence (SURVEY §3.3): a
query over a forbidden partition returns an empty/filtered result rather than
an error; pass ``strict=True`` to approximate the reference's failure mode.

Trust boundary (SURVEY §4 design 2). The reference enforces across a PROCESS
boundary: clients hold no storage credentials, so every byte flows through the
proxy's ACL check (``src/main.rs:576-594``). A library cannot reproduce that
inside the client's own SparkSession — code holding the physical path can
always call ``spark.read.parquet(raw_path)``, which ignores both the ACL and
the transaction log (it even resurrects tombstoned files; pinned by
``test_raw_path_bypass_is_the_documented_trust_boundary``). Closing the hole
requires one of:

1. **Storage-layer ACLs** (the deployment-grade answer): executors read via an
   instance role that only the governed pipeline holds; ad-hoc sessions get no
   credentials for the table root. Equivalent to the reference's model.
2. **A Catalyst resolution rule** via ``spark.sql.extensions`` — IMPLEMENTED:
   ``ext/java/graft/GovernedAclRule.java`` (built by ``tools/build_acl_ext.sh``
   into ``ext/graft-acl-ext.jar``) rewrites every V1 file relation rooted
   under a governed path into ``Filter(compiled_dnf, relation)``, parsing the
   DNF from the ``spark.graft.acl.rules`` conf that
   :func:`delta_lake_proxy_spark.acl.extension_confs` /
   :meth:`Engine.extension_confs` emit. Build a session with those (static)
   confs and raw ``spark.read.parquet(governed_path)`` carries the ACL with
   no Engine involvement — verified end-to-end in
   ``tests/test_acl_extension.py``.
3. **Spark Connect**: run the engine server-side and hand clients a Connect
   endpoint — the session boundary becomes a process boundary again.

Within a single trusted session, :meth:`Engine.create_governed_view` gives
``spark.sql`` users the governed result under a stable name.
"""

from __future__ import annotations

import bisect
import json
import os
import shutil
import time
import urllib.parse
import uuid
from collections import Counter, OrderedDict
from typing import Any

import pyarrow as pa
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import acl, deltalog
from .config import EngineConfig
from .errors import (
    ForbiddenByPolicyError,
    NoSuchKeyError,
    ReadOnlyError,
    TableNotFoundError,
    UnsupportedProtocolError,
)
from .io import local_df
from .session import (
    LARGE_LISTING_THRESHOLD,
    ensure_engine_confs,
    set_conf_if_modifiable,
)

VIRTUAL_CATALOG = "datalake"  # the reference's single virtual bucket (src/main.rs:127)


def compile_dnf_on_partition_values(dnf: acl.PartitionDNF) -> Column | None:
    """DNF predicate over a ``partitionValues`` map column (file-level ACL).

    Same fail-closed rule as :func:`acl.compile_dnf`: a configured DNF with
    only empty maps denies everything (empty allowed file set,
    ref ``src/main.rs:389-415``), it does not fall open.
    """
    if not dnf:
        return None
    branches: list[Column] = []
    for m in acl.normalize_dnf(dnf):
        conj: Column | None = None
        for k, v in m.items():
            term = F.col("partitionValues").getItem(k) == F.lit(v)
            conj = term if conj is None else (conj & term)
        if conj is not None:
            branches.append(conj)
    if not branches:
        return F.lit(False)
    pred = branches[0]
    for b in branches[1:]:
        pred = pred | b
    return pred


def uri_to_rel(uri: str, table_path: str) -> str:
    """Table-relative path from an ``input_file_name()`` URI.

    ``input_file_name`` returns a percent-encoded URI (``file:///a/x%20y/...``);
    naive prefix-stripping silently mismatches when the table path or a
    partition value contains spaces/special characters, producing remove
    actions that never tombstone anything. Decode first, then relativize.
    """
    parsed = urllib.parse.urlparse(uri)
    local = urllib.parse.unquote(parsed.path) if parsed.scheme else urllib.parse.unquote(uri)
    return os.path.relpath(local, os.path.abspath(table_path))


def uri_rel_col(col: Column, table_path: str) -> Column:
    """Column-side twin of :func:`uri_to_rel`: strip the URI scheme, percent-
    decode, strip the table prefix. (``url_decode`` is form-decoding, so a
    literal '+' in a file name — which Hadoop URIs leave unencoded — would
    decode to a space; accepted divergence, parquet writers never emit '+'
    in part names.) A file OUTSIDE the table root (a shallow clone's
    absolute reference) keeps its decoded ABSOLUTE path — exactly how the
    clone's add actions reference it, so rel-keyed joins (DV anti-join,
    DML touched-file sets) stay identity-correct on clones."""
    decoded = F.url_decode(
        F.regexp_replace(col, "^[a-zA-Z][a-zA-Z0-9+.-]*:(//)?", "")
    )
    root = os.path.abspath(table_path)
    return F.when(
        decoded.startswith(root + "/"),
        F.substring(decoded, len(root) + 2, 1 << 30),
    ).otherwise(decoded)


# Beyond this many touched files, DML filters use a broadcast semi-join on a
# paths DataFrame instead of Column.isin: a literal IN-list grows the
# expression tree (and codegen) linearly with the file count, which a
# broad-predicate DELETE over 100k files would blow up.
ISIN_FILE_LIMIT = 64

# Past this many LIVE files, the listing-join semi-join stops broadcasting
# the path set (a broadcast materializes it on the DRIVER and each executor
# — ~250 B/path puts 4M paths near 1 GB, and Spark hard-caps broadcasts at
# 8 GB) and switches to a shuffle-hash join: driver memory back to O(1),
# one extra shuffle of the scan's path column.
LISTING_JOIN_BROADCAST_LIMIT = 4_000_000

# Up to this many total deleted positions, the deletion-vector anti-join
# broadcasts the exploded position set (8 B/position + path → ~100 MB at the
# limit): the scan keeps its no-shuffle shape, mirroring Delta's own
# file-local DV application. Past it, a shuffle anti-join keeps every
# participant O(1) in memory at the cost of shuffling the scan's key pair.
DV_BROADCAST_POSITIONS_LIMIT = 5_000_000

# Cache sentinel for "this snapshot is too large to enumerate driver-side".
_TOO_MANY_FILES = object()


class _NeedsEnumeratedScan(Exception):
    """Internal: a caller requested physical row positions but the snapshot
    exceeds the enumerable threshold — fall back to copy-on-write."""


def _is_foreign_path(p: str) -> bool:
    """An add path that references a file OUTSIDE the table root (absolute
    path or URI) — how shallow clones reference the source's files."""
    return p.startswith("/") or "://" in p


def _is_log_key(rel: str) -> bool:
    """``_delta_log`` itself or a key inside it with no ``.``/``..``
    segment — the only keys that bypass the ACL (src/main.rs:532-538)."""
    parts = rel.split("/")
    return parts[0] == deltalog.LOG_DIR and not {".", ".."} & set(parts)


def _run_end(keys: list[str], prefix: str, lo: int, hi: int) -> int:
    """End of the run of sorted ``keys[lo:hi]`` that start with ``prefix``."""
    return bisect.bisect_left(
        keys, True, lo, hi, key=lambda k: not k.startswith(prefix)
    )


_LIST_PAGE_SCHEMA = pa.schema(
    [
        ("key", pa.string()),
        ("size", pa.int64()),
        ("modificationTime", pa.int64()),
        ("is_common_prefix", pa.bool_()),
    ]
)
# LIST page DataFrames memoized per snapshot-cache entry, least recently
# served evicted first: at most this many pages and this many rows in all
# (a kept page holds ~30 KB of JVM heap plus ~0.3 KB per row, so a full
# entry stays near 25 MB); a page longer than S3's MaxKeys ceiling is built
# fresh and not kept.
_LIST_PAGE_MEMO_SIZE = 512
_LIST_PAGE_MEMO_ROWS = 25_600
_LIST_PAGE_MEMO_MAX_ROWS = 1000


class _FileIndex:
    """The engine's one snapshot-cache entry per table path (ref snapshot
    cache, src/main.rs:82-85): a :class:`deltalog.Snapshot` plus what GET,
    LIST, the enumerated scan and DML derive from it — the live ``add`` map,
    the deletion-vector map, the scan's file list, the foreign-file flag and
    the sorted alias-namespaced keys — each built on first use, so an append
    never replays the live files. It also keeps the LIST page DataFrames it
    has served, so a repeated page plans nothing new; a commit or a tip
    change replaces the entry and drops them with it. A pinned-version read
    builds one too, at its version, outside the cache."""

    __slots__ = (
        "snapshot", "_adds", "_dv_map", "_estimate", "_scan", "_foreign", "_keys",
        "_pages", "_page_rows",
    )

    def __init__(self, snapshot: deltalog.Snapshot):
        self.snapshot = snapshot
        self._adds: dict[str, dict] | None = None
        self._dv_map: dict[str, dict] | None = None
        self._estimate: int | None = None
        self._scan: list[str] | None = None
        self._foreign: bool | None = None
        self._keys: dict[str, list[str]] = {}
        # (has delimiter, page rows) -> DataFrame, least recently served first
        self._pages: OrderedDict[tuple, DataFrame] = OrderedDict()
        self._page_rows = 0

    @property
    def path(self) -> str:
        return self.snapshot.path

    @property
    def version(self) -> int:
        return self.snapshot.version

    @property
    def adds(self) -> dict[str, dict]:
        """rel path -> live ``add`` action (driver-side, checkpoint-aware)."""
        if self._adds is None:
            self._adds = deltalog._live_adds_no_spark(
                self.path, max_version=self.version, snapshot=self.snapshot
            )
        return self._adds

    @property
    def dv_map(self) -> dict[str, dict]:
        """rel path -> deletionVector descriptor; empty for plain tables."""
        if self._dv_map is None:
            self._dv_map = (
                {
                    rel: dict(a["deletionVector"])
                    for rel, a in self.adds.items()
                    if a.get("deletionVector")
                    and a["deletionVector"].get("storageType")
                }
                if self.snapshot.deletion_vectors
                else {}
            )
        return self._dv_map

    @property
    def estimate(self) -> int:
        """:func:`deltalog.estimate_snapshot_actions` at this version: a
        cheap upper bound on the live file count."""
        if self._estimate is None:
            self._estimate = deltalog.estimate_snapshot_actions(self.path, self.version)
        return self._estimate

    def scan_files(self, limit: int):
        """Absolute paths of the live files, or ``_TOO_MANY_FILES`` past
        ``limit`` — guarded by the live-file bound so an
        over-threshold table never materializes on the driver. The estimate
        and the list are memoized, not the verdict: each call compares them
        with its own ``limit``."""
        if self.estimate > limit or len(self.adds) > limit:
            return _TOO_MANY_FILES
        if self._scan is None:
            self._scan = [os.path.join(self.path, r) for r in sorted(self.adds)]
        return self._scan

    def foreign(self, limit: int) -> bool:
        """Whether any live file sits OUTSIDE the table root (shallow clone).
        An over-threshold snapshot answers False — the broad DML paths refuse
        foreign references on their own."""
        if self.scan_files(limit) is _TOO_MANY_FILES:
            return False
        if self._foreign is None:
            self._foreign = any(_is_foreign_path(r) for r in self.adds)
        return self._foreign

    def page(
        self,
        alias: str,
        prefix: str,
        after: str | None,
        max_keys: int | None,
        delimiter: str | None,
    ) -> list[tuple[str, int | None, int | None, bool]]:
        """``(key, size, modificationTime, is_common_prefix)`` rows of one
        ListObjectsV2 page, in key order."""
        keys = self._keys.get(alias)
        if keys is None:
            keys = self._keys[alias] = sorted(f"{alias}/{p}" for p in self.adds)
        lo = bisect.bisect_left(keys, prefix)
        hi = _run_end(keys, prefix, lo, len(keys))
        if after:
            # a grouped key is a prefix of its members, so no key <= after
            # can group to a key > after
            lo = max(lo, bisect.bisect_right(keys, after, lo, hi))
        limit = len(keys) if max_keys is None else int(max_keys)
        out: list[tuple[str, int | None, int | None, bool]] = []
        cut = len(alias) + 1
        while lo < hi and len(out) < limit:
            k = keys[lo]
            pos = k.find(delimiter, len(prefix)) if delimiter else -1
            if pos < 0:
                a = self.adds[k[cut:]]
                out.append((k, a.get("size"), a.get("modificationTime"), False))
                lo += 1
                continue
            # one CommonPrefixes row per group, at its first member
            group = k[: pos + len(delimiter)]
            if not after or group > after:
                out.append((group, None, None, True))
            lo = _run_end(keys, group, lo, hi)
        return out

    def page_frame(
        self,
        spark: SparkSession,
        rows: list[tuple[str, int | None, int | None, bool]],
        delimiter: str | None,
    ) -> DataFrame:
        """The DataFrame of one :meth:`page`: a local Arrow relation, with
        ``is_common_prefix`` only under a delimiter. Memoized by content —
        a relation of literal rows is fixed by those rows and the schema, so
        requests that resolve to the same rows share one DataFrame and its
        plan."""
        key = (bool(delimiter), tuple(rows))
        df = self._pages.get(key)
        if df is not None:
            self._pages.move_to_end(key)
            return df
        page = pa.table(list(zip(*rows)) or [()] * 4, schema=_LIST_PAGE_SCHEMA)
        if not delimiter:
            page = page.drop_columns(["is_common_prefix"])
        df = spark.createDataFrame(page)
        if len(rows) <= _LIST_PAGE_MEMO_MAX_ROWS:
            self._pages[key] = df
            self._page_rows += len(rows)
            while (
                len(self._pages) > _LIST_PAGE_MEMO_SIZE
                or self._page_rows > _LIST_PAGE_MEMO_ROWS
            ):
                (_, old), _ = self._pages.popitem(last=False)
                self._page_rows -= len(old)
        return df


def _safe_castable(src, dst) -> bool:
    """Whether casting ``src`` -> ``dst`` is an always-valid UP-CAST —
    Spark's ``Cast.canUpCast`` contract (numeric widening along the
    numeric-precedence order, null promotion, date->timestamp, recursive
    containers). A plain ``Column.cast`` would also accept invalid pairs
    (string->long yields NULL at runtime); DML schema reconciliation must
    reject those instead of committing null-filled rows.

    NOTE: this mirrors Spark's precedence rule, NOT strict losslessness —
    integral->Float/Double is accepted (as Spark's canUpCast and
    unionByName accept it) even though e.g. ``9007199254740993L`` rounds
    when stored as double. Rejecting it here would refuse MERGE sources
    Spark itself considers up-castable; callers needing bit-exactness
    must match integral widths explicitly."""
    from pyspark.sql import types as T

    if src == dst:
        return True
    if isinstance(src, T.NullType):
        return True
    rank = {
        T.ByteType: 1,
        T.ShortType: 2,
        T.IntegerType: 3,
        T.LongType: 4,
        T.FloatType: 5,
        T.DoubleType: 6,
    }
    sr, dr = rank.get(type(src)), rank.get(type(dst))
    if sr is not None and dr is not None:
        return sr <= dr
    if isinstance(dst, T.DecimalType):
        if isinstance(src, T.DecimalType):
            return (
                dst.scale >= src.scale
                and dst.precision - dst.scale >= src.precision - src.scale
            )
        digits = {T.ByteType: 3, T.ShortType: 5, T.IntegerType: 10, T.LongType: 19}
        need = digits.get(type(src))
        return need is not None and dst.precision - dst.scale >= need
    if isinstance(src, T.DateType) and isinstance(dst, T.TimestampType):
        return True
    if isinstance(src, T.ArrayType) and isinstance(dst, T.ArrayType):
        return _safe_castable(src.elementType, dst.elementType)
    if isinstance(src, T.MapType) and isinstance(dst, T.MapType):
        return _safe_castable(src.keyType, dst.keyType) and _safe_castable(
            src.valueType, dst.valueType
        )
    if isinstance(src, T.StructType) and isinstance(dst, T.StructType):
        sf = {f.name: f.dataType for f in src.fields}
        return set(sf) == {f.name for f in dst.fields} and all(
            _safe_castable(sf[f.name], f.dataType) for f in dst.fields
        )
    return False


def _to_epoch_millis(ts: "int | float | str") -> int:
    """Epoch-ms from epoch seconds (int/float) or an ISO-8601 string; naive
    strings are read as UTC (commit timestamps are UTC epoch millis)."""
    if isinstance(ts, (int, float)) and not isinstance(ts, bool):
        return int(ts * 1000)
    import datetime as _dt

    parsed = _dt.datetime.fromisoformat(str(ts))
    if parsed.tzinfo is None:
        parsed = parsed.replace(tzinfo=_dt.timezone.utc)
    return int(parsed.timestamp() * 1000)


# txn appId stamped on IVF-refresh append commits: makes the refresh
# idempotent across a crash between its two commits (append + property)
_IVF_REFRESH_APP = "graft.ivf.refresh"
_MINHASH_REFRESH_APP = "graft.dedup.refresh"
_SKETCH_REFRESH_APP = "graft.sketch.refresh"
_HIST_REFRESH_APP = "graft.hist.refresh"


class Engine:
    """Governed Delta lakehouse engine over a table-alias catalog."""

    def __init__(
        self,
        spark: SparkSession,
        config: EngineConfig | dict[str, Any] | None = None,
        permissions_df: DataFrame | None = None,
    ):
        self.spark = ensure_engine_confs(spark)
        if config is None:
            config = EngineConfig()
        elif isinstance(config, dict):
            config = EngineConfig.from_dict(config)
        self.config = config
        self.permissions_df = permissions_df
        self._acl_cache = acl.TTLCache(config.acl_cache_size, config.acl_cache_ttl_s)
        # the permissions table, collected at most once per TTL; every
        # _acl_cache miss is a driver-side lookup in it (resolved_dnf)
        self._permissions_cache = acl.TTLCache(1, config.acl_cache_ttl_s)
        # one _FileIndex per table path — the reference's Delta snapshot
        # cache (20 entries x 120 s, src/main.rs:82-85); tip-checked by every
        # operation but GET, dropped by every engine commit (_commit)
        self._snapshot_cache = acl.TTLCache(20, 120.0)
        self.large_listing_threshold = LARGE_LISTING_THRESHOLD
        self.listing_join_broadcast_limit = LISTING_JOIN_BROADCAST_LIMIT
        # Observability counters (ref src/metrics.rs:66-88); the windowed
        # aggregation over request events lives in streaming.metrics.
        self.counters: dict[str, int] = {"queries_served": 0, "queries_proxied": 0}

    @classmethod
    def from_json(
        cls,
        spark: SparkSession,
        config_path: str,
        permissions_df: DataFrame | None = None,
    ) -> "Engine":
        """Build from a reference-shaped JSON config file + PROXY_* env
        overrides (ref ``src/main.rs:55-59``)."""
        return cls(
            spark,
            EngineConfig.from_json(config_path).apply_env(),
            permissions_df=permissions_df,
        )

    # -- catalog ------------------------------------------------------------

    def resolve(self, alias: str) -> str:
        """Alias -> physical table location, else 404 (ref src/main.rs:503-512)."""
        path = self.config.table_mapping.get(alias)
        if path is None:
            raise TableNotFoundError(alias)
        return path

    def list_catalogs(self) -> DataFrame:
        """The single virtual namespace (S1, ref src/main.rs:115-141)."""
        return local_df(self.spark, [(VIRTUAL_CATALOG,)], "catalog_name: string")

    def list_tables(self) -> DataFrame:
        """One row per alias (S2, ref src/main.rs:200-226)."""
        rows = [(a, p) for a, p in sorted(self.config.table_mapping.items())]
        return local_df(self.spark, rows, "table_name: string, location: string")

    # -- ACL ---------------------------------------------------------------

    def resolved_dnf(self, alias: str, user: str) -> acl.PartitionDNF:
        """static config ∪ dynamic DB filters, memoized per ``(user, alias)``
        (the reference's per-user:table cache, src/main.rs:377).

        The dynamic filters come from one driver-side snapshot of the
        permissions table (:func:`acl.load_permissions`), collected at most
        once per ``acl_cache_ttl_s``, so a memo miss runs no Spark job. A
        memo entry is valid only while the snapshot it was built from is
        current, so a grant change shows within one TTL. A malformed grant
        row raises 403 for its own ``(user, alias)`` only."""
        perms = self._permissions_cache.get_or_compute(
            None, lambda: acl.load_permissions(self.permissions_df)
        )
        return self._acl_cache.get_or_compute(
            (user, alias),
            lambda: (
                perms,
                acl.union_dnf(
                    self.config.allowed_partitions.get(alias),
                    perms.lookup(user, alias),
                ),
            ),
            lambda hit: hit[0] is perms,
        )[1]

    def acl_predicate(self, alias: str, user: str) -> Column | None:
        return acl.compile_dnf(self.resolved_dnf(alias, user))

    def invalidate_caches(self) -> None:
        self._acl_cache.invalidate()
        self._permissions_cache.invalidate()
        self._snapshot_cache.invalidate()

    def extension_confs(self, user: str = acl.ANONYMOUS) -> dict[str, str]:
        """Static Spark confs that enforce this engine's resolved ACLs at the
        PLAN level for ``user``'s session (Catalyst rule in
        ``ext/java/graft/GovernedAclRule.java``): raw path reads in a session
        built with these confs carry the same DNF filter the governed read
        injects. Apply on the builder of a NEW session — extensions are
        static configuration.

        Scope: covers Catalyst file relations (DataFrame/SQL reads) in that
        session; RDD-level reads bypass Catalyst, and this is not a
        same-process security boundary (see acl.extension_confs)."""
        return acl.extension_confs(
            {
                self.resolve(alias): self.resolved_dnf(alias, user)
                for alias in self.config.table_mapping
            }
        )

    # -- governed read (G1, the flagship) ----------------------------------

    def read_table(
        self,
        alias: str,
        user: str = acl.ANONYMOUS,
        strict: bool = False,
        version: int | None = None,
        timestamp_as_of: "int | float | str | None" = None,
        with_row_ids: bool = False,
    ) -> DataFrame:
        """Catalog lookup -> ACL resolution -> predicate-injected Delta scan.

        ``with_row_ids=True`` (rowTracking tables) appends ``_row_id`` and
        ``_row_commit_version``: fresh row ids derived per the Delta spec as
        the add's ``baseRowId`` + the row's physical index, and the add's
        ``defaultRowCommitVersion`` — the log-derived form (materialized
        row-id columns inside files are not read). Requires the enumerable
        scan (physical positions), like the DV-writing DML paths.

        The scan lists only the files the resolved DNF admits, evaluated
        on the driver over each add's ``partitionValues`` (GET's rule) —
        exactly the files the reference's ``get_file_uris_by_partitions``
        union selects (src/main.rs:389-415) — and it still carries the
        compiled DNF filter as a second check.
        ``version`` time-travels to an earlier snapshot (readable until
        :meth:`vacuum` reclaims its tombstoned files); ``timestamp_as_of``
        (Delta ``timestampAsOf``: epoch seconds, or an ISO-8601 string read
        as UTC) resolves to the last version committed at or before that
        time — within retained history (see ``deltalog.version_at_timestamp``).

        One snapshot per call: the log tip is resolved once, at the start
        (a commit written behind the engine shows here at once), and the
        scan, its schema, column mapping, deletion vectors and collations
        all come from that one entry — the cached tip, or for a pinned
        version a fresh entry replayed on the driver at that version, so a
        time-travel read returns that version's files AND that version's
        schema. Below ``large_listing_threshold`` building the DataFrame
        runs no Spark job either way: the reader stats the admitted files on
        the driver, never in a listing job. The tip's protocol and the pinned
        version's both gate the read.
        """
        self.counters["queries_served"] += 1
        path = self.resolve(alias)
        ix = self._file_index(path)
        dnf = self.resolved_dnf(alias, user)
        pred = acl.compile_dnf(dnf)
        # ACL configured but every map empty => deny-all (pred is lit(False));
        # strict mode surfaces that as 403 BEFORE any scan is planned — the
        # reference's authorization check precedes data access
        # (src/main.rs:576-594).
        if strict and pred is not None and not acl.normalize_dnf(dnf):
            raise ForbiddenByPolicyError(user, alias, "empty permitted partition set")
        if timestamp_as_of is not None:
            if version is not None:
                raise ValueError("pass either version or timestamp_as_of, not both")
            version = deltalog.version_at_timestamp(
                self.spark, path, _to_epoch_millis(timestamp_as_of)
            )
        if version is not None:
            ix.snapshot.check_read()  # the tip's gate; the pinned one's below
            ix = self._file_index(path, int(version))
        df = (
            self._with_row_ids(ix, dnf)
            if with_row_ids
            else self._read_data(path, ix=ix, dnf=dnf)
        )
        if pred is not None:
            # ACL BEFORE collation re-typing: partition-value comparison is
            # byte-exact directory matching, never collation-aware
            df = df.filter(pred)
        # no ACL configured => allow everything (src/main.rs:576)
        return self._apply_collations(ix.snapshot, df)

    def _with_row_ids(self, ix: _FileIndex, dnf: acl.PartitionDNF | None) -> DataFrame:
        """Scan with materialized ``_row_id`` / ``_row_commit_version``
        (Delta rowTracking, fresh-id form): keep the raw file URI and
        physical row index through the scan (the same plumbing the
        DV-writing DML uses), then broadcast-join the metadata-sized
        (path -> baseRowId, defaultRowCommitVersion) map built from the
        entry's live adds. Files without a baseRowId yield null ids (spec:
        row ids unavailable for them)."""
        path = ix.path
        if "rowTracking" not in ix.snapshot.writer_features:
            raise UnsupportedProtocolError(
                path,
                "with_row_ids requires the rowTracking writer feature on "
                "the table's protocol",
            )
        try:
            df = self._read_data(
                path, keep_file_col=True, keep_pos=True, ix=ix, dnf=dnf
            )
        except _NeedsEnumeratedScan:
            raise ValueError(
                f"with_row_ids on {path} requires physical row positions, "
                "which need the enumerable scan — raise "
                "large_listing_threshold"
            ) from None
        rt = local_df(
            self.spark,
            [
                (rel, a.get("baseRowId"), a.get("defaultRowCommitVersion"))
                for rel, a in ix.adds.items()
            ],
            "_rt_key string, _rt_base long, _rt_dcv long",
        )
        out = df.withColumn("_rt_key", uri_rel_col(F.col("_file"), path)).join(
            F.broadcast(rt), "_rt_key", "left"
        )
        return (
            out.withColumn("_row_id", F.col("_rt_base") + F.col("_pos"))
            .withColumn("_row_commit_version", F.col("_rt_dcv"))
            .drop("_rt_key", "_rt_base", "_rt_dcv", "_file", "_pos")
        )

    def read_table_stream(self, alias: str, user: str = acl.ANONYMOUS) -> DataFrame:
        """Streaming governed read over a DIRECTORY file-stream source.
        Prefer :meth:`read_table_stream_log` (the log-cursor source) for
        governed tables — it is tombstone-aware and never sees staged
        uncommitted files; this directory variant remains for plain-parquet
        drop directories without a log.

        A file-stream source over the table directory with the ACL predicate
        injected — newly committed files are picked up by the stream, rows
        outside the permitted partitions never enter it. Requires the table's logged schema (streaming sources can't
        infer). Append-only semantics, like Delta's streaming source: the
        directory stream cannot consult tombstones, so run it on append-only
        tables (or vacuum before starting). Caveat: a writer that has moved
        files into the table root but not yet won its log commit is briefly
        visible to the directory source; failed commits clean their files up
        (:meth:`_commit_moved`), so the exposure is bounded by the in-flight
        commit window, not permanent."""
        self.counters["queries_served"] += 1
        path = self.resolve(alias)
        schema = self._table_schema(path)
        if schema is None:
            raise ValueError(f"table '{alias}' has no logged schema for streaming")
        stream = (
            self.spark.readStream.schema(schema)
            .option("basePath", path)
            .option("pathGlobFilter", "*.parquet")
            .parquet(path)
        )
        pred = self.acl_predicate(alias, user)
        return stream if pred is None else stream.filter(pred)

    def read_table_stream_log(
        self,
        alias: str,
        user: str = acl.ANONYMOUS,
        max_files_per_trigger: int | None = None,
        max_bytes_per_trigger: int | None = None,
        ignore_changes: bool = False,
        starting_version: "int | str | None" = None,
        starting_timestamp: "int | float | str | None" = None,
        read_change_feed: bool = False,
    ) -> DataFrame:
        """Streaming governed read over the LOG CURSOR (preferred over
        :meth:`read_table_stream` for governed tables): registers the
        ``governed`` DataSource and serves commits incrementally — the first
        micro-batch is the tombstone-reconciled live snapshot, later batches
        are the new ``add`` actions per commit window, the resolved DNF
        filters at file level, and uncommitted staged files are NEVER
        visible (the directory-stream caveats don't apply). See
        ``sources.governed.GovernedStreamReader``.

        ``max_files_per_trigger`` / ``max_bytes_per_trigger`` bound each
        micro-batch (Delta's admission-control options): the initial
        snapshot of a large table then bootstraps across many checkpointable
        batches instead of arriving as one table-sized batch. By default a
        non-append commit (DELETE / copy-on-write rewrite) FAILS the stream;
        ``ignore_changes=True`` streams past it, accepting re-served rows.
        ``starting_version`` (a commit version, or ``"latest"``) /
        ``starting_timestamp`` skip the initial snapshot and serve changes
        from that point on (Delta's public source options); mid-stream
        schema changes fail the stream until restart.

        ACL staleness: the user's DNF is resolved ONCE here, at stream
        definition, and baked into the source options — a grant or
        revocation made after the stream starts never applies for the
        stream's lifetime. For revocation-sensitive pipelines compose
        :meth:`governed_batch_filter` in a ``foreachBatch`` sink, which
        re-resolves the DNF per micro-batch through the TTL ACL cache (same
        guidance as :meth:`read_table_stream`)."""
        self.counters["queries_served"] += 1
        path = self.resolve(alias)
        from .sources.governed import GovernedDataSource

        self.spark.dataSource.register(GovernedDataSource)
        reader = self.spark.readStream.format("governed").option("path", path)
        dnf = self.resolved_dnf(alias, user)
        if dnf is not None and dnf != []:
            reader = reader.option("dnf", json.dumps(dnf))
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
        if max_bytes_per_trigger is not None:
            reader = reader.option("maxBytesPerTrigger", int(max_bytes_per_trigger))
        if ignore_changes:
            reader = reader.option("ignoreChanges", "true")
        if starting_version is not None:
            reader = reader.option("startingVersion", str(starting_version))
        if starting_timestamp is not None:
            reader = reader.option("startingTimestamp", str(starting_timestamp))
        if read_change_feed:
            # Delta's streaming CDF: rows gain _change_type/_commit_version,
            # DML commits feed their change files, deletes arrive AS deletes
            reader = reader.option("readChangeFeed", "true")
        return reader.load()

    def governed_batch_filter(self, alias: str, user: str = acl.ANONYMOUS):
        """Per-micro-batch ACL re-resolution for long-running streams.

        :meth:`read_table_stream` compiles the ACL predicate ONCE at stream
        definition — a permission grant or revocation made after the stream
        starts is never picked up. This returns a ``(batch_df, batch_id) ->
        DataFrame`` function for ``foreachBatch`` sinks that re-resolves the
        DNF on every micro-batch through the engine's TTL ACL cache, so
        permission changes propagate within ``acl_cache_ttl_s`` (120 s by
        default — the reference's cache-bounded staleness, src/main.rs:90-93):
        the permissions snapshot is re-collected once per TTL and no memo
        entry outlives the snapshot it came from. No restart is needed::

            gate = engine.governed_batch_filter("trades", user)
            stream.writeStream.foreachBatch(
                lambda df, bid: gate(df, bid).write.save(...)
            )
        """

        def gate(batch_df: DataFrame, batch_id: int) -> DataFrame:
            pred = acl.compile_dnf(self.resolved_dnf(alias, user))
            return batch_df if pred is None else batch_df.filter(pred)

        return gate

    def table_changes(
        self,
        alias: str,
        from_version: int | None = None,
        to_version: int | None = None,
        from_timestamp: "int | float | str | None" = None,
        to_timestamp: "int | float | str | None" = None,
    ) -> DataFrame:
        """Incremental change feed between two snapshots (Delta CDF).

        Per the Delta CDF read protocol, each commit in
        ``(from_version, to_version]`` contributes:

        - its ``cdc`` CHANGE FILES (``_change_data/``, written by this
          engine's DML on ``delta.enableChangeDataFeed=true`` tables, or by
          any conforming writer) — row-exact ``_change_type`` of
          delete / update_preimage / update_postimage / insert; when a
          commit carries cdc actions they are AUTHORITATIVE for it;
        - otherwise the DERIVED changes: rows of ``dataChange=true`` adds
          as ``'insert'``, rows of ``dataChange=true`` removes (still on
          disk until vacuum) as ``'delete'``. ``dataChange=false`` commits
          (compaction, recluster) contribute NOTHING — rewrites never
          re-feed the table to downstream consumers.

        Every row carries ``_commit_version``. The incremental-processing
        primitive for a 100 TB corpus: a consumer re-reads only change
        files and changed data files, never the table. A file already
        reclaimed by vacuum fails the read (time-travel-after-vacuum
        semantics); both versions must be within retained log history
        (:func:`deltalog.assert_version_reproducible`).

        ``from_timestamp`` / ``to_timestamp`` (epoch seconds or ISO-8601,
        Delta's timestamp-bounded CDF) resolve to versions via the same
        rule as ``timestampAsOf`` — in-commit timestamps authoritative
        when present; pass versions OR timestamps per bound, not both.
        """
        path = self.resolve(alias)
        if from_timestamp is not None:
            if from_version is not None:
                raise ValueError("pass either from_version or from_timestamp")
            # Delta startingTimestamp is INCLUSIVE of the first commit
            # at-or-after the bound: resolve that commit and step one back
            # so the exclusive lower bound below includes it. A pre-history
            # timestamp resolves to the first retained commit (feed from
            # the start of retained history), not an error.
            from_version = (
                deltalog.version_at_or_after_timestamp(
                    self.spark, path, _to_epoch_millis(from_timestamp)
                )
                - 1
            )
        if from_version is None:
            raise ValueError("table_changes requires from_version or from_timestamp")
        if to_timestamp is not None:
            if to_version is not None:
                raise ValueError("pass either to_version or to_timestamp")
            to_version = deltalog.version_at_timestamp(
                self.spark, path, _to_epoch_millis(to_timestamp)
            )
        to_version = (
            deltalog.latest_version(path) if to_version is None else int(to_version)
        )
        deltalog.assert_version_reproducible(path, int(from_version))
        deltalog.assert_version_reproducible(path, to_version)
        snap = self._snapshot(path)
        snap.check_read()
        schema = snap.schema
        limit = self.large_listing_threshold
        # the window's add/remove/cdc actions, read on the driver and grouped
        # per commit: commits with cdc actions use ONLY those
        cdc_by_v: dict[int, list[str]] = {}
        ins_by_v: dict[int, list[str]] = {}
        del_by_v: dict[int, list[str]] = {}
        dv_versions: set[int] = set()
        n_actions = 0
        for v in range(int(from_version) + 1, to_version + 1):
            actions = deltalog.commit_actions(path, v)
            if actions is None:
                raise ValueError(
                    f"commit {v} of {path} is no longer retained (log cleanup)"
                )
            for act in actions:
                add, rm, cdc = act.get("add"), act.get("remove"), act.get("cdc")
                if add is None and rm is None and cdc is None:
                    continue
                n_actions += 1
                if n_actions > limit:
                    raise ValueError(
                        f"change window ({from_version}, {to_version}] of {alias} "
                        f"touches more than {limit} files — narrow the window "
                        "(consume changes more frequently)"
                    )
                if cdc is not None:
                    cdc_by_v.setdefault(v, []).append(cdc["path"])
                for a, by in ((add, ins_by_v), (rm, del_by_v)):
                    if a is None:
                        continue
                    if (a.get("deletionVector") or {}).get("storageType") is not None:
                        dv_versions.add(v)
                    if a.get("dataChange") is not False:
                        by.setdefault(v, []).append(a["path"])
        underivable = sorted(
            v for v in dv_versions if v not in cdc_by_v
        )
        if underivable:
            # a DV commit changes row LIVENESS inside an unchanged file —
            # WITHOUT change files, file-granularity derivation cannot
            # represent it (a commit that carries cdc actions serves them
            # instead and needs no derivation)
            raise UnsupportedProtocolError(
                path,
                f"table_changes window ({from_version}, {to_version}] "
                f"contains deletion-vector commits {underivable} without "
                "change files; row-level liveness changes are not "
                "derivable at file granularity",
            )
        for v in dv_versions:
            ins_by_v.pop(v, None)
            del_by_v.pop(v, None)

        # mapped tables: data and change files carry PHYSICAL column names
        # (this engine's DML stages them that way too) — read physical,
        # serve logical
        phys_schema, l2p = self._physical_schema(snap, schema)
        reader = self.spark.read.option("basePath", path)
        if phys_schema is not None:
            reader = reader.schema(phys_schema)
        parts_df: list[DataFrame] = []
        # one read per (commit, kind), so the version column stays exact;
        # windows span few commits by construction
        for v in sorted(set(cdc_by_v) | set(ins_by_v) | set(del_by_v)):
            if v in cdc_by_v:
                cdc_reader = self.spark.read.option("basePath", os.path.join(path, "_change_data"))
                if phys_schema is not None:
                    from pyspark.sql import types as T

                    cdc_reader = cdc_reader.schema(
                        T.StructType(
                            list(phys_schema.fields)
                            + [T.StructField("_change_type", T.StringType())]
                        )
                    )
                part = cdc_reader.parquet(
                    *[os.path.join(path, p) for p in cdc_by_v[v]]
                )
                part = self._rename_physical(
                    part, schema, l2p, keep=["_change_type"]
                ).withColumn("_commit_version", F.lit(v).cast("long"))
                parts_df.append(part)
                continue
            for by, ct in ((ins_by_v, "insert"), (del_by_v, "delete")):
                if v in by:
                    part = self._rename_physical(
                        reader.parquet(*[os.path.join(path, p) for p in by[v]]),
                        schema,
                        l2p,
                    ).withColumns(
                        {
                            "_change_type": F.lit(ct),
                            "_commit_version": F.lit(v).cast("long"),
                        }
                    )
                    parts_df.append(part)
        if parts_df:
            out = parts_df[0]
            for part in parts_df[1:]:
                out = out.unionByName(part)
            return out
        empty = self._empty_table(snap)
        return empty.withColumns(
            {
                "_change_type": F.lit(None).cast("string"),
                "_commit_version": F.lit(None).cast("long"),
            }
        ).limit(0)

    def history(self, alias: str) -> DataFrame:
        """Commit history (DeltaTable.history analog): one row per version
        with operation, timestamp, and add/remove counts."""
        log = self.read_delta_log(alias)
        return (
            log.groupBy("version")
            .agg(
                F.max("commitInfo.operation").alias("operation"),
                # inCommitTimestamp is the authoritative commit time when the
                # table has the ICT feature (wall-clock drifts on log copies)
                F.timestamp_millis(
                    F.max(
                        F.coalesce(
                            F.col("commitInfo.inCommitTimestamp"),
                            F.col("commitInfo.timestamp"),
                        )
                    )
                ).alias("timestamp"),
                F.count(F.col("add")).alias("n_added"),
                F.count(F.col("remove")).alias("n_removed"),
            )
            .orderBy(F.col("version").desc())
        )

    def describe_table(self, alias: str) -> DataFrame:
        """DESCRIBE DETAIL analog (DeltaTable.detail): one row of table
        metadata — format, id, location, partition columns, live file count
        and bytes, table properties, and protocol versions. File counters
        come from the tip VERSION CHECKSUM when one exists (O(1), zero
        Spark jobs — the whole DESCRIBE becomes a driver-side read);
        otherwise from the snapshot-replay aggregate."""
        path = self.resolve(alias)
        snap = self._snapshot(path)
        meta = snap.metadata or {}
        proto = snap.protocol or {}
        crc = deltalog._tip_checksum(path)
        if crc is not None:
            n, b = int(crc["numFiles"]), int(crc["tableSizeBytes"])
        else:
            agg = (
                deltalog.snapshot_files(self.spark, path)
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.coalesce(F.sum("size"), F.lit(0)).alias("b"),
                )
                .collect()[0]
            )
            n, b = int(agg["n"]), int(agg["b"])
        row = (
            "parquet",
            meta.get("id"),
            path,
            list(meta.get("partitionColumns") or []),
            n,
            b,
            snap.configuration,
            int(proto.get("minReaderVersion") or 1),
            int(proto.get("minWriterVersion") or 1),
        )
        return local_df(
            self.spark,
            [row],
            "format string, id string, location string, "
            "partitionColumns array<string>, numFiles long, sizeInBytes long, "
            "properties map<string,string>, minReaderVersion int, "
            "minWriterVersion int",
        )

    def set_table_properties(
        self, alias: str, properties: dict[str, str], unset: list[str] | None = None
    ) -> int:
        """ALTER TABLE SET/UNSET TBLPROPERTIES analog: commit a metaData
        action whose configuration is the current map updated with
        ``properties`` minus ``unset``. Adding a ``delta.constraints.*``
        property must go through :meth:`add_check_constraint` (which
        validates existing rows first — setting it blindly would declare a
        constraint history may violate)."""
        if self.config.read_only:
            raise ReadOnlyError(alias)
        for k in properties:
            if k.startswith("delta.constraints."):
                raise ValueError(
                    f"set constraint {k!r} via add_check_constraint(), which "
                    "validates existing rows first"
                )
        path = self.resolve(alias)
        snap = self._snapshot(path)
        if (
            str(properties.get("delta.enableDeletionVectors", "")).lower()
            == "true"
            and not snap.deletion_vectors
        ):
            # the property alone never authorizes DV actions: a (1,2) table
            # with the property set would accept DV-writing DML whose
            # descriptors every conforming reader (including this engine's
            # own _dv_protocol-gated scans) IGNORES — deleted rows would
            # silently stay visible. The protocol upgrade and the property
            # must land together.
            raise UnsupportedProtocolError(
                path,
                "delta.enableDeletionVectors requires the deletionVectors "
                "protocol feature — use enable_deletion_vectors(), which "
                "upgrades to (3,7)+deletionVectors in the same commit",
            )
        conf = snap.configuration
        conf.update({str(k): str(v) for k, v in properties.items()})
        for k in unset or []:
            conf.pop(k, None)
        meta = snap.metadata or {}
        # enabling CDF demands writer protocol 4 (Delta semantics): upgrade
        # in the SAME commit so a raw/non-CDF-producing writer refuses from
        # this version on instead of committing change-less DML
        protocol_action = None
        if str(conf.get("delta.enableChangeDataFeed", "")).lower() == "true":
            proto = snap.protocol or {}
            writer = int(proto.get("minWriterVersion") or 1)
            wfeats = list(proto.get("writerFeatures") or [])
            if writer < 4:
                protocol_action = {
                    "minReaderVersion": int(proto.get("minReaderVersion") or 1),
                    "minWriterVersion": 4,
                }
            elif writer == 7 and "changeDataFeed" not in wfeats:
                # writer 7 delegates all demands to writerFeatures: the CDF
                # demand must be APPENDED there (an append never drops a
                # declared capability, so the no-clobber rule is preserved)
                protocol_action = {**proto, "writerFeatures": wfeats + ["changeDataFeed"]}
        version = self._commit(
            path,
            lambda: iter(()),
            None,
            schema_json=meta.get("schemaString"),
            partition_cols=list(meta.get("partitionColumns") or []),
            operation="SET TBLPROPERTIES",
            configuration=conf,
            enforced_constraints=True,  # no rows written
            enforced_generated=True,
            identity_handled=True,
            defaults_handled=True,
            cdf_handled=True,
            # a metadata-only commit adds/removes no files, so DV identity
            # maintenance is vacuously satisfied on declared-DV tables
            dv_write=snap.deletion_vectors,
            protocol_action=protocol_action,
            row_tracking_assign=True,
        )
        return version

    def add_check_constraint(self, alias: str, name: str, sql: str) -> int:
        """ADD CONSTRAINT analog (Delta writer protocol 3): validate the
        EXISTING table against ``sql`` first (one limit(1) probe — Delta
        scans the table the same way), then commit the
        ``delta.constraints.<name>`` property; subsequent writes through the
        engine enforce it (:meth:`_enforce_check_constraints`)."""
        if self.config.read_only:
            raise ReadOnlyError(alias)
        path = self.resolve(alias)
        violating = ~F.coalesce(F.expr(sql).cast("boolean"), F.lit(True))
        if self._read_data(path).filter(violating).limit(1).count() > 0:
            raise ValueError(
                f"cannot add CHECK constraint {name!r} ({sql}): existing "
                "rows violate it"
            )
        snap = self._snapshot(path)
        conf = snap.configuration
        conf[f"delta.constraints.{name}"] = str(sql)
        meta = snap.metadata or {}
        version = self._commit(
            path,
            lambda: iter(()),
            schema_json=meta.get("schemaString"),
            partition_cols=list(meta.get("partitionColumns") or []),
            operation="ADD CONSTRAINT",
            configuration=conf,
            enforced_constraints=True,
            row_tracking_assign=True,
        )
        return version

    def restore(
        self,
        alias: str,
        version: int | None = None,
        timestamp_as_of: "int | float | str | None" = None,
    ) -> int:
        """RESTORE the table to an earlier version (or, Delta's
        ``RESTORE ... TO TIMESTAMP AS OF``, the last version committed at or
        before ``timestamp_as_of``): commits adds for files live then but
        not now, and removes for files live now but not then. Purely a log
        operation — no data is rewritten — so it fails cleanly if the old
        files were already vacuumed (missing at read time)."""
        if self.config.read_only:
            raise ReadOnlyError(alias)
        path = self.resolve(alias)
        if timestamp_as_of is not None:
            if version is not None:
                raise ValueError("pass either version or timestamp_as_of, not both")
            version = deltalog.version_at_timestamp(
                self.spark, path, _to_epoch_millis(timestamp_as_of)
            )
        if version is None:
            raise ValueError("restore requires a version or timestamp_as_of")
        # Version diff computed DISTRIBUTED (two anti-joins over the log
        # replays); only the commit body streams to the driver, row by row,
        # via toLocalIterator — a 10^7-file restore never materializes
        # either snapshot's file list in driver memory.
        old = deltalog.snapshot_files(self.spark, path, version=version)
        cur = deltalog.snapshot_files(self.spark, path)
        # On DV tables the logical-file identity is (path, dv uniqueId):
        # diffing on path alone would miss a file whose DV changed between
        # the two snapshots (live in both → no action → the restore
        # silently keeps the NEW deletion state). Key the diff on the full
        # identity so a DV change restores like any other file change.
        dv_uid = F.concat_ws(
            "\x00",
            F.coalesce(F.col("deletionVector.storageType"), F.lit("")),
            F.coalesce(F.col("deletionVector.pathOrInlineDv"), F.lit("")),
            F.coalesce(
                F.col("deletionVector.offset").cast("string"), F.lit("")
            ),
        )
        old = old.withColumn("_ident", F.concat_ws("\x01", F.col("path"), dv_uid))
        cur = cur.withColumn("_ident", F.concat_ws("\x01", F.col("path"), dv_uid))
        re_adds = old.join(cur.select("_ident"), "_ident", "left_anti")
        re_removes = cur.join(old.select("_ident"), "_ident", "left_anti")

        def add_rows():
            for r in re_adds.toLocalIterator():
                add = {
                    "path": r["path"],
                    "partitionValues": dict(r["partitionValues"] or {}),
                    "size": r["size"],
                    "modificationTime": r["modificationTime"],
                    "stats": r["stats"],
                }
                # carried so a restore never resurrects DV-deleted rows
                if r["deletionVector"] is not None:
                    add["deletionVector"] = r["deletionVector"].asDict()
                # row-tracking identity restores with the file
                if r["baseRowId"] is not None:
                    add["baseRowId"] = r["baseRowId"]
                if r["defaultRowCommitVersion"] is not None:
                    add["defaultRowCommitVersion"] = r["defaultRowCommitVersion"]
                yield add

        def remove_rows():
            for r in re_removes.toLocalIterator():
                # the remove must tombstone the SAME (path, dv uniqueId)
                # identity the live add declares — a bare-path remove on a
                # DV table never reconciles, resurrecting deleted rows
                rm = {"path": r["path"]}
                if r["deletionVector"] is not None:
                    rm["deletionVector"] = r["deletionVector"].asDict()
                # row-tracking identity carried on the tombstone (spec shape)
                if r["baseRowId"] is not None:
                    rm["baseRowId"] = r["baseRowId"]
                    if r["defaultRowCommitVersion"] is not None:
                        rm["defaultRowCommitVersion"] = r[
                            "defaultRowCommitVersion"
                        ]
                yield rm

        new_version = self._commit(
            path,
            add_rows,
            remove_rows,
            operation="RESTORE",
            # RESTORE writes no new rows — only re-adds files that were
            # committed as constraint-valid in the target version; its
            # full-file adds/removes are CDF-derivable
            enforced_constraints=True,
            enforced_generated=True,
            identity_handled=True,
            defaults_handled=True,
            cdf_handled=True,
            dv_write=self._snapshot(path).deletion_vectors,
            row_tracking_assign=True,
        )
        return new_version

    def clone_table(
        self,
        alias: str,
        dst_path: str,
        target_alias: str | None = None,
        version: int | None = None,
    ) -> int:
        """SHALLOW CLONE (Delta ``CREATE TABLE ... SHALLOW CLONE`` analog):
        commit a NEW table at ``dst_path`` whose add actions reference the
        source snapshot's data files by ABSOLUTE path — zero bytes copied,
        O(metadata) cost, the instant-table-copy primitive for experiments
        over a 100 TB corpus. ``version`` clones a historical snapshot.

        The clone is fully independent afterwards: appends/DML/overwrites
        commit into ``dst_path`` only (copy-on-write rewrites land under
        the clone's root; removes tombstone the absolute references), and
        ``vacuum`` on the clone can never reclaim source files (it only
        walks the clone's directory). The source table is never modified.
        Reads of large clones stay on the enumerated-path scan — the
        listing-join cannot see foreign absolute files and refuses loudly.
        DV-table clones rewrite each relative ('u') descriptor to its
        absolute ('p') form so the clone decodes the source's bins in
        place; column-mapped clones copy the mapped schema, configuration,
        and protocol, and read under physical names like the source.
        ``target_alias`` registers the clone in this engine's mapping."""
        if self.config.read_only:
            raise ReadOnlyError(alias)
        src = self.resolve(alias)
        src_snap = self._snapshot(src)
        src_snap.check_read()
        if deltalog.latest_version(dst_path) >= 0:
            raise ValueError(f"clone destination {dst_path} is already a table")
        meta = src_snap.metadata or {}
        src_proto = src_snap.protocol
        snap = deltalog.snapshot_files(self.spark, src, version=version)
        from delta_lake_proxy_spark import dv as dv_mod

        def adds_fn():
            # streamed: a 10^7-file clone never materializes driver-side
            for r in snap.toLocalIterator():
                p = r["path"]
                add = {
                    # absolute reference (clone-of-clone keeps its own)
                    "path": p if p.startswith("/") or "://" in p else os.path.join(src, p),
                    "partitionValues": dict(r["partitionValues"] or {}),
                    "size": r["size"],
                    "modificationTime": r["modificationTime"],
                    "stats": r["stats"],
                }
                # row-tracking identity travels with the clone (the carried
                # delta.rowTracking domain keeps the high-water mark too)
                if r["baseRowId"] is not None:
                    add["baseRowId"] = r["baseRowId"]
                if r["defaultRowCommitVersion"] is not None:
                    add["defaultRowCommitVersion"] = r["defaultRowCommitVersion"]
                if r["deletionVector"] is not None and r["deletionVector"]["storageType"]:
                    d = r["deletionVector"].asDict()
                    if d.get("storageType") == "u":
                        # relative-from-UUID descriptors resolve against the
                        # SOURCE root — rewrite to the absolute ('p') form so
                        # the clone (and any conforming reader of it) decodes
                        # the same bin without copying a byte
                        d = {
                            **d,
                            "storageType": "p",
                            "pathOrInlineDv": dv_mod.dv_file_path(src, d),
                        }
                    add["deletionVector"] = d
                yield add

        os.makedirs(dst_path, exist_ok=True)
        # the clone re-declares the source's protocol demands (column
        # mapping / deletion vectors travel with the copied metadata and
        # descriptors): a (1,2) clone of a reader-3 table would let
        # conforming clients silently mis-read it
        protocol_action = None
        if src_proto is not None and (
            int(src_proto.get("minReaderVersion") or 1) > 1
            or int(src_proto.get("minWriterVersion") or 1) > 2
        ):
            protocol_action = src_proto
        # the clone carries the source's LIVE domainMetadata (upstream CLONE
        # semantics): declaring clusteredTable without the delta.clustering
        # domain would violate the preserve-domains obligation this engine
        # enforces for its own checkpoints
        domains = deltalog.live_domain_metadata(src)
        v = self._commit(
            dst_path,
            adds_fn,
            None,
            schema_json=meta.get("schemaString"),
            partition_cols=list(meta.get("partitionColumns") or []),
            operation="CLONE",
            configuration=src_snap.configuration,
            enforced_constraints=True,  # no rows written; source rows were valid
            enforced_generated=True,
            identity_handled=True,
            defaults_handled=True,
            cdf_handled=True,
            protocol_action=protocol_action,
            domain_actions=[
                domains[d] for d in sorted(domains)
            ] or None,
        )
        if target_alias:
            self.config.table_mapping[target_alias] = dst_path
        return v

    def create_governed_view(
        self, alias: str, user: str = acl.ANONYMOUS, view_name: str | None = None
    ) -> str:
        """Register the governed read as a temp view so plain ``spark.sql``
        queries run with the ACL predicate injected — the library-level
        variant of the Catalyst-rule injection design (SURVEY §4)."""
        name = view_name or f"gov_{alias}"
        self.read_table(alias, user=user).createOrReplaceTempView(name)
        return name

    # -- governed ANN index (X3 scale path, governed form) -------------------

    def build_ivf_index(
        self,
        alias: str,
        index_path: str,
        index_alias: str | None = None,
        user: str = acl.ANONYMOUS,
        num_centroids: int = 16,
        lloyd_iters: int = 1,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        pq_m: int | None = None,
        pq_k: int = 16,
        pq_iters: int = 2,
    ) -> str:
        """Materialize the IVF index of a governed embeddings table as a
        GOVERNED Delta table: the corpus is read through :meth:`read_table`
        (the index holds only what the building ``user`` may see), written
        ``_cid``-partitioned via :meth:`write_table` (Delta-logged, so the
        index gets history/time-travel/vacuum like any engine table), and
        registered in the catalog under ``index_alias`` (default
        ``<alias>__ivf``). The source linkage is recorded as the
        ``graft.ivf.source`` table property so :meth:`ivf_probe` carries the
        SOURCE table's ACL to every probe — the engine's flagship contract
        (G1) extended to derived data, which the raw
        ``similarity.ivf_probe`` path deliberately does not give you.

        All source columns travel into the index, so a source partition
        ACL compiles into a plain row predicate on the index. Returns the
        registered index alias. Centroids are stored with the index in
        manifest form (``similarity.write_centroid_manifest``); past
        ``similarity.ARROW_CENTROID_CELLS`` the whole build runs on the
        Arrow path (broadcast + ``mapInPandas`` argmax, distributed Lloyd
        means).

        ``pq_m`` upgrades the index to governed IVFPQ: a product-quantization
        codebook (``pq_m`` subspaces x ``pq_k`` codes) is trained on the
        governed corpus and per-vector codes ride into the index, so
        :meth:`ivf_probe` can ADC-shortlist within the probed lists before
        the exact re-rank (pass ``shortlist=``)."""
        if self.config.read_only:
            raise ReadOnlyError(alias)
        from .functions import similarity as _sim

        # the source version this build captures — recorded on the index so
        # refresh_ivf_index can assign only commits PAST it. The read is
        # PINNED to that version: an unpinned read would lazily resolve the
        # tip, so a concurrent source commit landing mid-build would be
        # indexed now AND re-indexed by the next refresh (review r12 #2)
        src_version = deltalog.latest_version(self.resolve(alias))
        src_df = self.read_table(alias, user=user, version=src_version)
        dim = _sim._vec_dim(src_df, vec_col)
        idx_alias = index_alias or f"{alias}__ivf"
        cents: object
        if num_centroids * dim <= _sim.ARROW_CENTROID_CELLS:
            cents = _sim._ivf_centroids(
                src_df, num_centroids, lloyd_iters, id_col=id_col, vec_col=vec_col
            )
            assigned = src_df.withColumn(
                "_cid", _sim._assign_centroid(F.col(vec_col), cents)
            )
        else:
            ids, mat = _sim._ivf_centroids_np(
                src_df, num_centroids, lloyd_iters, id_col=id_col, vec_col=vec_col
            )
            cents = (ids, mat)
            assigned = _sim.assign_centroids_arrow(src_df, ids, mat, vec_col)
        codebook = None
        if pq_m:
            codebook = _sim.pq_train(
                src_df, m=pq_m, k=pq_k, lloyd_iters=pq_iters,
                id_col=id_col, vec_col=vec_col,
            )
            assigned = _sim.with_pq_codes(assigned, codebook, vec_col, "pq_codes")
        self.config.table_mapping[idx_alias] = index_path
        self.write_table(
            idx_alias,
            assigned.repartition(F.col("_cid")),
            mode="overwrite",
            partition_by=["_cid"],
        )
        _sim.write_centroid_manifest(self.spark, index_path, cents, id_col, vec_col)
        if codebook is not None:
            with open(
                os.path.join(index_path, "_pq_codebook.json"), "w", encoding="utf-8"
            ) as f:
                json.dump({"m": pq_m, "k": pq_k, "codebook": codebook}, f)
        props = {
            "graft.ivf.source": alias,
            "graft.ivf.idCol": id_col,
            "graft.ivf.vecCol": vec_col,
            "graft.ivf.indexedVersion": str(src_version),
        }
        # the drift stamp (verdict r14 next #1): mean assigned distance at
        # train time, read back from the written index (one column-pruned
        # scan) — ivf_drift compares the maintained index's inertia to it
        dist = self._ivf_mean_dist(index_path, cents=(cents, vec_col))
        if dist is not None:
            props["graft.ivf.buildDistance"] = repr(dist)
        self.set_table_properties(idx_alias, props)
        return idx_alias

    def _source_window_changes(
        self, src_path: str, indexed: int, cur: int
    ) -> tuple[dict[str, dict], dict[str, dict], bool]:
        """Net row-level changes of the source commits in ``(indexed, cur]``
        — the shared walk behind every incremental index refresh
        (:meth:`refresh_ivf_index`, :meth:`refresh_minhash_index`).
        Returns ``(pending, retract, saw_dml)``: ``pending`` maps each
        net-added file path to its add action (DV-carrying re-adds
        included — their LIVE rows re-enter), ``retract`` maps each
        PRE-window file that lost content to its remove action's
        partitionValues (its rows are in the index and must come out),
        and ``saw_dml`` is True when ANY dataChange remove or DV-carrying
        add appeared — including on in-window files, which net OUT of
        ``retract`` but still mean deleted rows may hide in a row-exact
        CDF feed (review r13 #1). dataChange=False adds/removes
        (compaction) are skipped on both sides. Removes classify BEFORE
        adds per commit: a DV update logs remove(old identity) +
        add(same path, new DV) inside one commit in unspecified action
        order, and the pre-window test must be order-independent. A
        cleaned-up commit json refuses with the rebuild hint.

        ``remove.partitionValues`` is OPTIONAL in the Delta protocol: an
        external writer may omit it, and on a partitioned table the
        retracted rows would then read back with NULL partition columns —
        silently matching nothing if the id/vec column is partition-based
        (advice r13 #3). A pre-window remove missing them recovers the
        file's partitionValues from its last surviving ADD (the live-adds
        replay at the ``indexed`` version); an unrecoverable file refuses
        with the rebuild hint rather than retract nothing."""
        pending: dict[str, dict] = {}
        window_added: set[str] = set()
        retract: dict[str, dict] = {}
        saw_dml = False
        meta = self._snapshot(src_path).metadata or {}
        has_parts = bool(meta.get("partitionColumns"))
        base_adds: dict[str, dict] | None = None  # lazy pv-recovery replay
        for v in range(indexed + 1, cur + 1):
            actions = deltalog.commit_actions(src_path, v)
            if actions is None:
                raise ValueError(
                    f"source commit {v} is no longer retained (log cleanup) "
                    "— rebuild the index from scratch"
                )
            adds_c: dict[str, dict] = {}
            removes_c: dict[str, dict] = {}
            for action in actions:
                if action.get("add") is not None:
                    a = action["add"]
                    if a.get("dataChange") is False:
                        continue  # compaction re-add: already indexed
                    adds_c[a["path"]] = a
                elif action.get("remove") is not None:
                    r = action["remove"]
                    if r.get("dataChange") is False:
                        continue  # compaction tombstone: no row change
                    removes_c[r["path"]] = r
            for rp, r in removes_c.items():
                saw_dml = True
                if rp not in window_added:
                    # pre-window content: its rows are in the index — retract
                    pv = r.get("partitionValues")
                    if has_parts and not pv:
                        if base_adds is None:
                            base_adds = deltalog._live_adds_no_spark(
                                src_path, max_version=indexed
                            )
                        pv = (base_adds.get(rp) or {}).get("partitionValues")
                        if not pv:
                            raise ValueError(
                                f"remove of {rp!r} carries no partitionValues "
                                "and no surviving add records them — retracted "
                                "rows would read back with NULL partition "
                                "columns; rebuild the index"
                            )
                    retract[rp] = dict(pv or {})
                pending.pop(rp, None)  # superseded within the window
            for ap, a in adds_c.items():
                if a.get("deletionVector"):
                    saw_dml = True
                pending[ap] = a
                window_added.add(ap)
        return pending, retract, saw_dml

    def _cdf_refresh_feeds(
        self, src_alias: str, src_path: str, indexed: int, cur: int, id_col: str
    ):
        """Row-EXACT refresh feeds from the source's change feed, or None
        when CDF is off or unreadable for this window. Returns
        ``(dead, fresh)``, NETTED per row id across the window (review
        r13 #1 — a row inserted at V+1 and deleted at V+2 must not reach
        the index; one updated twice must land exactly once):

        - ``dead``: for every id with any delete/update_preimage event,
          its EARLIEST such row — the id's PRE-window state, which is
          what the index holds (the IVF retraction assigns the vector to
          find the indexed ``_cid`` list; a later preimage's drifted
          vector could assign elsewhere and the partition-pruned DELETE
          would miss the real row). Ids never indexed (inserted AND
          deleted in-window) retract as semi-join no-ops.
        - ``fresh``: each id's LATEST insert/update_postimage row, and
          only when no delete struck at a later commit.

        When the source writes cdc change files this is strictly better
        than the file-granularity walk: a copy-on-write DELETE's
        SURVIVORS never appear in either feed, so the index keeps their
        original rows untouched — and the feeds stay readable after the
        rewritten data files are vacuumed. The two feeds must be used
        TOGETHER (a file-walk retract paired with a CDF fresh side would
        double-add survivors). An unreadable window (external DV writer
        without change files, CDF enabled mid-window, oversized window)
        returns None so callers fall back to the self-consistent
        file-granularity path (review r13 #3).

        The fallback decision happens EAGERLY (advice r13 #4): the feeds
        are lazy plans, so ``table_changes`` succeeding at plan time does
        not mean the window's change/data files still exist — one vacuumed
        between planning and the delete/append jobs would fail the refresh
        MID-FLIGHT, after the retract DELETE may already be committed.
        Every file the feed would read (cdc files; add/remove parquet of
        commits without change files) is stat'd here, before any index
        commit, and a missing one returns None so the caller falls back
        (and the file walk's own ``_require_retract_files`` decides from
        there)."""
        if not self._snapshot(src_path).flag("delta.enableChangeDataFeed"):
            return None
        from pyspark.errors import AnalysisException
        from pyspark.sql import Window

        # stat the feed files BEFORE planning: table_changes itself
        # resolves the cdc parquet at analysis time, so a vacuumed change
        # file raises AnalysisException out of the plan call — the
        # existence walk must run first (and the except below still
        # catches a file vanishing between the stat and the plan)
        if not self._cdf_feed_files_exist(src_path, indexed, cur):
            return None
        try:
            ch = self.table_changes(src_alias, from_version=indexed, to_version=cur)
        except (
            UnsupportedProtocolError,
            ValueError,
            RuntimeError,
            AnalysisException,
        ):
            return None
        meta_cols = ["_change_type", "_commit_version"]
        dead_ev = ch.filter(F.col("_change_type").isin("delete", "update_preimage"))
        fresh_ev = ch.filter(F.col("_change_type").isin("insert", "update_postimage"))
        w_dead = Window.partitionBy(id_col).orderBy(F.col("_commit_version").asc())
        dead = (
            dead_ev.withColumn("_rn", F.row_number().over(w_dead))
            .filter(F.col("_rn") == 1)
            .drop("_rn", *meta_cols)
        )
        w_fresh = Window.partitionBy(id_col).orderBy(F.col("_commit_version").desc())
        last_dead = dead_ev.groupBy(F.col(id_col)).agg(
            F.max("_commit_version").alias("_last_dead_v")
        )
        fresh = (
            fresh_ev.withColumn("_rn", F.row_number().over(w_fresh))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_change_type")
            .join(last_dead, id_col, "left")
            # <= not <: an UPDATE's preimage and postimage share one
            # commit version and the row SURVIVES it (a commit either
            # deletes a row or updates it, never both), so a same-version
            # dead event must not veto the postimage — only a strictly
            # LATER delete kills the fresh row
            .filter(
                F.col("_last_dead_v").isNull()
                | (F.col("_last_dead_v") <= F.col("_commit_version"))
            )
            .drop("_last_dead_v", "_commit_version")
        )
        return dead, fresh

    def _cdf_feed_files_exist(self, src_path: str, indexed: int, cur: int) -> bool:
        """Driver-side existence check of every file a CDF feed over the
        ``(indexed, cur]`` window would read, per the Delta CDF read
        protocol: a commit WITH cdc actions feeds its change files; one
        without feeds its dataChange add parquet (inserts) and remove
        parquet (whole-file deletes). Pure os.stat over the commit jsons
        already required by the walk — no Spark job."""
        for v in range(indexed + 1, cur + 1):
            actions = deltalog.commit_actions(src_path, v)
            if actions is None:
                return False
            cdc_paths: list[str] = []
            data_paths: list[str] = []
            for action in actions:
                if action.get("cdc") is not None:
                    cdc_paths.append(action["cdc"]["path"])
                elif action.get("add") is not None:
                    a = action["add"]
                    if a.get("dataChange") is not False:
                        data_paths.append(a["path"])
                elif action.get("remove") is not None:
                    r = action["remove"]
                    if r.get("dataChange") is not False:
                        data_paths.append(r["path"])
            for rel in cdc_paths or data_paths:
                if not _is_foreign_path(rel) and not os.path.isfile(
                    os.path.join(src_path, rel)
                ):
                    return False
        return True

    def _require_retract_files(self, src_path: str, retract: dict) -> None:
        """Refuse a retraction whose tombstoned parquet was already
        vacuumed — the dead row ids are unreadable; only a rebuild can
        reconcile the index."""
        gone = sorted(
            rp
            for rp in retract
            if not _is_foreign_path(rp)
            and not os.path.isfile(os.path.join(src_path, rp))
        )
        if gone:
            raise ValueError(
                f"retracted source file(s) {gone[:3]} already vacuumed — "
                "cannot read back their row ids; rebuild the index"
            )

    def refresh_ivf_index(
        self, index_alias: str, user: str = acl.ANONYMOUS
    ) -> int:
        """Incrementally refresh an index built by :meth:`build_ivf_index`:
        read ONLY the source commits past ``graft.ivf.indexedVersion``
        (their net added files, scanned by explicit enumeration — the
        indexed corpus is never rescanned), assign the new vectors to the
        EXISTING centroids (no retrain — standard IVF maintenance; the
        centroid manifest is untouched), append them into the ``_cid``
        partitions (Delta-logged like any engine write), and advance the
        indexed version. On an IVFPQ index the stored codebook encodes the
        new vectors' codes too. At 100 TB with daily ingest this is the
        difference between an index that is refreshed in O(new data) and
        one that is either stale or rebuilt from scratch — the same
        incremental shape ``minhash_near_duplicates_incremental`` gives
        near-dup. (The reference's analog freshness surface is its
        snapshot cache serving fresh file sets per commit,
        src/main.rs:344-367.)

        DELETE-AWARE (verdict r12 next #3): a source commit that removes
        a pre-window file or attaches a deletion vector no longer forces
        a rebuild. The changed files' ids + vectors are read back (Delta
        removes tombstone the LOG; the parquet stays on disk until
        vacuum), assigned to the stored centroids to find their inverted
        lists, and retracted from the index by a semi-join DELETE whose
        ``_cid IN (...)`` condition prunes the scan to exactly the
        affected partitions; the files' still-live rows (DV-filtered)
        then re-enter with the append. Retracting an id the index never
        held (rows DV'd before the window, ACL-hidden rows) is a no-op
        by construction — the semi-join just misses. Only a retract file
        already VACUUMED refuses with the rebuild hint (the tombstoned
        parquet is genuinely gone). ``user`` should match the building
        user; the probe additionally injects the source ACL at query
        time regardless. Returns the newly indexed source version."""
        if self.config.read_only:
            raise ReadOnlyError(index_alias)
        from .functions import similarity as _sim

        path = self.resolve(index_alias)
        conf = self._snapshot(path).configuration
        src_alias = conf.get("graft.ivf.source")
        if not src_alias:
            raise ValueError(
                f"{index_alias!r} is not an IVF index built by build_ivf_index"
            )
        iv = conf.get("graft.ivf.indexedVersion")
        if iv is None:
            raise ValueError(
                f"index {index_alias!r} predates indexed-version tracking — "
                "rebuild once with build_ivf_index to enable refresh"
            )
        indexed = int(iv)
        # the txn watermark rides the APPEND commit itself, so a refresh
        # that crashed between its append and its property update is not
        # replayed: the watermark already covers the window, and only the
        # property catch-up below remains (review r12 #5)
        txn_mark = deltalog.all_txn_versions(path).get(_IVF_REFRESH_APP, -1)
        indexed = max(indexed, int(txn_mark))
        src_path = self.resolve(src_alias)
        cur = deltalog.latest_version(src_path)
        if cur <= indexed:
            if int(iv) < indexed:
                # catch up the property a crashed refresh left stale
                self.set_table_properties(
                    index_alias, {"graft.ivf.indexedVersion": str(indexed)}
                )
            return indexed  # already fresh — zero data scans
        pending, retract, saw_dml = self._source_window_changes(
            src_path, indexed, cur
        )
        if retract or pending:
            cents, id_col, vec_col = _sim.load_centroids(self.spark, path)
            # a CDF source upgrades BOTH feeds to row-exact change rows
            # (survivors of a rewrite are never churned; feeds outlive the
            # rewritten files' vacuum) — the walk above still decides
            # WHETHER anything happened, from driver-side log json alone;
            # an unreadable change feed falls back to the file walk
            cdf = self._cdf_refresh_feeds(src_alias, src_path, indexed, cur, id_col)
            codebook = None
            cb_path = os.path.join(path, "_pq_codebook.json")
            if os.path.exists(cb_path):
                with open(cb_path, encoding="utf-8") as f:
                    codebook = json.load(f)["codebook"]

            def assign(df: DataFrame) -> DataFrame:
                if isinstance(cents, list):
                    return df.withColumn(
                        "_cid", _sim._assign_centroid(F.col(vec_col), cents)
                    )
                ids, mat = cents
                return _sim.assign_centroids_arrow(df, ids, mat, vec_col)

            # the dead leg runs on the walk's retract set — or, with CDF
            # feeds, whenever ANY remove/DV appeared: an in-window
            # insert-then-DELETE nets out of `retract` yet its rows sit in
            # the fresh feed and must be netted by the feed itself, while
            # a DV on an in-window file leaves dead rows only the feed
            # sees (review r13 #1)
            dead_ids = None
            pre_index_ids = None
            try:
                if retract or (cdf is not None and saw_dml):
                    # the index's id relation BEFORE the retract DELETE —
                    # planned now (the live-file set pins at plan time;
                    # tombstoned parquet survives until vacuum) so the ACL
                    # marker below can intersect dead_ids down to ids the
                    # index actually held (advice r13 #2)
                    pre_index_ids = self._read_data(path).select(F.col(id_col))
                    if cdf is not None:
                        dead_src = cdf[0].select(id_col, vec_col)
                    else:
                        self._require_retract_files(src_path, retract)
                        # ids + vectors of every row the changed files USED
                        # to hold (over-approximation: pre-window DV'd /
                        # ACL-hidden rows were never indexed, so their
                        # retraction is a semi-join miss)
                        dead_src = self._read_clone_enumerated(
                            src_path, dict(retract)
                        ).select(id_col, vec_col)
                    # assigned to the STORED centroids to land in the same
                    # _cid lists the build placed them in
                    dead = assign(dead_src).select(id_col, "_cid")
                    dead = dead.persist(StorageLevel.MEMORY_AND_DISK)
                    dead_ids = dead.select(id_col)
                    # centroid-bounded collect: <= num_centroids values
                    dead_cids = [
                        r["_cid"] for r in dead.select("_cid").distinct().collect()
                    ]
                    if dead_cids:
                        self.delete(
                            index_alias,
                            condition=F.col("_cid").isin(dead_cids),
                            match=dead_ids,
                            on=[id_col],
                        )
                if pending:
                    if cdf is not None:
                        new_rows = cdf[1]
                    else:
                        pv_of = {
                            ap: dict(a.get("partitionValues") or {})
                            for ap, a in pending.items()
                        }
                        dv_items = [
                            (ap, a["deletionVector"])
                            for ap, a in pending.items()
                            if a.get("deletionVector")
                        ]
                        new_rows = self._read_clone_enumerated(
                            src_path, pv_of, dv_items=dv_items or None
                        )
                    new_rows = self._acl_filter_keeping_retracted(
                        new_rows, src_alias, user, dead_ids, id_col,
                        index_ids=pre_index_ids,
                    )
                    # a pure-DELETE window under cdc-authoritative change
                    # files has rewrite ADDS but no fresh rows — skip the
                    # empty commit
                    if cdf is None or not new_rows.isEmpty():
                        assigned = assign(new_rows)
                        if codebook is not None:
                            assigned = _sim.with_pq_codes(
                                assigned, codebook, vec_col, "pq_codes"
                            )
                        self.write_table(
                            index_alias,
                            assigned.repartition(F.col("_cid")),
                            mode="append",
                            txn={"appId": _IVF_REFRESH_APP, "version": cur},
                        )
            finally:
                if dead_ids is not None:
                    dead.unpersist()
        self.set_table_properties(
            index_alias, {"graft.ivf.indexedVersion": str(cur)}
        )
        return cur

    def _ivf_mean_dist(
        self, path: str, cents=None, quantiles: "tuple[float, ...]" = ()
    ):
        """Mean squared-L2 distance of the index's stored vectors to their
        ASSIGNED (stored ``_cid``) centroids — the k-means inertia of the
        index as it stands. One column-pruned scan of the index, an
        aggregation, and a single driver float; no shuffle (the scorer is
        a map-side column, see ``similarity.assigned_sq_dist``).
        ``quantiles`` folds approximate distance percentiles into the SAME
        aggregation (still one scan) and switches the return to
        ``(mean, {q: value})``."""
        from .functions import similarity as _sim

        if cents is None:
            cents, _id_col, vec_col = _sim.load_centroids(self.spark, path)
        else:
            cents, vec_col = cents
        d = _sim.assigned_sq_dist(
            self._read_data(path).select(F.col(vec_col), F.col("_cid")),
            cents,
            vec_col,
        )
        aggs = [F.avg(F.col("_dist")).alias("_m")]
        if quantiles:
            aggs.append(
                F.percentile_approx(
                    F.col("_dist"), [float(q) for q in quantiles]
                ).alias("_q")
            )
        row = d.agg(*aggs).collect()[0]
        mean = float(row["_m"]) if row["_m"] is not None else None
        if not quantiles:
            return mean
        qv = row["_q"]
        return mean, {
            float(q): (float(v) if v is not None else None)
            for q, v in zip(quantiles, qv or [None] * len(quantiles))
        }

    def ivf_drift(
        self, index_alias: str, quantiles: "tuple[float, ...]" = ()
    ) -> dict:
        """Centroid-drift signal of an index built by :meth:`build_ivf_index`
        (verdict r14 next #1): compares the CURRENT mean assigned distance
        (k-means inertia over the live index — one column-pruned scan)
        against the ``graft.ivf.buildDistance`` stamp recorded when the
        centroids were last trained (build or retrain). Months of
        maintained ingest assign every new vector to frozen centroids; as
        data drifts, the inertia rises and probe recall decays silently —
        this is the cheap WHEN-to-retrain signal.

        Returns ``{"mean_sq_dist", "build_mean_sq_dist", "drift_ratio",
        "indexed_version", "retrain_pending"}``; ``drift_ratio``
        (current/build, ~1.0 right after training) is None when the index
        predates the stamp — retrain once (or rebuild) to establish it.
        ``quantiles`` (e.g. ``(0.5, 0.95)``) adds a ``"quantiles_sq_dist"``
        map of approximate distance percentiles from the SAME single scan
        — a drifting TAIL (p95 rising while the mean holds) is the early
        signal a skew-prone corpus gives before mean inertia moves."""
        path = self.resolve(index_alias)
        conf = self._snapshot(path).configuration
        if not conf.get("graft.ivf.source"):
            raise ValueError(
                f"{index_alias!r} is not an IVF index built by build_ivf_index"
            )
        qmap = None
        if quantiles:
            cur, qmap = self._ivf_mean_dist(path, quantiles=tuple(quantiles))
        else:
            cur = self._ivf_mean_dist(path)
        stamp = conf.get("graft.ivf.buildDistance")
        build = float(stamp) if stamp is not None else None
        if build is None or cur is None:
            ratio = None  # no stamp / empty index: no signal
        elif build == 0.0:
            # a zero-inertia stamp (bootstrap corpus where every vector
            # WAS its centroid) must not disable the signal forever: any
            # positive inertia over it is infinite drift (review r15)
            ratio = 1.0 if cur == 0.0 else float("inf")
        else:
            ratio = cur / build
        out = {
            "mean_sq_dist": cur,
            "build_mean_sq_dist": build,
            "drift_ratio": ratio,
            "indexed_version": int(conf.get("graft.ivf.indexedVersion", "-1")),
            # True while a retrain is in flight (or died mid-way): the
            # overwrite landed but the manifest/codebook/stamp updates may
            # not have — re-run retrain_ivf_index to converge
            "retrain_pending": conf.get("graft.ivf.retrainPending") == "1",
        }
        if qmap is not None:
            out["quantiles_sq_dist"] = qmap
        return out

    def retrain_ivf_index(
        self,
        index_alias: str,
        lloyd_iters: int = 2,
        pq_iters: int = 2,
        user: str = acl.ANONYMOUS,
    ) -> int:
        """In-place centroid retrain of an index built by
        :meth:`build_ivf_index` (verdict r14 next #1 — the one freshness
        gap streaming maintenance left open): re-run Lloyd from the
        CURRENT centroids over the LIVE index rows
        (``similarity.lloyd_refine`` — the same distributed machinery the
        build used, on either centroid representation), re-assign every
        row to the refined centroids, retrain the PQ codebook on the live
        corpus when the index carries one, and OVERWRITE the index table
        in one Delta commit. No source scan happens at all — the index IS
        the corpus sample the centroids must represent (it already holds
        exactly what the building user could see, post-refresh).

        Everything the maintenance loop depends on survives the retrain:
        - centroid IDS are preserved (``lloyd_refine`` contract), so the
          ``_cid`` partition values stay in the same key space and a probe
          planned against the pre-retrain manifest still scans valid
          partitions (approximate results during the swap window — the
          standard ANN freshness trade);
        - the refresh txn watermark rides the overwrite commit
          (``txn={app, indexed}``) and ``graft.ivf.indexedVersion`` is
          re-stamped, so :meth:`refresh_ivf_index` — and any
          :meth:`maintain_indexes_stream` trigger firing mid- or
          post-retrain — keeps its O(new-commits) window; a retrain is
          invisible to the maintenance stream;
        - the overwrite commit inherits the table's ``graft.ivf.*``
          configuration (the log writer carries configuration forward),
          so probes stay governed by the SOURCE table's ACL exactly as
          before.

        Finishes by re-stamping ``graft.ivf.buildDistance`` so
        :meth:`ivf_drift` reads ~1.0 again. Crash safety: a
        ``graft.ivf.retrainPending`` marker commits BEFORE the data
        overwrite and clears in the final property update — a retrain
        that died between the overwrite and the manifest/codebook
        rewrites (old centroids or old codebook over new assignments:
        probes stay governed but score approximately) is visible as
        ``ivf_drift()["retrain_pending"]`` and re-running the retrain
        converges (it recomputes everything from the live rows);
        :meth:`maintain_indexes_stream`'s drift gate re-fires on the
        marker automatically. ``user`` is accepted for interface parity
        with the refreshes (the maintenance stream passes it) but is
        deliberately unused: the index already holds exactly the
        building user's view, and a retrain must never narrow it.
        Returns the indexed source version the retrained index covers."""
        if self.config.read_only:
            raise ReadOnlyError(index_alias)
        from .functions import similarity as _sim

        path = self.resolve(index_alias)
        conf = self._snapshot(path).configuration
        src_alias = conf.get("graft.ivf.source")
        if not src_alias:
            raise ValueError(
                f"{index_alias!r} is not an IVF index built by build_ivf_index"
            )
        iv = conf.get("graft.ivf.indexedVersion")
        if iv is None:
            raise ValueError(
                f"index {index_alias!r} predates indexed-version tracking — "
                "rebuild once with build_ivf_index to enable retrain"
            )
        indexed = max(
            int(iv), int(deltalog.all_txn_versions(path).get(_IVF_REFRESH_APP, -1))
        )
        cents, id_col, vec_col = _sim.load_centroids(self.spark, path)
        live = self._read_data(path).drop("_cid", "pq_codes")
        # an emptied index (every source row retracted) has nothing to
        # retrain — return rather than crash deep in Lloyd/PQ on a
        # zero-row, zero-dim relation (review r15). A retrainPending
        # marker left by a PRIOR crashed retrain clears here: re-running
        # the retrain can never converge it on an empty index, and a
        # stale marker would re-fire a no-op retrain on every
        # maintenance cadence tick forever (review r15 part 2)
        if live.isEmpty():
            if conf.get("graft.ivf.retrainPending") == "1":
                self.set_table_properties(
                    index_alias, {}, unset=["graft.ivf.retrainPending"]
                )
            return indexed
        self.set_table_properties(
            index_alias, {"graft.ivf.retrainPending": "1"}
        )
        new_cents = _sim.lloyd_refine(
            live.select(F.col(vec_col)), cents, lloyd_iters, vec_col
        )
        if isinstance(new_cents, list):
            assigned = live.withColumn(
                "_cid", _sim._assign_centroid(F.col(vec_col), new_cents)
            )
        else:
            ids, mat = new_cents
            assigned = _sim.assign_centroids_arrow(live, ids, mat, vec_col)
        codebook = None
        cb_path = os.path.join(path, "_pq_codebook.json")
        if os.path.exists(cb_path):
            with open(cb_path, encoding="utf-8") as f:
                cb_meta = json.load(f)
            codebook = _sim.pq_train(
                live, m=int(cb_meta["m"]), k=int(cb_meta["k"]),
                lloyd_iters=pq_iters, id_col=id_col, vec_col=vec_col,
            )
            assigned = _sim.with_pq_codes(assigned, codebook, vec_col, "pq_codes")
        self.write_table(
            index_alias,
            assigned.repartition(F.col("_cid")),
            mode="overwrite",
            partition_by=["_cid"],
            txn={"appId": _IVF_REFRESH_APP, "version": indexed},
        )
        _sim.write_centroid_manifest(self.spark, path, new_cents, id_col, vec_col)
        if codebook is not None:
            with open(cb_path, "w", encoding="utf-8") as f:
                json.dump(
                    {
                        "m": int(cb_meta["m"]),
                        "k": int(cb_meta["k"]),
                        "codebook": codebook,
                    },
                    f,
                )
        dist = self._ivf_mean_dist(path, cents=(new_cents, vec_col))
        props = {
            "graft.ivf.indexedVersion": str(indexed),
            "graft.ivf.retrainPending": "0",
        }
        if dist is not None:
            props["graft.ivf.buildDistance"] = repr(dist)
        self.set_table_properties(index_alias, props)
        return indexed

    def _acl_filter_keeping_retracted(
        self,
        new_rows: DataFrame,
        src_alias: str,
        user: str,
        dead_ids: DataFrame | None,
        id_col: str,
        index_ids: DataFrame | None = None,
    ) -> DataFrame:
        """ACL-filter a refresh's incoming rows WITHOUT destroying
        previously-indexed content (review r13 #2): rows whose id was
        just retracted were admitted by the index's BUILDING user — a
        refresh run by a narrower user must restore them (the per-probe
        ACL injection is the query-time governance layer), or a rewrite's
        out-of-scope survivors silently vanish from the index. Genuinely
        NEW rows still honor the refreshing user's ACL.

        ``dead_ids`` OVER-approximates "previously indexed" (advice r13
        #2): ACL-hidden rows of a retracted file and in-window
        inserted-then-updated ids were never indexed, and marking them
        would let content invisible to even the BUILDING user bypass the
        refreshing user's ACL into the index table. ``index_ids`` — the
        id relation of the index as it stood BEFORE this refresh's
        retract DELETE — intersects the marker down to ids the index
        actually held."""
        pred = self.acl_predicate(src_alias, user)
        if pred is None:
            return new_rows
        if dead_ids is None:
            return new_rows.filter(pred)
        was_indexed = dead_ids.select(id_col)
        if index_ids is not None:
            was_indexed = was_indexed.join(
                index_ids.select(id_col), id_col, "semi"
            )
        marker = (
            was_indexed
            .dropDuplicates([id_col])  # a duplicated id must not fan rows out
            .withColumn("_dlp_was_indexed", F.lit(True))
        )
        marked = new_rows.join(marker, id_col, "left")
        return marked.filter(
            pred | F.col("_dlp_was_indexed").isNotNull()
        ).drop("_dlp_was_indexed")

    def ivf_probe(
        self,
        index_alias: str,
        query_vec: list[float],
        k: int = 10,
        n_probe: int = 4,
        user: str = acl.ANONYMOUS,
        shortlist: int | None = None,
    ) -> DataFrame:
        """Governed top-k probe of an index built by :meth:`build_ivf_index`:
        centroid ranking is driver-side metadata, the inverted-list scan is
        a :meth:`read_table` of the index (partition-pruned by the
        ``_cid IN (...)`` predicate — the probed lists are the only files
        read), and the SOURCE table's resolved ACL DNF for ``user`` is
        injected as a row predicate — a user who may see only some
        partitions of the embeddings table gets only those rows back from
        the index derived from it.

        On an IVFPQ index (built with ``pq_m``), ``shortlist`` inserts the
        ADC stage: the probed rows rank by the PQ lookup table first (m
        ``element_at`` per row) and only the shortlist pays exact cosine —
        governance is unchanged because the ACL predicate is applied BEFORE
        the shortlist (forbidden rows never enter it)."""
        path = self.resolve(index_alias)
        from .functions import similarity as _sim

        probe_cids, id_col, vec_col = _sim.probe_centroids(
            self.spark, path, query_vec, n_probe
        )
        df = self.read_table(index_alias, user=user)
        src_alias = self._snapshot(path).configuration.get(
            "graft.ivf.source"
        )
        if src_alias:
            pred = self.acl_predicate(src_alias, user)
            if pred is not None:
                df = df.filter(pred)
        hits = df.filter(F.col("_cid").isin(probe_cids))
        if shortlist is not None:
            cb_path = os.path.join(path, "_pq_codebook.json")
            if not os.path.exists(cb_path):
                raise ValueError(
                    f"index {index_alias!r} carries no PQ codebook — build "
                    "with build_ivf_index(..., pq_m=...) to use a shortlist"
                )
            with open(cb_path, encoding="utf-8") as f:
                codebook = json.load(f)["codebook"]
            adc = _sim.adc_distance_col(codebook, query_vec, "pq_codes")
            hits = (
                hits.select(F.col(id_col), F.col(vec_col), adc.alias("_adc"))
                .orderBy(F.col("_adc").asc(), F.col(id_col).asc())
                .limit(max(int(shortlist), k))
            )
        return _sim.probe_index_df(hits, query_vec, k, id_col, vec_col)

    def _driver_batch_ranking(
        self, queries: DataFrame, query_id_col: str, qv: str, ids, mat,
        per_q: int,
    ):
        """The zero-job prep for :meth:`ivf_probe_batch`'s serving fast
        path: when the query relation is DRIVER-RESIDENT (every analyzed
        leaf a LocalRelation/OneRowRelation — the retrieval-request shape;
        ``functions._local_relation.driver_resident_rows`` is the gate),
        rank centroids with the SAME numpy kernel the Arrow path runs
        (``similarity.rank_centroid_ids`` — bit-identical probe sets),
        check duplicate ids, and return the ``(_qid, _qvec, _cid)``
        relation as a JVM literal plus the probed-cid union — all without
        a single Spark job. Returns ``None`` (caller keeps the distributed
        plan) for distributed/oversized/empty batches, non-finite or
        wrong-dimension vectors, NULL ids, and id types with no literal
        channel; the r17 A/B/A showed a Python-RDD re-entry loses, so the
        literal channel is the only fast re-entry used."""
        import numpy as np

        from .functions import _local_relation as _lr
        from .functions import similarity as _sim

        try:
            id_t = _lr.id_sql_type(queries.schema[query_id_col].dataType)
            sel = queries.select(query_id_col, qv)
        except Exception:
            # missing columns raise the distributed path's own error
            return None
        if id_t is None:
            return None
        rows = _lr.driver_resident_rows(sel)
        if rows is None:
            return None
        qids = [r[0] for r in rows]
        vecs = [r[1] for r in rows]
        dim = mat.shape[1]
        if (
            any(q is None for q in qids)
            or not _lr.all_finite(vecs)
            or any(len(v) != dim for v in vecs)
            or len(rows) * per_q * dim > _lr.MAX_VEC_CELLS
        ):
            return None
        counts = Counter(qids)
        dups = sorted((q for q, n in counts.items() if n > 1), key=repr)[:5]
        if dups:
            raise ValueError(
                f"duplicate {query_id_col!r} values in the query batch "
                f"(e.g. {dups}) — each query needs a unique id; "
                "dropDuplicates or re-key the batch"
            )
        vmat = np.vstack(
            [np.asarray(v, dtype=np.float64) for v in vecs]
        )
        cid_mat = _sim.rank_centroid_ids(vmat, ids, mat, per_q)
        rep_ids, rep_vecs, rep_cids = [], [], []
        for qid, v, crow in zip(qids, vecs, cid_mat):
            for c in crow:
                rep_ids.append(qid)
                rep_vecs.append(v)
                rep_cids.append(int(c))
        q_cid = _lr.id_vec_cid_relation(
            self.spark, rep_ids, rep_vecs, rep_cids,
            "_qid", "_qvec", "_cid", id_t,
        )
        return q_cid, sorted(set(rep_cids))

    def ivf_probe_batch(
        self,
        index_alias: str,
        queries: DataFrame,
        k: int = 10,
        n_probe: int = 4,
        user: str = acl.ANONYMOUS,
        shortlist: int | None = None,
        query_id_col: str = "query_id",
        query_vec_col: str | None = None,
    ) -> DataFrame:
        """Governed top-k probe for a whole DataFrame of query vectors —
        the production retrieval/dedup shape ("find corpus neighbors for
        every doc in today's ingest"). A driver loop over
        :meth:`ivf_probe` is a per-query job storm; this is ONE plan
        (verdict r13 next #2):

        1. centroid ranking per query via the broadcast centroid matrix
           (``similarity.rank_centroids_arrow`` — one Arrow matmul pass,
           the same score-desc/cid-asc order as the single probe),
        2. the index scan pruned by ``_cid IN (union of probed cids)``
           (a centroid-bounded driver collect, like the refresh's
           dead-cid set) and joined to the (query, cid) relation on
           ``_cid`` — each query meets exactly its probed lists, no
           cartesian,
        3. optional ADC shortlist per query on an IVFPQ index
           (``similarity.adc_distance_batch_col`` — codebook inlined
           once, pure codegen), then exact cosine re-rank, top-k per
           query by window rank.

        Governance matches the single probe: the index is read through
        :meth:`read_table` and the SOURCE table's ACL for ``user`` is
        injected before any scoring. ``queries`` needs ``query_id_col``
        plus a vector column (default: the index's own vector column
        name). Output: ``(query_id, <id_col>, score)`` — per query
        identical to :meth:`ivf_probe`."""
        import numpy as np
        from pyspark.sql import Window

        from .functions import similarity as _sim
        from .functions._persist_cache import cache_persisted

        path = self.resolve(index_alias)
        cents, id_col, vec_col = _sim.load_centroids(self.spark, path)
        if query_id_col == id_col:
            raise ValueError(
                f"query_id_col {query_id_col!r} collides with the index's id "
                "column — alias the query ids (the output carries both)"
            )
        qv = query_vec_col or vec_col
        if isinstance(cents, list):
            ids = np.asarray([c for c, _ in cents], dtype=np.int64)
            mat = np.asarray([v for _, v in cents], dtype=np.float64)
            order = np.argsort(ids, kind="stable")
            ids, mat = ids[order], mat[order]
        else:
            ids, mat = cents
        per_q = min(max(1, int(n_probe)), len(ids))
        fast = self._driver_batch_ranking(
            queries, query_id_col, qv, ids, mat, per_q
        )
        if fast is not None:
            # SERVING fast path (r17): the query relation is driver-resident
            # (a literal/inline-table batch — the retrieval-request shape),
            # so centroid ranking, the dup check and the probed-cid union
            # all run in the driver with ZERO Spark jobs, and the
            # (query, cid) relation re-enters the plan as a JVM-literal
            # relation (functions._local_relation) — no Python-RDD
            # round-trips, no persist, exact tiny stats for the broadcast.
            # A distributed query relation (an ingest scan) never gates in.
            q_cid, probe_cids = fast
        else:
            q = queries.select(
                F.col(query_id_col).alias("_qid"),
                F.transform(F.col(qv), lambda x: x.cast("double")).alias("_qvec"),
            )
            q_cid = _sim.rank_centroids_arrow(q, ids, mat, "_qvec", n_probe)
            # persisted: the distinct-cid collect below AND the probe join
            # both consume the ranking — without it the query batch is
            # re-scored
            q_cid = cache_persisted(q_cid.persist(StorageLevel.MEMORY_AND_DISK))
            # duplicate query-id VALUES would silently merge two queries'
            # candidate sets into one top-k window and return a ranking that
            # matches neither single probe — refuse by name instead (advice
            # r14 #1). Checked on the PERSISTED ranking (each query row
            # emits exactly per_q rows), not the raw query relation, so a
            # caller's expensive upstream pipeline is never evaluated twice;
            # the bounded collect is driver metadata, not data motion.
            dup = (
                q_cid.groupBy("_qid")
                .count()
                .filter(F.col("count") > F.lit(per_q))
                .select("_qid")
                .limit(5)
                .collect()
            )
            if dup:
                raise ValueError(
                    f"duplicate {query_id_col!r} values in the query batch "
                    f"(e.g. {sorted((r['_qid'] for r in dup), key=repr)}) — "
                    "each query needs a unique id; dropDuplicates or re-key "
                    "the batch"
                )
            # centroid-bounded collect: <= num_centroids values — the union
            # of probed lists becomes the scan's partition filter
            probe_cids = [
                r["_cid"] for r in q_cid.select("_cid").distinct().collect()
            ]
        df = self.read_table(index_alias, user=user)
        src_alias = self._snapshot(path).configuration.get(
            "graft.ivf.source"
        )
        if src_alias:
            pred = self.acl_predicate(src_alias, user)
            if pred is not None:
                df = df.filter(pred)
        hits = df.filter(F.col("_cid").isin(probe_cids)).join(
            q_cid.select("_qid", "_qvec", "_cid"), "_cid"
        )
        if shortlist is not None:
            cb_path = os.path.join(path, "_pq_codebook.json")
            if not os.path.exists(cb_path):
                raise ValueError(
                    f"index {index_alias!r} carries no PQ codebook — build "
                    "with build_ivf_index(..., pq_m=...) to use a shortlist"
                )
            with open(cb_path, encoding="utf-8") as f:
                codebook = json.load(f)["codebook"]
            # literal-codebook codegen below ARROW_CENTROID_CELLS, broadcast
            # Arrow scorer past it (k=256 would inline 10k+ literals)
            scored_hits = _sim.with_adc_batch_distance(
                hits.select(
                    "_qid", "_qvec", F.col(id_col), F.col(vec_col),
                    F.col("pq_codes"),
                ),
                codebook, "_qvec", "pq_codes", "_adc",
            )
            w_adc = Window.partitionBy("_qid").orderBy(
                F.col("_adc").asc(), F.col(id_col).asc()
            )
            hits = (
                scored_hits
                .withColumn("_rn", F.row_number().over(w_adc))
                .filter(F.col("_rn") <= max(int(shortlist), k))
                .drop("_rn", "_adc", "pq_codes")
            )
        # norms in a separate projection: the zero-norm guard references its
        # denominator three times, and with precomputed scalar columns those
        # are attribute reads — inlining _sim.cosine here re-evaluated both
        # norm aggregates up to 3x per (query, candidate) row (r17 hoist)
        scored = hits.select(
            F.col("_qid").alias(query_id_col),
            F.col(id_col),
            _sim.dot(F.col(vec_col), F.col("_qvec")).alias("_dot"),
            _sim.norm(F.col(vec_col)).alias("_na"),
            _sim.norm(F.col("_qvec")).alias("_nb"),
        ).select(
            query_id_col,
            id_col,
            F.round(
                _sim.cosine_from_norms(F.col("_dot"), F.col("_na"), F.col("_nb")),
                6,
            ).alias("score"),
        )
        w = Window.partitionBy(query_id_col).orderBy(
            F.col("score").desc(), F.col(id_col).asc()
        )
        return (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .drop("_rn")
        )

    def build_minhash_index(
        self,
        alias: str,
        index_path: str,
        index_alias: str | None = None,
        user: str = acl.ANONYMOUS,
        text_col: str = "text",
        id_col: str = "doc_id",
        num_hashes: int = 64,
        bands: int = 16,
        shingle_words: int = 3,
    ) -> str:
        """Materialize the MinHash signature index of a governed documents
        table as a GOVERNED Delta table — the dedup analog of
        :meth:`build_ivf_index` (r13): the corpus is read through
        :meth:`read_table` (the index holds only what the building user
        may see), signatures come from
        ``functions.dedup.minhash_signature_index`` (~100 B/doc), the
        table is written ``band``-partitioned (incremental joins arrive
        by (band, bucket), so the probe side co-locates per band), and
        the build parameters ride as ``graft.dedup.*`` properties so
        :meth:`near_duplicates_incremental` can never pair with
        mismatched banding — the classic silent-recall footgun of
        hand-managed signature tables. Returns the registered alias
        (default ``<alias>__minhash``)."""
        return self._build_dedup_index(
            alias,
            index_path,
            index_alias or f"{alias}__minhash",
            user,
            {
                "kind": "minhash",
                "text_col": text_col,
                "id_col": id_col,
                "num_hashes": num_hashes,
                "bands": bands,
                "shingle_words": shingle_words,
                "max_hamming": 8,
            },
            {
                "graft.dedup.kind": "minhash",
                "graft.dedup.textCol": text_col,
                "graft.dedup.idCol": id_col,
                "graft.dedup.numHashes": str(num_hashes),
                "graft.dedup.bands": str(bands),
                "graft.dedup.shingleWords": str(shingle_words),
            },
        )

    def build_simhash_index(
        self,
        alias: str,
        index_path: str,
        index_alias: str | None = None,
        user: str = acl.ANONYMOUS,
        text_col: str = "text",
        id_col: str = "doc_id",
        max_hamming: int = 8,
        bands: int | None = None,
    ) -> str:
        """The SimHash counterpart of :meth:`build_minhash_index`: a
        governed band-partitioned index of 60-bit SimHash signatures
        (``dedup.hamming_signature_index`` over
        ``dedup.simhash_signatures`` — ~16 B payload per (doc, band)
        row), with ``max_hamming``/``bands`` pinned as properties. Unlike
        MinHash, the incremental probe's verification is EXACT by
        construction (popcount on the stored signature), so there is no
        verify companion for this kind. Returns the registered alias
        (default ``<alias>__simhash``)."""
        from .functions.dedup import _validated_hamming_bands

        bands = _validated_hamming_bands(max_hamming, bands)
        return self._build_dedup_index(
            alias,
            index_path,
            index_alias or f"{alias}__simhash",
            user,
            {
                "kind": "simhash",
                "text_col": text_col,
                "id_col": id_col,
                "num_hashes": 64,
                "bands": bands,
                "shingle_words": 3,
                "max_hamming": max_hamming,
            },
            {
                "graft.dedup.kind": "simhash",
                "graft.dedup.textCol": text_col,
                "graft.dedup.idCol": id_col,
                "graft.dedup.maxHamming": str(max_hamming),
                "graft.dedup.bands": str(bands),
            },
        )

    def build_image_index(
        self,
        alias: str,
        index_path: str,
        index_alias: str | None = None,
        user: str = acl.ANONYMOUS,
        id_col: str = "doc_id",
        max_hamming: int = 8,
        bands: int | None = None,
    ) -> str:
        """The IMAGE kind of the governed dedup index (verdict r13 next
        #1): perceptual aHash fingerprints (``multimodal.ahash_media`` —
        one Arrow pass over the corpus ``media_bytes``/``media_meta``
        columns, non-image rows omitted) banded into the shared 64-bit
        Hamming index shape and written as a governed band-partitioned
        Delta table with ``max_hamming``/``bands`` pinned as
        ``graft.dedup.*`` properties. Probe with
        :meth:`near_duplicates_incremental` (exact popcount, source ACL
        injected — media corpora get the same derived-data governance as
        text), refresh with :meth:`refresh_dedup_index` (delete-aware,
        never re-decodes an indexed payload). Returns the registered
        alias (default ``<alias>__image``)."""
        from .functions.dedup import _validated_hamming_bands

        bands = _validated_hamming_bands(max_hamming, bands)
        return self._build_dedup_index(
            alias,
            index_path,
            index_alias or f"{alias}__image",
            user,
            {"kind": "image", "id_col": id_col,
             "max_hamming": max_hamming, "bands": bands},
            {
                "graft.dedup.kind": "image",
                "graft.dedup.idCol": id_col,
                "graft.dedup.maxHamming": str(max_hamming),
                "graft.dedup.bands": str(bands),
            },
        )

    def build_audio_index(
        self,
        alias: str,
        index_path: str,
        index_alias: str | None = None,
        user: str = acl.ANONYMOUS,
        id_col: str = "doc_id",
        max_hamming: int = 8,
        bands: int | None = None,
    ) -> str:
        """The AUDIO kind of the governed dedup index: energy-profile
        hashes (``multimodal.audio_hash_media`` — amplitude-scale
        invariant, so re-gained copies hash identically) through the same
        banded Hamming machinery as :meth:`build_image_index`. Returns
        the registered alias (default ``<alias>__audio``)."""
        from .functions.dedup import _validated_hamming_bands

        bands = _validated_hamming_bands(max_hamming, bands)
        return self._build_dedup_index(
            alias,
            index_path,
            index_alias or f"{alias}__audio",
            user,
            {"kind": "audio", "id_col": id_col,
             "max_hamming": max_hamming, "bands": bands},
            {
                "graft.dedup.kind": "audio",
                "graft.dedup.idCol": id_col,
                "graft.dedup.maxHamming": str(max_hamming),
                "graft.dedup.bands": str(bands),
            },
        )

    def build_video_index(
        self,
        alias: str,
        index_path: str,
        index_alias: str | None = None,
        user: str = acl.ANONYMOUS,
        id_col: str = "doc_id",
    ) -> str:
        """The VIDEO kind of the governed dedup index: the distinct
        ``(id, fhash)`` per-frame fingerprint relation
        (``multimodal.video_frame_hash_index``, stride pinned to 1 — a
        trim shifts frame indexes, so dedup must sample every frame).
        Unlike the banded kinds this index is frame-keyed: the probe
        joins on the 8-byte ``fhash`` and counts distinct shared frames
        per (new, indexed) pair, and the refresh rule is retract-by-id /
        re-add-distinct-(id, fhash). Returns the registered alias
        (default ``<alias>__video``)."""
        return self._build_dedup_index(
            alias,
            index_path,
            index_alias or f"{alias}__video",
            user,
            {"kind": "video", "id_col": id_col},
            {"graft.dedup.kind": "video", "graft.dedup.idCol": id_col},
        )

    def build_embedding_index(
        self,
        alias: str,
        index_path: str,
        index_alias: str | None = None,
        user: str = acl.ANONYMOUS,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        dim: int | None = None,
        num_planes: int = 12,
        axis_planes: bool = False,
    ) -> str:
        """The EMBEDDING kind of the governed dedup index (verdict r13
        next #3): ``dedup.embedding_lsh_index`` — deterministic
        random-hyperplane sign buckets plus int8-quantized vectors (4-8x
        smaller than the corpus floats; candidate verification runs on
        the stored quantized values, the corpus floats are never
        re-read) — as a governed Delta table with ``dim``/``num_planes``/
        ``axis_planes`` pinned as ``graft.dedup.*`` properties. Those
        parameters were caller-managed on the raw function — the classic
        silent-recall footgun (a probe bucketing with different planes
        finds NOTHING, without an error) that property pinning exists to
        kill. ``dim`` defaults to the corpus's own dimensionality. Probe
        with :meth:`near_duplicates_incremental` (``threshold`` = min
        cosine; ``multi_probe`` = Hamming-1 bucket fan-out, the recall
        lever), refresh with :meth:`refresh_dedup_index`. Returns the
        registered alias (default ``<alias>__embedding``)."""
        from .functions import similarity as _sim

        if dim is None:
            dim = _sim._vec_dim(
                self.read_table(alias, user=user).select(vec_col), vec_col
            )
        return self._build_dedup_index(
            alias,
            index_path,
            index_alias or f"{alias}__embedding",
            user,
            {"kind": "embedding", "id_col": id_col, "vec_col": vec_col,
             "dim": int(dim), "num_planes": num_planes,
             "axis_planes": axis_planes},
            {
                "graft.dedup.kind": "embedding",
                "graft.dedup.idCol": id_col,
                "graft.dedup.vecCol": vec_col,
                "graft.dedup.dim": str(int(dim)),
                "graft.dedup.numPlanes": str(num_planes),
                "graft.dedup.axisPlanes": "true" if axis_planes else "false",
            },
        )

    def build_hashvec_index(
        self,
        alias: str,
        index_path: str,
        index_alias: str | None = None,
        user: str = acl.ANONYMOUS,
        text_col: str = "text",
        id_col: str = "doc_id",
        dim: int = 64,
        num_planes: int = 12,
        seed: int = 42,
    ) -> str:
        """The HASHVEC kind of the governed dedup index (r16): a
        MODEL-FREE embedding near-dup index over a TEXT corpus — each
        document vectorizes in-plan with the feature-hashing trick
        (``text.hash_embed``, Weinberger et al. 2009: signed token
        counts per hashed bucket, L2-normalized), then persists exactly
        like the embedding kind (``dedup.embedding_lsh_index``:
        deterministic hyperplane sign bucket + int8-quantized vector).
        Where :meth:`build_embedding_index` needs a learned embedding
        column to already exist, this kind derives its vectors from the
        text at build AND refresh time through the same kind-dispatched
        signature path — so incremental maintenance re-embeds only new
        commits, with zero model artifact to ship or version. ``dim`` /
        ``num_planes`` / ``seed`` pin as ``graft.dedup.*`` properties
        (a probe hashing with a different seed or dim finds NOTHING —
        the silent-recall footgun property pinning exists to kill).
        Probe with :meth:`near_duplicates_incremental` (text batch in,
        cosine pairs out), refresh with :meth:`refresh_dedup_index`,
        maintain with :meth:`maintain_indexes_stream`. Returns the
        registered alias (default ``<alias>__hashvec``)."""
        return self._build_dedup_index(
            alias,
            index_path,
            index_alias or f"{alias}__hashvec",
            user,
            {"kind": "hashvec", "text_col": text_col, "id_col": id_col,
             "dim": int(dim), "num_planes": int(num_planes),
             "seed": int(seed)},
            {
                "graft.dedup.kind": "hashvec",
                "graft.dedup.textCol": text_col,
                "graft.dedup.idCol": id_col,
                "graft.dedup.dim": str(int(dim)),
                "graft.dedup.numPlanes": str(int(num_planes)),
                "graft.dedup.hashSeed": str(int(seed)),
            },
        )

    def build_bm25_index(
        self,
        alias: str,
        index_path: str,
        index_alias: str | None = None,
        user: str = acl.ANONYMOUS,
        text_col: str = "text",
        id_col: str = "doc_id",
        k1: float = 1.2,
        b: float = 0.75,
    ) -> str:
        """Materialize the Okapi BM25 inverted index of a governed
        documents table as a GOVERNED Delta table — the sparse-retrieval
        counterpart of :meth:`build_ivf_index`: posting rows
        ``(id, term, tf, dl)`` (``functions.text.bm25_postings``, one
        tokenize pass) written TERM-CLUSTERED (file-count-bounded
        clustering, not Delta partitions — the vocabulary is too
        high-cardinality for a directory per term; parquet footer
        min/max on the sorted ``term`` column prunes a probe's scan to
        the query terms' files), with the scoring parameters and the
        collection statistics (``nDocs``/``sumDl`` — BM25's N and the
        numerator of avgdl) pinned as ``graft.bm25.*`` properties so a
        probe never re-scans the corpus for them. Probe with
        :meth:`bm25_probe` (ACL-injected), fuse with a dense probe via
        :meth:`hybrid_search`, refresh with :meth:`refresh_dedup_index`
        (delete-aware; the statistics adjust by exact deltas), maintain
        continuously with :meth:`maintain_indexes_stream`. Returns the
        registered alias (default ``<alias>__bm25``).

        Reference parity: the reference proxies full-table reads
        (src/main.rs read path); corpus-scale lexical retrieval is part
        of this repo's LLM-pipeline charter, not a reference operator."""
        return self._build_dedup_index(
            alias,
            index_path,
            index_alias or f"{alias}__bm25",
            user,
            {"kind": "bm25", "text_col": text_col, "id_col": id_col},
            {
                "graft.dedup.kind": "bm25",
                "graft.dedup.textCol": text_col,
                "graft.dedup.idCol": id_col,
                "graft.bm25.k1": repr(float(k1)),
                "graft.bm25.b": repr(float(b)),
            },
        )

    def _dedup_index_write_partitioning(self, prm: dict):
        """(repartition column, partition_by) for an index kind's writes —
        band-partitioned for the banded kinds (incremental joins arrive by
        (band, bucket), so the probe co-locates per band); the video frame
        index is fhash-keyed, the embedding index bucket-keyed and the
        bm25 postings term-keyed, all three with file-count-bounded
        clustering instead of Delta partitions (a partition per 8-byte
        hash / 2^num_planes sign bucket / vocabulary term would be a
        file per value)."""
        if prm["kind"] == "video":
            return F.col("fhash"), None
        if prm["kind"] in ("embedding", "hashvec"):
            return F.col("bucket"), None
        if prm["kind"] == "bm25":
            return F.col("term"), None
        return F.col("band"), ["band"]

    def _dedup_index_arrange(self, prm: dict, df: DataFrame) -> DataFrame:
        """Physical layout of an index kind's rows before a write. The
        bm25 kind RANGE-clusters by term (files cover contiguous term
        ranges, so each file's parquet footer min/max actually prunes a
        probe's ``term IN (...)`` down to the few files holding those
        terms — a hash repartition would co-locate each term but give
        every file vocabulary-wide min/max, pruning nothing) and sorts
        within partitions to tighten row-group stats. Every other kind
        hash-clusters on its join/partition key."""
        part_col, _ = self._dedup_index_write_partitioning(prm)
        if prm["kind"] == "bm25":
            return df.repartitionByRange(part_col).sortWithinPartitions(
                part_col
            )
        return df.repartition(part_col)

    def _build_dedup_index(
        self,
        alias: str,
        index_path: str,
        idx_alias: str,
        user: str,
        prm: dict,
        props: dict,
    ) -> str:
        if self.config.read_only:
            raise ReadOnlyError(alias)
        src_path = self.resolve(alias)
        src_version = deltalog.latest_version(src_path)
        src_df = self.read_table(alias, user=user, version=src_version)
        # the SOURCE's partition columns travel into the index (the
        # build_ivf_index governance contract): a partition ACL on the
        # source compiles into a plain row predicate on the index, so
        # near_duplicates_incremental can inject it directly. They FOLD
        # THROUGH the signature functions as carry columns — one corpus
        # scan, no join-back (verdict r13 nit #1 / next #6)
        idx = self._dedup_index_signatures(
            prm, src_df,
            carry_cols=self._source_partition_cols(
                src_path, src_df, prm["id_col"], prm["kind"]
            ),
        )
        # by-construction backstop for _DEDUP_RESERVED_COLS drift: the
        # hand-maintained reserved sets have missed an internal name once
        # already (frame_idx, review r15) — a carry column that slipped
        # past them and duplicated a signature output surfaces here as a
        # duplicate column name instead of a silently broken index
        dup_cols = sorted({c for c in idx.columns if idx.columns.count(c) > 1})
        if dup_cols:
            raise ValueError(
                f"index build for kind {prm['kind']!r} produced duplicate "
                f"column(s) {dup_cols} — a source partition column collides "
                "with an index output not covered by the reserved-name "
                "guard; rename the source column"
            )
        self.config.table_mapping[idx_alias] = index_path
        _, part_by = self._dedup_index_write_partitioning(prm)
        self.write_table(
            idx_alias,
            self._dedup_index_arrange(prm, idx),
            mode="overwrite",
            partition_by=part_by,
        )
        self.set_table_properties(
            idx_alias,
            {
                **props,
                # bm25: collection stats (N, sum of dl) counted from the
                # WRITTEN index (a two-column scan of the fresh parquet —
                # cheaper than re-running the corpus tokenize) so probes
                # never scan the index for them
                **self._index_stats_props(prm, index_path),
                "graft.dedup.source": alias,
                "graft.dedup.indexedVersion": str(src_version),
            },
        )
        return idx_alias

    def _bm25_stats(self, postings: DataFrame, id_col: str) -> tuple:
        """(nDocs, sumDl) of a posting relation: ``dl`` repeats on every
        posting row of a document, so the stats aggregate over the
        distinct (id, dl) pairs — a two-column scan however wide the
        relation."""
        row = (
            postings.select(F.col(id_col), F.col("dl"))
            .distinct()
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum("dl"), F.lit(0)).alias("s"),
            )
            .collect()[0]  # two scalars: the collection statistics
        )
        return int(row["n"]), int(row["s"])

    def _index_stats_props(self, prm: dict, index_path: str) -> dict:
        if prm["kind"] != "bm25":
            return {}
        n, s = self._bm25_stats(self._read_data(index_path), prm["id_col"])
        return {"graft.bm25.nDocs": str(n), "graft.bm25.sumDl": str(s)}

    # Column names each index kind emits (index rows + probe outputs) or
    # binds internally during the signature pass — a SOURCE partition column
    # with one of these names cannot fold through as a carry column without
    # producing a duplicate/ambiguous column mid-build (advice r14 #2).
    _DEDUP_RESERVED_COLS: dict = {
        "minhash": {"band", "bucket", "sig", "_id", "_sh", "_h1", "_h2",
                    "_shingles"},
        "simhash": {"band", "bucket", "sig", "_id", "_band", "_bucket", "_sig"},
        "image": {"band", "bucket", "sig", "ahash",
                  "_id", "_band", "_bucket", "_sig"},
        "audio": {"band", "bucket", "sig", "audio_hash",
                  "_id", "_band", "_bucket", "_sig"},
        # frame_idx: video_frame_hashes emits it mid-pipeline (review r15)
        "video": {"fhash", "frame_idx"},
        "embedding": {"bucket", "qvec", "qscale"},
        # lsh index outputs + the in-plan vectorizer's internal bindings
        # (hash_embed derives the vector under the name "embedding")
        "hashvec": {"bucket", "qvec", "qscale", "embedding", "term", "w",
                    "m"},
        # index rows (term/tf/dl) + probe-side bindings (df/idf/s/bm25 and
        # the one-row collection-stats crossJoin's n/avgdl)
        "bm25": {"term", "tf", "dl", "df", "idf", "s", "bm25", "n", "avgdl"},
    }
    # probe-output names shared by every kind's incremental pairer
    _DEDUP_RESERVED_COMMON = frozenset({"new_id", "indexed_id"})

    def _source_partition_cols(
        self, src_path: str, src_df: DataFrame, id_col: str, kind: str
    ) -> list[str]:
        """The source's partition columns that should ride into a dedup
        index as carry columns (so a partition ACL compiles into a plain
        index row predicate). The id itself may BE a partition column —
        it already rides every index row, so it is excluded. A partition
        column whose name collides with one of ``kind``'s index/internal
        columns REFUSES by name rather than silently building a broken
        index (the carry column would duplicate an index output or shadow
        an internal binding; advice r14 #2) — rename the source partition
        column or build over an unpartitioned copy."""
        meta = self._snapshot(src_path).metadata or {}
        cols = [
            c
            for c in (meta.get("partitionColumns") or [])
            if c in src_df.columns and c != id_col
        ]
        reserved = self._DEDUP_RESERVED_COLS[kind] | self._DEDUP_RESERVED_COMMON
        clash = sorted(c for c in cols if c in reserved)
        if clash:
            raise ValueError(
                f"source partition column(s) {clash} collide with the "
                f"{kind!r} index's reserved column names "
                f"({sorted(reserved)}) — rename them before building a "
                "governed dedup index over this table"
            )
        return cols

    def _dedup_index_params(self, index_alias: str) -> dict:
        path = self.resolve(index_alias)
        conf = self._snapshot(path).configuration
        kind = conf.get("graft.dedup.kind")
        if kind not in ("minhash", "simhash", "image", "audio", "video",
                        "embedding", "hashvec", "bm25"):
            raise ValueError(
                f"{index_alias!r} is not a dedup index built by "
                "build_minhash_index / build_simhash_index / "
                "build_image_index / build_audio_index / build_video_index "
                "/ build_embedding_index / build_hashvec_index / "
                "build_bm25_index"
            )
        return {
            "path": path,
            "kind": kind,
            "source": conf["graft.dedup.source"],
            "text_col": conf.get("graft.dedup.textCol", "text"),
            "id_col": conf.get("graft.dedup.idCol", "doc_id"),
            "vec_col": conf.get("graft.dedup.vecCol", "embedding"),
            "num_hashes": int(conf.get("graft.dedup.numHashes", "64")),
            "bands": int(conf.get("graft.dedup.bands", "16")),
            "shingle_words": int(conf.get("graft.dedup.shingleWords", "3")),
            "max_hamming": int(conf.get("graft.dedup.maxHamming", "8")),
            "dim": int(conf.get("graft.dedup.dim", "64")),
            "num_planes": int(conf.get("graft.dedup.numPlanes", "12")),
            "axis_planes": conf.get("graft.dedup.axisPlanes", "false") == "true",
            "seed": int(conf.get("graft.dedup.hashSeed", "42")),
            "k1": float(conf.get("graft.bm25.k1", "1.2")),
            "b": float(conf.get("graft.bm25.b", "0.75")),
            "n_docs": conf.get("graft.bm25.nDocs"),
            "sum_dl": conf.get("graft.bm25.sumDl"),
            "indexed_version": conf.get("graft.dedup.indexedVersion"),
        }

    def _dedup_index_signatures(
        self, prm: dict, docs: DataFrame, carry_cols: "list[str]" = ()
    ) -> DataFrame:
        """The index-row relation for a batch of documents under an
        index's pinned parameters — the ONE place every kind hashes, so
        build and refresh can never drift: minhash -> banded MinHash
        signatures, simhash -> the banded 64-bit Hamming index over
        SimHash signatures, image/audio -> the same Hamming banding over
        perceptual aHash / energy-profile fingerprints (one Arrow pass
        over the media payloads; all four come out (id, band, bucket,
        sig...)), video -> the distinct (id, fhash) per-frame relation,
        embedding -> (id, bucket, qvec, qscale). ``carry_cols`` (the
        source's partition columns) fold through every kind's signature
        pass — ONE corpus scan per build/refresh, never a join-back
        second scan."""
        from .functions import dedup as _dd

        carry = list(carry_cols)
        if prm["kind"] == "minhash":
            return _dd.minhash_signature_index(
                docs,
                text_col=prm["text_col"],
                id_col=prm["id_col"],
                num_hashes=prm["num_hashes"],
                bands=prm["bands"],
                shingle_words=prm["shingle_words"],
                carry_cols=carry,
            )
        if prm["kind"] in ("image", "audio"):
            from .functions import multimodal as _mm

            if prm["kind"] == "image":
                sigs, sig_col = (
                    _mm.ahash_media(docs, id_col=prm["id_col"], carry_cols=carry),
                    "ahash",
                )
            else:
                sigs, sig_col = (
                    _mm.audio_hash_media(
                        docs, id_col=prm["id_col"], carry_cols=carry
                    ),
                    "audio_hash",
                )
            return _dd.hamming_signature_index(
                sigs,
                id_col=prm["id_col"],
                sig_col=sig_col,
                max_hamming=prm["max_hamming"],
                bands=prm["bands"],
                carry_cols=carry,
            )
        if prm["kind"] == "video":
            from .functions import multimodal as _mm

            return _mm.video_frame_hash_index(
                docs, id_col=prm["id_col"], carry_cols=carry
            )
        if prm["kind"] == "embedding":
            return _dd.embedding_lsh_index(
                docs,
                dim=prm["dim"],
                num_planes=prm["num_planes"],
                axis_planes=prm["axis_planes"],
                id_col=prm["id_col"],
                vec_col=prm["vec_col"],
                carry_cols=carry,
            )
        if prm["kind"] == "hashvec":
            from .functions import text as _tx

            # vectorize in-plan (model-free), then index exactly like the
            # embedding kind — build and refresh share this one path, so
            # maintenance can never embed differently than the build did.
            # Token-less docs embed to the ZERO vector: it is near nothing
            # (cosine NULL) yet would pile into LSH bucket 0 — a crawl
            # corpus full of empty/punctuation-only docs would turn the
            # candidate equi-join into an |empty_new| x |empty_indexed|
            # hotspot — so zero vectors never enter the index (review r16)
            embedded = _tx.hash_embed(
                docs,
                dim=prm["dim"],
                text_col=prm["text_col"],
                id_col=prm["id_col"],
                seed=prm["seed"],
                carry_cols=carry,
            ).filter(F.exists("embedding", lambda x: x != 0))
            return _dd.embedding_lsh_index(
                embedded,
                dim=prm["dim"],
                num_planes=prm["num_planes"],
                axis_planes=False,
                id_col=prm["id_col"],
                vec_col="embedding",
                carry_cols=carry,
            )
        if prm["kind"] == "bm25":
            from .functions import text as _tx

            return _tx.bm25_postings(
                docs,
                text_col=prm["text_col"],
                id_col=prm["id_col"],
                carry_cols=carry,
            )
        return _dd.hamming_signature_index(
            _dd.simhash_signatures(
                docs, text_col=prm["text_col"], id_col=prm["id_col"],
                carry_cols=carry,
            ),
            id_col=prm["id_col"],
            sig_col="sig",
            max_hamming=prm["max_hamming"],
            bands=prm["bands"],
            carry_cols=carry,
        )

    def refresh_minhash_index(
        self, index_alias: str, user: str = acl.ANONYMOUS
    ) -> int:
        """Back-compat name for :meth:`refresh_dedup_index` (which
        handles both index kinds)."""
        return self.refresh_dedup_index(index_alias, user=user)

    def refresh_dedup_index(
        self, index_alias: str, user: str = acl.ANONYMOUS
    ) -> int:
        """Incrementally refresh a :meth:`build_minhash_index` /
        :meth:`build_simhash_index` table: signatures of the source
        commits PAST ``graft.dedup.indexedVersion`` append into the band
        partitions (only the new commits' files are read — the shared
        :meth:`_source_window_changes` walk), and DELETE-AWARE like
        :meth:`refresh_ivf_index`: a source remove / DV commit retracts
        the dead doc ids via the semi-join DELETE (dead ids read back
        from the tombstoned parquet; a vacuumed tombstone refuses with
        the rebuild hint); DV-carrying re-adds re-sign only their LIVE
        rows. The signature function is kind-dispatched through
        :meth:`_dedup_index_signatures`, the same code path the build
        used — refresh can never hash differently. Crash-idempotent
        through the same txn watermark pattern. Returns the newly
        indexed source version."""
        if self.config.read_only:
            raise ReadOnlyError(index_alias)
        prm = self._dedup_index_params(index_alias)
        path = prm["path"]
        if prm["indexed_version"] is None:
            raise ValueError(
                f"index {index_alias!r} predates indexed-version tracking — "
                "rebuild once to enable refresh"
            )
        indexed = int(prm["indexed_version"])
        txn_mark = deltalog.all_txn_versions(path).get(_MINHASH_REFRESH_APP, -1)
        indexed = max(indexed, int(txn_mark))
        src_path = self.resolve(prm["source"])
        cur = deltalog.latest_version(src_path)
        # bm25 collection stats (graft.bm25.nDocs/sumDl) normally adjust by
        # exact deltas; a txn mark AHEAD of the indexedVersion property means
        # a prior refresh crashed between its append and its property commit,
        # so the stored stats are untrusted — recount from the index (the
        # same two-column scan the build pays) instead of delta arithmetic
        bm25_recount = prm["kind"] == "bm25" and (
            int(prm["indexed_version"]) < indexed
            or prm["n_docs"] is None
            or prm["sum_dl"] is None
        )
        bm25_delta = (
            [0, 0] if prm["kind"] == "bm25" and not bm25_recount else None
        )
        if cur <= indexed:
            # a property commit is due when the version lags OR the bm25
            # stats are missing even at a current version (e.g. an admin
            # cleared them): bm25_probe's error message promises this
            # refresh restores them, so the no-op early return may not
            # skip the recount (advice r15 #1)
            if int(prm["indexed_version"]) < indexed or bm25_recount:
                stats = (
                    self._index_stats_props(prm, path) if bm25_recount else {}
                )
                self.set_table_properties(
                    index_alias,
                    {"graft.dedup.indexedVersion": str(indexed), **stats},
                )
            return indexed
        pending, retract, saw_dml = self._source_window_changes(
            src_path, indexed, cur
        )
        # retract-bearing windows RECOUNT rather than decrement: the
        # retract DELETE commits before the txn-marked append, so a crash
        # between them would replay this window with the dead rows already
        # gone from the index — a semi-join decrement would count 0 and
        # keep the dead docs' contributions forever (review r15 part 2).
        # The recount is a two-column scan of the post-refresh index, paid
        # only on delete-bearing refreshes; pure appends keep the deltas.
        if prm["kind"] == "bm25" and (retract or saw_dml):
            bm25_recount, bm25_delta = True, None
        id_col = prm["id_col"]
        # CDF source: row-exact feeds for both sides (see refresh_ivf_index)
        cdf = (
            self._cdf_refresh_feeds(prm["source"], src_path, indexed, cur, id_col)
            if retract or pending
            else None
        )
        dead = None
        pre_index_ids = None
        try:
            # with CDF feeds the dead leg also runs on in-window DML
            # (insert-then-delete nets out of `retract` but its rows sit
            # in the feeds; review r13 #1)
            if retract or (cdf is not None and saw_dml):
                # pre-DELETE index id relation for the ACL marker
                # (advice r13 #2; see refresh_ivf_index)
                pre_index_ids = self._read_data(path).select(F.col(id_col))
                if cdf is not None:
                    dead = cdf[0].select(F.col(id_col)).distinct()
                else:
                    self._require_retract_files(src_path, retract)
                    dead = (
                        self._read_clone_enumerated(src_path, dict(retract))
                        .select(F.col(id_col))
                        .distinct()
                    )
                # persisted: delete() probes the match keys for touched
                # files, survivors and CDC — without a persist each probe
                # would re-read the retracted parquet (review r13 #6)
                dead = dead.persist(StorageLevel.MEMORY_AND_DISK)
                # band partitions all hold every doc's rows (one per band),
                # so there is no partition condition to prune by — the
                # semi-join DELETE rewrites exactly the files containing
                # dead ids
                self.delete(index_alias, match=dead, on=[id_col])
            if pending:
                if cdf is not None:
                    new_rows = cdf[1]
                else:
                    pv_of = {
                        ap: dict(a.get("partitionValues") or {})
                        for ap, a in pending.items()
                    }
                    dv_items = [
                        (ap, a["deletionVector"])
                        for ap, a in pending.items()
                        if a.get("deletionVector")
                    ]
                    new_rows = self._read_clone_enumerated(
                        src_path, pv_of, dv_items=dv_items or None
                    )
                new_rows = self._acl_filter_keeping_retracted(
                    new_rows, prm["source"], user, dead, id_col,
                    index_ids=pre_index_ids,
                )
                if cdf is None or not new_rows.isEmpty():
                    sigs = self._dedup_index_signatures(
                        prm, new_rows,
                        carry_cols=self._source_partition_cols(
                            src_path, new_rows, id_col, prm["kind"]
                        ),
                    )
                    if bm25_delta is not None:
                        # persisted: the stats count after the append would
                        # otherwise re-run the tokenize over the window
                        sigs = sigs.persist(StorageLevel.MEMORY_AND_DISK)
                    try:
                        self.write_table(
                            index_alias,
                            self._dedup_index_arrange(prm, sigs),
                            mode="append",
                            txn={"appId": _MINHASH_REFRESH_APP, "version": cur},
                        )
                        if bm25_delta is not None:
                            n_a, s_a = self._bm25_stats(sigs, id_col)
                            bm25_delta[0] += n_a
                            bm25_delta[1] += s_a
                    finally:
                        if bm25_delta is not None:
                            sigs.unpersist()
        finally:
            if dead is not None:
                dead.unpersist()
        final_props = {"graft.dedup.indexedVersion": str(cur)}
        if bm25_recount:
            final_props.update(self._index_stats_props(prm, path))
        elif bm25_delta is not None:
            final_props.update(
                {
                    "graft.bm25.nDocs": str(
                        int(prm["n_docs"]) + bm25_delta[0]
                    ),
                    "graft.bm25.sumDl": str(
                        int(prm["sum_dl"]) + bm25_delta[1]
                    ),
                }
            )
        self.set_table_properties(index_alias, final_props)
        return cur

    def maintain_indexes_stream(
        self,
        index_aliases: "list[str] | str",
        user: str = acl.ANONYMOUS,
        checkpoint_dir: str | None = None,
        processing_time: str = "0 seconds",
        available_now: bool = False,
        compact_every: int | None = None,
        vacuum_every: int | None = None,
        vacuum_retention_hours: float | None = None,
        retrain_every: int | None = None,
        retrain_drift_ratio: float | None = None,
    ) -> list:
        """Continuous index maintenance (verdict r13 next #4): wire the
        governed LOG-CURSOR streaming reader to the incremental refreshes
        so indexes stay fresh while their sources take commits — ONE
        stream per distinct source table, whose every micro-batch invokes
        :meth:`refresh_ivf_index` / :meth:`refresh_dedup_index` (kind
        read from the index's own properties) for each index derived from
        that source.

        The micro-batch DataFrame itself is deliberately IGNORED: a
        refresh re-reads its commit window from the source log, because
        retraction needs REMOVED rows that no append-shaped stream
        carries — the stream contributes the commit-driven trigger and
        its checkpointable cursor, the refresh contributes the
        delete-aware semantics. ``ignoreChanges`` is implied for the same
        reason (DML commits are exactly what the refreshes absorb; they
        must not fail the maintenance stream).

        Crash/restart safety is layered: the refresh txn watermark makes
        a re-delivered or replayed trigger a no-op (idempotence), and
        ``checkpoint_dir`` additionally resumes the source cursor so a
        restart does not re-serve the initial snapshot. Returns the
        started ``StreamingQuery`` handles — stop them to end
        maintenance; ``available_now=True`` instead drains the pending
        commits once and finishes (the scheduled-catch-up shape).

        ``compact_every=N`` folds small-file maintenance into the loop:
        every N processed micro-batches the source's indexes are
        compacted (:meth:`compact_table`, one file per band/partition).
        Incremental appends are the index's small-file factory —
        continuous maintenance without compaction degrades probe scans
        over time. The compaction commits ``dataChange=False``, so it
        never disturbs the refresh watermark or any downstream CDF
        reader of the index. ``vacuum_every=N`` completes the loop by
        reclaiming the files those compactions (and retract DELETEs)
        tombstone — applied to the INDEX tables only, never the source
        (a source vacuum is exactly what forces index rebuilds, so the
        maintenance loop must not perform one); standard vacuum
        semantics apply (``vacuum_retention_hours`` guards concurrent
        probes planned against an older snapshot, and time travel to
        vacuumed index versions ends).

        ``retrain_every=N`` (r15) closes the freshness loop for the IVF
        kind: every N micro-batches each IVF index's centroid drift is
        checked (:meth:`ivf_drift` — one column-pruned index scan) and,
        when the drift ratio reaches ``retrain_drift_ratio`` (default
        1.5), :meth:`retrain_ivf_index` runs in place — refresh keeps
        the lists complete, retrain keeps the centroids representative,
        with no operator in the loop. An index predating the
        ``graft.ivf.buildDistance`` stamp is skipped (retrain once
        manually to establish it). Dedup kinds have no centroids and
        are unaffected."""
        if isinstance(index_aliases, str):
            index_aliases = [index_aliases]
        if retrain_drift_ratio is None:
            retrain_drift_ratio = 1.5
        by_source: dict[str, list] = {}
        for ia in index_aliases:
            conf = self._snapshot(self.resolve(ia)).configuration
            src = (
                conf.get("graft.ivf.source")
                or conf.get("graft.dedup.source")
                or conf.get("graft.sketch.source")
                or conf.get("graft.hist.source")
            )
            if not src:
                raise ValueError(
                    f"{ia!r} is not a governed index (no graft.*.source "
                    "table property)"
                )
            is_ivf = bool(conf.get("graft.ivf.source"))
            is_rollup = bool(
                conf.get("graft.sketch.source") or conf.get("graft.hist.source")
            )
            if is_ivf:
                refresher = self.refresh_ivf_index
            elif conf.get("graft.sketch.source"):
                refresher = self.refresh_sketch_rollup
            elif conf.get("graft.hist.source"):
                refresher = self.refresh_hist_rollup
            else:
                refresher = self.refresh_dedup_index
            by_source.setdefault(src, []).append(
                (ia, refresher, is_ivf, is_rollup)
            )
        queries = []
        for src, pairs in sorted(by_source.items()):
            stream = self.read_table_stream_log(
                src, user=user, ignore_changes=True
            )

            def make_fb(pairs=pairs):
                def _fb(batch_df, batch_id):
                    for ia, refresher, _is_ivf, _is_rollup in pairs:
                        refresher(ia, user=user)
                    # cadence derives from the CHECKPOINTED batch_id (0-based,
                    # +1 so every-N fires on the Nth batch), never a
                    # driver-memory counter: a restart resumes the global
                    # cadence instead of resetting it, and a foreachBatch
                    # re-execution of the same batch_id repeats the SAME
                    # decision (compaction is dataChange=False, vacuum is
                    # retention-bounded, and a repeated drift check either
                    # sees ratio ~1 post-retrain and no-ops or re-runs the
                    # idempotent retrain — all safe to repeat)
                    # (advice r14 #3 / verdict r14 next #2)
                    n = int(batch_id) + 1
                    if retrain_every and n % retrain_every == 0:
                        # retrain BEFORE compaction: the overwrite would
                        # tombstone a just-compacted layout anyway
                        for ia, _refresher, is_ivf, _is_rollup in pairs:
                            if not is_ivf:
                                continue
                            iconf = self._snapshot(self.resolve(ia)).configuration
                            fire = iconf.get("graft.ivf.retrainPending") == "1"
                            if (
                                not fire
                                and iconf.get("graft.ivf.buildDistance") is None
                            ):
                                # stamp-less (pre-stamp) index: the drift
                                # scan can never gate a retrain — skip it
                                # instead of paying an index scan per
                                # cadence tick forever (review r15)
                                continue
                            if not fire:
                                ratio = self.ivf_drift(ia).get("drift_ratio")
                                fire = (
                                    ratio is not None
                                    and ratio >= retrain_drift_ratio
                                )
                            if fire:
                                self.retrain_ivf_index(ia, user=user)
                    if compact_every and n % compact_every == 0:
                        for ia, _refresher, _is_ivf, is_rollup in pairs:
                            if is_rollup:
                                # a rollup's compaction IS consolidation:
                                # refreshes grow ROWS (one partial per
                                # group per refresh, plus negative delete
                                # partials), and the merge rewrite also
                                # produces fresh files
                                self.consolidate_rollup(ia)
                            else:
                                self.compact_table(ia)
                    if vacuum_every and n % vacuum_every == 0:
                        for ia, _refresher, _is_ivf, _is_rollup in pairs:
                            self.vacuum(
                                ia, retention_hours=vacuum_retention_hours
                            )

                return _fb

            w = stream.writeStream.foreachBatch(make_fb())
            if checkpoint_dir is not None:
                w = w.option(
                    "checkpointLocation", os.path.join(checkpoint_dir, src)
                )
            if available_now:
                w = w.trigger(availableNow=True)
            else:
                w = w.trigger(processingTime=processing_time)
            queries.append(w.start())
        return queries

    def near_duplicates_incremental(
        self,
        index_alias: str,
        new_docs: DataFrame,
        threshold: float = 0.6,
        user: str = acl.ANONYMOUS,
        min_shared_frames: int = 2,
        max_bucket_size: int | None = 10_000,
        multi_probe: bool = False,
    ) -> DataFrame:
        """Near-dup candidates of a NEW batch against a governed dedup
        index (any kind): the banding parameters come from the index
        table's OWN properties (a mismatched-bands probe is impossible),
        the index is read through :meth:`read_table` and the SOURCE
        table's resolved ACL for ``user`` is injected as a row
        predicate — the source's partition columns travel into the index
        at build/refresh time precisely so this compiles to a plain
        filter (derived data stays governed, the :meth:`ivf_probe`
        contract). Output by kind: minhash ->
        ``(new_id, indexed_id, est_jaccard)`` (estimate; verify exactly
        with :meth:`verify_near_duplicates`); simhash/image/audio ->
        ``(new_id, indexed_id, hamming)`` at distance <= the index's
        pinned ``max_hamming`` — already EXACT (popcount on the stored
        signature; the new media batch is decoded + hashed in one Arrow
        pass, the indexed corpus is never re-decoded); video ->
        ``(new_id, indexed_id, shared_frames)`` with at least
        ``min_shared_frames`` distinct shared frame fingerprints
        (``max_bucket_size`` is the hot-frame guard — black frames /
        title cards held by more indexed videos stop counting);
        embedding -> ``(new_id, indexed_id, cosine)`` at cosine >=
        ``threshold``, verified against the stored int8-quantized
        vectors (``multi_probe`` fans the batch side out to Hamming-1
        bucket neighbors — the recall lever, index untouched); hashvec
        -> same as embedding, but the NEW batch arrives as TEXT and
        vectorizes in-plan with the index's pinned feature-hashing
        parameters (``text.hash_embed``).
        ``threshold`` applies to the minhash, embedding, and hashvec
        kinds."""
        from .functions import dedup as _dd

        prm = self._dedup_index_params(index_alias)
        if prm["kind"] == "bm25":
            raise ValueError(
                f"index {index_alias!r} is a BM25 retrieval index — probe "
                "it with bm25_probe / hybrid_search, not the dedup pairer"
            )
        index = self.read_table(index_alias, user=user)
        pred = self.acl_predicate(prm["source"], user)
        if pred is not None:
            index = index.filter(pred)
        if prm["kind"] in ("simhash", "image", "audio"):
            if prm["kind"] == "simhash":
                new_sigs, sig_col = (
                    _dd.simhash_signatures(
                        new_docs, text_col=prm["text_col"], id_col=prm["id_col"]
                    ),
                    "sig",
                )
            else:
                from .functions import multimodal as _mm

                if prm["kind"] == "image":
                    new_sigs, sig_col = (
                        _mm.ahash_media(new_docs, id_col=prm["id_col"]),
                        "ahash",
                    )
                else:
                    new_sigs, sig_col = (
                        _mm.audio_hash_media(new_docs, id_col=prm["id_col"]),
                        "audio_hash",
                    )
            return _dd.hamming_near_duplicates_incremental(
                new_sigs,
                index,
                id_col=prm["id_col"],
                sig_col=sig_col,
                max_hamming=prm["max_hamming"],
                bands=prm["bands"],
            )
        if prm["kind"] == "video":
            from .functions import multimodal as _mm

            return _mm.video_near_duplicates_incremental(
                new_docs,
                index,
                id_col=prm["id_col"],
                min_shared_frames=min_shared_frames,
                max_bucket_size=max_bucket_size,
            )
        if prm["kind"] in ("embedding", "hashvec"):
            if prm["kind"] == "hashvec":
                from .functions import text as _tx

                # the NEW batch arrives as TEXT — vectorize it with the
                # index's pinned dim/seed before the bucket join (the
                # indexed side already holds buckets + quantized vectors);
                # zero vectors drop like at build time — a token-less doc
                # is near nothing and must not probe bucket 0
                new_docs = _tx.hash_embed(
                    new_docs,
                    dim=prm["dim"],
                    text_col=prm["text_col"],
                    id_col=prm["id_col"],
                    seed=prm["seed"],
                ).filter(F.exists("embedding", lambda x: x != 0))
            # for hashvec, _dedup_index_params already yields the derived
            # vec_col ("embedding") and axis_planes=False — no re-dispatch
            return _dd.embedding_near_duplicates_incremental(
                new_docs,
                index,
                threshold=threshold,
                dim=prm["dim"],
                num_planes=prm["num_planes"],
                axis_planes=prm["axis_planes"],
                id_col=prm["id_col"],
                vec_col=prm["vec_col"],
                multi_probe=multi_probe,
            )
        return _dd.minhash_near_duplicates_incremental(
            new_docs,
            index,
            text_col=prm["text_col"],
            id_col=prm["id_col"],
            num_hashes=prm["num_hashes"],
            bands=prm["bands"],
            shingle_words=prm["shingle_words"],
            threshold=threshold,
        )

    def verify_near_duplicates(
        self,
        index_alias: str,
        candidates: DataFrame,
        new_docs: DataFrame,
        threshold: float = 0.6,
        user: str = acl.ANONYMOUS,
    ) -> DataFrame:
        """Exact-Jaccard verification of :meth:`near_duplicates_incremental`
        candidates — the governed form of
        ``functions.dedup.minhash_verify_candidates``: the indexed side's
        text comes from a :meth:`read_table` of the SOURCE restricted to
        the candidate ids (semi-join before shingling — O(candidate docs)
        at any corpus size, and the ACL applies, so a forbidden document's
        text can never be shingled on a user's behalf), the new side from
        ``new_docs``; ``shingle_words`` comes from the index properties so
        the verification shingles exactly like the signatures did.
        Generate candidates with an estimate threshold a margin BELOW
        ``threshold`` (est noise ±0.06 at 64 hashes). Output:
        ``(new_id, indexed_id, jaccard)`` with exact jaccard >=
        ``threshold``."""
        from .functions import dedup as _dd

        prm = self._dedup_index_params(index_alias)
        if prm["kind"] != "minhash":
            raise ValueError(
                f"index {index_alias!r} is kind {prm['kind']!r}: its "
                "incremental probe already verifies its candidates "
                "(popcount / shared-frame counts / quantized cosine on "
                "the stored fingerprints) — there is nothing to verify"
            )
        id_col, text_col = prm["id_col"], prm["text_col"]
        batch = new_docs.select(F.col(id_col), F.col(text_col))
        # the BATCH text wins for an id present on both sides (a
        # re-crawled doc keeping its id): verification scores the text
        # being ingested — without the anti-join, one candidate pair
        # would emit two contradictory jaccard rows (review r13 #5)
        corpus = (
            self.read_table(prm["source"], user=user)
            .select(F.col(id_col), F.col(text_col))
            .join(batch.select(id_col), id_col, "left_anti")
        )
        both = corpus.unionByName(batch)
        return _dd.minhash_verify_candidates(
            candidates,
            both,
            text_col=text_col,
            id_col=id_col,
            shingle_words=prm["shingle_words"],
            threshold=threshold,
        )

    def bm25_probe(
        self,
        index_alias: str,
        query_terms: list[str],
        k: int = 10,
        user: str = acl.ANONYMOUS,
        k1: float | None = None,
        b: float | None = None,
        require_all_terms: bool = False,
    ) -> DataFrame:
        """Top-k Okapi BM25 probe of an index built by
        :meth:`build_bm25_index`: the scan reads only the query terms'
        posting rows (``term IN (...)`` over the term-clustered index —
        footer min/max prune the other files), the collection statistics
        (N, avgdl) come from the pinned ``graft.bm25.*`` properties (no
        corpus or index re-scan, and a probe can never score with stats
        from a different build — the property-pinning contract every
        governed index here follows), and the SOURCE table's resolved ACL
        for ``user`` is injected as a row predicate, so tf/dl/df and the
        candidate set come only from documents the user may see.

        Per standard IR practice the collection-level N/avgdl describe
        the INDEXED corpus (the building user's view) — document
        frequency, being a per-query aggregate, is counted on the
        ACL-visible slice. ``k1``/``b`` default to the values pinned at
        build. Output: ``(id, bm25)`` descending, ties toward the
        smaller id. Identical scoring to ``functions.text.bm25_topk``
        (shared ``bm25_rank_postings`` formula; pinned equal in
        tests/test_llm_ops.py)."""
        from .functions import text as _tx

        prm = self._dedup_index_params(index_alias)
        if prm["kind"] != "bm25":
            raise ValueError(
                f"index {index_alias!r} is kind {prm['kind']!r} — "
                "bm25_probe answers only build_bm25_index tables"
            )
        if prm["n_docs"] is None or prm["sum_dl"] is None:
            raise ValueError(
                f"index {index_alias!r} carries no collection statistics "
                "(graft.bm25.nDocs/sumDl) — refresh_dedup_index() restores "
                "them, or rebuild with build_bm25_index()"
            )
        n, sdl = int(prm["n_docs"]), int(prm["sum_dl"])
        index = self.read_table(index_alias, user=user)
        pred = self.acl_predicate(prm["source"], user)
        if pred is not None:
            index = index.filter(pred)
        n_avgdl = self.spark.range(1).select(
            F.lit(n).alias("n"),
            F.lit(sdl / n if n else 0.0).alias("avgdl"),
        )
        return _tx.bm25_rank_postings(
            index,
            query_terms,
            n_avgdl,
            k=k,
            id_col=prm["id_col"],
            k1=prm["k1"] if k1 is None else k1,
            b=prm["b"] if b is None else b,
            require_all=require_all_terms,
        )

    def _driver_batch_terms(
        self, queries: DataFrame, query_id_col: str, terms_col: str,
    ):
        """The zero-job prep for :meth:`bm25_probe_batch`'s serving fast
        path (the lexical twin of :meth:`_driver_batch_ranking`): when the
        query relation is driver-resident, run the dup check, the
        lowercase-distinct ``(query_id, term)`` explode and the term-union
        in the driver, and return the pair relation as a JVM literal plus
        the sorted term union. Returns ``None`` (distributed plan) for
        distributed/oversized/empty batches, NULL ids, non-string or
        NON-ASCII terms (``str.lower`` and Spark's ``lower`` are only
        guaranteed to agree on ASCII), and id types with no literal
        channel."""
        from .functions import _local_relation as _lr

        try:
            id_t = _lr.id_sql_type(queries.schema[query_id_col].dataType)
            sel = queries.select(query_id_col, terms_col)
        except Exception:
            # missing columns raise the distributed path's own error
            return None
        if id_t is None:
            return None
        rows = _lr.driver_resident_rows(sel)
        if rows is None:
            return None
        qids = [r[0] for r in rows]
        if any(q is None for q in qids):
            return None
        for ts in (r[1] for r in rows):
            if ts is not None and any(
                not isinstance(t, str) or not t.isascii() for t in ts
            ):
                return None
        counts = Counter(qids)
        dups = sorted((q for q, n in counts.items() if n > 1), key=repr)[:5]
        if dups:
            raise ValueError(
                f"duplicate {query_id_col!r} values in the query batch "
                f"(e.g. {dups}) — each query needs a unique id; "
                "dropDuplicates or re-key the batch"
            )
        pairs = sorted(
            {(r[0], t.lower()) for r in rows for t in (r[1] or [])}
        )
        if not pairs or len(pairs) > _lr.MAX_PAIR_ROWS:
            return None
        q_rel = _lr.string_pair_relation(
            self.spark,
            [p[0] for p in pairs],
            [p[1] for p in pairs],
            query_id_col,
            "term",
            id_t,
        )
        return q_rel, sorted({t for _, t in pairs})

    def bm25_probe_batch(
        self,
        index_alias: str,
        queries: DataFrame,
        k: int = 10,
        user: str = acl.ANONYMOUS,
        query_id_col: str = "query_id",
        terms_col: str = "terms",
        k1: float | None = None,
        b: float | None = None,
        require_all_terms: bool = False,
    ) -> DataFrame:
        """Governed top-k BM25 for a whole DataFrame of queries — the
        lexical counterpart of :meth:`ivf_probe_batch` (a driver loop
        over :meth:`bm25_probe` is a per-query job storm; this is ONE
        plan): the posting scan is pruned ONCE by the union of every
        query's terms (a bounded driver collect — query batches are
        retrieval-request-sized, like the dense probe's cid union), df
        is counted once per term on the ACL-visible slice (df depends on
        the term, not on which query asked), and each matched posting
        fans out to its asking queries through a broadcast
        ``(query_id, term)`` relation — no cartesian, top-k per query by
        window rank. ``queries`` needs ``query_id_col`` plus
        ``terms_col`` (``array<string>``; terms lowercase-normalized,
        repeated terms score once — the single probe's set semantics).
        Duplicate query-id values refuse by name (they would silently
        merge two queries' term sets). Output:
        ``(query_id, <id_col>, bm25)`` — per query identical to
        :meth:`bm25_probe`."""
        from .functions import text as _tx
        from .functions._persist_cache import cache_persisted

        prm = self._dedup_index_params(index_alias)
        if prm["kind"] != "bm25":
            raise ValueError(
                f"index {index_alias!r} is kind {prm['kind']!r} — "
                "bm25_probe_batch answers only build_bm25_index tables"
            )
        if prm["n_docs"] is None or prm["sum_dl"] is None:
            raise ValueError(
                f"index {index_alias!r} carries no collection statistics "
                "(graft.bm25.nDocs/sumDl) — refresh_dedup_index() restores "
                "them, or rebuild with build_bm25_index()"
            )
        index = self.read_table(index_alias, user=user)
        if query_id_col in index.columns:
            raise ValueError(
                f"query_id_col {query_id_col!r} collides with an index "
                "column — alias the query ids (the output carries both)"
            )
        fast = self._driver_batch_terms(queries, query_id_col, terms_col)
        if fast is not None:
            # SERVING fast path (r17): the query relation is driver-resident
            # (the gate of _driver_batch_ranking), so the dup check, the
            # lowercase-distinct explode and the term union all run in the
            # driver with ZERO Spark jobs, and the (query_id, term) relation
            # re-enters the plan as a JVM literal — no Python-RDD round
            # trips, no persists. ASCII terms only (Python str.lower ==
            # Spark lower is only guaranteed there); anything else keeps
            # the distributed plan below.
            q_rel, terms_all = fast
        else:
            # the caller's (possibly expensive) query pipeline is evaluated
            # ONCE into this persisted request-sized base; the dup check,
            # the term-union collect and the ranker's joins all derive
            # from it
            q_base = cache_persisted(
                queries.select(F.col(query_id_col), F.col(terms_col)).persist(
                    StorageLevel.MEMORY_AND_DISK
                )
            )
            # duplicate query ids checked on the raw rows (the q_rel
            # distinct below would silently UNION two same-id queries' term
            # sets, so the persisted-ranking trick of ivf_probe_batch
            # cannot detect them here)
            dup = (
                q_base.groupBy(F.col(query_id_col))
                .count()
                .filter(F.col("count") > 1)
                .select(query_id_col)
                .limit(5)
                .collect()
            )
            if dup:
                raise ValueError(
                    f"duplicate {query_id_col!r} values in the query batch "
                    f"(e.g. {sorted((r[query_id_col] for r in dup), key=repr)}) "
                    "— each query needs a unique id; dropDuplicates or "
                    "re-key the batch"
                )
            # also persisted: the term-union collect and the ranker's two
            # joins each consume q_rel — unpersisted, the explode+distinct
            # shuffle would recompute per consumer (review r15 part 2)
            q_rel = cache_persisted(
                q_base.select(
                    F.col(query_id_col),
                    F.explode(F.col(terms_col)).alias("term"),
                )
                .withColumn("term", F.lower(F.col("term")))
                .distinct()
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            # bounded collect: the union of query terms becomes the posting
            # scan's pushed filter (footer min/max prune on the
            # term-clustered files — the batch pays one pruned scan however
            # many queries ask)
            terms_all = sorted(
                r["term"] for r in q_rel.select("term").distinct().collect()
            )
        sl = index.filter(F.col("term").isin(terms_all))
        pred = self.acl_predicate(prm["source"], user)
        if pred is not None:
            sl = sl.filter(pred)
        n, sdl = int(prm["n_docs"]), int(prm["sum_dl"])
        n_avgdl = self.spark.range(1).select(
            F.lit(n).alias("n"),
            F.lit(sdl / n if n else 0.0).alias("avgdl"),
        )
        return _tx.bm25_rank_postings_batch(
            sl,
            q_rel,
            n_avgdl,
            k=k,
            id_col=prm["id_col"],
            query_id_col=query_id_col,
            k1=prm["k1"] if k1 is None else k1,
            b=prm["b"] if b is None else b,
            require_all=require_all_terms,
        )

    def _check_hybrid_sources(
        self,
        bm25_prm: dict,
        bm25_index_alias: str,
        ivf_index_alias: str,
        iconf: dict,
        allow_cross_source: bool,
    ) -> None:
        """Refuse hybrid fusion across indexes built from DIFFERENT source
        tables (``graft.dedup.source`` vs ``graft.ivf.source``): nothing
        else ties the two id spaces together, so fusing a docs-table BM25
        index with a different-corpus IVF index would silently produce
        rank fusion across unrelated ids (verdict r15 nit #1). Driver
        metadata only — the callers' already-read property maps, no extra
        log read, no Spark job."""
        if allow_cross_source:
            return
        ivf_src = iconf.get("graft.ivf.source")
        bm25_src = bm25_prm["source"]
        # compare PHYSICAL paths when both stored aliases resolve in this
        # engine (advice r16): two indexes built from the same corpus under
        # different alias names must not falsely refuse, and two unrelated
        # corpora that happen to share an alias string must not falsely
        # pass. Fall back to the stored alias strings when either alias is
        # no longer mapped (still driver metadata only — no log read).
        cmp_a, cmp_b = bm25_src, ivf_src
        if bm25_src is not None and ivf_src is not None:
            try:
                cmp_a = os.path.abspath(self.resolve(bm25_src))
                cmp_b = os.path.abspath(self.resolve(ivf_src))
            except TableNotFoundError:
                pass
        if cmp_a != cmp_b:
            raise ValueError(
                f"hybrid search refuses to fuse {bm25_index_alias!r} "
                f"(source {bm25_prm['source']!r}) with {ivf_index_alias!r} "
                f"(source {ivf_src!r}): the indexes were built from "
                "different source tables, so their id spaces are unrelated "
                "— rebuild both from one source, or pass "
                "allow_cross_source=True for a deliberately split corpus "
                "with known-aligned ids"
            )

    def hybrid_search(
        self,
        bm25_index_alias: str,
        ivf_index_alias: str,
        query_terms: list[str],
        query_vec: list[float],
        k: int = 10,
        user: str = acl.ANONYMOUS,
        fetch_k: int | None = None,
        n_probe: int = 4,
        rrf_k: int = 60,
        shortlist: int | None = None,
        diversify_lam: float | None = None,
        allow_cross_source: bool = False,
    ) -> DataFrame:
        """Governed hybrid retrieval — the production RAG shape in ONE
        call: the BM25 lexical probe (:meth:`bm25_probe`) and the IVF
        dense probe (:meth:`ivf_probe`) each read only their pruned index
        slice with the SOURCE ACL injected; the two ``fetch_k``-sized
        shortlists (default ``2*k``) fuse rank-only by reciprocal-rank
        fusion (``functions.similarity.rrf_fuse`` — no score calibration
        across the incomparable bm25/cosine scales); ``diversify_lam``
        adds the maximal-marginal-relevance pass
        (``similarity.mmr_rerank``), whose candidate vectors come from
        the IVF index itself (governed read + shortlist semi-join — the
        corpus floats are never re-read). The dense side's id column is
        renamed to the lexical index's so the fusion keys on one name.

        The two indexes must be built from the SAME source table
        (``graft.bm25.source == graft.ivf.source``) — fusing rankings
        from unrelated id spaces returns plausible garbage, so a
        mismatch refuses. Pass ``allow_cross_source=True`` only for a
        deliberately split corpus whose id spaces are known-aligned
        (e.g. text and vectors materialized as two tables sharing ids).

        Output without MMR: ``(id, rrf_score)`` descending; with MMR:
        ``(id, rrf_score, mmr_rank)`` by rank. Every stage is
        shortlist-sized past the two index scans — at 100 TB the cost is
        the pruned posting files + the probed inverted lists, identical
        to running the two probes alone."""
        from .functions import similarity as _sim

        nk = int(fetch_k) if fetch_k is not None else 2 * k
        prm = self._dedup_index_params(bm25_index_alias)
        id_col = prm["id_col"]
        iconf = self._snapshot(self.resolve(ivf_index_alias)).configuration
        self._check_hybrid_sources(
            prm, bm25_index_alias, ivf_index_alias, iconf, allow_cross_source
        )
        lex = self.bm25_probe(bm25_index_alias, query_terms, k=nk, user=user)
        dense = self.ivf_probe(
            ivf_index_alias, query_vec, k=nk, n_probe=n_probe, user=user,
            shortlist=shortlist,
        )
        d_id = iconf.get("graft.ivf.idCol", "vec_id")
        fused = _sim.rrf_fuse(
            [lex, dense.withColumnRenamed(d_id, id_col)],
            k=nk if diversify_lam is not None else k,
            rrf_k=rrf_k,
            id_col=id_col,
        )
        if diversify_lam is None:
            return fused
        hits, vec_col = self._mmr_candidate_vectors(
            fused, ivf_index_alias, iconf, id_col, user
        )
        out = self._mmr_rerank_passthrough(
            hits.withColumn("_q", F.lit(0)),
            k=k,
            lam=diversify_lam,
            query_id_col="_q",
            id_col=id_col,
            vec_col=vec_col,
        )
        return out.drop("_q").orderBy(F.col("mmr_rank").asc())

    def _mmr_candidate_vectors(
        self,
        fused: DataFrame,
        ivf_index_alias: str,
        iconf: dict,
        id_col: str,
        user: str,
    ):
        """Join an RRF shortlist back to its candidate vectors from the
        IVF index (governed read + source ACL), shortlist-sized: the
        fusion is persisted (the id collect and the vector join both
        consume it) and the bounded id collect pushes an ``isin`` into
        the index scan — a bare join would scan the WHOLE index to fetch
        a shortlist of vectors (review r15 part 2). Shared by
        :meth:`hybrid_search` and :meth:`hybrid_search_batch`. Returns
        (hits, vec_col)."""
        from .functions._persist_cache import cache_persisted

        d_id = iconf.get("graft.ivf.idCol", "vec_id")
        vec_col = iconf.get("graft.ivf.vecCol", "embedding")
        vecs = self.read_table(ivf_index_alias, user=user)
        src_alias = iconf.get("graft.ivf.source")
        pred = self.acl_predicate(src_alias, user) if src_alias else None
        if pred is not None:
            vecs = vecs.filter(pred)
        fused = cache_persisted(fused.persist(StorageLevel.MEMORY_AND_DISK))
        ids = [
            r[id_col] for r in fused.select(id_col).distinct().collect()
        ]
        # LEFT join: a fused candidate absent from the dense index (e.g.
        # the IVF index lagging the BM25 index by a refresh) must not be
        # silently dropped from the MMR output — it passes through with a
        # NULL vector and _mmr_rerank_passthrough appends it after the
        # diversity-ranked rows, so the result never shrinks below k
        # relative to the diversify_lam=None ranking (advice r15 #2)
        hits = fused.join(
            vecs.filter(F.col(d_id).isin(ids)).select(
                F.col(d_id).alias(id_col), F.col(vec_col)
            ),
            id_col,
            "left",
        )
        return hits, vec_col

    def _mmr_rerank_passthrough(
        self,
        hits: DataFrame,
        k: int,
        lam: float,
        query_id_col: str,
        id_col: str,
        vec_col: str,
    ) -> DataFrame:
        """MMR-rerank the candidates that HAVE vectors and append the
        vector-less ones after them (relevance order, the engine's total
        order) so a dense-index lag reorders the tail instead of
        shrinking the result set. Shared by :meth:`hybrid_search` and
        :meth:`hybrid_search_batch`; ``hits`` is shortlist-sized by the
        retrieval contract, so the split re-reads a persisted fusion,
        not the index."""
        from pyspark.sql import Window

        from .functions import similarity as _sim
        from .functions._persist_cache import cache_persisted

        hits = cache_persisted(hits.persist(StorageLevel.MEMORY_AND_DISK))
        ranked = _sim.mmr_rerank(
            hits.filter(F.col(vec_col).isNotNull()),
            k=k,
            lam=lam,
            query_id_col=query_id_col,
            id_col=id_col,
            score_col="rrf_score",
            vec_col=vec_col,
        )
        # persisted: both the union and the per-query max-rank base consume
        # it — unpersisted, the O(n^2) Python MMR stage would run twice per
        # request (review r16)
        ranked = cache_persisted(
            ranked.persist(StorageLevel.MEMORY_AND_DISK)
        )
        base = ranked.groupBy(query_id_col).agg(
            F.max("mmr_rank").alias("_base")
        )
        w = Window.partitionBy(query_id_col).orderBy(
            F.col("rrf_score").desc(), F.col(id_col).asc()
        )
        tail = (
            hits.filter(F.col(vec_col).isNull())
            .select(query_id_col, id_col, "rrf_score")
            .join(F.broadcast(base), query_id_col, "left")
            .withColumn(
                "mmr_rank",
                (F.coalesce(F.col("_base"), F.lit(0)) + F.row_number().over(w))
                .cast("int"),
            )
            .drop("_base")
        )
        return ranked.unionByName(tail).filter(F.col("mmr_rank") <= int(k))

    def hybrid_search_batch(
        self,
        bm25_index_alias: str,
        ivf_index_alias: str,
        queries: DataFrame,
        k: int = 10,
        user: str = acl.ANONYMOUS,
        fetch_k: int | None = None,
        n_probe: int = 4,
        rrf_k: int = 60,
        shortlist: int | None = None,
        diversify_lam: float | None = None,
        query_id_col: str = "query_id",
        terms_col: str = "terms",
        query_vec_col: str | None = None,
        allow_cross_source: bool = False,
    ) -> DataFrame:
        """:meth:`hybrid_search` for a whole DataFrame of queries in ONE
        composed plan — the serving shape: ``queries`` carries
        ``query_id_col`` + ``terms_col`` (lexical leg) + a query-vector
        column (dense leg; default: the IVF index's own vector column
        name). Both legs run BATCHED (:meth:`bm25_probe_batch` /
        :meth:`ivf_probe_batch` — one pruned posting scan + one pruned
        inverted-list scan however many queries ask), fuse per query
        rank-only (``similarity.rrf_fuse_batch``), and ``diversify_lam``
        adds the MMR pass per query group (``mmr_rerank`` is natively
        multi-query — one applyInPandas over the query grouping).
        Same-source guard as :meth:`hybrid_search` (opt out with
        ``allow_cross_source=True``).
        Output without MMR: ``(query_id, id, rrf_score)`` top-k per
        query; with MMR: ``(query_id, id, rrf_score, mmr_rank)`` — per
        query identical to :meth:`hybrid_search`."""
        from .functions import similarity as _sim

        nk = int(fetch_k) if fetch_k is not None else 2 * k
        prm = self._dedup_index_params(bm25_index_alias)
        id_col = prm["id_col"]
        iconf = self._snapshot(self.resolve(ivf_index_alias)).configuration
        self._check_hybrid_sources(
            prm, bm25_index_alias, ivf_index_alias, iconf, allow_cross_source
        )
        lex = self.bm25_probe_batch(
            bm25_index_alias, queries, k=nk, user=user,
            query_id_col=query_id_col, terms_col=terms_col,
        )
        d_id = iconf.get("graft.ivf.idCol", "vec_id")
        dense = self.ivf_probe_batch(
            ivf_index_alias, queries, k=nk, n_probe=n_probe, user=user,
            shortlist=shortlist, query_id_col=query_id_col,
            query_vec_col=query_vec_col,
        ).withColumnRenamed(d_id, id_col)
        fused = _sim.rrf_fuse_batch(
            [lex, dense],
            k=nk if diversify_lam is not None else k,
            rrf_k=rrf_k,
            id_col=id_col,
            query_id_col=query_id_col,
        )
        if diversify_lam is None:
            return fused
        hits, vec_col = self._mmr_candidate_vectors(
            fused, ivf_index_alias, iconf, id_col, user
        )
        return self._mmr_rerank_passthrough(
            hits,
            k=k,
            lam=diversify_lam,
            query_id_col=query_id_col,
            id_col=id_col,
            vec_col=vec_col,
        )

    # -- governed HLL sketch rollup (approximate distinct accounting) ------

    def build_sketch_rollup(
        self,
        alias: str,
        index_path: str,
        group_cols: list,
        value_col: str,
        index_alias: str | None = None,
        user: str = acl.ANONYMOUS,
        lg_k: int = 12,
    ) -> str:
        """Materialize a GOVERNED per-group HLL distinct-count rollup of a
        source table (``functions.sketches`` — Apache DataSketches HLL via
        Spark's built-in ``hll_sketch_agg``): one ``(group_cols...,
        sketch, n_rows)`` row per group, the hypertable-rollup pattern
        for corpus accounting (distinct urls/users/documents per
        shard/day) that answers at sketch-table size instead of
        re-shuffling the corpus. The source's partition columns are
        auto-added to ``group_cols`` so a partition ACL on the source
        compiles into a plain row predicate on the rollup (the governed
        derived-data contract every index here follows). Query with
        :meth:`sketch_rollup_estimate`, refresh with
        :meth:`refresh_sketch_rollup` (O(new commits); DELETE-AWARE by
        affected-group recompute — HLL cannot retract, so groups touched
        by a delete recount from the live source while untouched groups
        keep their incremental sketches), maintain continuously with
        :meth:`maintain_indexes_stream`. Returns the registered alias
        (default ``<alias>__sketch``)."""
        from .functions import sketches as _sk

        if self.config.read_only:
            raise ReadOnlyError(alias)
        if not 4 <= int(lg_k) <= 21:
            # the DataSketches HLL lgConfigK domain — refuse by name at
            # build instead of failing deep inside the first aggregation
            # (and pinning a poisoned value into graft.sketch.lgK)
            raise ValueError(f"lg_k must be in [4, 21], got {lg_k}")
        src_path = self.resolve(alias)
        src_snap = self._snapshot(src_path)
        src_version = src_snap.version
        src_df = self.read_table(alias, user=user, version=src_version)
        if value_col not in src_df.columns:
            raise ValueError(f"value column {value_col!r} not in {alias!r}")
        group_cols = list(group_cols)
        meta = src_snap.metadata or {}
        self._fold_rollup_partition_cols(
            meta, src_df, group_cols, value_col, alias
        )
        for c in group_cols:
            if "," in c:
                raise ValueError(
                    f"group column name {c!r} contains a comma — it cannot "
                    "be pinned in the graft.sketch.groupCols property"
                )
        rollup = _sk.sketch_rollup(src_df, group_cols, value_col, lg_k=lg_k)
        idx_alias = index_alias or f"{alias}__sketch"
        self.config.table_mapping[idx_alias] = index_path
        self.write_table(
            idx_alias,
            rollup.repartition(*[F.col(c) for c in group_cols]),
            mode="overwrite",
        )
        # NULL group-key values refuse (group-sized check on the written
        # rollup, before the properties commit registers it): the
        # delete-aware refresh retracts/recounts groups through
        # null-UNSAFE equality joins, so a NULL group's stale rows would
        # silently survive every recompute (review r15 part 2)
        self._refuse_null_group_keys(
            self._read_data(index_path), group_cols, alias
        )
        self.set_table_properties(
            idx_alias,
            {
                "graft.sketch.source": alias,
                "graft.sketch.groupCols": ",".join(group_cols),
                "graft.sketch.valueCol": value_col,
                "graft.sketch.lgK": str(int(lg_k)),
                "graft.sketch.indexedVersion": str(src_version),
            },
        )
        return idx_alias

    @staticmethod
    def _fold_rollup_partition_cols(
        meta: dict, src_df: DataFrame, group_cols: list, value_col: str,
        alias: str,
    ) -> None:
        """Auto-add a rollup source's partition columns to ``group_cols``
        (in place) so a partition ACL on the source compiles into a plain
        row predicate on the rollup. A partition column EQUAL to the
        value column refuses outright: it can be neither a group column
        (grouping a value by itself makes every sketch/histogram
        degenerate) nor skipped (the query-time ACL predicate would hit
        an unresolved column on the rollup — advice r15 #3); rollup a
        different value column, or un-partition the source."""
        for c in meta.get("partitionColumns") or []:
            if c == value_col:
                raise ValueError(
                    f"{alias!r} is partitioned by {c!r}, which is also the "
                    "rollup value column — a partition ACL on the source "
                    "could not compile against the rollup (the governed "
                    "derived-data contract cannot hold); pick a different "
                    "value column"
                )
            if c in src_df.columns and c not in group_cols:
                group_cols.append(c)

    def _refuse_null_group_keys(
        self, df: DataFrame, group_cols: list, source: str
    ) -> None:
        """Refuse NULL group-key values in a sketch-rollup relation: the
        group-level DELETE/semi/anti joins the delete-aware refresh runs
        are null-unsafe, so a NULL group could never be retracted or
        recounted — coalesce the source's group column to a sentinel
        instead."""
        cond = None
        for c in group_cols:
            n = F.col(c).isNull()
            cond = n if cond is None else (cond | n)
        if df.filter(cond).limit(1).count():
            raise ValueError(
                f"{source!r} holds NULL values in group column(s) "
                f"{group_cols} — the sketch rollup's delete-aware "
                "maintenance joins on group keys and cannot retract a "
                "NULL group; COALESCE the column to a sentinel first"
            )

    def _sketch_rollup_params(self, index_alias: str) -> dict:
        path = self.resolve(index_alias)
        conf = self._snapshot(path).configuration
        if not conf.get("graft.sketch.source"):
            raise ValueError(
                f"{index_alias!r} is not a sketch rollup built by "
                "build_sketch_rollup"
            )
        return {
            "path": path,
            "source": conf["graft.sketch.source"],
            "group_cols": conf["graft.sketch.groupCols"].split(","),
            "value_col": conf["graft.sketch.valueCol"],
            "lg_k": int(conf.get("graft.sketch.lgK", "12")),
            "indexed_version": conf.get("graft.sketch.indexedVersion"),
        }

    def refresh_sketch_rollup(
        self, index_alias: str, user: str = acl.ANONYMOUS
    ) -> int:
        """Incrementally refresh a :meth:`build_sketch_rollup` table:
        partial sketches of the source commits PAST
        ``graft.sketch.indexedVersion`` APPEND (HLL union-merging at query
        time makes per-commit partials exactly equivalent to a rebuild —
        sketches are order- and duplication-insensitive), and deletes are
        absorbed by AFFECTED-GROUP RECOMPUTE: an HLL sketch cannot
        retract items, so the groups whose rows a source remove touched
        (read back from the tombstoned parquet — a vacuumed tombstone
        refuses with the rebuild hint) are deleted from the rollup and
        recounted from the LIVE governed source, while every other group
        keeps its incremental state. Both legs land in ONE append commit
        carrying the txn watermark, after the group DELETE — so a crash
        anywhere replays to the same state (the dedup/IVF refresh
        idempotence pattern).

        Two refusals guard corruption: a delete-bearing refresh by a
        user with a RESTRICTED source view refuses (the recount re-reads
        live rows through that user's ACL — hidden rows would silently
        leave the recounted sketches; pure-append windows are fine, they
        only ADD what the user may see, the dedup-refresh semantics),
        and NULL group-key values refuse (the group-level joins are
        null-unsafe — a NULL group could never be retracted). Returns
        the newly indexed source version."""
        from .functions import sketches as _sk

        if self.config.read_only:
            raise ReadOnlyError(index_alias)
        prm = self._sketch_rollup_params(index_alias)
        path = prm["path"]
        if prm["indexed_version"] is None:
            raise ValueError(
                f"rollup {index_alias!r} predates indexed-version tracking "
                "— rebuild once to enable refresh"
            )
        indexed = int(prm["indexed_version"])
        txn_mark = deltalog.all_txn_versions(path).get(_SKETCH_REFRESH_APP, -1)
        indexed = max(indexed, int(txn_mark))
        src_path = self.resolve(prm["source"])
        cur = deltalog.latest_version(src_path)
        if cur <= indexed:
            if int(prm["indexed_version"]) < indexed:
                self.set_table_properties(
                    index_alias,
                    {"graft.sketch.indexedVersion": str(indexed)},
                )
            return indexed
        pending, retract, saw_dml = self._source_window_changes(
            src_path, indexed, cur
        )
        gcols = prm["group_cols"]
        pred = self.acl_predicate(prm["source"], user)
        if retract and pred is not None:
            # the affected-group recompute re-reads those groups' LIVE rows
            # through the refreshing user's ACL — a user narrower than the
            # builder would silently erase ACL-hidden rows from the
            # recounted sketches (the keeping-retracted guard of the
            # dedup/IVF refreshes has no sketch analog: HLL cannot carry
            # forward rows it cannot re-read). Refuse rather than corrupt.
            raise ValueError(
                f"refresh of {index_alias!r} must absorb a source DELETE by "
                "recounting the affected groups, but user "
                f"{user!r} holds a restricted view of {prm['source']!r} — "
                "run this refresh as a user with full read access"
            )
        affected = None
        try:
            if retract:
                self._require_retract_files(src_path, retract)
                affected = (
                    self._read_clone_enumerated(src_path, dict(retract))
                    .select(*[F.col(c) for c in gcols])
                    .distinct()
                    .persist(StorageLevel.MEMORY_AND_DISK)
                )
                self._refuse_null_group_keys(affected, gcols, prm["source"])
            parts = []
            pend = None
            if pending:
                pv_of = {
                    ap: dict(a.get("partitionValues") or {})
                    for ap, a in pending.items()
                }
                dv_items = [
                    (ap, a["deletionVector"])
                    for ap, a in pending.items()
                    if a.get("deletionVector")
                ]
                new_rows = self._read_clone_enumerated(
                    src_path, pv_of, dv_items=dv_items or None
                )
                if pred is not None:
                    new_rows = new_rows.filter(pred)
                if affected is not None:
                    # rows of recomputed groups must not ALSO append as a
                    # partial — n_rows would double-count (the sketch
                    # itself would shrug: HLL is duplication-insensitive)
                    new_rows = new_rows.join(affected, gcols, "left_anti")
                pend = _sk.sketch_rollup(
                    new_rows, gcols, prm["value_col"], lg_k=prm["lg_k"]
                ).persist(StorageLevel.MEMORY_AND_DISK)
                # the pending leg's NULL check must run BEFORE the
                # destructive group DELETE below: raising after it would
                # leave the deleted groups' rollup rows gone with the
                # txn-marked append never landing — every replay would
                # re-raise and the refresh would wedge (review r15 part 2)
                self._refuse_null_group_keys(pend, gcols, prm["source"])
                parts.append(pend)
            if affected is not None:
                self.delete(index_alias, match=affected, on=gcols)
                # the recompute cannot introduce NULL groups: its rows
                # semi-join `affected`, whose keys were checked above
                live = self.read_table(
                    prm["source"], user=user, version=cur
                ).join(affected, gcols, "semi")
                parts.append(
                    _sk.sketch_rollup(
                        live, gcols, prm["value_col"], lg_k=prm["lg_k"]
                    )
                )
            try:
                if parts:
                    out = parts[0]
                    for p in parts[1:]:
                        out = out.unionByName(p)
                    self.write_table(
                        index_alias,
                        out.repartition(*[F.col(c) for c in gcols]),
                        mode="append",
                        txn={"appId": _SKETCH_REFRESH_APP, "version": cur},
                    )
            finally:
                if pend is not None:
                    pend.unpersist()
        finally:
            if affected is not None:
                affected.unpersist()
        self.set_table_properties(
            index_alias, {"graft.sketch.indexedVersion": str(cur)}
        )
        return cur

    # -- governed histogram rollup (approximate per-group quantiles) -------

    def build_hist_rollup(
        self,
        alias: str,
        index_path: str,
        group_cols: list,
        value_col: str,
        index_alias: str | None = None,
        user: str = acl.ANONYMOUS,
        bins: int = 64,
        lo: float | None = None,
        hi: float | None = None,
    ) -> str:
        """Materialize a GOVERNED per-group fixed-bin histogram rollup
        (``functions.sketches.hist_rollup``) — the mergeable-quantile
        companion of :meth:`build_sketch_rollup` for corpus accounting
        (doc-length / quality-score percentiles per shard/day at
        training-data scale): one ``(group_cols..., counts, n_rows)``
        row per group, bin edges pinned as ``graft.hist.*`` properties
        (default: the corpus min/max at build — under/overflow bins keep
        totals exact if later data escapes the range). Histogram counts
        are LINEAR, so the refresh story beats the HLL rollup's: appends
        add positive partials, deletes add NEGATIVE partials of the
        tombstoned rows — no group recompute, no group-key joins (NULL
        group keys are fine), every group exact vs a rebuild. Query with
        :meth:`hist_rollup_quantiles`, refresh with
        :meth:`refresh_hist_rollup`, maintain with
        :meth:`maintain_indexes_stream`. Returns the registered alias
        (default ``<alias>__hist``)."""
        from .functions import sketches as _sk

        if self.config.read_only:
            raise ReadOnlyError(alias)
        src_path = self.resolve(alias)
        src_snap = self._snapshot(src_path)
        src_version = src_snap.version
        src_df = self.read_table(alias, user=user, version=src_version)
        if value_col not in src_df.columns:
            raise ValueError(f"value column {value_col!r} not in {alias!r}")
        group_cols = list(group_cols)
        meta = src_snap.metadata or {}
        self._fold_rollup_partition_cols(
            meta, src_df, group_cols, value_col, alias
        )
        for c in group_cols:
            if "," in c:
                raise ValueError(
                    f"group column name {c!r} contains a comma — it cannot "
                    "be pinned in the graft.hist.groupCols property"
                )
        if int(bins) < 1:
            raise ValueError(f"bins must be >= 1, got {bins}")
        if lo is None or hi is None:
            row = src_df.agg(
                F.min(F.col(value_col).cast("double")).alias("lo"),
                F.max(F.col(value_col).cast("double")).alias("hi"),
            ).collect()[0]  # two scalars: the default bin range
            if row["lo"] is None or row["hi"] is None:
                raise ValueError(
                    f"{alias!r} has no non-NULL {value_col!r} values to "
                    "derive default bin edges from — pass explicit lo/hi "
                    "to bootstrap an empty rollup"
                )
            lo = float(row["lo"]) if lo is None else float(lo)
            hi = float(row["hi"]) if hi is None else float(hi)
        lo, hi = float(lo), float(hi)
        if not hi > lo:
            hi = lo + 1.0  # constant-valued column: one unit-wide range
        rollup = _sk.hist_rollup(
            src_df, group_cols, value_col, bins=bins, lo=lo, hi=hi
        )
        idx_alias = index_alias or f"{alias}__hist"
        self.config.table_mapping[idx_alias] = index_path
        self.write_table(
            idx_alias,
            rollup.repartition(*[F.col(c) for c in group_cols]),
            mode="overwrite",
        )
        self.set_table_properties(
            idx_alias,
            {
                "graft.hist.source": alias,
                "graft.hist.groupCols": ",".join(group_cols),
                "graft.hist.valueCol": value_col,
                "graft.hist.bins": str(int(bins)),
                "graft.hist.lo": repr(float(lo)),
                "graft.hist.hi": repr(float(hi)),
                "graft.hist.indexedVersion": str(src_version),
            },
        )
        return idx_alias

    def _hist_rollup_params(self, index_alias: str) -> dict:
        path = self.resolve(index_alias)
        conf = self._snapshot(path).configuration
        if not conf.get("graft.hist.source"):
            raise ValueError(
                f"{index_alias!r} is not a histogram rollup built by "
                "build_hist_rollup"
            )
        return {
            "path": path,
            "source": conf["graft.hist.source"],
            "group_cols": conf["graft.hist.groupCols"].split(","),
            "value_col": conf["graft.hist.valueCol"],
            "bins": int(conf.get("graft.hist.bins", "64")),
            "lo": float(conf["graft.hist.lo"]),
            "hi": float(conf["graft.hist.hi"]),
            "indexed_version": conf.get("graft.hist.indexedVersion"),
        }

    def refresh_hist_rollup(
        self, index_alias: str, user: str = acl.ANONYMOUS
    ) -> int:
        """Incrementally refresh a :meth:`build_hist_rollup` table:
        positive histogram partials of the commits past
        ``graft.hist.indexedVersion`` and NEGATIVE partials of any
        retracted rows (read back from the tombstoned parquet — a
        vacuumed tombstone refuses with the rebuild hint) land in ONE
        txn-watermarked append; the query-time element-wise merge nets
        them out exactly. Counts are linear, so unlike the HLL rollup
        there is no recompute and no DELETE. A delete-bearing refresh by
        a user with a RESTRICTED source view refuses (the negative
        partial would miss hidden rows and leave their counts in the
        rollup forever, with the window consumed — the sketch rollup's
        refusal, same reason); pure-append windows only ADD what the
        user may see, the dedup-refresh semantics. Crash-idempotent via
        the shared txn-watermark pattern. Returns the indexed version."""
        from .functions import sketches as _sk

        if self.config.read_only:
            raise ReadOnlyError(index_alias)
        prm = self._hist_rollup_params(index_alias)
        path = prm["path"]
        if prm["indexed_version"] is None:
            raise ValueError(
                f"rollup {index_alias!r} predates indexed-version tracking "
                "— rebuild once to enable refresh"
            )
        indexed = int(prm["indexed_version"])
        txn_mark = deltalog.all_txn_versions(path).get(_HIST_REFRESH_APP, -1)
        indexed = max(indexed, int(txn_mark))
        src_path = self.resolve(prm["source"])
        cur = deltalog.latest_version(src_path)
        if cur <= indexed:
            if int(prm["indexed_version"]) < indexed:
                self.set_table_properties(
                    index_alias, {"graft.hist.indexedVersion": str(indexed)}
                )
            return indexed
        pending, retract, _saw_dml = self._source_window_changes(
            src_path, indexed, cur
        )
        gcols = prm["group_cols"]
        pred = self.acl_predicate(prm["source"], user)
        if retract and pred is not None:
            # the negative partial must subtract EVERY retracted row the
            # rollup counted; a user with a restricted source view would
            # filter hidden rows out of the subtraction and leave their
            # counts in the rollup forever — with indexedVersion advanced
            # past the window, unrepairable. Refuse like the sketch
            # rollup does (review r15 part 2); pure-append windows stay
            # allowed (they only ADD what the user may see).
            raise ValueError(
                f"refresh of {index_alias!r} must absorb a source DELETE by "
                "subtracting the retracted rows, but user "
                f"{user!r} holds a restricted view of {prm['source']!r} — "
                "run this refresh as a user with full read access"
            )

        def partial(rows: DataFrame, negate: bool) -> DataFrame:
            if pred is not None:
                rows = rows.filter(pred)
            return _sk.hist_rollup(
                rows, gcols, prm["value_col"], bins=prm["bins"],
                lo=prm["lo"], hi=prm["hi"], negate=negate,
            )

        parts = []
        if pending:
            pv_of = {
                ap: dict(a.get("partitionValues") or {})
                for ap, a in pending.items()
            }
            dv_items = [
                (ap, a["deletionVector"])
                for ap, a in pending.items()
                if a.get("deletionVector")
            ]
            parts.append(
                partial(
                    self._read_clone_enumerated(
                        src_path, pv_of, dv_items=dv_items or None
                    ),
                    negate=False,
                )
            )
        if retract:
            self._require_retract_files(src_path, retract)
            # subtraction must mirror what the index HOLDS for each
            # retracted file: a DV-carrying file contributed only its
            # LIVE rows, so subtracting the raw file would over-subtract
            # the already-subtracted DV'd rows. The file's DV as of the
            # indexed version comes from the live-adds replay (the same
            # replay the shared walk uses for partitionValues recovery —
            # and the index-state source of truth, independent of
            # whether an external writer stamped the remove action's
            # optional deletionVector field).
            base_adds = deltalog._live_adds_no_spark(
                src_path, max_version=indexed
            )
            rm_dvs = [
                (rp, (base_adds.get(rp) or {}).get("deletionVector"))
                for rp in retract
            ]
            rm_dvs = [(rp, dv) for rp, dv in rm_dvs if dv]
            parts.append(
                partial(
                    self._read_clone_enumerated(
                        src_path, dict(retract), dv_items=rm_dvs or None
                    ),
                    negate=True,
                )
            )
        if parts:
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            self.write_table(
                index_alias,
                out.repartition(*[F.col(c) for c in gcols]),
                mode="append",
                txn={"appId": _HIST_REFRESH_APP, "version": cur},
            )
        self.set_table_properties(
            index_alias, {"graft.hist.indexedVersion": str(cur)}
        )
        return cur

    def hist_rollup_quantiles(
        self,
        index_alias: str,
        quantiles=(0.5, 0.95, 0.99),
        user: str = acl.ANONYMOUS,
    ) -> DataFrame:
        """Governed per-group approximate quantiles over a
        :meth:`build_hist_rollup` table: ``(group_cols..., n_rows,
        q<quantile>...)`` — the scan is the histogram table (groups x
        ~(bins+2) longs, never the corpus), partials (including the
        delete legs' negative rows) merge by element-wise sum, quantile
        values are bin midpoints (within half a bin width of exact for
        in-range mass; under/overflow clamp to the pinned lo/hi), and
        the SOURCE table's resolved ACL for ``user`` applies as a row
        predicate. Fully-deleted groups drop out, exactly like a
        rebuild."""
        from .functions import sketches as _sk

        prm = self._hist_rollup_params(index_alias)
        rollup = self.read_table(index_alias, user=user)
        pred = self.acl_predicate(prm["source"], user)
        if pred is not None:
            rollup = rollup.filter(pred)
        merged = _sk.hist_rollup_merge(rollup, prm["group_cols"], prm["bins"])
        qcols = _sk.hist_quantile_cols(
            prm["bins"], prm["lo"], prm["hi"], quantiles
        )
        return merged.select(
            *[F.col(c) for c in prm["group_cols"]],
            F.col("n_rows"),
            *[e.alias(n) for n, e in qcols.items()],
        )

    def index_status(
        self, index_aliases: "list[str] | str", deep: bool = False
    ) -> list:
        """Freshness/observability snapshot for governed indexes of ANY
        kind (IVF, the dedup family, bm25, sketch/hist rollups) —
        driver-side METADATA only (log tails + table properties, no
        Spark job): one dict per index with ``kind``, ``source``, the
        ``indexed_version`` the index covers (the max of the stored
        property and the refresh txn watermark, i.e. what a crash-replay
        would resume from), the source's ``source_version`` tip, the
        commit ``lag`` between them (0 = fresh; what
        :meth:`maintain_indexes_stream` drives to 0), ``num_files``
        (live index files — fragmentation; from the tip version checksum
        when one exists, ``None`` otherwise — the O(log-length)
        driver-side replay fallback runs only under ``deep=True``), for IVF
        indexes ``retrain_pending`` (a crashed retrain to re-fire), and
        for bm25 indexes ``stats_present`` (the pinned
        ``graft.bm25.nDocs/sumDl`` collection statistics exist — a probe
        refuses without them).

        ``deep=True`` adds ONE bounded Spark scan per index (verdict r15
        missing #3 — the fields freshness alone can't see): rollups get
        ``rollup_rows`` / ``rollup_groups`` / ``max_partials_per_group``
        (consolidation staleness: refreshes append partials until
        :meth:`consolidate_rollup` merges them — a lag-0 rollup can
        still be a thousand partials per group), bm25 gets ``stats_ok``
        (the pinned statistics recounted against the live index — the
        same two-column scan a build pays). The one call an operator
        needs before trusting probe results or after a maintenance
        outage."""
        if isinstance(index_aliases, str):
            index_aliases = [index_aliases]
        out = []
        for ia in index_aliases:
            path = self.resolve(ia)
            conf = self._snapshot(path).configuration
            kind, src, iv, app = None, None, None, None
            if conf.get("graft.ivf.source"):
                kind = "ivf"
                src = conf["graft.ivf.source"]
                iv = conf.get("graft.ivf.indexedVersion")
                app = _IVF_REFRESH_APP
            elif conf.get("graft.dedup.source"):
                kind = conf.get("graft.dedup.kind", "dedup")
                src = conf["graft.dedup.source"]
                iv = conf.get("graft.dedup.indexedVersion")
                app = _MINHASH_REFRESH_APP
            elif conf.get("graft.sketch.source"):
                kind = "sketch"
                src = conf["graft.sketch.source"]
                iv = conf.get("graft.sketch.indexedVersion")
                app = _SKETCH_REFRESH_APP
            elif conf.get("graft.hist.source"):
                kind = "hist"
                src = conf["graft.hist.source"]
                iv = conf.get("graft.hist.indexedVersion")
                app = _HIST_REFRESH_APP
            else:
                raise ValueError(
                    f"{ia!r} is not a governed index (no graft.*.source "
                    "table property)"
                )
            indexed = max(
                int(iv) if iv is not None else -1,
                int(deltalog.all_txn_versions(path).get(app, -1)),
            )
            src_tip = deltalog.latest_version(self.resolve(src))
            crc = deltalog._tip_checksum(path)
            # num_files comes from the tip version checksum ONLY in the
            # default mode (advice r16): the log-replay fallback is
            # O(log length) driver work on long un-checkpointed logs,
            # contradicting the "no data scan, log tails only" promise of
            # the cheap observability call. deep=True — which already pays
            # a Spark scan per index — restores the replay fallback; the
            # default reports None when the tip has no checksum.
            if crc is not None:
                num_files = int(crc["numFiles"])
            elif deep:
                num_files = len(deltalog._live_adds_no_spark(path))
            else:
                num_files = None
            row = {
                "index": ia,
                "kind": kind,
                "source": src,
                "indexed_version": indexed if indexed >= 0 else None,
                "source_version": src_tip,
                "lag": max(0, src_tip - indexed) if indexed >= 0 else None,
                "num_files": num_files,
            }
            if kind == "ivf":
                row["retrain_pending"] = (
                    conf.get("graft.ivf.retrainPending") == "1"
                )
            if kind == "bm25":
                row["stats_present"] = (
                    conf.get("graft.bm25.nDocs") is not None
                    and conf.get("graft.bm25.sumDl") is not None
                )
                if deep:
                    # absent stats are already a known-bad verdict — don't
                    # pay the recount scan to confirm it (review r16)
                    if not row["stats_present"]:
                        row["stats_ok"] = False
                    else:
                        n, s = self._bm25_stats(
                            self._read_data(path),
                            conf.get("graft.dedup.idCol", "doc_id"),
                        )
                        row["stats_ok"] = (str(n), str(s)) == (
                            conf["graft.bm25.nDocs"],
                            conf["graft.bm25.sumDl"],
                        )
            if deep and kind in ("sketch", "hist"):
                gcols = conf[f"graft.{kind}.groupCols"].split(",")
                agg = (
                    self._read_data(path)
                    .groupBy(*[F.col(c) for c in gcols])
                    .agg(F.count(F.lit(1)).alias("_p"))
                    .agg(
                        F.coalesce(F.sum("_p"), F.lit(0)).alias("rows"),
                        F.count(F.lit(1)).alias("groups"),
                        F.coalesce(F.max("_p"), F.lit(0)).alias("mx"),
                    )
                    .collect()[0]  # three scalars: rollup fragmentation
                )
                row["rollup_rows"] = int(agg["rows"])
                row["rollup_groups"] = int(agg["groups"])
                row["max_partials_per_group"] = int(agg["mx"])
            out.append(row)
        return out

    def consolidate_rollup(self, index_alias: str) -> int:
        """Merge a sketch/histogram rollup's accumulated partial rows
        back to ONE row per group — the rollup analog of
        :meth:`compact_table` (which merges FILES; rollup refreshes also
        grow ROWS: one partial per group per refresh, plus the histogram
        delete legs' negative rows — unreclaimed, a year of maintenance
        leaves every query merging thousands of partials per group).
        Sketches union-merge (``hll_union_agg`` yields the merged binary
        sketch), histograms element-wise-sum (fully-deleted groups drop
        out, reclaiming their tombstone rows). ONE overwrite commit
        carrying the refresh txn watermark, so maintenance streams run
        straight through a consolidation (the retrain_ivf_index
        pattern); estimates/quantiles are unchanged by construction
        (both merges are associative). The maintenance loop runs this
        INSTEAD of compact_table for rollup kinds on the
        ``compact_every`` cadence — consolidation rewrites fresh files,
        subsuming small-file compaction. Returns the preserved indexed
        version."""
        from .functions import sketches as _sk

        if self.config.read_only:
            raise ReadOnlyError(index_alias)
        path = self.resolve(index_alias)
        conf = self._snapshot(path).configuration
        if conf.get("graft.sketch.source"):
            prm = self._sketch_rollup_params(index_alias)
            app, ver_key = _SKETCH_REFRESH_APP, "graft.sketch.indexedVersion"
            gcols = prm["group_cols"]
            merged = (
                self._read_data(path)
                .groupBy(*[F.col(c) for c in gcols])
                .agg(
                    F.hll_union_agg(F.col("sketch"), F.lit(False)).alias(
                        "sketch"
                    ),
                    F.sum("n_rows").alias("n_rows"),
                )
            )
        elif conf.get("graft.hist.source"):
            prm = self._hist_rollup_params(index_alias)
            app, ver_key = _HIST_REFRESH_APP, "graft.hist.indexedVersion"
            gcols = prm["group_cols"]
            merged = _sk.hist_rollup_merge(
                self._read_data(path), gcols, prm["bins"]
            )
        else:
            raise ValueError(
                f"{index_alias!r} is not a rollup built by "
                "build_sketch_rollup / build_hist_rollup"
            )
        indexed = max(
            int(prm["indexed_version"] or -1),
            int(deltalog.all_txn_versions(path).get(app, -1)),
        )
        self.write_table(
            index_alias,
            merged.repartition(*[F.col(c) for c in gcols]),
            mode="overwrite",
            txn={"appId": app, "version": indexed},
        )
        if int(prm["indexed_version"] or -1) < indexed:
            self.set_table_properties(index_alias, {ver_key: str(indexed)})
        return indexed

    def sketch_rollup_estimate(
        self, index_alias: str, user: str = acl.ANONYMOUS
    ) -> DataFrame:
        """Governed per-group estimate over a :meth:`build_sketch_rollup`
        table: ``(group_cols..., approx_distinct, n_rows)``. The scan is
        the SKETCH table (groups x ~KB — never the corpus), the merge is
        ``hll_union_agg`` over however many partial rows refreshes
        appended, and the SOURCE table's resolved ACL for ``user``
        applies as a row predicate (the source's partition columns are
        rollup group columns by construction)."""
        from .functions import sketches as _sk

        prm = self._sketch_rollup_params(index_alias)
        rollup = self.read_table(index_alias, user=user)
        pred = self.acl_predicate(prm["source"], user)
        if pred is not None:
            rollup = rollup.filter(pred)
        return _sk.sketch_rollup_estimate(rollup, prm["group_cols"])

    def _read_data(
        self,
        path: str,
        keep_file_col: bool = False,
        keep_pos: bool = False,
        ix: _FileIndex | None = None,
        dnf: acl.PartitionDNF | None = None,
    ) -> DataFrame:
        """Log-driven scan: read exactly the LIVE file set of the snapshot
        entry ``ix`` (default: the tip) — tombstoned files may still exist
        on disk until vacuum, and a raw directory read would resurrect
        them. The file list, deletion vectors, schema and column mapping all
        come from ``ix``, a cached tip or a pinned version alike: its
        driver-side replay builds the scan with ZERO Spark jobs (the
        reference's cached-snapshot lookup, src/main.rs:82-85), and the
        reader stats the listed files on the driver (the session's
        ``parallelPartitionDiscovery.threshold``, ``session.py``), not in a
        listing job. Past ``large_listing_threshold`` the scan switches to
        the listing join at ``ix.version``. Falls back to a plain
        partition-discovering read for plain-parquet locations without a
        log.

        ``dnf`` (a governed read's resolved ACL) admits files on the driver
        before the reader sees them: only the adds whose ``partitionValues``
        satisfy it are listed — GET's :func:`acl.dnf_allows` rule, so the
        scan reads the reference's allowed-file set (src/main.rs:389-415).
        Grant keys match ``partitionValues`` keys exactly: a key naming a
        non-partition column, or differing in case, admits no file. The
        caller's Catalyst filter stays as the second check. A table whose
        log has no schema reads every file (its column types come from the
        files, so every user sees one schema) and the filter alone
        enforces the grant. DML passes none and scans every live file.

        ``keep_file_col`` adds the source-file URI as ``_file`` (DML needs
        it): materialized INSIDE the scan projection, because
        ``input_file_name()`` cannot be applied on top of the listing-join
        plan (multi-source).
        """
        ix = ix or self._file_index(path)
        if ix.version >= 0:
            snap = ix.snapshot
            snap.check_read()
            live = ix.scan_files(self.large_listing_threshold)
            if live is _TOO_MANY_FILES:
                if keep_pos:
                    # physical row positions require the enumerated scan
                    raise _NeedsEnumeratedScan(path)
                return self._read_data_listing_join(
                    path, ix, keep_file_col=keep_file_col
                )
            adds = ix.adds
            # a table without a logged schema takes its column types from
            # the files it reads: it keeps every file, so each user sees one
            # schema, and the caller's filter alone enforces the grant
            if dnf and snap.schema is not None:
                tdnf = deltalog.translate_dnf(dnf, snap.column_mapping)
                adds = {
                    r: a
                    for r, a in adds.items()
                    if acl.dnf_allows(tdnf, a.get("partitionValues"))
                }
                live = [os.path.join(path, r) for r in sorted(adds)]
            if not live:
                return self._empty_table(snap)
            dv_items = [(r, d) for r, d in ix.dv_map.items() if r in adds]
            root_prefix = path.rstrip("/") + "/"
            if any(not p.startswith(root_prefix) for p in live):
                # shallow clone: files live under the SOURCE root, so
                # basePath partition derivation cannot work — partition
                # values come from the LOG instead (Delta's own model)
                pv_of = {
                    r: dict(a.get("partitionValues") or {}) for r, a in adds.items()
                }
                return self._read_clone_enumerated(
                    path,
                    pv_of,
                    keep_file_col=keep_file_col,
                    keep_pos=keep_pos,
                    dv_items=dv_items,
                    snap=snap,
                )
            reader = self.spark.read.option("basePath", path)
            schema = snap.schema
            phys_schema, l2p = self._physical_schema(snap, schema)
            if phys_schema is not None:
                # Delta reads the schema from the log's metaData, not from N
                # file footers: no footer-merge job, and files written before
                # an appended column read it as null (schema evolution).
                # Column-mapped tables read under PHYSICAL names (that's
                # what the files and partition dirs carry), renamed to
                # logical below.
                reader = reader.schema(phys_schema)
            df = reader.parquet(*live)
            if keep_file_col:
                # materialized INSIDE the scan projection — input_file_name
                # on top of the DV anti-join would be multi-source
                df = df.withColumn("_file", F.input_file_name())
            if keep_pos:
                # physical row index, for the DV-writing DELETE path;
                # materialized before the DV anti-join so positions stay
                # file-physical even when earlier deletions are filtered
                df = df.withColumn("_pos", F.col("_metadata.row_index"))
            if dv_items:
                # deletion vectors: filter the deleted positions BEFORE the
                # logical rename (the hidden _metadata struct resolves
                # against the file-source scan only)
                df = self._filter_deleted_positions(df, path, dv_items=dv_items)
            return self._rename_physical(df, schema, l2p, keep=["_file", "_pos"])
        df = self.spark.read.option("basePath", path).parquet(path)
        return df.withColumn("_file", F.input_file_name()) if keep_file_col else df

    def _read_clone_enumerated(
        self,
        path: str,
        pv_of: dict[str, dict],
        keep_file_col: bool = False,
        keep_pos: bool = False,
        dv_items: "list[tuple[str, dict]] | None" = None,
        snap: deltalog.Snapshot | None = None,
    ) -> DataFrame:
        """Scan of a snapshot that references files OUTSIDE the table root
        (shallow clone): partition values come from the log's
        ``partitionValues`` — the files are read WITHOUT directory-derived
        partitions (no common basePath exists) and each file's partition
        constants attach via a broadcast join of the metadata-sized
        (file -> partition values) map on ``_metadata.file_path``. Plan
        size O(1) in the file count; the map is the replay we already
        hold. Column-mapped clones read under the PHYSICAL data schema and
        project back to logical; DV'd files anti-join their deleted
        positions exactly like the in-root scan (the clone's descriptors
        reference the source's bins by absolute path). ``snap`` is the
        version read (default: the tip)."""
        from pyspark.sql import types as T

        snap = snap or self._snapshot(path)
        schema = snap.schema
        if schema is None:
            raise ValueError(f"cloned table {path} has no logged schema")
        l2p = snap.column_mapping
        parts = snap.partition_columns

        def full_of(rel: str) -> str:
            return rel if _is_foreign_path(rel) else os.path.join(path, rel)

        files = sorted(full_of(r) for r in pv_of)
        data_fields = [f for f in schema.fields if f.name not in parts]
        read_schema, _ = self._physical_schema(snap, T.StructType(data_fields))
        df = self.spark.read.schema(read_schema).parquet(*files)
        if keep_file_col:
            df = df.withColumn("_file", F.input_file_name())
        if keep_pos:
            df = df.withColumn("_pos", F.col("_metadata.row_index"))
        if parts:
            # materialized BEFORE the DV anti-join: the hidden _metadata
            # struct resolves only directly against the file-source scan
            decoded = F.url_decode(
                F.regexp_replace(
                    F.col("_metadata.file_path"), "^[a-zA-Z][a-zA-Z0-9+.-]*:(//)?", ""
                )
            )
            df = df.withColumn("_pv_file", decoded)
        if dv_items:
            df = self._filter_deleted_positions(df, path, dv_items=dv_items)
        if parts:
            pv_rows = [
                tuple(
                    [full_of(r)]
                    + [pv.get(l2p.get(c, c) if l2p else c) for c in parts]
                )
                for r, pv in pv_of.items()
            ]
            pv_schema = ", ".join(
                ["`_pv_file` string"] + [f"`__pv_{c}` string" for c in parts]
            )
            pvdf = local_df(self.spark, pv_rows, pv_schema)
            df = df.join(F.broadcast(pvdf), "_pv_file")
            for c in parts:
                df = df.withColumn(c, F.col(f"__pv_{c}").cast(schema[c].dataType))
            df = df.drop("_pv_file", *[f"__pv_{c}" for c in parts])
        keep = [c for c in ("_file", "_pos") if (keep_file_col and c == "_file") or (keep_pos and c == "_pos")]
        out_cols = [
            F.col(f.name)
            if f.name in parts or not l2p
            else F.col(l2p.get(f.name, f.name)).alias(f.name)
            for f in schema.fields
        ]
        return df.select(*out_cols, *[F.col(c) for c in keep])

    def _read_data_listing_join(
        self,
        path: str,
        ix: _FileIndex,
        live: DataFrame | None = None,
        keep_file_col: bool = False,
    ) -> DataFrame:
        """Million-file scan: no N-path reader argument list, no collect.

        The table directory is read directly (Spark's distributed file
        listing; ``_delta_log`` is skipped as a ``_``-hidden path) with the
        log's schema, and rows are kept via a LEFT SEMI join of the scan's
        decoded ``input_file_name()`` against the snapshot's relative-path
        DataFrame. Plan size is O(1) in the file count either way; DRIVER
        memory depends on the join strategy: while the entry's action-count
        estimate (an upper bound on the live files, from log metadata, no
        job) is within ``listing_join_broadcast_limit`` the path set is
        broadcast (driver + each executor hold the set — cheap, no
        shuffle), past it a shuffle-hash join keeps driver memory O(1) at
        the cost of shuffling the scan's path column.

        ``ix`` is the snapshot entry read: its version bounds the
        distributed replay and its metadata gives the schema.
        ``live`` overrides the file set: any DataFrame with a relative
        ``path`` column (e.g. the stats-surviving subset from
        :meth:`scan_with_skipping`); defaults to the full snapshot.

        Trade (documented): tombstoned-but-unvacuumed and staged-uncommitted
        files are scanned and then dropped row-wise, so dead bytes are read
        until vacuum; the enumerated path reads live bytes only. Correctness
        is identical — only snapshot files survive the join.
        """
        snap = ix.snapshot
        snap.check_read()
        reader = self.spark.read.option("basePath", path)
        schema = snap.schema
        phys_schema, l2p = self._physical_schema(snap, schema)
        if phys_schema is not None:
            reader = reader.schema(phys_schema)
        df = reader.parquet(path)
        if live is None:
            live = deltalog.snapshot_files(self.spark, path, version=ix.version)
        # shallow clones reference files by ABSOLUTE path: the directory
        # listing under THIS root cannot see them, so the semi-join would
        # silently DROP their rows — switch to the foreign-aware variant,
        # which scans every referenced parent directory and joins on the
        # clone's own reference form (one tiny probe job over the
        # metadata-sized replay decides)
        if (
            live.filter(
                F.col("path").startswith("/") | F.col("path").contains("://")
            )
            .limit(1)
            .count()
            > 0
        ):
            return self._read_clone_listing_join(
                path, ix, live=live, keep_file_col=keep_file_col
            )
        dv_filter = snap.deletion_vectors
        live = live.select(F.col("path").alias("_live_rel"))
        if ix.estimate <= self.listing_join_broadcast_limit:
            live = F.broadcast(live)
        else:
            live = live.hint("shuffle_hash")
        # non-deterministic expressions (input_file_name) may appear in a
        # Project but not a join condition — materialize the column first.
        # _file (the raw URI) is kept when DML asks for it: it must be
        # computed HERE, inside the single-source scan projection.
        scan = df.withColumn("_file", F.input_file_name()).withColumn(
            "_scan_rel", uri_rel_col(F.col("_file"), path)
        )
        if dv_filter:
            # materialized inside the scan projection (hidden _metadata
            # resolves only against the file source); the anti-join below
            # runs after the liveness semi-join so dead files never probe
            scan = scan.withColumn("_dv_pos", F.col("_metadata.row_index"))
        out = scan.join(live, F.col("_scan_rel") == F.col("_live_rel"), "left_semi")
        if dv_filter:
            pos_df = self._dv_positions_df(
                path,
                dv_df=deltalog.snapshot_files(self.spark, path, version=ix.version),
            )
            if pos_df is not None:
                out = out.join(
                    pos_df,
                    (out["_scan_rel"] == pos_df["_dv_rel"])
                    & (out["_dv_pos"] == pos_df["_dv_pos"]),
                    "left_anti",
                )
            out = out.drop("_dv_pos")
        out = out.drop("_scan_rel")
        out = self._rename_physical(out, schema, l2p, keep=["_file"])
        return out if keep_file_col else out.drop("_file")

    def _read_clone_listing_join(
        self,
        path: str,
        ix: _FileIndex | None = None,
        live: DataFrame | None = None,
        keep_file_col: bool = False,
    ) -> DataFrame:
        """Million-file scan of a snapshot that references files OUTSIDE the
        table root (over-threshold SHALLOW CLONE): no N-path reader list, no
        driver-side file enumeration — zero-copy clones read at any size,
        matching the size-independence of ``deltalake::open_table``
        (ref src/main.rs:357).

        Shape: one metadata-scale job groups the snapshot's references by
        PARENT DIRECTORY (bounded by the partition-directory count, orders
        of magnitude below the file count); Spark's distributed listing
        scans those directories under the logged physical DATA schema (no
        common basePath exists across source roots, so partition values
        come from the LOG, not the directory layout); each row's
        canonicalized file key — relative for in-root files, absolute for
        foreign ones, exactly the form the clone's add actions use
        (:func:`uri_rel_col`) — inner-joins the snapshot's metadata row,
        which simultaneously (a) drops rows of dead/unreferenced files in
        the same directories and (b) attaches the log's partition values.
        Broadcast below ``listing_join_broadcast_limit`` live files, else a
        shuffle-hash join keeps driver memory O(1). DV'd files anti-join
        their decoded positions on the same key form afterwards.

        ``live`` narrows to a survivor subset (data-skipping); membership is
        re-joined against the full snapshot to recover partition values.

        CAVEAT (documented failure mode): the directory scan reads EVERY
        parquet file in the referenced parent directories under the logged
        schema and relies on the inner join to drop unreferenced rows. A
        dead/unrelated file in those source directories with a physically
        INCOMPATIBLE column type (e.g. left over from a type-changing
        rewrite) fails the whole scan even though its rows would be joined
        away — Spark's parquet reader type-checks per file, before any
        join. The enumerated-path scan (below the threshold) is immune;
        vacuum'ing the source directories removes the offending files. An
        explicit per-file read list would avoid this but reintroduces the
        O(file-count) driver materialization this path exists to avoid.
        """
        from pyspark.sql import types as T

        ix = ix or self._file_index(path)
        snap = deltalog.snapshot_files(self.spark, path, version=ix.version)
        if live is not None:
            snap = snap.join(
                live.select("path").dropDuplicates(), "path", "left_semi"
            )
        tsnap = ix.snapshot
        tsnap.check_read()
        schema = tsnap.schema
        if schema is None:
            raise ValueError(f"table {path} has no logged schema")
        l2p = tsnap.column_mapping
        meta = tsnap.metadata or {}
        parts = list(meta.get("partitionColumns") or [])
        root_prefix = path.rstrip("/") + "/"
        full = F.when(
            F.col("path").startswith("/") | F.col("path").contains("://"),
            F.col("path"),
        ).otherwise(F.concat(F.lit(root_prefix), F.col("path")))
        # one job: the distinct parent-directory set AND the live-file count
        # (for the join-strategy choice). Directory count is bounded by the
        # partition layout; refuse loudly past the threshold rather than
        # materialize an unbounded list on the driver.
        limit = self.large_listing_threshold
        dir_rows = (
            snap.groupBy(F.regexp_replace(full, "/[^/]*$", "").alias("_dir"))
            .count()
            .limit(limit + 1)
            .collect()
        )
        if len(dir_rows) > limit:
            raise ValueError(
                f"snapshot of {path} spans more than {limit} distinct "
                "parent directories — raise large_listing_threshold"
            )
        if not dir_rows:
            return (
                self._empty_table(tsnap)
                if not keep_file_col
                else self._empty_table(tsnap).withColumn("_file", F.lit(None).cast("string"))
            )
        dirs = sorted(r["_dir"] for r in dir_rows)
        n_files = sum(r["count"] for r in dir_rows)
        data_fields = [f for f in schema.fields if f.name not in parts]
        read_schema, _ = self._physical_schema(tsnap, T.StructType(data_fields))
        scan = self.spark.read.schema(read_schema).parquet(*dirs)
        scan = scan.withColumn("_file", F.input_file_name()).withColumn(
            "_scan_key", uri_rel_col(F.col("_file"), path)
        )
        dv_filter = tsnap.deletion_vectors
        if dv_filter:
            # materialized inside the scan projection (hidden _metadata
            # resolves only against the file source)
            scan = scan.withColumn("_dv_pos", F.col("_metadata.row_index"))
        pv_cols = [
            F.col("partitionValues")
            .getItem(l2p.get(c, c) if l2p else c)
            .alias(f"__pv_{c}")
            for c in parts
        ]
        live_meta = snap.select(F.col("path").alias("_live_key"), *pv_cols)
        if n_files <= self.listing_join_broadcast_limit:
            live_meta = F.broadcast(live_meta)
        else:
            live_meta = live_meta.hint("shuffle_hash")
        # inner join = liveness semi-join + partition-value attach in one
        # shot (snapshot paths are unique, so no row duplication)
        out = scan.join(
            live_meta, F.col("_scan_key") == F.col("_live_key"), "inner"
        )
        if dv_filter:
            pos_df = self._dv_positions_df(
                path,
                dv_df=deltalog.snapshot_files(self.spark, path, version=ix.version),
            )
            if pos_df is not None:
                out = out.join(
                    pos_df,
                    (out["_scan_key"] == pos_df["_dv_rel"])
                    & (out["_dv_pos"] == pos_df["_dv_pos"]),
                    "left_anti",
                )
            out = out.drop("_dv_pos")
        for c in parts:
            out = out.withColumn(c, F.col(f"__pv_{c}").cast(schema[c].dataType))
        out = out.drop("_scan_key", "_live_key", *[f"__pv_{c}" for c in parts])
        out_cols = [
            F.col(f.name)
            if f.name in parts or not l2p
            else F.col(l2p.get(f.name, f.name)).alias(f.name)
            for f in schema.fields
        ]
        return out.select(
            *out_cols, *([F.col("_file")] if keep_file_col else [])
        )

    def _dv_map(self, path: str) -> dict[str, dict]:
        """rel path -> deletionVector descriptor over the live snapshot."""
        return self._file_index(path).dv_map

    _DV_FLAT_SCHEMA = "_dv_rel string, st string, pod string, off int, sz int, card long"

    def _dv_positions_df(
        self,
        path: str,
        dv_items: "list[tuple[str, dict]] | None" = None,
        dv_df: DataFrame | None = None,
    ) -> "DataFrame | None":
        """Exploded deleted-position set ``(_dv_rel, _dv_pos)`` for the
        deletion-vector anti-join, or None when no file carries a DV.

        The descriptors — not the positions — travel in the plan; bitmaps
        decode EXECUTOR-side (``dv.load_dv_positions`` in ``mapInPandas``).
        Below ``DV_BROADCAST_POSITIONS_LIMIT`` total cardinality the position
        set broadcasts, so the scan keeps its no-shuffle shape (the moral
        equivalent of Delta's per-task DV filter); past it a shuffle
        anti-join keeps memory O(1) everywhere. ``dv_items`` is the
        driver-side descriptor list (enumerated scans); ``dv_df`` a
        distributed ``(path, deletionVector)`` frame (listing-join scans).
        """
        if dv_items is not None:
            if not dv_items:
                return None
            rows = [
                (
                    rel,
                    d.get("storageType"),
                    d.get("pathOrInlineDv"),
                    d.get("offset"),
                    d.get("sizeInBytes"),
                    d.get("cardinality"),
                )
                for rel, d in dv_items
            ]
            flat = self.spark.createDataFrame(rows, self._DV_FLAT_SCHEMA)
            # null cardinality (malformed descriptor) => assume big, no
            # broadcast — mirrors the distributed (dv_df) branch below
            total = (
                DV_BROADCAST_POSITIONS_LIMIT + 1
                if any(r[5] is None for r in rows)
                else sum(int(r[5]) for r in rows)
            )
        else:
            flat = dv_df.filter(
                F.col("deletionVector").isNotNull()
                & F.col("deletionVector.storageType").isNotNull()
            ).select(
                F.col("path").alias("_dv_rel"),
                F.col("deletionVector.storageType").alias("st"),
                F.col("deletionVector.pathOrInlineDv").alias("pod"),
                F.col("deletionVector.offset").alias("off"),
                F.col("deletionVector.sizeInBytes").alias("sz"),
                F.col("deletionVector.cardinality").alias("card"),
            )
            agg = flat.agg(F.count("*").alias("n"), F.sum("card").alias("c")).collect()[0]
            if not agg["n"]:
                return None
            # null cardinality (malformed descriptor) => assume big, no broadcast
            total = int(agg["c"]) if agg["c"] is not None else DV_BROADCAST_POSITIONS_LIMIT + 1
        table_path = path

        def expand(iter_pdf):
            import pandas as pd
            from delta_lake_proxy_spark import dv as dv_mod

            for pdf in iter_pdf:
                for rel, st, pod, off, sz, card in pdf.itertuples(index=False):
                    desc = {
                        "storageType": st,
                        "pathOrInlineDv": pod,
                        "offset": None if pd.isna(off) else int(off),
                        "sizeInBytes": None if pd.isna(sz) else int(sz),
                        "cardinality": None if pd.isna(card) else int(card),
                    }
                    pos = dv_mod.load_dv_positions(table_path, desc)
                    for i in range(0, len(pos), 1_000_000):
                        chunk = pos[i : i + 1_000_000]
                        yield pd.DataFrame({"_dv_rel": rel, "_dv_pos": chunk})

        pos_df = flat.mapInPandas(expand, "_dv_rel string, _dv_pos long")
        if total <= DV_BROADCAST_POSITIONS_LIMIT:
            pos_df = F.broadcast(pos_df)
        return pos_df

    def _filter_deleted_positions(
        self,
        df: DataFrame,
        path: str,
        dv_items: "list[tuple[str, dict]] | None" = None,
        dv_df: DataFrame | None = None,
    ) -> DataFrame:
        """Drop rows a deletion vector marks deleted: anti-join the scan's
        ``(_metadata.file_path, _metadata.row_index)`` pair against
        :meth:`_dv_positions_df`. Applied directly on a file-source scan
        (the hidden ``_metadata`` struct resolves only there)."""
        pos_df = self._dv_positions_df(path, dv_items=dv_items, dv_df=dv_df)
        if pos_df is None:
            return df
        probe = df.withColumns(
            {
                "_dv_rel": uri_rel_col(F.col("_metadata.file_path"), path),
                "_dv_pos": F.col("_metadata.row_index"),
            }
        )
        return probe.join(pos_df, ["_dv_rel", "_dv_pos"], "left_anti").drop(
            "_dv_rel", "_dv_pos"
        )

    def _physical_schema(self, snap: deltalog.Snapshot, schema):
        """The schema to READ parquet with: physical field names when the
        table is column-mapped (files and partition directories carry
        physical names), else the logical schema unchanged. For ID-mode
        tables each field additionally carries ``parquet.field.id``
        metadata, which Spark's reader (with
        ``spark.sql.parquet.fieldId.read.enabled``) resolves against the
        file's parquet field ids — the id-mode contract: the file's column
        NAMES are not authoritative, the ids are. A session that resolves by
        name instead would read the wrong columns, so id mode refuses there."""
        from pyspark.sql import types as T

        l2p = snap.column_mapping
        if not l2p or schema is None:
            return schema, None
        l2id = snap.field_ids
        by_id = "spark.sql.parquet.fieldId.read.enabled"
        if l2id and self.spark.conf.get(by_id, "false").lower() != "true":
            raise UnsupportedProtocolError(
                snap.path,
                f"id-mode column mapping needs {by_id}=true, which this "
                "session does not set",
            )
        phys = T.StructType(
            [
                T.StructField(
                    l2p.get(f.name, f.name),
                    # nested struct fields carry their own physical names
                    # (and, in id mode, their own field ids)
                    deltalog.physical_data_type(
                        f.dataType, snap.path, field_ids=bool(l2id)
                    ),
                    f.nullable,
                    metadata=(
                        {"parquet.field.id": l2id[f.name]} if f.name in l2id else None
                    ),
                )
                for f in schema.fields
            ]
        )
        return phys, l2p

    @staticmethod
    def _rename_physical(df: DataFrame, schema, l2p: dict[str, str] | None, keep: list[str] = ()) -> DataFrame:
        """Project physical columns back to their LOGICAL names (plus any
        pass-through columns like ``_file``). Struct-bearing columns rename
        their nested fields with a positional cast to the logical type —
        same field order, only names change, stays in codegen."""
        if not l2p:
            return df
        cols = []
        for f in schema.fields:
            c = F.col(l2p.get(f.name, f.name))
            if deltalog.dtype_contains_struct(f.dataType):
                c = c.cast(f.dataType)
            cols.append(c.alias(f.name))
        cols += [F.col(c) for c in keep if c in df.columns]
        return df.select(*cols)

    def _table_schema(self, path: str):
        """The logged schema at the tip (:attr:`deltalog.Snapshot.schema`),
        read-gated; None when the log declares no columns."""
        snap = self._snapshot(path)
        snap.check_read()
        return snap.schema

    def _empty_table(self, snap: deltalog.Snapshot) -> DataFrame:
        if snap.schema is not None:
            return self.spark.createDataFrame([], snap.schema)
        return self.spark.createDataFrame([], "path string").limit(0)

    # -- file-level surface (S3-S7, S10, P5, P6) ---------------------------

    def snapshot_files(self, alias: str, version: int | None = None) -> DataFrame:
        """Live file set from log replay (S6); alias-namespace keys (P5)."""
        path = self.resolve(alias)
        return deltalog.snapshot_files(self.spark, path, version).withColumn(
            "key", F.concat(F.lit(alias + "/"), F.col("path"))
        )

    def read_delta_log(self, alias: str) -> DataFrame:
        """Raw log actions — never ACL-filtered (S7, ref src/main.rs:532-538)."""
        return deltalog.read_log(self.spark, self.resolve(alias))

    def allowed_files(self, alias: str, user: str = acl.ANONYMOUS) -> DataFrame:
        """The reference's allowed-file set (src/main.rs:389-415) as a DataFrame."""
        files = self.snapshot_files(alias)
        # file-level partitionValues carry PHYSICAL names in mapped tables
        dnf = deltalog.translate_dnf(
            self.resolved_dnf(alias, user),
            self._snapshot(self.resolve(alias)).column_mapping,
        )
        pred = compile_dnf_on_partition_values(dnf)
        return files if pred is None else files.filter(pred)

    def _file_index(
        self, path: str, version: int | None = None, tip_check: bool = True
    ) -> _FileIndex:
        """The table's one snapshot-cache entry. Every operation but GET
        calls this once, at its start, and threads the entry down:
        ``tip_check`` resolves the log tip (one ``_delta_log/`` listing) and
        rebuilds the entry when a commit landed since it was cached. GET
        passes False and trusts the cached entry, which engine commits drop
        and every other operation refreshes.

        A ``version`` pins the entry instead: a fresh, uncached entry at
        that version (the cache holds tips only), refused when log cleanup
        made the version unreproducible."""
        if version is not None:
            if version < 0:
                raise ValueError(f"version {version} does not exist at {path}")
            deltalog.assert_version_reproducible(path, version)
            return _FileIndex(deltalog.load_snapshot(path, version))
        if not tip_check:
            return self._snapshot_cache.get_or_compute(
                path, lambda: _FileIndex(deltalog.load_snapshot(path))
            )
        tip = deltalog.latest_version(path)
        return self._snapshot_cache.get_or_compute(
            path,
            lambda: _FileIndex(deltalog.load_snapshot(path, tip)),
            lambda ix: ix.version == tip,
        )

    def _snapshot(self, path: str) -> deltalog.Snapshot:
        """The tip-checked :class:`deltalog.Snapshot` of ``path``."""
        return self._file_index(path).snapshot

    def authorize_file(self, alias: str, user: str, rel_path: str) -> bool:
        """File-level membership check; raises 403/404 exactly like the
        reference's data-file GET (src/main.rs:576-594, 770-788).

        Runs ZERO Spark jobs and, on a warm cache, no filesystem call: the
        reference's per-request shape is a driver-side set lookup against
        its cached snapshot, so the live-file map and the column mapping
        come from the table's one snapshot-cache entry and the DNF evaluates
        in pure Python. Batch authorization stays on the DataFrame path
        (:meth:`authorize_requests`).

        GET is the one operation that does NOT tip-check: it trusts the
        cached entry. Engine commits drop the entry, and every other
        operation (:meth:`read_table`, :meth:`list_files`, writes and DML)
        refreshes it when the log tip moved, so a commit written behind the
        engine shows to GET after the next such operation or the 120 s
        TTL."""
        if _is_log_key(rel_path):
            return True  # metadata bypasses the ACL (src/main.rs:532-538)
        ix = self._file_index(self.resolve(alias), tip_check=False)
        add = ix.adds.get(rel_path)
        dnf = deltalog.translate_dnf(
            self.resolved_dnf(alias, user), ix.snapshot.column_mapping
        )
        if dnf and (
            add is None or not acl.dnf_allows(dnf, add.get("partitionValues") or {})
        ):
            # membership-in-allowed-set precedes existence (a nonexistent key
            # in a governed table 403s, not 404s — reference-faithful)
            raise ForbiddenByPolicyError(user, alias, rel_path)
        if add is None:
            raise NoSuchKeyError(f"{alias}/{rel_path}")
        return True

    def authorize_requests(
        self, requests: DataFrame, alias: str, user: str = acl.ANONYMOUS, mode: str = "allowed"
    ) -> DataFrame:
        """Vectorized form of the 200/403 split: semi-join requested keys with
        the allowed set (``allowed``) or anti-join for the 403 set
        (``denied``) — P6/J1/J5."""
        allowed = self.allowed_files(alias, user).select("path")
        how = "left_semi" if mode == "allowed" else "left_anti"
        return requests.join(allowed, on="path", how=how)

    def scan_with_skipping(
        self,
        alias: str,
        ranges: dict[str, tuple[Any, Any]],
        user: str = acl.ANONYMOUS,
    ) -> DataFrame:
        """Data-skipping scan: prune files whose footer min/max stats (stored
        in the log's ``add.stats``, Delta-style) cannot satisfy the given
        ``col -> (lo, hi)`` ranges, then read only the surviving files with
        the ACL + residual range predicates applied.

        The range test runs as a DataFrame filter over the parsed ``stats``
        JSON — distributed across executors, so pruning stays cheap at
        millions of files. Up to ``large_listing_threshold`` surviving paths
        are collected for an exact file-list read; past it the listing-join
        scan takes over (broadcast semi-join on the survivor set — the
        survivor list never touches the driver). Files without stats for a
        column are conservatively kept.
        """
        path = self.resolve(alias)
        ix = self._file_index(path)
        l2p_map = ix.snapshot.column_mapping
        snapshot = deltalog.snapshot_files(self.spark, path).select(
            "path", "stats", "deletionVector"
        )
        keep_pred: Column = F.lit(True)
        # stats JSON keys are PHYSICAL names in mapped tables
        stat_ranges = {l2p_map.get(c, c): b for c, b in ranges.items()}
        for col, (lo, hi) in stat_ranges.items():
            # string-typed stats compare lexicographically (ISO timestamps),
            # numeric bounds coerce the extracted stat to double — matching
            # the type of the comparison the writer's stats collector made
            numeric = isinstance(lo if lo is not None else hi, (int, float)) and not isinstance(
                lo if lo is not None else hi, bool
            )

            def stat(field: str, c: str = col, num: bool = numeric) -> Column:
                s = F.get_json_object(F.col("stats"), f"$.{field}.{c}")
                return s.cast("double") if num else s

            if hi is not None:
                keep_pred = keep_pred & (
                    stat("minValues").isNull() | (stat("minValues") <= F.lit(hi))
                )
            if lo is not None:
                keep_pred = keep_pred & (
                    stat("maxValues").isNull() | (stat("maxValues") >= F.lit(lo))
                )
        survivors = snapshot.filter(F.col("stats").isNull() | keep_pred)
        # limit+1 bounds driver memory AND detects overflow in one job, same
        # as _read_data; past the threshold the listing-join scan takes over
        # (survivor paths never touch the driver, pruning happens row-wise
        # via the broadcast semi-join on the survivor set).
        limit = self.large_listing_threshold
        rows = survivors.select("path", "deletionVector").limit(limit + 1).collect()
        if len(rows) > limit:
            df = self._read_data_listing_join(path, ix, live=survivors)
        elif not rows:
            df = self._read_data(path, ix=ix).limit(0)
        else:
            keep = [os.path.join(path, r["path"]) for r in rows]
            dv_items = [
                (r["path"], r["deletionVector"].asDict())
                for r in rows
                if r["deletionVector"] is not None
                and r["deletionVector"]["storageType"] is not None
            ]
            reader = self.spark.read.option("basePath", path)
            schema = ix.snapshot.schema
            phys_schema, l2p = self._physical_schema(ix.snapshot, schema)
            if phys_schema is not None:
                reader = reader.schema(phys_schema)
            df = reader.parquet(*keep)
            if dv_items:
                df = self._filter_deleted_positions(df, path, dv_items=dv_items)
            df = self._rename_physical(df, schema, l2p)
        pred = self.acl_predicate(alias, user)
        if pred is not None:
            df = df.filter(pred)
        for col, (lo, hi) in ranges.items():
            if lo is not None:
                df = df.filter(F.col(col) >= F.lit(lo))
            if hi is not None:
                df = df.filter(F.col(col) <= F.lit(hi))
        return df

    def file_stats(self, alias: str) -> DataFrame:
        """HEAD-equivalent metadata (S10): key, size, modificationTime."""
        return self.snapshot_files(alias).select(
            "key",
            "size",
            F.timestamp_millis(F.col("modificationTime")).alias("last_modified"),
        )

    def list_files(
        self,
        alias: str,
        prefix: str | None = None,
        start_after: str | None = None,
        max_keys: int | None = None,
        continuation_token: str | None = None,
        delimiter: str | None = None,
    ) -> DataFrame:
        """ListObjectsV2 emulation over the snapshot (S3-S5, O1-O2).

        Keys are in the alias namespace and lexicographically ordered; the
        continuation token is the last key of the previous page (strictly-after
        semantics, ref src/main.rs:251-262). Listing is ACL-unfiltered, like
        the reference (src/main.rs:514-529).

        ``delimiter`` adds the CommonPrefixes grouping (ref rewrites grouped
        listing entries, src/main.rs:307-317; golden test src/main.rs:
        1286-1294): keys whose post-``prefix`` remainder contains the
        delimiter collapse into one row per distinct prefix-up-to-and-
        including-the-delimiter — how S3 clients discover partition
        directories with ``delimiter=/``. With a delimiter the result gains
        an ``is_common_prefix`` column (grouped rows carry null size/mtime),
        and prefixes count toward ``max_keys`` interleaved in key order,
        matching S3.

        Pages come from the table's one snapshot-cache entry, tip-checked on
        every call (one ``_delta_log/`` listing; the entry is rebuilt when a
        commit landed) and walked by binary search over its sorted keys.
        The page is a local Arrow relation, so building and collecting it
        runs zero Spark jobs — the reference's cached-snapshot listing
        (src/main.rs:228-339). The entry keeps the page DataFrames it has
        served: a page whose rows it already served at this version comes
        back as the same DataFrame, with no new Catalyst plan.
        """
        index = self._file_index(self.resolve(alias))
        rows = index.page(
            alias, prefix or "", continuation_token or start_after, max_keys, delimiter
        )
        return index.page_frame(self.spark, rows, delimiter)

    # -- writes & maintenance (S12/G2/G9) ----------------------------------

    def write_table(
        self,
        alias: str,
        df: DataFrame,
        mode: str = "append",
        partition_by: list[str] | None = None,
        sort_by: list[str] | None = None,
        sort_files: int | None = None,
        zorder_by: list[str] | None = None,
        zorder_method: str = "linear",
        txn: dict | None = None,
        data_change: bool = True,
    ) -> int:
        """Governed write: blocked when read-only (ref src/main.rs:941-948);
        otherwise parquet write + Delta log commit. Returns the new version.

        ``sort_by`` range-partitions and sorts rows before writing so each
        file covers a tight, near-disjoint range of those columns — the
        clustering that makes footer-stats data skipping
        (:meth:`scan_with_skipping`) effective (linear clustering).
        ``zorder_by`` instead clusters on a bit-interleaved Z-order curve over
        the given numeric columns, so range skipping is effective on EACH of
        them independently (Delta's OPTIMIZE ZORDER BY);
        ``zorder_method="rank"`` bins by approximate quantiles instead of
        min/max — use it when a clustered column is skewed.
        """
        if self.config.read_only:
            raise ReadOnlyError(alias)
        path = self.resolve(alias)
        if mode not in ("append", "overwrite"):
            raise ValueError(f"unsupported write mode: {mode}")
        ix = self._file_index(path)
        snap = ix.snapshot
        existing_meta = snap.metadata
        parts = partition_by or (existing_meta or {}).get("partitionColumns") or []
        schema_json = df.schema.json()
        if mode == "append" and existing_meta:
            schema_json = self._evolve_schema(existing_meta.get("schemaString"), df)
        if (
            existing_meta is not None
            and "__COLLATIONS" in schema_json
            and "__COLLATIONS" not in (existing_meta.get("schemaString") or "")
        ):
            # INTRODUCING collated columns demands the `collations` writer
            # feature be declared first (spec contract); auto-declaring on
            # an existing table would need a writer-7 upgrade enumerating
            # its legacy capabilities — refuse rather than guess. New
            # tables declare it at version 0 automatically.
            raise UnsupportedProtocolError(
                path,
                "adding collated string columns to an existing table "
                "requires the `collations` writer feature; create the "
                "table with the collated schema instead",
            )
        # NAME-mode column-mapped tables: the logged schemaString (with its
        # physical names and field ids) stays authoritative — files,
        # partition directories, partitionValues and stats keys are written
        # PHYSICAL below. Schema evolution would need fresh physical names
        # and a maxColumnId bump; refuse rather than guess.
        l2p = snap.column_mapping
        if l2p:
            extra = [c for c in df.columns if c not in l2p]
            if extra:
                raise UnsupportedProtocolError(
                    path,
                    f"columns {extra} are not in the mapped table's schema — "
                    "schema evolution on column-mapped tables is not "
                    "implemented (new columns need physical names and ids)",
                )
            schema_json = (existing_meta or {}).get("schemaString") or schema_json
        if zorder_by:
            df = self._with_zorder(df, zorder_by, method=zorder_method)
            cols = [F.col("_zorder")]
            df = (
                df.repartitionByRange(sort_files, *cols)
                if sort_files
                else df.repartitionByRange(*cols)
            ).sortWithinPartitions("_zorder").drop("_zorder")
        elif sort_by:
            cols = [F.col(c) for c in sort_by]
            # explicit file count pins the range split (AQE would otherwise
            # coalesce small shuffles to one file, defeating clustering);
            # default lets AQE size partitions by bytes — right at scale.
            df = (
                df.repartitionByRange(sort_files, *cols)
                if sort_files
                else df.repartitionByRange(*cols)
            ).sortWithinPartitions(*sort_by)

        # collation re-typing BEFORE constraint/generated evaluation: a
        # CHECK constraint or generation expression comparing a collated
        # column must run under the declared collation, not binary
        df = self._apply_collations(snap, df)
        df = self._apply_column_defaults(snap, df)
        df, identity_pin = self._apply_identity_columns(snap, df)
        df, enforced_gen = self._apply_generated_columns(snap, df)
        enforced = self._enforce_check_constraints(snap, df, schema_json=schema_json)
        # physical translation LAST (constraints and clustering reference
        # logical names): rename every column and partition directory to the
        # mapped physical names so the written files are indistinguishable
        # from a conforming mapped writer's
        moved, parts_phys = self._stage_physical(snap, df, list(parts))
        if identity_pin is not None:
            identity_pin.unpersist()  # the pinned batch is on disk now
        _scols = snap.stats_columns()
        adds = [
            {
                **deltalog.add_action_for(path, rel, parts_phys, stats_cols=_scols),
                "dataChange": data_change,
            }
            for rel in moved
        ]
        # Delta semantics: an overwrite TOMBSTONES the previous live files in
        # the log but leaves them on disk — old versions stay time-travel
        # readable until vacuum() reclaims unreferenced files.
        # ``data_change=False`` (compaction/recluster: same rows, new files)
        # marks both sides so CDF readers and streams skip the commit. The
        # tombstones come from the operation's snapshot entry (an append
        # never replays the live files) and carry each file's DV and
        # row-tracking identity (:meth:`_dv_removes`).
        removes = (
            self._dv_removes(
                ix, [{"path": p, "dataChange": data_change} for p in sorted(ix.adds)]
            )
            if mode == "overwrite"
            else []
        )
        version = self._commit_moved(
            snap,
            moved,
            adds,
            removes,
            schema_json=schema_json,
            partition_cols=list(parts),
            operation=mode.upper(),
            txn=txn,
            enforced_constraints=enforced,
            mapped_write=bool(l2p),
            enforced_generated=enforced_gen,
            # appends and full-file overwrites are CDF-DERIVABLE commits
            # (inserts from dataChange adds, deletes from full-file removes)
            # — no change files needed, per the Delta CDF read protocol
            cdf_handled=True,
            # overwrite removes above carry the DV identities they tombstone
            dv_write=snap.deletion_vectors,
        )
        # table property overrides the engine default (delta.checkpointInterval)
        interval = self.config.checkpoint_interval
        prop = snap.configuration.get("delta.checkpointInterval")
        if prop is not None and str(prop).isdigit():
            interval = int(prop)
        if interval > 0 and version > 0 and version % interval == 0:
            deltalog.write_checkpoint(self.spark, path)
        lc = self.config.log_compaction_interval
        if lc > 1 and version > 0 and version % lc == 0:
            # compact the last lc commits unless a checkpoint already covers
            # them (a fresh checkpoint at this version makes the run dead)
            ck = deltalog.last_checkpoint(path)
            start = max(
                (int(ck["version"]) + 1) if ck is not None else 0,
                version - lc + 1,
            )
            if start < version:
                deltalog.write_log_compaction(path, start, version)
        return version

    def _apply_collations(self, snap: deltalog.Snapshot, df: DataFrame) -> DataFrame:
        """Re-type declared collated string columns to Spark's native
        collated ``StringType`` (``F.collate``) so comparisons, sorts, and
        groupings downstream honor the logged collation — the whole point
        of the ``collations`` feature (byte layout is identical, only
        comparison semantics change). Pure codegen, no shuffle, identity
        for tables without collations (the overwhelmingly common case)."""
        todo = {c: v for c, v in snap.collations.items() if c in df.columns}
        if not todo:
            return df
        return df.withColumns(
            {c: F.collate(F.col(c), v) for c, v in todo.items()}
        )

    # dir-alias prefix for Iceberg-compat staging writes: partitionBy drops
    # its columns from file CONTENT, but icebergCompat requires partition
    # values materialized IN the data files — so the write partitions on a
    # prefixed COPY and the staging dirs are renamed back afterwards.
    _ICEBERG_DIR_PREFIX = "__icdir__"

    def _prepare_iceberg_write(
        self, snap: deltalog.Snapshot, df: DataFrame, parts_phys: list[str]
    ) -> tuple[DataFrame, list[str]]:
        """Make the staged files Iceberg-readable (``icebergCompatV1/V2``
        writer features, active via ``delta.enableIcebergCompatVn``):

        - refuse when the table breaks the feature's own preconditions
          (column mapping off, or deletion vectors enabled — Iceberg cannot
          see DV-masked deletes);
        - stamp every column with its ``parquet.field.id`` from the mapped
          schema's ``delta.columnMapping.id`` (Iceberg resolves columns by
          field id, never by name);
        - duplicate partition columns under :attr:`_ICEBERG_DIR_PREFIX` so
          the values land in the file content as well as the directory
          name (Iceberg readers take them from the files);
        - int64 timestamps come from the session conf
          ``spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS``
          (session.ENGINE_SQL_CONFS), re-asserted here for driver-supplied
          sessions; a session that keeps any other value refuses the write.

        ``df`` arrives already renamed to PHYSICAL columns. Returns the
        prepared frame and the directory-partition column list."""
        path = snap.path
        l2p = snap.column_mapping
        if not l2p:
            raise UnsupportedProtocolError(
                path,
                "delta.enableIcebergCompat is set but column mapping is off "
                "— the feature requires mapped (field-id-bearing) schemas",
            )
        if snap.flag("delta.enableDeletionVectors"):
            raise UnsupportedProtocolError(
                path,
                "delta.enableIcebergCompat forbids active deletion vectors "
                "(Iceberg readers cannot apply them); disable DVs first",
            )
        ts_conf = "spark.sql.parquet.outputTimestampType"
        set_conf_if_modifiable(self.spark, ts_conf, "TIMESTAMP_MICROS")
        ts_type = self.spark.conf.get(ts_conf)
        if ts_type.upper() != "TIMESTAMP_MICROS":
            raise UnsupportedProtocolError(
                path,
                "delta.enableIcebergCompat needs int64 timestamps, but the "
                f"session's {ts_conf} is {ts_type} and cannot be set to "
                "TIMESTAMP_MICROS (Iceberg cannot read INT96)",
            )
        if snap.mapping_has_struct:
            raise UnsupportedProtocolError(
                path,
                "icebergCompat on a schema with struct columns needs NESTED "
                "parquet field-id stamping, which this writer does not do — "
                "flatten the schema or disable delta.enableIcebergCompat",
            )
        l2id = snap.field_ids_any_mode
        phys2id = {l2p[k]: v for k, v in l2id.items() if k in l2p}
        missing = [c for c in df.columns if c not in phys2id]
        if missing:
            raise UnsupportedProtocolError(
                path,
                f"columns {missing} carry no delta.columnMapping.id — "
                "cannot write Iceberg-compatible field ids",
            )
        df = df.select(
            [
                F.col(c).alias(c, metadata={"parquet.field.id": phys2id[c]})
                for c in df.columns
            ]
        )
        dir_parts = [self._ICEBERG_DIR_PREFIX + p for p in parts_phys]
        for p, d in zip(parts_phys, dir_parts):
            df = df.withColumn(d, F.col(p))
        return df, dir_parts

    def _stage_physical(
        self,
        snap: deltalog.Snapshot,
        df: DataFrame,
        parts: list[str],
        dest: str | None = None,
        apply_iceberg: bool = True,
    ) -> tuple[list[str], list[str]]:
        """Stage ``df`` (LOGICAL columns) as data files in the table's
        PHYSICAL layout and move them into ``dest`` (default: the table
        root): mapped tables get their columns and partition directories
        renamed to ``delta.columnMapping.physicalName``s, Iceberg-compat
        tables get field-id footers / materialized partition values
        (:meth:`_prepare_iceberg_write`). The single staging path every
        file-producing write shares — write_table, copy-on-write DML, the
        DV DML shapes, and CDC change files — so the mapped/iceberg
        obligations hold on each. Returns
        ``(moved relative paths, physical partition columns)``."""
        path = snap.path
        l2p = snap.column_mapping
        parts_phys = [l2p.get(p, p) for p in parts] if l2p else list(parts)
        if l2p:
            # columns outside the mapped schema cannot be translated —
            # `_change_type` (CDC files, spec-named as-is) passes through;
            # struct-bearing columns rename their NESTED fields too
            # (positional cast to the physical type)
            schema = snap.schema
            by_name = {f.name: f for f in schema.fields} if schema is not None else {}
            sel = []
            for c in df.columns:
                if c not in l2p:
                    sel.append(F.col(c))
                    continue
                col = F.col(c)
                f = by_name.get(c)
                if f is not None and deltalog.dtype_contains_struct(f.dataType):
                    col = col.cast(deltalog.physical_data_type(f.dataType, path))
                sel.append(col.alias(l2p[c]))
            df = df.select(sel)
        # CDC change files opt out (`apply_iceberg=False`): Iceberg clients
        # never read Delta CDF, and `_change_type` has no field id
        ic = snap.iceberg_compat if apply_iceberg else None
        dir_parts = parts_phys
        if ic:
            df, dir_parts = self._prepare_iceberg_write(snap, df, parts_phys)
        staging = os.path.join(
            os.path.dirname(path.rstrip("/")) or ".",
            f".stage-{uuid.uuid4().hex}",
        )
        writer = df.write.mode("overwrite")
        if dir_parts:
            writer = writer.partitionBy(*dir_parts)
        writer.parquet(staging)
        if ic and dir_parts != parts_phys:
            self._rename_iceberg_dirs(staging)
        try:
            moved = self._move_staged(staging, dest or path)
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return moved, parts_phys

    def _rename_iceberg_dirs(self, staging: str) -> None:
        """Strip :attr:`_ICEBERG_DIR_PREFIX` from staged Hive partition
        directories so the moved files keep the table's real
        ``<physical>=<value>`` layout (and partitionValues keys)."""
        for root, dirs, _ in os.walk(staging):
            for i, d in enumerate(dirs):
                if d.startswith(self._ICEBERG_DIR_PREFIX):
                    nd = d[len(self._ICEBERG_DIR_PREFIX) :]
                    os.rename(os.path.join(root, d), os.path.join(root, nd))
                    dirs[i] = nd

    def _apply_generated_columns(
        self, snap: deltalog.Snapshot, df: DataFrame
    ) -> tuple[DataFrame, bool]:
        """Honor Delta writer-protocol-4 generated columns
        (``delta.generationExpression`` field metadata): a column the caller
        did not provide is COMPUTED from its expression (one extra projected
        column — stays in codegen); a provided column is VALIDATED
        null-safely against the expression (one ``limit(1)`` probe per
        generated column, like CHECK constraints) and rejected on the first
        mismatch — Delta's semantics: the stored value must always equal
        the expression. Returns (df, proof-for-the-commit-gate)."""
        gens = snap.generated
        for name, expr in sorted(gens.items()):
            col = F.expr(expr)
            if name in df.columns:
                mismatch = ~F.col(name).eqNullSafe(col)
                if df.filter(mismatch).limit(1).count() > 0:
                    raise ValueError(
                        f"generated column {name!r} was provided with values "
                        f"that do not satisfy its expression ({expr}) — "
                        "write rejected (Delta generated-column semantics)"
                    )
            else:
                df = df.withColumn(name, col)
        return df, bool(gens)

    def _apply_column_defaults(self, snap: deltalog.Snapshot, df: DataFrame) -> DataFrame:
        """Honor Delta default columns (``CURRENT_DEFAULT`` field metadata,
        writer feature ``allowColumnDefaults``): a column the caller omitted
        is filled with its default expression, cast to the declared type —
        one projected codegen column, like generated columns. Provided
        columns pass through untouched (defaults apply only to omission)."""
        if not snap.defaults:
            return df
        types = {f.name: f.dataType for f in snap.schema.fields}
        for name, expr in sorted(snap.defaults.items()):
            if name not in df.columns:
                df = df.withColumn(name, F.expr(expr).cast(types[name]))
        return df

    def _apply_identity_columns(
        self, snap: deltalog.Snapshot, df: DataFrame
    ) -> "tuple[DataFrame, DataFrame | None]":
        """Honor Delta identity columns (writer version 6 / feature
        ``identityColumns``) on insert-producing writes. An OMITTED identity
        column gets DENSE generated values on the ``start + k*step``
        lattice strictly beyond the logged high water mark: the batch is
        pinned (``persist``) so its partitioning is stable, per-partition
        row counts (one small job over the BATCH, never the table) become
        per-partition offsets, and an Arrow ``mapInPandas`` pass assigns
        ``base + step * (offset + row_index)`` — consecutive values, no
        window, no single-partition shuffle, and none of the 2^33-per-
        partition value gaps a ``monotonically_increasing_id`` lattice
        would burn. A PROVIDED column is an explicit insert: allowed only
        for GENERATED BY DEFAULT columns (``allowExplicitInsert``). The
        high water mark itself advances in the commit from the written
        files' footer stats (``deltalog.advance_identity_hwm`` in
        ``_commit_moved``). Returns ``(df, pinned-batch-or-None)`` — the
        caller unpersists the pin once the batch is written."""
        idents = snap.identity
        gen_specs: list[tuple[str, int, int]] = []
        for name, spec in sorted(idents.items()):
            if name in df.columns:
                if not spec["allowExplicitInsert"]:
                    raise ValueError(
                        f"column {name!r} is GENERATED ALWAYS AS IDENTITY "
                        "(delta.identity.allowExplicitInsert=false) — "
                        "explicit values are rejected; omit the column and "
                        "the engine generates them"
                    )
                continue
            start, step, hwm = spec["start"], spec["step"], spec["highWaterMark"]
            k0 = 0 if hwm is None else (hwm - start) // step + 1
            gen_specs.append((name, start + k0 * step, step))
        if not gen_specs:
            return df, None
        from pyspark.sql.types import LongType, StructField, StructType

        pinned = df.persist()
        counts = {
            int(r["_pid"]): int(r["_n"])
            for r in pinned.groupBy(F.spark_partition_id().alias("_pid"))
            .agg(F.count(F.lit(1)).alias("_n"))
            .collect()  # one row per partition of the batch — metadata-sized
        }
        offsets: dict[int, int] = {}
        acc = 0
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += counts[pid]
        with_pid = pinned.withColumn("_pid", F.spark_partition_id())
        out_schema = StructType(
            list(pinned.schema.fields)
            + [StructField(n, LongType(), False) for n, _, _ in gen_specs]
        )

        def assign(batches):
            import numpy as np

            seen = 0  # mapInPandas iterates ONE partition: a running row index
            for pdf in batches:
                n = len(pdf)
                if n == 0:
                    pdf = pdf.drop(columns=["_pid"])
                    for name, base, step in gen_specs:
                        pdf[name] = np.array([], dtype=np.int64)
                    yield pdf
                    continue
                off = offsets.get(int(pdf["_pid"].iloc[0]), 0)
                pdf = pdf.drop(columns=["_pid"])
                idx = off + seen + np.arange(n, dtype=np.int64)
                for name, base, step in gen_specs:
                    pdf[name] = base + step * idx
                seen += n
                yield pdf

        return with_pid.mapInPandas(assign, out_schema), pinned

    CDC_DIR = "_change_data"

    def _write_cdc(
        self, snap: deltalog.Snapshot, cdc_df: DataFrame, parts: list[str]
    ) -> list[dict]:
        """Write change rows (table columns + ``_change_type``) as Delta CDF
        change files under ``_change_data/`` and return their ``cdc``
        actions. Partitioned like the table; the files never enter the
        table state (``dataChange=false``) — only :meth:`table_changes`
        reads them. Underscore-prefixed, so directory listings and plain
        readers skip them, exactly like ``_delta_log``."""
        path = snap.path
        moved, parts_phys = self._stage_physical(
            snap,
            cdc_df,
            list(parts),
            dest=os.path.join(path, self.CDC_DIR),
            apply_iceberg=False,
        )
        out = []
        for rel in moved:
            full = os.path.join(path, self.CDC_DIR, rel)
            out.append(
                {
                    "path": f"{self.CDC_DIR}/{rel}",
                    "partitionValues": deltalog.partition_values_from_path(
                        rel, parts_phys
                    ),
                    "size": os.path.getsize(full),
                }
            )
        return out

    def _dv_dml_eligible(self, path: str, ix: _FileIndex | None = None) -> bool:
        """DML takes the DV-writing path only when the table asks for it
        AND its protocol actually DECLARES the deletionVectors feature
        (the property alone is not authority to emit DV actions — a
        conforming reader of a (1,2) table would ignore the descriptors
        and resurrect the rows) AND nothing demands per-row work the DV
        commit cannot prove: a foreign table declaring generated columns
        would get unvalidated appended rows. CDF tables ARE eligible —
        the DV paths write row-exact change files from the marked
        positions (the same ``_write_cdc`` machinery as copy-on-write),
        so CDF no longer forces a full file rewrite just to feed the
        change stream. ``ix`` is the operation's entry (default: the tip)."""
        ix = ix or self._file_index(path)
        snap = ix.snapshot
        return (
            snap.flag("delta.enableDeletionVectors")
            and snap.deletion_vectors
            and not snap.generated
            # shallow clones reference foreign files: the DV-marking group
            # key and new-bin placement assume in-root files, so clone DML
            # takes the copy-on-write path (which handles absolute refs and
            # carries DV identity on removes)
            and not ix.foreign(self.large_listing_threshold)
        )

    def _dv_removes(self, ix: _FileIndex, removes: list[dict]) -> list[dict]:
        """Attach each removed file's CURRENT logical identity to its
        remove action. Two independent carries, each gated on ITS OWN
        protocol feature:

        - deletionVector descriptor (DV protocol): the logical-file
          identity is (path, dv uniqueId) — a bare-path remove would never
          tombstone a DV'd add, silently resurrecting its rows;
        - baseRowId / defaultRowCommitVersion (rowTracking protocol): the
          spec carries row-id identity on BOTH add and remove, so the
          tombstone preserves it even on tables without DVs.

        Every remove-producing path routes through this (DML via the
        copy-on-write removes, overwrite/compaction via
        :meth:`write_table`, RESTORE inline)."""
        has_rt = "rowTracking" in ix.snapshot.writer_features
        if not (has_rt or ix.snapshot.deletion_vectors):
            return removes
        dv_map = ix.dv_map
        live = ix.adds
        out = []
        for r in removes:
            d = dv_map.get(r["path"])
            enriched = {**r, "deletionVector": d} if d else dict(r)
            if has_rt:
                a = live.get(r["path"]) or {}
                if a.get("baseRowId") is not None:
                    enriched.setdefault("baseRowId", a["baseRowId"])
                    if a.get("defaultRowCommitVersion") is not None:
                        enriched.setdefault(
                            "defaultRowCommitVersion",
                            a["defaultRowCommitVersion"],
                        )
            out.append(enriched)
        return out

    def _refuse_legacy_writer_capabilities(
        self, path: str, api: str, enumerated: tuple[str, ...] = ()
    ) -> None:
        """Guard shared by the ``enable_*`` protocol upgrades: a writer-7
        upgrade must ENUMERATE every capability the existing protocol
        implies, or those declarations are silently dropped for conforming
        foreign writers. A legacy table at minWriterVersion 2-6 (no feature
        lists) implies appendOnly/invariants (2), checkConstraints (3),
        changeDataFeed + generatedColumns (4), columnMapping (5),
        identityColumns (6) — each binding only while actually DECLARED on
        the table, so only the ACTIVE ones matter. Callers that carry a
        capability into the new feature list pass it via ``enumerated``
        (enable_deletion_vectors does for changeDataFeed); anything active
        and not enumerated refuses (the explicit feature-list guard alone
        let writer-3-6 tables through — ADVICE r11 #1)."""
        snap = self._snapshot(path)
        proto = snap.protocol or {}
        writer = int(proto.get("minWriterVersion") or 1)
        if writer >= 7:
            return  # explicit lists — the no-clobber guard owns this case
        active: set[str] = set()
        if writer >= 2:
            if snap.append_only:
                active.add("appendOnly")
            if bool(snap.invariants):
                active.add("invariants")
        if writer >= 3 and snap.constraints:
            active.add("checkConstraints")
        if writer >= 4:
            if snap.flag("delta.enableChangeDataFeed"):
                active.add("changeDataFeed")
            if snap.generated:
                active.add("generatedColumns")
        if writer >= 5 and snap.column_mapping:
            active.add("columnMapping")
        if writer >= 6 and snap.identity:
            active.add("identityColumns")
        dropped = sorted(active - set(enumerated))
        if dropped:
            raise UnsupportedProtocolError(
                path,
                f"table's legacy minWriterVersion={writer} carries ACTIVE "
                f"capability declarations {dropped} that the writer-7 {api} "
                "upgrade would silently drop from the protocol; refusing to "
                "rewrite it",
            )

    def enable_deletion_vectors(self, alias: str) -> int:
        """Upgrade a plain (or CDF-enabled) table so DELETEs write deletion
        vectors (``delta.enableDeletionVectors=true`` + the (3,7)
        deletionVectors protocol, Delta's own enable path). A CDF table's
        upgrade enumerates ``changeDataFeed`` in the writer features (the
        writer-7 form of its existing writer-4 demand; the DV DML paths
        write row-exact change files). Tables already using column
        mapping, CHECK constraints, or generated columns refuse — a
        writer-7 upgrade must enumerate every legacy capability as a
        feature, and this engine scopes the upgrade to these cases."""
        if self.config.read_only:
            raise ReadOnlyError(alias)
        path = self.resolve(alias)
        snap = self._snapshot(path)
        if (
            snap.column_mapping
            or snap.constraints
            or snap.generated
        ):
            raise UnsupportedProtocolError(
                path,
                "enable_deletion_vectors supports plain or CDF tables only "
                "(column mapping / constraints / generated columns would "
                "need their writer features enumerated in the upgrade)",
            )
        conf = snap.configuration
        conf["delta.enableDeletionVectors"] = "true"
        meta = snap.metadata or {}
        proto = snap.protocol or {}
        existing_r = set(proto.get("readerFeatures") or [])
        existing_w = set(proto.get("writerFeatures") or [])
        protocol_action = None
        if "deletionVectors" not in existing_r:
            if existing_r or existing_w:
                # never CLOBBER a feature list this engine didn't write —
                # dropping a declared feature corrupts the table's contract
                raise UnsupportedProtocolError(
                    path,
                    "table already declares protocol features "
                    f"{sorted(existing_r | existing_w)}; refusing to rewrite "
                    "its feature lists",
                )
            self._refuse_legacy_writer_capabilities(
                path, "enable_deletion_vectors", enumerated=("changeDataFeed",)
            )
            wfeats = ["deletionVectors"]
            if snap.flag("delta.enableChangeDataFeed"):
                # the table's existing writer-4 CDF demand must survive the
                # writer-7 upgrade as its feature form — dropping it would
                # let conforming writers commit change-less DML
                wfeats.append("changeDataFeed")
            protocol_action = {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["deletionVectors"],
                "writerFeatures": wfeats,
            }
        version = self._commit(
            path,
            lambda: iter(()),
            None,
            schema_json=meta.get("schemaString"),
            partition_cols=list(meta.get("partitionColumns") or []),
            operation="SET TBLPROPERTIES",
            configuration=conf,
            enforced_constraints=True,
            enforced_generated=True,
            identity_handled=True,
            defaults_handled=True,
            cdf_handled=True,
            protocol_action=protocol_action,
        )
        return version

    def enable_v2_checkpoints(self, alias: str) -> int:
        """Upgrade a plain table to the ``v2Checkpoint`` protocol feature:
        subsequent :meth:`checkpoint` calls (and auto-checkpoints) write the
        V2 form — uuid-named main file + ``_sidecars/`` — instead of classic
        checkpoints, which the feature forbids. Tables already declaring
        other protocol features refuse (a writer-7 upgrade must enumerate
        every legacy capability; this engine scopes the upgrade to the
        plain case, like :meth:`enable_deletion_vectors`)."""
        if self.config.read_only:
            raise ReadOnlyError(alias)
        path = self.resolve(alias)
        snap = self._snapshot(path)
        proto = snap.protocol or {}
        existing_r = set(proto.get("readerFeatures") or [])
        existing_w = set(proto.get("writerFeatures") or [])
        if "v2Checkpoint" in existing_r:
            return snap.version  # already enabled
        if existing_r or existing_w:
            raise UnsupportedProtocolError(
                path,
                "table already declares protocol features "
                f"{sorted(existing_r | existing_w)}; refusing to rewrite "
                "its feature lists",
            )
        self._refuse_legacy_writer_capabilities(path, "enable_v2_checkpoints")
        meta = snap.metadata or {}
        version = self._commit(
            path,
            lambda: iter(()),
            None,
            schema_json=meta.get("schemaString"),
            partition_cols=list(meta.get("partitionColumns") or []),
            operation="UPGRADE PROTOCOL",
            enforced_constraints=True,
            enforced_generated=True,
            identity_handled=True,
            defaults_handled=True,
            cdf_handled=True,
            protocol_action={
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["v2Checkpoint"],
                "writerFeatures": ["v2Checkpoint"],
            },
        )
        return version

    def enable_checkpoint_protection(
        self, alias: str, before_version: int | None = None
    ) -> int:
        """Upgrade a table to the ``checkpointProtection`` reader-writer
        feature (Delta RFC checkpoint-protection): checkpoints at versions
        below ``delta.requireCheckpointProtectionBeforeVersion`` are
        declared non-recreatable, so metadata cleanup must truncate to a
        boundary at/above that version in ONE run or delete nothing —
        :meth:`cleanup_log` honors exactly that (the refusal is pinned by
        ``tests/test_checkpoint_protection.py``). ``before_version``
        defaults to the enabling commit's own version (everything strictly
        below the upgrade is protected); Delta writes this feature from its
        DROP FEATURE flow with the drop version — a foreign table arriving
        with the feature is served identically. Tables already declaring
        other protocol features refuse (scoped like
        :meth:`enable_v2_checkpoints`)."""
        if self.config.read_only:
            raise ReadOnlyError(alias)
        path = self.resolve(alias)
        snap = self._snapshot(path)
        proto = snap.protocol or {}
        existing_r = set(proto.get("readerFeatures") or [])
        existing_w = set(proto.get("writerFeatures") or [])
        if "checkpointProtection" in existing_r:
            return snap.version  # already enabled
        if existing_r or existing_w:
            raise UnsupportedProtocolError(
                path,
                "table already declares protocol features "
                f"{sorted(existing_r | existing_w)}; refusing to rewrite "
                "its feature lists",
            )
        self._refuse_legacy_writer_capabilities(
            path, "enable_checkpoint_protection"
        )
        enabling = snap.version + 1
        if before_version is None:
            before_version = enabling
        if not (0 <= int(before_version) <= enabling):
            raise ValueError(
                f"before_version={before_version} outside the table's "
                f"history [0, {enabling}]"
            )
        conf = snap.configuration
        meta = snap.metadata or {}

        def conf_fn(version: int, ict: int) -> dict:
            c = dict(conf)
            c["delta.requireCheckpointProtectionBeforeVersion"] = str(
                int(before_version)
            )
            return c

        version = self._commit(
            path,
            lambda: iter(()),
            None,
            schema_json=meta.get("schemaString"),
            partition_cols=list(meta.get("partitionColumns") or []),
            operation="UPGRADE PROTOCOL",
            enforced_constraints=True,  # no rows written
            enforced_generated=True,
            identity_handled=True,
            defaults_handled=True,
            cdf_handled=True,
            protocol_action={
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["checkpointProtection"],
                "writerFeatures": ["checkpointProtection"],
            },
            configuration_fn=conf_fn,
        )
        return version

    def enable_iceberg_compat(self, alias: str, version: int = 2) -> int:
        """Declare Iceberg compatibility (Delta UniForm's
        ``icebergCompatV1/V2`` writer feature + the activating
        ``delta.enableIcebergCompatVn`` property) on a column-mapped table:
        every subsequent :meth:`write_table` stages Iceberg-readable files —
        parquet field ids from the mapped schema, int64 timestamps,
        partition values materialized in file content
        (:meth:`_prepare_iceberg_write`); raw commits refuse. The table
        must already be mapped (the feature's own precondition — this
        engine creates unmapped tables, so the API targets foreign mapped
        tables, the UniForm shape) and must not use deletion vectors or
        declare other writer features/legacy capabilities (a writer-7
        upgrade must enumerate them all; scoped like the other enables)."""
        if self.config.read_only:
            raise ReadOnlyError(alias)
        if version not in (1, 2):
            raise ValueError(f"icebergCompat version must be 1 or 2, got {version}")
        path = self.resolve(alias)
        feature = f"icebergCompatV{version}"
        prop = f"delta.enableIcebergCompatV{version}"
        snap = self._snapshot(path)
        conf = snap.configuration
        if str(conf.get(prop, "")).lower() == "true":
            return snap.version  # already enabled
        if not snap.column_mapping:
            raise UnsupportedProtocolError(
                path,
                "icebergCompat requires column mapping (field-id-bearing "
                "schemas); this table is unmapped",
            )
        if str(conf.get("delta.enableDeletionVectors", "")).lower() == "true":
            raise UnsupportedProtocolError(
                path,
                "icebergCompat forbids active deletion vectors (Iceberg "
                "readers cannot apply them)",
            )
        if (
            snap.constraints
            or snap.generated
            or snap.identity
            or snap.defaults
            or snap.flag("delta.enableChangeDataFeed")
        ):
            raise UnsupportedProtocolError(
                path,
                "enable_iceberg_compat supports plain mapped tables only "
                "(constraints / generated / identity / default columns / "
                "CDF would need their writer features enumerated)",
            )
        proto = snap.protocol or {}
        existing_r = set(proto.get("readerFeatures") or [])
        existing_w = set(proto.get("writerFeatures") or [])
        if existing_w - {"columnMapping"} or existing_r - {"columnMapping"}:
            raise UnsupportedProtocolError(
                path,
                "table already declares protocol features "
                f"{sorted((existing_r | existing_w) - {'columnMapping'})}; "
                "refusing to rewrite its feature lists",
            )
        wfeats = sorted(existing_w | {"columnMapping", feature})
        protocol_action = {
            "minReaderVersion": int(proto.get("minReaderVersion") or 2),
            "minWriterVersion": 7,
            "writerFeatures": wfeats,
        }
        if existing_r or int(proto.get("minReaderVersion") or 1) >= 3:
            protocol_action["readerFeatures"] = sorted(
                existing_r | {"columnMapping"}
            )
        meta = snap.metadata or {}
        new_conf = dict(conf)
        new_conf[prop] = "true"
        version_out = self._commit(
            path,
            lambda: iter(()),
            None,
            schema_json=meta.get("schemaString"),
            partition_cols=list(meta.get("partitionColumns") or []),
            operation="UPGRADE PROTOCOL",
            enforced_constraints=True,  # no rows written
            enforced_generated=True,
            identity_handled=True,
            defaults_handled=True,
            cdf_handled=True,
            # metadata-only commit: no files staged, so the mapped-table
            # translation obligation is vacuous — and the commit itself
            # proves the iceberg obligation the same way (no new files)
            mapped_write=True,
            iceberg_handled=True,
            protocol_action=protocol_action,
            configuration=new_conf,
        )
        return version_out

    def enable_in_commit_timestamps(self, alias: str) -> int:
        """Upgrade a table to In-Commit Timestamps (Delta ``inCommitTimestamp``
        writer feature): from the enabling commit on, every commit carries a
        strictly monotonic ``commitInfo.inCommitTimestamp`` as its FIRST
        action — the table's authoritative commit time, immune to the
        file-mtime drift that breaks timestamp time-travel when logs are
        copied between stores. The enabling commit names ITSELF in
        ``delta.inCommitTimestampEnablementVersion/-Timestamp`` (the spec's
        post-creation enablement contract), computed per commit ATTEMPT so a
        CAS retry cannot leave them stale. ``timestamp_as_of`` time-travel,
        CDF ``startingTimestamp``, and ``table_history`` already prefer ICT
        over wall-clock when present. Tables already declaring other
        protocol features refuse (a writer-7 upgrade must enumerate every
        legacy capability; scoped like :meth:`enable_v2_checkpoints`)."""
        if self.config.read_only:
            raise ReadOnlyError(alias)
        path = self.resolve(alias)
        snap = self._snapshot(path)
        conf = snap.configuration
        if str(conf.get("delta.enableInCommitTimestamps", "")).lower() == "true":
            return snap.version  # already enabled
        proto = snap.protocol or {}
        existing_r = set(proto.get("readerFeatures") or [])
        existing_w = set(proto.get("writerFeatures") or [])
        protocol_action = None
        if "inCommitTimestamp" not in existing_w:
            if existing_r or existing_w:
                raise UnsupportedProtocolError(
                    path,
                    "table already declares protocol features "
                    f"{sorted(existing_r | existing_w)}; refusing to rewrite "
                    "its feature lists",
                )
            self._refuse_legacy_writer_capabilities(
                path, "enable_in_commit_timestamps"
            )
            protocol_action = {
                "minReaderVersion": 1,
                "minWriterVersion": 7,
                "writerFeatures": ["inCommitTimestamp"],
            }
        meta = snap.metadata or {}

        def conf_fn(version: int, ict: int) -> dict:
            c = dict(conf)
            c["delta.enableInCommitTimestamps"] = "true"
            c["delta.inCommitTimestampEnablementVersion"] = str(version)
            c["delta.inCommitTimestampEnablementTimestamp"] = str(ict)
            return c

        version = self._commit(
            path,
            lambda: iter(()),
            None,
            schema_json=meta.get("schemaString"),
            partition_cols=list(meta.get("partitionColumns") or []),
            operation="UPGRADE PROTOCOL",
            enforced_constraints=True,  # no rows written
            enforced_generated=True,
            identity_handled=True,
            defaults_handled=True,
            cdf_handled=True,
            protocol_action=protocol_action,
            configuration_fn=conf_fn,
        )
        return version

    def enable_clustering(self, alias: str, columns: list[str]) -> int:
        """Declare LIQUID CLUSTERING on a plain table (Delta ``ALTER TABLE
        ... CLUSTER BY`` analog): upgrade to (1,7) + ``clusteredTable`` +
        ``domainMetadata`` and write the ``delta.clustering`` domain with
        the given clustering columns. From then on :meth:`compact_table`
        reclusters on these columns BY DEFAULT (the feature's best-effort
        physical obligation), and the domain survives checkpoints, log
        cleanup, and clones (this engine's preserve-domains machinery).
        Physical clustering is not retroactive — run :meth:`compact_table`
        to recluster existing files. Columns must exist in the logged
        schema; partition columns refuse (a partition column is already
        physically clustered by the directory layout, and Delta forbids
        overlap)."""
        if self.config.read_only:
            raise ReadOnlyError(alias)
        path = self.resolve(alias)
        snap = self._snapshot(path)
        meta = snap.metadata or {}
        schema = snap.schema
        known = {f.name for f in schema.fields} if schema is not None else set()
        missing = [c for c in columns if c not in known]
        if not columns or missing:
            raise ValueError(
                f"clustering columns {missing or columns} not in table schema"
            )
        overlap = [c for c in columns if c in (meta.get("partitionColumns") or [])]
        if overlap:
            raise ValueError(
                f"clustering columns {overlap} are partition columns — Delta "
                "forbids clustering on partition columns"
            )
        proto = snap.protocol or {}
        existing_r = set(proto.get("readerFeatures") or [])
        existing_w = set(proto.get("writerFeatures") or [])
        protocol_action = None
        if "clusteredTable" not in existing_w:
            if existing_r or existing_w:
                raise UnsupportedProtocolError(
                    path,
                    "table already declares protocol features "
                    f"{sorted(existing_r | existing_w)}; refusing to rewrite "
                    "its feature lists",
                )
            self._refuse_legacy_writer_capabilities(path, "enable_clustering")
            protocol_action = {
                "minReaderVersion": 1,
                "minWriterVersion": 7,
                "writerFeatures": ["clusteredTable", "domainMetadata"],
            }
        version = self._commit(
            path,
            lambda: iter(()),
            None,
            schema_json=meta.get("schemaString"),
            partition_cols=list(meta.get("partitionColumns") or []),
            operation="CLUSTER BY",
            enforced_constraints=True,  # no rows written
            enforced_generated=True,
            identity_handled=True,
            defaults_handled=True,
            cdf_handled=True,
            dv_write=snap.deletion_vectors,
            protocol_action=protocol_action,
            domain_actions=[
                {
                    "domain": "delta.clustering",
                    "configuration": json.dumps(
                        {"clusteringColumns": [[c] for c in columns]}
                    ),
                    "removed": False,
                }
            ],
            row_tracking_assign=True,
        )
        return version

    def enable_row_tracking(self, alias: str, enabled: bool = True) -> int:
        """Upgrade a plain table to the ``rowTracking`` writer feature and
        BACKFILL row ids — Delta's own three-step enablement flow
        (ALTER TABLE SET TBLPROPERTIES delta.enableRowTracking=true):

        1. protocol upgrade to (1,7) + ``rowTracking`` + ``domainMetadata``
           (the high-water mark lives in the ``delta.rowTracking`` domain,
           so the spec makes domainMetadata a hard dependency);
        2. a backfill commit re-adding every live file with ``dataChange=
           false`` so :func:`deltalog.write_commit_streamed` assigns each a
           fresh ``baseRowId`` range from its ``numRecords`` stats and
           writes the ``rowIdHighWaterMark`` domain;
        3. (``enabled=True``) ``delta.enableRowTracking=true`` on the same
           backfill commit — from then on row ids are part of the table's
           read contract and the DML stability guard
           (:meth:`_require_row_id_stability`) refuses operations that
           would renumber surviving rows.

        Requires ``numRecords`` stats on every live file (engine-written
        tables always have them); refuses otherwise rather than logging a
        table whose ids cannot be derived. Tables already declaring other
        protocol features refuse, like :meth:`enable_deletion_vectors`.
        Subsequent :meth:`read_table` calls accept ``with_row_ids=True``.
        """
        if self.config.read_only:
            raise ReadOnlyError(alias)
        path = self.resolve(alias)
        snap = self._snapshot(path)
        proto = snap.protocol or {}
        existing_r = set(proto.get("readerFeatures") or [])
        existing_w = set(proto.get("writerFeatures") or [])
        meta = snap.metadata or {}
        if "rowTracking" not in existing_w:
            if existing_r or existing_w:
                # never CLOBBER a feature list this engine didn't write
                raise UnsupportedProtocolError(
                    path,
                    "table already declares protocol features "
                    f"{sorted(existing_r | existing_w)}; refusing to rewrite "
                    "its feature lists",
                )
            self._refuse_legacy_writer_capabilities(path, "enable_row_tracking")
            self._commit(
                path,
                lambda: iter(()),
                None,
                schema_json=meta.get("schemaString"),
                partition_cols=list(meta.get("partitionColumns") or []),
                operation="UPGRADE PROTOCOL",
                enforced_constraints=True,
                enforced_generated=True,
                identity_handled=True,
                defaults_handled=True,
                cdf_handled=True,
                protocol_action={
                    "minReaderVersion": 1,
                    "minWriterVersion": 7,
                    "writerFeatures": ["rowTracking", "domainMetadata"],
                },
            )
        # Backfill: re-add each live file WITHOUT a baseRowId so the commit
        # assigns fresh ids above the (empty) high-water mark; files that
        # already carry one (re-running enablement) pass through untouched.
        ix = self._file_index(path)  # after the protocol upgrade above
        live = ix.adds
        conf = ix.snapshot.configuration
        if enabled:
            conf["delta.enableRowTracking"] = "true"

        def backfill():
            for p in sorted(live):
                a = live[p]
                add = {
                    "path": p,
                    "partitionValues": dict(a.get("partitionValues") or {}),
                    "size": a.get("size"),
                    "modificationTime": a.get("modificationTime"),
                    "stats": a.get("stats"),
                    "dataChange": False,  # same rows, new metadata only
                }
                if a.get("baseRowId") is not None:
                    add["baseRowId"] = a["baseRowId"]
                    if a.get("defaultRowCommitVersion") is not None:
                        add["defaultRowCommitVersion"] = a[
                            "defaultRowCommitVersion"
                        ]
                if a.get("deletionVector"):
                    add["deletionVector"] = a["deletionVector"]
                yield add

        version = self._commit(
            path,
            backfill,
            None,
            schema_json=meta.get("schemaString"),
            partition_cols=list(meta.get("partitionColumns") or []),
            operation="ROW TRACKING BACKFILL",
            configuration=conf,
            enforced_constraints=True,  # no rows written
            enforced_generated=True,
            identity_handled=True,
            defaults_handled=True,
            cdf_handled=True,
            dv_write=ix.snapshot.deletion_vectors,
            row_tracking_assign=True,
        )
        return version

    def _delete_with_dvs(self, ix: _FileIndex, condition: Column) -> int | None:
        """DELETE by WRITING deletion vectors — no data rewrite: each
        touched file's matching row positions merge with its existing DV
        and serialize to a fresh ``deletion_vector_<uuid>.bin``
        EXECUTOR-side (``applyInPandas`` per file: positions never travel
        to the driver, only the metadata-sized descriptors do). Files whose
        merged cardinality reaches their ``numRecords`` are fully removed
        instead (Delta's own escalation). Returns the committed version, or
        None when the snapshot exceeds the enumerable threshold (caller
        falls back to copy-on-write). On CDF tables the marked rows are
        ALSO written as ``delete`` change files — exactly the rows whose
        liveness the DVs flip, so the change stream stays row-exact
        without any data-file rewrite."""
        path, snap = ix.path, ix.snapshot
        try:
            target = self._apply_collations(
                snap, self._read_data(path, keep_file_col=True, keep_pos=True, ix=ix)
            )
        except _NeedsEnumeratedScan:
            return None
        matched_rows = target.filter(condition)
        matched = matched_rows.select(
            uri_rel_col(F.col("_file"), path).alias("_rel"), "_pos"
        )
        descs, dv_rels = self._dv_mark_positions(ix, matched)
        if not descs:
            return ix.version  # nothing matched: no-op
        cdc_actions = None
        if snap.flag("delta.enableChangeDataFeed"):
            cdc_actions = self._write_cdc(
                snap,
                matched_rows.drop("_file", "_pos").withColumn(
                    "_change_type", F.lit("delete")
                ),
                snap.partition_columns,
            )
        adds, removes = self._dv_actions_for(ix, descs)
        version = self._commit_moved(
            snap,
            dv_rels,  # failed commits clean the freshly written DV files
            adds,
            removes,
            operation="DELETE",
            enforced_constraints=True,  # no rows written
            enforced_generated=True,
            identity_handled=True,
            defaults_handled=True,
            cdc_adds=cdc_actions,
            cdf_handled=True,
            dv_write=True,
        )
        return version

    def _dv_mark_positions(self, ix: _FileIndex, matched_pos: DataFrame):
        """Shared DV-writing core: (rel, pos) rows -> per-file merged
        deletion vectors written EXECUTOR-side; returns
        ``(descriptor rows, dv-file rel names)``."""
        import pandas as pd

        dv_map = ix.dv_map
        path = table_path = ix.path
        out_schema = (
            "rel string, storageType string, pathOrInlineDv string, "
            "offset long, sizeInBytes long, cardinality long"
        )

        def build(pdf: "pd.DataFrame") -> "pd.DataFrame":
            import numpy as np

            from delta_lake_proxy_spark import dv as dv_mod

            rel = str(pdf["_rel"].iloc[0])
            positions = pdf["_pos"].to_numpy(dtype="int64")
            old = dv_map.get(rel)
            if old:
                positions = np.union1d(
                    positions, dv_mod.load_dv_positions(table_path, old)
                )
            desc = dv_mod.write_uuid_dv_file(table_path, positions)
            return pd.DataFrame(
                [
                    {
                        "rel": rel,
                        "storageType": desc["storageType"],
                        "pathOrInlineDv": desc["pathOrInlineDv"],
                        "offset": desc["offset"],
                        "sizeInBytes": desc["sizeInBytes"],
                        "cardinality": desc["cardinality"],
                    }
                ]
            )

        descs = matched_pos.groupBy("_rel").applyInPandas(build, out_schema).collect()
        from .dv import dv_file_path as _dv_file_path

        rels = [
            os.path.basename(
                _dv_file_path(
                    path,
                    {
                        "storageType": d["storageType"],
                        "pathOrInlineDv": d["pathOrInlineDv"],
                    },
                )
            )
            for d in descs
        ]
        return descs, rels

    def _dv_actions_for(self, ix: _FileIndex, descs) -> tuple[list[dict], list[dict]]:
        """Build the (adds, removes) action pair for freshly written DVs:
        remove the old (path, dv) identity, re-add with the new descriptor;
        fully-dead files (cardinality == numRecords) get a plain remove."""
        live = ix.adds
        adds, removes = [], []
        for d in descs:
            a = live[d["rel"]]
            old_dv = a.get("deletionVector")
            desc = {
                "storageType": d["storageType"],
                "pathOrInlineDv": d["pathOrInlineDv"],
                "offset": int(d["offset"]),
                "sizeInBytes": int(d["sizeInBytes"]),
                "cardinality": int(d["cardinality"]),
            }
            rm = {"path": d["rel"], "dataChange": True}
            if old_dv and old_dv.get("storageType"):
                rm["deletionVector"] = old_dv
            removes.append(rm)
            num_records = None
            try:
                num_records = json.loads(a.get("stats") or "{}").get("numRecords")
            except Exception:
                pass
            if num_records is not None and int(d["cardinality"]) >= int(num_records):
                continue  # every row dead: plain remove, no re-add
            re_add = {
                "path": d["rel"],
                "partitionValues": dict(a.get("partitionValues") or {}),
                "size": a.get("size"),
                "modificationTime": a.get("modificationTime"),
                "stats": a.get("stats"),
                "deletionVector": desc,
                "dataChange": True,
            }
            # the file is unchanged, so its row-tracking identity is too:
            # surviving rows keep baseRowId + physical index (preservation
            # through DV DML, like the DV identity itself)
            if a.get("baseRowId") is not None:
                re_add["baseRowId"] = a["baseRowId"]
            if a.get("defaultRowCommitVersion") is not None:
                re_add["defaultRowCommitVersion"] = a["defaultRowCommitVersion"]
            adds.append(re_add)
        return adds, removes

    def _update_with_dvs(
        self,
        ix: _FileIndex,
        condition: Column,
        assignments: dict[str, Column],
        parts: list[str],
    ) -> int | None:
        """UPDATE as Delta's DV shape: deletion-vector the matched positions
        in place and APPEND a new file carrying the updated rows — touched
        files are never rewritten, so a point update on a 100 TB table
        costs O(matched rows), not O(touched files). Returns None past the
        enumerable threshold (caller falls back to copy-on-write)."""
        path, snap = ix.path, ix.snapshot
        try:
            target = self._apply_collations(
                snap, self._read_data(path, keep_file_col=True, keep_pos=True, ix=ix)
            )
        except _NeedsEnumeratedScan:
            return None
        matched = target.filter(condition)
        pos = matched.select(
            uri_rel_col(F.col("_file"), path).alias("_rel"), "_pos"
        )
        descs, dv_rels = self._dv_mark_positions(ix, pos)
        if not descs:
            return ix.version  # nothing matched: no-op
        updated = matched.drop("_file", "_pos").withColumns(
            {
                c: expr.cast(dict(target.drop("_file", "_pos").dtypes)[c])
                for c, expr in assignments.items()
            }
        )
        moved, parts_phys = self._stage_physical(snap, updated, list(parts))
        cdc_actions = None
        if snap.flag("delta.enableChangeDataFeed"):
            # row-exact CDF from the DV shape: the marked rows are the
            # preimages, the appended rows their postimages
            pre = matched.drop("_file", "_pos").withColumn(
                "_change_type", F.lit("update_preimage")
            )
            post = updated.withColumn("_change_type", F.lit("update_postimage"))
            cdc_actions = self._write_cdc(snap, pre.unionByName(post), parts)
        dv_adds, removes = self._dv_actions_for(ix, descs)
        _scols = snap.stats_columns()
        new_adds = [
            deltalog.add_action_for(path, rel, parts_phys, stats_cols=_scols)
            for rel in moved
        ]
        version = self._commit_moved(
            snap,
            dv_rels + moved,
            dv_adds + new_adds,
            removes,
            partition_cols=list(parts),
            operation="UPDATE",
            enforced_constraints=self._enforce_check_constraints(snap, updated),
            enforced_generated=True,
            identity_handled=True,
            defaults_handled=True,
            cdc_adds=cdc_actions,
            cdf_handled=True,
            dv_write=True,
        )
        return version

    def _merge_with_dvs(
        self, ix: _FileIndex, source: DataFrame, on: list[str], parts: list[str]
    ) -> int | None:
        """MERGE as the DV shape: deletion-vector every matched target row
        in place, append ALL source rows (replacements and inserts) as new
        files — no touched-file rewrite, cost O(matched + source rows).
        Returns None past the enumerable threshold (caller falls back to
        copy-on-write)."""
        # reconcile the source against the LOGGED schema before staging —
        # the copy-on-write path gets this for free from unionByName's
        # strictness; the DV path appends the source verbatim, so a source
        # missing a table column would commit nonconforming files that read
        # back as nulls. Same contract: extras and missing columns reject,
        # conforming columns cast to the logged types.
        path, snap = ix.path, ix.snapshot
        schema = snap.schema
        if schema is not None:
            src_cols = set(source.columns)
            tbl_cols = [f.name for f in schema.fields]
            missing = [c for c in tbl_cols if c not in src_cols]
            extra = sorted(src_cols - set(tbl_cols))
            if missing or extra:
                raise ValueError(
                    f"MERGE source schema does not match table {path}: "
                    f"missing columns {missing}, unexpected columns {extra}"
                )
            # reject lossy/invalid coercions BEFORE casting: Column.cast
            # would silently null out e.g. a string source for a long table
            # column — strictly weaker than the copy-on-write unionByName
            # contract this path mirrors
            src_types = {f.name: f.dataType for f in source.schema.fields}
            bad = [
                (f.name, str(src_types[f.name]), str(f.dataType))
                for f in schema.fields
                if not _safe_castable(src_types[f.name], f.dataType)
            ]
            if bad:
                raise ValueError(
                    f"MERGE source schema does not match table {path}: "
                    f"incompatible column types (source -> table) {bad}"
                )
            source = source.select(
                *[F.col(f.name).cast(f.dataType) for f in schema.fields]
            )
        try:
            target = self._apply_collations(
                snap, self._read_data(path, keep_file_col=True, keep_pos=True, ix=ix)
            )
        except _NeedsEnumeratedScan:
            return None
        keys = source.select(*on).dropDuplicates()
        matched = target.join(keys, on=on, how="left_semi")
        pos = matched.select(
            uri_rel_col(F.col("_file"), path).alias("_rel"), "_pos"
        )
        descs, dv_rels = self._dv_mark_positions(ix, pos)
        dv_adds, removes = (
            self._dv_actions_for(ix, descs) if descs else ([], [])
        )
        enforced = self._enforce_check_constraints(snap, source)
        moved, parts_phys = self._stage_physical(snap, source, list(parts))
        cdc_actions = None
        if snap.flag("delta.enableChangeDataFeed"):
            # same change taxonomy as the copy-on-write MERGE: DV'd target
            # rows as update_preimage, their source replacements as
            # update_postimage, unmatched source rows as insert
            tkeys = matched.select(*on).dropDuplicates()
            pre = matched.drop("_file", "_pos").withColumn(
                "_change_type", F.lit("update_preimage")
            )
            post = source.join(tkeys, on=on, how="left_semi").withColumn(
                "_change_type", F.lit("update_postimage")
            )
            ins = source.join(tkeys, on=on, how="left_anti").withColumn(
                "_change_type", F.lit("insert")
            )
            cdc_actions = self._write_cdc(
                snap, pre.unionByName(post).unionByName(ins), parts
            )
        _scols = snap.stats_columns()
        new_adds = [
            deltalog.add_action_for(path, rel, parts_phys, stats_cols=_scols)
            for rel in moved
        ]
        version = self._commit_moved(
            snap,
            dv_rels + moved,
            dv_adds + new_adds,
            removes,
            partition_cols=list(parts),
            operation="MERGE",
            enforced_constraints=enforced,
            enforced_generated=True,
            identity_handled=True,
            defaults_handled=True,
            cdc_adds=cdc_actions,
            cdf_handled=True,
            dv_write=True,
        )
        return version

    def _enforce_check_constraints(
        self, snap: deltalog.Snapshot, df: DataFrame, schema_json: str | None = None
    ) -> bool:
        """Validate ``df`` (the rows about to be written) against the
        table's declared CHECK constraints (``delta.constraints.<name>``
        properties, Delta writer protocol 3) AND column invariants
        (``delta.invariants`` field metadata, writer protocol 2). SQL CHECK
        semantics for both: a row violates only when the expression
        evaluates to FALSE (null passes — the protocol aborts "when the
        expression evaluates to false"). An invariant on a column absent
        from ``df`` is vacuously satisfied (the written files carry only
        nulls for it). One ``limit(1)`` probe job per predicate, run only
        when any are declared. Returns True — the ``enforced_constraints``
        proof the commit gate requires for writer-2/3 tables."""
        for name, sql in sorted(snap.constraints.items()):
            violating = ~F.coalesce(F.expr(sql).cast("boolean"), F.lit(True))
            if df.filter(violating).limit(1).count() > 0:
                raise ValueError(
                    f"CHECK constraint {name!r} ({sql}) violated by written "
                    f"row(s) — write rejected (Delta constraint semantics)"
                )
        for col, sql in sorted(snap.invariants.items()):
            if col not in df.columns:
                continue
            violating = ~F.coalesce(F.expr(sql).cast("boolean"), F.lit(True))
            if df.filter(violating).limit(1).count() > 0:
                raise ValueError(
                    f"column invariant on {col!r} ({sql}) violated by "
                    f"written row(s) — write rejected (Delta writer "
                    f"protocol 2 invariant semantics)"
                )
        # top-level nullable=false is a NOT NULL invariant (PROTOCOL.md
        # "Column Invariants"): enforced by VALUE, which is why
        # _evolve_schema accepts a nullable-typed frame into a non-null
        # column — the nulls, not the schema, are the violation. One
        # limit(1) probe per declared non-null column. A non-null column
        # ABSENT from the frame refuses outright: every row would read
        # back NULL for it (write_table applies defaults/identity/
        # generated fills BEFORE this check, so anything still missing
        # here is genuinely unfillable; review r12 #1).
        #
        # The probes validate against the schema being COMMITTED, not the
        # pre-write one: a schema-replacing overwrite commits df.schema
        # wholesale, so a previously NOT NULL column it drops (or relaxes)
        # no longer exists to read back NULL — callers that replace the
        # schema pass it via ``schema_json`` (advice r12 #1).
        if schema_json is not None:
            from pyspark.sql import types as T

            # no try/except: callers pass a schema they just serialized
            # (df.schema.json() / _evolve_schema output) — a parse failure
            # is a caller bug and silently skipping every NOT NULL probe
            # would be far worse than the loud error (review r13 #4)
            schema = T.StructType.fromJson(json.loads(schema_json))
        else:
            schema = snap.schema
        for f in schema.fields if schema is not None else []:
            if f.nullable:
                continue
            if f.name not in df.columns:
                raise ValueError(
                    f"column {f.name!r} is declared NOT NULL in the table "
                    "schema but is absent from the written frame — every "
                    "row would read back NULL; write rejected (Delta "
                    "column invariant semantics)"
                )
            if df.filter(F.col(f.name).isNull()).limit(1).count() > 0:
                raise ValueError(
                    f"column {f.name!r} is declared NOT NULL in the table "
                    "schema but the written rows carry nulls — write "
                    "rejected (Delta column invariant semantics)"
                )
        return True

    def _rel_touched(self, touched_uris: list[str], ix: _FileIndex) -> list[str]:
        """Decode touched-file URIs to table-relative paths, validated against
        the live snapshot — a path that fails to relativize into the live set
        would emit a remove action that never tombstones anything (silently
        resurrecting deleted rows), so fail loudly instead. Shallow-clone
        snapshots reference foreign files by ABSOLUTE path; those match the
        live set by their decoded absolute form."""
        path, live = ix.path, ix.adds
        rels: list[str] = []
        bogus: list[str] = []
        for u in touched_uris:
            r = uri_to_rel(u, path)
            if r in live:
                rels.append(r)
                continue
            parsed = urllib.parse.urlparse(u)
            local = (
                urllib.parse.unquote(parsed.path)
                if parsed.scheme
                else urllib.parse.unquote(u)
            )
            if local in live:
                rels.append(local)  # absolute (shallow-clone) reference
            else:
                bogus.append(r)
        if bogus:
            raise RuntimeError(
                f"touched files not in live snapshot of {path}: {bogus[:3]} "
                f"({len(bogus)} total) — URI decoding mismatch?"
            )
        return rels

    def _dml_touched(self, ix: _FileIndex, matched: DataFrame):
        """Touched-file set of a DML predicate, overflow-guarded.

        ``matched`` is the target restricted to matching rows (carrying the
        ``_file`` column). Returns ``(touched_uris, touched_df, removes)``:

        - NARROW (≤ ``large_listing_threshold`` files): ``touched_uris`` is
          the collected URI list and ``removes`` the validated remove-action
          list — the point-update fast path, one small collect.
        - BROAD (a predicate touching more files than the driver should
          hold — detected by ``limit(N+1)`` on the same single job):
          ``touched_uris`` is None; the rewrite set flows through a
          join on ``touched_df`` and ``removes`` is a re-callable factory
          STREAMING relative paths via ``toLocalIterator`` into the commit
          (``write_commit_streamed``), validated against the snapshot by a
          distributed anti-join — driver memory stays O(1) in the touched
          count.
        """
        path = ix.path
        touched_df = matched.select("_file").distinct()
        limit = self.large_listing_threshold
        rows = touched_df.limit(limit + 1).collect()
        if len(rows) <= limit:
            uris = [r["_file"] for r in rows]
            removes = [{"path": p} for p in sorted(self._rel_touched(uris, ix))]
            return uris, touched_df, removes
        # PIN the touched set: the anti-join below validates it and
        # removes_fn later re-executes the plan (twice on OCC retry) — on
        # the listing-join scan each execution would re-derive the live set,
        # so a concurrent commit between validation and commit could change
        # the streamed remove set AFTER it was validated. persist() makes
        # the validated and streamed sets one materialization; callers
        # unpersist after the commit lands.
        touched_df = touched_df.persist()
        rel_df = touched_df.select(uri_rel_col(F.col("_file"), path).alias("path"))
        live = deltalog.snapshot_files(self.spark, path).select("path")
        if rel_df.join(live, "path", "left_anti").limit(1).count() > 0:
            touched_df.unpersist()
            raise RuntimeError(
                f"touched files not in live snapshot of {path} — "
                "URI decoding mismatch or concurrent overwrite?"
            )

        def removes_fn():
            for r in rel_df.toLocalIterator():
                yield {"path": r["path"]}

        return None, touched_df, removes_fn

    def _rows_in_files(
        self,
        target: DataFrame,
        touched_uris: list[str] | None,
        touched_df: DataFrame | None = None,
    ) -> DataFrame:
        """Rows of ``target`` whose ``_file`` is in the touched set: IN-list
        for small sets, broadcast semi-join on a paths DataFrame beyond
        ISIN_FILE_LIMIT (constant-size plan at any touched-file count), and
        a distributed semi-join on ``touched_df`` when the set overflowed
        the driver collect (``touched_uris is None``)."""
        if touched_uris is None:
            return target.join(touched_df, on="_file", how="left_semi")
        if len(touched_uris) <= ISIN_FILE_LIMIT:
            return target.filter(F.col("_file").isin(touched_uris))
        files_df = local_df(self.spark, [(u,) for u in touched_uris], "_file string")
        return target.join(F.broadcast(files_df), on="_file", how="left_semi")

    def _require_row_id_stability(self, snap: deltalog.Snapshot, op: str) -> None:
        """``delta.enableRowTracking=true`` promises STABLE row ids across
        operations that do not logically change rows — rewriting surviving
        rows into new files breaks that promise unless the writer
        materializes row-id columns, which this engine does not. Refuse
        loudly instead of silently renumbering (DV-shaped DELETE, appends,
        overwrites, restore and clone all remain allowed: they never
        renumber surviving rows)."""
        if "rowTracking" in snap.writer_features and snap.flag("delta.enableRowTracking"):
            raise UnsupportedProtocolError(
                snap.path,
                f"{op} on a delta.enableRowTracking=true table would "
                "renumber preserved row ids (this engine does not write "
                "materialized row-id columns) — disable row tracking or "
                "use a conforming writer for this operation",
            )

    def merge(self, alias: str, source: DataFrame, on: list[str]) -> int:
        """Upsert (MERGE): matched target rows are replaced by their source
        rows, unmatched source rows are inserted, untouched rows are kept.

        Delta-style minimal rewrite: only files that actually CONTAIN matched
        keys are rewritten (semi-join on the key set to find them, anti-join
        to keep their surviving rows); every other file is untouched — the
        property that makes point-upserts affordable on 100 TB tables.
        Returns the committed version.
        """
        if self.config.read_only:
            raise ReadOnlyError(alias)
        path = self.resolve(alias)
        ix = self._file_index(path)
        snap = ix.snapshot
        # replaced rows are LOGICAL updates: preservation would demand
        # materialized ids even on the DV shape
        self._require_row_id_stability(snap, "MERGE")
        # MERGE replaces matched rows with SOURCE rows and inserts the rest,
        # so the source must carry every column — including identity
        # columns, making every merged value an EXPLICIT insert: legal only
        # for GENERATED BY DEFAULT identity (the mark still advances from
        # the written stats in _commit_moved)
        for _icol, _ispec in sorted(snap.identity.items()):
            if not _ispec["allowExplicitInsert"]:
                raise ValueError(
                    f"column {_icol!r} is GENERATED ALWAYS AS IDENTITY — "
                    "MERGE would write explicit values for it; use "
                    "write_table append (which generates values) or declare "
                    "the column GENERATED BY DEFAULT"
                )
        parts = snap.partition_columns
        if self._dv_dml_eligible(path, ix):
            # MERGE as the DV shape: mark matched positions, append source
            v = self._merge_with_dvs(ix, source, list(on), parts)
            if v is not None:
                return v
        keys = source.select(*on).dropDuplicates()
        target = self._apply_collations(
            snap, self._read_data(path, keep_file_col=True, ix=ix)
        )
        touched_uris, touched_df, removes = self._dml_touched(
            ix, target.join(keys, on=on, how="left_semi")
        )
        if not callable(removes):
            removes = self._dv_removes(ix, removes)
        elif snap.deletion_vectors:
            raise UnsupportedProtocolError(
                path,
                "broad MERGE on a deletion-vector table cannot stream "
                "identity-correct removes — narrow the key set or compact "
                "first",
            )
        try:
            if touched_uris is None or touched_uris:
                survivors = (
                    self._rows_in_files(target, touched_uris, touched_df)
                    .drop("_file")
                    .join(keys, on=on, how="left_anti")
                )
                rewrite = survivors.unionByName(source)
            else:
                rewrite = source  # pure insert
            cdc_actions = None
            if snap.flag("delta.enableChangeDataFeed"):
                # Delta CDF for MERGE: replaced target rows as
                # update_preimage, their source replacements as
                # update_postimage, unmatched source rows as insert
                matched_target = (
                    self._rows_in_files(target, touched_uris, touched_df)
                    .drop("_file")
                    .join(keys, on=on, how="left_semi")
                )
                tkeys = matched_target.select(*on).dropDuplicates()
                pre = matched_target.withColumn(
                    "_change_type", F.lit("update_preimage")
                )
                post = source.join(tkeys, on=on, how="left_semi").withColumn(
                    "_change_type", F.lit("update_postimage")
                )
                ins = source.join(tkeys, on=on, how="left_anti").withColumn(
                    "_change_type", F.lit("insert")
                )
                cdc_actions = self._write_cdc(
                    snap, pre.unionByName(post).unionByName(ins), parts
                )
            enforced = self._enforce_check_constraints(snap, rewrite)
            moved, parts_phys = self._stage_physical(snap, rewrite, parts)
            _scols = snap.stats_columns()
            adds = [
                deltalog.add_action_for(path, rel, parts_phys, stats_cols=_scols)
                for rel in moved
            ]
            version = self._commit_moved(
                snap,
                moved,
                adds,
                removes if (touched_uris is None or touched_uris) else [],
                partition_cols=parts,
                operation="MERGE",
                enforced_constraints=enforced,
                cdc_adds=cdc_actions,
                cdf_handled=True,
                dv_write=snap.deletion_vectors,
            )
        finally:
            touched_df.unpersist()  # no-op unless the broad path pinned it
        return version

    def delete(
        self,
        alias: str,
        condition: Column | None = None,
        match: DataFrame | None = None,
        on: list[str] | None = None,
    ) -> int:
        """Predicate DELETE with minimal file rewrite: only files containing
        matching rows are rewritten (without those rows); untouched files
        survive. Returns the committed version.

        Two predicate forms: ``condition`` (a Column — the classic DELETE
        WHERE) and/or ``match`` + ``on`` (a semi-join: rows whose ``on``
        key appears in ``match`` are removed — the distributed shape for
        large retract sets, where an ``isin`` literal list would put the
        whole set in the plan; used by delete-aware
        :meth:`refresh_ivf_index`). Given BOTH, a row must satisfy the
        condition AND semi-join to be removed — the condition then also
        narrows the scan (e.g. a partition ``isin`` prunes directories
        before the join). The join form takes the copy-on-write path (the
        DV fast path plans from a Column predicate); engine-created plain
        tables — its intended targets — never carry DVs anyway."""
        if self.config.read_only:
            raise ReadOnlyError(alias)
        if condition is None and match is None:
            raise ValueError("pass condition, match+on, or both")
        if match is not None and not on:
            raise ValueError("the match form needs join key columns via on=[...]")
        path = self.resolve(alias)
        ix = self._file_index(path)
        snap = ix.snapshot
        parts = snap.partition_columns
        if match is None and self._dv_dml_eligible(path, ix):
            # DELETE as a deletion-vector commit — no data rewrite. (CDF
            # tables included since round 10: the DV path writes the
            # marked rows as 'delete' change files itself.)
            v = self._delete_with_dvs(ix, condition)
            if v is not None:
                return v
        # the DV shape above preserves row ids (files untouched); the
        # copy-on-write fallback rewrites survivors and cannot
        self._require_row_id_stability(snap, "copy-on-write DELETE")
        # collated columns re-typed so the DELETE condition compares under
        # the declared collation, exactly like read_table
        target = self._apply_collations(
            snap, self._read_data(path, keep_file_col=True, ix=ix)
        )
        if match is not None:
            # deduped so the survivor-side LEFT join cannot fan rows out
            keys = match.select(*[F.col(c) for c in on]).dropDuplicates(list(on))

            def _is_matched(df: DataFrame) -> DataFrame:
                base = df.filter(condition) if condition is not None else df
                return base.join(keys, list(on), "leftsemi")

            def _survivor_filter(df: DataFrame) -> DataFrame:
                # keep rows that are NOT (condition AND key-matched) — one
                # pass via a marked left join instead of a two-branch union
                marked = df.join(
                    keys.withColumn("_dlp_mk", F.lit(1)), list(on), "left"
                )
                dead = F.col("_dlp_mk").isNotNull()
                if condition is not None:
                    dead = dead & condition
                return marked.filter(~dead).drop("_dlp_mk")

        else:

            def _is_matched(df: DataFrame) -> DataFrame:
                return df.filter(condition)

            def _survivor_filter(df: DataFrame) -> DataFrame:
                return df.filter(~condition)

        touched_uris, touched_df, removes = self._dml_touched(
            ix, _is_matched(target)
        )
        if touched_uris is not None and not touched_uris:
            return ix.version  # nothing to delete: no-op
        if not callable(removes):
            removes = self._dv_removes(ix, removes)
        elif snap.deletion_vectors:
            raise UnsupportedProtocolError(
                path,
                "broad-predicate DELETE on a deletion-vector table cannot "
                "stream identity-correct removes — narrow the predicate or "
                "compact first",
            )
        try:
            survivors = _survivor_filter(
                self._rows_in_files(target, touched_uris, touched_df)
            ).drop("_file")
            cdc_actions = None
            if snap.flag("delta.enableChangeDataFeed"):
                # Delta CDF: a partial-file DELETE must record the deleted
                # ROWS as change files (file-granularity derivation would
                # wrongly re-feed the survivors)
                deleted = (
                    _is_matched(self._rows_in_files(target, touched_uris, touched_df))
                    .drop("_file")
                    .withColumn("_change_type", F.lit("delete"))
                )
                cdc_actions = self._write_cdc(snap, deleted, parts)
            enforced = self._enforce_check_constraints(snap, survivors)
            moved, parts_phys = self._stage_physical(snap, survivors, parts)
            _scols = snap.stats_columns()
            adds = [
                deltalog.add_action_for(path, rel, parts_phys, stats_cols=_scols)
                for rel in moved
            ]
            version = self._commit_moved(
                snap,
                moved,
                adds,
                removes,
                partition_cols=parts,
                operation="DELETE",
                enforced_constraints=enforced,
                cdc_adds=cdc_actions,
                cdf_handled=True,
                dv_write=snap.deletion_vectors,
            )
        finally:
            touched_df.unpersist()  # no-op unless the broad path pinned it
        return version

    def update(
        self, alias: str, condition: Column, assignments: dict[str, Column]
    ) -> int:
        """Predicate UPDATE (Delta UPDATE analog) with minimal file rewrite:
        only files containing matching rows are rewritten — matching rows get
        the ``assignments`` applied, the files' other rows are carried over
        unchanged, and every untouched file survives as-is. Returns the
        committed version (no-op returns the current one).

        ``assignments`` maps column name -> new-value Column (may reference
        existing columns, e.g. ``{"price": F.col("price") * 1.1}``).
        Assigning a partition column is rejected: rewritten rows would move
        directories and the minimal-rewrite commit does not re-bin them —
        use MERGE (full row replacement) for partition-moving updates."""
        if self.config.read_only:
            raise ReadOnlyError(alias)
        path = self.resolve(alias)
        ix = self._file_index(path)
        snap = ix.snapshot
        # updated rows are logical updates: their ids must survive, which
        # needs materialized row-id columns even on the DV shape
        self._require_row_id_stability(snap, "UPDATE")
        parts = snap.partition_columns
        bad = sorted(set(assignments) & set(parts))
        if bad:
            raise ValueError(f"cannot UPDATE partition column(s) {bad}; use merge()")
        idents = snap.identity
        bad_id = sorted(
            c for c in set(assignments) & set(idents)
            if not idents[c]["allowExplicitInsert"]
        )
        if bad_id:
            raise ValueError(
                f"cannot UPDATE GENERATED ALWAYS AS IDENTITY column(s) "
                f"{bad_id} — identity values are engine-generated"
            )
        target = self._apply_collations(
            snap, self._read_data(path, keep_file_col=True, ix=ix)
        )
        unknown = sorted(set(assignments) - set(target.columns))
        if unknown:
            raise ValueError(f"UPDATE of non-existent column(s) {unknown}")
        if self._dv_dml_eligible(path, ix):
            # UPDATE as Delta's DV shape: mark old positions, append the
            # updated rows — no touched-file rewrite. (CDF tables included
            # since round 10: the DV path writes pre/post change files.)
            v = self._update_with_dvs(ix, condition, assignments, parts)
            if v is not None:
                return v
        touched_uris, touched_df, removes = self._dml_touched(
            ix, target.filter(condition)
        )
        if touched_uris is not None and not touched_uris:
            return ix.version  # nothing matches: no-op
        if not callable(removes):
            removes = self._dv_removes(ix, removes)
        elif snap.deletion_vectors:
            raise UnsupportedProtocolError(
                path,
                "broad-predicate UPDATE on a deletion-vector table cannot "
                "stream identity-correct removes — narrow the predicate or "
                "compact first",
            )
        try:
            rewritten = self._rows_in_files(target, touched_uris, touched_df).withColumns(
                {
                    c: F.when(condition, expr.cast(dict(target.dtypes)[c])).otherwise(
                        F.col(c)
                    )
                    for c, expr in assignments.items()
                }
            ).drop("_file")
            cdc_actions = None
            if snap.flag("delta.enableChangeDataFeed"):
                # Delta CDF: preimage + postimage rows of every matched row
                matched = (
                    self._rows_in_files(target, touched_uris, touched_df)
                    .filter(condition)
                    .drop("_file")
                )
                pre = matched.withColumn("_change_type", F.lit("update_preimage"))
                post = matched.withColumns(
                    {
                        c: expr.cast(dict(target.dtypes)[c])
                        for c, expr in assignments.items()
                    }
                ).withColumn("_change_type", F.lit("update_postimage"))
                cdc_actions = self._write_cdc(snap, pre.unionByName(post), parts)
            enforced = self._enforce_check_constraints(snap, rewritten)
            moved, parts_phys = self._stage_physical(snap, rewritten, parts)
            _scols = snap.stats_columns()
            adds = [
                deltalog.add_action_for(path, rel, parts_phys, stats_cols=_scols)
                for rel in moved
            ]
            version = self._commit_moved(
                snap,
                moved,
                adds,
                removes,
                partition_cols=parts,
                operation="UPDATE",
                enforced_constraints=enforced,
                cdc_adds=cdc_actions,
                cdf_handled=True,
                dv_write=snap.deletion_vectors,
            )
        finally:
            touched_df.unpersist()  # no-op unless the broad path pinned it
        return version

    def write_table_stream(
        self,
        alias: str,
        stream: DataFrame,
        checkpoint_dir: str,
        trigger_available_now: bool = False,
        query_name: str | None = None,
    ):
        """Governed streaming SINK: append each micro-batch to the governed
        table through the same commit path as :meth:`write_table` (read-only
        enforcement, schema evolution, OCC, auto-checkpointing). Built on
        ``foreachBatch`` — the standard Spark pattern for sinks with custom
        transactional commit. Returns the ``StreamingQuery``; exactly-once
        at the micro-batch level comes from the streaming checkpoint plus
        the log's OCC (a replayed batch that already committed conflicts and
        is dropped by the caller's idempotence or surfaces loudly)."""
        if self.config.read_only:
            raise ReadOnlyError(alias)

        path = self.resolve(alias)
        app_id = f"write_table_stream:{os.path.abspath(checkpoint_dir)}"

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            if batch_df.isEmpty():
                return
            # Delta txn idempotence: a replayed micro-batch (sink committed
            # but the streaming checkpoint didn't advance before a crash) is
            # recognized by its recorded batch watermark and skipped.
            if batch_id <= deltalog.last_txn_version(path, app_id):
                return
            self.write_table(
                alias,
                batch_df,
                mode="append",
                txn={"appId": app_id, "version": batch_id},
            )

        writer = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint_dir)
        )
        if query_name:
            writer = writer.queryName(query_name)
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    NUMERIC_TYPES = ("tinyint", "smallint", "int", "bigint", "float", "double", "decimal")

    def _clustering_columns(self, path: str) -> list[str]:
        """Clustering columns from the table's ``delta.clustering`` domain
        (liquid clustering, clusteredTable feature) — ``[]`` when absent or
        malformed. Nested column paths join with '.'; only top-level
        columns are usable by this engine's recluster (dotted paths are
        dropped by the caller's ``in df.columns`` filter)."""
        dm = deltalog.live_domain_metadata(path).get("delta.clustering")
        if not dm:
            return []
        try:
            cols = json.loads(dm.get("configuration") or "{}").get(
                "clusteringColumns"
            )
            return [".".join(p) for p in cols or []]
        except (ValueError, TypeError, AttributeError):
            return []

    def compact_table(
        self,
        alias: str,
        files_per_partition: int = 1,
        target_file_bytes: int | None = None,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        zorder_method: str = "linear",
    ) -> int:
        """Small-file compaction (G9): rewrite each partition into
        ``files_per_partition`` files and commit removes+adds. The Spark-only
        fallback for delta-spark's OPTIMIZE.

        ``target_file_bytes`` switches to per-partition BIN-PACKING: each
        partition's live byte total (from the snapshot's add actions — a
        metadata-sized read) picks its own file count, so a 100 GB partition
        and a 100 MB partition both land near the target size instead of
        sharing one global file count. Rows spread across a partition's bins
        by row hash; each (partition, bin) pair becomes ~one output file.

        ``sort_by`` / ``zorder_by`` recluster during the rewrite (OPTIMIZE
        ZORDER BY): rows are range-partitioned/Z-ordered instead of
        hash-binned, so footer-stats skipping works on the clustered
        columns afterwards. When NEITHER is passed and the table carries a
        ``delta.clustering`` domain (liquid clustering — preserved through
        clone/checkpoint by this engine), its clustering columns are used
        AUTOMATICALLY: a clustered table compacts clustered, per the
        clusteredTable feature's best-effort obligation. Z-order needs
        numeric columns; a non-numeric or single-column clustering key
        falls back to hierarchical range-sort on the same columns."""
        if self.config.read_only:
            raise ReadOnlyError(alias)
        path = self.resolve(alias)
        # OPTIMIZE does not logically change rows, so row ids MUST be
        # preserved — impossible through bin-packing without materialized
        # row-id columns
        ix = self._file_index(path)
        self._require_row_id_stability(ix.snapshot, "compaction (OPTIMIZE)")
        parts = ix.snapshot.partition_columns
        df = self._read_data(path, ix=ix)
        if sort_by is None and zorder_by is None:
            cluster_cols = self._clustering_columns(path)
            cluster_cols = [c for c in cluster_cols if c in df.columns]
            if cluster_cols:
                types = dict(df.dtypes)
                if len(cluster_cols) > 1 and all(
                    types[c].startswith(self.NUMERIC_TYPES) for c in cluster_cols
                ):
                    zorder_by = cluster_cols
                else:
                    sort_by = cluster_cols
        if sort_by or zorder_by:
            # recluster: the clustered write path IS the compaction (range
            # split sizes files; no hash-binning on top of it)
            read_only, self.config.read_only = self.config.read_only, False
            try:
                return self.write_table(
                    alias,
                    df,
                    mode="overwrite",
                    partition_by=list(parts),
                    sort_by=sort_by,
                    zorder_by=zorder_by,
                    zorder_method=zorder_method,
                    sort_files=files_per_partition if parts == [] else None,
                    data_change=False,
                )
            finally:
                self.config.read_only = read_only
        if target_file_bytes is not None:
            import math

            # per-PARTITION byte totals, aggregated executor-side: the
            # collect is one row per partition (not per file), so the driver
            # footprint stays bounded even for 10^6-file tables
            sizes = (
                deltalog.snapshot_files(self.spark, path)
                .groupBy("partitionValues")
                .agg(F.sum("size").alias("bytes"))
                .collect()
            )
            nmap = {
                tuple(sorted((r["partitionValues"] or {}).items())): max(
                    1, math.ceil(int(r["bytes"] or 0) / target_file_bytes)
                )
                for r in sizes
            }
            if parts:
                df = self._binpack(df, parts, nmap)
            else:
                total_n = max(nmap.values(), default=1)
                df = df.repartition(total_n)
        elif parts:
            df = df.repartition(files_per_partition, *[F.col(c) for c in parts])
        else:
            df = df.repartition(files_per_partition)
        read_only, self.config.read_only = self.config.read_only, False
        try:
            # same rows, new files: dataChange=false, so CDF readers and
            # incremental streams skip the compaction (Delta OPTIMIZE
            # semantics — without this every compaction would re-feed the
            # whole table to downstream consumers)
            return self.write_table(
                alias, df, mode="overwrite", partition_by=list(parts),
                data_change=False,
            )
        finally:
            self.config.read_only = read_only

    def _binpack(
        self, df: DataFrame, parts: list[str], nmap: dict[tuple, int]
    ) -> DataFrame:
        """Spread each partition's rows across its own bin count via a
        BROADCAST JOIN against the tiny (partition-values -> n_files) map.

        The plan stays O(1) in partition count — a literal CASE-chain here
        (one WHEN per partition) would grow the codegen expression to
        megabytes at 10^4-10^5 partitions and stall the driver."""
        pv_cols = [f"__pv_{c}" for c in parts]
        rows = [
            tuple(dict(key).get(c) for c in parts) + (int(n),)
            for key, n in nmap.items()
        ]
        schema = ", ".join([f"`{pc}` string" for pc in pv_cols] + ["`__nf` long"])
        nmap_df = local_df(self.spark, rows, schema)
        cond = None
        for c, pc in zip(parts, pv_cols):
            # null-safe: Delta logs a null partition value as null
            term = F.col(c).cast("string").eqNullSafe(F.col(pc))
            cond = term if cond is None else (cond & term)
        data_cols = list(df.columns)
        joined = df.join(F.broadcast(nmap_df), cond, "left")
        bucket = F.pmod(
            F.xxhash64(*[F.col(c) for c in data_cols]),
            F.coalesce(F.col("__nf"), F.lit(1)).cast("long"),
        )
        return (
            joined.withColumn("_bin", bucket)
            .repartition(
                max(sum(nmap.values()), 1),
                *[F.col(c) for c in parts],
                F.col("_bin"),
            )
            .drop("_bin", "__nf", *pv_cols)
        )

    def vacuum(self, alias: str, retention_hours: float | None = None) -> int:
        """G9 maintenance: delete data files no longer referenced by the
        latest snapshot (tombstoned by removes or orphaned by failed writes).
        Returns the number of files deleted. The snapshot stays readable —
        only unreferenced files go.

        ``retention_hours`` (default 7 days, like Delta's VACUUM) keeps
        recently-modified unreferenced files: a concurrent reader whose plan
        was built against the previous snapshot (or the snapshot-cache TTL)
        would otherwise hit FileNotFound mid-scan. Pass ``0`` to reclaim
        everything immediately (test/offline use). Ends time travel to the
        vacuumed versions either way (documented)."""
        if self.config.read_only:
            raise ReadOnlyError(alias)
        path = self.resolve(alias)
        snap = self._snapshot(path)
        if retention_hours is None:
            # Delta semantics: the table's own deletedFileRetentionDuration
            # property governs when unset by the caller; 7 days otherwise
            prop = deltalog.parse_interval_hours(
                snap.configuration.get("delta.deletedFileRetentionDuration")
            )
            retention_hours = prop if prop is not None else 168.0
        cutoff = time.time() - retention_hours * 3600.0
        # FULLY DISTRIBUTED at file scale — the driver never holds a file
        # list: (1) the directory walk fans out one task per top-level entry
        # (partition directories), emitting (rel_path, mtime); (2) the
        # unreferenced set is a LEFT ANTI join against the distributed
        # snapshot replay; (3) deletion runs in foreachPartition with an
        # accumulator carrying back only the count. At 10^7 files the driver
        # does O(top-level dirs) work.
        sc = self.spark.sparkContext
        # Delta VACUUM's hidden-path rule: names starting with '_' or '.'
        # are protected (e.g. the IVF centroid sidecar a governed index
        # stores beside its inverted lists) UNLESS they are partition
        # directories (`<col>=...` — physical names on mapped tables) or
        # CDC directories (`_change_data`, reclaimable past retention like
        # any unreferenced file, upstream semantics).
        meta_v = snap.metadata or {}
        l2p_v = snap.column_mapping or {}
        part_prefixes = tuple(
            f"{l2p_v.get(c, c)}=" for c in (meta_v.get("partitionColumns") or [])
        )

        def _hidden(name: str) -> bool:
            return (
                (name.startswith("_") or name.startswith("."))
                and not any(name.startswith(p) for p in part_prefixes)
                and not name.startswith("_change_data")
                and not name.startswith("_cdc")
            )

        tops = sorted(
            e
            for e in os.listdir(path)
            if e != deltalog.LOG_DIR and not _hidden(e)
        )
        if not tops:
            return 0
        table_root = path

        def _is_reclaimable(name: str) -> bool:
            # data files, and deletion-vector bins no live descriptor
            # references (superseded DVs accumulate otherwise)
            return name.endswith(".parquet") or (
                name.startswith("deletion_vector_") and name.endswith(".bin")
            )

        def walk_entries(entries):
            import os as _os

            for e in entries:
                full = _os.path.join(table_root, e)
                if _os.path.isfile(full):
                    if _is_reclaimable(e):
                        yield (e, _os.stat(full).st_mtime)
                    continue
                for r, _dirs, files in _os.walk(full):
                    _dirs[:] = [d for d in _dirs if not _hidden(d)]
                    for name in files:
                        if not _is_reclaimable(name):
                            continue
                        fl = _os.path.join(r, name)
                        yield (
                            _os.path.relpath(fl, table_root).replace(_os.sep, "/"),
                            _os.stat(fl).st_mtime,
                        )

        listing = self.spark.createDataFrame(
            sc.parallelize(tops, min(len(tops), 64)).mapPartitions(walk_entries),
            "path string, mtime double",
        )
        snapshot = deltalog.snapshot_files(self.spark, path)
        live = snapshot.select("path")
        if snap.deletion_vectors:
            # referenced DV bins are LIVE: resolve each live descriptor to
            # its table-relative file name (executor-side, metadata-sized)
            dv_flat = snapshot.filter(
                F.col("deletionVector").isNotNull()
                & F.col("deletionVector.storageType").isin("u", "p")
            ).select(
                F.col("deletionVector.storageType").alias("st"),
                F.col("deletionVector.pathOrInlineDv").alias("pod"),
            )

            def to_rel(iter_pdf):
                import os as _os

                import pandas as pd

                from delta_lake_proxy_spark.dv import dv_file_path

                for pdf in iter_pdf:
                    rels = []
                    for st, pod in pdf.itertuples(index=False):
                        full = dv_file_path(
                            table_root, {"storageType": st, "pathOrInlineDv": pod}
                        )
                        rels.append(
                            _os.path.relpath(full, table_root).replace(_os.sep, "/")
                        )
                    yield pd.DataFrame({"path": rels})

            live = live.unionByName(dv_flat.mapInPandas(to_rel, "path string"))
        dead = listing.join(live, "path", "left_anti").filter(
            F.col("mtime") <= F.lit(cutoff)
        )
        acc = sc.accumulator(0)

        def delete_partition(rows):
            import os as _os

            n = 0
            for row in rows:
                try:
                    _os.remove(_os.path.join(table_root, row["path"]))
                    n += 1
                except FileNotFoundError:
                    pass  # another vacuum raced us; the file is gone either way
            acc.add(n)

        dead.foreachPartition(delete_partition)
        deleted = int(acc.value)
        # empty-directory sweep: O(#directories), driver-side
        for root, dirs, files in os.walk(path, topdown=False):
            dirs[:] = [d for d in dirs if d != deltalog.LOG_DIR]
            if root != path and not os.listdir(root):
                os.rmdir(root)
        # stale cached file lists must not survive a reclamation
        return deleted

    def write_version_checksum(self, alias: str) -> dict:
        """G9 maintenance: backfill/refresh the tip version checksum
        (``<version>.crc``) from a full snapshot replay — heals a chain gap
        (foreign table without checksums, a capped streamed commit) so the
        per-commit incremental maintenance resumes and the O(1) resolver
        fast path re-engages. Engine commits maintain the chain
        automatically; this is the explicit repair point."""
        if self.config.read_only:
            raise ReadOnlyError(alias)
        return deltalog.write_version_checksum(self.resolve(alias))

    def validate_checksum(self, alias: str) -> dict:
        """Verify the tip version checksum against a full replay (the deep
        check conforming clients run): numFiles, tableSizeBytes, protocol,
        metaData, setTransactions, domainMetadata. Returns ``{"version",
        "ok", "mismatches"}``."""
        return deltalog.validate_version_checksum(self.resolve(alias))

    def cleanup_log(self, alias: str, retention_hours: float | None = None) -> int:
        """G9 maintenance: Delta log-retention cleanup — drop JSON commits
        already captured by the last checkpoint (and superseded checkpoint
        files) past ``retention_hours``. The snapshot replay is unaffected
        (checkpoint + JSON tail); time travel below the checkpoint ends.
        Returns the number of log files deleted."""
        if self.config.read_only:
            raise ReadOnlyError(alias)
        path = self.resolve(alias)
        if retention_hours is None:
            # table property first (delta.logRetentionDuration), else the
            # Delta default order of magnitude (7 days here; Delta's is 30)
            prop = deltalog.parse_interval_hours(
                self._snapshot(path).configuration.get("delta.logRetentionDuration")
            )
            retention_hours = prop if prop is not None else 168.0
        return deltalog.cleanup_log(path, retention_hours=retention_hours)

    def compact_log(
        self, alias: str, start: int | None = None, end: int | None = None
    ) -> str | None:
        """G9 maintenance: write a Delta log-compaction file
        ``<start>.<end>.compacted.json`` (protocol spec "Log Compaction
        Files") reconciling the commit range so replays read one file
        instead of end-start+1 — the spec's remedy for long JSON tails
        between checkpoints. Defaults: the whole retained tail after the
        last checkpoint. Individual commits are untouched (CDF, history,
        and time travel keep per-version granularity until ``cleanup_log``
        retires them). Returns the file name, or None when the defaulted
        range holds fewer than two commits. The reference reads these
        through the ``deltalake`` kernel (ref ``src/main.rs:357``)."""
        if self.config.read_only:
            raise ReadOnlyError(alias)
        path = self.resolve(alias)
        if end is None:
            end = deltalog.latest_version(path)
        if start is None:
            ck = deltalog.last_checkpoint(path)
            start = int(ck["version"]) + 1 if ck is not None else 0
        if start >= end:
            return None
        name = deltalog.write_log_compaction(path, start, end)
        return name

    def _with_zorder(
        self, df: DataFrame, cols: list[str], bits: int = 16, method: str = "linear"
    ) -> DataFrame:
        """Append a ``_zorder`` column: each column is binned, and the bin
        indices are bit-interleaved into the Morton/Z-value.

        ``method="linear"``: bins are equal-width between the column's min and
        max (one tiny agg job, everything stays in codegen). Skewed columns
        collapse into few bins — a heavy-hitter value drags most rows into one
        Z-range and skipping degrades.

        ``method="rank"``: bins are approximate QUANTILES (one distributed
        ``approxQuantile`` pass, 256 bins/column), so every bin holds ~equal
        row counts regardless of skew — the Delta OPTIMIZE ZORDER approach —
        at the cost of the quantile sketch pass. The bin lookup compiles to a
        when-chain, still codegen."""
        if method == "rank":
            bits = 8
            probs = [i / (1 << bits) for i in range(1, 1 << bits)]
            quantiles = df.stat.approxQuantile(list(cols), probs, 0.001)
            bins = []
            for c, qs in zip(cols, quantiles):
                edges = sorted(set(qs))[: (1 << bits) - 1]
                b = F.lit(0).cast("long")
                for e in edges:
                    b = b + F.when(
                        F.col(c).cast("double") >= F.lit(float(e)),
                        F.lit(1).cast("long"),
                    ).otherwise(F.lit(0).cast("long"))
                bins.append(b)
        elif method == "linear":
            stats = df.agg(
                *[F.min(c).alias(f"_lo_{c}") for c in cols],
                *[F.max(c).alias(f"_hi_{c}") for c in cols],
            ).collect()[0]
            levels = (1 << bits) - 1
            bins = []
            for c in cols:
                lo = float(stats[f"_lo_{c}"])
                hi = float(stats[f"_hi_{c}"])
                span = (hi - lo) or 1.0
                b = F.least(
                    F.lit(levels),
                    F.floor((F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * levels).cast(
                        "long"
                    ),
                )
                bins.append(F.greatest(F.lit(0).cast("long"), b))
        else:
            raise ValueError(f"unknown zorder method: {method!r}")
        n = len(cols)
        z = F.lit(0).cast("long")
        for bit in range(bits):
            for i, b in enumerate(bins):
                z = z + F.shiftleft(
                    F.shiftrightunsigned(b, bit).bitwiseAND(F.lit(1).cast("long")),
                    bit * n + i,
                )
        return df.withColumn("_zorder", z)

    @staticmethod
    def _type_conflict(logged, incoming) -> bool:
        """Append-compatibility check between a logged column type and an
        incoming frame's (ADVICE r11 #4 — simpleString dropped nested
        nullability, letting nulls land in columns the schema promises
        non-null). Field METADATA is never compared (a mapped table's
        logged schema carries delta.columnMapping.* an incoming frame
        lacks — not a conflict; the logged schema stays authoritative),
        string collations are never a conflict (byte layout identical,
        table authoritative), and nullability is ASYMMETRIC: a nullable
        incoming field into a non-nullable logged field conflicts, the
        reverse (stricter data into a laxer column) is always safe."""
        from pyspark.sql import types as T

        if isinstance(logged, T.StringType) and isinstance(incoming, T.StringType):
            return False
        if isinstance(logged, T.StructType) and isinstance(incoming, T.StructType):
            if [x.name for x in logged.fields] != [x.name for x in incoming.fields]:
                return True
            return any(
                (nf.nullable and not lf.nullable)
                or Engine._type_conflict(lf.dataType, nf.dataType)
                for lf, nf in zip(logged.fields, incoming.fields)
            )
        if isinstance(logged, T.ArrayType) and isinstance(incoming, T.ArrayType):
            if incoming.containsNull and not logged.containsNull:
                return True
            return Engine._type_conflict(logged.elementType, incoming.elementType)
        if isinstance(logged, T.MapType) and isinstance(incoming, T.MapType):
            if incoming.valueContainsNull and not logged.valueContainsNull:
                return True
            return Engine._type_conflict(
                logged.keyType, incoming.keyType
            ) or Engine._type_conflict(logged.valueType, incoming.valueType)
        # atomic / mismatched kinds: metadata-free structural compare
        return logged.simpleString() != incoming.simpleString()

    @staticmethod
    def _evolve_schema(existing_json: str | None, df: DataFrame) -> str:
        """Append-time schema evolution (Delta mergeSchema semantics): the
        table schema becomes existing ∪ new columns; a column present in both
        with an incompatible type (:meth:`_type_conflict`) raises."""
        from pyspark.sql import types as T

        if not existing_json or existing_json == "{}":
            return df.schema.json()
        existing = T.StructType.fromJson(json.loads(existing_json))
        by_name = {f.name: f for f in existing.fields}
        merged = list(existing.fields)
        for f in df.schema.fields:
            prev = by_name.get(f.name)
            if prev is None:
                merged.append(f)
            elif Engine._type_conflict(prev.dataType, f.dataType):
                # top-level nullability is deliberately NOT compared: the
                # write path enforces non-null by VALUE (invariant
                # semantics), so a nullable frame carrying no nulls appends
                # fine — but nested non-null declarations have no value
                # enforcement here, so they conflict (see _type_conflict)
                raise ValueError(
                    f"schema conflict on column '{f.name}': "
                    f"{prev.dataType.simpleString()} vs {f.dataType.simpleString()}"
                    " (nested types and nested nullability must match)"
                )
        return T.StructType(merged).json()

    def _commit(self, path: str, adds_fn, removes_fn=None, **kwargs: Any) -> int:
        """Every engine commit: one :func:`deltalog.write_commit_streamed`,
        after which the table's snapshot-cache entry is dropped — the one
        place the engine invalidates it (GET trusts the cached entry, every
        other operation tip-checks it)."""
        try:
            return deltalog.write_commit_streamed(path, adds_fn, removes_fn, **kwargs)
        finally:
            self._snapshot_cache.discard(path)

    def _commit_moved(
        self,
        snap: deltalog.Snapshot,
        moved: list[str],
        adds: list,
        removes: Any,
        **kwargs: Any,
    ) -> int:
        """:meth:`_commit` against the operation's snapshot ``snap`` (the
        attempt begins at ``snap.version + 1``, so a commit that landed after
        the operation read its files meets the conflict check) with failure
        cleanup: if the commit loses
        (e.g. :class:`ConcurrentWriteError`), the already-moved data files are
        removed from the table root so the directory only ever holds committed
        files — otherwise a failed write would permanently expose uncommitted
        rows to :meth:`read_table_stream`'s directory source.

        ``removes`` may be a list of remove actions OR a re-callable factory
        of them (broad-predicate DML streams relative paths through
        ``write_commit_streamed`` instead of holding them on the driver).
        ``cdc_adds`` (change-data actions, Delta CDF) are committed with the
        same atomicity and their files cleaned up on failure too."""
        cdc_adds = kwargs.pop("cdc_adds", None)
        # every Engine-authored commit maintains the rowTracking obligations
        # (fresh baseRowIds from stats, high-water-mark domain) — raw
        # deltalog.write_commit callers still refuse on such tables
        kwargs.setdefault("row_tracking_assign", True)
        # ... and the identity/default obligations: insert-producing paths
        # generate omitted identity values and apply CURRENT_DEFAULTs
        # (write_table), explicit identity values are policed at the DML
        # entry points, and the high water mark advances HERE from the
        # written files' footer stats — every Engine commit, one code path.
        kwargs.setdefault("identity_handled", True)
        kwargs.setdefault("defaults_handled", True)
        # staged files are freshly uuid-named (never live at the previous
        # version), so the version checksum stays pure arithmetic on the hot
        # append path; DV re-adds of live paths are covered regardless — the
        # sizeless tombstones they ride with force the exact simulation
        kwargs.setdefault("crc_fresh_adds", True)
        # ... and every Engine remove tombstones a live file by construction
        # (DML/compact/restore/overwrite all derive removes from the live
        # snapshot), so the checksum's remove arithmetic is safe too
        kwargs.setdefault("crc_live_removes", True)
        # every file-producing Engine path stages through _stage_physical,
        # which performs the mapped physical translation and the
        # icebergCompat file obligations — so Engine commits prove both
        # (raw deltalog.write_commit callers still refuse on such tables);
        # the logged schema likewise stays authoritative for collations
        kwargs.setdefault("mapped_write", bool(snap.column_mapping))
        kwargs.setdefault("iceberg_handled", True)
        kwargs.setdefault("collations_handled", True)
        if snap.identity:
            sj, hwm_changed = deltalog.advance_identity_hwm(
                snap, kwargs.get("schema_json"), adds, l2p=snap.column_mapping
            )
            if hwm_changed:
                kwargs["schema_json"] = sj
        path = snap.path
        cleanup = list(moved) + [c["path"] for c in (cdc_adds or [])]
        try:
            return self._commit(
                path,
                lambda: iter(adds),
                removes if callable(removes) else (lambda: iter(removes)) if removes else None,
                cdc_adds_fn=(lambda: iter(cdc_adds)) if cdc_adds else None,
                snapshot=snap,
                **kwargs,
            )
        except BaseException:
            for rel in cleanup:
                try:
                    os.remove(os.path.join(path, rel))
                except OSError:
                    pass
            raise

    @staticmethod
    def _move_staged(staging: str, path: str) -> list[str]:
        os.makedirs(path, exist_ok=True)
        moved: list[str] = []
        for root, dirs, files in os.walk(staging):
            for name in files:
                if not name.endswith(".parquet"):
                    continue
                full = os.path.join(root, name)
                rel = os.path.relpath(full, staging).replace(os.sep, "/")
                dest = os.path.join(path, rel)
                os.makedirs(os.path.dirname(dest), exist_ok=True)
                shutil.move(full, dest)
                moved.append(rel)
        return sorted(moved)


def write_governed_table(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    partition_by: list[str],
) -> str:
    """Create a delta-logged partitioned table at ``path`` (test/fixture helper)."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    deltalog.commit_dir_state(
        path, list(partition_by), schema_json=df.schema.json(), operation="CREATE"
    )
    return path
