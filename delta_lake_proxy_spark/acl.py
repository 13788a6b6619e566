"""Partition-ACL compilation and identity extraction.

The reference computes an *allowed file set* by evaluating a DNF of
partition-equality predicates against the Delta snapshot, per filter map, and
unioning the per-map file sets (reference ``src/main.rs:389-415``). This module
compiles the same DNF into a single Catalyst ``Column`` predicate so Spark's
built-in partition pruning selects the same file set declaratively — and
enforcement becomes row-level (strictly stronger than file-level).

Exact semantics preserved (SURVEY.md §1.3):
- a filter map = AND of ``col = value`` string equalities (``src/main.rs:391-396``);
- the list of maps = OR (union of file sets, ``src/main.rs:389-415``);
- an EMPTY filter map is skipped, it does not mean allow-all (``src/main.rs:399-401``),
  so a DNF that contains ONLY empty maps yields an empty allowed file set —
  i.e. **deny-all**, never allow-all (the reference enforces whenever the
  combined filter list is non-empty, ``src/main.rs:576-594``);
- an empty/absent DNF means NO restriction at all (``src/main.rs:576``);
- partition values are strings; comparison is string-typed, so non-string
  partition columns are cast to string before comparing (``src/config.rs:17``).
"""

from __future__ import annotations

import json
import os
import re
import time
from collections import OrderedDict
from typing import Any, Callable, Hashable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .errors import ForbiddenByPolicyError

PartitionDNF = list[dict[str, str]]

# SigV4: Authorization: AWS4-HMAC-SHA256 Credential=<access-key>/<date>/... —
# the reference takes the access-key segment as the user id (src/main.rs:1129-1135).
_CREDENTIAL_RE = re.compile(r"Credential=([^/,\s]+)/")
ANONYMOUS = "anonymous"  # cache identity for unauthenticated requests (src/main.rs:377)


def extract_user(authorization: str | None) -> str:
    """Access-key id from a SigV4 Authorization header, else ``anonymous``."""
    if not authorization:
        return ANONYMOUS
    m = _CREDENTIAL_RE.search(authorization)
    return m.group(1) if m else ANONYMOUS


def normalize_dnf(dnf: PartitionDNF | None) -> PartitionDNF:
    """Drop empty filter maps (ref ``src/main.rs:399-401``); stringify values."""
    if not dnf:
        return []
    return [{str(k): str(v) for k, v in m.items()} for m in dnf if m]


def compile_dnf(dnf: PartitionDNF | None) -> Column | None:
    """DNF -> Catalyst predicate; ``None`` means unrestricted (allow all).

    Each map compiles to ``AND(col(k).cast(string) == v)``; maps OR together.
    Casting the column (not the literal) keeps the comparison faithful to the
    reference's string-typed partition values while still letting Catalyst
    prune string-typed Hive partition columns.

    Fail-closed: a NON-empty DNF whose maps are all empty (e.g. an admin
    blanking a grant to ``[{}]``) normalizes to zero branches. The reference
    still enforces in that state and the per-map loop contributes no files, so
    the allowed set is EMPTY (``src/main.rs:389-415, 576-594``) — we return a
    false literal (deny-all), never ``None`` (which would be allow-all).
    Only an absent/empty DNF means unrestricted.
    """
    if not dnf:
        return None
    branches = []
    for m in normalize_dnf(dnf):
        conj: Column | None = None
        for k, v in m.items():
            term = F.col(k).cast("string") == F.lit(v)
            conj = term if conj is None else (conj & term)
        if conj is not None:
            branches.append(conj)
    if not branches:
        return F.lit(False)  # configured but no non-empty maps => deny-all
    pred = branches[0]
    for b in branches[1:]:
        pred = pred | b
    return pred


def dnf_allows(dnf: PartitionDNF | None, partition_values: dict[str, str]) -> bool:
    """Pure-Python DNF evaluation against one file's partitionValues map —
    the reference's per-file membership test (``src/main.rs:389-415``), with
    the same fail-closed rule as :func:`compile_dnf`: absent/empty DNF allows,
    a configured DNF admits a file only via a non-empty matching map."""
    if not dnf:
        return True
    pv = {str(k): str(v) for k, v in (partition_values or {}).items()}
    return any(
        m and all(pv.get(k) == v for k, v in m.items()) for m in normalize_dnf(dnf)
    )


def dnf_to_sql(dnf: PartitionDNF | None) -> str | None:
    """The DNF as a SQL predicate string — same semantics as
    :func:`compile_dnf` (``None`` = unrestricted, ``'false'`` = configured
    but empty = deny-all). Used for plan-level injection, where the predicate
    crosses into the JVM as text (``spark.graft.acl.rules``)."""
    if not dnf:
        return None
    branches = []
    for m in normalize_dnf(dnf):
        if not m:
            continue
        # escape backslash BEFORE the quote: Spark string literals treat
        # backslash as an escape character (default parser mode), so an
        # unescaped '\' in a value would shift what the predicate matches
        terms = [
            "CAST(`{}` AS STRING) = '{}'".format(
                k.replace("`", "``"),
                v.replace("\\", "\\\\").replace("'", "\\'"),
            )
            for k, v in m.items()
        ]
        branches.append("(" + " AND ".join(terms) + ")")
    if not branches:
        return "false"
    return "(" + " OR ".join(branches) + ")"


def extension_jar_path() -> str:
    """Location of the compiled Catalyst ACL extension jar
    (build: ``tools/build_acl_ext.sh``)."""
    return os.path.join(os.path.dirname(__file__), "ext", "graft-acl-ext.jar")


def extension_confs(path_to_dnf: dict[str, PartitionDNF]) -> dict[str, str]:
    """Spark confs enabling PLAN-LEVEL ACL injection (SURVEY §4 design 2).

    Set these on the session builder BEFORE the first SparkSession exists
    (``spark.jars``/``spark.sql.extensions`` are static confs). Every file
    relation rooted under a registered path — including raw
    ``spark.read.parquet(path)`` that never touches the Engine — gets the
    compiled DNF filter injected by the analyzer rule in
    ``ext/java/graft/GovernedAclRule.java``, covering the raw DataFrame-path
    bypass the library-level design concedes.

    Scope: plan-level enforcement for Catalyst file relations in sessions
    built with these confs — NOT a same-process security boundary. RDD-level
    reads bypass Catalyst entirely, and any code can build its own session
    without the extension. The rule snapshots the rules string at session
    creation, so runtime ``spark.conf.set`` mutation cannot clear it.

    The encoding is line/tab-delimited, so paths or partition values
    containing tab/newline/CR would corrupt rule framing (fragments
    misparsed as path rules) — they are rejected loudly here.
    """

    def _no_control(s: str, what: str) -> str:
        if any(c in s for c in "\t\n\r"):
            raise ValueError(
                f"{what} contains tab/newline characters unsupported by the "
                f"line-oriented ACL rule encoding: {s!r}"
            )
        return s

    rules = []
    for path, dnf in sorted(path_to_dnf.items()):
        sql = dnf_to_sql(dnf)
        if sql is not None:
            rules.append(
                f"{_no_control(os.path.abspath(path), 'table path')}\t"
                f"{_no_control(sql, 'ACL predicate')}"
            )
    return {
        "spark.jars": extension_jar_path(),
        "spark.sql.extensions": "graft.GovernedAclExtension",
        "spark.graft.acl.rules": "\n".join(rules),
    }


def union_dnf(static: PartitionDNF | None, dynamic: PartitionDNF | None) -> PartitionDNF:
    """DB-derived filters EXTEND the static config filters (ref ``src/main.rs:555-573``).

    Empty maps are PRESERVED here (stringified only): they carry the
    "ACL configured" signal that makes :func:`compile_dnf` fail closed.
    """

    def _stringify(d: PartitionDNF | None) -> PartitionDNF:
        if not d:
            return []
        return [{str(k): str(v) for k, v in m.items()} for m in d]

    return _stringify(static) + _stringify(dynamic)


PERMISSIONS_COLUMNS = ("id", "user_id", "table_name", "partition_filters")


class Permissions:
    """Driver-side snapshot of the permissions table: the raw
    ``partition_filters`` values grouped by ``(user_id, table_name)`` in
    collect order. The reference answers a cache miss with one indexed
    SQLite lookup (ref ``src/database.rs:38-43``); here a miss is a dict
    lookup against this snapshot, with no Spark job.

    Values are parsed per lookup, so a malformed row denies only its own
    ``(user, table)`` pair and never the snapshot load or other users."""

    def __init__(self, rows: dict[tuple[str, str], list[Any]]):
        self._rows = rows

    def lookup(self, user: str, table: str) -> PartitionDNF:
        """The DNF granted to ``user`` on ``table`` (JSON map decode ref
        ``src/database.rs:45-51``). A null or empty value is skipped; a
        ``{}`` row is KEPT: the row exists, so the ACL is configured, and
        compile_dnf turns an all-empty DNF into deny-all, matching the
        reference's empty-allowed-file-set outcome (src/main.rs:389-415).
        A value that is not a JSON object raises 403 (fail closed)."""
        out: PartitionDNF = []
        for raw in self._rows.get((user, table), ()):
            if not raw:
                continue
            try:
                parsed = json.loads(raw) if isinstance(raw, str) else dict(raw)
            except (TypeError, ValueError) as e:
                raise ForbiddenByPolicyError(
                    user, table, f"malformed partition_filters: {e}"
                ) from e
            if not isinstance(parsed, dict):
                raise ForbiddenByPolicyError(
                    user, table, "partition_filters is not a JSON object"
                )
            out.append({str(k): str(v) for k, v in parsed.items()})
        return out


def load_permissions(perms_df: DataFrame | None) -> Permissions:
    """One column-pruned collect of the permissions table (ref entity
    ``(id, user_id, table_name, partition_filters JSON)``,
    ``src/permission.rs:6-12``). The table is ACL metadata, small enough to
    hold on the driver, so every lookup is served from the snapshot."""
    rows: dict[tuple[str, str], list[Any]] = {}
    if perms_df is not None:
        for r in perms_df.select("user_id", "table_name", "partition_filters").collect():
            rows.setdefault((r["user_id"], r["table_name"]), []).append(
                r["partition_filters"]
            )
    return Permissions(rows)


def permissions_for(perms_df: DataFrame | None, user: str, table: str) -> PartitionDNF:
    """Resolve dynamic permission rows for ``(user, table)``: the rows of
    that one pair, filtered in Spark (one job), parsed by
    :meth:`Permissions.lookup`. The engine does not call this per request;
    it looks pairs up in one :func:`load_permissions` snapshot per TTL."""
    if perms_df is None:
        return []
    pair = perms_df.filter((F.col("user_id") == user) & (F.col("table_name") == table))
    return load_permissions(pair).lookup(user, table)


class TTLCache:
    """Tiny LRU+TTL memo, mirroring the reference's moka caches
    (100 entries x 120 s, ref ``src/main.rs:90-93``, ``src/database.rs:28-32``)."""

    def __init__(self, maxsize: int = 100, ttl_s: float = 120.0, clock: Callable[[], float] = time.monotonic):
        self.maxsize = maxsize
        self.ttl_s = ttl_s
        self._clock = clock
        self._data: OrderedDict[Hashable, tuple[float, Any]] = OrderedDict()

    def get_or_compute(
        self,
        key: Hashable,
        compute: Callable[[], Any],
        valid: Callable[[Any], bool] | None = None,
    ) -> Any:
        """Cached value for ``key``, recomputed when missing, expired, or
        rejected by ``valid`` (a caller-side freshness check)."""
        now = self._clock()
        hit = self._data.get(key)
        if (
            hit is not None
            and now - hit[0] < self.ttl_s
            and (valid is None or valid(hit[1]))
        ):
            self._data.move_to_end(key)
            return hit[1]
        value = compute()
        self._data[key] = (now, value)
        self._data.move_to_end(key)
        while len(self._data) > self.maxsize:
            self._data.popitem(last=False)
        return value

    def discard(self, key: Hashable) -> None:
        self._data.pop(key, None)

    def invalidate(self) -> None:
        self._data.clear()
