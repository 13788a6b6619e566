"""A ``format("governed")`` Python Data Source (Spark 4 DataSource API).

This is the closest Spark-native analog of the reference proxy's actual
serving model: the proxy computes an *allowed file set* from the Delta log
per ``(user, table)`` and serves exactly those objects (``src/main.rs:389-415,
576-594``). Here the same computation happens in :meth:`GovernedReader.partitions`
— the log replays driver-side (metadata-sized), the DNF admits files at FILE
granularity, and each allowed file becomes one input partition whose bytes are
read executor-side as Arrow batches.

Enforcement contrast with :meth:`Engine.read_table` (row-level predicate
injection, strictly stronger): this source reproduces the reference's
file-level behavior — a file in a forbidden partition simply never becomes a
partition, so its bytes are never opened.

Usage::

    from delta_lake_proxy_spark.sources.governed import GovernedDataSource
    spark.dataSource.register(GovernedDataSource)
    df = (spark.read.format("governed")
          .option("path", "/data/trades")
          .option("dnf", json.dumps([{"MIC": "XLON"}]))
          .load())

Scale notes: the file list is O(metadata); reads are Arrow-batched (one
``pyarrow`` scan per file, no per-row Python), and allowed files are
BIN-PACKED into tasks by cumulative logged size (``target_task_bytes``,
default 128 MiB like ``spark.sql.files.maxPartitionBytes``) — a
million-small-file table schedules thousands of tasks, not a million. The
native parquet reader (Engine path) remains the fast path; this source exists
for the reference-faithful file-level serving surface and as the package's
Python DataSource exemplar.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)

from .. import acl, deltalog


class GovernedFilePartition(InputPartition):
    def __init__(
        self,
        full_path: str,
        partition_values: dict[str, str],
        dv: dict | None = None,
        table_path: str | None = None,
    ):
        self.full_path = full_path
        self.partition_values = partition_values
        # deletionVector descriptor from the add action (reader feature
        # deletionVectors): the task resolves + decodes the bitmap itself
        # and skips the deleted row positions — the descriptor, never the
        # position list, ships in the partition.
        self.dv = dv
        self.table_path = table_path


class GovernedFilesPartition(InputPartition):
    """One task's worth of allowed files, bin-packed by cumulative size."""

    def __init__(self, files: list[GovernedFilePartition]):
        self.files = files


def _live_adds(table_path: str) -> list[dict]:
    """Replay: latest action per path wins; keep live adds (with their
    partitionValues). Delegates to the CHECKPOINT-AWARE driver-side replay in
    ``deltalog`` — this source stays equal to ``deltalog.snapshot_files``
    even after log cleanup prunes pre-checkpoint JSON commits."""
    return list(deltalog._live_adds_no_spark(table_path).values())


def _logged_schema(table_path: str) -> T.StructType | None:
    """The tip's logged schema (:class:`deltalog.Snapshot`), read-gated;
    None when the log declares no columns. For column-mapped tables the
    field names are LOGICAL (physical names live in field metadata and are
    resolved by the readers via deltalog.column_mapping)."""
    snap = deltalog.load_snapshot(table_path)
    snap.check_read()
    schema = snap.schema
    if schema is None:
        return None
    if "variant" in schema.simpleString():
        from ..errors import UnsupportedProtocolError

        raise UnsupportedProtocolError(
            table_path,
            "the governed DataSource cannot represent VARIANT columns as "
            "Arrow batches — read this table through Engine.read_table "
            "(Spark's native scan serves variant)",
        )
    return schema


def _delta_pv_str(value) -> str | None:
    """Canonicalize a pushed-filter value to Delta's partition-value STRING
    form for comparison against ``add.partitionValues``. Returns ``None`` for
    types whose serialization is not reproduced here (timestamps, decimals,
    binary, ...) — callers must then keep the file (conservative).

    Python ``str(True)`` is ``'True'`` but Delta logs ``'true'`` — comparing
    raw ``str()`` output would wrongly prune every matching file of a boolean
    partition column and silently drop rows."""
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, (str, int)):
        return str(value)
    if isinstance(value, float):
        return str(value)
    return None


def _bin_pack_files(
    allowed: list[tuple["GovernedFilePartition", int]], target_task_bytes: int
) -> list["GovernedFilesPartition"]:
    """Greedy bin-packing in path order (keeps partition-directory locality):
    a task closes when its cumulative logged size reaches the target, so a
    million-small-file table yields thousands of tasks, not a million."""
    allowed = sorted(allowed, key=lambda t: t[0].full_path)
    out: list[GovernedFilesPartition] = []
    bucket: list[GovernedFilePartition] = []
    bucket_bytes = 0
    for fp, size in allowed:
        if bucket and bucket_bytes + size > target_task_bytes:
            out.append(GovernedFilesPartition(bucket))
            bucket, bucket_bytes = [], 0
        bucket.append(fp)
        bucket_bytes += size
    if bucket:
        out.append(GovernedFilesPartition(bucket))
    return out


def _iter_file_batches(
    full_path: str, partition_values: dict[str, str], schema: T.StructType,
    l2p: dict[str, str] | None = None,
    dv_desc: dict | None = None, table_path: str | None = None,
    l2id: dict[str, int] | None = None,
):
    """Executor-side Arrow-batched read of one logged file: streamed
    row-group batches (a task never holds a whole file), partition columns
    materialized from the add action's string values cast to the Spark
    field's Arrow type. ``dv_desc`` (a deletionVector descriptor) drops the
    deleted row positions file-locally — exactly Delta's per-task DV
    application, no shuffle, no driver involvement. ``l2id`` (id-mode
    column mapping) resolves data columns by the file's parquet FIELD IDS —
    the file's column names are not authoritative in id mode."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    deleted = None
    if dv_desc and dv_desc.get("storageType"):
        from .. import dv as dv_mod

        deleted = dv_mod.load_dv_positions(table_path, dv_desc)
        if not len(deleted):
            deleted = None

    l2p = l2p or {}
    pf = pq.ParquetFile(full_path)
    file_cols = set(pf.schema_arrow.names)
    phys_of = {f.name: l2p.get(f.name, f.name) for f in schema.fields}
    if l2id:
        # id mode: map each field id the FILE declares to its column name,
        # then resolve logical fields through their delta.columnMapping.id
        fid_to_name: dict[int, str] = {}
        for fld in pf.schema_arrow:
            md = fld.metadata or {}
            raw = md.get(b"PARQUET:field_id")
            if raw is not None:
                fid_to_name[int(raw)] = fld.name
        for f in schema.fields:
            fid = l2id.get(f.name)
            if fid is not None and fid in fid_to_name:
                phys_of[f.name] = fid_to_name[fid]
    data_names = [phys_of[f.name] for f in schema.fields if phys_of[f.name] in file_cols]
    row_offset = 0
    for rb in pf.iter_batches(columns=data_names):
        n = rb.num_rows
        keep_mask = None
        if deleted is not None:
            import numpy as np

            lo = int(np.searchsorted(deleted, row_offset))
            hi = int(np.searchsorted(deleted, row_offset + n))
            if hi > lo:
                keep_mask = np.ones(n, dtype=bool)
                keep_mask[(deleted[lo:hi] - row_offset).astype(np.int64)] = False
        row_offset += n
        cols, names = [], []
        for field in schema.fields:
            names.append(field.name)
            if phys_of[field.name] in file_cols:
                col = rb.column(data_names.index(phys_of[field.name]))
                from pyspark.sql.pandas.types import to_arrow_type

                want = to_arrow_type(field.dataType)
                if col.type != want and (
                    pa.types.is_integer(col.type)
                    or pa.types.is_floating(col.type)
                    or pa.types.is_decimal(col.type)
                ):
                    # type widening (Delta reader feature): files written
                    # before a widen carry the NARROW type; the logged
                    # schema is authoritative, so promote per batch
                    import pyarrow.compute as pc

                    col = pc.cast(col, want)
                cols.append(col)
            else:
                # partition column: constant from the add action's
                # partitionValues (string-typed in the log), cast to the
                # Arrow type DERIVED from the Spark field — covers
                # timestamp/decimal/long-form types a literal map would miss
                from pyspark.sql.pandas.types import to_arrow_type

                raw = partition_values.get(phys_of[field.name])
                arr = pa.array([raw] * n, type=pa.string())
                pa_type = to_arrow_type(field.dataType)
                if pa_type != pa.string():
                    import pyarrow.compute as pc

                    arr = pc.cast(arr, pa_type)
                cols.append(arr)
        batch = pa.RecordBatch.from_arrays(
            [c.combine_chunks() if isinstance(c, pa.ChunkedArray) else c for c in cols],
            names=names,
        )
        if keep_mask is not None:
            batch = batch.filter(pa.array(keep_mask))
        yield batch


class GovernedReader(DataSourceReader):
    def __init__(self, schema: T.StructType, options):
        self._schema = schema
        self.path = options["path"]
        self.dnf: acl.PartitionDNF = json.loads(options.get("dnf", "null")) or []
        # task sizing mirrors spark.sql.files.maxPartitionBytes' default
        self.target_task_bytes = int(options.get("target_task_bytes", 128 << 20))
        self._pruning: list[Filter] = []
        # NAME-mode column mapping: DNF keys / pushed filters arrive with
        # LOGICAL names; files, partitionValues, and stats carry PHYSICAL
        snap = deltalog.load_snapshot(self.path)
        self.l2p: dict[str, str] = snap.column_mapping
        self.l2id: dict[str, int] = snap.field_ids
        if snap.mapping_has_struct:
            from ..errors import UnsupportedProtocolError

            raise UnsupportedProtocolError(
                self.path,
                "nested (struct) column mapping is handled by the Engine "
                "scan paths, not this pyarrow DataSource — use "
                "Engine.read_table",
            )
        self.dnf = deltalog.translate_dnf(self.dnf, self.l2p)

    def pushFilters(self, filters: list[Filter]):
        """Advisory file pruning (Spark 4.1 filter pushdown): simple
        comparisons are remembered and applied file-level in
        :meth:`partitions` — partition-value equality like the reference's
        prefix listing, min/max stats ranges like Delta data skipping. ALL
        filters are returned, so Spark still evaluates them row-level: the
        pruning is a pure IO optimization and can stay conservative."""
        self._pruning = [
            f
            for f in filters
            if isinstance(
                f, (EqualTo, In, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)
            )
            and len(f.attribute) == 1
        ]
        return filters

    def _file_may_match(self, pv: dict, stats: dict | None) -> bool:
        mins = (stats or {}).get("minValues", {})
        maxs = (stats or {}).get("maxValues", {})
        for f in self._pruning:
            col = self.l2p.get(f.attribute[0], f.attribute[0])
            try:
                if col in pv:
                    # partition values are strings (Delta protocol); compare
                    # via the canonical Delta serialization — values whose
                    # serialization we don't reproduce keep the file
                    if isinstance(f, EqualTo):
                        want = _delta_pv_str(f.value)
                        if want is not None and pv[col] != want:
                            return False
                    if isinstance(f, In):
                        wants = {_delta_pv_str(v) for v in f.value}
                        if None not in wants and pv[col] not in wants:
                            return False
                elif col in mins or col in maxs:
                    lo, hi = mins.get(col), maxs.get(col)
                    if isinstance(f, EqualTo):
                        if (lo is not None and lo > f.value) or (
                            hi is not None and hi < f.value
                        ):
                            return False
                    elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                        if hi is not None and hi < f.value:
                            return False
                    elif isinstance(f, (LessThan, LessThanOrEqual)):
                        if lo is not None and lo > f.value:
                            return False
            except TypeError:
                continue  # incomparable stat/value types: keep the file
        return True

    def partitions(self) -> list[GovernedFilesPartition]:
        allowed: list[tuple[GovernedFilePartition, int]] = []
        for add in _live_adds(self.path):
            pv = add.get("partitionValues") or {}
            if not acl.dnf_allows(self.dnf, pv):
                continue
            stats = json.loads(add["stats"]) if add.get("stats") else None
            if not self._file_may_match(pv, stats):
                continue
            allowed.append(
                (
                    GovernedFilePartition(
                        os.path.join(self.path, add["path"]),
                        dict(pv),
                        dv=add.get("deletionVector"),
                        table_path=self.path,
                    ),
                    int(add.get("size") or 0),
                )
            )
        return _bin_pack_files(allowed, self.target_task_bytes)

    def read(self, partition) -> Iterator:
        if partition is None:  # deny-all ACL: zero partitions, one empty task
            return
        files = partition.files if isinstance(partition, GovernedFilesPartition) else [partition]
        for fp in files:
            yield from _iter_file_batches(
                fp.full_path, fp.partition_values, self._schema, self.l2p,
                dv_desc=getattr(fp, "dv", None),
                table_path=getattr(fp, "table_path", None),
                l2id=self.l2id,
            )


def _opt(options, *names, default=None):
    """Option lookup tolerant of the DataSource option-key casing."""
    for n in names:
        for k in (n, n.lower()):
            v = options.get(k)
            if v is not None:
                return v
    return default


def _truthy(v) -> bool:
    return str(v).strip().lower() in ("1", "true", "yes", "on")


def _epoch_millis(ts) -> int:
    """Epoch-ms from epoch seconds (numeric string) or ISO-8601; naive
    strings read as UTC (commit timestamps are UTC epoch millis)."""
    s = str(ts).strip()
    try:
        return int(float(s) * 1000)
    except ValueError:
        pass
    import datetime as _dt

    parsed = _dt.datetime.fromisoformat(s)
    if parsed.tzinfo is None:
        parsed = parsed.replace(tzinfo=_dt.timezone.utc)
    return int(parsed.timestamp() * 1000)


class _TriggerBudget:
    """Admission budget for one trigger (``maxFilesPerTrigger`` /
    ``maxBytesPerTrigger``, Delta's public source options). The FIRST file of
    a trigger is always admitted — otherwise a file larger than the byte cap
    would stall the stream forever."""

    def __init__(self, max_files: int | None, max_bytes: int | None):
        self.files_left = max_files
        self.bytes_left = max_bytes
        self.took_any = False

    def take(self, size: int) -> bool:
        if self.took_any and (
            (self.files_left is not None and self.files_left < 1)
            or (self.bytes_left is not None and self.bytes_left < size)
        ):
            return False
        self.took_any = True
        if self.files_left is not None:
            self.files_left -= 1
        if self.bytes_left is not None:
            self.bytes_left -= size
        return True

    def exhausted(self) -> bool:
        return (self.files_left is not None and self.files_left < 1) or (
            self.bytes_left is not None and self.bytes_left <= 0
        )


def _norm_offset(off: dict) -> tuple[int, int | None, bool]:
    """(version, index-or-None, is_snapshot). A missing ``index`` marks a
    FULLY-SERVED window (the legacy ``{"version": N}`` shape) — old
    checkpoints restart seamlessly into admission-controlled streams."""
    idx = off.get("index")
    return int(off["version"]), (None if idx is None else int(idx)), bool(off.get("snapshot"))


class GovernedStreamReader(DataSourceStreamReader):
    """``spark.readStream.format("governed")`` — a LOG-CURSOR streaming
    source (the Delta streaming-source model, replacing the directory-stream
    caveats of ``Engine.read_table_stream``):

    - offsets are ``{"version": N}`` (window N fully served) or — under
      admission control — ``{"version": N, "index": i[, "snapshot": true]}``:
      the first ``i`` files of window N served, where a window is the sorted
      allowed file list of ONE commit (or of the whole live snapshot during
      bootstrap). Windows are deterministic given the log, so a batch is
      exactly reproducible from its two offsets across restarts;
    - the FIRST batch (from ``{"version": -1}``) is the live snapshot —
      checkpoint-aware, tombstone-reconciled replay, so files removed before
      the stream started are never served. With ``maxFilesPerTrigger`` /
      ``maxBytesPerTrigger`` set, the snapshot BOOTSTRAPS ACROSS MICRO-
      BATCHES (``(version, index)`` offsets, Delta's initial-snapshot
      semantics) instead of arriving as one table-sized batch;
    - non-append changes FAIL the stream: a ``remove`` of a file outside the
      current window (a DELETE, or the remove half of a copy-on-write
      UPDATE/MERGE rewrite whose re-add would duplicate already-served rows)
      raises unless ``ignoreDeletes``/``ignoreChanges`` is set — matching
      Delta's streaming-source contract. An add tombstoned within the same
      window is simply never served;
    - the DNF option filters at FILE level exactly like the batch reader;
    - offsets predating log retention, and mid-stream protocol upgrades,
      fail the stream loudly instead of silently skipping/mis-reading data.

    Restart pacing: the Python API's ``latestOffset()`` receives no start
    offset, but Spark's PythonMicroBatchStream implements
    ``AcceptsLatestSeenOffset`` — on restart the checkpointed offset arrives
    as a ``partitions(off, off)`` no-op BEFORE the first ``latestOffset``,
    seeding the pacing cursor. Fresh queries therefore bootstrap bounded
    from the very first batch, and restarts (pending-batch replay or clean)
    resume bounded from the checkpointed position. Under
    ``Trigger.AvailableNow`` the target offset is captured once per run, so
    a capped run drains one window-slice per invocation.
    """

    # bound on memoized per-commit window lists (driver memory)
    _COMMIT_CACHE_MAX = 128

    def __init__(self, schema: T.StructType, options):
        self._schema = schema
        self.path = options["path"]
        self.dnf: acl.PartitionDNF = json.loads(options.get("dnf", "null")) or []
        self.target_task_bytes = int(options.get("target_task_bytes", 128 << 20))
        snap = deltalog.load_snapshot(self.path)
        self.l2p: dict[str, str] = snap.column_mapping
        self.l2id: dict[str, int] = snap.field_ids
        if snap.mapping_has_struct:
            from ..errors import UnsupportedProtocolError

            raise UnsupportedProtocolError(
                self.path,
                "nested (struct) column mapping is handled by the Engine "
                "scan paths, not this pyarrow DataSource — use "
                "Engine.read_table",
            )
        self.dnf = deltalog.translate_dnf(self.dnf, self.l2p)
        mf = _opt(options, "maxFilesPerTrigger")
        mb = _opt(options, "maxBytesPerTrigger")
        self.max_files = int(mf) if mf is not None else None
        self.max_bytes = int(mb) if mb is not None else None
        self.ignore_changes = _truthy(
            _opt(options, "ignoreChanges", default=False)
        ) or _truthy(_opt(options, "ignoreDeletes", default=False))
        # readChangeFeed=true: serve the CHANGE FEED instead of the table —
        # rows gain _change_type/_commit_version, commits with cdc actions
        # serve their change files, removes feed their rows as 'delete'
        # (no ignoreChanges needed: deletes are legitimate feed items), and
        # the bootstrap snapshot arrives as 'insert' rows.
        self.read_change_feed = _truthy(_opt(options, "readChangeFeed", default=False))
        sv = _opt(options, "startingVersion")
        st = _opt(options, "startingTimestamp")
        if sv is not None and st is not None:
            raise ValueError(
                "pass either startingVersion or startingTimestamp, not both"
            )
        self.starting_version = sv if sv == "latest" else (int(sv) if sv is not None else None)
        self.starting_timestamp = st
        self._pos: dict | None = None  # last offset this reader emitted/saw
        self._snap_cache: dict[int, list[dict]] = {}
        self._commit_cache: dict[int, list[dict]] = {}

    @property
    def _limited(self) -> bool:
        return self.max_files is not None or self.max_bytes is not None

    # -- deterministic windows ------------------------------------------------

    def _allowed(self, adds) -> list[dict]:
        """DNF-filter + sort by path: the canonical window file list. The
        DNF is frozen in the stream options, so the list — and therefore
        every ``(version, index)`` offset — is deterministic given the log."""
        out = [a for a in adds if acl.dnf_allows(self.dnf, a.get("partitionValues") or {})]
        out.sort(key=lambda a: a["path"])
        return out

    @staticmethod
    def _feed_entry(add: dict, change_type: str | None, version: int) -> dict:
        """Copy of an add action whose partitionValues carry the feed
        pseudo-columns: the executor read fills schema fields missing from
        the file from partitionValues, so _change_type (unless the file has
        it — cdc files do) and _commit_version materialize with zero extra
        machinery."""
        pv = dict(add.get("partitionValues") or {})
        if change_type is not None:
            pv["_change_type"] = change_type
        pv["_commit_version"] = str(version)
        return {**add, "partitionValues": pv}

    def _snapshot_list(self, version: int) -> list[dict]:
        """Bootstrap window: the allowed live snapshot at ``version`` (as
        'insert' rows at that version in change-feed mode)."""
        if version not in self._snap_cache:
            deltalog.assert_version_reproducible(self.path, version)
            adds = deltalog._live_adds_no_spark(self.path, max_version=version).values()
            if self.read_change_feed:
                adds = [self._feed_entry(a, "insert", version) for a in adds]
            self._snap_cache = {
                version: self._allowed(adds)
            }  # keep exactly one snapshot materialized
        return self._snap_cache[version]

    def _check_schema_change(self, meta: dict, version: int) -> None:
        """A metaData action whose schema is NOT readable with this stream's
        schema fails the stream (Delta's mid-stream schema-change contract:
        restart to pick up the new schema). Historical schemas that are a
        type-equal SUBSET of the reader's fields pass — old files simply
        null-fill the columns appended since."""
        logged = deltalog.Snapshot(self.path, version, None, meta).schema
        if logged is None:
            return  # no declared columns (raw fixture logs): not a change
        reader_fields = {f.name: f.dataType for f in self._schema.fields}
        for f in logged.fields:
            if reader_fields.get(f.name) != f.dataType:
                raise ValueError(
                    f"schema of {self.path} changed at commit {version} "
                    f"(column {f.name!r}): restart the stream to pick up the "
                    "new schema (Delta streaming-source semantics)"
                )

    def _retained_commit(self, version: int):
        """The actions of commit ``version``; a commit log cleanup removed
        fails the stream."""
        actions = deltalog.commit_actions(self.path, version)
        if actions is None:
            raise ValueError(
                f"stream offset predates log retention at {self.path}: commit "
                f"{version} was cleaned up — restart the stream from a fresh "
                "checkpoint"
            )
        return actions

    def _commit_list(self, version: int) -> list[dict]:
        """Incremental window: the allowed net adds of commit ``version``
        alone. Missing commit JSON (log cleanup), protocol upgrades, and
        incompatible mid-stream schema changes fail loudly; a remove of a
        path NOT added by this same commit is a non-append change and fails
        unless ignoreDeletes/ignoreChanges. In change-feed mode the window
        is the commit's CHANGE SET instead (see _commit_list_cdf)."""
        if version in self._commit_cache:
            return self._commit_cache[version]
        if self.read_change_feed:
            out = self._commit_list_cdf(version)
            if len(self._commit_cache) >= self._COMMIT_CACHE_MAX:
                self._commit_cache.pop(next(iter(self._commit_cache)))
            self._commit_cache[version] = out
            return out
        state: dict[str, dict] = {}
        for action in self._retained_commit(version):
            if "add" in action:
                if action["add"].get("dataChange") is False:
                    continue  # compaction re-add: rows already served
                state[action["add"]["path"]] = action["add"]
            elif "remove" in action:
                if action["remove"].get("dataChange") is False:
                    continue  # compaction tombstone: no row change
                if action["remove"]["path"] in state:
                    del state[action["remove"]["path"]]  # add+remove: never serve
                elif not self.ignore_changes:
                    raise ValueError(
                        f"commit {version} at {self.path} removes "
                        f"{action['remove']['path']!r} (a DELETE or "
                        "copy-on-write rewrite): rows already served may "
                        "be duplicated or retracted. Set ignoreDeletes "
                        "or ignoreChanges to stream past non-append "
                        "changes (Delta streaming-source semantics)."
                    )
            elif "protocol" in action:
                deltalog.check_protocol_action(self.path, action["protocol"])
            elif "metaData" in action:
                self._check_schema_change(action["metaData"], version)
        out = self._allowed(state.values())
        if len(self._commit_cache) >= self._COMMIT_CACHE_MAX:
            self._commit_cache.pop(next(iter(self._commit_cache)))
        self._commit_cache[version] = out
        return out

    def _commit_list_cdf(self, version: int) -> list[dict]:
        """Change-feed window of ONE commit (Delta CDF read protocol): cdc
        change files when the commit carries them (authoritative — their
        _change_type column serves as-is), else dataChange adds as 'insert'
        plus the rows of dataChange removes as 'delete' (the removed files,
        still on disk until vacuum, with partitionValues/size resolved from
        the prior snapshot). dataChange=false commits (compaction) yield an
        EMPTY window."""
        cdc: list[dict] = []
        adds: list[dict] = []
        removes: list[dict] = []
        for action in self._retained_commit(version):
            if "add" in action or "remove" in action:
                a = action.get("add") or action.get("remove")
                if a.get("dataChange") is False:
                    continue
                (adds if "add" in action else removes).append(a)
            elif "cdc" in action:
                cdc.append(action["cdc"])
            elif "protocol" in action:
                deltalog.check_protocol_action(self.path, action["protocol"])
            elif "metaData" in action:
                self._check_schema_change(action["metaData"], version)
        if cdc:
            # cdc change files are authoritative for this commit: DV
            # add/remove actions alongside them need no derivation
            entries = [self._feed_entry(c, None, version) for c in cdc]
        else:
            if any(
                (a.get("deletionVector") or {}).get("storageType")
                for a in adds + removes
            ):
                raise ValueError(
                    f"commit {version} at {self.path} uses deletion vectors "
                    "without change files: row-level liveness changes are "
                    "not derivable as a change feed at file granularity"
                )
            entries = [self._feed_entry(a, "insert", version) for a in adds]
            if removes:
                prev = deltalog._live_adds_no_spark(
                    self.path, max_version=version - 1
                )
                for r in removes:
                    a = prev.get(r["path"])
                    if a is None:
                        raise ValueError(
                            f"commit {version} at {self.path} removes "
                            f"{r['path']!r}, which is not in the prior "
                            "snapshot — cannot reconstruct its deleted rows"
                        )
                    entries.append(self._feed_entry(a, "delete", version))
        return self._allowed(entries)

    def _adds_in_range(self, start: int, end: int) -> list[dict]:
        """Legacy (un-indexed) window: net-new live adds from commits in
        ``(start, end]`` — adds keyed by path, minus removes landing later in
        the SAME window; removes of files outside the window are non-append
        changes (fail unless ignoreDeletes/ignoreChanges)."""
        state: dict[str, dict | None] = {}
        for v in range(start + 1, end + 1):
            for action in self._retained_commit(v):
                if "add" in action:
                    if action["add"].get("dataChange") is False:
                        continue  # compaction re-add: rows already served
                    state[action["add"]["path"]] = action["add"]
                elif "remove" in action:
                    if action["remove"].get("dataChange") is False:
                        continue  # compaction tombstone: no row change
                    if action["remove"]["path"] in state:
                        state.pop(action["remove"]["path"])
                    elif not self.ignore_changes:
                        raise ValueError(
                            f"commit {v} at {self.path} removes "
                            f"{action['remove']['path']!r} (a DELETE or "
                            "copy-on-write rewrite): rows already served "
                            "may be duplicated or retracted. Set "
                            "ignoreDeletes or ignoreChanges to stream "
                            "past non-append changes."
                        )
                elif "protocol" in action:
                    # a mid-stream protocol upgrade must stop the
                    # incremental reader exactly like a fresh open
                    deltalog.check_protocol_action(self.path, action["protocol"])
                elif "metaData" in action:
                    self._check_schema_change(action["metaData"], v)
        return [a for a in state.values() if a is not None]

    # -- offsets --------------------------------------------------------------

    def _first_version_at_or_after(self, ts_millis: int) -> int:
        """Smallest retained commit version whose commit timestamp is
        >= ``ts_millis`` (Delta streaming ``startingTimestamp`` resolution);
        latest+1 when the timestamp is after every commit (only future
        commits will serve)."""
        for v, ts in deltalog._commit_timestamps(self.path):
            if ts >= ts_millis:
                return v
        return deltalog.latest_version(self.path) + 1

    def _initial_pos(self) -> dict:
        """The stream's start position: the default bootstrap (full
        snapshot), or a commit cursor from ``startingVersion`` /
        ``startingTimestamp`` (Delta's public options — skip the existing
        snapshot, serve changes from that point on)."""
        if self.starting_version == "latest":
            return {"version": deltalog.latest_version(self.path)}
        if self.starting_version is not None:
            return {"version": int(self.starting_version) - 1}
        if self.starting_timestamp is not None:
            v = self._first_version_at_or_after(
                _epoch_millis(self.starting_timestamp)
            )
            return {"version": v - 1}
        return {"version": -1, "index": 0} if self._limited else {"version": -1}

    def initialOffset(self) -> dict:
        # May be called AFTER the first latestOffset (Spark resolves the
        # start offset lazily): never regress an already-advanced cursor.
        off = self._initial_pos()
        if self._pos is None:
            self._pos = off
        return off

    def latestOffset(self) -> dict:
        tip = deltalog.latest_version(self.path)
        if not self._limited:
            pos = self._pos if self._pos is not None else self._initial_pos()
            # never regress below a startingVersion floor that is still in
            # the future (no commits there yet)
            off = {"version": max(tip, int(pos.get("version", -1)))}
            self._pos = off
            return off
        pos = self._pos
        if pos is None:
            # PythonMicroBatchStream implements AcceptsLatestSeenOffset: on a
            # RESTART Spark delivers the checkpointed offset (via a
            # partitions(off, off) no-op) before the first latestOffset,
            # seeding _pos. Reaching here with no cursor therefore means a
            # FRESH query — pace the bootstrap from the very first batch.
            pos = self._initial_pos()
        off = self._advance_offset(pos, tip)
        self._pos = off
        return off

    def _advance_offset(self, pos: dict, tip: int) -> dict:
        v, i, snap = _norm_offset(pos)
        budget = _TriggerBudget(self.max_files, self.max_bytes)
        if v < 0:
            if tip < 0:
                return pos  # table still empty
            L = self._snapshot_list(tip)
            j = self._advance_index(L, 0, budget)
            return {"version": tip, "index": j, "snapshot": True}
        if snap:
            L = self._snapshot_list(v)
            start_i = len(L) if i is None else i
            if start_i < len(L):
                j = self._advance_index(L, start_i, budget)
                return {"version": v, "index": j, "snapshot": True}
        elif i is not None:
            L = self._commit_list(v)
            if i < len(L):
                j = self._advance_index(L, i, budget)
                return {"version": v, "index": j}
        # current window exhausted: step across subsequent commits
        last: dict | None = None
        w = v
        while w < tip and not budget.exhausted():
            w += 1
            L = self._commit_list(w)
            j = self._advance_index(L, 0, budget)
            last = {"version": w, "index": j}
            if j < len(L):
                break
        return last if last is not None else pos

    @staticmethod
    def _advance_index(L: list[dict], i: int, budget: _TriggerBudget) -> int:
        j = i
        while j < len(L) and budget.take(int(L[j].get("size") or 0)):
            j += 1
        return j

    # -- batch planning -------------------------------------------------------

    def partitions(self, start: dict, end: dict):
        if self._pos is None:
            # restart: either Spark's AcceptsLatestSeenOffset delivery (a
            # (off, off) no-op call carrying the checkpointed position) or a
            # pending-batch replay — the end offset is the authoritative
            # resume point for pacing
            self._pos = dict(end)
        sv, si, ssnap = _norm_offset(start)
        ev, ei, esnap = _norm_offset(end)
        if ev < 0 or ev < sv or (start == end):
            return []
        adds: list[dict] = []
        if sv == ev and ssnap == esnap:
            # window split: a slice of one snapshot/commit window
            L = self._snapshot_list(ev) if esnap else self._commit_list(ev)
            lo = len(L) if si is None else si
            hi = len(L) if ei is None else ei
            adds = L[lo:hi]
        elif esnap:
            # bootstrap from the initial offset into a snapshot slice
            L = self._snapshot_list(ev)
            adds = L[0 : (len(L) if ei is None else ei)]
        elif sv < 0:
            # legacy initial offset: the whole snapshot in one batch
            L = self._snapshot_list(ev)
            adds = L[0 : (len(L) if ei is None else ei)]
        else:
            if ssnap:
                # finish the bootstrap snapshot, then the commits after it
                L = self._snapshot_list(sv)
                adds.extend(L[(len(L) if si is None else si) :])
            elif si is not None:
                L = self._commit_list(sv)
                adds.extend(L[si:])
            if si is None and not ssnap and ei is None and not self.read_change_feed:
                # pure legacy incremental range: reconciled multi-commit
                # window (pre-admission-control semantics, same offsets)
                adds.extend(self._allowed(self._adds_in_range(sv, ev)))
            else:
                for w in range(sv + 1, ev + 1):
                    L = self._commit_list(w)
                    adds.extend(L if w < ev else L[0 : (len(L) if ei is None else ei)])
        allowed = [
            (
                GovernedFilePartition(
                    os.path.join(self.path, add["path"]),
                    dict(add.get("partitionValues") or {}),
                    dv=add.get("deletionVector"),
                    table_path=self.path,
                ),
                int(add.get("size") or 0),
            )
            for add in adds
        ]
        return _bin_pack_files(allowed, self.target_task_bytes)

    def read(self, partition) -> Iterator:
        if partition is None:
            return
        files = partition.files if isinstance(partition, GovernedFilesPartition) else [partition]
        for fp in files:
            yield from _iter_file_batches(
                fp.full_path, fp.partition_values, self._schema, self.l2p,
                dv_desc=getattr(fp, "dv", None),
                table_path=getattr(fp, "table_path", None),
                l2id=self.l2id,
            )

    def commit(self, end: dict) -> None:
        # progress is tracked by the streaming checkpoint; recover the pacing
        # cursor here after a restart whose first trigger had no pending batch
        if self._pos is None:
            self._pos = dict(end)

    def stop(self) -> None:
        pass


@dataclass
class GovernedWriteCommit(WriterCommitMessage):
    rel_paths: list


class GovernedWriter(DataSourceArrowWriter):
    """``df.write.format("governed")`` — the write half of the source (S12).

    Each task streams its Arrow batches into hive-laid-out parquet files
    under the table root (partition columns become ``key=value`` directories
    and are DROPPED from the file, Delta convention); the driver-side
    ``commit`` turns the collected relative paths into ``add`` actions (size/
    mtime/footer stats via ``deltalog.add_action_for``) and appends ONE log
    commit — so a multi-task write is atomic at the log level, and a failed
    job's ``abort`` deletes every staged file. Overwrite mode tombstones the
    previously-live file set in the same commit. Read-only tables (option
    ``readonly=true``, the reference's ``readOnly`` gate) reject the plan at
    writer-construction time.

    Uncommitted files are briefly visible to raw directory readers until the
    log commit lands (same bounded exposure as ``Engine._commit_moved``,
    documented there); log-aware readers never see them.
    """

    def __init__(self, options, schema: T.StructType, overwrite: bool):
        self.table_path = options["path"]
        if str(options.get("readonly", "false")).strip().lower() in (
            "1", "true", "yes", "on",
        ):
            raise ValueError(f"table at {self.table_path} is read-only")
        logged = _logged_schema(self.table_path)
        if logged is None:
            raise ValueError(
                f"no logged schema at {self.table_path} — the governed "
                "writer appends to existing Delta-logged tables only"
            )
        if set(schema.names) != set(logged.names):
            raise ValueError(
                f"schema mismatch: write has {sorted(schema.names)}, table has "
                f"{sorted(logged.names)} (use Engine.write_table for evolution)"
            )
        cons = deltalog.declared_constraints(self.table_path)
        if cons:
            # the task-side Arrow writer cannot evaluate SQL CHECK
            # expressions; refusing beats committing unvalidated rows
            raise ValueError(
                f"table at {self.table_path} declares CHECK constraints "
                f"{sorted(cons)} — use Engine.write_table, which validates "
                "them (the governed DataSource writer cannot)"
            )
        self.partition_cols = deltalog.load_snapshot(self.table_path).partition_columns
        self.overwrite = overwrite
        # Log-compaction cadence (Delta spec "Log Compaction Files"): a
        # streaming sink commits once per micro-batch, so its JSON tail is
        # the spec's motivating case — every N commits, reconcile the run
        # into one <x>.<y>.compacted.json so replays stop re-reading the
        # tail file-by-file. Pure-Python (deltalog.write_log_compaction),
        # so it runs fine inside the DataSource's driver-side commit where
        # no SparkSession is reachable for a checkpoint.
        lci = options.get("logCompactionInterval") or options.get(
            "logcompactioninterval"
        )
        self.log_compaction_interval = int(lci) if lci is not None else 0

    def _maybe_compact_log(self, version: int) -> None:
        lc = self.log_compaction_interval
        if lc <= 1 or version <= 0 or version % lc != 0:
            return
        ck = deltalog.last_checkpoint(self.table_path)
        start = max(
            (int(ck["version"]) + 1) if ck is not None else 0, version - lc + 1
        )
        if start >= version:
            return
        try:
            deltalog.write_log_compaction(self.table_path, start, version)
        except Exception:
            pass  # compaction is advisory; never fail a committed batch

    # Bound on concurrently-open ParquetWriters per task: a high-cardinality
    # partition column must not exhaust file descriptors/memory. Past the
    # cap the least-recently-written writer is closed; a recurring partition
    # simply opens a NEW part file (more small files, bounded resources).
    MAX_OPEN_WRITERS = 64

    def write(self, iterator):
        import urllib.parse
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        writers: dict[tuple, pq.ParquetWriter] = {}  # pv -> open writer (LRU)
        rels: list[str] = []  # every part file this task produced

        def writer_for(pv: tuple, data_schema: pa.Schema):
            if pv in writers:
                writers[pv] = writers.pop(pv)  # refresh LRU position
                return writers[pv]
            if len(writers) >= self.MAX_OPEN_WRITERS:
                oldest_pv = next(iter(writers))
                writers.pop(oldest_pv).close()
            segs = [
                f"{c}={urllib.parse.quote(_delta_pv_str(v) or str(v), safe='')}"
                for c, v in zip(self.partition_cols, pv)
            ]
            rel = "/".join(segs + [f"part-{_uuid.uuid4().hex}.parquet"])
            full = os.path.join(self.table_path, rel)
            os.makedirs(os.path.dirname(full), exist_ok=True)
            writers[pv] = pq.ParquetWriter(full, data_schema)
            rels.append(rel)
            return writers[pv]

        for batch in iterator:
            tbl = pa.Table.from_batches([batch])
            if not self.partition_cols:
                writer_for((), tbl.schema).write_table(tbl)
                continue
            for col in self.partition_cols:
                if tbl.column(col).null_count:
                    raise ValueError(f"null partition value in column {col!r}")
            # Split the batch by partition values with PURE-ARROW take():
            # only the (small) key columns round-trip through Python; data
            # columns stay Arrow, so exotic types (timestamps, decimals,
            # nested) survive untouched — no pandas conversion.
            data_cols = [f.name for f in tbl.schema if f.name not in self.partition_cols]
            data_schema = pa.schema(
                [f for f in tbl.schema if f.name not in self.partition_cols]
            )
            key_lists = [tbl.column(c).to_pylist() for c in self.partition_cols]
            groups: dict[tuple, list[int]] = {}
            for i, key in enumerate(zip(*key_lists)):
                groups.setdefault(key, []).append(i)
            for pv, idxs in groups.items():
                out = tbl.take(idxs).select(data_cols)
                writer_for(pv, data_schema).write_table(out)
        for w in writers.values():
            w.close()
        return GovernedWriteCommit(rel_paths=sorted(rels))

    def _all_rels(self, messages) -> list[str]:
        return [r for m in messages if m is not None for r in m.rel_paths]

    def commit(self, messages, txn: dict | None = None) -> None:
        rels = self._all_rels(messages)
        _scols = deltalog.stats_columns(self.table_path)
        adds = [
            deltalog.add_action_for(
                self.table_path, rel, self.partition_cols, stats_cols=_scols
            )
            for rel in rels
        ]
        removes = []
        if self.overwrite:
            live = deltalog._live_adds_no_spark(self.table_path)
            removes = [{"path": p} for p in sorted(set(live) - set(rels))]
        try:
            version = deltalog.write_commit(
                self.table_path,
                adds,
                removes,
                partition_cols=self.partition_cols,
                operation="WRITE",
                txn=txn,
                # sink batches write fresh uuid-named files: the version
                # checksum stays arithmetic on the streaming hot path
                crc_fresh_adds=True,
            )
        except BaseException:
            self.abort(messages)
            raise
        self._maybe_compact_log(version)

    def abort(self, messages) -> None:
        for rel in self._all_rels(messages):
            try:
                os.remove(os.path.join(self.table_path, rel))
            except OSError:
                pass


class GovernedStreamWriter(DataSourceStreamArrowWriter):
    """``df.writeStream.format("governed")`` — streaming sink over the same
    machinery: each micro-batch's task files land hive-laid-out and the
    driver appends ONE log commit per micro-batch. With ``overwrite=True``
    (outputMode complete / truncate semantics) each batch's commit also
    tombstones the previously-live file set, so the table always holds
    exactly the latest batch's result — reusing GovernedWriter's batch
    overwrite path instead of silently appending duplicates. Exactly-once
    via the Delta ``txn`` action when ``txnAppId`` is set; without it the
    streaming checkpoint gives batch-level at-least-once (the documented
    commit-then-crash replay edge of every non-txn Delta sink)."""

    def __init__(self, options, schema: T.StructType, overwrite: bool = False):
        self._w = GovernedWriter(options, schema, overwrite=overwrite)
        # Delta txn idempotence: with a txnAppId option, each commit records
        # {appId, batchId} and a REPLAYED batch (sink committed, streaming
        # checkpoint didn't advance) is recognized and dropped — its staged
        # files deleted — instead of double-appending.
        self._app_id = options.get("txnappid") or options.get("txnAppId")

    def write(self, iterator):
        return self._w.write(iterator)

    def commit(self, messages, batchId: int) -> None:
        if self._app_id is not None:
            if batchId <= deltalog.last_txn_version(self._w.table_path, self._app_id):
                self._w.abort(messages)  # replayed batch: drop staged files
                return
            self._w.commit(
                messages, txn={"appId": self._app_id, "version": batchId}
            )
            return
        self._w.commit(messages)

    def abort(self, messages, batchId: int) -> None:
        self._w.abort(messages)


class GovernedDataSource(DataSource):
    """``format("governed")`` — reference-faithful file-level governed reads
    and log-committed writes (register with ``spark.dataSource.register``)."""

    @classmethod
    def name(cls) -> str:
        return "governed"

    def schema(self) -> T.StructType:
        schema = _logged_schema(self.options["path"])
        if schema is None:
            raise ValueError(
                f"no logged schema at {self.options['path']} — the governed "
                "source serves Delta-logged tables only"
            )
        if _truthy(_opt(self.options, "readChangeFeed", default=False)):
            schema = T.StructType(
                list(schema.fields)
                + [
                    T.StructField("_change_type", T.StringType()),
                    T.StructField("_commit_version", T.LongType()),
                ]
            )
        return schema

    def reader(self, schema: T.StructType) -> GovernedReader:
        if _truthy(_opt(self.options, "readChangeFeed", default=False)):
            raise ValueError(
                "readChangeFeed is a streaming option here; for batch change "
                "reads use Engine.table_changes"
            )
        return GovernedReader(schema, self.options)

    def streamReader(self, schema: T.StructType) -> GovernedStreamReader:
        return GovernedStreamReader(schema, self.options)

    def writer(self, schema: T.StructType, overwrite: bool) -> GovernedWriter:
        return GovernedWriter(self.options, schema, overwrite)

    def streamWriter(self, schema: T.StructType, overwrite: bool) -> GovernedStreamWriter:
        return GovernedStreamWriter(self.options, schema, overwrite)
