"""Structured Streaming SOURCE over the versioned table's change feed —
the ``readStream``-shaped adapter the r9 verdict asked for (ask #6),
completing the Delta-source analogy ``streaming/cdc.py`` draws: where
``pump_changes`` is call-driven (the consumer polls), this registers a
Spark 4 Python streaming data source (``pyspark.sql.datasource``) whose
OFFSETS are the table's commit versions, so a subscription runs as a
real Structured Streaming query — triggers, checkpointing, availableNow
backfill, rate limiting — with exactly-once delivery provided by Spark's
offset log instead of the sink-side SetTransaction cursor.

Offset model (Delta's streaming source in miniature):

* an offset is ``{"version": v}`` — "every change up to and including
  commit ``v`` has been emitted";
* ``latestOffset`` advances to the table head, capped by
  ``maxVersionsPerTrigger`` (rate limiting for backfills);
* ``partitions(start, end)`` plans one input partition per (commit,
  directory), carrying the directory's selected files, from the
  change-feed plan ``vt_read_changes`` reads too
  (``sources/versioned.py::_change_plan``, where each op's change rows
  are decided): an append's new directories as inserts, a recorded
  ``c_*`` change directory (the ``_change_type`` column rides in the
  file), a delete replayed as the PREVIOUS snapshot filtered by its
  recorded predicate, an overwrite/restore/clone as delete-all +
  insert-all. Replays by rule or with update assignments are
  ``vt_read_changes``-only: pyarrow evaluates the skip grammar alone.

Scale shape: planning is manifest-metadata only (no data file opened on
the driver); each partition reads ONE directory's files with pyarrow
on the executor and yields Arrow RecordBatches straight into Spark's Arrow
ingestion path — |changes|-proportional work per micro-batch, zero
state store. The table path must be on storage every executor can reach
(the same contract as any Spark table).

The stream's schema is FIXED at query start (the head's logical schema
plus ``_change_type``/``_commit_version``): older pre-evolution files
reconcile with typed nulls per file; to pick up later-evolved columns,
restart the query (Delta's streaming source makes the same choice).

r14 additions, completing the format's batch/stream × read/write
matrix:

* **No ``startingVersion`` → initial snapshot** (Delta's default):
  the first micro-batch is the table at query start, planned as
  insert-tagged partitions from the snapshot scan plan (DVs honored),
  then changes committed after it. The snapshot base rides in the
  checkpointed offset (``{"version": v, "snapshot": "pending"}``), so
  replay is deterministic.
* **``spark.readStream.format("vt")``** (``_TableStreamReader``): the
  table as an APPEND stream — same offsets/snapshot/rate-limit
  machinery, schema without the change-metadata columns, and commits
  that update or delete existing rows fail loudly unless
  ``option("skipChangeCommits", "true")`` skips them wholesale. With
  ``option("readChangeFeed", "true")`` the format serves this module's
  change reader instead.

Reference provenance: the reference engine (SURVEY.md §2) has no
streaming surface; this module is part of the beyond-reference lakehouse
deliverable (BASELINE.json north star), modeled on Delta's
``spark.readStream.format("delta")`` contract as published.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

__all__ = [
    "VersionedChangesDataSource",
    "vt_change_stream",
    "CHANGE_SOURCE_NAME",
]

CHANGE_SOURCE_NAME = "vt_changes"


@dataclass
class _ChangePartition(InputPartition):
    """One (commit, directory) unit of change output: the directory
    ``path`` and the ``files`` in it to read. ``change_type`` None
    means the files carry a ``_change_type`` column (a recorded ``c_*``
    change directory); otherwise every row gets the literal.
    ``predicate`` (a delete replay of the change-feed plan, see
    ``versioned._change_plan``) filters the file's rows to the ones
    the delete removed. ``dv`` maps file name → deleted row
    positions (the replayed snapshot's deletion vectors): those rows
    are logically absent from the snapshot, so they are dropped BEFORE
    any tagging or predicate filtering. Column-mapped tables are
    resolved through the READER's stream-era map (one map for the whole
    stream, see ``_ChangesStreamReader._stream_mapping`` — physical
    identity is stable across renames; replay predicates arrive
    pre-translated to physical names)."""

    path: str = ""
    files: list | None = None
    version: int = 0
    change_type: str | None = None
    predicate: list | None = None
    dv: dict | None = None


def _pa_filter(predicate: list):
    """Conjunction of ``(col, op, value)`` tuples → pyarrow dataset
    expression with the same match semantics as the delete that recorded
    it (rows where the conjunction is NULL do not match)."""
    import pyarrow.dataset as ds

    expr = None
    for col, op, value in predicate:
        f = ds.field(col)
        if op == "=":
            e = f == value
        elif op == "<":
            e = f < value
        elif op == "<=":
            e = f <= value
        elif op == ">":
            e = f > value
        elif op == ">=":
            e = f >= value
        elif op == "in":
            # SQL three-valued semantics: NULL IN (..., NULL, ...) is
            # NULL, never TRUE — Spark's isin (what vt_delete evaluated)
            # matches no null row. pyarrow's is_in CAN match nulls when
            # the value list contains None, which would replay deletes
            # for rows the delete actually kept; drop None from the
            # list (a null literal can never equality-match a row the
            # null-rejecting delete removed).
            e = f.isin([v for v in value if v is not None])
        elif op == "isnull":
            e = f.is_null()
        elif op == "notnull":
            e = ~f.is_null()
        else:  # pragma: no cover - _normalize_predicate gates writers
            raise ValueError(f"unsupported predicate op {op!r}")
        expr = e if expr is None else (expr & e)
    return expr


class _ChangesStreamReader(DataSourceStreamReader):
    def __init__(self, schema, options):
        self._path = options.get("path")
        if not self._path:
            raise ValueError("vt_changes requires option 'path'")
        from ..sources.versioned import _local_path

        self._path = _local_path(self._path)
        sv = options.get("startingversion")
        if sv is None:
            # No startingVersion (r14, Delta's streaming default): an
            # INITIAL SNAPSHOT of the table at query start — planned as
            # insert-tagged partitions in the first micro-batch — then
            # changes committed after it. The snapshot base is fixed
            # here (query start); restarts recover it from the offset
            # log, never from a fresh vt_head (partitions() only ever
            # sees checkpointed offsets).
            from ..sources.versioned import vt_head

            self._snapshot_base: int | None = vt_head(self._path)
            self._starting = self._snapshot_base
        else:
            self._snapshot_base = None
            self._starting = int(sv)
        mv = options.get("maxversionspertrigger")
        self._max_versions = int(mv) if mv else None
        self._schema = schema
        self._last: int | None = None
        # {logical stream column → physical file column}, resolved ONCE
        # for the whole stream (driver-side, at construction) — see
        # _stream_mapping for why the EMITTING version's map must not
        # be used per partition (ADVICE r12: a mid-stream rename keys
        # the later map by the NEW logical name, the stream-schema
        # lookup would miss and serve silent typed NULLs)
        self._colmap = self._stream_mapping()

    def _stream_mapping(self) -> dict:
        """Resolve the stream's FIXED logical schema to physical file
        column names. Physical identity is stable across renames, so
        one {stream field → physical} map — taken from the version
        whose logical schema the stream fixed at query start — is
        correct for EVERY emitted version: later renames change only
        logical labels, earlier versions simply lack the physical
        column (→ typed nulls, the pre-evolution reconciliation).

        The stream-era version is found by matching the stream schema's
        data field names against committed logical schemas (restart
        reconstructs it the same way — Spark re-derives the source
        schema, and the matching walk is deterministic). If two
        committed eras share the field names but DISAGREE on physical
        identity (drop X → re-add X), the stream is ambiguous without
        Delta-style schema tracking — fail loudly instead of serving
        one era's bytes under the other era's labels."""
        from ..sources.versioned import _read_manifest, vt_versions

        data_names = [
            f.name
            for f in self._schema.fields
            if f.name not in ("_change_type", "_commit_version")
        ]
        chosen: dict | None = None
        chosen_phys: tuple | None = None
        for v in reversed(vt_versions(self._path)):
            if v < self._starting:
                break  # the stream never reads below startingVersion
            try:
                m = _read_manifest(self._path, v)
            except OSError:
                continue
            sch = m.get("schema")
            if sch is None:
                continue
            if [f["name"] for f in sch.get("fields", [])] != data_names:
                continue
            cm = m.get("column_mapping") or {}
            # compare eras by RESOLVED physical identity, not by the
            # raw map dicts — a rename that round-trips (x→y→x) leaves
            # an explicit {x: x} entry that is physically identical to
            # the pre-mapping identity era
            phys = tuple(cm.get(c, c) for c in data_names)
            if chosen is None:
                # dotted entries (nested renames, r14) ride along so
                # the Arrow reconcile can match struct children by
                # their physical leaf names
                chosen = {
                    **{c: cm.get(c, c) for c in data_names},
                    **{k: v for k, v in cm.items() if "." in k},
                }
                chosen_phys = phys
            elif phys != chosen_phys:
                raise ValueError(
                    f"vt_changes at {self._path}: two committed schema "
                    "eras share the stream's column names but map them "
                    "to different physical columns (a column was "
                    "dropped and re-added) — the stream cannot tell "
                    "which era its schema belongs to; restart the query "
                    "from a startingVersion inside one era"
                )
        return chosen or {}

    # -- offsets ----------------------------------------------------------
    def initialOffset(self) -> dict:
        # A FRESH query calls initialOffset before its first
        # latestOffset — seed the rate-limit base here so
        # maxVersionsPerTrigger caps trigger 1 of a backfill (the
        # option's primary use case). Checkpoint RESTARTS never call
        # initialOffset, so their first latestOffset stays uncapped by
        # design (see the rationale in latestOffset: Spark only reveals
        # the checkpointed cursor to partitions()).
        self._last = self._starting
        if self._snapshot_base is not None:
            return {
                "version": self._snapshot_base,
                "snapshot": "pending",
            }
        return {"version": self._starting}

    def latestOffset(self) -> dict:
        from ..sources.versioned import vt_head

        head = vt_head(self._path)
        if self._max_versions is not None and self._last is not None:
            # Rate limiting is RELATIVE TO THE LAST OFFSET THIS READER
            # RETURNED. Fresh queries are capped from trigger 1
            # (initialOffset seeds self._last). On a checkpoint restart
            # the reader is a fresh instance, initialOffset is NOT
            # called, and Spark never tells latestOffset the
            # checkpointed cursor (only partitions(start, end) sees
            # it), so capping relative to startingVersion could return
            # an offset BELOW the cursor and wedge the query — the
            # first post-restart latestOffset is therefore uncapped;
            # the cap re-engages once partitions() reveals the cursor.
            head = min(head, self._last + self._max_versions)
        self._last = max(head, self._last or 0)
        return {"version": self._last}

    # -- planning (driver, metadata only) ---------------------------------
    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["version"]), int(end["version"])
        # partitions() is where a restarted reader first learns the real
        # checkpointed cursor — fold it into the rate-limit base
        self._last = max(self._last or 0, hi)
        parts: list[_ChangePartition] = []
        if start.get("snapshot") == "pending":
            # the initial-snapshot batch: the table at the offset-log's
            # base version as inserts (deterministic on replay — the
            # base rides in the checkpointed offset, not in reader
            # state), then any changes committed since
            parts.extend(_plan_snapshot_parts(self._path, lo))
        parts.extend(self._plan_changes(lo, hi))
        return parts

    def _plan_changes(self, lo: int, hi: int):
        return _plan_change_partitions(self._path, lo, hi)

    # -- reading (executor, one directory's files per partition) -----------
    def read(self, partition: _ChangePartition):
        from pyspark.sql.pandas.types import to_arrow_schema

        yield from _read_change_partition(
            partition, to_arrow_schema(self._schema), self._colmap
        )

    def commit(self, end: dict) -> None:
        pass  # offsets live in Spark's checkpoint; nothing table-side

    def stop(self) -> None:
        pass


def _plan_change_partitions(
    path: str, lo: int, hi: int
) -> "list[_ChangePartition]":
    """The change-feed plan of ``(lo, hi]`` (``versioned._change_plan``,
    the plan ``vt_read_changes`` reads) as input partitions — manifest
    metadata only, no data file opened. Shared by the ``vt_changes``
    streaming source (per micro-batch offset range) and the batch
    reader's ``readChangeFeed`` option. pyarrow evaluates only the skip
    grammar, so a replay by rule or with update assignments raises
    here: only ``vt_read_changes`` replays those."""
    from ..sources.versioned import (
        _change_plan,
        _col_mapping,
        _dir_files,
        _map_conjuncts,
        _unrecorded,
    )

    parts: list[_ChangePartition] = []
    for step in _change_plan(path, lo, hi):
        if step.snapshot is None:
            # whole directories: an append's new dirs, a recorded c_*
            # change dir (listed here — the manifest lists no change files)
            parts.extend(
                _ChangePartition(
                    path=os.path.join(path, d),
                    files=_dir_files(path, step.manifest, d),
                    version=step.version,
                    change_type=step.tag,
                )
                for d in step.dirs
            )
        elif step.rule is not None or step.assignments is not None:
            raise _unrecorded(step.version, step.op)
        else:
            # the predicate was recorded in LOGICAL names; the files
            # hold physical ones
            parts.extend(
                _plan_snapshot_parts(
                    path, step.snapshot, step.tag, step.version,
                    _map_conjuncts(
                        step.predicate, _col_mapping(step.manifest)
                    ),
                )
            )
    return parts


def _plan_snapshot_parts(
    path: str,
    v: int,
    tag: str = "insert",
    at: int | None = None,
    predicate: list | None = None,
) -> "list[_ChangePartition]":
    """The snapshot at version ``v`` as ``tag``-tagged change partitions
    stamped with commit ``at`` (default ``v``) — the input partitions
    :func:`_plan_dirs` packs from the directories of its scan plan
    (partial_dirs / authoritative file lists honored),
    the snapshot's deletion vectors applied, ``predicate`` (a delete
    replay) filtering what is left. The initial-snapshot batch of a
    no-``startingVersion`` stream (r14), the delete side of an
    overwrite and a delete replay; driver-side manifest metadata only."""
    from ..sources.versioned import _plan_dirs, vt_scan_plan

    return [
        _ChangePartition(
            path=p,
            files=files,
            version=v if at is None else at,
            change_type=tag,
            predicate=predicate,
            dv=dv,
        )
        for p, files, dv in _plan_dirs(vt_scan_plan(path, v))
    ]


class _TableStreamReader(_ChangesStreamReader):
    """``spark.readStream.format("vt")`` WITHOUT ``readChangeFeed``
    (r14) — the table itself as an APPEND stream, Delta's default
    streaming-source contract: an initial snapshot of the table at
    query start, then each append commit's new files as they land.
    Schema is the table's logical schema (no ``_change_type`` /
    ``_commit_version`` columns — ``_read_change_partition``
    reconciles to whatever target schema it is handed); offsets,
    snapshot planning, rate limiting (``maxVersionsPerTrigger``) and
    the column-mapping-era resolution are all inherited from the
    change reader.

    Commits that update or delete existing rows (merge / delete /
    update / overwrite / restore / clone) are not expressible as an
    append stream: the query FAILS LOUDLY by default, or skips the
    whole commit under ``option("skipChangeCommits", "true")`` —
    Delta's option, same semantics. One documented divergence: Delta
    lets an insert-only MERGE stream through; here the manifest does
    not classify a merge's change file without reading it, so every
    merge is treated as a change commit. ``startingVersion`` skips
    the snapshot and streams appends after that version."""

    def __init__(self, schema, options):
        self._skip_change = (
            str(options.get("skipchangecommits", "false")).lower()
            == "true"
        )
        super().__init__(schema, options)

    def _plan_changes(self, lo: int, hi: int):
        from ..sources.versioned import (
            _CHANGE_OPS,
            _read_manifest,
            vt_versions,
        )

        versions = vt_versions(self._path)
        parts: list[_ChangePartition] = []
        for v in range(lo + 1, hi + 1):
            if v not in versions:
                raise ValueError(
                    f"version {v} was vacuumed: the stream range "
                    f"({lo}, {hi}] is no longer reconstructable"
                )
            # classify by the manifest op BEFORE planning, one commit
            # at a time: a change commit must be skippable without
            # tripping the change-planner's own requirements (e.g. a
            # delete committed without change_feed has no recorded
            # row-level changes — irrelevant when the commit is being
            # skipped wholesale). The creation commit (an overwrite or
            # clone at v1) deletes nothing: the plan serves it as inserts
            op = _read_manifest(self._path, v).get("op")
            if op in _CHANGE_OPS and v > 1:
                if self._skip_change:
                    continue
                raise ValueError(
                    f"format('vt') stream at {self._path}: commit "
                    f"{v} ({op}) updates or deletes existing rows, "
                    "which an append-shaped table stream cannot "
                    "represent — set option('skipChangeCommits', "
                    "'true') to skip such commits, or read row-level "
                    "changes with option('readChangeFeed', 'true')"
                )
            parts.extend(
                _plan_change_partitions(self._path, v - 1, v)
            )
        return parts


def _read_change_partition(
    partition: _ChangePartition, target, colmap: dict
):
    """Executor-side: read one change partition with pyarrow and yield
    ``target``-schema Arrow batches — DV mask first, replay predicate
    second, then reconciliation to the reader's logical schema through
    ``colmap`` ({logical → physical}; identity when unmapped). Shared
    by the streaming source and both batch ``format('vt')`` readers —
    a snapshot scan's ``target`` is the table schema, so it gains no
    change columns."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    if partition is None:
        return  # a batch scan planned no partition: Spark reads one None
    for fname in partition.files:
        p = os.path.join(partition.path, fname)
        dset = ds.dataset(p, format="parquet")
        expr = (
            _pa_filter(partition.predicate)
            if partition.predicate
            else None
        )
        dvpos = (partition.dv or {}).get(fname)
        if dvpos:
            # deletion vectors address PHYSICAL row positions, so
            # the file is read unfiltered, DV'd rows are masked
            # out, and only then does any replay predicate apply
            import numpy as np

            tbl = dset.to_table()
            pos = np.asarray(dvpos, dtype=np.int64)
            if pos.size and (
                int(pos.max()) >= tbl.num_rows or int(pos.min()) < 0
            ):
                # a corrupt/stale sidecar would otherwise surface as
                # an opaque numpy IndexError on an executor — name
                # the file and the bad position instead (ADVICE r11)
                raise ValueError(
                    f"deletion-vector position {int(pos.max())} out "
                    f"of range for {p} ({tbl.num_rows} rows) — "
                    "corrupt or mismatched DV sidecar"
                )
            mask = np.ones(tbl.num_rows, dtype=bool)
            mask[pos] = False
            tbl = tbl.filter(pa.array(mask))
            if expr is not None:
                tbl = tbl.filter(expr)
        else:
            tbl = dset.to_table(filter=expr)
        n = tbl.num_rows
        cols = []
        for f in target:
            # column-mapped tables: the reader schema is LOGICAL,
            # the file columns PHYSICAL — resolve through the
            # reader-era map (identity when unmapped); physical
            # identity is stable across renames, so the one map is
            # valid for every emitted version
            lookup = colmap.get(f.name, f.name)
            if f.name == "_change_type":
                if partition.change_type is not None:
                    col = pa.array(
                        [partition.change_type] * n, type=f.type
                    )
                else:
                    col = tbl.column("_change_type").cast(f.type)
            elif f.name == "_commit_version":
                col = pa.array(
                    [partition.version] * n, type=f.type
                )
            elif lookup in tbl.column_names:
                if pa.types.is_struct(f.type):
                    # struct children match by PHYSICAL name (nested
                    # renames), null-fill (pre-evolution arity), cast
                    # leaves — pyarrow's own struct cast is strict
                    from ..sources.versioned import (
                        _arrow_reconcile_struct,
                        _nested_rel_map,
                    )

                    col = _arrow_reconcile_struct(
                        tbl.column(lookup),
                        f.type,
                        _nested_rel_map(colmap, f.name),
                    )
                else:
                    col = tbl.column(lookup).cast(f.type)
            else:
                # pre-evolution file: typed nulls, same reconciliation
                # as vt_read/_read_plan
                col = pa.nulls(n, type=f.type)
            cols.append(col)
        out = pa.table(cols, schema=target)
        for batch in out.to_batches():
            yield batch


class VersionedChangesDataSource(DataSource):
    """``spark.readStream.format("vt_changes").option("path", …)`` —
    see the module docstring for the offset/partition model."""

    @classmethod
    def name(cls) -> str:
        return CHANGE_SOURCE_NAME

    def schema(self):
        from pyspark.sql.types import (
            IntegerType,
            StringType,
            StructField,
            StructType,
        )

        from ..sources.versioned import (
            _local_path,
            _read_manifest,
            vt_head,
        )

        path = self.options.get("path")
        if not path:
            raise ValueError("vt_changes requires option 'path'")
        path = _local_path(path)
        m = _read_manifest(path, vt_head(path))
        if m.get("schema") is None:
            raise ValueError(
                "vt_changes requires a table with a recorded schema"
            )
        base = StructType.fromJson(m["schema"])
        return StructType(
            list(base.fields)
            + [
                StructField("_change_type", StringType(), False),
                StructField("_commit_version", IntegerType(), False),
            ]
        )

    def streamReader(self, schema):
        return _ChangesStreamReader(schema, self.options)


def _already_registered(exc: Exception) -> bool:
    """True when ``exc`` is the data-source manager refusing a name that
    is already registered. Decided by the error condition Spark attaches
    (``getCondition``; ``getErrorClass`` before Spark 4.0) — message
    wording is not a contract. Only an exception carrying no condition
    falls back to the condition name in its message."""
    getter = getattr(exc, "getCondition", None) or getattr(
        exc, "getErrorClass", None
    )
    condition = getter() if getter is not None else None
    if condition:
        return condition == "DATA_SOURCE_ALREADY_EXISTS"
    return "DATA_SOURCE_ALREADY_EXISTS" in str(exc)


def vt_change_stream(
    spark,
    path: str,
    starting_version: int = 0,
    max_versions_per_trigger: int | None = None,
):
    """Open the table's change feed as a STREAMING DataFrame. Registers
    the data source (idempotent) and returns
    ``spark.readStream.format("vt_changes")…load()`` — pair it with any
    sink/trigger; ``trigger(availableNow=True)`` gives the batch-catchup
    semantics ``pump_until_current`` provides on the call-driven side.

    ``max_versions_per_trigger`` is a PROCESSING-TIME-trigger tool (a
    continuous tail that must not swallow a backlog in one micro-batch);
    under ``availableNow`` Spark pins the end offset at query start, so
    a cap would stop the catch-up early — leave it unset there."""
    try:
        spark.dataSource.register(VersionedChangesDataSource)
    except Exception as exc:  # concurrent registration race (r15): a
        # sequential re-register silently overwrites, but two driver
        # threads registering at once can trip the JVM manager's
        # exists-check — the source being registered IS the desired
        # state, so the race loser proceeds
        if not _already_registered(exc):
            raise
    reader = (
        spark.readStream.format(CHANGE_SOURCE_NAME)
        .option("path", path)
        .option("startingVersion", str(starting_version))
    )
    if max_versions_per_trigger is not None:
        reader = reader.option(
            "maxVersionsPerTrigger", str(max_versions_per_trigger)
        )
    return reader.load()
