"""vt_dml: one long-lived ``vt`` table of event rows kept at constant size.
Each cycle appends, merges (with change feed), deletes the oldest rows,
updates one user's rows, counts a predicate read and reads the change feed
since the previous cycle; every 10th cycle also compacts and vacuums."""

from __future__ import annotations

import os
from collections import Counter, defaultdict
from typing import Iterator

from core import Op, Record, execute, timed_window
from inputs import EVENT_TYPES, USERS, event_row, vt_update_user

TABLE_ROWS = 50_000
LEG_TABLE_ROWS = 5_000
BATCH = 500
MAINT_EVERY = 10
CYCLE_OPS = 6  # a cycle without maintenance
WARM_OPS = 4 * CYCLE_OPS  # four whole cycles, before the first maintenance
VERBS = ("append", "merge", "delete", "update", "read", "changes", "compact", "vacuum")
SCHEMA = ("event_id", "user_id", "event_type", "value", "ver")


def ends_rotation(op: Op) -> bool:
    """The last op of a cycle: its ``changes`` read, or the vacuum of a
    cycle with maintenance."""
    return op.meta.get("ends_cycle", False)


class VtDml:
    def __init__(self, spark, seed: int, work_dir: str, table_rows: int) -> None:
        from dynamicqueryengine_spark.sources.versioned import vt_write

        self.spark = spark
        self.seed = seed
        self.rows = table_rows
        self.path = os.path.join(work_dir, "vt_events")
        self.head = vt_write(spark, self.path, self.frame(0, table_rows, 0), mode="overwrite")
        self.base_version = self.head
        self.tracer = None
        self.rewrites = Counter()
        self.written = 0
        self.user_rows = 0
        self.append_bytes = 0
        self.append_rows = 0

    def frame(self, lo: int, hi: int, ver: int):
        """Rows [lo, hi) at version ``ver``, built on the JVM with the same
        integer formulas as ``inputs.event_row``."""
        from pyspark.sql import functions as F

        i, s = F.col("id"), self.seed
        etype = F.element_at(
            F.array(*[F.lit(t) for t in EVENT_TYPES]),
            (F.pmod(i * 31 + (ver * 17 + s), F.lit(3)) + 1).cast("int"),
        )
        return self.spark.range(lo, hi, 1, max(1, (hi - lo) // BATCH)).select(
            i.alias("event_id"),
            F.pmod(i * 7919 + (ver * 104729 + s * 15485863), F.lit(USERS)).alias("user_id"),
            etype.alias("event_type"),
            (F.pmod(i * 2654435761 + (ver * 40503 + s * 97), F.lit(100000)) / 100.0).alias("value"),
            F.lit(ver).cast("long").alias("ver"),
        )

    # -- the op schedule --------------------------------------------------------
    def ops(self) -> Iterator[Op]:
        from dynamicqueryengine_spark.sources import versioned as vt

        spark, path = self.spark, self.path
        lo, hi = 0, self.rows
        prev = self.head
        cycle = 0
        while True:
            cycle += 1
            # the merge corrects the rows the previous cycle appended (late
            # data): the same file shape every cycle, whatever the seed
            m, user = hi - BATCH, vt_update_user(self.seed, cycle)
            yield self._dml("append", lambda a=hi, c=cycle: vt.vt_write(
                spark, path, self.frame(a, a + BATCH, c), mode="append"),
                lo=hi, hi=hi + BATCH, ver=cycle)
            hi += BATCH
            yield self._dml("merge", lambda c=cycle, a=m: vt.vt_merge(
                spark, path, self.frame(a, a + BATCH, c), ["event_id"], change_feed=True),
                lo=m, hi=m + BATCH, ver=cycle)
            yield self._dml("delete", lambda t=lo + BATCH: vt.vt_delete(
                spark, path, ("event_id", "<", t), change_feed=True), below=lo + BATCH)
            lo += BATCH
            yield self._dml("update", lambda u=user: vt.vt_update(
                spark, path, ("user_id", "=", u), {"value": "value + 1"}, change_feed=True),
                user=user)
            yield self._op("read", lambda: vt.vt_read(
                spark, path, predicate=("event_type", "=", "buy")).count())
            meta = {"from": prev, "ends_cycle": cycle % MAINT_EVERY != 0}

            def changes(meta=meta):
                meta["to"] = self.head
                return vt.vt_read_changes(spark, path, meta["from"], meta["to"]).select(
                    *SCHEMA, "_change_type", "_commit_version").collect()

            yield self._op("changes", changes, meta)
            prev = self.head
            if cycle % MAINT_EVERY == 0:
                yield from self.maintenance_ops()
                prev = self.head

    def maintenance_ops(self) -> list[Op]:
        from dynamicqueryengine_spark.sources import versioned as vt

        spark, path = self.spark, self.path
        return [
            self._dml("compact", lambda: vt.vt_compact(spark, path)),
            self._op("vacuum", lambda: vt.vt_vacuum(spark, path, keep_last=2, grace_seconds=0),
                     {"ends_cycle": True}),
        ]

    def traced_window(self, tracer, ops: Iterator[Op], seconds: float) -> list[Record]:
        """The traced window, run to the end of a cycle, plus one maintenance
        pair so compaction and vacuum are always measured."""
        self.tracer = tracer
        records, _ = timed_window(ops, seconds, 10, ends_rotation)
        return records + [execute(op) for op in self.maintenance_ops()]

    def leg(self, tracer) -> list[Record]:
        """One traced cycle and a maintenance pair (a cold, short leg)."""
        self.tracer = tracer
        ops = self.ops()
        records = [execute(next(ops)) for _ in range(CYCLE_OPS)]
        return records + [execute(op) for op in self.maintenance_ops()]

    def _dml(self, kind: str, call, **meta) -> Op:
        """A committing op: its output is the committed version."""

        def run():
            self.head = call()
            return self.head

        return self._op(kind, run, meta)

    def _op(self, kind: str, run, meta: dict | None = None) -> Op:
        if self.tracer is None:
            return Op(kind, run, meta or {})
        return Op(kind, lambda: self._traced(kind, run), meta or {})

    def _traced(self, kind: str, run):
        from dynamicqueryengine_spark.sources.versioned import vt_history

        before = _files(self.path)
        self.tracer.next_op()
        with self.tracer.span(f"vt.{kind}", jobs=True):
            out = run()
        new = {f: size for f, size in _files(self.path).items() if f not in before}
        self.written += sum(new.values())
        if kind in ("append", "merge"):
            self.user_rows += BATCH
        if kind == "append":  # its data files hold exactly the BATCH new rows
            self.append_rows += BATCH
            self.append_bytes += sum(
                size for f, size in new.items()
                if os.path.basename(os.path.dirname(f)).startswith("d_")
                and os.path.basename(f).startswith("part-")
            )
        if kind in ("merge", "delete", "update"):
            blob = vt_history(self.path)[0].get(kind) or {}
            self.rewrites["rewritten"] += blob.get("files_rewritten", 0)
            self.rewrites["total"] += blob.get("files_total", 0)
        return out

    # -- output checks (after the window) -----------------------------------------
    def check(self, records: list[Record]) -> list[str]:
        """Replay the schedule against a Python copy of the table. Marks each
        op whose output disagrees; returns run-level problems (the final
        snapshot or the change-feed replay not matching the tracked state)."""
        from dynamicqueryengine_spark.sources.versioned import vt_read, vt_read_changes

        seed = self.seed
        state = Tracked({i: event_row(i, 0, seed) for i in range(self.rows)})
        replay = dict(state.rows)
        per_version: dict[int, Counter] = {}
        last = self.base_version
        replayed_to = self.base_version
        for r in records:
            kind, meta = r.op.kind, r.op.meta
            if r.error is not None:
                continue
            if kind in ("append", "merge", "delete", "update", "compact"):
                if not isinstance(r.output, int) or r.output < last + (kind != "compact"):
                    r.wrong = f"version {r.output} after {last}"
                    continue
                last = r.output
                counts = Counter()
                if kind in ("append", "merge"):
                    for i in range(meta["lo"], meta["hi"]):
                        counts["update_preimage" if state.pop(i) else "insert"] += 1
                        state.put(event_row(i, meta["ver"], seed))
                    counts["update_postimage"] = counts["update_preimage"]
                elif kind == "delete":
                    while state.rows and state.lowest < meta["below"]:
                        state.pop(state.lowest)
                        counts["delete"] += 1
                elif kind == "update":
                    for k in list(state.by_user[meta["user"]]):
                        row = state.pop(k)
                        state.put(row[:3] + (row[3] + 1.0,) + row[4:])
                        counts["update_preimage"] += 1
                    counts["update_postimage"] = counts["update_preimage"]
                per_version[r.output] = +counts
            elif kind == "read":
                if r.output != state.n_buy:
                    r.wrong = f"read count {r.output}, expected {state.n_buy}"
            elif kind == "changes":
                want = sum(
                    (c for v, c in per_version.items() if meta["from"] < v <= meta["to"]),
                    Counter(),
                )
                got = Counter(row["_change_type"] for row in r.output)
                if got != want:
                    r.wrong = f"change feed {dict(got)}, expected {dict(want)}"
                _replay(replay, r.output)
                replayed_to = meta["to"]
        state = state.rows
        if replayed_to != self.head:  # the run ended mid-cycle: read the rest
            _replay(replay, vt_read_changes(self.spark, self.path, replayed_to, self.head).collect())
        problems = []
        snap = {row[0]: tuple(row) for row in vt_read(self.spark, self.path).collect()}
        if snap.keys() != state.keys() or len(snap) != len(state):
            problems.append(f"snapshot has {len(snap)} keys, tracked state {len(state)}")
        elif snap != state:
            problems.append("snapshot rows differ from the tracked state")
        if replay != snap:
            diff = sorted(k for k in snap.keys() | replay.keys() if snap.get(k) != replay.get(k))
            problems.append(
                f"change-feed replay differs from the snapshot on {len(diff)} keys, "
                f"e.g. {diff[0]}: {replay.get(diff[0])} vs {snap.get(diff[0])}"
            )
        return problems

    def exec_spans(self, tracer) -> list:
        return [s for s in tracer.spans if s.name.startswith("vt.")]

    def layer_metrics(self, tracer) -> dict:
        out = {}
        for verb in VERBS:
            out[f"vt.{verb}_ms"] = tracer.median_ms(f"vt.{verb}")
            out[f"vt.{verb}_jobs"] = tracer.median_of(f"vt.{verb}", "jobs")
        out["vt.files_rewritten_ratio"] = self.rewrites["rewritten"] / max(1, self.rewrites["total"])
        # user bytes: the appended and merged rows, at the bytes per row of
        # the data files the appends wrote (which hold only new rows)
        user_bytes = self.user_rows * self.append_bytes / max(1, self.append_rows)
        out["vt.bytes_written_per_user_byte"] = self.written / max(1.0, user_bytes)
        out["vt.table_bytes"] = self.table_bytes()
        return out

    def table_bytes(self) -> int:
        return sum(_files(self.path).values())


class Tracked:
    """The table's expected rows, indexed for the checks: by user (for
    updates), lowest key (for deletes of the oldest rows) and buy count."""

    def __init__(self, rows: dict[int, tuple]) -> None:
        self.rows: dict[int, tuple] = {}
        self.by_user: dict[int, set] = defaultdict(set)
        self.n_buy = 0
        self.lowest = min(rows)
        for row in rows.values():
            self.put(row)

    def put(self, row: tuple) -> None:
        self.rows[row[0]] = row
        self.lowest = min(self.lowest, row[0])
        self.by_user[row[1]].add(row[0])
        self.n_buy += row[2] == "buy"

    def pop(self, key: int) -> tuple | None:
        row = self.rows.pop(key, None)
        if row is not None:
            self.by_user[row[1]].discard(key)
            self.n_buy -= row[2] == "buy"
            while self.rows and self.lowest not in self.rows:
                self.lowest += 1
        return row


def _replay(state: dict, changes) -> None:
    """Fold change rows into ``state`` commit by commit: removals (delete,
    pre-image) before additions (insert, post-image) within a commit."""
    by_version: dict[int, list] = {}
    for row in changes:
        by_version.setdefault(row["_commit_version"], []).append(row)
    for v in sorted(by_version):
        rows = by_version[v]
        for row in rows:
            if row["_change_type"] in ("delete", "update_preimage"):
                state.pop(row["event_id"], None)
        for row in rows:
            if row["_change_type"] in ("insert", "update_postimage"):
                state[row["event_id"]] = tuple(row[c] for c in SCHEMA)


def _files(root: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:  # removed by a concurrent vacuum
                pass
    return out
