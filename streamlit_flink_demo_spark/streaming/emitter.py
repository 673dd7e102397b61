"""Changelog (retract-stream) emission from Structured Streaming.

THE hard part of reference parity (SURVEY.md §7 M2): Spark's update
output mode surfaces per-microbatch upserts but never UPDATE_BEFORE;
Flink result streams carry full retract semantics (+I/-U/+U/-D,
reference ``api/statements.py:160-169``). We synthesize the retract
pairs in ``foreachBatch`` by diffing each batch's upserted keyed rows
against a shadow snapshot of the previous state:

    key unseen            →  +I new
    key seen, value same  →  (nothing)
    key seen, changed     →  -U old, +U new      (emitted adjacently)
    key gone (complete
    mode diff only)       →  -D old

Scale posture: the shadow snapshot holds one entry per *group key* of
the aggregate (not per input row) — the same cardinality Spark's own
state store holds for the aggregation, so driver memory is bounded by
result cardinality, which for dashboard-style queries is small. The
result buffer is a bounded ring. For restart recovery the snapshot is
JSON-checkpointed per batch and rehydrated on construction, keeping
the emitted stream consistent with Spark's checkpointed state store
(same batchId replay → same diff → idempotent emission).
"""

from __future__ import annotations

import base64
import datetime
import decimal
import json
import os
import threading
from typing import Any

from pyspark.sql import DataFrame, Row

from streamlit_flink_demo_spark.changelog import (
    OP_DELETE,
    OP_INSERT,
    OP_UPDATE_AFTER,
    OP_UPDATE_BEFORE,
    freeze,
)

# -- snapshot value encoding ------------------------------------------------
# Snapshot keys/rows must ROUND-TRIP through JSON exactly: a rehydrated
# key that merely stringifies (json default=str) never equals a freshly
# collected tuple, so every pre-restart key would re-emit as a spurious
# +I and old rows in -U/-D would come back as strings. Values that
# appear in collected Spark rows (timestamps, dates, decimals, binary,
# window/session_window structs → Row, arrays, maps) get tagged
# encodings; Rows decode to plain tuples, which compare and hash equal
# to Row (a tuple subclass), so snapshot lookups still match live rows.


def _enc(v: Any) -> Any:
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, datetime.datetime):
        return {"$": "ts", "v": v.isoformat()}
    if isinstance(v, datetime.date):
        return {"$": "date", "v": v.isoformat()}
    if isinstance(v, decimal.Decimal):
        return {"$": "dec", "v": str(v)}
    if isinstance(v, (bytes, bytearray)):
        return {"$": "bin", "v": base64.b64encode(bytes(v)).decode()}
    if isinstance(v, Row) and hasattr(v, "__fields__"):
        # keep field names so recovered -U/-D rows still support
        # row["start"]-style access on window/session_window structs
        return {
            "$": "row",
            "f": list(v.__fields__),
            "v": [_enc(x) for x in v],
        }
    if isinstance(v, tuple):
        return {"$": "tup", "v": [_enc(x) for x in v]}
    if isinstance(v, list):
        return {"$": "list", "v": [_enc(x) for x in v]}
    if isinstance(v, dict):
        return {"$": "map", "v": [[_enc(k), _enc(x)] for k, x in v.items()]}
    return {"$": "str", "v": str(v)}  # last resort (lossy, logged type)


def _dec(v: Any) -> Any:
    if isinstance(v, dict) and "$" in v:
        t, x = v["$"], v["v"]
        if t == "ts":
            return datetime.datetime.fromisoformat(x)
        if t == "date":
            return datetime.date.fromisoformat(x)
        if t == "dec":
            return decimal.Decimal(x)
        if t == "bin":
            return base64.b64decode(x)
        if t == "row":
            return Row(*v["f"])(*[_dec(e) for e in x])
        if t == "tup":
            return tuple(_dec(e) for e in x)
        if t == "list":
            return [_dec(e) for e in x]
        if t == "map":
            return {_dec(k): _dec(e) for k, e in x}
        return x  # "str"
    return v


class ResultBuffer:
    """Thread-safe bounded append log of changelog records.

    Readers page with ``read(offset, limit)`` → (records, next_offset);
    an empty page is the keep-alive signal (reference
    ``api/statements.py:110-141`` yields None on empty pages).  The
    bound keeps driver memory finite on unbounded queries; ``base``
    tracks how many records have been evicted so offsets stay stable.
    """

    def __init__(self, max_records: int = 100_000):
        self._lock = threading.Lock()
        self._records: list[dict] = []
        self._base = 0
        self._max = max_records

    def append(self, records: list[dict]) -> None:
        with self._lock:
            self._records.extend(records)
            overflow = len(self._records) - self._max
            if overflow > 0:
                del self._records[:overflow]
                self._base += overflow

    def read(self, offset: int, limit: int) -> tuple[list[dict], int]:
        with self._lock:
            start = max(offset - self._base, 0)
            chunk = self._records[start : start + limit]
            return chunk, self._base + start + len(chunk)

    def size(self) -> int:
        with self._lock:
            return self._base + len(self._records)


class ChangelogEmitter:
    """foreachBatch sink that turns upserts into a retract stream.

    ``key_cols``: the aggregate's group-by columns (the upsert key).
    Empty key_cols → append-only stream (every row +I), for
    non-aggregated continuous projections like the reference's map
    query (``dashboard.py:100``).
    """

    def __init__(
        self,
        columns: list[str],
        key_cols: list[str],
        buffer: ResultBuffer | None = None,
        checkpoint_dir: str | None = None,
        full_snapshot: bool = False,
        keyless_batch_cap: int = 10_000,
        keyed_batch_cap: int | None = None,
        plan_stateful: bool | None = None,
        snapshot_key_warn: int = 100_000,
        snapshot_key_cap: int | None = None,
    ):
        self.columns = list(columns)
        self.key_idx = [self.columns.index(k) for k in key_cols]
        self.buffer = buffer if buffer is not None else ResultBuffer()
        # Keyless append-only statements (continuous projections like
        # the reference's map query) have per-batch row counts bounded
        # only by the source rate — the cap keeps the per-batch driver
        # collect finite at any event rate.
        self.keyless_batch_cap = keyless_batch_cap
        # Keyed update-mode batches are bounded by CHANGED-group
        # cardinality — small for dashboard aggregates, but a per-user
        # style key can make it corpus-sized. Opt-in cap: when set, the
        # per-batch driver transfer is bounded executor-side (rows past
        # the cap are dropped and the batch is flagged). The dropped
        # keys' snapshot entries go stale until those keys next change
        # — lossy, monotone, and surfaced; the unbounded default
        # matches the reference's client-materialization contract.
        self.keyed_batch_cap = keyed_batch_cap
        # batches that hit a cap (rows beyond it were dropped) —
        # surfaced in the statement envelope's status detail.
        self.truncated_batches = 0
        # Does the plan carry streaming state stores? (stream-stream
        # join, dropDuplicates…) A stateful plan must be consumed
        # COMPLETELY — a CollectLimit that skips partitions leaves
        # state stores uncommitted (STATE_STORE_COMMIT_VALIDATION_
        # FAILED on Spark 4.x) — so the cheap limit() fast path is
        # gated on PROVEN statelessness. The caller that owns the
        # streaming DataFrame should pass ``plan_stateful`` (the
        # statements façade inspects the analyzed streaming plan);
        # unset, the emitter falls back to inspecting the batch plan,
        # which for Python foreachBatch is an opaque `Scan
        # ExistingRDD` wrapper — indistinguishable from stateful, so
        # the fallback is the safe full drain.
        self._plan_stateful: bool | None = plan_stateful
        # The shadow snapshot holds one entry per group key — result
        # cardinality, NOT input cardinality. Dashboard aggregates are
        # small; a per-user key over a 100 TB corpus is not, and the
        # snapshot (plus its per-batch JSON checkpoint) would grow
        # unbounded on the driver. Two guards, both surfaced in the
        # statement envelope: a high-water WARNING past
        # ``snapshot_key_warn`` keys, and an opt-in hard
        # ``snapshot_key_cap`` that evicts the oldest-inserted keys
        # past the cap. Eviction trades exact retract semantics for
        # bounded memory: an evicted key's next change re-emits +I
        # instead of -U/+U — lossy, monotone, and counted, the same
        # contract as ``keyed_batch_cap``.
        self.snapshot_key_warn = snapshot_key_warn
        self.snapshot_key_cap = snapshot_key_cap
        self.snapshot_high_water = 0
        self.evicted_snapshot_keys = 0
        self._snapshot: dict[tuple, list[Any]] = {}
        # per-key multiplicity — only >1 in keyless complete mode, where
        # the "key" is the whole row and duplicates must not collapse
        self._counts: dict[tuple, int] = {}
        self._ckpt_dir = checkpoint_dir
        self._last_batch = -1
        # complete-output-mode sinks receive the FULL result each batch:
        # diff with drop detection (-D) instead of upsert-only.
        self.full_snapshot = full_snapshot
        if checkpoint_dir:
            os.makedirs(checkpoint_dir, exist_ok=True)
            self._rehydrate()

    # -- restart recovery ------------------------------------------------
    def _ckpt_path(self) -> str:
        return os.path.join(self._ckpt_dir, "snapshot.json")

    def _rehydrate(self) -> None:
        path = self._ckpt_path()
        if os.path.exists(path):
            with open(path) as f:
                payload = json.load(f)
            if payload.get("version") != 2:
                # pre-typed-encoding snapshot: its stringified values
                # can never equal live rows — starting fresh is the
                # lesser evil (re-emits +I once) vs. permanently
                # corrupted -U/-D payloads.
                return
            self._last_batch = payload["batch_id"]
            self._snapshot = {}
            self._counts = {}
            for k, row, count in payload["entries"]:
                key = tuple(_dec(e) for e in k)
                self._snapshot[key] = _dec(row)
                self._counts[key] = count

    def _persist(self, batch_id: int) -> None:
        if not self._ckpt_dir:
            return
        tmp = self._ckpt_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "version": 2,
                    "batch_id": batch_id,
                    "entries": [
                        [
                            [_enc(e) for e in k],
                            _enc(row),
                            self._counts.get(k, 1),
                        ]
                        for k, row in self._snapshot.items()
                    ],
                },
                f,
            )
        os.replace(tmp, self._ckpt_path())

    # -- the sink ----------------------------------------------------------
    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        """Apply one microbatch of upserted rows (update output mode).

        Replayed batches (batch_id ≤ last seen, happens on restart
        recovery) are skipped — the snapshot already reflects them, so
        re-diffing would emit nothing new but re-emitting is avoided
        explicitly for exactly-once changelog output.
        """
        # Always consume the batch: Spark's state-store commit happens
        # as part of executing the batch plan — returning early without
        # an action fails commit validation (observed on Spark 4.1:
        # STATE_STORE_COMMIT_VALIDATION_FAILED).
        rows, truncated = self._consume(batch_df)
        if batch_id <= self._last_batch:
            return  # replayed batch after restart: state applied, no re-emit
        if truncated:
            # counted AFTER the replay dedup so a restart replay of a
            # truncated batch doesn't double-count it.
            self.truncated_batches += 1
        if self.full_snapshot:
            self.apply_full_snapshot(rows)
        else:
            self.apply_upserts(rows)
        self._enforce_snapshot_bounds()
        self._last_batch = batch_id
        self._persist(batch_id)

    def _enforce_snapshot_bounds(self) -> None:
        """Track the snapshot's key high-water mark and, when a hard
        cap is set, evict oldest-inserted keys down to the cap (dict
        preserves insertion order). Complete-mode (full_snapshot)
        statements are exempt from eviction: their diff REQUIRES the
        full previous result or every missing key re-emits as a
        spurious -D/+I pair per batch."""
        n = len(self._snapshot)
        if n > self.snapshot_high_water:
            self.snapshot_high_water = n
        cap = self.snapshot_key_cap
        if cap and n > cap and not self.full_snapshot:
            import itertools

            for key in list(itertools.islice(self._snapshot, n - cap)):
                del self._snapshot[key]
                self._counts.pop(key, None)
            self.evicted_snapshot_keys += n - cap

    # -- bounded batch consumption ----------------------------------------
    def _is_stateful(self, batch_df: DataFrame) -> bool:
        if self._plan_stateful is None:
            try:
                plan = batch_df._jdf.queryExecution().executedPlan().toString()
            except Exception:
                self._plan_stateful = True  # unknown → safe full consume
                return True
            markers = (
                "StateStore",
                "StreamingDeduplicate",
                "StreamingSymmetricHashJoin",
                "FlatMapGroupsWithState",
                "TransformWithState",
                "SessionWindowStateStore",
                "StreamingGlobalLimit",
                # Python foreachBatch wraps the incremental plan in an
                # opaque ExistingRDD scan — statefulness is invisible,
                # so it must be ASSUMED (partial consume of a hidden
                # state store fails commit validation).
                "Scan ExistingRDD",
            )
            self._plan_stateful = any(m in plan for m in markers)
        return self._plan_stateful

    @staticmethod
    def _bounded_collect(
        batch_df: DataFrame, cap: int
    ) -> tuple[list[list[Any]], bool]:
        """Full consume, bounded driver MEMORY: drain the batch through
        ``toLocalIterator`` — every partition executes completely under
        the batch's own plan (state stores commit; an ``.rdd`` detour
        would re-plan without the streaming commit hooks and fail
        validation), the driver buffers one partition at a time, and
        only the first ``cap`` rows are retained. Transfer is O(batch)
        but resident memory is O(cap + one partition's page)."""
        rows: list[list[Any]] = []
        seen = 0
        for r in batch_df.toLocalIterator(prefetchPartitions=True):
            seen += 1
            if len(rows) < cap:
                rows.append(list(r))
        return rows, seen > cap

    def _consume(self, batch_df: DataFrame) -> tuple[list[list[Any]], bool]:
        if not self.key_idx and not self.full_snapshot:
            cap = self.keyless_batch_cap
            if not self._is_stateful(batch_df):
                # Keyless stateless projection: limit(n+1) plans a
                # CollectLimit — the driver never receives more than
                # cap+1 rows, and with no store to commit the partial
                # consume is safe (the cheapest path).
                rows = [list(r) for r in batch_df.limit(cap + 1).collect()]
                truncated = len(rows) > cap
                del rows[cap:]
                return rows, truncated
            # Keyless but stateful (stream-stream join, dropDuplicates):
            # must drain fully; bound the transfer instead of the scan.
            return self._bounded_collect(batch_df, cap)
        if self.key_idx and not self.full_snapshot and self.keyed_batch_cap:
            return self._bounded_collect(batch_df, self.keyed_batch_cap)
        # Keyed uncapped, or complete-mode snapshot diff: the full
        # result is required (a truncated complete-mode snapshot would
        # emit spurious -D for every unseen key).
        return [list(r) for r in batch_df.collect()], False

    def apply_upserts(self, rows: list[list[Any]]) -> list[dict]:
        """Diff upserted rows against the shadow snapshot; emit ops."""
        out: list[dict] = []
        if not self.key_idx:
            out = [{"op": OP_INSERT, "row": r} for r in rows]
        else:
            for row in rows:
                key = tuple(freeze(row[i]) for i in self.key_idx)
                old = self._snapshot.get(key)
                if old is None:
                    out.append({"op": OP_INSERT, "row": row})
                elif old != row:
                    out.append({"op": OP_UPDATE_BEFORE, "row": old})
                    out.append({"op": OP_UPDATE_AFTER, "row": row})
                # unchanged → no emission
                self._snapshot[key] = row
        self.buffer.append(out)
        return out

    def apply_full_snapshot(self, rows: list[list[Any]]) -> list[dict]:
        """Complete-mode diff: also detects dropped keys → -D.

        For sinks fed by ``outputMode("complete")`` (e.g. global top-k
        where keys can leave the result).

        With no key_cols the result is a BAG of rows: per-row
        multiplicity is diffed (duplicates don't collapse), and the
        single-row global-aggregate case (one row before and after)
        emits -U/+U — matching the update-mode upsert semantics for
        the same query — rather than -D old / +I new."""
        out: list[dict] = []
        if not self.key_idx:
            new_snap: dict[tuple, list[Any]] = {}
            new_counts: dict[tuple, int] = {}
            for row in rows:
                key = freeze(tuple(row))
                new_snap[key] = row
                new_counts[key] = new_counts.get(key, 0) + 1
            if (
                sum(self._counts.values()) == 1
                and sum(new_counts.values()) == 1
                and self._counts != new_counts
            ):
                (old_key,) = self._counts
                out.append(
                    {"op": OP_UPDATE_BEFORE, "row": self._snapshot[old_key]}
                )
                out.append({"op": OP_UPDATE_AFTER, "row": rows[0]})
            else:
                for key, row in new_snap.items():
                    added = new_counts[key] - self._counts.get(key, 0)
                    out.extend(
                        {"op": OP_INSERT, "row": row} for _ in range(added)
                    )
                for key, old in self._snapshot.items():
                    gone = self._counts[key] - new_counts.get(key, 0)
                    out.extend(
                        {"op": OP_DELETE, "row": old} for _ in range(gone)
                    )
            self._snapshot = new_snap
            self._counts = new_counts
            self.buffer.append(out)
            return out
        new_snap = {}
        for row in rows:
            key = tuple(freeze(row[i]) for i in self.key_idx)
            new_snap[key] = row
            old = self._snapshot.get(key)
            if old is None:
                out.append({"op": OP_INSERT, "row": row})
            elif old != row:
                out.append({"op": OP_UPDATE_BEFORE, "row": old})
                out.append({"op": OP_UPDATE_AFTER, "row": row})
        for key, old in self._snapshot.items():
            if key not in new_snap:
                out.append({"op": OP_DELETE, "row": old})
        self._snapshot = new_snap
        self._counts = {k: 1 for k in new_snap}
        self.buffer.append(out)
        return out
