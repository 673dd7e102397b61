"""Retract-stream changelog algebra — the client-side SDK.

The reference's one genuine in-repo data-processing operator is the
client-side materialization of a Flink changelog (reference
``lib/flink.py:21-131``): result rows arrive tagged with op codes

    0  +I  INSERT
    1  -U  UPDATE_BEFORE   (retraction of the previous value)
    2  +U  UPDATE_AFTER
    3  -D  DELETE

(op meanings documented at reference ``api/statements.py:160-169``),
and a consumer incrementally folds them into the current table state.
This module reimplements those semantics for our engine:

- ``MaterializedTable`` — incremental view maintenance over a record
  stream (reference ``lib/flink.py:21-45`` ``Table.update``).
- ``Changelog`` — validation + cursor-based consumption + full replay
  (reference ``lib/flink.py:53-131``).

Wire shape matches the reference exactly so its dashboard could point
at our engine: ``{"op": <int>, "row": [...]}`` for changelog results,
``{"row": [...]}`` for append-only results, ``None`` as keep-alive
(reference ``api/statements.py:146-169``).
"""

from __future__ import annotations

import logging
from collections.abc import Iterable, Iterator
from itertools import chain
from typing import Any

log = logging.getLogger(__name__)

# Op codes (Flink changelog kinds; reference api/statements.py:160-169)
OP_INSERT = 0  # +I
OP_UPDATE_BEFORE = 1  # -U
OP_UPDATE_AFTER = 2  # +U
OP_DELETE = 3  # -D

OP_LABELS = {
    OP_INSERT: "+I",
    OP_UPDATE_BEFORE: "-U",
    OP_UPDATE_AFTER: "+U",
    OP_DELETE: "-D",
}


class ChangelogError(ValueError):
    """Raised on malformed changelog records (bad op / wrong arity)."""


def freeze(v: Any) -> Any:
    """Hashable stand-in for a row value, used as a lookup key by the
    emitter's snapshots and by ``MaterializedTable``: Spark rows carry
    Python lists for array columns and dicts for maps, and wire rows
    carry JSON arrays and objects — ``tuple(row)`` over those raises
    TypeError (inside foreachBatch it kills the query, e.g. a keyless
    complete-mode ``collect_list`` aggregate). Only the keys are
    frozen, deterministically, so equality across batches and across a
    JSON-checkpoint round-trip is preserved (decoded tuples compare
    equal to frozen lists). Scalars are kept as they are, so frozen
    keys compare and hash the way the cells do (``1 == 1.0 == True``)."""
    if isinstance(v, (list, tuple)):  # tuple includes Row
        return tuple(freeze(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((freeze(k), freeze(x)) for k, x in v.items()))
    if isinstance(v, (bytearray, bytes)):
        return bytes(v)
    return v


class MaterializedTable:
    """Incrementally-maintained snapshot of a changelog stream.

    Semantics follow the reference (``lib/flink.py:27-45``): additive
    ops append the row; retractive ops remove one occurrence *by
    value* (duplicates allowed — a retraction removes a single copy);
    retracting an absent row is a warning, not an error; records with
    no op (append-only results) are appended.

    The table is an insertion-ordered multiset: a dict from the frozen
    row (``freeze``) to the row's live copies, oldest first. Applying a
    record is one dict update, O(1) whatever the table's size, where
    the reference's ``list.remove`` scans the table per retraction.
    ``rows`` lists distinct rows in the order of the list the
    reference keeps: a row is appended when it appears, so an upsert
    (-U old, +U new) moves the row to the end. Copies of one row are
    listed together, at the position of the oldest live copy, and a
    retraction removes the oldest copy — the reference interleaves
    duplicates in arrival order instead, with the same multiset.
    """

    def __init__(self, columns: list[str], rows: list[list[Any]] | None = None):
        self.columns = list(columns)
        self._copies: dict[Any, list[list[Any]]] = {}
        self._len = 0
        self.apply({"row": r} for r in rows or [])

    @property
    def rows(self) -> list[list[Any]]:
        """The current rows, as fresh lists (mutating them does not
        change the table)."""
        return list(map(list, chain.from_iterable(self._copies.values())))

    def apply(self, records: Iterable[dict]) -> "MaterializedTable":
        table = self._copies
        for rec in records:
            if rec is None:  # keep-alive
                continue
            op = rec.get("op", None)
            row = rec["row"]
            if op in (OP_INSERT, OP_UPDATE_AFTER, None):
                key = freeze(row)
                copies = table.get(key)
                if copies is None:
                    table[key] = [list(row)]
                else:
                    copies.append(list(row))
                self._len += 1
            elif op in (OP_UPDATE_BEFORE, OP_DELETE):
                key = freeze(row)
                copies = table.get(key)
                if copies is None:
                    log.warning(
                        "retraction %s for absent row %r ignored",
                        OP_LABELS.get(op, op),
                        row,
                    )
                    continue
                if len(copies) == 1:
                    del table[key]
                else:
                    del copies[0]
                self._len -= 1
            else:
                raise ChangelogError(f"unknown op code {op!r} in {rec!r}")
        return self

    def to_pandas(self):
        import pandas as pd

        return pd.DataFrame(self.rows, columns=self.columns)

    def __len__(self) -> int:
        return self._len

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, MaterializedTable)
            and self.columns == other.columns
            and sorted(map(str, self.rows)) == sorted(map(str, other.rows))
        )


class Changelog:
    """Validating cursor over a stream of changelog records.

    ``consume(limit)`` pulls up to ``limit`` records from the source
    generator (the generator itself is the cursor — no offset
    bookkeeping, like the reference notes at ``lib/flink.py:104-108``),
    skips ``None`` keep-alives, validates each record against the
    schema, and appends to ``history``. ``collapse()`` replays the
    full history into a fresh MaterializedTable — the invariant

        collapse(history) == fold(apply, history)

    is property-tested (tests/test_changelog.py).
    """

    def __init__(self, columns: list[str], source: Iterator[dict | None]):
        self.columns = list(columns)
        self._source = source
        self.history: list[dict] = []
        self.ops_received: dict[str, int] = {}

    def validate(self, rec: dict) -> dict:
        if not isinstance(rec, dict) or "row" not in rec:
            raise ChangelogError(f"malformed record {rec!r}")
        op = rec.get("op", None)
        if op is not None and op not in OP_LABELS:
            raise ChangelogError(f"unknown op code {op!r}")
        row = rec["row"]
        if len(row) != len(self.columns):
            raise ChangelogError(
                f"row arity {len(row)} != schema arity {len(self.columns)}: {row!r}"
            )
        return rec

    def consume(self, limit: int = 1) -> list[dict]:
        """Pull ≤ limit validated records; stop early on exhaustion or
        a keep-alive (so continuous queries return control quickly)."""
        new: list[dict] = []
        for _ in range(limit):
            try:
                rec = next(self._source)
            except StopIteration:
                break
            if rec is None:  # keep-alive: yield control to the caller
                break
            rec = self.validate(rec)
            label = OP_LABELS.get(rec.get("op", None), "+A")
            self.ops_received[label] = self.ops_received.get(label, 0) + 1
            new.append(rec)
        self.history.extend(new)
        return new

    def collapse(self) -> MaterializedTable:
        return MaterializedTable(self.columns).apply(self.history)
