"""Changelog algebra unit + property tests (SURVEY.md §5.1).

Covers the semantics the reference implements in lib/flink.py:21-131:
op validation, arity checks, remove-by-value with warning on absent,
keep-alive skipping, and the collapse ≡ incremental-fold invariant.
"""

from __future__ import annotations

import logging
from unittest import mock

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from streamlit_flink_demo_spark import changelog
from streamlit_flink_demo_spark.changelog import (
    Changelog,
    ChangelogError,
    MaterializedTable,
    OP_DELETE,
    OP_INSERT,
    OP_UPDATE_AFTER,
    OP_UPDATE_BEFORE,
    freeze,
)

COLS = ["eyeColor", "n"]


def rec(op, *row):
    return {"op": op, "row": list(row)}


def test_insert_update_sequence():
    t = MaterializedTable(COLS)
    t.apply([rec(OP_INSERT, "brown", 1)])
    t.apply([rec(OP_UPDATE_BEFORE, "brown", 1), rec(OP_UPDATE_AFTER, "brown", 2)])
    assert t.rows == [["brown", 2]]


def test_delete_removes_single_copy():
    t = MaterializedTable(COLS)
    t.apply([rec(OP_INSERT, "blue", 1), rec(OP_INSERT, "blue", 1)])
    t.apply([rec(OP_DELETE, "blue", 1)])
    assert t.rows == [["blue", 1]]


def test_retract_absent_warns_not_raises(caplog):
    t = MaterializedTable(COLS)
    with caplog.at_level(logging.WARNING):
        t.apply([rec(OP_UPDATE_BEFORE, "green", 9)])
    assert len(t) == 0
    assert any("absent" in r.message for r in caplog.records)


def test_no_op_record_appends():
    t = MaterializedTable(COLS)
    t.apply([{"row": ["brown", 7]}])
    assert t.rows == [["brown", 7]]


def test_unknown_op_raises():
    t = MaterializedTable(COLS)
    with pytest.raises(ChangelogError):
        t.apply([rec(7, "brown", 1)])


def test_changelog_validates_arity():
    cl = Changelog(COLS, iter([{"op": OP_INSERT, "row": ["brown"]}]))
    with pytest.raises(ChangelogError):
        cl.consume(1)


def test_changelog_keepalive_stops_consume():
    src = iter([rec(OP_INSERT, "a", 1), None, rec(OP_INSERT, "b", 2)])
    cl = Changelog(COLS, src)
    assert len(cl.consume(10)) == 1  # stops at keep-alive
    assert len(cl.consume(10)) == 1  # resumes after
    assert cl.ops_received == {"+I": 2}


def test_cursor_carries_across_consumes():
    src = iter([rec(OP_INSERT, "a", i) for i in range(5)])
    cl = Changelog(COLS, src)
    assert len(cl.consume(2)) == 2
    assert len(cl.consume(2)) == 2
    assert len(cl.consume(2)) == 1
    assert len(cl.history) == 5


# -- property: collapse == incremental fold ---------------------------------

_ops = st.sampled_from([OP_INSERT, OP_UPDATE_BEFORE, OP_UPDATE_AFTER, OP_DELETE])
_rows = st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(0, 3))


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(_ops, _rows), max_size=40))
def test_collapse_equals_incremental_fold(history):
    records = [rec(op, *row) for op, row in history]
    cl = Changelog(COLS, iter(records))
    cl.consume(len(records) + 1)
    collapsed = cl.collapse()

    incremental = MaterializedTable(COLS)
    for r in records:
        incremental.apply([r])
    assert collapsed == incremental


def test_retract_then_reapply_is_identity():
    """-U immediately followed by +U of the same row preserves state."""
    t1 = MaterializedTable(COLS, [["a", 1], ["b", 2]])
    t2 = MaterializedTable(COLS, [["a", 1], ["b", 2]])
    t2.apply([rec(OP_UPDATE_BEFORE, "a", 1), rec(OP_UPDATE_AFTER, "a", 1)])
    assert t1 == t2


# -- differential: hash-indexed table vs the list-backed fold ---------------


class ListFold:
    """The list-backed fold ``MaterializedTable`` used before its hash
    index (the reference's ``Table.update``): append on +I/+U/no-op,
    ``list.remove`` of the first equal row on -U/-D, count the
    retractions of absent rows."""

    def __init__(self):
        self.rows: list[list] = []
        self.absent = 0

    def apply(self, records):
        for r in records:
            op, row = r.get("op", None), r["row"]
            if op in (OP_INSERT, OP_UPDATE_AFTER, None):
                self.rows.append(list(row))
            else:
                try:
                    self.rows.remove(list(row))
                except ValueError:
                    self.absent += 1


# Cells that are equal across types (1 == 1.0 == True) and list / dict
# cells, drawn per column as a typed schema would: a column holds lists
# or dicts, never both.
_num = st.sampled_from([0, 1, 1.0, True, 2, -0.0])
_cells = st.tuples(
    st.sampled_from(["a", "b"]),
    _num,
    st.none() | st.lists(_num, max_size=2),
    st.none() | st.dictionaries(st.sampled_from(["x", "y"]), _num, max_size=2),
)


@st.composite
def _histories(draw):
    # a small pool of rows so that retractions hit and duplicates occur
    pool = draw(st.lists(_cells, min_size=1, max_size=4))
    ops = st.sampled_from([OP_INSERT, OP_UPDATE_BEFORE, OP_UPDATE_AFTER, OP_DELETE, None])
    return [
        {"row": list(row)} if op is None else rec(op, *row)
        for op, row in draw(st.lists(st.tuples(ops, st.sampled_from(pool)), max_size=40))
    ]


@settings(max_examples=300, deadline=None)
@given(_histories())
def test_hash_index_matches_list_fold(history):
    oracle = ListFold()
    table = MaterializedTable(["k", "n", "l", "m"])
    had_duplicates = False
    with mock.patch.object(changelog.log, "warning") as warn:
        for r in history:
            oracle.apply([r])
            table.apply([r])
            # the same multiset, value for value (repr tells 1, 1.0 and
            # True apart), after every record
            assert sorted(map(repr, table.rows)) == sorted(map(repr, oracle.rows))
            assert len(table) == len(oracle.rows)
            keys = [freeze(row) for row in oracle.rows]
            had_duplicates |= len(set(keys)) < len(keys)
    assert warn.call_count == oracle.absent
    if not had_duplicates:
        assert repr(table.rows) == repr(oracle.rows)
    whole = MaterializedTable(table.columns)
    with mock.patch.object(changelog.log, "warning"):
        whole.apply(history)
    assert repr(whole.rows) == repr(table.rows)


def test_rows_is_a_copy():
    """Editing what ``rows`` returned leaves the table and its index
    intact."""
    t = MaterializedTable(COLS, [["a", [1, 2]]])
    t.rows[0].append("x")
    assert t.rows == [["a", [1, 2]]]
    t.apply([rec(OP_DELETE, "a", [1, 2])])
    assert len(t) == 0
