"""Tests of the benchmark's own logic; no Spark needed.

    python -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import datetime
import json
import os
import re

import cqlwork
import pytest
import run
import stats
import tracing

#: the benchmark contract's rule for metric names
METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

UNIVERSE = cqlwork.Universe(
    customer=tuple(range(50)),
    orders=tuple(range(100, 160)),
    lines={k: (1, 2, 3) for k in range(100, 160)},
    users=tuple(range(10)),
)


def _base():
    cust = {
        (k,): {(): {"c_custkey": k, "c_name": f"Customer#{k:09d}", "c_nationkey": 1,
                    "c_acctbal": 10.5, "c_mktsegment": "BUILDING"}}
        for k in UNIVERSE.customer
    }
    cols = {"customer": ("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")}
    return {"customer": cust}, cols


def _cust(action, key, cols=(), ttl=None):
    return cqlwork.Mutation("customer", (key,), (), action, tuple(cols), ttl)


def test_same_seed_same_sequence():
    a = cqlwork.round_ops(7, UNIVERSE)
    b = cqlwork.round_ops(7, UNIVERSE)
    assert [op.cql for op in a] == [op.cql for op in b]


def test_other_seed_other_sequence():
    a = cqlwork.round_ops(7, UNIVERSE)
    b = cqlwork.round_ops(8, UNIVERSE)
    assert [op.cql for op in a] != [op.cql for op in b]


def test_round_mix_is_fixed():
    for seed in (1, 2, 3):
        ops = cqlwork.round_ops(seed, UNIVERSE, reads=8, lwts=2)
        kinds = [op.kind for op in ops]
        assert kinds.count("read") == 8
        assert kinds.count("lwt") == 2
        assert kinds.count("write") == 8 * sum(n for _, n in cqlwork.WRITE_BLOCK)
        assert sorted(op.table for op in ops if op.kind == "read") == sorted(
            cqlwork.READ_TABLES * 2)


def test_fill_writes_come_first():
    ops = cqlwork.round_ops(5, UNIVERSE, fill=300)
    kinds = [op.kind for op in ops]
    assert kinds[:300] == ["fill"] * 300
    assert "fill" not in kinds[300:]
    assert len(ops) - 300 == len(cqlwork.round_ops(5, UNIVERSE, fill=0))


def test_statements_name_declared_columns_only():
    declared = {t: set(c) | set(k for ks in cqlwork.KEYS[t] for k in ks)
                for t, c in cqlwork.WRITABLE.items()}
    for op in cqlwork.round_ops(3, UNIVERSE):
        for m in op.muts:
            assert {c for c, _ in m.cols} <= declared[m.table]


def test_percentile_needs_ten_samples_beyond():
    assert stats.percentile(range(19), 50) is None
    assert stats.percentile(range(20), 50) == 9
    assert stats.percentile(range(999), 99) is None
    assert stats.percentile(range(1000), 99) == 989
    assert stats.percentile(range(100), 90) == 89
    assert stats.percentile(range(99), 90) is None


def test_metric_names_are_well_formed():
    names = list(run.END_TO_END) + list(run.PER_LAYER)
    assert len(names) == len(set(names))
    for n in names:
        assert METRIC_NAME.fullmatch(n), n


def test_benchmark_json_matches_the_runner():
    path = os.path.join(run.ROOT, "BENCHMARK.json")
    with open(path) as f:
        doc = json.load(f)
    assert {w["name"] for w in doc["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in doc["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in doc["per_layer"]} == run.PER_LAYER


def test_model_rejects_a_corrupted_expected_value():
    rows, cols = _base()
    m = cqlwork.Model(rows, cols)
    m.apply((_cust("update", 3, [("c_acctbal", 99.25)]),))
    got = m.partition("customer", (3,))
    want = [dict(got[0], c_acctbal=99.26)]
    assert cqlwork.check_rows("customer", got, got) is None
    assert "c_acctbal" in cqlwork.check_rows("customer", got, want)
    assert cqlwork.check_rows("customer", got, []) is not None


def test_model_tolerates_float_rounding():
    row = {"c_custkey": 1, "c_acctbal": 0.1 + 0.2}
    assert cqlwork.check_rows("customer", [row], [dict(row, c_acctbal=0.3)]) is None


def test_update_writes_cells_without_a_row_marker():
    rows, cols = _base()
    m = cqlwork.Model(rows, cols)
    m.apply((_cust("update", 999, [("c_name", "x")]),))
    assert m.row("customer", (999,), ()) == {
        "c_custkey": 999, "c_name": "x", "c_nationkey": None,
        "c_acctbal": None, "c_mktsegment": None}
    # deleting its only cell leaves no live cell and no marker: invisible
    m.apply((_cust("delete_cells", 999, [("c_name", None)]),))
    assert m.row("customer", (999,), ()) is None


def test_buffered_tracks_written_partitions():
    rows, cols = _base()
    m = cqlwork.Model(rows, cols)
    assert not m.buffered("customer", (3,))
    m.apply((_cust("update", 3, [("c_name", "q")]),))
    assert m.buffered("customer", (3,)) and not m.buffered("customer", (4,))


def test_insert_marker_keeps_a_key_only_row_visible():
    rows, cols = _base()
    m = cqlwork.Model(rows, cols)
    m.apply((_cust("insert", 998, [("c_name", "y")]),))
    m.apply((_cust("delete_cells", 998, [("c_name", None)]),))
    assert m.row("customer", (998,), ())["c_name"] is None


def test_row_delete_shadows_older_cells_only():
    rows, cols = _base()
    m = cqlwork.Model(rows, cols)
    m.apply((_cust("update", 5, [("c_nationkey", 7)]),))
    m.apply((_cust("delete_row", 5),))
    assert m.row("customer", (5,), ()) is None
    m.apply((_cust("update", 5, [("c_acctbal", 1.25)]),))
    row = m.row("customer", (5,), ())
    assert row["c_acctbal"] == 1.25
    assert row["c_nationkey"] is None and row["c_name"] is None


def test_batch_shares_one_writetime():
    rows, cols = _base()
    m = cqlwork.Model(rows, cols)
    m.apply((_cust("update", 1, [("c_name", "a")]), _cust("delete_row", 2)))
    assert m.wt == 1
    assert m.row("customer", (2,), ()) is None
    assert m.row("customer", (1,), ())["c_name"] == "a"


def test_lwt_if_not_exists_and_condition():
    rows, cols = _base()
    m = cqlwork.Model(rows, cols)
    ins = _cust("insert", 4, [("c_name", "z")])
    op = cqlwork.Op("lwt", "", "customer", muts=(ins,), pk=(4,), ck=(), cond=())
    assert m.lwt(op) is False
    op = cqlwork.Op("lwt", "", "customer", muts=(_cust("insert", 777, [("c_name", "z")]),),
                    pk=(777,), ck=(), cond=())
    assert m.lwt(op) is True and m.row("customer", (777,), ())["c_name"] == "z"
    upd = _cust("update", 4, [("c_nationkey", 3)])
    op = cqlwork.Op("lwt", "", "customer", muts=(upd,), pk=(4,), ck=(),
                    cond=("c_mktsegment", "BUILDING"))
    assert m.lwt(op) is True and m.row("customer", (4,), ())["c_nationkey"] == 3
    op = cqlwork.Op("lwt", "", "customer", muts=(upd,), pk=(4,), ck=(),
                    cond=("c_mktsegment", "HOUSEHOLD"))
    assert m.lwt(op) is False


def test_duplicate_snapshot_keys_resolve_per_cell():
    a = {"k": 1, "x": 94, "y": "b", "z": None}
    b = {"k": 1, "x": 100, "y": "a", "z": 2.5}
    # the greater string form wins each cell; a null loses
    assert cqlwork._tie_merge(a, b) == {"k": 1, "x": 94, "y": "b", "z": 2.5}


@pytest.mark.parametrize("value, text", [
    (28.0, "28.0"),
    (75359.72, "75359.72"),
    (12345678.9, "1.23456789E7"),
    (1e7, "1.0E7"),
    (0.0001, "1.0E-4"),
    (datetime.datetime(1995, 8, 3), "1995-08-03 00:00:00"),
    (datetime.datetime(1995, 8, 3, 0, 0, 0, 500000), "1995-08-03 00:00:00.5"),
    (42, "42"),
])
def test_spark_string(value, text):
    assert cqlwork.spark_string(value) == text


def test_self_times_subtract_children():
    spans = [["a.x", 0.0, 10.0, None, 1], ["b.y", 1.0, 4.0, 0, 1], ["b.y", 5.0, 6.0, 0, 1]]
    assert tracing.self_times(spans) == {"a.x": 6.0, "b.y": 4.0}
    assert tracing.op_times(spans)[1]["b.y"] == (4.0, 4.0)


def test_tracer_records_only_when_enabled():
    t = tracing.Tracer()
    f = t.wrap(lambda: 1, "cql.parse")
    f()
    assert t.spans == []
    t.enabled = True
    t.set_op(3)
    assert f() == 1
    assert [s[0] for s in t.spans] == ["cql.parse"] and t.spans[0][4] == 3
