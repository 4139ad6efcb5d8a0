"""Self-tests of the benchmark harness. None of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os

import pytest

import gen
import layers
import run
from spans import Span, Tracer, outermost, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _files(d):
    return sorted(os.listdir(d))


def _lines(path):
    with open(path, "rb") as f:
        return f.read().count(b"\n")


# -- input generation ------------------------------------------------------


def test_query_tables_same_seed_byte_identical(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    rows_a = gen.write_query_tables(str(a), seed=7, fraction=0.01)
    rows_b = gen.write_query_tables(str(b), seed=7, fraction=0.01)
    assert rows_a == rows_b
    assert _files(a) == [f"{t}.parquet" for t in sorted(rows_a)]
    match, mismatch, errors = filecmp.cmpfiles(a, b, _files(a), shallow=False)
    assert mismatch == [] and errors == []


def test_query_tables_other_seed_same_size_other_values(tmp_path):
    import pyarrow.parquet as pq

    rows_a = gen.write_query_tables(str(tmp_path / "a"), seed=7, fraction=0.01)
    rows_b = gen.write_query_tables(str(tmp_path / "b"), seed=8, fraction=0.01)
    assert rows_a == rows_b
    ta = pq.read_table(tmp_path / "a" / "lineitem.parquet")
    tb = pq.read_table(tmp_path / "b" / "lineitem.parquet")
    assert ta.schema == tb.schema
    assert not ta.equals(tb)


def test_etl_inputs_same_seed_byte_identical(tmp_path):
    a = gen.write_etl_inputs(str(tmp_path / "a"), seed=3, base_rows=300, change_rows=100)
    b = gen.write_etl_inputs(str(tmp_path / "b"), seed=3, base_rows=300, change_rows=100)
    for fa, fb in ((a.base_csv, b.base_csv), (a.change_csv, b.change_csv), (a.schema_json, b.schema_json)):
        assert filecmp.cmp(fa, fb, shallow=False)
    assert (a.inserts, a.points) == (b.inserts, b.points)


def test_etl_inputs_other_seed_same_size(tmp_path):
    a = gen.write_etl_inputs(str(tmp_path / "a"), seed=3, base_rows=300, change_rows=100)
    b = gen.write_etl_inputs(str(tmp_path / "b"), seed=4, base_rows=300, change_rows=100)
    assert _lines(a.base_csv) == _lines(b.base_csv) == 301
    assert _lines(a.change_csv) == _lines(b.change_csv) == 101
    assert not filecmp.cmp(a.base_csv, b.base_csv, shallow=False)


def test_etl_change_batch_shape(tmp_path):
    """Latin-1 bytes (so the utf-8 read falls back), roughly half
    updates, a few duplicate keys, and the corrupt-Z geometries."""
    inp = gen.write_etl_inputs(str(tmp_path), seed=5, base_rows=2000, change_rows=1000)
    raw = open(inp.change_csv, "rb").read()
    with pytest.raises(UnicodeDecodeError):
        raw.decode("utf-8")
    keys = [int(line.split(b",", 1)[0]) for line in raw.splitlines()[1:]]
    updates = sum(k < inp.base_rows for k in keys)
    assert 0.4 < updates / len(keys) < 0.6
    assert 0 < len(keys) - len(set(keys)) < 0.05 * len(keys)
    assert inp.inserts == len({k for k in keys if k >= inp.base_rows})
    base = open(inp.base_csv, encoding="utf-8").read()
    assert "1.#QNAN000" in base and "MULTIPOINT EMPTY" in base
    assert "SRID=" in base and all(s.startswith("2272;") for s in base.split("SRID=")[1:])


# -- spans -----------------------------------------------------------------


def _span(name, parent, t0, t1, layer=None):
    s = Span(name, layer or name, parent, t0)
    s.t1 = t1
    return s


def test_self_time_subtracts_direct_children_only():
    spans = [
        _span("pass", None, 0.0, 10.0),
        _span("op.a", 0, 1.0, 4.0),
        _span("leaf", 1, 1.5, 3.5),
        _span("op.b", 0, 5.0, 9.0),
    ]
    assert self_times(spans) == pytest.approx([3.0, 1.0, 2.0, 4.0])


def test_self_time_never_counts_overlap_twice():
    spans = [
        _span("root", None, 0.0, 10.0),
        _span("a", 0, 2.0, 6.0),
        _span("b", 0, 4.0, 8.0),  # overlaps a by 2 s
        _span("c", 0, 9.0, 12.0),  # runs past the parent's end
    ]
    assert self_times(spans)[0] == pytest.approx(10.0 - 6.0 - 1.0)


def test_outermost_counts_nested_same_layer_once():
    spans = [
        _span("pass", None, 0, 10),
        _span("outer", 0, 1, 5, layer="operators.similarity"),
        _span("inner", 1, 2, 3, layer="operators.similarity"),
        _span("other", 0, 6, 7, layer="operators.similarity"),
    ]
    got = outermost(spans, [1, 2, 3], lambda s: s.layer == "operators.similarity")
    assert got == [1, 3]


def test_tracer_nests_and_restores_patches():
    import types

    tr = Tracer()
    mod = types.ModuleType("databridge_etl_tools_spark._fake")

    def f(x):
        with tr.span("inside"):
            return x + 1

    f.__module__ = mod.__name__
    mod.f = f
    import sys

    sys.modules[mod.__name__] = mod
    try:
        tr.patch_functions(mod, "fake")
        with tr.span("outer"):
            assert mod.f(1) == 2
        tr.restore()
        assert mod.f is f
    finally:
        del sys.modules[mod.__name__]
    names = [(s.name, s.parent) for s in tr.spans]
    assert names == [("outer", None), ("fake.f", 0), ("inside", 1)]


# -- failures are counted --------------------------------------------------


class _FakeWorkload:
    def __init__(self):
        self.calls = []

    def begin_pass(self):
        pass

    def ops(self):
        def ok(_tracer):
            self.calls.append("ok")
            return "out"

        def boom(_tracer):
            self.calls.append("boom")
            raise RuntimeError("injected")

        from workloads import Op

        return [Op("boom", boom), Op("ok", ok)]


def test_raising_operation_is_counted_failed_not_skipped():
    wl, tally, results = _FakeWorkload(), run.Tally(), {}
    root, times = run.run_pass(wl, Tracer(), tally, results)
    assert wl.calls == ["boom", "ok"]  # the pass went on
    assert (tally.attempted, tally.failed) == (2, 1)
    assert set(times) == {"boom", "ok"}
    assert results == {"ok": "out"}
    assert "injected" in tally.errors[0]


def test_failed_and_raising_checks_are_counted():
    tally = run.Tally()
    tally.check("good", lambda: None)
    tally.check("wrong", lambda: "rows 3 != oracle 4")
    tally.check("raises", lambda: 1 / 0)
    assert (tally.attempted, tally.failed) == (3, 2)


# -- the metric names match BENCHMARK.json ---------------------------------


def test_benchmark_json_lists_what_the_run_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.PER_LAYER
    from workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
