"""Tests of the benchmark's own logic (no Spark session needed).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

import hashlib
import json
import os
import re

import pytest

from perfbench import datagen, layers, stats
from perfbench.trace import Span, Tracer, self_times, union_length

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


# ------------------------------------------------------------ percentiles

@pytest.mark.parametrize("n, q", [
    (19, None), (40, 75.0), (99, 75.0), (100, 90.0), (199, 90.0),
    (200, 95.0), (1000, 99.0), (10000, 99.9),
])
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, q):
    got_q, got_v = stats.tail(list(range(n)))
    assert got_q == q
    if q is not None:
        beyond = sum(1 for x in range(n) if x > got_v)
        assert beyond >= stats.MIN_BEYOND


def test_summary_states_the_sample_count():
    s = stats.summary([3.0, 1.0, 2.0])
    assert s["n"] == 3 and s["p50"] == 2.0
    assert s["tail_q"] is None and not s["p90_ok"]
    assert stats.summary([]) == {"n": 0}


def test_percentile_interpolates_between_ranks():
    assert stats.percentile([0.0, 10.0], 50) == 5.0
    assert stats.percentile([1.0, 2.0, 3.0, 4.0, 5.0], 90) == \
        pytest.approx(4.6)


# -------------------------------------------------------------- self time

def _span(sid, start, end, parent=None):
    s = Span(sid, f"s{sid}", start, parent, "op")
    s.end = end
    return s


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 4.0, parent=1),
        _span(3, 3.0, 6.0, parent=1),   # overlaps span 2 (another thread)
        _span(4, 8.0, 12.0, parent=1),  # runs past its parent's end
        _span(5, 2.0, 3.0, parent=2),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - (5.0 + 2.0))
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[5] == pytest.approx(1.0)


def test_server_overhead_counts_only_the_outermost_engine_call():
    http = _span(1, 0.0, 10.0)
    dispatch = _span(2, 0.5, 9.5, parent=1)
    ev = _span(3, 1.0, 8.0, parent=2)
    wb = _span(4, 6.0, 8.0, parent=3)  # the eval's write-back
    http.name, dispatch.name = "http.eval", "server.dispatch"
    ev.name, wb.name = "api.eval", "api.write"
    m = layers.span_metrics([http, dispatch, ev, wb])
    assert m["server.overhead_p50_s"] == pytest.approx(3.0)
    assert m["api.eval_p50_s"] == pytest.approx(7.0)
    assert m["api.write_p50_s"] == 0.0  # no client _write in this run


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0


def test_tracer_links_spans_on_one_thread():
    t = Tracer(True)
    with t.span("outer", op="a"):
        with t.span("inner"):
            pass
    outer, = t.by_name("outer")
    inner, = t.by_name("inner")
    assert inner.parent == outer.id and inner.op == "a"
    assert Tracer(False).span("x").__enter__() is None


# ---------------------------------------------------------- metric names

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_are_valid():
    bench = _benchmark()
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert all(NAME.match(n) for n in names), names
    assert len(set(names)) == len(names)
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    for m in bench["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_benchmark_lists_exactly_what_the_runs_report():
    from perfbench import run

    bench = _benchmark()
    assert [m["name"] for m in bench["per_layer"]] == list(layers.all_keys())
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert run._unit(m["name"]) == m["unit"], m["name"]
    assert {m["name"] for m in bench["end_to_end"]} == {
        "setup_s", "peak_rss_mb", "p50_s", "rate_per_s", "cold_s"}


# --------------------------------------------------------- seeded inputs

def _tree_digest(path):
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(path):
        dirnames.sort()
        for fn in sorted(files):
            h.update(fn.encode())
            with open(os.path.join(dirpath, fn), "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    def make(root, seed):
        datagen.write_catalog(seed, str(root / "sf"), scale=0.002)
        datagen.write_fleet(datagen.fleet_table(seed, days=1),
                            str(root / "fleet"))
        return _tree_digest(str(root))

    a = make(tmp_path / "a", 7)
    b = make(tmp_path / "b", 7)
    c = make(tmp_path / "c", 8)
    assert a == b != c
    rows = datagen.fleet_slice_rows(7, 3, datagen.EPOCH, 2)
    assert rows == datagen.fleet_slice_rows(7, 3, datagen.EPOCH, 2)
    assert len(rows) == 2 * datagen.FLEET_HOSTS
