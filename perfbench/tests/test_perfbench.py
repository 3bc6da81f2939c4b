"""Tests for the benchmark's own code (no Spark session needed).

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import datagen  # noqa: E402
import run  # noqa: E402
import sparkstats  # noqa: E402
import workloads  # noqa: E402
from stats import TAIL_BEYOND, median, tail  # noqa: E402
from tracing import Span, Tracer, layer_self_times, self_times  # noqa: E402


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_printed_metric_names_and_units_match_benchmark_json():
    spec = _bench_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)


@pytest.mark.parametrize("n", [1, 2, 5, 20, 21, 22, 23, 37, 100, 1000])
def test_tail_keeps_ten_samples_beyond_it(n):
    xs = [float((i * 7919) % 1009) + i / 1e6 for i in range(n)]  # distinct, shuffled
    value, pct, beyond = tail(xs)
    above = sum(x > value for x in xs)
    assert above == beyond
    if n >= 2 * TAIL_BEYOND + 2:
        assert beyond == TAIL_BEYOND
        # the next-higher rank would leave fewer than ten beyond it
        assert sorted(xs)[n - TAIL_BEYOND] > value
    else:
        # too few samples for a ten-sample tail above the median: the
        # upper median, never below op_p50_s
        assert value == sorted(xs)[n // 2]
    assert value >= median(xs)
    assert pct == pytest.approx(100.0 * (n - beyond) / n)
    assert median(xs) == pytest.approx(sorted(xs)[n // 2] if n % 2 else
                                       (sorted(xs)[n // 2 - 1] + sorted(xs)[n // 2]) / 2)


def test_self_time_is_duration_minus_child_coverage():
    spans = [
        Span("op", 0.0, 10.0, None, 0),
        Span("plans.build", 1.0, 4.0, 0, 0),       # child
        Span("exec.action", 3.0, 6.0, 0, 0),       # overlaps the first child
        Span("sources.write", 5.0, 5.5, 2, 0),     # grandchild
        Span("cache.clear", 9.0, 12.0, 0, 0),      # runs past its parent
        Span("session.start", 20.0, 21.0, None, None),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (6.0 - 1.0) - (10.0 - 9.0))
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(3.0 - 0.5)
    assert st[3] == pytest.approx(0.5)
    assert st[4] == pytest.approx(3.0)
    layers = layer_self_times(spans)
    assert layers["op"] == pytest.approx(st[0])
    assert layers["session"] == pytest.approx(1.0)
    assert sum(layers.values()) == pytest.approx(sum(st))


def test_tracer_records_nesting_only_when_enabled():
    off = Tracer(False)
    with off.span("op", 0):
        with off.span("plans.build", 0):
            pass
    assert off.spans == []
    on = Tracer(True)
    with on.span("op", 0):
        with on.span("plans.build", 0):
            pass
    assert [(s.name, s.parent) for s in on.spans] == [("op", None), ("plans.build", 0)]
    assert all(s.end >= s.start for s in on.spans)


def test_same_seed_gives_byte_identical_split_family(tmp_path):
    a = datagen.write_split_family(7, str(tmp_path / "a"))
    b = datagen.write_split_family(7, str(tmp_path / "b"))
    c = datagen.write_split_family(8, str(tmp_path / "c"))
    names = sorted(os.listdir(tmp_path / "a"))
    assert names == sorted(f"{p}_{s}.csv" for p in ("x", "y")
                           for s in ("train", "val", "test"))
    match, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b",
                                               names, shallow=False)
    assert match == names and not mismatch and not errors
    assert (a["rows"], a["bytes"]) == (b["rows"], b["bytes"])
    assert a["rows"] == datagen.SERIES * sum(datagen.STEPS_PER_SERIES.values())
    _, differ, _ = filecmp.cmpfiles(tmp_path / "a", tmp_path / "c", names,
                                    shallow=False)
    assert differ == names


def test_seed_changes_the_draw_and_the_csvs_and_nothing_else():
    sample = list(workloads.pinned_sample())
    one, two = workloads.sweep(sample, 2, 1), workloads.sweep(sample, 2, 2)
    assert one == workloads.sweep(sample, 2, 1)
    # the seed changes the order of the draw, not the pinned list
    assert one != two
    assert all(sorted(r) == sorted(sample) for r in one + two)
    # the pinned list, the forecast program and the tables do not depend
    # on the seed
    assert list(workloads.pinned_sample()) == sample
    assert workloads.forecast_config() == workloads.forecast_config()
    assert "seed" not in datagen.build_tables.__code__.co_varnames
    a = datagen.split_family_arrays(1)
    b = datagen.split_family_arrays(2)
    assert a["train"]["CLOSE"].tolist() != b["train"]["CLOSE"].tolist()
    assert a["train"]["DATE_TIME"].tolist() == b["train"]["DATE_TIME"].tolist()


def _sweep_over(monkeypatch, names: list[str], seed: int = 3):
    """A CatalogSweep over a stand-in registry holding ``names``."""
    entry = types.ModuleType("__spark_entry__")
    entry.queries = lambda: {q: (lambda spark, sf, q=q: q) for q in names}
    entry.oracle_sql = lambda: {q: "SELECT 1" for q in names}
    monkeypatch.setitem(sys.modules, "__spark_entry__", entry)
    ctx = workloads.Ctx(spark=None, root=ROOT, work="", sf_dir=os.path.join(ROOT, "sf"),
                        seed=seed, tracer=Tracer(False))
    return workloads.CatalogSweep(ctx)


def test_registry_changes_leave_the_draw_unchanged(monkeypatch):
    sample = list(workloads.pinned_sample())
    assert len(sample) == len(set(sample)) == 8
    base = _sweep_over(monkeypatch, sample).rounds(2)
    # a new query, one sorting before and one after every pinned name
    grown = _sweep_over(monkeypatch, ["0_new", *sample, "zz_new"]).rounds(2)
    assert grown == base
    shrunk = _sweep_over(monkeypatch, sample[1:]).rounds(2)
    assert shrunk == base


def test_unregistered_pinned_query_fails_its_op(monkeypatch):
    sample = list(workloads.pinned_sample())
    sweep = _sweep_over(monkeypatch, sample[1:])
    assert sample[0] in sum(sweep.rounds(1), [])
    with pytest.raises(LookupError, match=sample[0]):
        sweep.build(0, sample[0])
    assert sweep.build(1, sample[1]) == sample[1]


def test_sql_metric_values_parse():
    assert sparkstats.parse_metric("100,000") == 100000.0
    assert sparkstats.parse_metric("2.5 MiB") == 2.5 * 1024 * 1024
    assert sparkstats.parse_metric("435 ms") == pytest.approx(0.435)
    assert sparkstats.parse_metric("17.0 s (4.1 s, 6.2 s, 6.7 s (stage 23.0: task 29))") == 17.0
    with pytest.raises(ValueError):
        sparkstats.parse_metric("n/a")


def test_plan_graph_metrics_dedupe_repeated_nodes():
    label = ("<b>FlatMapGroupsInPandas</b><br><br>time to run Python workers total "
             "(min, med, max (stageId: taskId))<br>17.0 s (4.1 s, 6.7 s (stage 2.0: task 9))"
             "<br>number of output rows: 960")
    node = f'  1 [id="node1" labelType="html" label="{label}" tooltip="FlatMap \\"f\\""];\n'
    dot = "digraph G {\n" + node + node.replace("node1", "node2") + "}\n"
    seen: set = set()
    got = sparkstats.dot_node_metrics(dot, seen)
    assert got == [{"time to run Python workers": "17.0 s (4.1 s, 6.7 s (stage 2.0: task 9))",
                    "number of output rows": "960"}]
    assert sparkstats.dot_node_metrics(dot, seen) == []
