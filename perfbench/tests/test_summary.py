"""Tests of the benchmark's own helpers (no Spark needed):

    python -m pytest perfbench/tests -q
"""

import json
from pathlib import Path

import pytest

from perfbench import summary as S


def test_median_odd_and_even():
    assert S.median([3.0, 1.0, 2.0]) == 2.0
    assert S.median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        S.median([])


@pytest.mark.parametrize("n", [21, 40, 100, 1000])
def test_tail_leaves_exactly_ten_samples_beyond(n):
    values = [float(i) for i in range(n, 0, -1)]  # distinct, unsorted
    value, pct, beyond = S.tail(values)
    assert beyond == 10
    assert sum(v > value for v in values) == 10
    assert pct == pytest.approx(100.0 * (n - 10) / n)


def test_tail_is_p90_at_100_samples():
    value, pct, _ = S.tail([float(i) for i in range(1, 101)])
    assert (value, pct) == (90.0, 90.0)


@pytest.mark.parametrize("n", [1, 2, 5, 11, 20])
def test_tail_without_a_percentile_above_the_median_reports_the_max(n):
    values = [float(i) for i in range(n)]
    assert S.tail(values) == (float(n - 1), 100.0, 0)


def test_self_time_subtracts_the_union_of_clipped_children():
    # children overlap each other and one sticks out past the parent
    assert S.self_time(0.0, 10.0, [(1.0, 4.0), (3.0, 5.0), (8.0, 12.0)]) == pytest.approx(4.0)
    assert S.self_time(0.0, 10.0, []) == pytest.approx(10.0)
    assert S.self_time(0.0, 10.0, [(-5.0, 20.0)]) == pytest.approx(0.0)


def _span(sid, parent, layer, start, end, **kw):
    return {"id": sid, "parent": parent, "layer": layer, "start": start, "end": end, "op": 0, **kw}


def test_exclusive_by_layer_accounts_for_the_whole_root():
    spans = [
        _span(0, None, "bench", 0.0, 10.0, name="op"),
        _span(1, 0, "plans.agg", 1.0, 7.0, name="plans.agg.build_sketch"),
        # two parallel stages under the agg call: 2-5 and 4-6 overlap
        _span(2, 1, "spark", 2.0, 5.0, name="stage 1", stage=1),
        _span(3, 1, "spark", 4.0, 6.0, name="stage 2", stage=2),
        _span(4, 0, "functions.probe", 7.5, 9.0, name="functions.probe.with_probe_columns"),
        _span(5, None, "bench", 20.0, 30.0, name="another op"),  # not under the root
    ]
    out = S.exclusive_by_layer(spans, 0)
    assert sum(out.values()) == pytest.approx(10.0)
    assert out["spark"] == pytest.approx(4.0)
    assert out["plans.agg"] == pytest.approx(2.0)
    assert out["functions.probe"] == pytest.approx(1.5)
    assert out["bench"] == pytest.approx(2.5)


def test_op_layer_metrics_splits_build_into_partials_and_merge():
    spans = [
        _span(0, None, "bench", 0.0, 10.0, name="op", agg_final_bytes=1000),
        _span(1, 0, "plans.agg", 0.5, 6.0, name="plans.agg.build_sketch"),
        _span(2, 1, "spark", 1.0, 4.0, name="stage 7", stage=7, run_s=8.0, cpu_s=1.0, gc_s=0.1,
              tasks=4, failed_tasks=0, shuffle_write_bytes=3000, result_bytes=0),
        _span(3, 1, "spark", 4.0, 5.0, name="stage 9", stage=9, run_s=1.0, cpu_s=0.5, gc_s=0.0,
              tasks=4, failed_tasks=0, shuffle_write_bytes=0, result_bytes=1000),
        _span(4, 0, "plans.agg", 6.0, 8.0, name="plans.agg.sketch_by_key"),
    ]
    m = S.op_layer_metrics(spans, spans[0])
    assert m["op.wall_s"] == pytest.approx(10.0)
    assert m["agg.partials_s"] == pytest.approx(3.0)
    assert m["agg.merge_s"] == pytest.approx(2.5)
    assert m["agg.keyed_s"] == pytest.approx(2.0)
    assert m["agg.partial_bytes_per_final_byte"] == pytest.approx(4.0)
    assert m["spark.tasks"] == 8
    assert m["probe.s"] == 0.0 and m["stream.merge_batch_s"] == 0.0
    assert sum(m[k] for k in S.SELF_KEYS.values()) == pytest.approx(10.0)


def test_probe_call_split_first_call_per_sketch_and_input():
    spans = [
        _span(0, None, "functions.probe", 0.0, 3.0, sketch_id=0, input="positives"),
        _span(1, None, "functions.probe", 3.0, 4.0, sketch_id=0, input="negatives"),
        _span(2, None, "functions.probe", 5.0, 6.0, sketch_id=0, input="positives"),
        _span(3, None, "functions.probe", 7.0, 9.0, sketch_id=1, input="positives"),
    ]
    first, repeat = S.probe_call_split(spans)
    assert first == [3.0, 1.0, 2.0]
    assert repeat == [1.0]


def test_check_digest():
    pinned = {(42, 200): (1542, 971230878212783101)}
    S.check_digest(42, 200, (1542, 971230878212783101), pinned)
    S.check_digest(7, 200, (1, 2), pinned)  # no pin: passes
    with pytest.raises(RuntimeError, match="fixture drift"):
        S.check_digest(42, 200, (1542, 1), pinned)
    with pytest.raises(RuntimeError, match="fixture drift"):
        S.check_digest(42, 200, (1541, 971230878212783101), pinned)


def test_benchmark_json_declares_the_metrics_the_run_prints():
    spec = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == S.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == S.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == ["build", "probe", "ingest"]
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
