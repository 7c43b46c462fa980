"""The metric math: the tail-percentile rule, self time as a span minus
the union of its children, the useful-work ratio, status-line parsing."""

import pytest

from chunker_hooks import StatusCounter
from spans import Span, percentile, self_time, self_times, tail, union_length, useful_ratio


def test_percentile_interpolates_like_statistics_quantiles():
    import statistics

    xs = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    assert percentile(xs, 25) == pytest.approx(q1)
    assert percentile(xs, 50) == pytest.approx(statistics.median(xs)) == pytest.approx(q2)
    assert percentile(xs, 75) == pytest.approx(q3)
    assert percentile([7.0], 95) == 7.0


@pytest.mark.parametrize(
    "n, p",
    [(1000, 99.0), (999, 95.0), (200, 95.0), (199, 90.0), (100, 90.0), (99, 75.0), (40, 75.0), (39, 50.0), (20, 50.0)],
)
def test_tail_is_highest_ladder_percentile_with_ten_beyond(n, p):
    got_p, value, beyond = tail([float(i) for i in range(n)])
    assert got_p == p
    assert value == percentile([float(i) for i in range(n)], p)
    assert beyond >= 10


def test_tail_falls_back_to_median_below_twenty_samples():
    p, value, beyond = tail([1.0, 2.0, 3.0, 4.0, 5.0, 6.0])
    assert (p, value, beyond) == (50.0, 3.5, 3)


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10


def _span(name, start, end, parent=None):
    s = Span(name, start, "r", parent)
    s.end = end
    return s


def test_self_time_subtracts_union_of_children_clipped_to_span():
    parent = _span("p", 0.0, 10.0)
    kids = [_span("a", 1.0, 4.0, 0), _span("b", 3.0, 5.0, 0), _span("c", 9.0, 12.0, 0)]
    # children cover [1, 5] and [9, 10] inside the parent: 5 of its 10 s
    assert self_time(parent, kids) == pytest.approx(5.0)


def test_self_times_sum_to_root_duration_for_nested_spans():
    spans = [
        _span("root", 0.0, 10.0),
        _span("a", 1.0, 6.0, 0),
        _span("a.child", 2.0, 3.0, 1),
        _span("b", 7.0, 9.0, 0),
    ]
    st = self_times(spans)
    assert st == pytest.approx([3.0, 4.0, 1.0, 2.0])
    assert sum(st) == pytest.approx(spans[0].dur)


def test_useful_ratio():
    assert useful_ratio(8, 20) == 0.4
    assert useful_ratio(0, 0) == 0.0


def test_status_counter_parses_status_lines_and_retries():
    seen = []
    c = StatusCounter(seen.append)
    for line in (
        "IDs      1 to   5000 processed,     5,000 rows found (100% of chunk size), 0.12 sec runtime",
        "IDs   5001 to  10000   skipped,         0 rows found",
        "IDs 1000000000 to 1000005000 shrunk, 9000 rows found (180% of chunk size)",
        "IDs  10001 to  20000  expanded,       100 rows found (2% of chunk size)",
        "Retrying after error (attempt 2): boom",
        "(3 total chunks; 15,000 total ids)",
    ):
        c(line)
    assert dict(c.counts) == {"processed": 1, "skipped": 1, "shrunk": 1, "expanded": 1, "retries": 1}
    assert (c.decisions, c.resizes) == (4, 2)
    assert len(seen) == 6


def test_benchmark_json_lists_what_the_runs_report():
    import json
    import os

    import run
    from layers import PER_LAYER

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(PER_LAYER)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == {"setup_s": "s", "items_per_s": "1/s", "op_p50_s": "s", "op_tail_s": "s", "peak_rss_mb": "MB"}
