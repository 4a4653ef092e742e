"""Self-tests of the benchmark's own parts (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import spans  # noqa: E402
from run import pct, tail_label  # noqa: E402

SIZES = [400, 400, 250]


def test_same_seed_same_inputs_and_totals():
    a, b = gen.Dataset(7, SIZES), gen.Dataset(7, SIZES)
    assert a.customers == b.customers and a.products == b.products
    assert a.tx_files == b.tx_files
    assert a.expected() == b.expected()
    assert a.expected(1, 3) == b.expected(1, 3)
    c = gen.Dataset(8, SIZES)
    assert c.tx_files != a.tx_files


def test_expected_is_additive_and_counts_drops():
    d = gen.Dataset(3, SIZES)
    whole, head, tail = d.expected(), d.expected(0, 1), d.expected(1)
    assert whole["rows"] == head["rows"] + tail["rows"]
    assert whole["total"] == head["total"] + tail["total"]
    assert whole["total"] == sum(whole["per_year"].values())
    # J1 and P3/P4 drop about 5% of the rows; the sentinel year is present.
    assert 0.85 * d.rows_in() < whole["rows"] < d.rows_in()
    assert gen.SENTINEL_YEAR in whole["per_year"]
    assert d.tx_files[0].splitlines()[0] == gen.TX_HEADER


def _sink_for(expected):
    """A fact sink that satisfies the oracle: ids 1..N, amounts summing
    to the expected total."""
    n = expected["rows"]
    return list(range(1, n + 1)), [expected["total"]] + [Decimal("0.00")] * (n - 1)


def test_oracle_accepts_a_correct_sink():
    exp = gen.Dataset(5, SIZES).expected()
    ids, amounts = _sink_for(exp)
    assert gen.check_sink(ids, amounts, exp) == []


def test_oracle_fails_on_a_deleted_row():
    exp = gen.Dataset(5, SIZES).expected()
    ids, amounts = _sink_for(exp)
    errs = gen.check_sink(ids[:-1], amounts[:-1], exp)
    assert any("committed rows" in e for e in errs)
    errs = gen.check_sink(ids[1:], amounts[1:], exp)  # also loses the sum
    assert any("fact sum" in e for e in errs) and any("sales_id" in e for e in errs)


def test_oracle_fails_on_a_duplicated_sales_id():
    exp = gen.Dataset(5, SIZES).expected()
    ids, amounts = _sink_for(exp)
    ids[-1] = ids[-2]
    errs = gen.check_sink(ids, amounts, exp)
    assert any("sales_id" in e and "duplicate" in e for e in errs)


def test_self_time_on_a_synthetic_tree():
    t = spans.Tracer()
    root = t.add("root", 0.0, 10.0)
    a = t.add("a", 1.0, 4.0, parent=root)
    t.add("b", 3.0, 5.0, parent=root)  # overlaps a: union 1..5
    t.add("c", 9.0, 12.0, parent=root)  # clipped to 9..10
    t.add("a1", 1.5, 2.0, parent=a)
    st = spans.self_times(t.spans)
    assert abs(st[root] - 5.0) < 1e-9  # 10 - (4 + 1)
    assert abs(st[a] - 2.5) < 1e-9
    by_name = {s["name"]: st[s["id"]] for s in t.spans}
    assert by_name["a1"] == 0.5 and by_name["b"] == 2.0


def test_span_context_nests_per_thread():
    t = spans.Tracer()
    with t.span("outer"):
        with t.span("inner") as s:
            s.extra["rows"] = 3
    inner, outer = t.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert inner["rows"] == 3


def test_event_log_rows_per_job(tmp_path):
    evs = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"streaming.sql.batchId": "4"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 5000,
         "Stage IDs": [2], "Properties": {}},
    ]
    for stage, run in ((0, 10), (1, 20), (2, 30)):
        evs.append({"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                    "Task Info": {"Launch Time": 0, "Finish Time": run + 5},
                    "Task Metrics": {"Executor Run Time": run, "Executor CPU Time": run * 10**6,
                                     "JVM GC Time": 1,
                                     "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
                                     "Shuffle Read Metrics": {"Local Bytes Read": 7}}})
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in evs) + "\n")
    log = spans.parse_event_log(str(tmp_path))
    stream = spans.jobs_in(log, 0.0, 10.0, streaming=True)
    other = spans.jobs_in(log, 0.0, 10.0, streaming=False)
    assert [j["id"] for j in stream] == [0] and [j["id"] for j in other] == [1]
    tot = spans.job_totals(log, stream)
    assert tot["tasks"] == 2 and tot["run_ms"] == 30 and tot["cpu_ms"] == 30
    assert tot["overhead_ms"] == 10 and tot["shuffle_write"] == 200 and tot["shuffle_read"] == 14


def test_percentile_and_tail_rule():
    xs = list(range(1, 101))
    assert pct(xs, 50) == 50 and pct(xs, 90) == 90
    assert tail_label(100) == 90 and tail_label(40) == 75 and tail_label(25) == 50
