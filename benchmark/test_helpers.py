"""Self-tests of the benchmark's helpers (no Spark session needed).

    python3 -m pytest benchmark/test_helpers.py -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import measure  # noqa: E402
from check import OracleRanker, answer_errors  # noqa: E402
from searchengine_spark.oracle import OracleIndex  # noqa: E402

# ------------------------------------------------------------- self time


def _span(sid, parent, start, end, op=1, name="x"):
    return measure.Span(sid, name, op, parent, start, end)


def test_self_time_with_overlapping_children():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),      # children overlap on [3, 4]
        _span(3, 1, 3.0, 6.0),
        _span(4, 1, 9.0, 12.0),     # runs past the parent's end
        _span(5, 2, 1.5, 2.0),      # grandchild: counts against span 2 only
    ]
    st = measure.self_times(spans)
    assert st[1] == pytest.approx(10.0 - (5.0 + 1.0))   # [1,6] and [9,10]
    assert st[2] == pytest.approx(3.0 - 0.5)
    assert st[3] == pytest.approx(3.0)
    assert st[5] == pytest.approx(0.5)


def test_self_times_of_nested_spans_sum_to_the_root():
    spans = [_span(1, None, 0.0, 8.0), _span(2, 1, 1.0, 5.0),
             _span(3, 2, 2.0, 3.0), _span(4, 1, 6.0, 7.5)]
    assert sum(measure.self_times(spans).values()) == pytest.approx(8.0)


def test_tracer_nests_server_thread_spans_under_the_remote_parent():
    import threading

    tr = measure.Tracer(True)
    with tr.span("client") as c:
        tr.remote_parent = c
        with tr.span("local"):
            pass

        def server():
            with tr.span("server"):
                pass

        t = threading.Thread(target=server)
        t.start()
        t.join(timeout=5)
        assert not t.is_alive()
        tr.remote_parent = None
    by = {s.name: s for s in tr.spans}
    assert by["server"].parent == c.id and by["server"].op == c.op
    assert by["local"].parent == c.id


def test_disabled_tracer_records_nothing():
    tr = measure.Tracer(False)
    with tr.span("x") as s:
        assert s is None
    assert tr.spans == []


# ------------------------------------------------------------ percentiles


def test_percentile_matches_statistics_quantiles():
    import statistics

    xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    assert measure.percentile(xs, 25) == pytest.approx(q[0])
    assert measure.percentile(xs, 50) == pytest.approx(q[1])
    assert measure.percentile(xs, 75) == pytest.approx(q[2])
    assert measure.percentile([4.0], 90) == 4.0


def test_tail_percentile_needs_ten_samples_beyond_it():
    assert measure.supported_tail(39) is None
    assert measure.supported_tail(40) == 75.0
    assert measure.supported_tail(99) == 75.0
    assert measure.supported_tail(100) == 90.0
    assert measure.supported_tail(1000) == 99.0
    assert measure.supported_tail(10000) == 99.9


# ---------------------------------------------------------------- oracle


@pytest.fixture(scope="module")
def small_oracle():
    t = gen.corpus_table(7, 60)
    rows = list(zip(*(t.column(c).to_pylist()
                      for c in ("conv_id", "turn_idx", "text"))))
    return OracleIndex.build(rows)


def test_ranker_equals_oracle_topk_bit_for_bit(small_oracle):
    ranker = OracleRanker(small_oracle)
    for _mode, q in gen.serve_stream(3, 40):
        assert ranker.topk(q, 10) == small_oracle.topk(q, 10)
    assert ranker.topk("zzzabsent", 10) == []


def test_answer_check_accepts_the_oracle_and_flags_changes(small_oracle):
    ranker = OracleRanker(small_oracle)
    q = "bababa cebaba"
    want = small_oracle.topk(q, 10)
    assert len(want) == 10
    assert answer_errors(want, ranker, q, 10) == []
    wrong_score = [want[0]] + [(want[1][0], want[1][1] * (1 + 1e-6))] + want[2:]
    assert answer_errors(wrong_score, ranker, q, 10)
    assert answer_errors(want[:9], ranker, q, 10)
    if want[0][1] != want[1][1]:
        assert answer_errors([want[1], want[0]] + want[2:], ranker, q, 10)


def test_answer_check_with_tombstones(small_oracle):
    ranker = OracleRanker(small_oracle)
    q = "bababa cebaba"
    full = small_oracle.topk(q, 30)
    dead = frozenset({full[0][0], full[3][0]})
    survivors = [(d, s) for d, s in full if d not in dead]
    want = survivors[:10]
    assert answer_errors(want, ranker, q, 10, dead) == []
    # serving a deleted doc is a mismatch
    assert answer_errors(full[:10], ranker, q, 10, dead)
    # so is dropping a survivor for a lower-scored doc
    if survivors[10][1] < survivors[9][1] * (1 - 1e-6):
        assert answer_errors(want[:-1] + [survivors[10]], ranker, q, 10, dead)


def test_inputs_are_deterministic():
    a, b = gen.corpus_table(5, 30), gen.corpus_table(5, 30)
    assert a.equals(b)
    assert not a.equals(gen.corpus_table(6, 30))
    assert gen.serve_stream(5, 20) == gen.serve_stream(5, 20)
    modes = [m for m, _q in gen.serve_stream(5, 8)]
    assert modes == ["wand", "term"] * 4


# --------------------------------------------------------------- sampler


def test_sampler_sums_rss_over_the_process_tree():
    child = subprocess.Popen(
        [sys.executable, "-c",
         "b = bytearray(64 << 20)\nimport sys; sys.stdin.read()"],
        stdin=subprocess.PIPE)
    try:
        deadline = time.time() + 10
        while time.time() < deadline:
            m = measure.tree_rss(os.getpid())
            if m["workers"] >= 64 << 20:
                break
            time.sleep(0.05)
        assert child.pid in m["worker_pids"]
        assert m["workers"] >= 64 << 20
        assert m["total"] == m["driver"] + m["jvm"] + m["workers"]
        with measure.MemSampler(period=0.01) as s:
            time.sleep(0.1)
        assert len(s.totals) >= 2
        assert s.peak["total"] >= m["driver"] + (64 << 20)
        assert child.pid in s.mark()
    finally:
        child.stdin.close()
        child.wait(timeout=10)


def test_sustained_peak_ignores_a_short_spike():
    s = measure.MemSampler(period=0.1)
    s.totals = [100] * 10 + [900] * 2 + [100] * 10 + [300] * 12
    assert s.sustained_peak(1.0) == 300
    assert s.sustained_peak(0.1) == 900
    s.totals = [50]
    assert s.sustained_peak(1.0) == 50


def test_steal_fraction_is_a_share():
    a = measure.cpu_times()
    time.sleep(0.05)
    b = measure.cpu_times()
    assert 0.0 <= measure.steal_frac(a, b) <= 1.0
    assert measure.steal_frac((5, 100), (15, 200)) == pytest.approx(0.1)


# ------------------------------------------------------- BENCHMARK.json


def test_benchmark_json_names_every_printed_metric():
    import json

    import run

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == {"build", "serve"}
