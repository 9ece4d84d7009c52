"""Tests of the benchmark's own helpers: percentiles, the host factor,
span self time, the oracle comparison, the Spark event-log fold and the
result-set summary.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import statistics
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import collect, common, oracle  # noqa: E402
from perfbench.trace import Span, Tracer, fold_event_log, self_times  # noqa: E402


# ------------------------------------------------------------ percentiles

def test_percentile_nearest_rank():
    xs = list(range(1, 101))  # 1..100
    assert common.percentile(xs, 50) == 50
    assert common.percentile(xs, 90) == 90
    assert common.percentile(xs, 95) == 95
    assert common.percentile(xs, 100) == 100
    assert common.percentile(xs, 0) == 1
    assert common.percentile([7.0], 95) == 7.0
    assert common.percentile([3, 1, 2], 50) == 2  # unsorted input


def test_percentile_empty_raises():
    with pytest.raises(ValueError):
        common.percentile([], 50)


def test_beyond_counts_tail_samples():
    xs = list(range(1, 201))
    assert common.beyond(xs, 95) == 10
    assert common.beyond(xs, 90) == 20
    assert common.beyond([5, 5, 5, 5], 50) == 0


def test_iqr_share_matches_statistics_quantiles():
    xs = [10.0, 11.0, 9.5, 10.5, 12.0, 9.0, 10.2, 10.8, 11.5, 9.8]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    assert common.iqr_share(xs) == pytest.approx((q3 - q1) / q2)


# ----------------------------------------------------------- host speed

def test_host_factor_uses_samples_near_the_operation():
    h = common.HostSpeed("serial")
    ref = common.REF_MS["serial"]
    h.samples = [(0.0, ref), (0.5, ref), (10.0, 2 * ref), (10.5, 2 * ref), (11.0, 2 * ref)]
    assert h.factor() == 2.0  # the whole run's median
    assert h.factor_at(0.2, 0.3) == 1.0
    assert h.factor_at(9.5, 10.2) == 2.0
    assert h.factor_at(5.0, 5.1) == 2.0  # nothing within 1 s: the whole run's


def test_host_kernels_run_and_tick_samples_at_most_every_interval():
    for kind in common.REF_MS:
        h = common.HostSpeed(kind)
        assert h.kernel_ms() > 0
        h.tick()
        h.tick()  # within EVERY_S of the first
        assert len(h.samples) == 1


def test_host_background_sampler_samples_and_stops():
    h = common.HostSpeed("cpu")
    with h.in_background():
        time.sleep(3.5 * h.EVERY_S)
    n = len(h.samples)
    assert n >= 2
    time.sleep(2 * h.EVERY_S)
    assert len(h.samples) == n


# -------------------------------------------------------------- self time

def _span(name, a, z, parent):
    s = Span(name, a, parent, None)
    s.end = z
    return s


def test_self_time_subtracts_children():
    spans = [
        _span("root", 0.0, 10.0, -1),
        _span("a", 1.0, 4.0, 0),
        _span("b", 5.0, 6.0, 0),
        _span("a.x", 2.0, 3.0, 1),
    ]
    assert self_times(spans) == pytest.approx([6.0, 2.0, 1.0, 1.0])
    assert sum(self_times(spans)) == pytest.approx(10.0)  # adds up to the root


def test_self_time_overlapping_and_clipped_children():
    spans = [
        _span("root", 0.0, 10.0, -1),
        _span("c1", 1.0, 5.0, 0),
        _span("c2", 3.0, 7.0, 0),  # overlaps c1: union is [1, 7]
        _span("c3", 9.0, 12.0, 0),  # sticks out: only [9, 10] counts
    ]
    assert self_times(spans)[0] == pytest.approx(10.0 - 6.0 - 1.0)


def test_tracer_wrap_records_nesting_counts_and_restores():
    import types

    mod = types.ModuleType("fake")
    mod.inner = lambda n: list(range(n))
    mod.outer = lambda n: mod.inner(n) + mod.inner(n)
    orig = mod.inner
    tr = Tracer()
    tr.wrap(mod, "outer", "outer")
    tr.wrap(mod, "inner", "inner", count=lambda a, kw, out: {"items": len(out)})
    assert mod.outer(3) == [0, 1, 2, 0, 1, 2]
    tr.restore()
    assert mod.inner is orig
    agg = tr.by_name({"outer"})
    assert agg["outer"]["calls"] == 1
    assert agg["inner"]["calls"] == 2
    assert agg["inner"]["counts"]["items"] == 6
    total = agg["outer"]["self_s"] + agg["inner"]["self_s"]
    assert total == pytest.approx(agg["outer"]["wall_s"])


def test_tracer_wrap_class_method():
    class Box:
        def get(self, x):
            return x * 2

    tr = Tracer()
    tr.wrap(Box, "get", "get")
    assert Box().get(4) == 8
    tr.restore()
    assert Box.get.__name__ == "get" and not hasattr(Box.get, "__wrapped__")
    assert [s.name for s in tr.spans] == ["get"]


# ---------------------------------------------------------------- oracle

EXP = [(5, 9.0), (3, 7.5), (8, 7.5), (1, 6.0), (2, 6.0), (4, 6.0), (9, 1.0)]


def test_compare_topk_accepts_exact_answer():
    assert oracle.compare_topk(EXP[:3], EXP, 3) is None
    assert oracle.compare_topk(EXP, EXP, 100) is None
    assert oracle.compare_topk([], [], 10) is None


def test_compare_topk_tolerates_float_noise():
    got = [(5, 9.0 + 1e-9), (3, 7.5 - 1e-9), (8, 7.5)]
    assert oracle.compare_topk(got, EXP, 3) is None


def test_compare_topk_boundary_tie_any_member():
    # k=4 cuts the 6.0 tie group: any one of docs 1, 2, 4 is a valid 4th hit
    for d in (1, 2, 4):
        got = [(5, 9.0), (3, 7.5), (8, 7.5), (d, 6.0)]
        assert oracle.compare_topk(got, EXP, 4) is None


def test_compare_topk_rejects_wrong_answers():
    assert "hits" in oracle.compare_topk(EXP[:2], EXP, 3)
    assert "not a match" in oracle.compare_topk([(5, 9.0), (3, 7.5), (77, 7.5)], EXP, 3)
    assert "scored" in oracle.compare_topk([(5, 9.1), (3, 7.5), (8, 7.5)], EXP, 3)
    assert "below" in oracle.compare_topk([(5, 9.0), (3, 7.5), (9, 1.0)], EXP, 3)
    assert "order" in oracle.compare_topk([(3, 7.5), (5, 9.0), (8, 7.5)], EXP, 3)
    # equal scores must come in doc_id order
    assert "order" in oracle.compare_topk([(5, 9.0), (8, 7.5), (3, 7.5)], EXP, 3)


def test_compare_topk_missing_doc_above_kth():
    exp = [(1, 5.0), (2, 4.0), (3, 3.0)]
    assert oracle.compare_topk([(1, 5.0), (3, 3.0)], exp, 2) is not None


def test_trim_keeps_boundary_ties():
    assert oracle.trim(EXP, 4) == EXP[:6]
    assert oracle.trim(EXP, 1) == EXP[:1]
    assert oracle.trim(EXP, 100) == EXP


def test_bm25_oracle_on_tiny_corpus():
    pd = pytest.importorskip("pandas")
    pytest.importorskip("duckdb")
    con = oracle.connect()
    con.register("t_docs", pd.DataFrame({"doc_id": [1, 2, 3], "dl": [2, 4, 2],
                                          "ts_us": [0, 0, 0]}))
    con.register("t_post", pd.DataFrame({"doc_id": [1, 2, 2, 3], "term": ["a", "a", "b", "b"],
                                          "tf": [1, 3, 1, 2]}))
    orc = oracle.BM25Oracle(con, "t_docs", "t_post")
    import math

    avgdl = 8 / 3

    def s(tf, dl, df):
        idf = math.log(1 + (3 - df + 0.5) / (df + 0.5))
        return idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))

    got = dict(orc.match("a b"))
    assert got[1] == pytest.approx(s(1, 2, 2))
    assert got[2] == pytest.approx(s(3, 4, 2) + s(1, 4, 2))
    assert got[3] == pytest.approx(s(2, 2, 2))
    assert [d for d, _ in orc.ranked(must=["a"], must_not=["b"])] == [1]
    assert [d for d, _ in orc.ranked(must=["a", "b"])] == [2]
    assert orc.ranked(must=["zzz"], should=["a"]) == []


# --------------------------------------------------------------- event log

def test_fold_event_log_assigns_jobs_to_windows(tmp_path):
    d = tmp_path / "eventlog_v2_app-1"
    d.mkdir()
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000_500,
         "Stage IDs": [0, 1]},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1002_500,
         "Stage IDs": [2]},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 9000_000,
         "Stage IDs": [3]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 1500, "Executor CPU Time": 1_000_000_000, "JVM GC Time": 10,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 500, "Executor CPU Time": 0, "JVM GC Time": 0}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Executor Run Time": 2000, "Executor CPU Time": 0, "JVM GC Time": 0}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Metrics": {
            "Executor Run Time": 7000}},
    ]
    (d / "events_1_app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    (d / ".events_1_app-1.crc").write_bytes(b"\x00\x01binary")
    out = fold_event_log(str(tmp_path), [("tokens", 1000.0, 1002.0), ("encode", 1002.0, 1004.0)])
    assert out["tokens"]["run_s"] == pytest.approx(2.0)
    assert out["tokens"]["cpu_s"] == pytest.approx(1.0)
    assert out["tokens"]["gc_s"] == pytest.approx(0.01)
    assert out["tokens"]["tasks"] == 2
    assert out["tokens"]["shuffle_write_bytes"] == 100
    assert out["encode"]["run_s"] == pytest.approx(2.0)
    assert set(out) == {"tokens", "encode"}  # job 2 falls in no window


# ----------------------------------------------------------- result sets

def _row(st, seed, trace=0, **metrics):
    return {"set": st, "workload": "w", "seed": seed, "trace": trace, "result": {
        "failed": 0, "metrics": {k: {"value": v, "unit": "s"} for k, v in metrics.items()}}}


def test_summarise_compares_sets_against_bounds():
    spec = {"end_to_end": [{"name": "setup_s", "better": "lower", "bound": 0.25},
                           {"name": "lat", "better": "lower", "bound": 0.1}]}
    rows = [_row(1, s, setup_s=1.0 + s / 10, lat=10.0 + s / 100) for s in range(1, 11)]
    rows += [_row(2, s, setup_s=1.0 + s, lat=12.0) for s in range(1, 11)]
    rows.append(_row(2, 1, trace=1, setup_s=99.0, lat=99.0))  # traced: ignored
    out = collect.summarise(rows, spec)["w"]
    assert out["sets"]["1"]["runs"] == out["sets"]["2"]["runs"] == 10
    lat = out["sets"]["1"]["metrics"]["lat"]
    assert lat["median"] == pytest.approx(10.055)
    assert lat["spread"] == pytest.approx(common.iqr_share([10.0 + s / 100 for s in range(1, 11)]))
    # setup_s: wide spread in set 2 is allowed, its median rising 4.5x is not
    assert out["compare"]["setup_s"]["ok"] is False
    # lat: tight spreads, but the second median is 19% worse than a 10% bound
    assert out["compare"]["lat"]["median_change"] == pytest.approx(12.0 / 10.055 - 1)
    assert out["compare"]["lat"]["ok"] is False
    steady = [_row(st, s, setup_s=2.0 + s, lat=10.0) for st in (1, 2) for s in range(1, 11)]
    assert all(c["ok"] for c in collect.summarise(steady, spec)["w"]["compare"].values())
