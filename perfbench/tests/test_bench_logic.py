"""Tests of the benchmark's own logic: the percentile rule, self-time
arithmetic, process cleanup, and the closed-form expectations against a
tiny generated shard.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import itertools
import os
import random
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import f2  # noqa: E402
from perfbench.harness import (  # noqa: E402
    Span,
    covered,
    percentile,
    percentile_report,
    self_times,
    tail_samples,
)

TINY = (
    ("__name__", 2),
    ("instance", 3),
    ("region", 1),
    ("zone", 2),
    ("service", 2),
    ("environment", 1),
)


# ------------------------------------------------------------ percentiles


def test_nearest_rank_percentile():
    values = list(range(1, 101))
    assert percentile(values, 0.5) == 50
    assert percentile(values, 0.95) == 95
    assert percentile(values, 1.0) == 100
    assert percentile([7.0], 0.9) == 7.0
    with pytest.raises(ValueError):
        percentile([], 0.5)
    with pytest.raises(ValueError):
        percentile([1.0], 0.0)


def test_percentile_needs_ten_samples_beyond():
    assert tail_samples(200, 0.95) == 10
    assert percentile_report(list(range(200)), 0.95)["supported"]
    assert tail_samples(199, 0.95) == 9
    assert not percentile_report(list(range(199)), 0.95)["supported"]
    assert percentile_report(list(range(100)), 0.90)["supported"]
    assert not percentile_report(list(range(99)), 0.90)["supported"]
    assert percentile_report([], 0.9) == {"value": None, "n": 0, "beyond": 0, "supported": False}


# -------------------------------------------------------------- self time


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (8, 12)], 0, 10) == 6
    assert covered([], 0, 10) == 0
    assert covered([(-5, 20)], 0, 10) == 10
    assert covered([(11, 12)], 0, 10) == 0


def test_self_time_subtracts_only_direct_children():
    spans = [
        Span(1, "op", 0.0, 10.0, None, "a"),
        Span(2, "plan", 1.0, 3.0, 1, "a"),
        Span(3, "exec", 2.0, 5.0, 1, "a"),
        Span(4, "inner", 2.5, 4.5, 3, "a"),
        Span(5, "other", 0.0, 4.0, None, "b"),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - 4)
    assert st[2] == pytest.approx(2)
    assert st[3] == pytest.approx(3 - 2)
    assert st[4] == pytest.approx(2)
    assert st[5] == pytest.approx(4)


# ------------------------------------------------------ process cleanup


def test_stop_descendants_ends_orphaned_grandchildren():
    # in a child interpreter: stop_descendants kills every descendant of
    # the calling process, and the Spark JVM of these tests is one
    script = (
        "import os, subprocess, sys; sys.path.insert(0, sys.argv[1])\n"
        "from perfbench import harness\n"
        "harness.become_subreaper()\n"
        "subprocess.run(['sh', '-c', 'sleep 60 & exit 0'], check=True)\n"
        "subprocess.Popen(['sleep', '60'])\n"
        "left = harness.stop_descendants(grace_s=5)\n"
        "print(len(left), len(harness.descendants(os.getpid())))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script, ROOT], capture_output=True, text=True, timeout=60, check=True
    )
    assert out.stdout.split() == ["2", "0"]


# ---------------------------------------------- closed-form expectations


def test_series_ids_follow_the_cross_product():
    series = f2.all_series(TINY)
    assert len(series) == 24
    assert series[0]["__name__"] == "test_metric_0"
    assert series[-1] == {"__name__": "test_metric_1", "instance": "instance-2", "region": "region-0",
                          "zone": "zone-1", "service": "service-1", "environment": "environment-0"}


def test_rate_expectation_is_slope():
    # a counter rising coeff per minute has rate coeff/60 once the
    # window is whole
    for j in (10, 50, 100):
        assert f2._extrapolated_increase(j, 5, 1.5) / 300.0 == pytest.approx(1.5 / 60, rel=1e-12)
        assert f2._extrapolated_increase(j, 10, 2.0) == pytest.approx(20.0, rel=1e-12)


def test_read_mix_is_the_same_for_every_seed():
    from perfbench import workloads as W

    def mix(seed, block):
        return [(kind, arg if kind == "select" else None, quota)
                for kind, arg, _, quota in W.read_block(random.Random(seed), block)]

    for block in range(4):
        ops = mix(1, block)
        assert ops == mix(2, block)
        assert [k for k, _, _ in ops].count("select") == len(W.SHAPES)
        assert len(ops) == len(W.SHAPES) + 3
        quota = [a for _, a, q in ops if q]
        assert len(quota) == 2 and quota[0] in W.BIG_SHAPES and quota[1] in W.SMALL_SHAPES


def test_loop_stops_only_between_cycles(tmp_path):
    import time

    from perfbench import workloads as W

    class Fake(W.Part):
        name = "fake"
        clients = 2
        cycle_steps = 3

        def steps(self, rng, warm):
            for i in itertools.count():
                def step(i=i):
                    time.sleep(0.01)
                    return [W.Op(kind=f"k{i % 3}", key=(i,))]
                yield step

    bench = W.Bench(ROOT, str(tmp_path), str(tmp_path), trace=False)
    part = Fake(bench, seed=1)
    part.loop(0.05)
    kinds = [o.kind for o in part.ops()]
    assert len(kinds) >= 3 and len(kinds) % 3 == 0
    assert kinds.count("k0") == kinds.count("k1") == kinds.count("k2")


def test_wrong_result_is_reported_as_failure():
    from perfbench import workloads as W
    from parquet_common_spark.matchers import Matcher

    series = f2.all_series()
    ms = [Matcher("__name__", "=", "test_metric_1"), Matcher("instance", "=", "instance-2")]
    exp = f2.select_expectation([f2.coeff(k) for k in f2.matching_ids(series, ms)])
    cols = sorted("l_" + lab for lab in f2.LABELS) + ["s_ts", "s_value"]

    def op(outcome):
        return W.Op(kind="select", key=("select", "x", W._matcher_key(ms)), outcome=outcome,
                    extra={"matchers": ms, "quota": False, "arg": "x", "columns": cols})

    good = op(dict(exp))
    assert exp["rows"] == 192 * f2.N_SAMPLES
    W.check_read_op(good, series, {})
    assert good.error is None
    bad = op(dict(exp, vsum=exp["vsum"] * (1 + 1e-6)))
    W.check_read_op(bad, series, {})
    assert bad.error and "select" in bad.error

    p = W.promql_params(random.Random(3))
    want = f2.promql_expectation("sum_rate", p, W.promql_steps(p), series)
    p_ok = W.Op(kind="sum_rate", key=(), outcome=dict(want), extra={"params": p, "text": "q"})
    W.check_promql_op(p_ok, series)
    assert p_ok.error is None
    wrong = dict(want)
    first = next(iter(wrong))
    wrong[first] += 1e-3
    p_bad = W.Op(kind="sum_rate", key=(), outcome=wrong, extra={"params": p, "text": "q"})
    W.check_promql_op(p_bad, series)
    assert p_bad.error and "differ" in p_bad.error


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from parquet_common_spark.session import get_spark

    s = get_spark("perfbench-tests", shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="module")
def tiny_shards(spark, tmp_path_factory):
    from parquet_common_spark import convert as C

    root = tmp_path_factory.mktemp("tiny")
    dirs = []
    for s in range(f2.N_SHARDS):
        d = str(root / f"shard-{s}")
        frame = f2.wide_frame(spark, s * f2.SAMPLES_PER_SHARD, (s + 1) * f2.SAMPLES_PER_SHARD, TINY)
        C.convert(frame, d, labels_col=None)
        dirs.append(d)
    return dirs


def test_select_and_labels_match_closed_form(spark, tiny_shards):
    from pyspark.sql import functions as F

    from parquet_common_spark.matchers import Matcher
    from parquet_common_spark.queryable import ParquetQueryable

    series = f2.all_series(TINY)
    q = ParquetQueryable.from_paths(spark, tiny_shards)
    cases = [
        [Matcher("__name__", "=", "test_metric_1")],
        [Matcher("__name__", "=~", "test_metric_[0-1]"), Matcher("instance", "!~", "instance-1.*")],
        [Matcher("zone", "=", "zone-1"), Matcher("service", "=", "service-0")],
        [Matcher("environment", "=", "non-existent-environment")],
    ]
    for ms in cases:
        ids = f2.matching_ids(series, ms)
        exp = f2.select_expectation([f2.coeff(k) for k in ids])
        got = q.select(f2.T0, f2.T_END, ms).agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum("s_value").alias("vsum"),
            F.sum(F.col("s_value") * F.col("s_value")).alias("v2sum"),
        ).first()
        assert got["rows"] == exp["rows"] == len(ids) * f2.N_SAMPLES
        assert f2.close(got["vsum"] or 0.0, exp["vsum"])
        assert f2.close(got["v2sum"] or 0.0, exp["v2sum"])
        assert q.label_values("instance", ms) == f2.label_values_expectation(series, "instance", ms)
        assert q.label_names(ms) == f2.label_names_expectation(series, ms)


def test_promql_matches_closed_form(spark, tiny_shards):
    from perfbench import workloads as W
    from parquet_common_spark.promqltest import PromQLEngine

    series = f2.all_series(TINY)
    eng = PromQLEngine.from_shards(spark, tiny_shards, ts_divisor=1)
    p = {"metric": "test_metric_0", "metric2": "test_metric_1", "service": "service-1",
         "environment": "environment-0", "region": "region-0", "instance_re": "instance-[0-1]",
         "start": f2.T0 + 20 * f2.STEP_MS}
    steps = list(range(p["start"], p["start"] + 10 * f2.STEP_MS + 1, f2.STEP_MS))
    for kind in W.PROMQL_SHAPES:
        rows = eng.eval_range_df(W.promql_text(kind, p), steps[0], steps[-1], f2.STEP_MS).collect()
        got = {(tuple(sorted((c[2:], r[c]) for c in r.asDict() if c.startswith("l_") and r[c] is not None)),
                r["_ev"]): r["value"] for r in rows}
        want = f2.promql_expectation(kind, p, steps, series)
        assert set(got) == set(want), kind
        assert all(f2.close(got[k], want[k]) for k in want), kind


def test_offset_series_match_closed_form(spark, tmp_path):
    from pyspark.sql import functions as F

    from parquet_common_spark import convert as C
    from parquet_common_spark.matchers import Matcher
    from parquet_common_spark.queryable import ParquetQueryable

    d = str(tmp_path / "offset")
    C.convert(f2.wide_frame(spark, 30, 60, TINY, k_offset=70), d, labels_col=None)
    ms = [Matcher("instance", "=~", "instance-[0-1]")]
    ids = f2.matching_ids(f2.all_series(TINY), ms)
    exp = f2.select_expectation([f2.coeff(k + 70) for k in ids], 30, 30)
    got = ParquetQueryable.from_paths(spark, [d]).select(f2.T0, f2.T_END, ms).agg(
        F.count(F.lit(1)).alias("rows"), F.sum("s_value").alias("vsum"),
        F.sum(F.col("s_value") * F.col("s_value")).alias("v2sum"),
    ).first()
    assert got["rows"] == exp["rows"] == len(ids) * 30
    assert f2.close(got["vsum"], exp["vsum"]) and f2.close(got["v2sum"], exp["v2sum"])
