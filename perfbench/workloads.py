"""Workloads.  A workload is one or more parts sharing one SparkSession:
each part opens its inputs and warms every operation shape, then the
parts run their closed loops one after the other, each for whole cycles
of its operation mix until its equal share of the run has passed, and
afterwards every recorded result is checked against an answer computed
without Spark.

Only public functions of the program are called: ``session.get_spark``,
``matchers``, ``queryable.ParquetQueryable``, ``limits.Quota``,
``convert.convert`` / ``compact_shards``, ``promqltest`` (engine and
``parse_promql``) and the registry queries of ``plans`` / ``operators``.
"""

from __future__ import annotations

import importlib.util
import itertools
import math
import os
import random
import shutil
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench import f2
from perfbench.harness import (
    JobCounter,
    Tracer,
    dir_stats,
    layer_summary,
    median,
    peak_rss_mb,
    percentile_report,
    process_age_s,
    source_hash,
)

# Bump when the generated read shards or analytics tables change shape.
DATASET_VERSION = "1"
# Cached versions kept per input set, so runs of two source trees in one
# checkout do not rebuild each other's inputs.
KEEP_INPUT_VERSIONS = 4
QUOTA_MAX_ROWS = 1000


@dataclass
class Op:
    """One timed operation and what it returned."""

    kind: str
    key: tuple
    part: str = ""
    ms: float = 0.0
    plan_ms: float | None = None
    exec_ms: float | None = None
    jobs: int = 0
    tasks: int = 0
    rows: int | None = None
    repeat: bool = False
    outcome: object = None
    error: str | None = None
    extra: dict = field(default_factory=dict)


class Bench:
    """Per-run state: session, tracer, job counter and recorded ops."""

    def __init__(self, root: str, run_dir: str, cache_dir: str, trace: bool):
        self.root = root
        self.run_dir = run_dir
        self.cache_dir = cache_dir
        self.trace = trace
        self.tracer = Tracer(trace)
        self.ops: list[Op] = []
        self.lock = threading.Lock()
        self.op_ids = itertools.count(1)
        self.job_count_s = 0.0
        self.report: dict = {}
        self.spark = None
        self.jobs: JobCounter | None = None
        self.session_start_s = 0.0
        self.build_s = 0.0
        self.open_s = 0.0
        self.warm_s = 0.0
        self.setup_s = 0.0
        self.measured_s = 0.0
        self.input_key = source_hash(root, "parquet_common_spark", "perfbench/f2.py", "perfbench/tables.py")

    def start_session(self):
        from parquet_common_spark.session import get_spark

        t = time.perf_counter()
        with self.tracer.span("session.start", "setup"):
            self.spark = get_spark(
                "perfbench",
                extra_conf={
                    "spark.local.dir": os.path.join(self.run_dir, "spark-local"),
                    "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
                    # no hsperfdata file under /tmp; JVM temp files in the run dir
                    "spark.driver.extraJavaOptions": "-XX:-UsePerfData -Djava.io.tmpdir="
                    + os.path.join(self.run_dir, "tmp"),
                },
            )
            self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.perf_counter() - t
        self.jobs = JobCounter(self.spark.sparkContext, self.trace)

    def next_op_id(self, kind: str) -> str:
        with self.lock:
            return f"{kind}-{next(self.op_ids)}"

    @contextmanager
    def counted(self, op: Op, op_id: str):
        """Run one operation under its own Spark job group (traced runs)
        and record its job and task counts after it ends."""
        t = time.perf_counter()
        with self.jobs.group(op_id):
            self.job_count_s += time.perf_counter() - t
            yield
        t = time.perf_counter()
        op.jobs, op.tasks = self.jobs.counts(op_id)
        self.job_count_s += time.perf_counter() - t

    def input_dir(self, name: str) -> str:
        """Directory of the cached input set ``name`` (see ``INPUTS``).
        The key covers the program sources and the generators, so a
        change to either never reuses the parent's files."""
        return os.path.join(self.cache_dir, f"{name}-v{DATASET_VERSION}-{self.input_key}")

    def missing_inputs(self, workload: str) -> list[str]:
        names = {n for part in WORKLOADS[workload] for n in PARTS[part].inputs}
        return sorted(n for n in names if not os.path.isdir(self.input_dir(n)))

    def build_inputs(self, names: list[str]) -> None:
        """Build the named input sets and keep only the newest
        ``KEEP_INPUT_VERSIONS`` of each.  Run in a process of its own, so
        that the build warms no JVM whose timings are reported."""
        for name in names:
            final = self.input_dir(name)
            tmp = f"{final}.tmp-{os.getpid()}"
            INPUTS[name](self.spark, tmp)
            os.rename(tmp, final)
            old = sorted(
                (e for e in os.scandir(self.cache_dir) if e.name.startswith(name + "-")),
                key=lambda e: e.stat().st_mtime, reverse=True)
            for e in old[KEEP_INPUT_VERSIONS:]:
                shutil.rmtree(e.path, ignore_errors=True)


def _fail(op: Op, why: str) -> None:
    op.error = op.error or why


def _error(ex: Exception) -> str:
    return f"{type(ex).__name__}: {ex}"[:300]


def _matcher_key(matchers) -> tuple:
    return tuple(sorted((m.name, m.op, m.value) for m in matchers))


def _observed_select(bench: Bench, df, op: Op, op_id: str) -> None:
    """Force ``df`` through the noop sink while observing the row count
    and value sums the correctness check compares."""
    from pyspark.sql import Observation, functions as F

    obs = Observation(op_id.replace("-", "_"))
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum("s_value").alias("vsum"),
        F.sum(F.col("s_value") * F.col("s_value")).alias("v2sum"),
    )
    t = time.perf_counter()
    with bench.tracer.span("queryable.select_exec", op_id):
        observed.write.format("noop").mode("overwrite").save()
    op.exec_ms = (time.perf_counter() - t) * 1e3
    got = obs.get
    op.rows = int(got["rows"])
    op.outcome = {"rows": op.rows, "vsum": got["vsum"] or 0.0, "v2sum": got["v2sum"] or 0.0}


def _sums_match(got: dict, want: dict) -> bool:
    return got["rows"] == want["rows"] and f2.close(got["vsum"], want["vsum"]) and f2.close(
        got["v2sum"], want["v2sum"]
    )


def build_f2(spark, out: str) -> None:
    from parquet_common_spark import convert as C

    for s in range(f2.N_SHARDS):
        frame = f2.wide_frame(spark, s * f2.SAMPLES_PER_SHARD, (s + 1) * f2.SAMPLES_PER_SHARD)
        C.convert(frame, os.path.join(out, f"shard-{s}"), labels_col=None)


def build_tables(spark, out: str) -> None:
    from perfbench import tables

    tables.generate(out, seed=20240101)


# Input sets cached between runs: name -> build(spark, out_dir).
INPUTS = {"f2": build_f2, "tables": build_tables}


def f2_shards(bench: Bench) -> list[str]:
    return [os.path.join(bench.input_dir("f2"), f"shard-{s}") for s in range(f2.N_SHARDS)]


class Part:
    """One workload part.  ``steps(rng, warm)`` is its endless seeded
    stream of operations, a repeating cycle of ``cycle_steps`` steps that
    holds every operation shape; ``open`` its inputs, ``warm`` runs one
    cycle of a separate stream drawn from the same seeded distribution
    (so measured operations can repeat warm-up ones, as dashboard
    refreshes do), ``loop`` runs ``clients`` closed-loop
    clients on the seeded stream for whole cycles until ``seconds`` have
    passed, and ``check`` verifies every recorded op and fills
    ``report``.  ``inputs`` names the cached input sets it reads;
    ``layout`` holds (bytes per sample, data files) of each shard it
    reads or writes."""

    name = ""
    clients = 1
    cycle_steps = 0
    inputs: tuple[str, ...] = ()

    def __init__(self, bench: Bench, seed: int):
        self.bench = bench
        self.seed = seed
        self.report: dict = {}
        self.duration_s = 0.0
        self.layout: list[tuple[float, int]] = []
        self.seen: set = set()

    def open(self) -> None:
        pass

    def warm(self) -> None:
        rng = random.Random(f"{self.seed}/{self.name}/warm")
        stream = itertools.islice(self.steps(rng, warm=True), self.cycle_steps)
        self._drive(lambda: next(stream, None), record=False)

    def loop(self, seconds: float) -> None:
        stream = self.steps(random.Random(f"{self.seed}/{self.name}"), warm=False)
        taken = itertools.count()
        done = False
        start = time.perf_counter()

        def next_step():
            # stop only between cycles, so every run measures the same
            # mix: a cut cycle would drop its last operation shapes
            nonlocal done
            if next(taken) % self.cycle_steps == 0 and time.perf_counter() - start >= seconds:
                done = True
            return None if done else next(stream)

        self._drive(next_step, record=True)
        self.duration_s = time.perf_counter() - start

    def _drive(self, next_step, record: bool) -> None:
        """``clients`` closed-loop clients, each taking the next step of
        the shared stream until ``next_step`` returns None."""
        lock = threading.Lock()

        def client():
            while True:
                with lock:
                    step = next_step()
                if step is None:
                    return
                for op in step():
                    self.record(op, measured=record)

        run_threads([client] * self.clients)

    def record(self, op: Op, measured: bool) -> None:
        """Note whether ``op``'s key came earlier in the run, warm-up
        included, and keep ``op`` if it is measured."""
        op.part = self.name
        with self.bench.lock:
            op.repeat = op.key in self.seen
            self.seen.add(op.key)
            if measured:
                self.bench.ops.append(op)

    def ops(self, *kinds: str, ok: bool = True) -> list[Op]:
        return [
            o for o in self.bench.ops
            if o.part == self.name and (not kinds or o.kind in kinds) and not (ok and o.error)
        ]

    def stratum(self, op: Op) -> str:
        """Operations whose latencies are comparable with each other."""
        return op.kind


# ================================================================ read-mix

# The 11 reference BenchmarkSelect matcher shapes
# (parquet_common_spark/benchmarks/select_bench.py WORKLOADS), with the
# concrete label values drawn per operation.  In a full cross-product
# every draw of one shape matches the same number of series.
BIG_SHAPES = (
    "SingleMetricAllSeries", "MultipleMetricsRange", "MultipleMetricsSparse",
    "NegativeRegexSingleMetric", "NegativeRegexMultipleMetrics",
    "ExpensiveRegexMultipleMetrics",
)
SMALL_SHAPES = (
    "SingleMetricReducedSeries", "SingleMetricOneSeries",
    "SingleMetricSparseSeries", "NonExistentSeries", "ExpensiveRegexSingleMetric",
)
SHAPES = BIG_SHAPES + SMALL_SHAPES
LABEL_KINDS = ("label_names", "label_names_matched", "label_values", "label_values_matched")


def _skewed(rng: random.Random, n: int) -> int:
    """Index in [0, n) with Zipf-like weights, so popular values repeat
    as dashboard refreshes do."""
    return rng.choices(range(n), weights=[1.0 / (i + 1) ** 1.3 for i in range(n)])[0]


def shape_matchers(shape: str, rng: random.Random) -> list:
    from parquet_common_spark.matchers import Matcher

    dims = dict(f2.DIMS)

    def pick(label):
        return f2.label_value(label, _skewed(rng, dims[label]))

    name = Matcher("__name__", "=", pick("__name__"))
    if shape == "SingleMetricAllSeries":
        return [name]
    if shape == "SingleMetricReducedSeries":
        return [name, Matcher("instance", "=", pick("instance"))]
    if shape == "SingleMetricOneSeries":
        return [name] + [Matcher(lab, "=", pick(lab)) for lab in f2.LABELS[1:]]
    if shape == "SingleMetricSparseSeries":
        return [name, Matcher("service", "=", pick("service")),
                Matcher("environment", "=", pick("environment"))]
    if shape == "NonExistentSeries":
        return [name, Matcher("environment", "=", "non-existent-environment")]
    if shape == "MultipleMetricsRange":
        lo = _skewed(rng, 2)
        return [Matcher("__name__", "=~", f"test_metric_[{lo}-{lo + 3}]")]
    if shape == "MultipleMetricsSparse":
        return [Matcher("__name__", "=~", f"test_metric_({_skewed(rng, 5)}|5|10|15|20)")]
    x, y = rng.sample(range(dims["instance"]), 2)
    neg = Matcher("instance", "!~", f"(instance-{x}.*|instance-{y}.*)")
    lo = _skewed(rng, 3)
    three = Matcher("__name__", "=~", f"test_metric_[{lo}-{lo + 2}]")
    if shape == "NegativeRegexSingleMetric":
        return [name, neg]
    if shape == "NegativeRegexMultipleMetrics":
        return [three, neg]
    if shape == "ExpensiveRegexSingleMetric":
        return [name, Matcher(
            "instance", "=~", f"(container-1|instance-{x}|container-3|instance-{y}|container-5)")]
    if shape == "ExpensiveRegexMultipleMetrics":
        five = rng.sample(range(dims["instance"]), 5)
        return [three, Matcher("instance", "=~", "(" + "|".join(f"instance-{i}" for i in five) + ")")]
    raise ValueError(shape)


def read_block(rng: random.Random, block: int) -> list[tuple]:
    """One block of read operations: every select shape once, big and
    small shapes alternating, one big and one small shape carrying a row
    quota (the big one must be rejected), and three of the four label
    calls spread among them — 11 selects to 3 label calls, about 80/20.
    The order, the quota shapes and the label calls rotate by block; the
    seed draws only the label values, so every seed runs the same mix."""
    from parquet_common_spark.matchers import Matcher

    quota = {BIG_SHAPES[block % len(BIG_SHAPES)], SMALL_SHAPES[block % len(SMALL_SHAPES)]}
    order = [s for pair in itertools.zip_longest(BIG_SHAPES, SMALL_SHAPES) for s in pair if s]
    ops: list[tuple] = [("select", s, shape_matchers(s, rng), s in quota) for s in order]
    for i in range(3):
        kind = LABEL_KINDS[(block + i) % len(LABEL_KINDS)]
        label = rng.choice(f2.LABELS)
        name = Matcher("__name__", "=", f2.label_value("__name__", _skewed(rng, 5)))
        if kind == "label_names":
            call = (kind, None, [], False)
        elif kind == "label_names_matched":
            inst = Matcher("instance", "=", f2.label_value("instance", _skewed(rng, 10)))
            call = (kind, None, [name, inst], False)
        elif kind == "label_values":
            call = (kind, label, [], False)
        else:
            call = (kind, label, [name, Matcher("zone", "=", "zone-1")], False)
        ops.insert(4 * i + 4, call)
    return ops


def check_read_op(op: Op, series, expect_cache: dict) -> None:
    if op.error:
        return
    kind, matchers = op.kind, op.extra["matchers"]
    if op.key not in expect_cache:
        if kind == "select":
            ids = f2.matching_ids(series, matchers)
            expect_cache[op.key] = (len(ids), f2.select_expectation([f2.coeff(k) for k in ids]))
        elif kind.startswith("label_names"):
            expect_cache[op.key] = f2.label_names_expectation(series, matchers)
        else:
            expect_cache[op.key] = f2.label_values_expectation(series, op.extra["arg"], matchers)
    want = expect_cache[op.key]
    if kind != "select":
        if op.outcome != want:
            _fail(op, f"{kind}: got {op.outcome!r:.200} want {want!r:.200}")
        return
    n_series, exp = want
    # check_rows meters matched series across both shards
    should_reject = op.extra["quota"] and f2.N_SHARDS * n_series > QUOTA_MAX_ROWS
    if should_reject != (op.outcome == "rejected"):
        _fail(op, f"quota: rejected={op.outcome == 'rejected'} want {should_reject}")
    elif op.outcome == "rejected":
        return
    elif op.extra["columns"] != sorted("l_" + lab for lab in f2.LABELS) + ["s_ts", "s_value"]:
        _fail(op, f"select columns {op.extra['columns']}")
    elif not _sums_match(op.outcome, exp):
        _fail(op, f"select {op.key}: got {op.outcome} want {exp}")


class ReadMix(Part):
    """Two closed-loop API clients sharing one session: selects in the
    reference matcher shapes (some under a row quota) and label calls."""

    name = "read-mix"
    clients = 2
    cycle_steps = len(SHAPES) + 3  # one block
    inputs = ("f2",)

    def open(self):
        from parquet_common_spark.queryable import ParquetQueryable

        dirs = f2_shards(self.bench)
        with self.bench.tracer.span("queryable.open", "setup"):
            self.q = ParquetQueryable.from_paths(self.bench.spark, dirs)
        self.shard_cols = [s.series.columns for s in self.q.shards]
        samples = len(f2.all_series()) * f2.SAMPLES_PER_SHARD
        for d in dirs:
            size, files = dir_stats(d)
            self.layout.append((size / samples, files))

    def steps(self, rng: random.Random, warm: bool):
        for block in itertools.count():
            for spec in read_block(rng, block):
                yield lambda spec=spec: [self.run_op(spec)]

    def stratum(self, op: Op) -> str:
        if op.kind != "select":
            return op.kind
        if op.extra["quota"]:
            return "select:quota:" + ("rejected" if op.outcome == "rejected" else "admitted")
        return "select:" + op.extra["arg"]

    def run_op(self, spec: tuple) -> Op:
        from parquet_common_spark.limits import Quota, ResourceExhausted
        from parquet_common_spark.matchers import matchers_to_predicate

        bench = self.bench
        kind, arg, matchers, with_quota = spec
        op = Op(kind=kind, key=(kind, arg, _matcher_key(matchers)),
                extra={"arg": arg, "matchers": matchers, "quota": with_quota})
        op_id = bench.next_op_id(kind)
        t0 = time.perf_counter()
        try:
            with bench.counted(op, op_id), bench.tracer.span("op." + kind, op_id):
                t = time.perf_counter()
                if kind == "select":
                    quota = Quota(max_rows=QUOTA_MAX_ROWS) if with_quota else None
                    try:
                        span = "limits.quota_select_plan" if quota else "queryable.select_plan"
                        with bench.tracer.span(span, op_id):
                            df = self.q.select(f2.T0, f2.T_END, matchers, quota=quota)
                    except ResourceExhausted:
                        op.outcome = "rejected"
                    op.plan_ms = (time.perf_counter() - t) * 1e3
                    if op.outcome != "rejected":
                        _observed_select(bench, df, op, op_id)
                        op.extra["columns"] = df.columns
                elif kind.startswith("label_names"):
                    with bench.tracer.span("queryable.label_names", op_id):
                        op.outcome = self.q.label_names(matchers or None)
                    op.exec_ms = (time.perf_counter() - t) * 1e3
                else:
                    with bench.tracer.span("queryable.label_values", op_id):
                        op.outcome = self.q.label_values(arg, matchers or None)
                    op.exec_ms = (time.perf_counter() - t) * 1e3
        except Exception as ex:  # a failed operation is counted, not fatal
            op.error = _error(ex)
        op.ms = (time.perf_counter() - t0) * 1e3
        if bench.trace and matchers:
            # matcher compilation timed on its own, outside the op latency
            with bench.tracer.span("matchers.compile", op_id):
                for cols in self.shard_cols:
                    matchers_to_predicate(matchers, cols)
        return op

    def check(self):
        series = f2.all_series()
        cache: dict = {}
        for op in self.ops():
            check_read_op(op, series, cache)
        sel = self.ops("select")
        admitted = [o for o in sel if o.outcome != "rejected"]
        lab = self.ops(*LABEL_KINDS)
        rep = self.report
        rep["select_p50_ms"] = median([o.ms for o in sel])
        rep["select_p95_ms"] = percentile_report([o.ms for o in sel], 0.95)
        rep["label_p50_ms"] = median([o.ms for o in lab])
        rep["label_p90_ms"] = percentile_report([o.ms for o in lab], 0.90)
        rep["read_ops_per_s"] = len(self.ops(ok=False)) / self.duration_s
        rep["limits.rejected"] = sum(o.outcome == "rejected" for o in sel)
        rep["limits.quota_selects"] = sum(o.extra["quota"] for o in sel)
        rep["limits.quota_select_plan_ms"] = median([o.plan_ms for o in sel if o.extra["quota"]])
        rep["queryable.select_plan_ms"] = median([o.plan_ms for o in sel if not o.extra["quota"]])
        rep["queryable.select_exec_ms"] = median([o.exec_ms for o in admitted])
        rep["queryable.rows_returned"] = sum(o.rows or 0 for o in admitted)
        for kind in ("label_names", "label_values"):
            mine = [o for o in lab if o.kind.startswith(kind)]
            rep[f"queryable.{kind}_ms"] = median([o.ms for o in mine])
            if self.bench.trace:
                rep[f"queryable.{kind}_jobs"] = median([o.jobs for o in mine])
                rep[f"queryable.{kind}_tasks"] = median([o.tasks for o in mine])
        if self.bench.trace:
            rep["queryable.select_jobs"] = median([o.jobs for o in admitted])
            rep["queryable.select_tasks"] = median([o.tasks for o in admitted])


# ============================================================ promql-range

# Four range queries that between them cover rate/increase, sum by/avg
# by, topk, *_over_time, a regex selector and a binary op with on().
PROMQL_SHAPES = ("sum_rate", "topk_over_time", "avg_increase_regex", "binary_on")
PROMQL_STEPS = 61  # 1h at a 60 s step


def promql_text(kind: str, p: dict) -> str:
    m = p["metric"]
    if kind == "sum_rate":
        return f'sum by (region) (rate({m}{{service="{p["service"]}",environment="{p["environment"]}"}}[5m]))'
    if kind == "topk_over_time":
        return f'topk(3, avg_over_time({m}{{region="{p["region"]}",service="{p["service"]}"}}[10m]))'
    if kind == "avg_increase_regex":
        return (f'avg by (zone) (increase({m}{{instance=~"{p["instance_re"]}",'
                f'service="{p["service"]}"}}[10m]))')
    if kind == "binary_on":
        sel = f'{{service="{p["service"]}",environment="{p["environment"]}"}}'
        return f'{m}{sel} - on(instance, region, zone, service, environment) {p["metric2"]}{sel}'
    raise ValueError(kind)


def promql_params(rng: random.Random) -> dict:
    dims = dict(f2.DIMS)

    def any_(label):
        return f2.label_value(label, rng.randrange(dims[label]))

    p = {"metric": any_("__name__"), "service": any_("service"),
         "environment": any_("environment"), "region": any_("region")}
    lo = rng.randrange(dims["instance"] - 4)
    p["instance_re"] = f"instance-[{lo}-{lo + 4}]"
    p["metric2"] = f2.label_value("__name__", (f2.metric_index(p["metric"]) + 1 + rng.randrange(4)) % 5)
    # starting 10-59 min into the data: every window holds whole samples
    # and the range crosses the shard boundary
    p["start"] = f2.T0 + rng.randrange(10, 60) * f2.STEP_MS
    return p


def promql_steps(p: dict) -> list[int]:
    return [p["start"] + i * f2.STEP_MS for i in range(PROMQL_STEPS)]


def check_promql_op(op: Op, series) -> None:
    if op.error:
        return
    want = f2.promql_expectation(op.kind, op.extra["params"], promql_steps(op.extra["params"]), series)
    got = op.outcome
    if set(got) != set(want):
        missing, extra = len(set(want) - set(got)), len(set(got) - set(want))
        _fail(op, f"{op.extra['text']}: {missing} expected points missing, {extra} unexpected")
        return
    bad = [k for k in want if not f2.close(got[k], want[k])]
    if bad:
        _fail(op, f"{op.extra['text']}: {len(bad)} values differ, e.g. {got[bad[0]]} != {want[bad[0]]}")


class PromqlRange(Part):
    """One closed-loop client cycling range queries through
    ``PromQLEngine.from_shards`` in a fixed order; each query draws fresh
    label values and a start time, so matcher sets rarely repeat."""

    name = "promql-range"
    cycle_steps = len(PROMQL_SHAPES)
    inputs = ("f2",)

    def open(self):
        from parquet_common_spark.promqltest import PromQLEngine

        dirs = f2_shards(self.bench)
        t = time.perf_counter()
        with self.bench.tracer.span("promqltest.from_shards", "setup"):
            self.eng = PromQLEngine.from_shards(self.bench.spark, dirs, ts_divisor=1)
        self.report["promqltest.from_shards_ms"] = (time.perf_counter() - t) * 1e3

    def steps(self, rng: random.Random, warm: bool):
        while True:
            for kind in PROMQL_SHAPES:
                p = promql_params(rng)
                yield lambda kind=kind, p=p: [self.run_op(kind, p)]

    def run_op(self, kind: str, p: dict) -> Op:
        from parquet_common_spark.promqltest import parse_promql

        bench = self.bench
        text = promql_text(kind, p)
        op = Op(kind=kind, key=(text, p["start"]), extra={"params": p, "text": text})
        op_id = bench.next_op_id("promql")
        steps = promql_steps(p)
        t0 = time.perf_counter()
        try:
            with bench.counted(op, op_id), bench.tracer.span("op.promql", op_id):
                t = time.perf_counter()
                with bench.tracer.span("promqltest.parse", op_id):
                    expr = parse_promql(text)
                op.extra["parse_ms"] = (time.perf_counter() - t) * 1e3
                t = time.perf_counter()
                with bench.tracer.span("promqltest.plan", op_id):
                    df = self.eng.eval_range_df(expr, steps[0], steps[-1], f2.STEP_MS)
                op.plan_ms = (time.perf_counter() - t) * 1e3
                t = time.perf_counter()
                with bench.tracer.span("promqltest.exec", op_id):
                    rows = df.collect()
                op.exec_ms = (time.perf_counter() - t) * 1e3
            labels = [c for c in df.columns if c.startswith("l_")]
            op.rows = len(rows)
            op.outcome = {
                (tuple(sorted((c[2:], r[c]) for c in labels if r[c] is not None)), r["_ev"]): r["value"]
                for r in rows
            }
            if len(op.outcome) != len(rows):
                _fail(op, "duplicate (labels, step) rows")
        except Exception as ex:
            op.error = _error(ex)
        op.ms = (time.perf_counter() - t0) * 1e3
        return op

    def check(self):
        series = f2.all_series()
        for op in self.ops():
            check_promql_op(op, series)
        ok = self.ops()
        rep = self.report
        rep["promql_p50_ms"] = median([o.ms for o in ok])
        rep["promql_p90_ms"] = percentile_report([o.ms for o in ok], 0.90)
        rep["promqltest.parse_ms"] = median([o.extra["parse_ms"] for o in ok])
        rep["promqltest.plan_ms"] = median([o.plan_ms for o in ok])
        rep["promqltest.exec_ms"] = median([o.exec_ms for o in ok])
        rep["promqltest.rows_out"] = sum(o.rows for o in ok)
        if self.bench.trace:
            rep["promqltest.spark_tasks"] = median([o.tasks for o in ok])


# ================================================================== ingest

INGEST_DIMS = (("__name__", 1), ("instance", 10), ("zone", 4), ("service", 30))
INGEST_SERIES = 1 * 10 * 4 * 30
BATCH_SAMPLES = 30      # per series; one batch = 30 minutes of scrapes
BATCHES_PER_COMPACT = 3


def ingest_offset(seed: int) -> int:
    """Series-id offset that makes each seed's sample values its own."""
    return 7 * (seed % 1000)


def ingest_readback_set(rng: random.Random) -> list[list]:
    from parquet_common_spark.matchers import Matcher

    name = Matcher("__name__", "=", "test_metric_0")
    lo = rng.randrange(8)
    return [
        [name, Matcher("service", "=", f"service-{rng.randrange(30)}")],
        [name, Matcher("instance", "=~", f"instance-[{lo}-{lo + 2}]"),
         Matcher("zone", "=", f"zone-{rng.randrange(4)}")],
        [name],
    ]


def ingest_expectation(matchers, seed: int, first_batch: int) -> dict:
    """Rows and value sums a select over one compacted shard returns."""
    ids = f2.matching_ids(f2.all_series(INGEST_DIMS), matchers)
    return f2.select_expectation([f2.coeff(k + ingest_offset(seed)) for k in ids],
                                 BATCH_SAMPLES * BATCHES_PER_COMPACT, first_batch * BATCH_SAMPLES)


class Ingest(Part):
    """One client: convert batches of new samples into new shards,
    compact every few batches, read the compacted shard back."""

    name = "ingest"
    cycle_steps = BATCHES_PER_COMPACT + 4  # converts, compaction, 3 readbacks

    def open(self):
        self.out_root = os.path.join(self.bench.run_dir, "ingest")

    def write(self, kind: str, key, fn, rows: int) -> Op:
        op = Op(kind=kind, key=key, rows=rows)
        op_id = self.bench.next_op_id(kind)
        t = time.perf_counter()
        try:
            with self.bench.counted(op, op_id), self.bench.tracer.span(f"convert.{kind}", op_id):
                out = fn()
            op.extra["bytes"], op.extra["files"] = dir_stats(out)
        except Exception as ex:
            op.error = _error(ex)
        op.ms = (time.perf_counter() - t) * 1e3
        return op

    def readback(self, q, matchers, first_batch: int) -> Op:
        op = Op(kind="readback", key=("readback", first_batch, _matcher_key(matchers)),
                extra={"matchers": matchers, "first_batch": first_batch})
        op_id = self.bench.next_op_id("readback")
        t0 = time.perf_counter()
        try:
            with self.bench.counted(op, op_id), self.bench.tracer.span("op.readback", op_id):
                t = time.perf_counter()
                with self.bench.tracer.span("queryable.select_plan", op_id):
                    df = q.select(f2.T0, f2.T0 + 10**10, matchers)
                op.plan_ms = (time.perf_counter() - t) * 1e3
                _observed_select(self.bench, df, op, op_id)
        except Exception as ex:
            op.error = _error(ex)
        op.ms = (time.perf_counter() - t0) * 1e3
        return op

    def steps(self, rng: random.Random, warm: bool):
        """Per cycle: BATCHES_PER_COMPACT converts, one compaction of
        their shards, then the readback set on the compacted shard.  The
        warm-up stream writes cycle 0, the measured one cycles 1, 2, ..."""
        from parquet_common_spark import convert as C
        from parquet_common_spark.queryable import ParquetQueryable

        spark = self.bench.spark
        for cycle in itertools.count(0 if warm else 1):
            first = cycle * BATCHES_PER_COMPACT
            dirs = [os.path.join(self.out_root, f"batch-{b}") for b in range(first, first + BATCHES_PER_COMPACT)]
            for b, d in enumerate(dirs, first):
                def convert(b=b, d=d):
                    frame = f2.wide_frame(spark, b * BATCH_SAMPLES, (b + 1) * BATCH_SAMPLES,
                                          INGEST_DIMS, ingest_offset(self.seed))
                    C.convert(frame, d, labels_col=None)
                    return d

                yield lambda b=b, convert=convert: [
                    self.write("convert", ("convert", b), convert, INGEST_SERIES * BATCH_SAMPLES)]
            cdir = os.path.join(self.out_root, f"compact-{cycle}")

            def compact(dirs=dirs, cdir=cdir):
                C.compact_shards(spark, dirs, cdir)
                return cdir

            yield lambda cycle=cycle, compact=compact: [self.write(
                "compact", ("compact", cycle), compact, INGEST_SERIES * BATCH_SAMPLES * BATCHES_PER_COMPACT)]
            opened: dict = {}
            for matchers in ingest_readback_set(rng):
                def back(cdir=cdir, matchers=matchers, first=first, opened=opened):
                    if not os.path.isdir(cdir):  # the compaction failed
                        return []
                    if not opened:
                        opened["q"] = ParquetQueryable.from_paths(spark, [cdir])
                    return [self.readback(opened["q"], matchers, first)]

                yield back

    def check(self):
        for op in self.ops("readback"):
            want = ingest_expectation(op.extra["matchers"], self.seed, op.extra["first_batch"])
            if not _sums_match(op.outcome, want):
                _fail(op, f"readback {op.key}: got {op.outcome} want {want}")
        conv, comp, back = self.ops("convert"), self.ops("compact"), self.ops("readback")
        rep = self.report
        write_s = sum(o.ms for o in conv + comp) / 1e3
        rep["ingest_samples_per_s"] = sum(o.rows for o in conv) / write_s if write_s else 0.0
        rep["ingest_bytes_per_sample"] = (
            sum(o.extra["bytes"] for o in comp) / sum(o.rows for o in comp) if comp else 0.0
        )
        rep["ingest_readback_ms"] = median([o.ms for o in back])
        rep["convert.convert_s"] = median([o.ms / 1e3 for o in conv])
        rep["convert.compact_s"] = median([o.ms / 1e3 for o in comp])
        rep["convert.bytes_written"] = sum(o.extra["bytes"] for o in conv + comp)
        rep["convert.files_written"] = sum(o.extra["files"] for o in conv + comp)
        rep["convert.files_after_compact"] = median([o.extra["files"] for o in comp])
        self.layout = [(o.extra["bytes"] / o.rows, o.extra["files"]) for o in comp]
        rep["queryable.select_plan_ms"] = median([o.plan_ms for o in back])
        rep["queryable.select_exec_ms"] = median([o.exec_ms for o in back])
        rep["queryable.rows_returned"] = sum(o.rows or 0 for o in back)


# =============================================================== analytics


class Analytics(Part):
    """One client making passes over the headline registry queries on
    generated tables; the pair cache is cleared before each pass.  The
    tables and the order are fixed, so the seed changes nothing here."""

    name = "analytics"
    inputs = ("tables",)

    def open(self):
        import __spark_entry__ as E
        from parquet_common_spark.plans.common import REGISTRY

        spec = importlib.util.spec_from_file_location(
            "check_correctness", os.path.join(self.bench.root, "tools", "check_correctness.py"))
        self.cc = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.cc)
        self.sf_dir = self.bench.input_dir("tables")
        E.queries()  # registers every query
        self.queries = {n: q for n, q in REGISTRY.items() if q.headline}
        self.cycle_steps = len(self.queries)  # one pass
        self.oracles = E.oracle_sql()
        self.passes: list[float] = []

    def table_hash(self, tbl) -> tuple:
        cols = tbl.column_names
        return (tuple(sorted(cols)), tbl.num_rows, self.cc.value_hash(cols, self.cc.table_rows(tbl)))

    def run_op(self, name: str) -> Op:
        bench = self.bench
        q = self.queries[name]
        layer = "operators" if q.fn.__module__.endswith("pipeline_queries") else "plans"
        op = Op(kind=name, key=(name,), extra={"layer": layer})
        op_id = bench.next_op_id("query")
        t0 = time.perf_counter()
        try:
            with bench.counted(op, op_id), bench.tracer.span("op.query", op_id):
                t = time.perf_counter()
                with bench.tracer.span(f"{layer}.{name}.plan", op_id):
                    df = q.fn(bench.spark, self.sf_dir)
                op.plan_ms = (time.perf_counter() - t) * 1e3
                t = time.perf_counter()
                with bench.tracer.span(f"{layer}.{name}.exec", op_id):
                    tbl = df.toArrow()
                op.exec_ms = (time.perf_counter() - t) * 1e3
            op.rows = tbl.num_rows
            op.outcome = self.table_hash(tbl)
        except Exception as ex:
            op.error = _error(ex)
        op.ms = (time.perf_counter() - t0) * 1e3
        return op

    def steps(self, rng: random.Random, warm: bool):
        """Passes over the headline queries in registry order; the pair
        cache is cleared before each pass, untimed."""
        from parquet_common_spark.operators.pipeline_queries import clear_pairs_cache

        names = list(self.queries)
        while True:
            started: list[float] = []
            for i, name in enumerate(names):
                def step(i=i, name=name, started=started):
                    if i == 0:
                        clear_pairs_cache()
                        started.append(time.perf_counter())
                    op = self.run_op(name)
                    if i == len(names) - 1 and not warm:
                        self.passes.append(time.perf_counter() - started[0])
                    return [op]

                yield step

    def check(self):
        import duckdb

        # the DuckDB oracle, once per run and outside the timed loop
        con = duckdb.connect()
        try:
            for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            want = {n: self.table_hash(con.execute(self.oracles[n]).arrow()) for n in self.queries}
        finally:
            con.close()
        for op in self.ops():
            if op.outcome != want[op.kind]:
                _fail(op, f"{op.kind}: result {op.outcome} != oracle {want[op.kind]}")
        rep = self.report
        rep["analytics_pass_s"] = median(self.passes)
        rep["analytics_passes"] = len(self.passes)
        for name in self.queries:
            mine = self.ops(name)
            layer = mine[0].extra["layer"] if mine else "plans"
            rep[f"{layer}.{name}.plan_ms"] = median([o.plan_ms for o in mine])
            rep[f"{layer}.{name}.exec_ms"] = median([o.exec_ms for o in mine])
            if self.bench.trace:
                rep[f"{layer}.{name}.spark_tasks"] = median([o.tasks for o in mine])


# ================================================================= runner

PARTS = {p.name: p for p in (ReadMix, PromqlRange, Ingest, Analytics)}
# Each part runs on its own; the workloads BENCHMARK.json lists run two
# one after the other on one session and one set-up, so the read path and
# the write/analytics path each get a warm measurement within the
# benchmark's time budget.
WORKLOADS = {
    "reads": ("read-mix", "promql-range"),
    "batch": ("ingest", "analytics"),
    **{name: (name,) for name in PARTS},
}


def run_threads(targets) -> None:
    """Run each target in its own thread; re-raise the first error."""
    errors: list[BaseException] = []

    def wrap(fn):
        try:
            fn()
        except BaseException as ex:  # re-raised below, after every join
            errors.append(ex)

    threads = [threading.Thread(target=wrap, args=(fn,)) for fn in targets]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


def run(bench: Bench, workload: str, seed: int, seconds: float) -> list[Part]:
    parts = [PARTS[name](bench, seed) for name in WORKLOADS[workload]]
    t = time.perf_counter()
    for p in parts:
        p.open()
    bench.open_s = time.perf_counter() - t
    t = time.perf_counter()
    for p in parts:
        p.warm()
    bench.warm_s = time.perf_counter() - t
    # set-up ends here: process start through session, opening the
    # inputs and the warm-up, minus the wait for an input build
    bench.setup_s = process_age_s() - bench.build_s
    bench.tracer.spans = [s for s in bench.tracer.spans if s.op == "setup"]
    start = time.perf_counter()
    # one part after the other, so they never contend for the cores
    for p in parts:
        p.loop(seconds / len(parts))
    bench.measured_s = time.perf_counter() - start
    for p in parts:
        p.check()
    return parts


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def summarize(bench: Bench, parts: list[Part]) -> tuple[dict, dict]:
    """(end-to-end metrics, per-layer metrics) of a finished run; the
    named metrics of every part go into ``bench.report``."""
    # Latency: per part, the geometric mean over its kinds of operation
    # of each kind's median latency, so a cheap kind weighs as much as an
    # expensive one; rate: per part, its operations over its own loop
    # time.  Each part of a workload weighs the same (geometric mean
    # across parts).
    lat, rate = [], []
    for p in parts:
        if not p.ops():
            raise RuntimeError(f"{p.name}: no operation succeeded: {p.ops(ok=False)[:1]}")
        kinds: dict = {}
        for o in p.ops():
            kinds.setdefault(p.stratum(o), []).append(o.ms)
        lat.append(geomean([median(v) for v in kinds.values()]))
        rate.append(len(p.ops()) / p.duration_s)
        p.report["op_ms"], p.report["ops_per_s"] = lat[-1], rate[-1]
        ops = p.ops(ok=False)
        p.report["repeat_share"] = sum(o.repeat for o in ops) / len(ops)
    end_to_end = {
        "setup_s": bench.setup_s,
        "op_ms": geomean(lat),
        "ops_per_s": geomean(rate),
    }
    ok = [o for o in bench.ops if not o.error]
    layout = [x for p in parts for x in p.layout]
    per_layer = {
        "session.start_s": bench.session_start_s,
        "setup.open_s": bench.open_s,
        "setup.warm_s": bench.warm_s,
        "plan_ms": median([o.plan_ms for o in ok if o.plan_ms is not None]),
        "exec_ms": median([o.exec_ms for o in ok if o.exec_ms is not None]),
        "spark_jobs": median([o.jobs for o in ok]),
        "spark_tasks": median([o.tasks for o in ok]),
        "trace.job_count_ms": bench.job_count_s * 1e3 / max(len(bench.ops), 1),
        "convert.bytes_per_sample": median([b for b, _ in layout]),
        "convert.files_per_shard": median([f for _, f in layout]),
    }
    bench.report["peak_rss_mb"] = peak_rss_mb()
    bench.report["convert.dataset_build_s"] = bench.build_s
    bench.report["parts"] = {p.name: p.report for p in parts}
    bench.report["layers"] = layer_summary(bench.tracer.spans) if bench.trace else {}
    return end_to_end, per_layer
