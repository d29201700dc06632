"""The read workloads' dataset: an F2-shaped label cross-product (the
reference select benchmark's series shape) over two time-adjacent shards,
with every sample value a closed-form function of (series, timestamp).

Because the values are closed-form, every select, label and PromQL
result has an expected answer computed here in plain Python, with no
Spark involved.

Series ``k`` (its position in the cross-product, metric-major) holds a
counter sampled every minute: sample ``j`` (0-based over both shards) is
at ``T0 + j * STEP_MS`` with value ``(j + 1) * coeff(k)``.
``coeff(k) = 1 + k / 2**16`` is exact in binary floating point and
distinct per series, so topk has no ties.
"""

from __future__ import annotations

import itertools
import re
from fractions import Fraction

# label name -> value count; names are "<label>-<i>", metrics
# "test_metric_<i>".  Large enough for every reference matcher value
# (instance-5, zone-3, service-10, environment-1) to exist.
DIMS = (
    ("__name__", 5),
    ("instance", 10),
    ("region", 2),
    ("zone", 4),
    ("service", 12),
    ("environment", 2),
)
LABELS = tuple(n for n, _ in DIMS)
STEP_MS = 60_000
SAMPLES_PER_SHARD = 60
N_SHARDS = 2
N_SAMPLES = SAMPLES_PER_SHARD * N_SHARDS
T0 = 28_333_333 * STEP_MS  # minute-aligned, late 2023
T_END = T0 + (N_SAMPLES - 1) * STEP_MS


def label_value(label: str, i: int) -> str:
    return f"test_metric_{i}" if label == "__name__" else f"{label}-{i}"


def coeff(k: int) -> float:
    return 1.0 + k / 65536.0


def all_series(dims=DIMS) -> list[dict[str, str]]:
    """Every series' labels, index = series id ``k``."""
    return [
        {lab: label_value(lab, i) for (lab, _), i in zip(dims, idx)}
        for idx in itertools.product(*(range(n) for _, n in dims))
    ]


def wide_frame(spark, j_from: int, j_to: int, dims=DIMS, k_offset: int = 0):
    """Samples ``j_from .. j_to - 1`` of every series in ``dims`` as a
    wide DataFrame (``l_*`` label columns, ``ts`` in ms, ``value``),
    generated inside Spark; series ``k`` takes ``coeff(k + k_offset)``."""
    from pyspark.sql import functions as F

    df = spark.range(1).select(F.lit(0).alias("_k"))
    k = F.lit(0)
    for lab, n in dims:
        df = df.crossJoin(spark.range(n).select(F.col("id").alias("_" + lab)))
        k = k * F.lit(n) + F.col("_" + lab)
    j = spark.range(j_from, j_to).select(F.col("id").alias("_j"))
    labels = [
        F.concat(
            F.lit("test_metric_" if lab == "__name__" else lab + "-"),
            F.col("_" + lab).cast("string"),
        ).alias("l_" + lab)
        for lab, _ in dims
    ]
    return df.crossJoin(j).select(
        *labels,
        (F.lit(T0) + F.col("_j") * F.lit(STEP_MS)).alias("ts"),
        ((F.col("_j") + 1).cast("double")
         * (F.lit(1.0) + (k + F.lit(k_offset)).cast("double") / F.lit(65536.0))).alias("value"),
    )


# ------------------------------------------------------------- matchers


def _matches(op: str, pattern: str, value: str) -> bool:
    if op == "=":
        return value == pattern
    if op == "!=":
        return value != pattern
    hit = re.fullmatch(pattern, value) is not None
    return hit if op == "=~" else not hit


def matching_ids(series: list[dict[str, str]], matchers) -> list[int]:
    """Series ids a matcher set selects (Prometheus semantics: regexes
    fully anchored, an absent label reads as "")."""
    return [
        k
        for k, labels in enumerate(series)
        if all(_matches(m.op, m.value, labels.get(m.name, "")) for m in matchers)
    ]


def select_expectation(coeffs: list[float], n_samples: int = N_SAMPLES, j0: int = 0) -> dict:
    """Row count and value sums of a select returning samples
    ``j0 .. j0 + n_samples - 1`` of series with these coefficients."""
    sj = sum(Fraction(j + 1) for j in range(j0, j0 + n_samples))
    sj2 = sum(Fraction((j + 1) ** 2) for j in range(j0, j0 + n_samples))
    ca = [Fraction(c) for c in coeffs]
    return {
        "rows": len(ca) * n_samples,
        "vsum": float(sum(ca) * sj),
        "v2sum": float(sum(c * c for c in ca) * sj2),
    }


def label_names_expectation(series, matchers) -> list[str]:
    if not matchers:
        return sorted(LABELS)
    return sorted(LABELS) if matching_ids(series, matchers) else []


def label_values_expectation(series, name: str, matchers) -> list[str]:
    ids = matching_ids(series, matchers) if matchers else range(len(series))
    return sorted({series[k][name] for k in ids})


def close(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-9 * max(abs(a), abs(b), 1e-12)


# -------------------------------------------------------------- PromQL


def step_index(t_ms: int) -> int:
    return (t_ms - T0) // STEP_MS


def _extrapolated_increase(j: int, window_samples: int, a: float) -> float:
    """Prometheus extrapolatedRate for a counter window whose newest
    sample is ``j`` and that holds ``window_samples`` minute samples,
    with the window start one step before the oldest sample."""
    first = (j - window_samples + 2) * a
    delta = (j + 1) * a - first
    sampled = (window_samples - 1) * STEP_MS / 1000.0
    avg_gap = sampled / (window_samples - 1)
    to_start = STEP_MS / 1000.0
    if to_start >= avg_gap * 1.1:
        to_start = avg_gap / 2
    if delta > 0 and first >= 0:
        to_start = min(to_start, sampled * (first / delta))
    return delta * ((sampled + to_start) / sampled)


def promql_expectation(kind: str, params: dict, steps: list[int], series) -> dict:
    """Expected range-query result: {(labels tuple, step ms): value}."""
    from types import SimpleNamespace as M

    def sel(metric, **eq):
        ms = [M(name="__name__", op="=", value=metric)]
        ms += [M(name=k, op=op, value=v) for k, (op, v) in eq.items()]
        return matching_ids(series, ms)

    def unnamed(k):
        return tuple(sorted((n, v) for n, v in series[k].items() if n != "__name__"))

    def grouped(ids, label, value, mean):
        groups: dict = {}
        for k in ids:
            groups.setdefault(((label, series[k][label]),), []).append(value(k))
        return {g: sum(vs) / len(vs) if mean else sum(vs) for g, vs in groups.items()}

    if kind == "topk_over_time":
        ids = sel(params["metric"], region=("=", params["region"]), service=("=", params["service"]))
    elif kind == "avg_increase_regex":
        ids = sel(params["metric"], instance=("=~", params["instance_re"]), service=("=", params["service"]))
    elif kind in ("sum_rate", "binary_on"):
        ids = sel(params["metric"], service=("=", params["service"]),
                  environment=("=", params["environment"]))
    else:
        raise ValueError(kind)
    out: dict = {}
    for t in steps:
        j = step_index(t)
        if kind == "sum_rate":
            vals = grouped(ids, "region", lambda k: _extrapolated_increase(j, 5, coeff(k)) / 300.0, False)
        elif kind == "topk_over_time":
            top = sorted(ids, key=coeff, reverse=True)[:3]
            vals = {unnamed(k): sum((i + 1) * coeff(k) for i in range(j - 9, j + 1)) / 10 for k in top}
        elif kind == "avg_increase_regex":
            vals = grouped(ids, "zone", lambda k: _extrapolated_increase(j, 10, coeff(k)), True)
        else:
            per_metric = len(series) // len({s["__name__"] for s in series})
            shift = (metric_index(params["metric2"]) - metric_index(params["metric"])) * per_metric
            vals = {unnamed(k): (j + 1) * coeff(k) - (j + 1) * coeff(k + shift) for k in ids}
        out.update({(labels, t): v for labels, v in vals.items()})
    return out


def metric_index(metric: str) -> int:
    return int(metric.rsplit("_", 1)[1])
