"""Shared harness logic: the metric spec, metric-name validation,
percentile selection, the result line, and the two-run comparison.

Pure functions only, so that `test_harness.py` can check them without
building or running anything.
"""

import json
import math
import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
RESULT_KEYS = ("correct", "attempted", "failed", "metrics")
# p90 needs at least ten samples beyond it, p99 a hundred, and so on
TAIL_PERCENTILES = ((99.9, 10000), (99.0, 1000), (90.0, 100))


def valid_name(name):
    """A metric or workload name: a letter or digit, then up to 63 of
    `[A-Za-z0-9_.-]`."""
    return isinstance(name, str) and NAME_RE.fullmatch(name) is not None


def load_spec(path):
    """Read BENCHMARK.json and check the names and units it declares."""
    with open(path) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    for group in ("end_to_end", "per_layer"):
        for m in spec[group]:
            names.append(m["name"])
            if not UNIT_RE.fullmatch(m["unit"]):
                raise ValueError(f"bad unit {m['unit']!r} for {m['name']}")
            if m["better"] not in ("higher", "lower"):
                raise ValueError(f"bad direction for {m['name']}")
    bad = [n for n in names if not valid_name(n)]
    if bad:
        raise ValueError(f"bad names: {bad}")
    if len(set(names)) != len(names):
        raise ValueError("a name is used twice")
    return spec


def median(xs):
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def nearest_rank(xs, pct):
    """The nearest-rank percentile: the smallest sample with at least
    `pct` percent of the samples at or below it."""
    s = sorted(xs)
    rank = max(1, math.ceil(pct / 100.0 * len(s)))
    return s[rank - 1]


def tail_percentile(n):
    """The highest percentile that has at least ten of `n` samples
    beyond it, or None when even p90 has fewer."""
    for pct, need in TAIL_PERCENTILES:
        if n >= need:
            return pct
    return None


def timing_summary(xs):
    """Median, the reportable tail percentile (if any) and the count."""
    out = {"p50": median(xs), "n": len(xs)}
    pct = tail_percentile(len(xs))
    if pct is not None:
        out["p%g" % pct] = nearest_rank(xs, pct)
    return out


def op_p50(op_s):
    """Median wall time per operation kind, geometric mean over the kinds
    (the plain median when there is one kind). A mix of kinds with
    different costs would put a pooled median at the gap between two of
    them."""
    if not op_s:
        raise ValueError("no operation succeeded")
    meds = [median(xs) for xs in op_s.values()]
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def end_to_end(raw):
    """The end-to-end metric values of one raw run record."""
    return {
        "setup_s": median(raw["setup_s"]),
        "op_s_p50": op_p50(raw["op_s"]),
        "rows_per_s": raw["rows"] / raw["rows_wall_s"],
        "heap_mb_peak": raw["heap_mb_peak"],
        "quant_error": raw["quant_error"],
    }


def result(raw, spec, trace):
    """The result object printed as the last line of a run.

    With trace 0 the metrics are every end-to-end metric of the spec, with
    trace 1 every per-layer metric. Raises ValueError when a metric is
    missing, undeclared or not a finite number, or when an end-to-end
    metric is not positive.
    """
    group = "per_layer" if trace else "end_to_end"
    values = raw["per_layer"] if trace else end_to_end(raw)
    declared = {m["name"]: m["unit"] for m in spec[group]}
    missing = sorted(set(declared) - set(values))
    extra = sorted(set(values) - set(declared))
    if missing or extra:
        raise ValueError(f"{group}: missing {missing}, undeclared {extra}")
    metrics = {}
    for name, unit in declared.items():
        v = values[name]
        if not isinstance(v, (int, float)) or isinstance(v, bool) or not math.isfinite(v):
            raise ValueError(f"{name} is not a finite number: {v!r}")
        if not trace and v <= 0:
            raise ValueError(f"{name} must be positive, got {v}")
        metrics[name] = {"value": v, "unit": unit}
    attempted = int(raw["attempted"])
    failed = int(raw["failed"])
    if attempted < 1:
        raise ValueError("no operation was attempted")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def result_line(res):
    """One JSON line with exactly the result keys, in order."""
    if tuple(res) != RESULT_KEYS:
        raise ValueError(f"result keys must be {RESULT_KEYS}, got {tuple(res)}")
    return json.dumps(res, separators=(",", ":"))


def quartiles(xs):
    """(q1, median, q3) as `statistics.quantiles(xs, n=4)` gives them."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / abs(q2) if q2 else math.inf


def verdict(base, change, better, bound=None):
    """Compare paired runs of one metric (parent first, change second).

    - better: the change wins at least nine tenths of the pairs (ties
      count for neither) and the medians differ by more than the
      parent's interquartile distance, in the better direction;
    - worse: the change's median is worse than the parent's by more than
      `bound` (a share of the parent's median) — or, without a bound, by
      the same nine-tenths rule as `better`;
    - unresolved: the parent's spread is wider than the bound and neither
      rule above holds, unless every change run beats every parent run;
    - unchanged: otherwise.
    """
    sign = 1.0 if better == "higher" else -1.0
    pairs = list(zip(base, change))
    wins = sum(1 for a, b in pairs if sign * (b - a) > 0)
    losses = sum(1 for a, b in pairs if sign * (b - a) < 0)
    q1, mb, q3 = quartiles(base)
    mc = quartiles(change)[1]
    iqr = q3 - q1
    gain = sign * (mc - mb)
    if pairs and wins >= 0.9 * len(pairs) and gain > iqr:
        return "better"
    if bound is not None:
        if -gain > bound * abs(mb):
            return "worse"
        if spread(base) > bound:
            if min(sign * c for c in change) > max(sign * a for a in base):
                return "better"
            return "unresolved"
        return "unchanged"
    if pairs and losses >= 0.9 * len(pairs) and -gain > iqr:
        return "worse"
    return "unchanged" if mb == mc else "unresolved"
