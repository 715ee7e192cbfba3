"""Summary statistics for the benchmark's timings.

A timing is reported as a median plus p90, together with the sample count
and the number of samples beyond p90: a p90 is only well supported when at
least ten samples lie beyond it (n >= 100), so the count travels with it.

A run's latencies are summarized per kind of operation first (each query of
ops_mix, the task of automl_task, each UI step of profile_session): a kind's
median over its samples, then quantiles across kinds. A burst of load from
elsewhere on the box moves single samples, not a kind's median; pooled
quantiles over a few samples of a few very different kinds sit in the gaps
between kinds and jump with such bursts.
"""

from __future__ import annotations

import math
import statistics


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolation quantile (numpy's default), 0 <= q <= 1."""
    if not values:
        raise ValueError("quantile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def summarize(values: list[float]) -> dict:
    """Median, p90 and the sample counts that qualify them."""
    n = len(values)
    beyond = n - math.ceil(0.9 * n)
    return {
        "n": n,
        "p50": statistics.median(values),
        "p90": quantile(values, 0.9),
        "beyond_p90": beyond,
        "p90_supported": beyond >= 10,
    }


def summarize_kinds(samples: list[tuple[str, float]]) -> dict:
    """``samples`` are (kind, latency) pairs. Returns each kind's median,
    the median and p90 across kinds (with the counts that qualify them) and
    the closed-loop rate at those medians: operations per second when every
    operation takes its kind's median."""
    by_kind: dict[str, list[float]] = {}
    for kind, latency in samples:
        by_kind.setdefault(kind, []).append(latency)
    medians = {k: statistics.median(v) for k, v in by_kind.items()}
    across = summarize(list(medians.values()))
    return {
        "n": len(samples),
        "kinds": across["n"],
        "min_per_kind": min(len(v) for v in by_kind.values()),
        "p50": across["p50"],
        "p90": across["p90"],
        "beyond_p90": across["beyond_p90"],
        "p90_supported": across["p90_supported"],
        "per_s": len(samples) / sum(medians[k] for k, _ in samples),
        "kind_median": medians,
    }


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its interval
    that its direct children cover (children clipped to the parent,
    overlapping children counted once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        parent = by_id.get(s["parent"])
        if parent is not None:
            lo = max(s["start"], parent["start"])
            hi = min(s["end"], parent["end"])
            if hi > lo:
                children.setdefault(parent["id"], []).append((lo, hi))
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(children.get(s["id"], [])):
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out
