"""Metric names and units the benchmark reports (BENCHMARK.json lists the
same names; a test keeps the two in step)."""

from __future__ import annotations

import statistics

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "docs_per_s": "docs/s",
    "pair_recall": "ratio",
    "peak_rss_mb": "MB",
}

# every layer also reports wall_s (self time), jobs and share of the pass
LAYERS = {
    "exact_collapse": {"rows_out": "count"},
    "signature": {"python_s": "s", "docs_per_s": "docs/s"},
    "candidates": {"shuffle_mb": "MB", "hot_buckets": "count",
                   "pairs": "count", "useful_ratio": "ratio"},
    "verify": {"shuffle_routes": "count", "shuffle_mb": "MB",
               "pairs_out": "count"},
    "cc": {"distributed": "count", "edges": "count"},
    "funnel": {},
    "snapshot": {},
    "ann": {},
    "checkpoint": {"bytes_written": "bytes"},
}
OPS = ["run_dedup", "flagship", "clusters", "funnel", "snapshot", "ann",
       "ckpt_dedup"]


def per_layer() -> dict[str, str]:
    out = {"session.wall_s": "s", "session.jobs": "count",
           "session.persisted_rdds": "count", "session.storage_mb": "MB",
           "session.spill_mb": "MB",
           "trace.run_s": "s", "trace.overhead_s": "s"}
    for layer, extra in LAYERS.items():
        out.update({f"{layer}.wall_s": "s", f"{layer}.jobs": "count",
                    f"{layer}.share": "ratio"})
        out.update({f"{layer}.{k}": u for k, u in extra.items()})
    out.update({f"ops.{op}.jobs": "count" for op in OPS})
    return out


def summary(values: list[float]) -> dict:
    """Median, sample count, and the highest percentile with at least ten
    samples beyond it (None below 20 samples)."""
    values = sorted(values)
    n = len(values)
    out = {"median": statistics.median(values) if values else None, "n": n,
           "p_hi": None}
    if n >= 20:
        pct = 100 * (1 - 10 / n)
        q = statistics.quantiles(values, n=100, method="inclusive")
        out["p_hi"] = {"pct": round(pct, 1), "value": q[int(pct) - 1]}
    return out
