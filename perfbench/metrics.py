"""Metric catalogue, the percentile rule and the metric-name rule.

The per-layer names are generated here once; ``BENCHMARK.json`` lists the
same names (a test keeps the two in step).
"""

from __future__ import annotations

import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

#: Layers in the order the traced runs visit them.  Each maps to engine
#: modules: signatures = functions/signatures + lsh.all_candidate_keys,
#: lsh = lsh.candidate_pairs, verify = verify.confirm_pairs, exact =
#: operators/exact, cluster = operators/cluster, chunk / store =
#: operators/chunk + operators/store, stream = streaming/dedup_stream.
LAYERS = ("signatures", "exact", "lsh", "verify", "cluster", "chunk", "store", "stream")

#: (suffix, unit, better) recorded for every layer.
LAYER_BASE = (
    ("s", "s", "lower"),
    ("rows_in", "count", "higher"),
    ("rows_out", "count", "higher"),
    ("jobs", "count", "lower"),
    ("tasks", "count", "lower"),
    ("task_ms", "ms", "lower"),
    ("cpu_ms", "ms", "lower"),
    ("gc_ms", "ms", "lower"),
    ("shuffle_read_bytes", "bytes", "lower"),
    ("shuffle_write_bytes", "bytes", "lower"),
    ("spill_bytes", "bytes", "lower"),
    ("task_skew", "ratio", "lower"),
)

#: Layer-specific extras: (name, unit, better).
LAYER_EXTRAS = (
    ("lsh.pairs_out", "count", "lower"),
    ("lsh.max_bucket", "count", "lower"),
    ("verify.confirm_ratio", "ratio", "higher"),
    ("cluster.edges_in", "count", "lower"),
    ("cluster.clusters_out", "count", "lower"),
    ("store.unique_ratio", "ratio", "lower"),
    ("store.novel_ratio", "ratio", "lower"),
    ("stream.jobs_per_trigger", "count", "lower"),
    ("stream.addbatch_ms", "ms", "lower"),
    ("stream.overhead_ms", "ms", "lower"),
    ("stream.compact_s", "s", "lower"),
    ("stream.index_bytes", "bytes", "lower"),
    ("stream.index_files", "count", "lower"),
    ("stream.text_index_bytes", "bytes", "lower"),
    ("trace.overhead_pct", "%", "lower"),
)


def per_layer_catalogue() -> list[dict]:
    """Every per-layer metric as a ``BENCHMARK.json`` entry."""
    out = [
        {"name": f"{layer}.{suffix}", "unit": unit, "better": better}
        for layer in LAYERS
        for suffix, unit, better in LAYER_BASE
    ]
    out += [{"name": n, "unit": u, "better": b} for n, u, b in LAYER_EXTRAS]
    return out


def check_name(name: str) -> str:
    """Return ``name`` if it meets the metric-name rule, else raise."""
    if not NAME_RE.fullmatch(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


#: Percentiles considered above the median, highest first.
_UPPER = (99, 95, 90, 75)
MIN_BEYOND = 10


def top_percentile(n: int) -> int | None:
    """Highest percentile (of 75/90/95/99, else 50) that leaves at least
    ``MIN_BEYOND`` of ``n`` samples beyond it; ``None`` when even the
    median does not."""
    for q in _UPPER + (50,):
        if n * (100 - q) >= MIN_BEYOND * 100:
            return q
    return None


def summarize(samples: list[float]) -> dict:
    """Median, sample count and the highest percentile the count supports
    (``top_q`` / ``top_value`` are ``None`` when none qualifies)."""
    n = len(samples)
    if n == 0:
        raise ValueError("no samples")
    q = top_percentile(n)
    if q is None:
        top = None
    elif q == 50:
        top = statistics.median(samples)
    else:
        top = statistics.quantiles(samples, n=100, method="inclusive")[q - 1]
    return {"n": n, "median": statistics.median(samples), "top_q": q, "top_value": top}
