"""Turns the raw record of one benchmark process into the metrics it reports.

The JVM side measures; this module holds all of the benchmark's arithmetic
(median, tail percentile, rates, recall) so that it can be tested alone.
"""
import statistics

MIN_BEYOND_TAIL = 10

END_TO_END = {
    "setup_s": "s",
    "queries_per_s": "1/s",
    "rows_per_s": "rows/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "recall": "ratio",
    "heap_live_peak_mb": "MB",
}

PER_LAYER = {
    "sources.open_s": "s",
    "sources.opens": "count",
    "sources.input_bytes": "bytes",
    "operators.construct_s": "s",
    "operators.construct_jobs": "count",
    "operators.build_s.ivf_standing": "s",
    "operators.build_s.ivf_full": "s",
    "operators.build_s.bm25": "s",
    "operators.artifact_bytes.ivf_standing": "bytes",
    "operators.artifact_bytes.ivf_full": "bytes",
    "operators.artifact_bytes.bm25": "bytes",
    "operators.index_bytes_per_input_byte": "ratio",
    "plan.s": "s",
    "plan.exchanges": "count",
    "execute.s": "s",
    "execute.jobs": "count",
    "execute.stages": "count",
    "execute.tasks": "count",
    "execute.task_run_s": "s",
    "execute.task_cpu_s": "s",
    "execute.gc_s": "s",
    "execute.sched_delay_s": "s",
    "execute.core_util": "ratio",
    "execute.shuffle_write_bytes": "bytes",
    "execute.shuffle_read_bytes": "bytes",
    "execute.spill_bytes": "bytes",
    "execute.peak_exec_memory_bytes": "bytes",
    "functions.shingle_set.rows_per_s": "rows/s",
    "functions.minhash.rows_per_s": "rows/s",
    "functions.band_keys.rows_per_s": "rows/s",
    "functions.cosine.rows_per_s": "rows/s",
    "storage.cache_peak_bytes": "bytes",
    "storage.resident_bytes_after": "bytes",
    "storage.persisted_rdds_after": "count",
    "trace.coverage": "ratio",
    "trace.overhead_ratio": "ratio",
}


def nearest_rank(n, p):
    """1-based rank of the whole percentile p among n samples."""
    return max(1, -(-p * n // 100))


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    return sorted(values)[nearest_rank(len(values), p) - 1]


def tail(values):
    """The highest whole percentile with at least MIN_BEYOND_TAIL samples
    above its nearest rank, as (percentile, value). With too few samples
    for any percentile at or above the median, the median stands in,
    reported as percentile 50."""
    n = len(values)
    p = 100 * (n - MIN_BEYOND_TAIL) // n if n else 0
    while p >= 50 and n - nearest_rank(n, p) < MIN_BEYOND_TAIL:
        p -= 1
    if p < 50:
        return 50, statistics.median(values)
    return p, percentile(values, p)


def rate(count, seconds):
    """Work per second of timed wall time."""
    if seconds <= 0:
        raise ValueError("timed wall time must be positive")
    return count / seconds


def recall(hits, total):
    """Share of the exact answers the program returned."""
    if total <= 0:
        raise ValueError("recall needs at least one exact answer")
    return hits / total


def end_to_end(raw):
    """End-to-end metrics of the untraced loop, plus the details printed
    beside them (tail percentile, sample count, error rate, residency)."""
    loop = next(l for l in raw["loops"] if not l["traced"])
    lat = loop["latency_s"]
    wall = sum(lat)
    p, tail_value = tail(lat)
    values = {
        "setup_s": raw["session_s"] + statistics.median(raw["prepare_s"]) + raw["warmup_s"],
        "queries_per_s": rate(len(lat), wall),
        "rows_per_s": rate(sum(loop["rows"]), wall),
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": tail_value,
        "recall": recall(raw["recall_hit"], raw["recall_total"]),
        "heap_live_peak_mb": loop["heap_live_peak_bytes"] / 2**20,
    }
    details = {
        "latency_tail_percentile": p,
        "latency_samples": len(lat),
        "error_rate": raw["failed"] / raw["attempted"],
        "storage.resident_bytes_after": loop["resident_bytes_after"][-1],
        "storage.persisted_rdds_after": loop["persisted_rdds_after"][-1],
    }
    return values, details


def per_layer(raw):
    """Per-layer metrics of the traced loop, with the tracing overhead as
    traced over untraced median latency for the same seed."""
    untraced = next(l for l in raw["loops"] if not l["traced"])
    traced = next(l for l in raw["loops"] if l["traced"])
    values = dict(raw["layers"])
    values["trace.overhead_ratio"] = (
        statistics.median(traced["latency_s"]) / statistics.median(untraced["latency_s"]))
    missing = PER_LAYER.keys() - values.keys()
    if missing:
        raise ValueError(f"traced run lacks {sorted(missing)}")
    return {k: values[k] for k in PER_LAYER}
