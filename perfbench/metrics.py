"""Metric arithmetic for the benchmark: the ten-samples-beyond rule for
percentiles, write amplification, failure counting, and the per-layer
aggregation of a span file."""
import json

# The smallest number of samples that must lie beyond a reported percentile.
MIN_BEYOND = 10


def beyond(n, pct):
    """How many of `n` samples lie above the `pct`-th percentile."""
    return int(n * (100 - pct) // 100)


def highest_supported(n, candidates=(50, 75, 90, 95, 99)):
    """The highest candidate percentile that `n` samples support."""
    ok = [p for p in candidates if beyond(n, p) >= MIN_BEYOND]
    return max(ok) if ok else None


def write_amplification(bytes_written, final_bytes):
    """Bytes a sink wrote over its life divided by what it holds at the
    end; 1.0 means every byte was written once."""
    if final_bytes <= 0:
        raise ValueError("final size must be positive")
    return bytes_written / final_bytes


def count_failures(attempted, failed_ops):
    """(attempted, failed) with each failed operation counted once and
    never more failures than attempts."""
    failed = len(set(failed_ops))
    if failed > attempted:
        raise ValueError(f"{failed} failures out of {attempted} attempts")
    return attempted, failed


def read_spans(path):
    jobs, stages, batches = [], [], []
    with open(path) as f:
        for line in f:
            s = json.loads(line)
            {"job": jobs, "stage": stages, "batch": batches}[s["kind"]].append(s)
    return jobs, stages, batches


def final_state(batches):
    """(rows, bytes) of stream state after the last batch of each query."""
    last = {}
    for b in batches:
        if b["query_id"] not in last or b["batch_id"] > last[b["query_id"]]["batch_id"]:
            last[b["query_id"]] = b
    return (sum(b["state_rows"] for b in last.values()),
            sum(b["state_bytes"] for b in last.values()))


def layer_totals(jobs, stages, key=None):
    """Per `key` value (module or owner), or over everything when `key` is
    None: jobs, stages, tasks, executor seconds, shuffle and output bytes,
    spill bytes."""
    out = {}
    for j in jobs:
        out.setdefault(j[key] if key else "", empty_totals())["jobs"] += 1
    for s in stages:
        t = out.setdefault(s[key] if key else "", empty_totals())
        t["stages"] += 1
        t["tasks"] += s["tasks"]
        t["executor_s"] += s["executor_ms"] / 1000.0
        t["shuffle_bytes"] += s["shuffle_read"] + s["shuffle_write"]
        t["output_bytes"] += s["output"]
        t["spill_bytes"] += s["spill"]
    return out


def empty_totals():
    return {"jobs": 0, "stages": 0, "tasks": 0, "executor_s": 0.0,
            "shuffle_bytes": 0, "output_bytes": 0, "spill_bytes": 0}
