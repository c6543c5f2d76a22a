"""Turn pass records into the metrics BENCHMARK.json names."""

from __future__ import annotations

from typing import Any, Dict, List

from harness import median, percentile, self_times, totals_by_name


def end_to_end(passes: List[Dict[str, Any]], setup_s: float, live_mb: float) -> Dict[str, float]:
    """From the counted untraced passes (see run._counted), each figure
    the median over those passes of that pass's own value. The gap is
    each pass's mean gap: a pass of
    ``etl_nightly`` has seven gaps of distinct sizes, so a median gap
    jumps from one to the next between runs and no tail percentile has
    samples enough; the trace run reports p50 and p90 as per-layer
    metrics."""

    def each(f) -> float:
        return median([f(p) for p in passes])

    return {
        "setup_s": setup_s,
        "wall_s": each(lambda p: p["wall"]),
        "jobs_per_s": each(lambda p: p["jobs"] / p["batch"]),
        "job_gap_ms.mean": each(lambda p: 1000.0 * sum(p["gaps"]) / len(p["gaps"])),
        "rows_per_s": each(lambda p: p["rows"] / p["batch"]),
        "ledger_bytes_per_job": each(lambda p: p["ledger_bytes_per_job"]),
        "driver_live_mb": live_mb,
    }


def _pass_layers(p: Dict[str, Any]) -> Dict[str, float]:
    out: Dict[str, float] = dict(p["layer"])
    for name, (calls, secs) in totals_by_name(p["spans"]).items():
        if name.startswith("admin_store."):
            out[f"{name}.calls"] = calls
            out[f"{name}.s"] = secs
        elif name.startswith("job."):  # job.<name>.run / job.<name>.test
            out[f"{name}_s"] = secs
        elif name.startswith("query.") and name.count(".") == 1:
            out[f"{name}.s"] = secs
        elif name == "runner.run_batch":
            out["runner.run_batch.s"] = secs
    for layer, secs in self_times(p["spans"], p["wall"]).items():
        out[f"{layer}.self_s"] = secs
    for k, v in p["spark"].items():
        out[f"spark.{k}"] = v
    return out


def per_layer(
    untraced: List[Dict[str, Any]],
    traced: List[Dict[str, Any]],
    attempted: int,
    failed: int,
    rss_mb: float,
) -> Dict[str, float]:
    """From the traced pass of median length, so its self times add up to
    ``trace.traced_wall_s``; plus tracing overhead against the untraced
    passes of the same run, fail_ratio and the run's peak RSS. A layer
    the workload never enters reads 0."""
    pass_ = sorted(traced, key=lambda p: p["wall"])[(len(traced) - 1) // 2]
    out = _pass_layers(pass_)
    plain = median([p["wall"] for p in untraced])
    out["trace.untraced_wall_s"] = plain
    out["trace.traced_wall_s"] = pass_["wall"]
    out["trace.overhead_ratio"] = pass_["wall"] / plain - 1.0
    out["fail_ratio"] = failed / attempted
    out["driver_rss_mb"] = rss_mb
    gaps_ms = [g * 1000.0 for p in traced for g in p["gaps"]]
    out["job_gap_ms.p50"] = median(gaps_ms)
    out["job_gap_ms.p90"] = percentile(gaps_ms, 90)
    return out
