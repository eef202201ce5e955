"""Turns a run's call samples into the end-to-end metrics, and a traced
pass's spans and counters into the per-layer metrics. The names are the
ones ``BENCHMARK.json`` lists, which also gives their units."""

from __future__ import annotations

import glob
import os
import statistics

import spans
import workloads

STAGES = ("extract", "clean", "enrich", "construct", "encode_validate", "report")

#: per-layer time metric -> the call whose span it is
CALL_TIMES = {
    "dedup.exact_s": "dedup_exact",
    "dedup.minhash_s": "dedup_minhash_pairs",
    "text.metrics_s": "text_metrics_suite",
    "lm.perplexity_s": "corpus_perplexity",
    "classify.train_s": "quality_classifier_suite",
    "similarity.topk_s": "embed_topk_bruteforce",
    "retrieval.bm25_s": "bm25_search",
}


def _tail(xs: list[float]) -> tuple[float, int]:
    """(value, percentile) of the highest whole percentile with at least
    10 samples above it. A run with fewer than 20 samples reports the
    second-highest (the highest with one sample above it), so that one
    call the host delays does not set the tail on its own; a single
    sample is its own tail."""
    xs = sorted(xs)
    n = len(xs)
    for p in range(99, 49, -1):
        idx = -(-p * n // 100) - 1
        if n - 1 - idx >= 10:
            return xs[idx], p
    if n == 1:
        return xs[0], 100
    return xs[-2], 100 * (n - 1) // n


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def end_to_end(ctx, samples, walls, space, setup_s, peak_rss_mb, failed, attempted):
    """The end-to-end metrics of the untraced passes, and the sample
    counts and tail percentiles behind them. Each latency metric is over
    the calls of its own kind; write amplification is over the commits
    and the batches they consume."""
    rows = sum(ctx.rows(c.tables) for c, _, ok in samples if ok)
    inputs = sum(ctx.input_bytes(c.tables) for c, _, ok in samples if ok and c.kind == "commit")
    values = {
        "setup_s": setup_s,
        "rows_per_s": _ratio(rows, sum(walls)),
        "ok_ratio": 1 - _ratio(failed, attempted),
        "peak_rss_mb": peak_rss_mb,
        "write_amp": _ratio(ctx.landed_bytes, inputs),
        "space_amp": statistics.median(space),
    }
    detail = {}
    for metric in ("job", "commit", "read"):
        xs = [s for c, s, ok in samples if ok and c.kind == metric]
        t, pct = _tail(xs) if xs else (0.0, 0)
        values[f"{metric}_p50_s"] = statistics.median(xs) if xs else 0.0
        values[f"{metric}_tail_s"] = t
        detail[f"{metric}_samples"] = len(xs)
        detail[f"{metric}_tail_percentile"] = pct
    by_call: dict[str, list[float]] = {}
    for c, s, ok in samples:
        by_call.setdefault(c.name, []).append(s)
    detail["call_s"] = {k: [round(x, 4) for x in v] for k, v in by_call.items()}
    return values, detail


def pass_counts(ctx, wl, pass_id: str, results: dict) -> dict[str, float]:
    """Per-layer values of one traced pass, read from its spans, the
    counters its calls recorded and what it left on disk."""
    sp, c = ctx.tracer.spans, ctx.counts
    out: dict[str, float] = {}

    def incl(**kw) -> float:
        return spans.inclusive(sp, pass_id, **kw)

    out["tables.scan_rows"] = c["scan_rows"]
    out["tables.scan_bytes"] = c["scan_bytes"]
    out["tables.scan_files"] = c["scan_files"]
    out["readers.read_s"] = sum(
        incl(name=call.name) for call in wl.calls if call.kind == "read")
    out["queries.driver_s"] = incl(layer="queries.driver")
    out["queries.exec_s"] = incl(layer="queries.exec")
    out["queries.spark_jobs"] = c["jobs"]
    out["queries.spark_stages"] = c["stages"]
    out["queries.failed_tasks"] = c["failed_tasks"]
    out["relational.shuffle_bytes"] = c["shuffle_bytes"]
    out["relational.spill_bytes"] = c["spill_bytes"]
    out["relational.broadcast_bytes"] = c["broadcast_bytes"]
    out["relational.rows_examined_per_row_out"] = _ratio(c["scan_rows"], c["rows_out"])
    for s in STAGES:
        out[f"etl.{s}_s"] = incl(name=f"stage:{s}")
    conf = results.get("op45_46_conformance_suite")
    out["validation.findings"] = (
        conf.column("part").to_pylist().count("validate") if conf is not None else 0)
    out["writers.write_s"] = incl(name="write")
    out["writers.bytes_written"] = c["writers.bytes_written"]
    out["writers.files_written"] = c["writers.files_written"]
    for metric, call in CALL_TIMES.items():
        out[metric] = incl(name=call)
    mh = results.get("dedup_minhash_pairs")
    out["dedup.candidate_pairs"] = c["join_rows:dedup"]
    out["dedup.confirmed_pairs"] = mh.num_rows if mh is not None else 0
    out["dedup.pair_yield"] = _ratio(out["dedup.confirmed_pairs"], out["dedup.candidate_pairs"])
    out["similarity.pairs_scored"] = c["join_rows:similarity"]
    out["upsert.s"] = incl(name="upsert")
    out["upsert.partitions_touched"] = c["upsert.partitions_touched"]
    out["upsert.rows_rewritten"] = c["upsert.rows_rewritten"]
    out["upsert.rewrite_ratio"] = _ratio(c["upsert.rows_rewritten"], c["upsert.batch_rows"])
    out.update(_txlog(ctx.path(workloads.UPSERT_TARGET), c))
    # tracing's own cost (counter collection) is its layer's self time;
    # coverage is the share of the pass wall that layer spans account for
    layer_self = spans.layer_self_times(sp, pass_id)
    wall = incl(name="pass")
    out["trace.pass_s"] = wall
    out["trace.overhead_s"] = layer_self.get("trace", 0.0)
    out["trace.coverage"] = _ratio(
        sum(v for k, v in layer_self.items() if k != "bench"), wall)
    return out


def _txlog(target: str, c) -> dict[str, float]:
    from project_clinical_data_etl_pipeline_spark.plans import txlog

    if not os.path.isdir(target):
        return {k: 0 for k in ("txlog.versions", "txlog.manifest_bytes", "txlog.live_files",
                               "txlog.disk_files", "txlog.vacuumed_files")}
    return {
        "txlog.versions": txlog.read_manifest(target)["version"] + 1,
        "txlog.manifest_bytes": sum(
            os.path.getsize(f) for f in glob.glob(os.path.join(target, "_commits*.json"))),
        "txlog.live_files": len(txlog.committed_files(target)),
        "txlog.disk_files": sum(len(files) for _, _, files in os.walk(target)),
        "txlog.vacuumed_files": c["txlog.vacuumed_files"],
    }


def per_layer(passes: list[dict[str, float]], start_s: float, first_job_s: float) -> dict:
    """The per-layer metrics: the median of each value over the traced
    passes, plus set-up's session timings."""
    values = {k: statistics.median(p[k] for p in passes) for k in passes[0]}
    values.update({"session.start_s": start_s, "session.first_job_s": first_job_s})
    return values


def self_time_table(sp: list[dict], pass_id: str) -> dict[str, float]:
    """Self time per layer in one traced pass."""
    return {k: round(v, 4) for k, v in sorted(spans.layer_self_times(sp, pass_id).items())}
