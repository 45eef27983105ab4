"""Metric assembly: the end-to-end metrics of an untraced run and the
per-layer metrics of a traced one, under the names BENCHMARK.json lists.

Every per-layer metric is emitted on every workload; a layer the
workload bypasses reads 0, which is the prediction for that workload
(the benchmark's "exercises / bypasses" pairs, see README.md).
"""

from __future__ import annotations

from gen import REQUEST_TYPES
from tracing import median, percentile, tail_percentile

CORPUS_STAGES = (
    "clean", "dedup_exact", "dedup_near", "dedup_semantic", "decontaminate",
    "quality_gate", "repetition_gate", "domain_cap", "mixture_by_cluster_share",
    "split", "to_training_set",
)
# The program runs a varying number of Spark jobs, stages and tasks
# inside this stage (README, "Counts that do not repeat"); its counts are
# reported apart so that the totals repeat exactly.
VARYING_STAGE = "corpus.dedup_semantic"
STREAM_QUERIES = ("gated", "dedup", "card")
STREAM_DURATIONS = (
    ("trigger_s", "triggerExecution"), ("planning_s", "queryPlanning"),
    ("add_batch_s", "addBatch"), ("wal_commit_s", "walCommit"),
)

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "op_latency_p50_s": "s",
    "items_per_s": "1/s",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in output order."""
    u = {
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "spark.idle_core_s": "s", "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
        "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
        "spark.input_bytes": "bytes", "spark.spill_bytes": "bytes",
        "spark.task_skew": "ratio", "spark.pins_held": "count",
        "driver.build_s": "s", "driver.eager_jobs": "count",
        "catalyst.plan_s": "s", "spark.action_s": "s", "reports.render_s": "s",
    }
    u |= {f"ledger.{t}.p50_s": "s" for t in REQUEST_TYPES}
    u["ledger.rows_scanned_per_result_row"] = "ratio"
    for st in CORPUS_STAGES:
        u[f"corpus.{st}.s"] = "s"
        u[f"corpus.{st}.rows_out"] = "count"
    u |= {f"{VARYING_STAGE}.{f}": "count" for f in ("jobs", "stages", "tasks")}
    u |= {
        "dedup.lsh_candidates": "count", "dedup.lsh_verified": "count",
        "dedup.lsh_precision": "ratio", "simsearch.mt_candidates": "count",
        "simsearch.mt_verified": "count", "simsearch.mt_precision": "ratio",
        "corpus.planted_near_removed": "count", "corpus.planted_semantic_removed": "count",
        "trainset.bytes_written": "bytes", "trainset.files_written": "count",
    }
    for q in STREAM_QUERIES:
        for name, _ in STREAM_DURATIONS:
            u[f"streaming.{q}.{name}"] = "s"
    u |= {
        "dedup.index_append_s": "s", "dedup.index_files": "count",
        "streaming.card_log_partitions": "count", "streaming.card_state_bytes": "bytes",
        "streaming.compact_s": "s", "streaming.compact_bytes_rewritten": "bytes",
        "ingest.batch_s": "s", "ingest.bytes_stored_per_input_byte": "ratio",
        "etl.rejected_rows": "count", "etl.planted_malformed": "count",
        "trace.op_latency_p50_s": "s",
    }
    return u


def tail(latencies: list[float]) -> tuple[float | None, int | None]:
    """(value, percentile) of the highest percentile above the median
    with ten samples beyond it, or (None, None) when the run is too short
    for one."""
    p = tail_percentile(len(latencies))
    return (percentile(latencies, p), p) if p else (None, None)


def end_to_end(setup_s: float, rss_mb: float, latencies: list[float], items: int) -> dict:
    vals = {
        "setup_s": setup_s,
        "peak_rss_mb": rss_mb,
        "op_latency_p50_s": median(latencies),
        "items_per_s": items / sum(latencies),
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in vals.items()}


def _med(xs) -> float:
    xs = list(xs)
    return median(xs) if xs else 0.0


def per_layer(wl, tracer, latencies: list[float], pins: list[int], cores: int) -> dict:
    """Per-layer metrics from the traced run's spans and the workload's
    own counters. Only spans of timed ops count (set-up is untraced)."""
    spans = [s for s in tracer.spans if s.end is not None]
    top = [s for s in spans if s.parent is None]
    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    tot = lambda f, ss=spans: sum(s.counts.get(f, 0) for s in ss)  # noqa: E731
    walls = lambda n: [s.wall for s in by_name.get(n, ())]  # noqa: E731
    v: dict[str, float] = dict.fromkeys(per_layer_units(), 0)
    varying = under(spans, VARYING_STAGE)
    steady = [s for s in spans if s.span_id not in varying]

    for f in ("jobs", "stages", "tasks"):
        v[f"spark.{f}"] = tot(f, steady)
        v[f"{VARYING_STAGE}.{f}"] = tot(f, [s for s in spans if s.span_id in varying])
    v["spark.executor_run_s"] = tot("executor_run_s")
    v["spark.executor_cpu_s"] = tot("executor_cpu_s")
    v["spark.idle_core_s"] = max(0.0, sum(s.wall for s in top) * cores - tot("executor_run_s"))
    for f in ("shuffle_read_bytes", "shuffle_write_bytes", "input_bytes", "spill_bytes"):
        v[f"spark.{f}"] = tot(f)
    v["spark.task_skew"] = _med(_op_skew(s, spans) for s in top)
    v["spark.pins_held"] = max(pins, default=0)
    builds = by_name.get("driver.build", [])
    v["driver.build_s"] = sum(s.wall for s in builds)
    v["driver.eager_jobs"] = sum(s.counts.get("jobs", 0) for s in builds
                                 if s.span_id not in varying)
    v["catalyst.plan_s"] = sum(walls("catalyst.plan"))
    v["spark.action_s"] = sum(walls("spark.action"))
    v["reports.render_s"] = sum(walls("reports.render"))
    v["trace.op_latency_p50_s"] = _med(latencies)

    lay = wl.layer
    if wl.name == "ledger_reports":
        for t in REQUEST_TYPES:
            v[f"ledger.{t}.p50_s"] = _med(s.wall for s in top if s.name.endswith(f".{t}"))
        v["ledger.rows_scanned_per_result_row"] = tot("input_records") / max(1, lay["result_rows"])
    else:
        for st in CORPUS_STAGES:
            v[f"corpus.{st}.s"] = _med(walls(f"corpus.{st}"))
            v[f"corpus.{st}.rows_out"] = lay["funnel"].get(st, 0)
        pr = lay["probes"]
        v["dedup.lsh_candidates"], v["dedup.lsh_verified"] = pr["lsh_candidates"], pr["lsh_verified"]
        v["dedup.lsh_precision"] = pr["lsh_verified"] / max(1, pr["lsh_candidates"])
        v["simsearch.mt_candidates"], v["simsearch.mt_verified"] = pr["mt_candidates"], pr["mt_verified"]
        v["simsearch.mt_precision"] = pr["mt_verified"] / max(1, pr["mt_candidates"])
        v["corpus.planted_near_removed"] = lay["removed"]["near"]
        v["corpus.planted_semantic_removed"] = lay["removed"]["semantic"]
        v["trainset.bytes_written"] = lay["trainset_bytes"]
        v["trainset.files_written"] = lay["trainset_files"]
        for q in STREAM_QUERIES:
            for name, key in STREAM_DURATIONS:
                v[f"streaming.{q}.{name}"] = sum(
                    d.get(key, 0) for d in lay["progress"][q]) / 1e3
        v["ingest.batch_s"] = lay["batch_s"]
        v["ingest.bytes_stored_per_input_byte"] = lay["stored_per_input_byte"]
        v["dedup.index_append_s"] = sum(walls("dedup.index_append"))
        v["dedup.index_files"] = lay["index_files"]
        v["streaming.card_log_partitions"] = lay["card_partitions"]
        v["streaming.card_state_bytes"] = lay["card_state_bytes"]
        v["streaming.compact_s"] = lay["compact_s"]
        v["streaming.compact_bytes_rewritten"] = lay["compact_bytes"]
        v["etl.rejected_rows"] = lay["rejected"]
        v["etl.planted_malformed"] = lay["planted_malformed"]
    units = per_layer_units()
    return {k: {"value": v[k], "unit": units[k]} for k in units}


def under(spans, name: str) -> set[int]:
    """Ids of the spans named ``name`` and of all their descendants."""
    parent = {s.span_id: s.parent for s in spans}
    named = {s.span_id for s in spans if s.name == name}

    def inside(i):
        while i is not None:
            if i in named:
                return True
            i = parent.get(i)
        return False

    return {s.span_id for s in spans if inside(s.span_id)}


def _op_skew(top, spans) -> float:
    """Task skew of the longest stage anywhere under one op."""
    best = (-1.0, 0.0)
    for s in spans:
        if s.op_id == top.op_id and s.counts.get("longest_stage_s", 0) > best[0]:
            best = (s.counts["longest_stage_s"], s.counts.get("skew", 0.0))
    return best[1]


def summary(wl, e2e: dict, latencies: list[float], attempted: int, failed: int,
            extra: dict) -> str:
    """One human-readable line with each workload's own end-to-end
    figures, under their usual names, beside the bounded metrics."""
    p50 = e2e["op_latency_p50_s"]["value"]
    t, p = tail(latencies)
    tail_txt = f"{t:.4f} s (p{p} of {len(latencies)})" if t else f"n/a ({len(latencies)} ops < 21)"
    if wl.name == "ledger_reports":
        named = [("report_latency_p50_s", f"{p50:.4f} s"), ("report_latency_tail_s", tail_txt)]
    else:
        named = [("corpus_docs_per_s", f"{e2e['items_per_s']['value']:.2f} 1/s"),
                 ("ingest_batch_latency_s", f"{wl.layer['batch_s']:.4f} s")]
    named += [(k, f"{v:.4f}") for k, v in extra.items()]
    named.append(("failed_op_ratio", f"{failed / max(1, attempted):.4f} ({failed}/{attempted})"))
    return "  ".join(f"{k}={v}" for k, v in named)

