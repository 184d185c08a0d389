"""Per-layer metrics of a traced run, from its spans and Spark counters.

Every metric is a mean per traced operation unless its name says
otherwise (``jobs_per_call``, ``batch_duration_ms``, ratios). A ``.ms``
metric is the wall time of the outermost spans of that name, so a layer
called from itself is not counted twice. ``driver.construct_ms`` is the
operation's wall time minus its terminal actions (``collect`` and
parquet writes). ``trace.overhead_pct`` compares the traced windows of
the run with its untraced windows.
"""

from __future__ import annotations

import statistics

SPAN_MS = {
    "catalog.load_table.ms": "catalog.load_table",
    "plans.argo_views.argo_raw_df.ms": "plans.argo_views.argo_raw_df",
    "api.lookup.build_ms": "api.lookup",
    "api.sql.build_ms": "api.sql",
    "embeddings.search.semantic_search.build_ms": "embeddings.search.semantic_search",
    "embeddings.encoder.encode_query.ms": "embeddings.encoder.encode_query",
    "streaming.ingest.ingest_landing_to_table.ms": "streaming.ingest.ingest_landing_to_table",
    "streaming.run.run_foreach_batch.ms": "streaming.run.run_foreach_batch",
    "sinks.upsert.upsert.ms": "sinks.upsert.upsert",
    "operators.cleaning.clean_argo.ms": "operators.cleaning.clean_argo",
    "operators.aggregate.float_metadata_agg.ms": "operators.aggregate.float_metadata_agg",
    "functions.text.float_summary_v2.ms": "functions.text.float_summary_v2",
    "operators.dedup.minhash_lsh_pairs.ms": "operators.dedup.minhash_lsh_pairs",
    "operators.clusters.semdedup.ms": "operators.clusters.semdedup",
    "embeddings.search.kmeans_centroids.ms": "embeddings.search.kmeans_centroids",
}
SPAN_CALLS = {
    "catalog.load_table.calls": "catalog.load_table",
    "sinks.upsert.upsert.calls": "sinks.upsert.upsert",
}
SPARK = (
    "jobs", "stages", "tasks", "failed_tasks", "analysis_ms", "optimization_ms",
    "planning_ms", "executor_run_ms", "executor_cpu_ms", "shuffle_read_bytes",
    "shuffle_write_bytes",
)
ACTIONS = ("driver.action", "spark.write")

# (name, unit, better): the traced run's metrics, as BENCHMARK.json lists them
PER_LAYER = (
    ("catalog.load_table.calls", "count", "lower"),
    ("catalog.load_table.ms", "ms", "lower"),
    ("catalog.load_table.jobs_per_call", "count", "lower"),
    ("plans.argo_views.argo_raw_df.ms", "ms", "lower"),
    ("api.lookup.build_ms", "ms", "lower"),
    ("api.sql.build_ms", "ms", "lower"),
    ("driver.construct_ms", "ms", "lower"),
    ("embeddings.search.semantic_search.build_ms", "ms", "lower"),
    ("embeddings.encoder.encode_query.ms", "ms", "lower"),
    ("embeddings.encoder.rows_encoded_per_op", "count", "lower"),
    ("embeddings.search.useful_per_encoded", "ratio", "higher"),
    ("streaming.ingest.ingest_landing_to_table.ms", "ms", "lower"),
    ("streaming.run.run_foreach_batch.ms", "ms", "lower"),
    ("streaming.run.batches_per_op", "count", "lower"),
    ("streaming.run.batch_duration_ms", "ms", "lower"),
    ("sinks.upsert.upsert.calls", "count", "lower"),
    ("sinks.upsert.upsert.ms", "ms", "lower"),
    ("sinks.upsert.rows_written_per_row_landed", "ratio", "lower"),
    ("sinks.upsert.bytes_written", "bytes", "lower"),
    ("operators.cleaning.clean_argo.ms", "ms", "lower"),
    ("operators.aggregate.float_metadata_agg.ms", "ms", "lower"),
    ("functions.text.float_summary_v2.ms", "ms", "lower"),
    ("operators.dedup.minhash_lsh_pairs.ms", "ms", "lower"),
    ("operators.dedup.candidate_pairs", "count", "lower"),
    ("operators.clusters.semdedup.ms", "ms", "lower"),
    ("operators.clusters.semdedup.kept_share", "ratio", "higher"),
    ("embeddings.search.kmeans_centroids.ms", "ms", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.failed_tasks", "count", "lower"),
    ("spark.analysis_ms", "ms", "lower"),
    ("spark.optimization_ms", "ms", "lower"),
    ("spark.planning_ms", "ms", "lower"),
    ("spark.executor_run_ms", "ms", "lower"),
    ("spark.executor_cpu_ms", "ms", "lower"),
    ("spark.shuffle_read_bytes", "bytes", "lower"),
    ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("trace.overhead_pct", "%", "lower"),
    ("host.steal_pct", "%", "lower"),
    ("host.load_1m", "load", "lower"),
)

# columns of the per-class table printed before the result line
TABLE = (
    "op_ms", "driver.construct_ms", "catalog.load_table.calls", "catalog.load_table.ms",
    "plans.argo_views.argo_raw_df.ms", "embeddings.encoder.rows_encoded_per_op",
    "streaming.run.run_foreach_batch.ms", "sinks.upsert.upsert.ms",
    "operators.dedup.minhash_lsh_pairs.ms", "operators.clusters.semdedup.ms",
    "spark.jobs", "spark.planning_ms", "spark.executor_run_ms",
)


def _outermost(spans: list[dict], name: str) -> list[dict]:
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        if s["name"] != name:
            continue
        p = by_id.get(s["parent"])
        while p is not None and p["name"] != name:
            p = by_id.get(p["parent"])
        if p is None:
            out.append(s)
    return out


def _ms(spans: list[dict]) -> float:
    return sum((s["end"] - s["start"]) * 1000.0 for s in spans)


def op_metrics(sample, spans: list[dict]) -> dict:
    """Per-layer figures of one traced operation."""
    m = {"op_ms": sample.ms}
    for metric, name in SPAN_MS.items():
        m[metric] = _ms(_outermost(spans, name))
    for metric, name in SPAN_CALLS.items():
        m[metric] = float(sum(s["name"] == name for s in spans))
    m["catalog.load_table.jobs"] = float(
        sum(s["jobs"] for s in _outermost(spans, "catalog.load_table"))
    )
    actions = [s for n in ACTIONS for s in _outermost(spans, n)]
    by_id = {s["id"]: s for s in spans}

    def nested_in_action(s):
        p = by_id.get(s["parent"])
        while p is not None:
            if p["name"] in ACTIONS:
                return True
            p = by_id.get(p["parent"])
        return False

    m["driver.construct_ms"] = sample.ms - _ms([s for s in actions if not nested_in_action(s)])
    upserts = _outermost(spans, "sinks.upsert.upsert")
    m["sinks.upsert.rows_written"] = float(sum(s.get("rows_written", 0) for s in upserts))
    m["sinks.upsert.bytes_written"] = float(sum(s.get("bytes_written", 0) for s in upserts))
    c = sample.counters
    m["embeddings.encoder.rows_encoded_per_op"] = c["rows_encoded"]
    m["streaming.run.batches_per_op"] = c["batches"]
    m["streaming.run.batch_ms"] = c["batch_ms"]
    for k in SPARK:
        m[f"spark.{k}"] = c[k]
    return m


def _mean(rows: list[dict], key: str) -> float:
    return statistics.fmean(r[key] for r in rows) if rows else 0.0


def _ratio(rows: list[dict], num: str, den: str) -> float:
    d = sum(r[den] for r in rows)
    return sum(r[num] for r in rows) / d if d else 0.0


def per_layer(samples, tracer, host: dict) -> tuple[list[str], dict]:
    traced = [s for s in samples if s.traced]
    rows = [op_metrics(s, tracer.op_spans(s.op_id)) for s in traced]
    for s, r in zip(traced, rows):
        r["cls"] = s.op.cls
        for k in ("rows_returned", "candidate_pairs", "kept_share", "landed_rows"):
            r[k] = float(s.stats.get(k, 0.0))
    metrics: dict[str, float] = {}
    for k in list(SPAN_MS) + list(SPAN_CALLS):
        metrics[k] = _mean(rows, k)
    metrics["catalog.load_table.jobs_per_call"] = _ratio(
        rows, "catalog.load_table.jobs", "catalog.load_table.calls"
    )
    metrics["driver.construct_ms"] = _mean(rows, "driver.construct_ms")
    metrics["embeddings.encoder.rows_encoded_per_op"] = _mean(
        rows, "embeddings.encoder.rows_encoded_per_op"
    )
    searches = [r for r in rows if r["cls"] == "search"]
    # useful-to-attempted: hits returned per document encoded
    metrics["embeddings.search.useful_per_encoded"] = _ratio(
        searches, "rows_returned", "embeddings.encoder.rows_encoded_per_op"
    )
    metrics["streaming.run.batches_per_op"] = _mean(rows, "streaming.run.batches_per_op")
    metrics["streaming.run.batch_duration_ms"] = _ratio(
        rows, "streaming.run.batch_ms", "streaming.run.batches_per_op"
    )
    metrics["sinks.upsert.rows_written_per_row_landed"] = _ratio(
        rows, "sinks.upsert.rows_written", "landed_rows"
    )
    metrics["sinks.upsert.bytes_written"] = _mean(rows, "sinks.upsert.bytes_written")
    metrics["operators.dedup.candidate_pairs"] = _mean(rows, "candidate_pairs")
    metrics["operators.clusters.semdedup.kept_share"] = _mean(rows, "kept_share")
    for k in SPARK:
        metrics[f"spark.{k}"] = _mean(rows, f"spark.{k}")
    untraced = [s.ms for s in samples if not s.traced]
    metrics["trace.overhead_pct"] = (
        100.0 * (statistics.fmean(s.ms for s in traced) / statistics.fmean(untraced) - 1.0)
        if traced and untraced else 0.0
    )
    metrics["host.steal_pct"] = host["steal_pct"]
    metrics["host.load_1m"] = host["load_1m"]

    metrics = {name: {"value": metrics[name], "unit": unit} for name, unit, _ in PER_LAYER}
    table = ["per-layer means per traced operation, by request class:",
             "class    n  " + "  ".join(TABLE)]
    for cls in sorted({r["cls"] for r in rows}):
        sub = [r for r in rows if r["cls"] == cls]
        table.append(f"{cls:<8} {len(sub):>2}  " + "  ".join(
            f"{_mean(sub, k):.1f}" for k in TABLE
        ))
    return table, metrics
