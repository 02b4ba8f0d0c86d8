"""Metric catalogue: names, units and direction of every metric the
benchmark prints, and for each per-layer metric the end-to-end metric
and workload it is expected to move.  ``BENCHMARK.json`` must list the
same names and units (``test_perfbench.py`` checks this)."""

from __future__ import annotations

WORKLOADS = {
    "stream": "open loop at 25 checkpoints/s into run_stream (MOR) after S/2 of API traffic: per-batch cost sets "
              "staleness. backfill is a phase of every run, not a workload: three do not fit the run budget",
    "serve": "closed loop, 1 client, S seconds: ObjectsApi mix over MOR-tailed silver with an upsert every 4th op, "
             "so read pruning, MOR reconciliation and small writes meet",
}

# name -> (unit, better, bound)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.25),
    "changes_per_s": ("changes/s", "higher", 0.25),
    "freshness_p50_s": ("s", "lower", 0.25),
    "freshness_tail_s": ("s", "lower", 0.25),
    "drain_s": ("s", "lower", 0.25),
    "read_p50_ms": ("ms", "lower", 0.25),
    "read_tail_ms": ("ms", "lower", 0.25),
    "write_p50_ms": ("ms", "lower", 0.25),
    "ops_per_s": ("ops/s", "higher", 0.25),
}

# name -> (unit, better, end-to-end metric it should move, workload)
PER_LAYER = {
    "session.start_s": ("s", "lower", "setup_s", "all"),
    "session.first_job_s": ("s", "lower", "setup_s", "all"),
    "ingest.plan_ms": ("ms", "lower", "changes_per_s", "both"),
    "ingest.rows_in": ("rows", "lower", "changes_per_s", "both"),
    "ingest.rows_triaged": ("rows", "lower", "changes_per_s", "both"),
    "ingest.rows_deduped": ("rows", "lower", "changes_per_s", "both"),
    "ingest.dlq_rows": ("rows", "lower", "changes_per_s", "both"),
    "ingest.batch_rows": ("rows", "lower", "changes_per_s", "both"),
    "ingest.useful_ratio": ("ratio", "higher", "changes_per_s", "both"),
    "backfill.bounds_s": ("s", "lower", "changes_per_s", "both"),
    "backfill.completion_s": ("s", "lower", "changes_per_s", "both"),
    "silver.merge_s": ("s", "lower", "changes_per_s", "both"),
    "silver.merge_calls": ("count", "lower", "freshness_tail_s", "stream"),
    "silver.jobs_per_merge": ("jobs", "lower", "freshness_tail_s", "stream"),
    "silver.shuffle_mb": ("MB", "lower", "changes_per_s", "both"),
    "silver.bytes_written_mb": ("MB", "lower", "changes_per_s", "both"),
    "silver.write_amp": ("ratio", "lower", "write_p50_ms", "serve"),
    "silver.optimize_s": ("s", "lower", "freshness_tail_s", "stream"),
    "silver.compactions": ("count", "lower", "freshness_tail_s", "stream"),
    "silver.read_plan_ms": ("ms", "lower", "read_p50_ms", "serve"),
    "silver.referenced_gens": ("count", "lower", "read_tail_ms", "serve"),
    "silver.delta_layers": ("count", "lower", "read_tail_ms", "serve"),
    "silver.manifest_bytes": ("bytes", "lower", "read_p50_ms", "serve"),
    "stream.batches": ("count", "lower", "freshness_p50_s", "stream"),
    "stream.files_per_batch": ("files", "higher", "freshness_p50_s", "stream"),
    "stream.trigger_ms": ("ms", "lower", "freshness_p50_s", "stream"),
    "stream.addBatch_ms": ("ms", "lower", "freshness_p50_s", "stream"),
    "stream.walCommit_ms": ("ms", "lower", "freshness_p50_s", "stream"),
    "stream.queue_wait_s": ("s", "lower", "drain_s", "stream"),
    "stream.dedup_state_rows": ("rows", "lower", "freshness_p50_s", "stream"),
    "stream.jobs_per_batch": ("jobs", "lower", "freshness_p50_s", "stream"),
    "api.object_ms": ("ms", "lower", "read_p50_ms", "serve"),
    "api.ids_ms": ("ms", "lower", "read_p50_ms", "serve"),
    "api.owner_ms": ("ms", "lower", "read_p50_ms", "serve"),
    "api.type_ms": ("ms", "lower", "read_p50_ms", "serve"),
    "api.dynfield_ms": ("ms", "lower", "read_tail_ms", "serve"),
    "api.dynamic_fields_ms": ("ms", "lower", "read_tail_ms", "serve"),
    "api.deep_page_ms": ("ms", "lower", "read_tail_ms", "serve"),
    "api.agg_ms": ("ms", "lower", "read_tail_ms", "serve"),
    "api.plan_ms": ("ms", "lower", "ops_per_s", "serve"),
    "api.rows_scanned_per_row_returned": ("ratio", "lower", "read_p50_ms", "serve"),
    "api.jobs_per_request": ("jobs", "lower", "ops_per_s", "serve"),
    "spark.tasks": ("count", "lower", "attribution", "all"),
    "spark.executor_run_s": ("s", "lower", "attribution", "all"),
    "spark.gc_s": ("s", "lower", "attribution", "all"),
    "spark.input_mb": ("MB", "lower", "attribution", "all"),
    "trace.overhead_pct": ("%", "lower", "attribution", "all"),
    "trace.spans": ("count", "lower", "attribution", "all"),
}


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}
