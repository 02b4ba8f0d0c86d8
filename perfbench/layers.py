"""Per-layer metrics of a traced pass.

``install`` wraps each layer's public functions where the callers look
them up: the ingest stages both in ``pipeline.backfill`` and in
``streaming.stream_ingest``, the ``SilverTable`` write/read methods and
the ``ObjectsApi`` query builders.  ``collect`` turns the recorded
spans, the counts taken at those boundaries, the streaming checkpoint
and Spark's REST job/stage metrics into the ``PER_LAYER`` values.

Row counts are taken at the layer boundaries in the traced pass only:
for backfill the DataFrames are counted after the pass (the inputs are
files, so re-running them is exact); inside a micro-batch they are
counted on the spot, under their own job group, so traced stream
timings include that cost."""

from __future__ import annotations

import os
import statistics

from trace import attribute, spark_rest

INGEST_STAGES = {
    "parse_changes": "ingest.parse",
    "reconcile_duplicates": "ingest.reconcile",
    "enrich": "ingest.enrich",
    "build_silver_batch": "ingest.build",
    "checkpoint_completion": "ingest.completion",
}


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(dirpath, n))
    return total


def install(run) -> None:
    from huracan_spark.api import ObjectsApi
    from huracan_spark.pipeline import backfill as bf
    from huracan_spark.pipeline.silver import SilverTable
    from huracan_spark.streaming import stream_ingest as si

    rec = run.rec
    run.counts = {"rows_in": 0, "rows_triaged": 0, "rows_deduped": 0, "dlq_rows": 0, "batch_rows": 0}
    run.deferred = []  # (count key, DataFrame) counted after the pass
    run.silver_samples = []  # (referenced gens, delta layers, manifest bytes) per read()
    run.bytes_written = 0

    def count(key, df, via):
        if via == "stream":
            with rec.span("perfbench.count"):
                run.counts[key] += df.count()
        else:
            run.deferred.append((key, df))

    def on_parse(s, args, out):
        via = s["attrs"]["via"]
        if via == "stream":  # the micro-batch arrives deduplicated by the stream
            count("rows_deduped", args[0], via)
        count("rows_triaged", out, via)

    def on_merge(s, args, out):
        silver = args[0]
        gen = silver.current_generation()
        if gen:
            run.bytes_written += _dir_bytes(os.path.join(silver.path, gen))

    def on_read(s, args, out):
        silver = args[0]
        gen = silver.current_generation()
        if gen:
            run.silver_samples.append((
                len(silver.referenced_generations(gen)),
                sum(len(v) for v in silver.deltas(gen).values()),
                os.path.getsize(os.path.join(silver.path, gen, "manifest.json")),
            ))

    hooks = {
        "ingest.parse": on_parse,
        "ingest.reconcile": lambda s, a, out: count("rows_deduped", out, s["attrs"]["via"]),
        "ingest.enrich": lambda s, a, out: count("dlq_rows", out.dlq, s["attrs"]["via"]),
        "ingest.build": lambda s, a, out: count("batch_rows", out, s["attrs"]["via"]),
    }
    for fn, name in INGEST_STAGES.items():
        for mod, via in ((bf, "backfill"), (si, "stream")):
            if hasattr(mod, fn):
                rec.wrap(mod, fn, name, hook=hooks.get(name), via=via)
    rec.wrap(bf, "apply_checkpoint_bounds", "backfill.bounds")
    rec.wrap(bf, "run_backfill", "backfill.run")
    rec.wrap(SilverTable, "merge", "silver.merge", hook=on_merge)
    rec.wrap(SilverTable, "read", "silver.read", hook=on_read)
    for attr in ("maybe_optimize", "compact", "vacuum"):
        rec.wrap(SilverTable, attr, f"silver.{attr}")
    for attr in ("object", "objects", "dynamic_fields"):
        rec.wrap(ObjectsApi, attr, "api.plan")


def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def collect(run, setup: dict, untraced_backfill_s: float) -> dict[str, float]:
    rec = run.rec
    spans = rec.spans
    by_id = {s["id"]: s for s in spans}
    # deferred backfill counts, outside every timed region
    for key, df in run.deferred:
        with rec.span("perfbench.count"):
            run.counts[key] += df.count()
    run.deferred.clear()
    counts = run.counts
    stream = run.stream_obs
    counts["rows_in"] += sum(p["numInputRows"] for p in stream["progress"])
    counts["rows_in"] += run.meta["rows"]["changes_a"] + run.meta["rows"]["changes_b"]

    jobs, stages = spark_rest(run.spark.sparkContext)
    groups = attribute(jobs, stages)

    def ancestor(sid, names):
        s = by_id.get(sid)
        while s is not None:
            if s["name"] in names:
                return s
            s = by_id.get(s["parent"])
        return None

    def under(names) -> dict:
        """Sum group metrics over jobs whose span lies under a span in ``names``."""
        tot = {"jobs": 0, "tasks": 0, "executor_run_s": 0.0, "gc_s": 0.0, "input_mb": 0.0,
               "input_records": 0, "shuffle_mb": 0.0}
        for gid, g in groups.items():
            if ancestor(gid, names) is not None:
                for k in tot:
                    tot[k] += g[k]
        return tot

    counted = {gid for gid in groups if ancestor(gid, {"perfbench.count"}) is not None}
    engine = {"tasks": 0, "executor_run_s": 0.0, "gc_s": 0.0, "input_mb": 0.0}
    for gid, g in groups.items():
        if gid not in counted:
            for k in engine:
                engine[k] += g[k]

    def durs(name):
        return [s["end"] - s["start"] for s in spans if s["name"] == name]

    ingest_calls = len(rec.by_name("backfill.run")) + len(stream["progress"])
    plan_s = sum(sum(durs(n)) for n in INGEST_STAGES.values())
    completion = []
    for s in rec.by_name("backfill.run"):
        merges = [c["end"] for c in spans if c["parent"] == s["id"] and c["name"] == "silver.merge"]
        if merges:
            completion.append(s["end"] - max(merges))
    merges = rec.by_name("silver.merge")
    merge_jobs = under({"silver.merge"})
    detail = run.silver.detail()
    row_bytes = detail["size_bytes"] / max(1, detail["rows"] or 1)
    ups_rows = len(rec.by_name("serve.upsert")) * run.meta["size"]["upsert_rows"]
    merged_bytes = max(1.0, (counts["batch_rows"] + ups_rows) * row_bytes)
    compacts = rec.by_name("silver.compact")
    samples = run.silver_samples or [(0, 0, 0)]
    progress = stream["progress"]
    state_rows = [p["stateOperators"][0]["numRowsTotal"] for p in progress if p.get("stateOperators")]
    # micro-batch jobs: the query's own group, plus spans opened on the
    # stream's callback threads (everything but the main thread)
    stream_jobs = sum(
        g["jobs"] for gid, g in groups.items()
        if gid not in counted and (gid == stream["run_id"] or by_id.get(gid, {}).get("thread", "MainThread") != "MainThread")
    )
    reads = run.serve_obs["reads"]
    per_op = {}
    for op, lat, _ in reads:
        per_op.setdefault(_OP_METRIC[op], []).append(lat * 1000)
    req = under({"api.request"})
    rows_returned = sum(n for _, _, n in reads)
    n_req = max(1, len(reads))

    out = {
        "session.start_s": setup["start_s"],
        "session.first_job_s": setup["first_job_s"],
        "ingest.plan_ms": plan_s * 1000 / max(1, ingest_calls),
        "ingest.rows_in": counts["rows_in"],
        "ingest.rows_triaged": counts["rows_triaged"],
        "ingest.rows_deduped": counts["rows_deduped"],
        "ingest.dlq_rows": counts["dlq_rows"],
        "ingest.batch_rows": counts["batch_rows"],
        "ingest.useful_ratio": counts["batch_rows"] / max(1, counts["rows_in"]),
        "backfill.bounds_s": sum(durs("backfill.bounds")),
        "backfill.completion_s": sum(completion),
        "silver.merge_s": _median(s["end"] - s["start"] for s in merges),
        "silver.merge_calls": len(merges),
        "silver.jobs_per_merge": merge_jobs["jobs"] / max(1, len(merges)),
        "silver.shuffle_mb": merge_jobs["shuffle_mb"],
        "silver.bytes_written_mb": run.bytes_written / 2**20,
        "silver.write_amp": run.bytes_written / merged_bytes,
        "silver.optimize_s": sum(s["end"] - s["start"] for s in compacts),
        "silver.compactions": len(compacts),
        "silver.read_plan_ms": _median(d * 1000 for d in durs("silver.read")),
        "silver.referenced_gens": statistics.mean(s[0] for s in samples),
        "silver.delta_layers": statistics.mean(s[1] for s in samples),
        "silver.manifest_bytes": statistics.mean(s[2] for s in samples),
        "stream.batches": len(stream["batches"]),
        "stream.files_per_batch": stream["files_per_batch"],
        "stream.trigger_ms": _median(p["durationMs"].get("triggerExecution", 0) for p in progress),
        "stream.addBatch_ms": _median(p["durationMs"].get("addBatch", 0) for p in progress),
        "stream.walCommit_ms": _median(p["durationMs"].get("walCommit", 0) for p in progress),
        "stream.queue_wait_s": _median(stream["queue_wait"]),
        "stream.dedup_state_rows": state_rows[-1] if state_rows else 0,
        "stream.jobs_per_batch": stream_jobs / max(1, len(progress)),
        "api.plan_ms": _median(d * 1000 for d in durs("api.plan")),
        "api.rows_scanned_per_row_returned": req["input_records"] / max(1, rows_returned),
        "api.jobs_per_request": req["jobs"] / n_req,
        "spark.tasks": engine["tasks"],
        "spark.executor_run_s": engine["executor_run_s"],
        "spark.gc_s": engine["gc_s"],
        "spark.input_mb": engine["input_mb"],
        "trace.spans": len(spans),
    }
    for op in ("object", "ids", "owner", "type", "dynfield", "dynamic_fields", "deep_page", "agg"):
        out[f"api.{op}_ms"] = _median(per_op.get(op, []))
    out["trace.overhead_pct"] = 100.0 * (run.backfill_s / untraced_backfill_s - 1.0)
    spans_path = os.path.join(os.path.dirname(run.work_root), "..", "out",
                              f"spans-{run.args.workload}-seed{run.args.seed}.json")
    rec.dump(os.path.normpath(spans_path), {"groups": groups, "counts": counts})
    return out


_OP_METRIC = {"object": "object", "ids": "ids", "owner": "owner", "owners": "owner", "type": "type",
              "types": "type", "dynfield": "dynfield", "dynamic_fields": "dynamic_fields",
              "deep_page": "deep_page", "agg": "agg"}
