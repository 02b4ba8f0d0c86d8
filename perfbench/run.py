#!/usr/bin/env python3
"""Benchmark of huracan-spark's crawl -> versioned upsert -> serve path.

    python3 perfbench/run.py --workload {stream,serve} \
        --seed N --seconds S --trace {0,1}

Every run walks the system's life cycle in order: one cold set-up, one
backfill cycle of the generated corpus (``pipeline.backfill.run_backfill``),
a stream of per-checkpoint files (``streaming.stream_ingest.run_stream``),
then API traffic with interleaved upserts (``api.ObjectsApi`` over
``pipeline.silver.SilverTable``).  The workload picks how the stream and
the API traffic run, so every metric exists on every workload:

* stream - S/2 seconds of closed-loop API traffic from one client, then
           an open loop: one checkpoint file every 40 ms for S/2 seconds,
           whatever the system does;
* serve  - a 10-checkpoint backlog caught up in one batch, then S
           seconds of closed-loop API traffic from one client.

Outputs are checked against an independent DuckDB reference outside
every timed region.  The last line of stdout is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` (end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``).  The exit code
is 1 on any mismatch and 2 when the package under test is missing."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

N_BUCKETS = 8
DRIVER_MEM = "2g"
STREAM_CADENCE_S = 0.04  # one checkpoint file per 40 ms: 25 cp/s (Sui runs ~4)
# auto-OPTIMIZE thresholds (referenced generations).  The serve upserts
# compact whenever more than 5 generations are referenced, so reads
# reconcile 1-4 MOR layers and a median write does not include a
# compaction.  The stream enters its window at up to 6 references and
# adds one per micro-batch (3-5 in a window), so with 12 it never
# compacts inside the window and the figures describe steady MOR batches.
STREAM_COMPACT_REFS = 12
SERVE_COMPACT_REFS = 5
BACKLOG_FILES = 10  # serve workload: checkpoints the stream catches up on in one batch
UPSERT_EVERY = 4  # every 4th serve operation is an upsert
READ_TAIL_PCT = 75  # read_tail_ms percentile (see README: ~15-20 reads a run)
CHECK_EVERY = 5  # every 5th read's answer is checked against DuckDB
RUN_LIMIT_S = 170  # abort (exit 1) rather than overrun the 180 s a run may take


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-p * len(s) // 100)) - 1))
    return s[k]


def tail_pct(n: int) -> int:
    """The highest of p99/p95/p90/p75/p50 with at least ten of ``n``
    samples beyond it (p50 when there are fewer)."""
    return next((p for p in (99, 95, 90, 75) if n * (100 - p) / 100 >= 10), 50)


class Run:
    """State of one benchmark invocation."""

    def __init__(self, args, inputs: str, meta: dict):
        self.args = args
        self.inputs = inputs
        self.meta = meta
        self.work_root = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.spark = None
        self.silver = None
        self.rec = None  # trace.Recorder of the current pass
        self.rss = None  # trace.RssSampler of the whole run
        self.pass_name = "p0"
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.samples: list[tuple] = []  # (request, upserts applied, stream files applied, answer)
        self.stream_applied = 0
        self.upserts_applied = 0
        self.m: dict[str, float] = {}  # end-to-end values of the current pass
        self.layer: dict[str, float] = {}
        self.info: dict[str, object] = {}
        self.bind_s = float("nan")  # first bind + one answer of each request type
        self.backfill_s = float("nan")

    def inp(self, *parts: str) -> str:
        return os.path.join(self.inputs, *parts)

    def work(self, name: str) -> str:
        return os.path.join(self.work_root, self.pass_name, name)

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)
        print(f"ERROR {msg}", file=sys.stderr)

    def span(self, name: str, **attrs):
        return self.rec.span(name, **attrs)


# -- setup -------------------------------------------------------------------


def spark_conf(run: Run, ui: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run.work_root, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if ui:
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000",
                     "spark.sql.ui.retainedExecutions": "100000"})
    return conf


def start_session(run: Run, ui: bool) -> dict[str, float]:
    """get_spark + first job.  The first call is the cold JVM start; the
    traced run calls it again to restart the session with the UI on."""
    from huracan_spark.session import get_spark

    os.environ["SPARK_GRAFT_UI"] = "true" if ui else "false"
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=spark_conf(run, ui))
    t1 = time.perf_counter()
    spark.range(1).count()
    t2 = time.perf_counter()
    run.spark = spark
    run.info["java"] = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
    return {"start_s": t1 - t0, "first_job_s": t2 - t1}


def restart(run: Run, ui: bool) -> None:
    run.spark.stop()
    start_session(run, ui)


# -- phase 1: backfill -------------------------------------------------------


def backfill_phase(run: Run) -> None:
    """One backfill cycle into an empty table: phase A, the completed
    checkpoints (plus a stop marker) recorded as the completed table,
    then phase B with that table applied, so its COW merge runs against
    existing state."""
    from pyspark.sql import functions as F

    from huracan_spark.pipeline import backfill as bf
    from huracan_spark.pipeline.silver import SilverTable

    spark = run.spark
    ch_a = spark.read.parquet(run.inp("changes_a.parquet"))
    ch_b = spark.read.parquet(run.inp("changes_b.parquet"))
    content = spark.read.parquet(run.inp("content.parquet"))
    stop = spark.createDataFrame([(run.meta["stop_cp"], True)], "checkpoint_id long, stop boolean")
    completed_path = run.work("completed")
    silver = SilverTable(spark, run.work("silver"), n_buckets=N_BUCKETS)
    run.attempted += 2
    with run.span("backfill.cycle", trace="backfill"):
        t0 = time.perf_counter()
        r1 = bf.run_backfill(spark, ch_a, content, silver)
        r1.completed_checkpoints.withColumn("stop", F.lit(None).cast("boolean")).unionByName(
            stop
        ).write.parquet(completed_path)
        r2 = bf.run_backfill(spark, ch_b, content, silver, completed=spark.read.parquet(completed_path))
        dt = time.perf_counter() - t0
    for r in (r1, r2):
        if r.cached is not None:
            r.cached.unpersist()
    run.silver = silver
    run.m["changes_per_s"] = (run.meta["rows"]["changes_a"] + run.meta["rows"]["changes_b"]) / dt
    run.backfill_s = dt
    run.info["backfill_s"] = round(dt, 3)
    # correctness: completion accounting and the state after phase B
    completed_a = {r[0] for r in spark.read.parquet(completed_path).filter(F.col("stop").isNull()).collect()}
    exp_completed = run.golden.completed_a()
    run.attempted += 1
    if completed_a != exp_completed:
        run.fail(f"completed checkpoints differ: {len(completed_a ^ exp_completed)} cps "
                 f"(e.g. {sorted(completed_a ^ exp_completed)[:5]})")
    if run.args.workload == "serve":  # the stream workload's final check follows its stream
        check_state(run, "after backfill", stream_files=0, upserts=0)


def bind_phase(run: Run) -> None:
    """First SilverTable bind and ObjectsApi answer over the new table,
    then one request of each type, so the serve window measures a warm
    server rather than each query shape's first planning."""
    from huracan_spark.api import ObjectsApi
    from huracan_spark.pipeline.silver import SilverTable

    with open(run.inp("requests.json")) as f:
        requests = json.load(f)
    # the last request of each type: far beyond any prefix a window reaches
    warm = {r["op"]: r for r in requests}
    t0 = time.perf_counter()
    api = ObjectsApi(SilverTable(run.spark, run.silver.path, n_buckets=N_BUCKETS).read())
    for req in warm.values():
        execute(api, req)
    run.bind_s = time.perf_counter() - t0


# -- phase 2: stream ---------------------------------------------------------


def _log_mtimes(ckpt: str, kind: str) -> dict[int, float]:
    d = os.path.join(ckpt, kind)
    if not os.path.isdir(d):
        return {}
    return {int(n): os.stat(os.path.join(d, n)).st_mtime for n in os.listdir(d) if n.isdigit()}


def file_batches(ckpt: str) -> dict[str, int]:
    """file name -> id of the micro-batch that read it, from the streaming
    checkpoint.  The file source logs each file under its own log offset
    (``sources/0/*``); ``offsets/<id>`` records the source offset a batch
    read up to.  The two counters drift apart whenever Spark runs a
    no-data batch (watermark advance), so map one onto the other."""
    src = os.path.join(ckpt, "sources", "0")
    offset_of: dict[str, int] = {}
    for name in os.listdir(src) if os.path.isdir(src) else []:
        if name.startswith("."):
            continue
        try:
            with open(os.path.join(src, name)) as f:
                lines = f.read().splitlines()[1:]
        except FileNotFoundError:
            continue  # replaced by a compacted log between listdir and open
        for line in lines:
            if line.strip():
                e = json.loads(line)
                offset_of[e["path"].rsplit("/", 1)[-1]] = int(e["batchId"])
    reached: list[tuple[int, int]] = []  # (micro-batch id, source offset reached)
    odir = os.path.join(ckpt, "offsets")
    for name in os.listdir(odir) if os.path.isdir(odir) else []:
        if name.isdigit():
            try:
                with open(os.path.join(odir, name)) as f:
                    lines = f.read().splitlines()
            except FileNotFoundError:
                continue
            if len(lines) >= 3 and lines[2].strip() not in ("", "-"):
                reached.append((int(name), int(json.loads(lines[2])["logOffset"])))
    reached.sort()
    out = {}
    for fname, k in offset_of.items():
        batch = next((b for b, off in reached if off >= k), None)
        if batch is not None:
            out[fname] = batch
    return out


def _committed(ckpt: str, names: list[str]) -> bool:
    batch_of = file_batches(ckpt)
    commits = _log_mtimes(ckpt, "commits")
    return all(n in batch_of and batch_of[n] in commits for n in names)


def stream_phase(run: Run) -> None:
    from huracan_spark.streaming import stream_ingest as si

    paced = run.args.workload == "stream"  # else a backlog catch-up
    spark = run.spark
    base = run.work("stream")
    src, staging, ckpt = (os.path.join(base, d) for d in ("src", "staging", "ckpt"))
    for d in (src, staging):
        os.makedirs(d, exist_ok=True)
    cfg = si.StreamConfig(
        checkpoint_dir=ckpt,
        dlq_dir=os.path.join(base, "dlq"),
        completed_dir=os.path.join(base, "completed"),
        available_now=not paced,
        merge_write_mode="mor",
        auto_compact_refs=STREAM_COMPACT_REFS,
    )
    files = sorted(os.listdir(run.inp("stream")))
    # the window's files, plus up to one batch's worth while the window
    # is held open until the batch in flight commits (see below)
    n = int(stream_window(run.args) / STREAM_CADENCE_S)
    if 2 * n + 1 > len(files):
        raise ValueError(f"a {stream_window(run.args)} s window needs {2 * n + 1} stream files; inputs have {len(files)}")
    content = spark.read.parquet(run.inp("content.parquet"))
    due: dict[str, float] = {}
    lateness: list[float] = []

    def drop(name: str) -> None:
        tmp = os.path.join(staging, name)
        shutil.copyfile(run.inp("stream", name), tmp)
        os.replace(tmp, os.path.join(src, name))

    def wait_for(names: list[str], timeout: float) -> bool:
        end = time.time() + timeout
        while time.time() < end:
            if _committed(ckpt, names):
                return True
            if q.exception() is not None or not q.isActive:
                return _committed(ckpt, names)
            time.sleep(0.05)
        return False

    if not paced:
        # a backlog: the files are all there before the query starts and
        # it catches up on them in one batch
        measured = files[:BACKLOG_FILES]
        for name in measured:
            drop(name)
            due[name] = time.time()
        q = si.run_stream(spark, si.changes_file_stream(spark, src), content, run.silver, cfg)
        q.awaitTermination(150)
        ok = _committed(ckpt, measured)
    else:
        # one unmeasured file, there before the query starts, so the
        # query's first (slower) batch is behind us when the window opens
        drop(files[0])
        due[files[0]] = time.time()
        q = si.run_stream(spark, si.changes_file_stream(spark, src), content, run.silver, cfg)
        wait_for(files[:1], 60)
        # let the no-data batch (watermark advance) that follows the
        # warm-up batch finish before the window opens
        time.sleep(1.0)
        while q.status.get("isTriggerActive"):
            time.sleep(0.05)
        # The window closes at the first commit after its nominal end, so
        # the last file is the first of a fresh batch and drain_s is one
        # batch's latency, not a random share of the batch in flight.
        t0 = time.time()
        commits_at_end = None
        measured = []
        for j, name in enumerate(files[1:]):
            d = t0 + j * STREAM_CADENCE_S
            while (now := time.time()) < d:
                time.sleep(min(0.02, d - now))
            if j >= n:  # checked just before a drop: the last file precedes the commit
                n_commits = len(_log_mtimes(ckpt, "commits"))
                if commits_at_end is None:
                    commits_at_end = n_commits
                elif n_commits > commits_at_end:
                    break
            drop(name)
            due[name] = d
            measured.append(name)
            lateness.append(time.time() - d)
        ok = wait_for(measured, 90)
    # let a trigger in flight (e.g. a no-data batch) finish before stopping
    end = time.time() + 30
    while q.isActive and q.status.get("isTriggerActive") and time.time() < end:
        time.sleep(0.05)
    progress = list(q.recentProgress)
    exc = q.exception() if not q.isActive else None
    q.stop()
    q.awaitTermination(30)
    run.attempted += len(measured)
    if exc is not None or not ok:
        run.fail(f"stream did not commit every file: {exc}")
    batch_of = file_batches(ckpt)
    commits = _log_mtimes(ckpt, "commits")
    offsets = _log_mtimes(ckpt, "offsets")
    applied = [f for f in files if f in batch_of and batch_of[f] in commits]
    run.stream_applied = len(applied)
    fresh = [commits[batch_of[f]] - due[f] for f in measured if f in batch_of and batch_of[f] in commits]
    if not fresh:
        run.fail("stream committed no measured file")
        fresh = [float("nan")]
    # the tail percentile follows the nominal file count, so it is the
    # same on every run of a configuration
    fp = tail_pct(n if paced else len(measured))
    run.m["freshness_p50_s"] = statistics.median(fresh)
    run.m["freshness_tail_s"] = percentile(fresh, fp)
    last = measured[-1]
    run.m["drain_s"] = commits[batch_of[last]] - due[last] if last in batch_of and batch_of[last] in commits else float("nan")
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    batches = sorted({batch_of[f] for f in measured if f in batch_of})
    run.info.update({
        "stream_files": len(measured),
        "stream_rate_cp_per_s": round(1 / STREAM_CADENCE_S, 3) if paced else "backlog",
        "stream_trigger": cfg.trigger_interval,
        "freshness_tail_pct": fp, "freshness_n": len(fresh), "stream_batches": len(batches),
        "generator_late_max_s": round(max(lateness), 4) if lateness else 0.0,
        "stream_trigger_ms": [p["durationMs"].get("triggerExecution") for p in progress],
    })
    run.stream_obs = {
        "progress": data,
        "batches": batches,
        "files_per_batch": len(measured) / max(1, len(batches)),
        "queue_wait": [offsets[batch_of[f]] - due[f] for f in measured if f in batch_of and batch_of[f] in offsets],
        "run_id": str(q.runId),
    }


# -- phase 3: serve ----------------------------------------------------------


def execute(api, req: dict):
    """One API request, collected; returns the rows."""
    from pyspark.sql import functions as F

    from huracan_spark.api import ObjectsQuery

    op = req["op"]
    if op == "object":
        return api.object(req["id"]).collect()
    if op == "ids":
        return api.objects(ObjectsQuery(ids=req["ids"])).collect()
    if op == "owner":
        return api.objects(ObjectsQuery(owner=req["owner"])).collect()
    if op == "owners":
        return api.objects(ObjectsQuery(owners=req["owners"])).collect()
    if op == "type":
        return api.objects(ObjectsQuery(type_=req["type"])).collect()
    if op == "types":
        return api.objects(ObjectsQuery(types=req["types"])).collect()
    if op == "dynfield":
        return api.objects(ObjectsQuery(
            dynamic_field_value=req["value"], dynamic_field_value_path="$.value.fields.owner"
        )).collect()
    if op == "dynamic_fields":
        return api.dynamic_fields(parent_ids=req["parents"]).collect()
    if op == "deep_page":
        return api.objects(ObjectsQuery(type_=req["type"], skip=req["skip"])).collect()
    live = api.silver.filter(~F.col("deleted"))
    if req["agg"] == "count_per_type":
        return live.groupBy("object_type").count().collect()
    return live.select("object_type").distinct().collect()


def answer_of(req: dict, rows) -> list[tuple]:
    op = req["op"]
    if op == "dynamic_fields":
        return [(r["parent_id"], r["field_id"], r["key"]) for r in rows]
    if op == "agg":
        return sorted(tuple(r) for r in rows)
    return [(r["_id"], r["version_"]) for r in rows]


def serve_phase(run: Run) -> None:
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from huracan_spark.api import ObjectsApi

    spark, silver = run.spark, run.silver
    with open(run.inp("requests.json")) as f:
        requests = json.load(f)
    schema = silver.read().schema
    ups_pdf = pd.read_parquet(run.inp("upserts.parquet"))
    ups = spark.createDataFrame(
        ups_pdf[["batch", *schema.fieldNames()]],
        T.StructType([T.StructField("batch", T.LongType()), *schema.fields]),
    )
    n_batches = int(ups_pdf["batch"].max()) + 1
    api = ObjectsApi(silver.read())
    reads: list[tuple[str, float, int]] = []
    writes: list[float] = []
    # closed loop over the whole window: every operation started in it is
    # measured; the request sequence is the same on every run, so a slower
    # run covers a shorter prefix of the same mix
    ops = 0
    t_start = time.perf_counter()
    deadline = t_start + serve_window(run.args)
    while time.perf_counter() < deadline:
        ops += 1
        run.attempted += 1
        if ops % UPSERT_EVERY == 0 and run.upserts_applied < n_batches:
            k = run.upserts_applied
            t0 = time.perf_counter()
            try:
                with run.span("serve.upsert", trace=f"upsert-{k}"):
                    silver.merge(ups.filter(F.col("batch") == k).drop("batch"), write_mode="mor")
                    silver.maybe_optimize(SERVE_COMPACT_REFS)
                    api = ObjectsApi(silver.read())
            except Exception:  # keep the client loop running; the failure is counted
                run.fail(f"upsert {k} failed: {traceback.format_exc(limit=3)}")
                continue
            writes.append(time.perf_counter() - t0)
            run.upserts_applied += 1
            continue
        req = requests[len(reads) % len(requests)]
        t0 = time.perf_counter()
        try:
            with run.span("api.request", trace=f"req-{len(reads)}", op=req["op"]) as sp:
                rows = execute(api, req)
                sp["attrs"]["rows"] = len(rows)
        except Exception:
            run.fail(f"request {req['op']} failed: {traceback.format_exc(limit=3)}")
            continue
        lat = time.perf_counter() - t0
        reads.append((req["op"], lat, len(rows)))
        if len(reads) % CHECK_EVERY == 0:
            run.samples.append((req, run.upserts_applied, run.stream_applied, answer_of(req, rows)))
    wall = time.perf_counter() - t_start
    read_ms = [lat * 1000 for _, lat, _ in reads]
    write_ms = [w * 1000 for w in writes]
    run.m["read_p50_ms"] = statistics.median(read_ms) if read_ms else float("nan")
    run.m["read_tail_ms"] = percentile(read_ms, READ_TAIL_PCT) if read_ms else float("nan")
    run.m["write_p50_ms"] = statistics.median(write_ms) if write_ms else float("nan")
    run.m["ops_per_s"] = ops / wall
    beyond = sum(1 for x in read_ms if x > run.m["read_tail_ms"])
    run.info.update({"serve_window_s": round(wall, 3), "serve_ops": ops, "serve_reads": len(read_ms),
                     "read_tail_pct": READ_TAIL_PCT, "read_tail_beyond": beyond,
                     "serve_upserts": len(write_ms), "serve_clients": 1,
                     "serve_read_ms": [round(x) for x in read_ms], "serve_write_ms": [round(w) for w in write_ms]})
    run.serve_obs = {"reads": reads}


def stream_window(args) -> float:
    """Seconds of chain-paced files: half the window on ``stream`` (the
    other half serves), none on ``serve`` (it catches up on a backlog)."""
    return args.seconds / 2 if args.workload == "stream" else 0.0


def serve_window(args) -> float:
    return args.seconds / 2 if args.workload == "stream" else args.seconds


# -- correctness -------------------------------------------------------------


def check_state(run: Run, label: str, stream_files: int, upserts: int) -> None:
    from golden import diff_state

    cols = ["_id", "version_", "deleted", "object_type", "owner_kind", "owner_address",
            "initial_shared_version", "digest", "previous_transaction", "storage_rebate",
            "fields_json", "bcs_b64"]
    run.attempted += 1
    rows = run.silver.read().select(*cols, "version_hex").collect()
    got = {r["_id"]: tuple(r[c] for c in cols) for r in rows}
    bad_hex = [r["_id"] for r in rows if r["version_hex"] != "0x" + format(r["version_"], "x")]
    if bad_hex:
        run.fail(f"{label}: {len(bad_hex)} rows with a wrong version_hex, e.g. {bad_hex[:2]}")
    exp = run.golden.state_rows(True, stream_files, upserts)
    problems = diff_state(got, exp)
    if problems:
        run.fail(f"{label}: silver state differs from the DuckDB reference: {'; '.join(problems)}")


def check_samples(run: Run) -> None:
    for req, ups, files, got in run.samples:
        run.attempted += 1
        exp = run.golden.answer(req, ups, files)
        if got != exp:
            run.fail(f"answer to {req} differs after {ups} upserts: got {got[:3]} expected {exp[:3]}")
    run.samples.clear()


# -- one pass over the workload ---------------------------------------------


def run_pass(run: Run, name: str) -> None:
    """One walk of the life cycle.  The bind (and its warm-up) directly
    precedes the API traffic; the stream's backlog comes before it on
    ``serve``, so the API meets a MOR-tailed table, and the chain-paced
    stream comes after it on ``stream``, so the window's micro-batches
    start from the table the API traffic left."""
    run.pass_name = name
    run.stream_applied = 0
    run.upserts_applied = 0
    run.m = {}
    steps = [("backfill", backfill_phase)]
    if run.args.workload == "serve":
        steps += [("stream", stream_phase), ("bind", bind_phase), ("serve", serve_phase)]
    else:
        steps += [("bind", bind_phase), ("serve", serve_phase), ("stream", stream_phase)]
    for label, step in steps:
        t0 = time.perf_counter()
        step(run)
        run.info[f"wall_{name}_{label}_s"] = round(time.perf_counter() - t0, 2)
        run.info[f"refs_{name}_{label}"] = len(run.silver.referenced_generations())
        run.info[f"rss_peak_{name}_{label}_mb"] = [round(x / 1024) for x in (
            run.rss.peak_kb, run.rss.peak_jvm_kb, run.rss.peak_python_kb)]
    # the system's memory, before the checks load their copy of the table
    run.m["peak_rss_mb"] = run.rss.peak_kb / 1024
    t0 = time.perf_counter()
    check_state(run, "final", stream_files=run.stream_applied, upserts=run.upserts_applied)
    check_samples(run)
    run.info[f"wall_{name}_check_s"] = round(time.perf_counter() - t0, 2)


# -- entry point -------------------------------------------------------------


def pin_environment(run_root: str) -> None:
    """Pin cores, heap and scratch locations before the JVM starts."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    tmp = os.path.join(run_root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # -Xms = -Xmx: a heap that does not grow with GC timing, so peak RSS
    # follows what the run touches rather than when the JVM chose to expand
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        f"-Xms{DRIVER_MEM} -XX:ReservedCodeCacheSize=1g -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    )
    os.environ.pop("SPARK_GRAFT_ON_CLUSTER", None)
    os.environ.pop("SPARK_GRAFT_INIT_PARTITIONS", None)


def shutdown_spark() -> None:
    """Stop the session and the JVM this process launched, and wait for it."""
    from pyspark import SparkContext

    active = SparkContext._active_spark_context
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=20)
        except Exception:
            proc.kill()
            proc.wait(timeout=20)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["stream", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import huracan_spark.pipeline.silver  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the huracan_spark package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import duckdb
    import pyspark

    import gen
    from golden import Golden
    from spec import PER_LAYER
    from trace import Recorder, RssSampler

    load_at_start = os.getloadavg()[0]
    steal_at_start = _steal_s()
    cache = os.path.join(ROOT, ".perfbench", "cache")
    size = gen.Size()
    t_gen = time.perf_counter()
    inputs, meta, cached = gen.ensure(cache, args.seed, size)
    t_gen = time.perf_counter() - t_gen
    run = Run(args, inputs, meta)
    shutil.rmtree(run.work_root, ignore_errors=True)
    os.makedirs(run.work_root)
    pin_environment(run.work_root)
    run.golden = Golden(inputs, meta)
    run.rec = Recorder()  # timing-only spans in untraced passes
    rss = run.rss = RssSampler()
    rss.start()
    signal.signal(signal.SIGALRM, _too_long)
    signal.alarm(RUN_LIMIT_S)
    try:
        setup = start_session(run, False)
        if args.trace:
            import layers

            # tracing overhead, measured on the one fixed-work phase: an
            # untraced backfill cycle (after a first one that warms the
            # JIT) against the traced pass's cycle, same process and seed
            for name in ("w0", "w1"):
                run.pass_name = name
                backfill_phase(run)
            untraced_backfill_s = run.backfill_s
            restart(run, True)
            run.rec = Recorder(run.spark.sparkContext)
            layers.install(run)
            try:
                run_pass(run, "p1")
            finally:
                run.rec.unwrap()
            run.info["untraced_backfill_s"] = round(untraced_backfill_s, 3)
            run.layer = layers.collect(run, setup, untraced_backfill_s)
        else:
            run_pass(run, "p0")
        e2e = dict(run.m)
        # cold JVM start + first job + first bind and answer (excludes
        # input generation; the backfill between them is changes_per_s)
        e2e["setup_s"] = setup["start_s"] + setup["first_job_s"] + run.bind_s
        run.info["setup_parts_s"] = [round(setup["start_s"], 3), round(setup["first_job_s"], 3), round(run.bind_s, 3)]
    except Exception:
        run.fail(f"run aborted: {traceback.format_exc()}")
        e2e = {}
    finally:
        try:
            shutdown_spark()
        except Exception:
            traceback.print_exc()
        rss.stop()
        signal.alarm(0)
        run.golden.con.close()

    os.makedirs(os.path.join(ROOT, ".perfbench", "out"), exist_ok=True)
    prov = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)), "loadavg_1m_at_start": load_at_start,
        "cpu_steal_s_during_run": round(_steal_s() - steal_at_start, 2),
        "spark": pyspark.__version__, "duckdb": duckdb.__version__,
        "driver_mem": DRIVER_MEM, "inputs_cached": cached, "input_gen_s": round(t_gen, 3),
        "input_rows": meta["rows"], "stream_cadence_s": STREAM_CADENCE_S,
        "serve_upsert_every": UPSERT_EVERY, **run.info,
    }
    for k, v in prov.items():
        print(f"# {k}: {v}")
    metrics, missing = select_metrics(run.layer if args.trace else e2e, bool(args.trace))
    for name in missing:
        run.attempted += 1
        run.fail(f"metric {name} was not measured")
    attempted = max(1, run.attempted)
    print(f"# error_rate: {run.failed / attempted:.6f} ratio ({run.failed} failed of {attempted} attempted)")
    for name, mv in metrics.items():
        moves = "  (moves {2} on {3})".format(*PER_LAYER[name]) if args.trace else ""
        print(f"{name} = {mv['value']:.6g} {mv['unit']}{moves}")
    with open(os.path.join(ROOT, ".perfbench", "out", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({"provenance": prov, "metrics": metrics, "errors": run.errors}, f, indent=1, default=str)
    shutil.rmtree(run.work_root, ignore_errors=True)
    result = {"correct": run.failed == 0, "attempted": attempted, "failed": run.failed, "metrics": metrics}
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def _too_long(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def _steal_s() -> float:
    """CPU time stolen from this VM by the hypervisor, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def select_metrics(values: dict[str, float], trace: bool) -> tuple[dict, list[str]]:
    """The declared metrics of this mode as {name: {value, unit}}, plus
    the names that have no measured value."""
    from spec import END_TO_END, PER_LAYER, metric

    declared = PER_LAYER if trace else END_TO_END
    out, missing = {}, []
    for name, spec in declared.items():
        v = values.get(name)
        if v is None or v != v:
            missing.append(name)
        else:
            out[name] = metric(v, spec[0])
    return out, missing


if __name__ == "__main__":
    sys.exit(main())
