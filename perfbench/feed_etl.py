"""feed_etl: the reference's own job, ``run_feed(feed_config("ga_sessions"))``
on its default backend, over seeded GA-session pages.

Driver-bound and write-heavy: REST/JSON, DQ, staging, audit and the
full-rewrite MERGE do nearly all the work; ``plans``/``ops`` do none.
"""

from __future__ import annotations

import os
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq

import gen
from harness import Outcome, Run, bytes_added, dir_files
from spans import geomean

BASE_URL = "http://feed.invalid"  # never contacted: http_get is in-process
CYCLE_S = 12.0  # nominal wall of one four-load cycle (4 vCPUs)


# The target's schema as run_feed writes it for these records (JSON
# inference sorts struct fields by name; normalize flattens with "_").
TARGET_SCHEMA = pa.schema([
    ("channelGrouping", pa.string()), ("device_browser", pa.string()),
    ("device_deviceCategory", pa.string()), ("device_isMobile", pa.bool_()),
    ("geoNetwork_city", pa.string()), ("geoNetwork_country", pa.string()),
    ("totals_hits", pa.int64()), ("totals_pageviews", pa.int64()),
    ("visitId", pa.string()), ("visitStartTime", pa.int64()),
    ("load_timestamp", pa.timestamp("us", tz="UTC")), ("source_file", pa.string()),
])


def _seed_target(g: gen.FeedGen, target: str, model: dict) -> None:
    """Write the target as ``prior_days`` of earlier loads left it: a
    Parquet directory, the swap tier's table layout."""
    pdf = g.prior_frame(model)
    pdf["load_timestamp"] = pdf["load_timestamp"].dt.tz_localize("UTC")
    os.makedirs(target)
    pq.write_table(pa.Table.from_pandas(pdf[TARGET_SCHEMA.names], schema=TARGET_SCHEMA,
                                        preserve_index=False),
                   os.path.join(target, "part-00000-seed.snappy.parquet"))


def _check(run: Run, out: Outcome, target: str, audit: str, model: dict, expected_audit: list) -> None:
    spark = run.spark
    rows = spark.read.parquet(target).select("visitId", "source_file", "totals_hits").toPandas()
    out.op(len(rows) == len(model), f"target has {len(rows)} rows, model {len(model)}")
    bad = sum(
        1 for v, s, h in zip(rows.visitId, rows.source_file, rows.totals_hits)
        if int(h) not in model.get((v, s), ())
    )
    out.op(bad == 0, f"{bad} target rows differ from the model")
    got = spark.read.parquet(audit).orderBy("load_timestamp").select("record_count", "status").collect()
    got = [(r.record_count, r.status.split(":")[0]) for r in got]
    out.op(got == expected_audit, f"audit rows {got[-4:]} != expected {expected_audit[-4:]}")


def run_workload(run: Run) -> Outcome:
    from dish_data_pipeline_spark import io as dio
    from dish_data_pipeline_spark import pipeline
    from dish_data_pipeline_spark.config import feed_config
    from dish_data_pipeline_spark.io_backends import ParquetSwapBackend

    out = Outcome()
    spark = run.start_session()
    feed = feed_config("ga_sessions")
    g = gen.FeedGen(run.seed)
    wh = run.path("warehouse", "feeds")
    target = os.path.join(wh, "tgt_ga_sessions")
    staging = os.path.join(wh, "staging_ga_sessions")
    audit = os.path.join(wh, "load_audit")
    model: dict = {}
    expected_audit: list = []
    run.mark("session started")
    _seed_target(g, target, model)
    run.mark("target seeded")

    tr = run.tracer
    if run.trace:
        tr.patch(pipeline, "fetch_paginated_data", "rest.fetch")
        tr.patch(pipeline, "records_to_dataframe", "rest.to_df")
        tr.patch(pipeline, "normalize_records", "operators.normalize")
        tr.patch(pipeline, "add_load_metadata", "operators.enrich")
        tr.patch(pipeline, "dedup_keyed", "operators.dedup")
        tr.patch(pipeline, "run_data_quality_checks", "quality.dq")
        tr.patch(dio, "write_staging", "io.write_staging")
        tr.patch(dio, "write_append", "io.write_append")
        for m in ("create", "merge_keep_latest", "read", "exists"):
            tr.patch(ParquetSwapBackend, m, f"backend.{m}")

    walls: list[float] = []
    staged: list[int] = []
    traced: list[tuple[float, dict]] = []  # (wall, per-load extras)
    untraced: list[float] = []

    def one(load: gen.FeedLoad, timed: bool) -> None:
        http_get, stats = gen.paged_server(load.records)
        before = dir_files(target) if tr.enabled else None
        audit_before = sum(dir_files(audit).values()) if tr.enabled else 0
        tr.run = f"load-{load.index}"
        root = tr.begin("run_feed", kind=load.kind) if tr.enabled else None
        t = time.time()
        res = pipeline.run_feed(spark, feed, BASE_URL, wh, http_get=http_get, load_date=load.load_date)
        wall = time.time() - t
        if root is not None:
            tr.end(root)
        ok = res.status == load.expected_status and res.record_count == load.expected_count
        out.op(ok, f"load {load.index} ({load.kind}): {res.status} {res.record_count} {res.issues[:1]}")
        expected_audit.append((load.expected_count, load.expected_status))
        if load.expected_status == "SUCCESS":
            model.update(load.hits)
        run.mark(f"load {load.index} ({load.kind}, {len(load.records)} records) {wall:.2f}s")
        if not timed:
            return
        walls.append(wall)
        staged.append(res.record_count)
        if root is None:
            untraced.append(wall)
            return
        staging_bytes = sum(dir_files(staging).values()) if res.status == "SUCCESS" else 0
        extras = {
            "pages": stats["pages"], "records": len(load.records),
            "io_bytes": staging_bytes + sum(dir_files(audit).values()) - audit_before,
            "merge_bytes": bytes_added(before, dir_files(target)),
            "staging_bytes": staging_bytes, "root": root,
        }
        traced.append((wall, extras))

    for load in g.warmup_loads():
        one(load, timed=False)
    setup_s = run.setup_done()
    run.mark("warmed up")

    # Whole cycles only, so every run sees the same mix of load kinds.
    # A traced run traces every other load, shifted by one in the
    # second cycle: each kind once traced and once not.
    for cycle in range(1, 1 + run.ops(CYCLE_S)):
        for pos, load in enumerate(g.cycle_loads(cycle)):
            tr.enabled = run.trace and (cycle + pos) % 2 == 1
            one(load, timed=True)
    tr.enabled = False

    out.e2e = {
        "op_p50_s": statistics.median(walls),
        "op_geomean_s": geomean(walls),
        "rows_per_s": sum(staged) / sum(walls),
    }
    run.mark(f"measured {len(walls)} loads")
    out.e2e["setup_s"] = setup_s
    out.e2e["retained_mem_mb"] = run.retained_mem_mb()
    _check(run, out, target, audit, model, expected_audit)
    run.mark("checked")
    if run.trace:
        tr.unpatch()
        out.layers = _layers(run, traced, untraced)
    return out


def _layers(run: Run, traced, untraced) -> dict[str, float]:
    import layers

    tr = run.tracer
    run.stop_session()
    fold = layers.Fold(tr.spans, run.event_log())
    run.trace_dump = fold.dump()
    m = layers.per_root(fold, [x["root"] for _, x in traced], run.cores)
    n = len(traced)
    ok = [x for _, x in traced if x["staging_bytes"]]
    m.update({
        "rest.pages": sum(x["pages"] for _, x in traced) / n,
        "rest.records": sum(x["records"] for _, x in traced) / n,
        "io.bytes_written": sum(x["io_bytes"] for _, x in traced) / n,
        "backend.write_amp": (sum(x["merge_bytes"] for x in ok) / sum(x["staging_bytes"] for x in ok)) if ok else 0.0,
        "trace.overhead_share": layers.overhead([w for w, _ in traced], untraced),
    })
    return m
