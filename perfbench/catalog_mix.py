"""catalog_mix: a fixed list of catalog queries over seeded sf0.01
tables, each executed through the ``noop`` sink with bench.py's
isolation between queries.

The read side: ``plans``/``ops`` and Spark execution dominate and
``sources.rest`` does nothing. The list mixes executor-bound queries
(a TPC-H shape, MinHash) with driver-gap-bound ones (the iterative
graph query, and the streaming textual MERGE replay whose micro-batches
commit through ``merge_sql`` into the manifest tier with txn markers),
so a gain of either kind shows.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from urllib.parse import urlparse

import gen
from harness import Outcome, Run, bytes_added, dir_files
from layers import CATALOG_QUERIES
from spans import geomean

SF = 0.01
PASS_S = 14.0  # nominal wall of one pass (4 vCPUs)


def _oracle(sf_dir: str):
    import duckdb

    from dish_data_pipeline_spark.io import TPCH_TABLES

    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t)}.parquet')")
    return con


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_workload(run: Run) -> Outcome:
    sys.path.insert(0, os.path.join(run.checkout, "tools"))
    from check_oracle import compare  # the repo's oracle normalization

    from dish_data_pipeline_spark.plans import QUERIES

    out = Outcome()
    spark = run.start_session()
    run.mark("session started")
    sf_dir = run.mkdir("data", f"sf{SF}")
    tables = gen.catalog_tables(run.seed, SF)
    gen.write_catalog(tables, sf_dir)
    input_rows = sum(t.num_rows for t in tables.values())
    con = _oracle(sf_dir)
    run.mark("data generated")

    # Untimed warm-up pass that is also the output check: each query's
    # result is compared once with its DuckDB oracle twin.
    for name in CATALOG_QUERIES:
        qd = QUERIES[name]
        try:
            got = qd.fn(spark, sf_dir).toPandas()
            problems = compare(name, got, con.execute(qd.sql).fetchdf()) if qd.sql else []
        except Exception as exc:  # a failing query must not hide the rest
            problems = [f"raised {type(exc).__name__}: {exc}"]
        out.op(not problems, f"{name}: {'; '.join(problems)}")
        run.isolate()
        run.mark(f"checked {name}")
    con.close()
    setup_s = run.setup_done()
    run.mark("checked and warmed up")

    tr = run.tracer
    streams: list = []
    merges: list[dict] = []
    if run.trace:
        _patch(run, streams, merges)
    per_query: dict[str, list[float]] = {q: [] for q in CATALOG_QUERIES}
    passes: list[float] = []
    roots = []
    untraced: list[float] = []
    for _ in range(run.ops(PASS_S)):
        tr.run = f"pass-{len(passes)}"
        pass_s = 0.0
        for i, name in enumerate(CATALOG_QUERIES):
            # A traced run traces every other query, shifted by one in
            # the second pass: each query once traced and once not.
            tr.enabled = run.trace and (len(passes) + i) % 2 == 1
            qd = QUERIES[name]
            root = tr.begin(f"q.{name}") if tr.enabled else None
            t = time.time()
            try:
                with tr.span("plans.fn"):
                    df = qd.fn(spark, sf_dir)
                with tr.span("noop.save"):
                    _noop(df)
                ok = True
            except Exception as exc:
                ok = False
                out.op(False, f"{name} raised {type(exc).__name__}: {exc}")
            wall = time.time() - t
            if root is not None:
                tr.end(root)
                roots.append((name, root))
            elif run.trace:
                untraced.append(wall)
            if ok:
                out.op(True)
                per_query[name].append(wall)
                run.mark(f"{name} {wall:.2f}s")
            pass_s += wall
            run.isolate()
        passes.append(pass_s)
    tr.enabled = False
    run.mark(f"measured {len(passes)} passes")

    out.e2e = {
        "op_p50_s": statistics.median(passes),
        "op_geomean_s": geomean([statistics.median(v) for v in per_query.values() if v]),
        # One pass at --seconds 10: then this is input_rows / op_p50_s.
        "rows_per_s": input_rows * len(passes) / sum(passes),
        "setup_s": setup_s,
        "retained_mem_mb": run.retained_mem_mb(),
    }
    if run.trace:
        tr.unpatch()
        out.layers = _layers(run, roots, untraced, streams, merges)
    return out


def _patch(run: Run, streams: list, merges: list) -> None:
    """Spans around the MERGE and manifest-tier entry points, and a
    hook that keeps each traced streaming query for its progress.
    Inside a micro-batch only the batch id is recorded; the bytes the
    commits wrote and the batches read are counted once the stream
    has ended, while its table and checkpoint still exist."""
    from dish_data_pipeline_spark import merge_sql
    from dish_data_pipeline_spark.io_backends import ManifestParquetBackend
    from dish_data_pipeline_spark.streaming import pipeline as streaming

    tr = run.tracer
    for m in ("create", "latest_version", "txn_covered", "read"):
        tr.patch(ManifestParquetBackend, m, f"backend.{m}")
    tr.patch(merge_sql, "merge_into_backend", "merge_sql.merge_into_backend")
    start_stream = streaming.stream_merge_sql_to_table
    merge = ManifestParquetBackend.merge_keep_latest
    batches: list[list[int]] = [[]]  # batch ids the current stream merged

    def stream_merge_sql_to_table(stream_df, sql, table_path, checkpoint_dir, *args, **kwargs):
        if not tr.enabled:
            return start_stream(stream_df, sql, table_path, checkpoint_dir, *args, **kwargs)
        merged: list[int] = []
        batches.append(merged)  # before the first batch can run
        before = dir_files(table_path)
        query = start_stream(stream_df, sql, table_path, checkpoint_dir, *args, **kwargs)
        streams.append(query)
        wait = query.awaitTermination

        def await_then_count(*a, **kw):
            ended = wait(*a, **kw)
            if merged:
                merges.append({
                    "bytes": bytes_added(before, dir_files(table_path)),
                    "staged": sum(_batch_input_bytes(checkpoint_dir, b) for b in merged),
                })
            return ended

        query.awaitTermination = await_then_count
        return query

    def merge_keep_latest(self, spark, path, staging, *args, **kwargs):
        if not tr.enabled:
            return merge(self, spark, path, staging, *args, **kwargs)
        batches[-1].append(kwargs["txn"][1])
        with tr.span("backend.merge_keep_latest"):
            return merge(self, spark, path, staging, *args, **kwargs)

    tr.replace(streaming, "stream_merge_sql_to_table", stream_merge_sql_to_table)
    tr.replace(ManifestParquetBackend, "merge_keep_latest", merge_keep_latest)


def _batch_input_bytes(checkpoint: str, batch: int) -> int:
    """Bytes of the files a file-source micro-batch read, from the
    query's source log (a version line, then one JSON entry per file)."""
    with open(os.path.join(checkpoint, "sources", "0", str(batch))) as f:
        entries = [json.loads(line) for line in f.read().splitlines()[1:] if line]
    return sum(os.path.getsize(urlparse(e["path"]).path) for e in entries)


def _layers(run: Run, roots, untraced: list[float], streams: list, merges: list[dict]) -> dict[str, float]:
    import layers

    tr = run.tracer
    progress = [p for q in streams for p in layers.stream_progress(q)]
    batch_spans = layers.add_batch_spans(tr.spans, progress)
    run.stop_session()
    fold = layers.Fold(tr.spans, run.event_log(), batch_spans)
    run.trace_dump = fold.dump()
    # The operation is a pass: the traced queries hold each query once.
    m = layers.per_root(fold, [r for _, r in roots], run.cores, ops=1)
    for name, r in roots:
        t = fold.totals(r)
        m.update({
            f"q.{name}.wall_s": r.wall, f"q.{name}.driver_gap_s": t["driver_gap_s"],
            f"q.{name}.jobs": t["jobs"], f"q.{name}.tasks": t["tasks"],
            f"q.{name}.shuffle_bytes": t["shuffle_write_bytes"],
        })
    m.update(layers.stream_phases(progress))
    staged = sum(x["staged"] for x in merges)
    m["backend.write_amp"] = sum(x["bytes"] for x in merges) / staged if staged else 0.0
    m["trace.overhead_share"] = layers.overhead([r.wall for _, r in roots], untraced)
    return m
