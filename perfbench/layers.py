"""Per-layer metrics of a traced run: the metric names, and the fold
of spans, streaming progress and Spark's event log into per-operation
numbers.

Every per-layer value is per traced operation (a ``run_feed`` load or
a catalog pass); the ``stream.*`` phases are medians over micro-batches.
A layer a workload does not reach reports 0.
"""

from __future__ import annotations

import datetime as dt
import statistics

from spans import Span, attribute_jobs, read_event_log, self_times, spark_totals

CATALOG_QUERIES = [
    "pricing_summary", "keep_latest_events", "minhash_neardup",
    "trade_pagerank", "stream_merge_sql_replay",
]

SPARK_METRICS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.input_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.busy_share": "share", "spark.driver_gap_s": "s",
}

METRICS: dict[str, str] = {
    "session.start_s": "s",
    "rest.fetch_s": "s", "rest.pages": "count", "rest.records": "count",
    "rest.to_df_s": "s", "rest.to_df_jobs": "count",
    "operators.plan_s": "s", "quality.dq_s": "s", "quality.dq_jobs": "count",
    "io.staging_write_s": "s", "io.audit_write_s": "s", "io.bytes_written": "bytes",
    "backend.merge_s": "s", "backend.write_amp": "ratio", "backend.manifest_reads": "count",
    "merge_sql.merge_s": "s",
    "stream.add_batch_s": "s", "stream.query_planning_s": "s", "stream.get_batch_s": "s",
    "stream.latest_offset_s": "s", "stream.wal_commit_s": "s", "stream.commit_offsets_s": "s",
    "stream.floor_s": "s",
    **SPARK_METRICS,
    **{f"q.{q}.{k}": u for q in CATALOG_QUERIES
       for k, u in (("wall_s", "s"), ("driver_gap_s", "s"), ("jobs", "count"),
                    ("tasks", "count"), ("shuffle_bytes", "bytes"))},
    "trace.overhead_share": "share",
}

# span name -> metric of its summed wall per operation
WALL_METRICS = {
    "rest.fetch": "rest.fetch_s", "rest.to_df": "rest.to_df_s",
    "operators.normalize": "operators.plan_s", "operators.enrich": "operators.plan_s",
    "operators.dedup": "operators.plan_s", "quality.dq": "quality.dq_s",
    "io.write_append": "io.audit_write_s",
    "backend.merge_keep_latest": "backend.merge_s",
    "merge_sql.merge_into_backend": "merge_sql.merge_s",
}
JOB_METRICS = {"rest.to_df": "rest.to_df_jobs", "quality.dq": "quality.dq_jobs"}
MANIFEST_READS = {"backend.latest_version", "backend.txn_covered", "backend.read"}


def overhead(traced: list[float], untraced: list[float]) -> float:
    """Tracing overhead: traced over untraced wall, minus one. The two
    sets hold the same operations (each feed load kind, each query
    once), so their sums compare."""
    return sum(traced) / sum(untraced) - 1.0


STREAM_PHASES = {
    "addBatch": "stream.add_batch_s", "queryPlanning": "stream.query_planning_s",
    "getBatch": "stream.get_batch_s", "latestOffset": "stream.latest_offset_s",
    "walCommit": "stream.wal_commit_s", "commitOffsets": "stream.commit_offsets_s",
}


def stream_progress(q) -> list[dict]:
    """Micro-batches a finished streaming query ran (a replayed batch
    reads no rows but still runs): query id, batch id, trigger start
    (epoch s) and ``durationMs``."""
    out = []
    for p in q.recentProgress:
        d = p if isinstance(p, dict) else p.jsonValue()
        if "addBatch" in d["durationMs"]:
            start = dt.datetime.fromisoformat(d["timestamp"].replace("Z", "+00:00")).timestamp()
            out.append({"query": d["id"], "batch": d["batchId"], "start": start, "ms": d["durationMs"]})
    return out


def add_batch_spans(spans: list[Span], progress: list[dict]) -> dict[tuple[str, int], int]:
    """Add a ``micro_batch`` span per progress record, under the
    ``plans.fn`` span that ran the stream, and move the MERGE spans
    recorded on the stream thread under their batch. Returns
    (query id, batch id) -> span id, for attributing the batch's jobs."""
    out = {}
    for p in progress:
        start = p["start"]
        end = start + p["ms"]["triggerExecution"] / 1000.0
        holders = [s for s in spans if s.name == "plans.fn" and s.start <= start and s.end >= end]
        batch = Span(len(spans), "micro_batch", start, end,
                     parent=holders[-1].id if holders else None, run=f"batch-{p['batch']}")
        for s in spans:
            if s.name == "merge_sql.merge_into_backend" and start <= s.start <= end:
                s.parent = batch.id
        spans.append(batch)
        out[(p["query"], p["batch"])] = batch.id
    return out


def stream_phases(progress: list[dict]) -> dict[str, float]:
    """Median of each micro-batch phase, and of the floor: the trigger
    time outside ``addBatch``."""
    if not progress:
        return {}
    out = {m: statistics.median(p["ms"].get(k, 0) for p in progress) / 1000.0
           for k, m in STREAM_PHASES.items()}
    out["stream.floor_s"] = statistics.median(
        (p["ms"]["triggerExecution"] - p["ms"].get("addBatch", 0)) / 1000.0 for p in progress)
    return out


def descendants(spans: list[Span], root: Span) -> list[Span]:
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(children.get(s.id, []))
    return out


class Fold:
    """Spans attributed to Spark jobs, read from the event log once."""

    def __init__(self, spans: list[Span], event_log: str | None, batch_spans=None) -> None:
        self.spans = spans
        jobs = read_event_log(event_log) if event_log else {}
        self.by_span = attribute_jobs(jobs, spans, batch_spans)
        self.self_s = self_times(spans)

    def totals(self, root: Span) -> dict:
        return spark_totals(root, descendants(self.spans, root), self.by_span)

    def dump(self) -> list[dict]:
        """Every span with its self time and direct Spark counts."""
        out = []
        for s in self.spans:
            jobs = self.by_span.get(s.id, [])
            out.append({**s.__dict__, "self_s": self.self_s[s.id], "jobs": len(jobs),
                        "tasks": sum(j.tasks for j in jobs)})
        return out


def per_root(fold: Fold, roots: list[Span], cores: int, ops: int | None = None) -> dict[str, float]:
    """Layer metrics of the spans ``roots`` and everything below them,
    per operation: summed and divided by ``ops`` (default: one
    operation per root)."""
    m = {name: 0.0 for name in METRICS}
    n = ops or len(roots)
    wall = sum(r.wall for r in roots)
    for root in roots:
        t = fold.totals(root)
        for k in ("stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                  "shuffle_read_bytes", "shuffle_write_bytes", "input_bytes", "spill_bytes",
                  "jobs", "driver_gap_s"):
            m[f"spark.{k}"] += t[k] / n
        for s in descendants(fold.spans, root):
            if s.name in WALL_METRICS:
                m[WALL_METRICS[s.name]] += s.wall / n
            if s.name in JOB_METRICS:
                m[JOB_METRICS[s.name]] += fold.totals(s)["jobs"] / n
            if s.name in MANIFEST_READS:
                m["backend.manifest_reads"] += 1 / n
            if s.name == "io.write_staging" and s.parent == root.id:
                m["io.staging_write_s"] += s.wall / n
    m["spark.busy_share"] = m["spark.executor_run_s"] * n / (wall * cores)
    return m
