"""What the traced run wraps, and the per-layer metrics it reports.

Every wrapped function is named ``<layer>.<what>``; the layer is the
repository module the function lives in (``server`` = flight/server.py,
``mirror`` = flight/mirror.py, ``connector``, ``catalog``, ``table``).
Request root spans are ``client.<shape>`` for Flight requests and
``queries.<entry>`` for registry entries, so the client's own time and
the corpus entries' driver-side time show as layers too. Spark's share
comes from the status store (:class:`spans.SparkJobs`), not from spans.

perfbench/README.md records which end-to-end metric each group of layer
metrics should move, and on which workload.
"""

from __future__ import annotations

import statistics

from spans import Recorder, layer_self_ms
from workloads import CorpusOps

CORPUS_ENTRIES = CorpusOps.read_entries + CorpusOps.commit_entries

SELF_LAYERS = ("client", "server", "mirror", "connector", "catalog", "table", "queries")

# name -> unit; every traced run reports every one (0 where a workload
# never enters the layer). Unless the name says otherwise, a value is
# per request of the traced pass.
PER_LAYER: dict[str, str] = {
    "table.current_snapshot.calls": "count",
    "table.current_snapshot.ms": "ms",
    "table.snapshots.calls": "count",
    "table.snapshots.ms": "ms",
    "table.snapshots.loaded": "count",
    "table.snapshot_by_id.calls": "count",
    "catalog.table.calls": "count",
    "catalog.list_tables.calls": "count",
    "catalog.list_tables.ms": "ms",
    "table.prune.files_in": "count",
    "table.prune.files_kept": "count",
    "table.prune.kept_ratio": "ratio",
    "server.do_get.ms": "ms",
    "server.get_flight_info.ms": "ms",
    "transfer.first_batch_ms": "ms",
    "transfer.drain_ms": "ms",
    "transfer.mb": "MB",
    "transfer.batches": "count",
    "connector.sql_df.calls": "count",
    "connector.sql_df.ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_span_ms": "ms",
    "spark.executor_run_ms": "ms",
    "outside_jobs_ms": "ms",
    "server.do_put.ms": "ms",
    "connector.insert.ms": "ms",
    "table.stage_append.ms": "ms",
    "table.publish_append.ms": "ms",
    "table.delete_where.ms": "ms",
    "mirror.perform_sync.ms": "ms",
    "mirror.source_rpc.ms": "ms",
    "mirror.apply.ms": "ms",
    "mirror.rows": "count",
    "table.scan_changelog.ms": "ms",
    "table.delete_rows_exact.ms": "ms",
    "table.metadata_bytes_per_commit": "bytes",
    "table.data_bytes_per_commit": "bytes",
    **{f"self.{layer}_ms": "ms" for layer in SELF_LAYERS},
    **{
        f"queries.{e}.{m}": u
        for e in CORPUS_ENTRIES
        for m, u in (("s", "s"), ("jobs", "count"), ("outside_jobs_s", "s"))
    },
    "trace.spans": "count",
    "trace.overhead_pct": "%",
    "error_rate": "ratio",
}

def _after_snapshots(rec: Recorder, args, kwargs, result) -> None:
    rec.count("table.snapshots.loaded", len(result))


def _after_prune(rec: Recorder, args, kwargs, result) -> None:
    files = args[2] if len(args) > 2 else kwargs["files"]
    rec.count("table.prune.files_in", len(files))
    rec.count("table.prune.files_kept", len(result))


def _after_apply(rec: Recorder, args, kwargs, result) -> None:
    rec.count("mirror.rows", result)


def instrument(rec: Recorder) -> None:
    """Wrap the layer boundaries; :meth:`Recorder.unwrap_all` undoes it."""
    from icerunner_spark.catalog import Catalog
    from icerunner_spark.connector import Connector
    from icerunner_spark.flight import mirror
    from icerunner_spark.flight.server import IceFlightServer
    from icerunner_spark.table import IceTable

    for attr, after in (
        ("current_snapshot", None),
        ("snapshots", _after_snapshots),
        ("snapshot_by_id", None),
        ("_prune_files", _after_prune),
        ("stage_append", None),
        ("publish_append", None),
        ("delete_where", None),
        ("scan_changelog", None),
        ("delete_rows_exact", None),
    ):
        name = "table.prune" if attr == "_prune_files" else f"table.{attr}"
        rec.wrap(IceTable, attr, name, after)
    rec.wrap(Catalog, "table", "catalog.table")
    rec.wrap(Catalog, "list_tables", "catalog.list_tables")
    for attr in ("do_get", "get_flight_info", "do_put", "list_flights"):
        rec.wrap(IceFlightServer, attr, f"server.{attr}")
    rec.wrap(Connector, "sql_df", "connector.sql_df")
    rec.wrap(Connector, "insert", "connector.insert")
    rec.wrap(mirror, "perform_sync", "mirror.perform_sync")
    rec.wrap(mirror, "_command_reader", "mirror.source_rpc")
    rec.wrap(mirror, "_append_stream", "mirror.apply", _after_apply)
    rec.wrap(mirror, "_apply_changelog_stream", "mirror.apply", _after_apply)


def per_layer(rec: Recorder, n_ops: int, spark_ops: list[dict],
              entry_stats: dict[str, list[dict]], commit_bytes: dict) -> dict:
    """Per-request layer metrics of one traced pass."""
    out = {k: 0.0 for k in PER_LAYER}
    per = 1.0 / max(1, n_ops)
    for name in {s.name for s in rec.spans}:
        calls, ms = rec.totals(name)
        for key, v in ((f"{name}.calls", calls), (f"{name}.ms", ms)):
            if key in out:
                out[key] = v * per
    for k, v in rec.counters.items():
        if k in out and k != "table.prune.kept_ratio":
            out[k] = v * per
    fin = rec.counters.get("table.prune.files_in", 0.0)
    out["table.prune.kept_ratio"] = (
        rec.counters.get("table.prune.files_kept", 0.0) / fin if fin else 0.0
    )
    for key in ("jobs", "stages", "tasks", "job_span_ms", "executor_run_ms"):
        out[f"spark.{key}"] = sum(s[key] for s in spark_ops) * per
    out["outside_jobs_ms"] = sum(
        max(0.0, s["op_ms"] - s["job_span_ms"]) for s in spark_ops
    ) * per
    for layer, ms in layer_self_ms(rec.spans).items():
        if f"self.{layer}_ms" in out:
            out[f"self.{layer}_ms"] = ms * per
    for e, calls in entry_stats.items():
        out[f"queries.{e}.s"] = statistics.median(c["op_ms"] for c in calls) / 1000
        out[f"queries.{e}.jobs"] = statistics.median(c["jobs"] for c in calls)
        out[f"queries.{e}.outside_jobs_s"] = statistics.median(
            max(0.0, c["op_ms"] - c["job_span_ms"]) for c in calls
        ) / 1000
    out.update(commit_bytes)
    out["trace.spans"] = len(rec.spans) * per
    return out
