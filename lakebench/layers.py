"""Which public functions the traced run wraps, and the counts it takes.

Span names are ``<layer>.<function>``; the layer is the repo module the
function lives in (``sources.ingest`` -> ``ingest``, ``plans.queries`` ->
``queries`` ...).  Functions that a module imports by name into another
module (``flows`` imports ``apply_changes``, ``expect_all_or_drop`` and
``read_new_files``) are patched where they are looked up.  Plans
(``plans.queries``, ``plans.gold_analytics``) return lazy DataFrames, so
their spans are opened at the benchmark's call sites around plan build
plus execution instead of here.
"""

from __future__ import annotations

import os
from pathlib import Path

from end_to_end_azure_databricks_data_engineering_project_spark import session
from end_to_end_azure_databricks_data_engineering_project_spark.sources import (
    autoload,
    deltareader,
    ingest,
    tables,
)
from end_to_end_azure_databricks_data_engineering_project_spark.sources.watermark import (
    WatermarkStore,
)
from end_to_end_azure_databricks_data_engineering_project_spark.streaming import flows

from .trace import Tracer

TABLE_METHODS = (
    "append", "appended_since", "merge_keyed", "changes_since", "update_where",
    "delete_where", "compact_small", "vacuum", "overwrite", "read", "read_as_of",
)


def dir_bytes(path) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.stat(os.path.join(dirpath, f)).st_size
    return total


def _files(args, kwargs):
    return set(args[0].data_files()) if args[0].exists() else set()


def _merge_counts(tr, out, args, kwargs, before):
    after = set(args[0].data_files())
    tr.count("tables.files_total", len(before))
    tr.count("tables.files_rewritten", len(before - after))


def _ingest_counts(tr, out, args, kwargs, before):
    tr.count("ingest.rows", out.rows)
    if out.landed_path:
        tr.count("ingest.bronze_bytes", dir_bytes(out.landed_path))


def install(tr: Tracer) -> None:
    """Wrap every layer function."""
    tr.wrap(session, "get_spark", "session.get_spark")
    tr.wrap(ingest, "ingest_all", "ingest.ingest_all")
    tr.wrap(ingest, "ingest_table", "ingest.ingest_table", after=_ingest_counts)
    tr.wrap(WatermarkStore, "read", "watermark.read",
            after=lambda t, *_: t.count("watermark.reads"))
    tr.wrap(WatermarkStore, "write", "watermark.write",
            after=lambda t, *_: t.count("watermark.writes"))
    tr.wrap(autoload, "_list_parquet_files", "autoload.list_files",
            after=lambda t, out, *_: t.count("autoload.files_listed", len(out)))
    tr.wrap(flows, "read_new_files", "autoload.read_new_files",
            after=lambda t, out, *_: t.count("autoload.files_new", len(out[1])))
    tr.wrap(flows, "apply_changes", "cdc.apply_changes")
    tr.wrap(flows, "expect_all_or_drop", "expectations.expect_all_or_drop")
    tr.wrap(flows.Pipeline, "run_all", "flows.run_all")
    for m in TABLE_METHODS:
        if m == "merge_keyed":
            tr.wrap(tables.ManagedTable, m, f"tables.{m}", before=_files, after=_merge_counts)
        else:
            tr.wrap(tables.ManagedTable, m, f"tables.{m}")
    tr.wrap(tables.Catalog, "sql", "tables.sql")
    tr.wrap(deltareader, "read_delta", "deltareader.read_delta")


def trace_flows(tr: Tracer, pipe) -> None:
    """Give each declared flow of ``pipe`` its own span
    (``flows.silver.<table>`` / ``flows.gold.<table>``)."""
    for name, flow in pipe.flows.items():
        kind, table = name.split("_", 1)
        run = flow.run

        def traced(run=run, span=f"flows.{kind}.{table}"):
            with tr.span(span):
                return run()

        flow.run = traced


def warehouse_shape(root: Path) -> dict[str, int]:
    """Versions, Delta log files and live data files over every table."""
    shape = {"versions": 0, "log_files": 0, "data_files": 0}
    if not root.is_dir():
        return shape
    for d in sorted(root.iterdir()):
        if not d.is_dir() or not (d / "_latest").exists():
            continue
        t = tables.ManagedTable(None, root, d.name)
        shape["versions"] += t.current_version() + 1
        log = d / "_delta_log"
        shape["log_files"] += sum(1 for _ in log.iterdir()) if log.is_dir() else 0
        shape["data_files"] += len(t.data_files())
    return shape
