"""Metric definitions and the arithmetic that turns a run into them.

``END_TO_END`` and ``per_layer_names`` name every metric with its unit; the
run prints exactly these names (BENCHMARK.json lists the same ones).

End to end, an *op* is the workload's unit a user waits on: one refresh
cycle (``refresh_small``) or one query (``analytic_reads``).  A per-layer
value is per timed unit (one refresh cycle, or one pass over the query
mix) unless its name says otherwise: ``*_s`` of a query kind is that
query's median latency, ``*_ratio`` is a ratio of two counts,
``session.get_spark_s`` is the one session start, and ``tables.versions``
/ ``log_files`` / ``data_files`` describe the warehouse at the end of the
run.  ``trace.overhead_s`` is the tracer's own time per unit (wrapping,
job-group switches, status-tracker reads) and ``trace.op_p50_s`` the
traced op median, to set against the untraced run's ``op_p50_s``.
"""

from __future__ import annotations

import statistics

from .trace import Span, self_times

END_TO_END = [
    ("setup_s", "s"),
    ("op_p50_s", "s"),
    ("op_tail_s", "s"),
    ("rows_per_s", "1/s"),
    ("storage_amp", "ratio"),
    ("peak_rss_mb", "MB"),
]

STAR_TABLES = ("dim_user", "dim_artist", "dim_track", "dim_date", "fact_stream")
GOLD_QUERIES = ("top_genres_by_listen_time", "listener_activity",
                "device_mix_by_weekday", "subscription_history_churn")
LAYERS = ("session", "ingest", "watermark", "autoload", "flows", "cdc", "expectations",
          "tables", "deltareader", "gold_analytics", "queries")
WRITE_SPANS = ("tables.append", "tables.merge_keyed", "tables.update_where",
               "tables.delete_where", "tables.compact_small", "tables.overwrite")


def per_layer_names(headline: list[str]) -> list[tuple[str, str]]:
    m = [("session.get_spark_s", "s"),
         ("ingest.ingest_table_s", "s"), ("ingest.rows", "count"), ("ingest.bronze_bytes", "bytes"),
         ("watermark.reads", "count"), ("watermark.writes", "count"),
         ("autoload.read_new_files_s", "s"), ("autoload.files_listed", "count"),
         ("autoload.files_new", "count"), ("autoload.new_ratio", "ratio")]
    m += [(f"flows.silver_s.{t}", "s") for t in STAR_TABLES]
    m += [(f"flows.gold_s.{t}", "s") for t in STAR_TABLES]
    m += [("flows.gold_empty_s", "s"),
          ("expectations.rows_in", "count"), ("expectations.rows_dropped", "count"),
          ("expectations.keep_ratio", "ratio"),
          ("cdc.apply_changes_s", "s"), ("cdc.rows_in", "count"), ("cdc.jobs", "count"),
          ("tables.append_s", "s"), ("tables.appended_since_s", "s"),
          ("tables.merge_keyed_s", "s"), ("tables.files_rewritten", "count"),
          ("tables.files_total", "count"), ("tables.rewrite_ratio", "ratio"),
          ("tables.changes_since_calls", "count"),
          ("tables.read_s", "s"), ("tables.read_as_of_s", "s"), ("tables.sql_s", "s"),
          ("tables.versions", "count"), ("tables.log_files", "count"), ("tables.data_files", "count"),
          ("tables.write_amp", "ratio"), ("tables.write_spans", "count"),
          ("deltareader.read_delta_s", "s")]
    m += [(f"gold_analytics.{q}_s", "s") for q in GOLD_QUERIES]
    for q in headline:
        m += [(f"queries.{q}_s", "s"), (f"queries.{q}_jobs", "count"), (f"queries.{q}_tasks", "count")]
    m += [("queries.suite_s", "s"), ("plans.spans", "count"),
          ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count")]
    m += [(f"self_s.{layer}", "s") for layer in LAYERS]
    m += [("trace.uncovered_s", "s"), ("trace.uncovered_share", "ratio"),
          ("trace.overhead_s", "s"), ("trace.op_p50_s", "s"), ("trace.op_drift", "ratio")]
    return m


def tail(values: list[float]) -> float:
    """The highest order statistic with at least ten samples above it.  With
    fewer than 21 samples that statistic would not lie above the median, so
    the maximum is reported instead."""
    v = sorted(values)
    return v[len(v) - 11] if len(v) >= 21 else v[-1]


def drift(kinds: list[str], seconds: list[float]) -> float:
    """Per op kind, the median of the last quarter of its samples over the
    median of the first quarter; the median of that over kinds."""
    by_kind: dict[str, list[float]] = {}
    for k, s in zip(kinds, seconds):
        by_kind.setdefault(k, []).append(s)
    ratios = []
    for vals in by_kind.values():
        if len(vals) < 2:
            continue
        q = max(1, len(vals) // 4)
        ratios.append(statistics.median(vals[-q:]) / statistics.median(vals[:q]))
    return statistics.median(ratios) if ratios else 1.0


def suite_seconds(ops) -> float:
    """Median over passes of the summed headline-query latencies (the
    figure bench.py reports as ``value``); 0 when no catalog query ran."""
    passes: dict[int, float] = {}
    for o in ops:
        if o.kind.startswith("queries."):
            passes[o.unit] = passes.get(o.unit, 0.0) + o.seconds
    return statistics.median(passes.values()) if passes else 0.0


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer(spans: list[Span], timed_from: int, counts: dict, ops, units: int, extra: dict,
              headline: list[str]) -> dict[str, float]:
    """Every PER_LAYER metric from the traced run's spans, counts and ops.

    ``spans[timed_from:]`` are the timed phase's; ``extra`` carries what is
    measured outside the spans: the warehouse shape, write amplification
    and tracing overhead."""
    timed = [s for s in spans[timed_from:] if s.op is not None]
    by_id = {s.id: s for s in spans}
    jobs = {s.id: [s.jobs, s.stages, s.tasks] for s in spans}
    for s in reversed(spans):  # children have higher ids than their parents
        if s.parent is not None:
            for i in range(3):
                jobs[s.parent][i] += jobs[s.id][i]

    def outermost(s: Span) -> bool:
        p = s.parent
        while p is not None:
            if by_id[p].name == s.name:
                return False
            p = by_id[p].parent
        return True

    def incl(name: str, pool=timed) -> float:
        return sum(s.end - s.start for s in pool if s.name == name and outermost(s))

    op_lat: dict[str, list[float]] = {}
    for o in ops:
        op_lat.setdefault(o.kind, []).append(o.seconds)

    def per_unit(v: float) -> float:
        return v / units

    def latency(kind: str) -> float:
        return statistics.median(op_lat[kind]) if kind in op_lat else per_unit(incl(kind))

    c = counts.get
    out = {
        "session.get_spark_s": incl("session.get_spark", spans),
        "ingest.ingest_table_s": per_unit(incl("ingest.ingest_table")),
        "ingest.rows": per_unit(c("ingest.rows", 0)),
        "ingest.bronze_bytes": per_unit(c("ingest.bronze_bytes", 0)),
        "watermark.reads": per_unit(c("watermark.reads", 0)),
        "watermark.writes": per_unit(c("watermark.writes", 0)),
        "autoload.read_new_files_s": per_unit(incl("autoload.read_new_files")),
        "autoload.files_listed": per_unit(c("autoload.files_listed", 0)),
        "autoload.files_new": per_unit(c("autoload.files_new", 0)),
        "autoload.new_ratio": _ratio(c("autoload.files_new", 0), c("autoload.files_listed", 0)),
        "flows.gold_empty_s": per_unit(c("flows.gold_empty_s", 0)),
        "expectations.rows_in": per_unit(c("expectations.rows_in", 0)),
        "expectations.rows_dropped": per_unit(c("expectations.rows_dropped", 0)),
        "expectations.keep_ratio": _ratio(
            c("expectations.rows_in", 0) - c("expectations.rows_dropped", 0), c("expectations.rows_in", 0)),
        "cdc.apply_changes_s": per_unit(incl("cdc.apply_changes")),
        "cdc.rows_in": per_unit(c("cdc.rows_in", 0)),
        "cdc.jobs": per_unit(sum(jobs[s.id][0] for s in timed if s.name == "cdc.apply_changes")),
        "tables.files_rewritten": per_unit(c("tables.files_rewritten", 0)),
        "tables.files_total": per_unit(c("tables.files_total", 0)),
        "tables.rewrite_ratio": _ratio(c("tables.files_rewritten", 0), c("tables.files_total", 0)),
        "tables.changes_since_calls": per_unit(sum(1 for s in timed if s.name == "tables.changes_since")),
        "tables.read_as_of_s": latency("tables.read_as_of"),
        "tables.sql_s": latency("tables.sql"),
        "tables.write_spans": per_unit(sum(1 for s in timed if s.name in WRITE_SPANS)),
        "deltareader.read_delta_s": latency("deltareader.read_delta"),
        "plans.spans": per_unit(sum(1 for s in timed if s.layer in ("gold_analytics", "queries"))),
    }
    for t in STAR_TABLES:
        out[f"flows.silver_s.{t}"] = per_unit(c(f"flows.silver_s.{t}", 0))
        out[f"flows.gold_s.{t}"] = per_unit(c(f"flows.gold_s.{t}", 0))
    for m in ("append", "appended_since", "merge_keyed", "read"):
        out[f"tables.{m}_s"] = per_unit(incl(f"tables.{m}"))
    for q in GOLD_QUERIES:
        out[f"gold_analytics.{q}_s"] = latency(f"gold_analytics.{q}")
    for q in headline:
        name = f"queries.{q}"
        out[f"{name}_s"] = latency(name)
        calls = [s for s in timed if s.name == name and outermost(s)]
        out[f"{name}_jobs"] = _ratio(sum(jobs[s.id][0] for s in calls), len(calls))
        out[f"{name}_tasks"] = _ratio(sum(jobs[s.id][2] for s in calls), len(calls))
    out["queries.suite_s"] = suite_seconds(ops)
    op_spans = [s for s in timed if s.name == "op"]
    for i, k in enumerate(("jobs", "stages", "tasks")):
        out[f"spark.{k}"] = per_unit(sum(jobs[s.id][i] for s in op_spans))
    own = self_times(spans)
    for layer in LAYERS:
        out[f"self_s.{layer}"] = per_unit(sum(own[s.id] for s in timed if s.layer == layer))
    uncovered = sum(own[s.id] for s in op_spans)
    out["trace.uncovered_s"] = per_unit(uncovered)
    out["trace.uncovered_share"] = _ratio(uncovered, sum(s.end - s.start for s in op_spans))
    out["trace.overhead_s"] = per_unit(extra["overhead_s"])
    out["trace.op_p50_s"] = statistics.median(o.seconds for o in ops)
    out["trace.op_drift"] = drift([o.kind for o in ops], [o.seconds for o in ops])
    out["tables.versions"] = extra["versions"]
    out["tables.log_files"] = extra["log_files"]
    out["tables.data_files"] = extra["data_files"]
    out["tables.write_amp"] = extra["write_amp"]
    return out
