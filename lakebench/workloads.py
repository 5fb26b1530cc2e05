"""The benchmark's workloads: set-up, one timed unit of work, and the check.

``refresh_small``  the daily job: an initial load in set-up, then refresh
                   cycles of small reference-shaped change batches (each
                   cycle = ``ingest_all`` of the cycle's batches followed by
                   ``Pipeline.run_all``).  One op per cycle.
``analytic_reads`` read-only, one client, closed loop over a gold warehouse
                   built in set-up with a long version history, plus the
                   catalog's headline queries on TPC-H-shaped tables.  Set-up
                   ends with one untimed warm-up pass over the query mix;
                   then one pass per unit, one op per query.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import time
from collections import Counter, defaultdict
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass
from pathlib import Path

import pyarrow as pa
from bench import HEADLINE
from pyspark.sql import functions as F

from end_to_end_azure_databricks_data_engineering_project_spark import fixtures
from end_to_end_azure_databricks_data_engineering_project_spark.__main__ import CLEANSERS
from end_to_end_azure_databricks_data_engineering_project_spark.config import TABLES
from end_to_end_azure_databricks_data_engineering_project_spark.operators.cdc import END_AT, START_AT
from end_to_end_azure_databricks_data_engineering_project_spark.plans import gold_analytics
from end_to_end_azure_databricks_data_engineering_project_spark.plans.queries import CATALOG, oracle_sql
from end_to_end_azure_databricks_data_engineering_project_spark.sources import deltareader, ingest
from end_to_end_azure_databricks_data_engineering_project_spark.sources.tables import Catalog
from end_to_end_azure_databricks_data_engineering_project_spark.sources.watermark import WatermarkStore
from end_to_end_azure_databricks_data_engineering_project_spark.streaming import flows

from . import gen, layers
from .report import GOLD_QUERIES
from .model import Reference

INITIAL_SCALE = 2.0  # fixtures.phase1 scale: 1000 users/artists/tracks, 2000 facts
HISTORY_APPENDS = 12  # gold fact appends that give analytic_reads its history
COLUMNS = {c.table: [f.name for f in c.spark_schema.fields] for c in TABLES}
CFG = {c.table: c for c in TABLES}
SCHEMAS = {c.table: gen.arrow_schema(c.spark_schema) for c in TABLES}
# compared per gold row besides key and validity interval
CHECK_COLS = {
    "dim_user": "subscription_type", "dim_artist": "genre", "dim_track": "album_name",
    "dim_date": "weekday", "fact_stream": "listen_duration",
}


@dataclass
class Op:
    kind: str
    seconds: float
    ok: bool
    rows_in: int
    unit: int  # which timed unit (cycle / pass) the op belongs to


class Ctx:
    """What every workload shares: session, run directory, seed, tracer."""

    def __init__(self, spark, root: Path, seed: int, tracer=None):
        self.spark = spark
        self.root = root
        self.seed = seed
        self.tracer = tracer
        self.source_bytes = 0  # parquet bytes of every source batch handed in

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    @contextmanager
    def op(self, op_id: str):
        """One timed operation; traced, it is an ``op`` span whose self time
        is the part of the operation no layer span covers."""
        if self.tracer is None:
            yield
            return
        self.tracer.op = op_id
        try:
            with self.tracer.span("op"):
                yield
        finally:
            self.tracer.op = None


class _Rows:
    """Stands in for the SparkSession ``fixtures.phase1`` is handed, so its
    seeded rows come back as Python tuples without a Spark job."""

    @staticmethod
    def createDataFrame(rows, schema):  # noqa: N802 — the SparkSession method name
        return [tuple(r) for r in rows]


def _declared(batches: dict[str, gen.Batch]) -> dict[str, list[tuple]]:
    """A cycle's rows without the undeclared columns (the model's view)."""
    return {t: [r[: len(COLUMNS[t])] for r in b.rows] for t, b in batches.items()}


def _initial_rows() -> dict[str, list[tuple]]:
    """fixtures.phase1's initial load, in declared column order."""
    return fixtures.phase1(_Rows(), INITIAL_SCALE)


class RefreshSmall:
    name = "refresh_small"
    unit_s = 10.0  # about one refresh cycle on a 4-core machine

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.src = ctx.root / "src"
        self.lake = self.data_root = ctx.root / "lake"  # bronze, state, warehouse
        self.warehouse = self.lake / "warehouse"
        self.cycles_run = 0
        self.batches: list[dict[str, gen.Batch]] = []

    def _sources(self, c: int) -> dict:
        d = self.src / f"c{c:03d}"
        return {p.stem: self.ctx.spark.read.parquet(str(p)) for p in sorted(d.glob("*.parquet"))}

    def setup(self, units: int) -> None:
        spark = self.ctx.spark
        initial = _initial_rows()
        self.initial = initial
        for t, rows in initial.items():
            self.ctx.source_bytes += gen.Batch(rows).write(self.src / "c000" / f"{t}.parquet", SCHEMAS[t])
        changes = gen.StarChanges(self.ctx.seed, initial)
        for c in range(1, units + 1):
            batches = changes.cycle(c)
            self.batches.append(batches)
            for t, b in batches.items():
                b.write(self.src / f"c{c:03d}" / f"{t}.parquet", SCHEMAS[t])
        self.store = WatermarkStore(self.lake / "state")
        self.pipe, self.catalog = flows.build_medallion_pipeline(
            spark, list(TABLES), str(self.lake / "bronze"), str(self.warehouse),
            str(self.lake / "state"), CLEANSERS)
        ingest.ingest_all(spark, list(TABLES), self._sources(0), str(self.lake / "bronze"), self.store)
        self.pipe.run_all()
        if self.ctx.tracer:
            layers.trace_flows(self.ctx.tracer, self.pipe)

    def run_unit(self) -> list[Op]:
        c = self.cycles_run + 1
        self.cycles_run = c
        sources = self._sources(c)
        rows_in = sum(len(b.rows) for b in self.batches[c - 1].values())
        self.ctx.source_bytes += sum(
            p.stat().st_size for p in (self.src / f"c{c:03d}").glob("*.parquet"))
        tr = self.ctx.tracer
        hook = None
        if tr:
            silver_rows: dict[str, int] = {}

            def hook(evt):
                if evt["status"] != "succeeded":
                    return
                kind, table = evt["flow"].split("_", 1)
                tr.count(f"flows.{kind}_s.{table}", evt["seconds"])
                if kind == "silver":
                    silver_rows[table] = evt["rows"]
                    return
                tr.count("cdc.rows_in", evt["rows"])
                if evt["rows"] == 0:
                    tr.count("flows.gold_empty_s", evt["seconds"])
                # the gold drain reads what silver appended this cycle and
                # gates it through the table's expectations: its row count
                # is the rows the gate kept
                seen = silver_rows.pop(table, 0)
                tr.count("expectations.rows_in", seen)
                tr.count("expectations.rows_dropped", seen - evt["rows"])
        ok = True
        t0 = time.perf_counter()
        try:
            with self.ctx.op(f"cycle{c}"):
                ingest.ingest_all(self.ctx.spark, list(TABLES), sources, str(self.lake / "bronze"), self.store)
                self.pipe.run_all(on_event=hook)
        except Exception as exc:  # noqa: BLE001 — a failed cycle is counted, the run goes on
            print(f"cycle {c} failed: {type(exc).__name__}: {exc}"[:500], flush=True)
            ok = False
        return [Op("cycle", time.perf_counter() - t0, ok, rows_in, c)]

    def check(self) -> tuple[bool, str]:
        ref = Reference(TABLES)
        ref.apply(self.initial)
        for batches in self.batches[: self.cycles_run]:
            ref.apply(_declared(batches))
        problems = []
        for t, m in ref.tables.items():
            cfg = CFG[t]
            key, attr = cfg.keys[0], CHECK_COLS[t]
            ai = COLUMNS[t].index(attr)
            df = self.catalog.table(f"gold_{t}").read()
            if cfg.scd_type == 2:
                got = Counter(tuple(r) for r in df.select(key, START_AT, END_AT, attr).collect())
                want = Counter((r[m.key], s, e, r[ai]) for s, e, r in m.versions())
            else:
                got = Counter(tuple(r) for r in df.select(key, cfg.cdc_col, attr).collect())
                want = Counter((r[m.key], r[m.seq], r[ai]) for _, _, r in m.versions())
            if got != want:
                extra, missing = got - want, want - got
                problems.append(f"gold_{t}: {sum(extra.values())} unexpected rows "
                                f"(e.g. {next(iter(extra), None)}), {sum(missing.values())} missing "
                                f"(e.g. {next(iter(missing), None)})")
        return not problems, "; ".join(problems)


# -- analytic reads ------------------------------------------------------------

# tables each headline query scans, from its oracle SQL (for rows_per_s)
HEADLINE_INPUTS = {
    "pricing_summary": ("lineitem",),
    "star_join_revenue": ("lineitem", "orders", "customer", "nation", "region"),
    "broadcast_dim_join": ("lineitem", "part"),
    "topk_customers": ("orders", "customer"),
    "window_running_sum": ("orders",),
    "latest_per_key": ("events",),
    "sessionize": ("events",),
    "scd2_history": ("events",),
    "doc_fingerprint_dedup": ("documents",),
    "minhash_signatures": ("documents",),
    "cosine_topk": ("embeddings",),
}
ADHOC_SQL = ("SELECT device_type, count(*) AS n, sum(listen_duration) AS s "
             "FROM gold_fact_stream GROUP BY device_type")


def _count_sum(df) -> list[tuple]:
    return [tuple(df.agg(F.count(F.lit(1)), F.sum("listen_duration")).first())]


class AnalyticReads:
    name = "analytic_reads"
    # one warm pass over the query mix takes about 10 s on a 4-core
    # machine, and set-up's untimed warm-up pass about as long again
    unit_s = 20.0

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.headline = list(HEADLINE)
        self.tpch = ctx.root / "tpch"
        self.warehouse = self.data_root = ctx.root / "warehouse"
        self.passes = 0
        self.results: dict[str, list] = {}

    def setup(self, units: int) -> None:
        spark, src = self.ctx.spark, self.ctx.root / "src"
        self.tpch_rows = gen.write_tpch(self.tpch, self.ctx.seed)
        initial = _initial_rows()
        changes = gen.StarChanges(self.ctx.seed, initial)
        ref = Reference(TABLES)
        ref.apply(initial)
        # fact history: the initial facts, then one append per cycle of the
        # stream ids that cycle introduces (latest row per id)
        fact_cycles = []
        seen = {r[0] for r in initial["fact_stream"]}
        for c in range(1, HISTORY_APPENDS + 1):
            batches = changes.cycle(c)
            ref.apply(_declared(batches))
            latest: dict = {}
            for r in batches["fact_stream"].rows:
                if r[0] is not None and r[0] not in seen and (r[0] not in latest or r[-1] > latest[r[0]][-1]):
                    latest[r[0]] = r
            seen.update(latest)
            fact_cycles.append(sorted(latest.values()))
        self.catalog = Catalog(spark, str(self.warehouse))
        # gold dimensions: the reference model's SCD2 version chains
        self.dims: dict[str, list[tuple]] = {}
        for t in ("dim_user", "dim_artist", "dim_track", "dim_date"):
            rows = [r + (s, e) for s, e, r in ref.tables[t].versions()]
            self.dims[t] = rows
            seq_type = SCHEMAS[t].field(CFG[t].cdc_col).type
            schema = SCHEMAS[t].append(pa.field(START_AT, seq_type)).append(pa.field(END_AT, seq_type))
            path = src / f"gold_{t}.parquet"
            self.ctx.source_bytes += gen.Batch(rows).write(path, schema)
            self.catalog.table(f"gold_{t}").overwrite(spark.read.parquet(str(path)))
        self.fact_versions = [sorted(initial["fact_stream"])] + fact_cycles
        fact = self.catalog.table("gold_fact_stream")
        mid = len(self.fact_versions) // 2
        for i, rows in enumerate(self.fact_versions):
            path = src / f"fact_{i:03d}.parquet"
            self.ctx.source_bytes += gen.Batch(rows).write(path, SCHEMAS["fact_stream"])
            df = spark.read.parquet(str(path))
            (fact.overwrite if i == 0 else fact.append)(df)
            if i == mid:
                time.sleep(0.01)  # commit timestamps have millisecond resolution
                self.as_of = dt.datetime.now(dt.timezone.utc)
                self.as_of_rows = [r for v in self.fact_versions[: mid + 1] for r in v]
                time.sleep(0.01)
        fact.compact_small(max_file_bytes=32 << 20)
        self.fact_rows = [r for v in self.fact_versions for r in v]
        self.gold_rows = len(self.fact_rows) + sum(len(v) for v in self.dims.values())
        # one untimed pass, so every timed query runs warm (plans compiled,
        # Python UDF workers started); a query failing here fails again,
        # counted, in the timed passes
        for _, _, run in self._mix():
            try:
                run()
            except Exception:  # noqa: BLE001
                pass

    def _mix(self):
        cat, spark = self.catalog, self.ctx.spark
        n_fact = len(self.fact_rows)
        for q in GOLD_QUERIES:
            yield f"gold_analytics.{q}", self.gold_rows, lambda q=q: getattr(gold_analytics, q)(cat).collect()
        yield "tables.read_as_of", len(self.as_of_rows), lambda: _count_sum(
            cat.table("gold_fact_stream").read_as_of(self.as_of))
        yield "tables.sql", n_fact, lambda: cat.sql(ADHOC_SQL).collect()
        yield "deltareader.read_delta", n_fact, lambda: _count_sum(
            deltareader.read_delta(spark, cat.root / "gold_fact_stream"))
        for name in self.headline:
            rows = sum(self.tpch_rows[t] for t in HEADLINE_INPUTS[name])
            yield f"queries.{name}", rows, lambda name=name: CATALOG[name].spark(spark, str(self.tpch)).collect()

    def run_unit(self) -> list[Op]:
        self.passes += 1
        ops = []
        for kind, rows_in, run in self._mix():
            ok = True
            t0 = time.perf_counter()
            try:
                # the call returns a lazy plan: the span covers its execution
                with self.ctx.op(f"pass{self.passes}.{kind}"), self.ctx.span(kind):
                    self.results[kind] = run()
            except Exception as exc:  # noqa: BLE001 — a failed query is counted, the run goes on
                print(f"{kind} failed: {type(exc).__name__}: {exc}"[:500], flush=True)
                self.results.pop(kind, None)
                ok = False
            ops.append(Op(kind, time.perf_counter() - t0, ok, rows_in, self.passes))
        return ops

    # -- correctness -------------------------------------------------------------
    def _gold_expected(self) -> dict[str, Counter]:
        cols = {t: {c: i for i, c in enumerate(COLUMNS[t] + [START_AT, END_AT])} for t in self.dims}

        def current(t):
            return {r[0]: r for r in self.dims[t] if r[cols[t][END_AT]] is None}

        user, track, artist, date = (current(t) for t in ("dim_user", "dim_track", "dim_artist", "dim_date"))
        fc = {c: i for i, c in enumerate(COLUMNS["fact_stream"])}
        genres: dict = defaultdict(lambda: [0, 0])
        listeners: dict = defaultdict(lambda: [0, 0])
        devices: dict = defaultdict(Counter)
        by_device: dict = defaultdict(lambda: [0, 0])
        for r in self.fact_rows:
            dur, dev = r[fc["listen_duration"]], r[fc["device_type"]]
            by_device[dev][0] += 1
            by_device[dev][1] += dur
            trk, d = track.get(r[fc["track_id"]]), date.get(r[fc["date_key"]])
            art = artist.get(trk[cols["dim_track"]["artist_id"]]) if trk else None
            if trk and art and d:
                g = genres[(art[cols["dim_artist"]["genre"]], d[cols["dim_date"]["year"]],
                            d[cols["dim_date"]["month"]])]
                g[0] += dur
                g[1] += 1
            u = user.get(r[fc["user_id"]])
            if u:
                k = (u[0], u[cols["dim_user"]["user_name"]], u[cols["dim_user"]["subscription_type"]])
                listeners[k][0] += 1
                listeners[k][1] += dur
            if d:
                devices[d[cols["dim_date"]["weekday"]]][dev] += 1
        uc = cols["dim_user"]
        churn = Counter()
        for r in self.dims["dim_user"]:
            if r[uc[END_AT]] is not None:
                nxt = user.get(r[0])
                if nxt is not None and nxt[uc[START_AT]] == r[uc[END_AT]]:
                    churn[(r[0], r[uc["subscription_type"]], nxt[uc["subscription_type"]], r[uc[END_AT]])] += 1

        def count_sum(rows):
            return Counter([(len(rows), sum(r[fc["listen_duration"]] for r in rows))])

        return {
            "gold_analytics.top_genres_by_listen_time": Counter(
                (g, y, m, s, n) for (g, y, m), (s, n) in genres.items()),
            "gold_analytics.listener_activity": Counter(
                k + (n, s) for k, (n, s) in listeners.items()),
            "gold_analytics.device_mix_by_weekday": Counter(
                (w, *(c.get(dev) for dev in gen.DEVICES))
                for w, c in devices.items()),
            "gold_analytics.subscription_history_churn": churn,
            "tables.read_as_of": count_sum(self.as_of_rows),
            "tables.sql": Counter((d, n, s) for d, (n, s) in by_device.items()),
            "deltareader.read_delta": count_sum(self.fact_rows),
        }

    def check(self) -> tuple[bool, str]:
        import duckdb

        problems = []
        for kind, want in self._gold_expected().items():
            got = self.results.get(kind)
            if got is None:
                problems.append(f"{kind}: no result")
                continue
            got = Counter(tuple(r) for r in got)
            if got != want:
                problems.append(f"{kind}: result differs from the reference model "
                                f"(e.g. {next(iter(got - want), None)} vs {next(iter(want - got), None)})")
        oracles = oracle_sql()
        con = duckdb.connect()
        try:
            for t in self.tpch_rows:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.tpch / (t + '.parquet')}')")
            for name in self.headline:
                rows = self.results.get(f"queries.{name}")
                if rows is None:
                    problems.append(f"queries.{name}: no result")
                    continue
                if name not in oracles:
                    continue
                res = con.execute(oracles[name])
                names = [d[0] for d in res.description]
                want = sorted(tuple(_norm(v) for _, v in sorted(zip(names, r))) for r in res.fetchall())
                got = sorted(tuple(_norm(r[c]) for c in sorted(r.asDict())) for r in rows)
                if got != want:
                    problems.append(f"queries.{name}: differs from its DuckDB oracle "
                                    f"({len(got)} vs {len(want)} rows)")
        finally:
            con.close()
        return not problems, "; ".join(problems)


def _norm(v):
    """Order-insensitive exact comparison form (as the oracle parity test)."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, list):
        return repr([_norm(x) for x in v])
    return str(v)


WORKLOADS = {"refresh_small": RefreshSmall, "analytic_reads": AnalyticReads}
