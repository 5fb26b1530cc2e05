"""Seeded input generators for the lakehouse benchmark.

Everything here is plain Python plus pyarrow: the program under test only
ever sees the parquet files these functions write.

* ``StarChanges`` produces the star-schema change batches of the refresh
  workload.  The initial load is ``fixtures.phase1``'s rows; every later cycle carries updates and new keys for the three
  SCD2 dimensions, no ``dim_date`` rows, new facts plus late corrections,
  and the FIXTURES.md edge cases: an in-batch duplicate key, a stale row
  below the watermark, a NULL business key and (in the first cycle's
  ``dim_user`` file) an extra undeclared column.  Cycle timestamps move
  forward one day per cycle, so every batch clears the watermark.
* ``write_tpch`` writes TPC-H-shaped tables with the column names and
  types of the query catalog's test data, for the catalog queries.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0 = dt.datetime(2025, 1, 1)  # fixtures.phase1 timestamps are all <= T0
T1 = dt.datetime(2025, 6, 1)  # first cycle's timestamps start here
STALE_TS = T0 - dt.timedelta(days=1)  # always below every watermark

COUNTRIES = ["US", "DE", "FR", "IN", "BR", "JP"]
GENRES = ["Pop", "Rock", "Jazz", "Classical", "Hip-Hop", "Electronic"]
SUBS = ["Free", "Premium", "Family"]
DEVICES = ["Mobile", "Desktop", "Smart Speaker"]
EXTRA_COL = "referral_code"

# rows per refresh cycle; UPDATES and NEW_KEYS apply to each SCD2 dimension
UPDATES = 100
NEW_KEYS = 20
NEW_FACTS = 600
FACT_FIXES = 30

_PA = {
    "IntegerType()": pa.int32(),
    "LongType()": pa.int64(),
    "StringType()": pa.string(),
    "DateType()": pa.date32(),
    "TimestampType()": pa.timestamp("us", tz="UTC"),
}


def arrow_schema(spark_schema) -> pa.Schema:
    """The pyarrow schema whose parquet Spark reads back as ``spark_schema``."""
    return pa.schema(
        [pa.field(f.name, _PA[repr(f.dataType)]) for f in spark_schema.fields]
    )


@dataclass
class Batch:
    """One table's source rows for one cycle, in the declared column order
    (plus ``extra`` undeclared columns appended after them)."""

    rows: list[tuple]
    extra: list[str] = field(default_factory=list)

    def write(self, path: Path, schema: pa.Schema) -> int:
        """Write as one parquet file; returns its size in bytes."""
        for name in self.extra:
            schema = schema.append(pa.field(name, pa.string()))
        table = pa.Table.from_arrays(
            [pa.array(list(c), type=f.type) for c, f in zip(zip(*self.rows), schema)],
            schema=schema,
        )
        path.parent.mkdir(parents=True, exist_ok=True)
        pq.write_table(table, path)
        return path.stat().st_size


class StarChanges:
    """Seeded generator of refresh-cycle batches over a phase-1 initial load.

    ``initial`` maps table -> rows in declared column order (the
    ``fixtures.phase1`` rows).  ``cycle(c)`` must be called for
    c = 1, 2, ... in order; it returns ``{table: Batch}`` for the four
    tables that change."""

    def __init__(self, seed: int, initial: dict[str, list[tuple]]):
        self.rng = random.Random(seed)
        self.keys = {
            t: sorted(r[0] for r in initial[t])
            for t in ("dim_user", "dim_artist", "dim_track")
        }
        self.stream_ids = [r[0] for r in initial["fact_stream"]]
        self.next_sid = max(self.stream_ids) + 1
        self.date_keys = sorted(r[0] for r in initial["dim_date"])
        self.n_users0 = len(self.keys["dim_user"])
        self.n_tracks0 = len(self.keys["dim_track"])
        self.cycles = 0

    # -- per-table row makers (key, cycle tag, timestamp) -> row --------------
    def _user(self, k, tag, ts):
        r = self.rng
        return (k, f"user {k} {tag}", r.choice(COUNTRIES), r.choice(SUBS),
                dt.date(2023, 10, 1) + dt.timedelta(days=r.randint(0, 700)), None, ts)

    def _artist(self, k, tag, ts):
        r = self.rng
        return (k, f"artist {k} {tag}", r.choice(GENRES), r.choice(COUNTRIES), ts)

    def _track(self, k, tag, ts):
        r = self.rng
        return (k, f"track-{k}-{tag}", r.choice(self.keys["dim_artist"]), f"album {tag}",
                r.randint(105, 342), dt.date(2020, 1, 1) + dt.timedelta(days=r.randint(0, 2000)), ts)

    def _fact(self, sid, ts):
        r = self.rng
        return (sid, r.randint(1, int(self.n_users0 * 1.05)), r.randint(1, int(self.n_tracks0 * 1.05)),
                r.choice(self.date_keys), r.randint(15, 309), r.choice(DEVICES), ts)

    def cycle(self, c: int) -> dict[str, Batch]:
        if c != self.cycles + 1:
            raise ValueError(f"cycles must be generated in order (next is {self.cycles + 1})")
        self.cycles = c
        rng = self.rng
        base = T1 + dt.timedelta(days=c - 1)
        tick = iter(range(1, 86_400))

        def ts():
            return base + dt.timedelta(seconds=next(tick))

        out: dict[str, Batch] = {}
        for table, make in (("dim_user", self._user), ("dim_artist", self._artist),
                            ("dim_track", self._track)):
            keys = self.keys[table]
            upd = rng.sample(keys, UPDATES)
            new = list(range(keys[-1] + 1, keys[-1] + 1 + NEW_KEYS))
            rows = [make(k, f"c{c}", ts()) for k in upd + new]
            # FIXTURES.md edge cases: a second, later change of one key in
            # the same batch; a stale row below the watermark; a NULL key
            rows.append(make(upd[0], f"c{c}b", ts()))
            rows.append(make(upd[1], f"c{c}stale", STALE_TS))
            rows.append(make(None, f"c{c}ghost", ts()))
            keys.extend(new)
            rng.shuffle(rows)
            out[table] = Batch(rows)
        if c == 1:  # the rescue path: one file carries an undeclared column
            b = out["dim_user"]
            b.rows = [r + (f"ref-{i}",) for i, r in enumerate(b.rows)]
            b.extra = [EXTRA_COL]

        new_sids = list(range(self.next_sid, self.next_sid + NEW_FACTS))
        self.next_sid += NEW_FACTS
        rows = [self._fact(s, ts()) for s in new_sids]
        rows += [self._fact(s, ts()) for s in rng.sample(self.stream_ids, FACT_FIXES)]
        rows.append(self._fact(new_sids[0], ts()))  # in-batch duplicate key
        rows.append(self._fact(self.stream_ids[0], STALE_TS))
        rows.append(self._fact(None, ts()))
        self.stream_ids.extend(new_sids)
        rng.shuffle(rows)
        out["fact_stream"] = Batch(rows)
        return out


# -- TPC-H-shaped tables for the query catalog ---------------------------------

_WORDS = ("join hash row batch scan column customer filter small slow merge order "
          "vector line table data agg value key stream window a spark part group "
          "big sort query fast the").split()
_SEGMENTS = ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["error", "click", "view", "signup", "purchase"]


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(rng: np.random.Generator, start: str, days: int, n: int, unit: str) -> pa.Array:
    """Naive timestamps: whole days (``unit="D"``) or microseconds (``"us"``)."""
    per_day = {"D": 1, "us": 86_400_000_000}[unit]
    vals = np.datetime64(start, unit) + rng.integers(0, days * per_day, n).astype(f"timedelta64[{unit}]")
    return pa.array(vals.astype("datetime64[us]"), type=pa.timestamp("us"))


def write_tpch(out_dir: Path, seed: int, sf: float = 0.01) -> dict[str, int]:
    """Write region..embeddings parquet files; returns rows per table."""
    rng = np.random.default_rng(seed)
    out_dir.mkdir(parents=True, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_users, n_events, n_docs, n_vecs = int(15_000 * sf), int(1_000_000 * sf), 500, 500

    def names(prefix, n):
        return [f"{prefix}#{i:09d}" for i in range(n)]

    words = np.array(_WORDS)
    docs = [" ".join(words[rng.integers(0, len(words), rng.integers(8, 80))]) for _ in range(n_docs)]
    for i in rng.choice(n_docs, n_docs // 20, replace=False):  # planted duplicates
        docs[i] = "  " + docs[(i + 1) % n_docs].upper() + " "
    emb = rng.normal(0, 0.15, (n_vecs, 64)).astype(np.float32)

    tables = {
        "region": {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        "nation": {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                   "n_name": [f"NATION{i}" for i in range(25)],
                   "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))},
        "customer": {"c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
                     "c_name": names("Customer", n_cust),
                     "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
                     "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
                     "c_mktsegment": list(rng.choice(_SEGMENTS, n_cust))},
        "supplier": {"s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
                     "s_name": names("Supplier", n_supp),
                     "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
                     "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp)},
        "part": {"p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
                 "p_name": [f"{a} {b}" for a, b in zip(rng.choice(["small", "red", "blue", "hot", "old"], n_part),
                                                     rng.choice(["ring", "widget", "bolt", "gear", "gizmo"], n_part))],
                 "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
                 "p_type": list(rng.choice(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], n_part)),
                 "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
                 "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)},
        "orders": {"o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
                   "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
                   "o_orderstatus": list(rng.choice(["P", "F", "O"], n_ord)),
                   "o_totalprice": _cents(rng, 1000, 500_000, n_ord),
                   "o_orderdate": _ts(rng, "1995-01-01", 2400, n_ord, "D"),
                   "o_orderpriority": list(rng.choice(_PRIORITIES, n_ord))},
        "lineitem": {"l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
                     "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
                     "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
                     "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
                     "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                     "l_extendedprice": _cents(rng, 900, 105_000, n_line),
                     "l_discount": rng.integers(0, 11, n_line) / 100,
                     "l_tax": rng.integers(0, 9, n_line) / 100,
                     "l_returnflag": list(rng.choice(["A", "N", "R"], n_line)),
                     "l_linestatus": list(rng.choice(["F", "O"], n_line)),
                     "l_shipdate": _ts(rng, "1995-01-02", 2500, n_line, "D")},
        "events": {"event_id": pa.array(np.arange(n_events, dtype=np.int64)),
                   "ts": _ts(rng, "2024-01-01", 30, n_events, "us"),
                   "user_id": pa.array(rng.integers(0, n_users, n_events, dtype=np.int64)),
                   "event_type": list(rng.choice(_EVENT_TYPES, n_events)),
                   "value": _cents(rng, 0.01, 500, n_events),
                   "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]},
        "documents": {"doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
                      "text": docs,
                      "lang": list(rng.choice(["en", "zh", "es", "de", "fr"], n_docs)),
                      "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
                      "n_chars": pa.array([len(d) for d in docs], type=pa.int64())},
        "embeddings": {"vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
                       "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
                       "label": pa.array(rng.integers(0, 10, n_vecs, dtype=np.int32))},
    }
    rows = {}
    for name, cols in tables.items():
        t = pa.table(cols)
        pq.write_table(t, out_dir / f"{name}.parquet")
        rows[name] = t.num_rows
    return rows
