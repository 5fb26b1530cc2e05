"""Self-tests for the benchmark's own pieces (no Spark session needed).

    python3 -m pytest lakebench/tests -q
"""

from __future__ import annotations

import datetime as dt
import json
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from end_to_end_azure_databricks_data_engineering_project_spark.config import TABLES  # noqa: E402
from lakebench import gen, report  # noqa: E402
from lakebench.model import Reference  # noqa: E402
from lakebench.trace import Span, covered, self_times  # noqa: E402
from lakebench.workloads import _initial_rows  # noqa: E402

COLUMNS = {c.table: [f.name for f in c.spark_schema.fields] for c in TABLES}


def _cycles(seed, n=3):
    g = gen.StarChanges(seed, _initial_rows())
    return [g.cycle(c) for c in range(1, n + 1)]


def test_generator_is_deterministic_per_seed(tmp_path):
    a, b, other = _cycles(7), _cycles(7), _cycles(8)
    assert [{t: x.rows for t, x in c.items()} for c in a] == [{t: x.rows for t, x in c.items()} for c in b]
    assert a[0]["dim_user"].rows != other[0]["dim_user"].rows
    schemas = {c.table: gen.arrow_schema(c.spark_schema) for c in TABLES}
    for i, cyc in enumerate((a, b)):
        for t, batch in cyc[0].items():
            batch.write(tmp_path / str(i) / f"{t}.parquet", schemas[t])
    for t in a[0]:
        assert (tmp_path / "0" / f"{t}.parquet").read_bytes() == (tmp_path / "1" / f"{t}.parquet").read_bytes()
    assert gen.write_tpch(tmp_path / "x", 3) == gen.write_tpch(tmp_path / "y", 3)
    for name in ("lineitem", "documents", "embeddings"):
        assert pq.read_table(tmp_path / "x" / f"{name}.parquet").equals(pq.read_table(tmp_path / "y" / f"{name}.parquet"))


def test_generator_plants_the_fixture_edge_cases():
    first = _cycles(1, 1)[0]
    assert set(first) == {"dim_user", "dim_artist", "dim_track", "fact_stream"}  # no dim_date rows
    assert first["dim_user"].extra == [gen.EXTRA_COL]
    for t, batch in first.items():
        keys = [r[0] for r in batch.rows]
        assert None in keys
        assert any(r[-1 if t != "dim_user" else 6] == gen.STALE_TS for r in batch.rows)
        dup = [k for k in set(keys) if k is not None and keys.count(k) > 1]
        assert dup
        seq = COLUMNS[t].index("stream_timestamp" if t == "fact_stream" else "updated_at")
        assert min(r[seq] for r in batch.rows if r[seq] != gen.STALE_TS) > gen.T0


def _cycle_rows(batches):
    return {t: [r[: len(COLUMNS[t])] for r in b.rows] for t, b in batches.items()}


def test_reference_model_handles_planted_edge_cases():
    ref = Reference(TABLES)
    initial = _initial_rows()
    ref.apply(initial)
    cyc = _cycles(3, 1)[0]
    ref.apply(_cycle_rows(cyc))
    user = ref.tables["dim_user"]
    rows = cyc["dim_user"].rows
    # NULL key dropped; the stale row is below the watermark and ignored
    assert None not in user.gold
    stale = next(r for r in rows if r[6] == gen.STALE_TS)
    assert all(v[2] != stale[:7] for v in user.gold[stale[0]])
    # in-batch duplicate: silver keeps the later row only -> one new version
    keys = [r[0] for r in rows]
    dup = next(k for k in set(keys) if k is not None and keys.count(k) > 1)
    chain = user.gold[dup]
    latest = max((r for r in rows if r[0] == dup), key=lambda r: r[6])
    assert len(chain) == 2 and chain[0][1] == latest[6] and chain[1] == [latest[6], None, latest[:7]]
    # dim_track has no silver dedup: both in-batch changes become versions
    trows = cyc["dim_track"].rows
    tkeys = [r[0] for r in trows]
    tdup = next(k for k in set(tkeys) if k is not None
                and sum(1 for r in trows if r[0] == k and r[-1] != gen.STALE_TS) > 1)
    tchain = ref.tables["dim_track"].gold[tdup]
    assert len(tchain) == 3
    assert [v[1] for v in tchain] == [tchain[1][0], tchain[2][0], None]
    # SCD1 fact: last write wins, NULL key dropped, stale row ignored
    fact = ref.tables["fact_stream"]
    frows = cyc["fact_stream"].rows
    fkeys = [r[0] for r in frows]
    fdup = next(k for k in set(fkeys) if k is not None and fkeys.count(k) > 1)
    assert fact.gold[fdup][6] == max(r[6] for r in frows if r[0] == fdup)
    assert None not in fact.gold
    fstale = next(r for r in frows if r[6] == gen.STALE_TS)
    assert fact.gold[fstale[0]][6] != gen.STALE_TS
    # untouched keys keep one open version
    untouched = {r[0] for r in initial["dim_user"]} - set(keys)
    assert all(len(user.gold[k]) == 1 and user.gold[k][0][1] is None for k in untouched)


def test_reference_model_scd2_stale_and_noop():
    ref = Reference(TABLES)
    m = ref.tables["dim_artist"]
    t = dt.datetime(2025, 1, 1)
    m.drain([(1, "a", "Pop", "US", t)])
    m.drain([(1, "a", "Rock", "US", t - dt.timedelta(days=1))])  # older than the open version
    m.drain([(1, "a", "Pop", "US", t + dt.timedelta(days=1))])  # same attributes: no-op
    assert m.gold[1] == [[t, None, (1, "a", "Pop", "US", t)]]


def _span(i, parent, start, end, name="x.y"):
    return Span(i, name, parent, "op", start, end)


def test_self_time_nested_and_overlapping_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps span 1
        _span(3, 1, 1.5, 2.5),  # grandchild: inside span 1, not counted for 0
        _span(4, 0, 9.0, 12.0),  # sticks out of the parent
        _span(5, 0, 2.0, 3.0),  # inside span 1
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(10 - (5 + 1))  # covered: [1,6] and [9,10]
    assert own[1] == pytest.approx(3 - 1)
    assert own[2] == pytest.approx(3)
    assert own[3] == pytest.approx(1)
    assert covered([], 0, 1) == 0
    assert covered([(2, 3), (0, 1)], 0.5, 2.5) == pytest.approx(1.0)


def test_tail_and_drift():
    assert report.tail([3.0, 1.0]) == 3.0
    vals = [float(i) for i in range(1, 31)]
    assert report.tail(vals) == 20.0  # ten samples (21..30) above it
    assert report.drift(["a"] * 8, [1, 1, 2, 2, 2, 2, 3, 3]) == 3.0
    assert report.drift(["a", "b", "a", "b"], [1, 2, 2, 2]) == pytest.approx(1.5)


def test_benchmark_json_lists_the_reported_metrics():
    import bench

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == report.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == report.per_layer_names(list(bench.HEADLINE))
    from lakebench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    import re

    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"] + spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    assert all(re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]) for m in spec["end_to_end"] + spec["per_layer"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"]) <= 0.25
