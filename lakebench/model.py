"""Plain-Python reference model of the medallion refresh.

Replays the generated change log the way the pipeline's contract says it
must land in gold, with no Spark involved:

* ingest keeps rows whose CDC value is above the table's high watermark
  and moves the watermark to the batch maximum;
* silver keeps the latest row per key within one drain for the tables
  whose cleanser deduplicates (``dim_user``, ``dim_artist``);
* the gold expectation drops NULL business keys;
* SCD2 tables keep one version chain per key: a new version opens at its
  sequence value and closes the previous one there; rows at or below the
  open version's sequence are stale; a change whose attributes equal the
  open version's is a no-op;
* SCD1 tables keep the row with the highest sequence per key (a batch row
  wins a tie with the stored row).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class TableModel:
    key: int  # index of the business key in a row
    seq: int  # index of the CDC / sequence column
    scd_type: int
    silver_dedup: bool
    watermark: object = None
    # SCD2: key -> [[start, end, row], ...] in sequence order
    # SCD1: key -> row
    gold: dict = field(default_factory=dict)

    def ingest(self, rows: list[tuple]) -> list[tuple]:
        """Watermark filter; returns the rows that land in bronze."""
        wm = self.watermark
        kept = [r for r in rows if wm is None or r[self.seq] > wm]
        if kept:
            self.watermark = max(r[self.seq] for r in kept)
        return kept

    def drain(self, rows: list[tuple]) -> None:
        """Silver cleanse + gold expectation + SCD apply for one drain."""
        if self.silver_dedup:
            latest: dict = {}
            for r in rows:
                k = r[self.key]
                if k not in latest or r[self.seq] > latest[k][self.seq]:
                    latest[k] = r
            rows = list(latest.values())
        rows = sorted((r for r in rows if r[self.key] is not None), key=lambda r: r[self.seq])
        for r in rows:
            (self._scd2 if self.scd_type == 2 else self._scd1)(r)

    def _attrs(self, row: tuple) -> tuple:
        return tuple(v for i, v in enumerate(row) if i not in (self.key, self.seq))

    def _scd2(self, row: tuple) -> None:
        chain = self.gold.setdefault(row[self.key], [])
        s = row[self.seq]
        if chain:
            open_v = chain[-1]
            if s <= open_v[0] or self._attrs(open_v[2]) == self._attrs(row):
                return  # stale, or a no-op change
            open_v[1] = s
        chain.append([s, None, row])

    def _scd1(self, row: tuple) -> None:
        k = row[self.key]
        cur = self.gold.get(k)
        if cur is None or row[self.seq] >= cur[self.seq]:
            self.gold[k] = row

    def versions(self) -> list[tuple]:
        """Gold rows as (start, end, row) for SCD2, (None, None, row) for SCD1."""
        if self.scd_type == 1:
            return [(None, None, r) for r in self.gold.values()]
        return [(s, e, r) for chain in self.gold.values() for s, e, r in chain]


class Reference:
    """One ``TableModel`` per configured table, built from ``TableConfig``s."""

    DEDUP_TABLES = ("dim_user", "dim_artist")  # the silver cleansers that dedup

    def __init__(self, configs):
        self.tables: dict[str, TableModel] = {}
        for cfg in configs:
            cols = [f.name for f in cfg.spark_schema.fields]
            self.tables[cfg.table] = TableModel(
                key=cols.index(cfg.keys[0]), seq=cols.index(cfg.cdc_col),
                scd_type=cfg.scd_type, silver_dedup=cfg.table in self.DEDUP_TABLES,
            )

    def apply(self, batches: dict[str, list[tuple]]) -> int:
        """One refresh cycle: ingest every batch, then drain each table.
        Returns the number of rows that passed the watermark."""
        landed = 0
        for table, rows in batches.items():
            m = self.tables[table]
            kept = m.ingest(rows)
            landed += len(kept)
            m.drain(kept)
        return landed
