"""Native Delta transaction log (``_delta_log/``) for ManagedTable.

The reference's silver/gold storage contract IS Delta
(``silver_Dimensions.py:55`` ``format("delta")``; the DLT targets).
ManagedTable re-creates Delta's *semantics* (atomic commits, time
travel, merge, RESTORE) on versioned parquet snapshots; this module
closes the remaining *interop* gap by emitting the public Delta
transaction-log protocol (JSON actions, one NDJSON file per commit:
https://github.com/delta-io/delta/blob/master/PROTOCOL.md) alongside
every commit, so a stock Delta reader pointed at the table directory
sees a consistent table without going through this engine.

Design, and why it differs from delta-spark's own writer:

- **The ``_latest`` pointer stays the source of truth.** The Delta log
  is a derived, trailing view written AFTER the pointer moves, under
  the same commit lock. A crash between pointer write and log write
  leaves exactly ONE committed version lacking its log entry — the
  next commit (or an explicit ``heal``) re-derives and writes it,
  still under the lock, from data that is all immutable and still on
  disk: the snapshot dir, its ``_op`` marker and ``_schema.json``, and
  the previous commit's add-list (read back from the previous log
  file, so healing never depends on state a vacuum could have
  removed). Readers of the log can lag by one commit but can never
  see uncommitted data — the failure mode of the opposite order.

- **Delta versions are contiguous; ManagedTable versions are not.**
  An aborted writer leaves a claimed-but-never-committed ``vN`` dir,
  so MT version numbers have gaps, which the Delta protocol forbids.
  Log commits are therefore numbered by commit COUNT (0, 1, 2, …) and
  each ``commitInfo`` records the MT version it maps to; the pointer
  state carries ``{"delta": {"version": D, "mt_version": V, ...}}``.

- **Commits are TRUE incremental deltas** (``add`` for this commit's
  new files, ``remove`` for the files it dropped), exactly like
  delta-spark's own writer. ManagedTable data files live in a shared
  immutable store (``_data/``) under globally-unique names referenced
  by per-version manifests, so every path is stable across versions
  and an append commit costs O(new files) log lines — independent of
  table file count. Replaying adds/removes from commit 0 yields
  precisely the current snapshot's file set (``replay_live``).
  ``dataChange`` is false only for ``compact`` (OPTIMIZE), mirroring
  delta-spark — RESTORE and CLONE change the visible data and must
  stay true for CDF-style consumers.

- **Pre-existing tables** (created before log emission) start their
  log at commit 0 = the table as-of enablement (protocol + metaData +
  full adds); earlier history stays reachable through ManagedTable
  time travel only.

Validated structurally in ``tests/test_deltalog.py`` (action schema,
version contiguity, add/remove accounting, schemaString round-trip,
crash-heal); full ``delta-spark`` read-back cannot run in this
offline environment — documented in README "Known integration gaps".
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import uuid
from pathlib import Path

PROTOCOL = {"minReaderVersion": 1, "minWriterVersion": 2}

# Named table feature for the engine's deletion-vector extension.
# The encoding (tombstone-row files listed in a custom ``dv`` field on
# add actions) is NOT Delta's own deletionVectors descriptor, so when
# any live add carries it the table protocol is bumped to the table-
# features form (reader v3 / writer v7, PROTOCOL.md "Table Features")
# with this feature named in readerFeatures — a stock client that
# doesn't support the feature then refuses the table LOUDLY instead of
# silently serving tombstoned (possibly GDPR-erased) rows or
# resurrecting them on compaction.
DV_FEATURE = "mt-rowTombstoneDeletionVectors"

# legacy writer features implied by pre-feature writer versions — when
# a table moves to writer v7, every capability it already used must be
# spelled out in writerFeatures (PROTOCOL.md feature-migration rule)
_LEGACY_WRITER_FEATURES = {
    2: ("appendOnly", "invariants"),
    3: ("checkConstraints",),
    4: ("changeDataFeed", "generatedColumns"),
    6: ("identityColumns",),
}


def feature_protocol(writer_version: int) -> dict:
    """The table-features protocol action for a DV-carrying table:
    reader v3 / writer v7, the DV extension named in BOTH feature
    lists, plus the legacy writer features ``writer_version`` implied."""
    wf = {DV_FEATURE}
    for wv, feats in _LEGACY_WRITER_FEATURES.items():
        if writer_version >= wv:
            wf.update(feats)
    return {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": [DV_FEATURE],
        "writerFeatures": sorted(wf),
    }


def required_writer_version(
    configuration: dict | None, schema_string: str | None = None
) -> int:
    """The minimum Delta writer version the table's configuration and
    schema demand (PROTOCOL.md): identity columns must be allocated by
    any writer (v6 — a v2-5 stock writer would insert NULLs/dupes into
    the id column); CDF tables emit cdc actions (writer v4); generated
    columns must be computed/validated by any writer (also v4); CHECK
    constraints must be ENFORCED by any writer (v3) — a v2-only stock
    writer pointed at a constrained table could otherwise append
    violating rows without erroring. Identity/generated definitions
    live in the schemaString's per-column metadata (Delta's own
    storage: ``delta.identity.*`` / ``delta.generationExpression``),
    hence the substring probes."""
    cfg = configuration or {}
    ss = schema_string or ""
    if '"delta.identity.start"' in ss:
        return 6
    if (
        cfg.get("delta.enableChangeDataFeed") == "true"
        or '"delta.generationExpression"' in ss
    ):
        return 4
    if any(k.startswith("delta.constraints.") for k in cfg):
        return 3
    return PROTOCOL["minWriterVersion"]

# ops that rearrange existing rows without changing table content.
# ONLY compaction qualifies: RESTORE changes the visible data (that is
# its purpose — delta-spark RESTORE emits dataChange=true, and a CDF /
# streaming consumer filtering on dataChange would otherwise skip the
# rollback and keep serving rolled-back rows), and a CLONE's initial
# adds are the new table's first visible data.
_NO_DATA_CHANGE_OPS = {"compact"}

# Delta commitInfo operation names for ManagedTable op markers
_OP_NAMES = {
    "snapshot": "WRITE",
    "append": "WRITE",
    "merge": "MERGE",
    "delete": "DELETE",
    "update": "UPDATE",
    "compact": "OPTIMIZE",
    "restore": "RESTORE",
    "clone": "CLONE",
}


def log_dir(table_dir: Path) -> Path:
    return Path(table_dir) / "_delta_log"


def commit_path(table_dir: Path, delta_version: int) -> Path:
    return log_dir(table_dir) / f"{delta_version:020d}.json"


def commit_files(table_dir: Path) -> list[Path]:
    """Every REAL commit file in ``_delta_log/``, sorted by version:
    exactly 20 digits + ``.json``, the shape ``commit_path`` writes. A
    stray non-commit .json dropped in the dir (editor artifact, user
    note) must neither inflate the heal path's completeness count —
    masking a genuinely missing earlier commit — nor crash
    ``history()``'s ``int(p.stem)``."""
    return sorted(
        p
        for p in log_dir(table_dir).glob("*.json")
        if len(p.stem) == 20 and p.stem.isdigit()
    )


def schema_fingerprint(schema_string: str | None) -> str | None:
    if schema_string is None:
        return None
    return hashlib.md5(schema_string.encode("utf-8")).hexdigest()


def read_actions(table_dir: Path, delta_version: int) -> list[dict]:
    p = commit_path(table_dir, delta_version)
    return [
        json.loads(line)
        for line in p.read_text().splitlines()
        if line.strip()
    ]


def read_adds(table_dir: Path, delta_version: int) -> list[dict]:
    """The ``add`` actions of commit D alone (NOT the live set — commits
    are incremental deltas; use ``replay_live`` for the live set)."""
    return [a["add"] for a in read_actions(table_dir, delta_version) if "add" in a]


def checkpoint_files(table_dir: Path) -> list[Path]:
    """Every classic checkpoint parquet in ``_delta_log/``, sorted by
    version (20-digit stems only, like ``commit_files``)."""
    return sorted(
        p
        for p in log_dir(table_dir).glob("*.checkpoint.parquet")
        if len(p.name) == len("00000000000000000000.checkpoint.parquet")
        and p.name[:20].isdigit()
    )


def latest_checkpoint_at_or_below(table_dir: Path, delta_version: int) -> int | None:
    """Version of the newest checkpoint ≤ ``delta_version``, or None."""
    best = None
    for p in checkpoint_files(table_dir):
        v = int(p.name[:20])
        if v <= delta_version:
            best = v
    return best


def read_checkpoint(table_dir: Path, delta_version: int) -> tuple[dict, dict, dict[str, dict]]:
    """Parse a classic checkpoint parquet back into (protocol,
    metaData, live adds {path: add dict}) — pyarrow map columns are
    normalized back to dicts (they round-trip as key/value pair
    lists)."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        log_dir(table_dir) / f"{delta_version:020d}.checkpoint.parquet"
    )
    proto: dict = {}
    meta: dict = {}
    adds: dict[str, dict] = {}
    for row in tbl.to_pylist():
        if row.get("protocol"):
            proto = row["protocol"]
        if row.get("metaData"):
            m = dict(row["metaData"])
            if isinstance(m.get("configuration"), list):
                m["configuration"] = dict(m["configuration"])
            if isinstance(m.get("format"), dict) and isinstance(
                m["format"].get("options"), list
            ):
                m["format"] = {**m["format"], "options": dict(m["format"]["options"])}
            meta = m
        if row.get("add"):
            a = dict(row["add"])
            if isinstance(a.get("partitionValues"), list):
                a["partitionValues"] = dict(a["partitionValues"])
            adds[a["path"]] = a
        if row.get("remove"):
            adds.pop(row["remove"]["path"], None)
    return proto, meta, adds


def replay_live(table_dir: Path, delta_version: int) -> dict[str, dict]:
    """The live file set as of commit D (Delta's snapshot-
    reconstruction rule — last action per path wins). Seeds from the
    newest checkpoint ≤ D when one exists — mandatory once log
    retention has expired the pre-checkpoint JSON commits, and an
    O(tail) speedup otherwise — then replays the remaining commits in
    order. Returns {path: add-action dict}."""
    live: dict[str, dict] = {}
    start = 0
    ck = latest_checkpoint_at_or_below(table_dir, delta_version)
    if ck is not None:
        _, _, live = read_checkpoint(table_dir, ck)
        start = ck + 1
    for d in range(start, delta_version + 1):
        for a in read_actions(table_dir, d):
            if "remove" in a:
                live.pop(a["remove"]["path"], None)
            if "add" in a:
                live[a["add"]["path"]] = a["add"]
    return live


def expire_log(table_dir: Path, floor: int) -> int:
    """Protocol-conformant log retention: delete commit JSONs and older
    checkpoints BELOW ``floor``, which MUST be an existing checkpoint
    version (readers then replay checkpoint + tail — exactly what
    ``_last_checkpoint`` already points them at). Returns the number of
    files removed. The caller is responsible for recording the new
    floor wherever its heal logic needs it."""
    ckpt = log_dir(table_dir) / f"{floor:020d}.checkpoint.parquet"
    if not ckpt.exists():
        raise ValueError(
            f"expire_log: no checkpoint at version {floor} in {table_dir} "
            "— expiring commits below a non-checkpoint would strand readers"
        )
    n = 0
    for p in commit_files(table_dir):
        if int(p.stem) < floor:
            p.unlink()
            n += 1
    for p in checkpoint_files(table_dir):
        if int(p.name[:20]) < floor:
            p.unlink()
            n += 1
    return n


def build_commit(
    delta_version: int,
    op: str,
    table_id: str,
    table_name: str,
    schema_string: str | None,
    emit_metadata: bool,
    adds: list[dict],
    remove_paths: list[str],
    mt_version: int,
    n_live: int,
    partition_columns: list[str] | None = None,
    cdc: list[dict] | None = None,
    configuration: dict | None = None,
    extra_metrics: dict | None = None,
    protocol_upgrade: int | dict | None = None,
) -> list[dict]:
    """Pure assembly of one commit's action list (no IO — callers stat
    the immutable store files). ``adds``: {path, size, modificationTime,
    and optionally partitionValues} per NEW file; ``remove_paths``:
    paths this commit drops; ``n_live``: live file count AFTER the
    commit (commitInfo metric); ``cdc``: change-data files (the CDF
    protocol — emitting any requires writer version 4, which this
    builder bumps to automatically)."""
    now_ms = int(time.time() * 1000)
    data_change = op not in _NO_DATA_CHANGE_OPS
    actions: list[dict] = []
    required = required_writer_version(configuration, schema_string)
    has_dv = any(a.get("dv") for a in adds)
    if delta_version == 0:
        # commit 0 can carry DV adds (log restart/enablement on a table
        # that already has tombstones) — it must then open with the
        # feature protocol, not the legacy one
        if has_dv:
            actions.append({"protocol": feature_protocol(required)})
        else:
            proto = dict(PROTOCOL)
            proto["minWriterVersion"] = max(proto["minWriterVersion"], required)
            actions.append({"protocol": proto})
    elif isinstance(protocol_upgrade, dict):
        # full protocol action (table-features form) computed by the
        # caller — first DV commit, or a feature-list change on an
        # already-upgraded table
        actions.append({"protocol": dict(protocol_upgrade)})
    elif protocol_upgrade is not None:
        # a configuration change raised the writer requirement (e.g. a
        # CHECK constraint added to a v2 table requires writer v3, so a
        # stock writer that can't enforce it must refuse to write) —
        # Delta upgrades protocol via an action in a later commit;
        # replay takes the latest
        actions.append({"protocol": {
            "minReaderVersion": PROTOCOL["minReaderVersion"],
            "minWriterVersion": protocol_upgrade,
        }})
    elif has_dv:
        # belt-and-braces: a DV-carrying commit may NEVER publish under
        # a legacy protocol (a reader-v1 client would silently return
        # the tombstoned rows) — if the caller didn't send the upgrade,
        # emit it here; replay takes the latest, so re-emission is safe
        actions.append({"protocol": feature_protocol(required)})
    if emit_metadata and schema_string is not None:
        actions.append(
            {
                "metaData": {
                    "id": table_id,
                    "name": table_name,
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema_string,
                    "partitionColumns": list(partition_columns or []),
                    "configuration": dict(configuration or {}),
                    "createdTime": now_ms,
                }
            }
        )
    for p in sorted(remove_paths):
        actions.append(
            {
                "remove": {
                    "path": p,
                    "deletionTimestamp": now_ms,
                    "dataChange": data_change,
                }
            }
        )
    for a in sorted(adds, key=lambda x: x["path"]):
        add = {
            "path": a["path"],
            "partitionValues": a.get("partitionValues", {}),
            "size": a["size"],
            "modificationTime": a["modificationTime"],
            "dataChange": data_change,
        }
        if a.get("dv"):
            # engine DV analog (documented protocol EXTENSION: Delta's
            # own deletionVector descriptor encodes roaring bitmaps;
            # this engine's tombstone-row files live under
            # _deletion_vectors/ and readers subtract them per file —
            # see deltareader.read_delta)
            add["dv"] = list(a["dv"])
        actions.append({"add": add})
    for c in sorted(cdc or [], key=lambda x: x["path"]):
        # change-data files are NOT part of the snapshot (never replayed
        # into the live set) — readers consume them only for
        # readChangeFeed; dataChange is false by protocol
        actions.append(
            {
                "cdc": {
                    "path": c["path"],
                    "partitionValues": c.get("partitionValues", {}),
                    "size": c["size"],
                    "dataChange": False,
                }
            }
        )
    actions.append(
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": _OP_NAMES.get(op, op.upper()),
                "operationParameters": {},
                "operationMetrics": {
                    "numFiles": str(n_live),
                    "numAddedFiles": str(len(adds)),
                    "numRemovedFiles": str(len(remove_paths)),
                    # row-count metrics (numAddedRows / numRemovedRows /
                    # numDeletedRows) ride in from the manifest's
                    # per-file stats when derivable — zero extra passes
                    **{k: str(v) for k, v in (extra_metrics or {}).items()},
                },
                "engineInfo": "managedtable-deltalog/1",
                "mtVersion": mt_version,
            }
        }
    )
    return actions


def write_commit(table_dir: Path, delta_version: int, actions: list[dict]) -> None:
    """Atomically publish one commit file (tmp + rename; a reader never
    sees a partial action list)."""
    d = log_dir(table_dir)
    d.mkdir(exist_ok=True)
    tmp = d / f".{delta_version:020d}.json.tmp.{os.getpid()}.{time.monotonic_ns()}"
    tmp.write_text("".join(json.dumps(a) + "\n" for a in actions))
    os.replace(tmp, commit_path(table_dir, delta_version))


def new_table_id() -> str:
    return str(uuid.uuid4())


def write_checkpoint(table_dir: Path, delta_version: int) -> Path:
    """``write_checkpoint_file`` + ``publish_last_checkpoint`` in one
    call — for manual maintenance and tests. ManagedTable's automatic
    cadence uses the two halves separately: the parquet build runs
    outside the commit lock (it only reads immutable log files), the
    pointer publish runs INSIDE it (see ``_commit``), which is what
    makes the monotonicity guard race-free among engine writers."""
    ckpt, n = write_checkpoint_file(table_dir, delta_version)
    publish_last_checkpoint(table_dir, delta_version, n)
    return ckpt


def write_checkpoint_file(table_dir: Path, delta_version: int) -> tuple[Path, int]:
    """Write a classic Delta checkpoint PARQUET for commit
    ``delta_version`` — one file holding the reconstructed snapshot
    state (latest protocol + latest metaData + every live add) —
    WITHOUT touching ``_last_checkpoint`` (the caller publishes the
    pointer; see ``publish_last_checkpoint``). A stock reader then
    replays checkpoint + later JSON commits instead of the whole log —
    which bounds raw-log replay cost for long commit histories.
    Returns (checkpoint path, row count for the pointer's ``size``).

    Written AUTOMATICALLY every ``ManagedTable.delta_checkpoint_interval``
    commits (Delta's own 10-commit default) and still callable as
    explicit maintenance. The checkpoint shape is validated offline by
    the independent reader (``deltareader.py``), which replays it the
    way a stock reader would (checkpoint-preferred), and the
    ``delta_log_roundtrip`` driver oracle re-checks it every round.
    Pre-checkpoint commit JSONs may then be EXPIRED (``expire_log``,
    run by ``ManagedTable.vacuum``) — the heal completeness check
    counts from the recorded retention floor, so Delta-style log
    cleanup is fully supported.

    The live state at D comes from ``replay_live`` (checkpoint-seeded
    incremental replay), and the latest protocol / metaData are found
    by walking back from D — falling back to the previous checkpoint
    once the walk hits the retention floor."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    proto = None
    meta = None
    existing = {int(p.stem) for p in commit_files(table_dir)}
    for d in range(delta_version, -1, -1):
        if d not in existing:
            # below the retention floor: the prior checkpoint (below)
            # carries the latest protocol/metaData as of its version
            break
        for a in read_actions(table_dir, d):
            if meta is None and "metaData" in a:
                meta = a["metaData"]
            if proto is None and "protocol" in a:
                proto = a["protocol"]
        if proto is not None and meta is not None:
            break
    if proto is None or meta is None:
        ck = latest_checkpoint_at_or_below(table_dir, delta_version)
        if ck is not None:
            ck_proto, ck_meta, _ = read_checkpoint(table_dir, ck)
            proto = proto or ck_proto or None
            meta = meta or ck_meta or None
    if proto is None or meta is None:
        raise ValueError(
            f"delta log at {table_dir} has no protocol/metaData at or "
            f"below commit {delta_version}; cannot checkpoint"
        )
    live = replay_live(table_dir, delta_version)
    adds = [live[p] for p in sorted(live)]

    meta_struct = {
        "id": meta["id"],
        "name": meta.get("name"),
        "description": meta.get("description"),
        "format": {"provider": meta["format"]["provider"],
                   "options": list(meta["format"].get("options", {}).items())},
        "schemaString": meta["schemaString"],
        "partitionColumns": meta.get("partitionColumns", []),
        "configuration": list(meta.get("configuration", {}).items()),
        "createdTime": meta.get("createdTime"),
    }
    n = 2 + len(adds)
    proto_col = [proto] + [None] * (n - 1)
    meta_col = [None, meta_struct] + [None] * (n - 2)
    add_col = [None, None] + [
        {
            "path": a["path"],
            "partitionValues": list(a.get("partitionValues", {}).items()),
            "size": a["size"],
            "modificationTime": a["modificationTime"],
            "dataChange": False,  # checkpoint rows never signal change
            "dv": list(a["dv"]) if a.get("dv") else None,
        }
        for a in adds
    ]
    str_map = pa.map_(pa.string(), pa.string())
    schema = pa.schema([
        ("protocol", pa.struct([
            ("minReaderVersion", pa.int32()),
            ("minWriterVersion", pa.int32()),
            # table-features form (reader v3 / writer v7): the DV
            # extension rides in these lists; stripping them in the
            # checkpoint would hand a stock reader a v3 protocol with
            # no feature names — or worse, let a legacy-looking
            # checkpoint mask the gate entirely
            ("readerFeatures", pa.list_(pa.string())),
            ("writerFeatures", pa.list_(pa.string())),
        ])),
        ("metaData", pa.struct([
            ("id", pa.string()),
            ("name", pa.string()),
            ("description", pa.string()),
            ("format", pa.struct([
                ("provider", pa.string()),
                ("options", str_map),
            ])),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", str_map),
            ("createdTime", pa.int64()),
        ])),
        ("add", pa.struct([
            ("path", pa.string()),
            ("partitionValues", str_map),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            # engine DV analog: tombstone files under _deletion_vectors/
            ("dv", pa.list_(pa.string())),
        ])),
        ("remove", pa.struct([
            ("path", pa.string()),
            ("deletionTimestamp", pa.int64()),
            ("dataChange", pa.bool_()),
        ])),
    ])
    tbl = pa.table(
        {
            "protocol": pa.array(proto_col, schema.field("protocol").type),
            "metaData": pa.array(meta_col, schema.field("metaData").type),
            "add": pa.array(add_col, schema.field("add").type),
            "remove": pa.array([None] * n, schema.field("remove").type),
        },
        schema=schema,
    )
    d = log_dir(table_dir)
    ckpt = d / f"{delta_version:020d}.checkpoint.parquet"
    tmp = d / f".{ckpt.name}.tmp.{os.getpid()}.{time.monotonic_ns()}"
    pq.write_table(tbl, tmp)
    os.replace(tmp, ckpt)
    return ckpt, n


def publish_last_checkpoint(table_dir: Path, delta_version: int, size: int) -> bool:
    """Point ``_last_checkpoint`` at ``delta_version`` UNLESS a newer
    one is already published (monotonic): cadence checkpoints are
    written outside the engine's commit lock, so a stalled writer
    resuming its version-10 checkpoint after others published 20 must
    not repoint readers at the older file — vacuum keys its expiry
    floor off the newest checkpoint FILE and would then delete the one
    ``_last_checkpoint`` names, stranding every stock reader. The
    check-then-replace here is itself racy between two bare callers;
    ManagedTable therefore re-publishes under its commit flock (see
    ``_commit``'s cadence path), which serializes every engine writer
    — this standalone form only backs tests and external tooling.
    Returns True iff the pointer was (re)written."""
    lc = log_dir(table_dir) / "_last_checkpoint"
    try:
        if lc.exists() and json.loads(lc.read_text())["version"] >= delta_version:
            return False
    except (ValueError, KeyError, TypeError):
        pass  # unreadable/wrong-shaped pointer: overwrite with a valid one
    last_tmp = (
        log_dir(table_dir)
        / f"._last_checkpoint.tmp.{os.getpid()}.{time.monotonic_ns()}"
    )
    last_tmp.write_text(json.dumps({"version": delta_version, "size": size}))
    os.replace(last_tmp, lc)
    return True
