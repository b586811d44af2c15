"""Iceberg-style snapshot log over plain parquet — pure metadata, no JAR.

``sources/iceberg.py`` passes snapshot / time-travel options through to a
real Iceberg runtime when one is on the classpath, and until now raised
``NotImplementedError`` on the parquet fallback.  This module closes that
gap with the actual Iceberg *mechanism* (table-spec v2 concepts, HadoopTables
layout — both public), implemented as pure metadata over immutable parquet:

    <loc>/data/snap-<id>/part-*.parquet   data files (immutable once committed)
    <loc>/metadata/manifest-<id>.json     file list + rows + per-column min/max
    <loc>/metadata/v<N>.json              table metadata: the snapshot log
    <loc>/metadata/version-hint.text      current-version pointer

Semantics provided — exactly the three things the Iceberg path adds over raw
parquet (see iceberg.py docstring):

- **snapshot isolation**: a reader resolves one version file and from then on
  sees an immutable file list; writers commit a NEW version via atomic
  create (``os.link`` — fails, never overwrites, if a concurrent writer got
  there first: the HadoopTableOperations rename-commit protocol).
- **time travel**: ``read(snapshot_id=...)`` / ``read(as_of_timestamp=...)``.
- **manifest-level min/max pruning**: per-file column stats are read from
  the new files' parquet FOOTERS on the driver at commit time (metadata
  only, no data pages, no Spark job); ``read(prune=...)`` drops whole files
  before Spark ever lists a directory.

Scale shape: driver-side state and work are O(files) per commit — one
footer read per new file (under a millisecond for a local file), the same
asymptotics as Iceberg's own manifest lists.  The data itself is written by
the executors.  Appends never rewrite old snapshots, so a 100-TB table pays
only the metadata of its new files per commit.

Reference semantics target: Sedona reads Iceberg/GeoParquet through ordinary
Spark sources (`/root/reference/docs/tutorial/sql.md` storage section); the
snapshot log here is the missing lakehouse layer the north-star input table
assumes, not a port of reference code.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


class CommitConflictError(RuntimeError):
    """A concurrent writer committed the version this writer was about to."""


def _metadata_dir(location: str) -> str:
    return os.path.join(location, "metadata")


def _version_path(location: str, n: int) -> str:
    return os.path.join(_metadata_dir(location), f"v{n}.json")


def _hint_path(location: str) -> str:
    return os.path.join(_metadata_dir(location), "version-hint.text")


def has_snapshot_log(location: str) -> bool:
    # v1.json is checked too: a writer may have crashed after the atomic
    # version commit but before the hint update — the table exists
    return os.path.exists(_hint_path(location)) or os.path.exists(
        _version_path(location, 1)
    )


def _current_version(location: str) -> int:
    """Newest committed version: the hint is a fast path, the directory scan
    is the truth (HadoopTableOperations does the same) — a writer that
    crashed between the atomic version-file link and the hint update must
    not brick the table, and a torn/empty hint must not crash readers."""
    hint = 0
    try:
        with open(_hint_path(location)) as f:
            hint = int(f.read().strip())
    except (FileNotFoundError, ValueError):
        pass
    n = hint
    while os.path.exists(_version_path(location, n + 1)):
        n += 1
    if n == 0 and hint == 0:
        # hint unreadable and no v1 found by advancing from 0: full scan
        meta_dir = _metadata_dir(location)
        if os.path.isdir(meta_dir):
            for name in os.listdir(meta_dir):
                if name.startswith("v") and name.endswith(".json"):
                    try:
                        n = max(n, int(name[1:-5]))
                    except ValueError:
                        pass
    return n


def _load_version(location: str, n: int) -> dict:
    with open(_version_path(location, n)) as f:
        return json.load(f)


def _write_hint(location: str, n: int) -> None:
    """Atomic hint update (write-temp + rename): readers never observe a
    truncated/empty hint, and _current_version's scan covers the crash
    window before this runs."""
    tmp = _hint_path(location) + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(str(n))
    os.replace(tmp, _hint_path(location))


def _commit_version(location: str, n: int, meta: dict, retry: str) -> None:
    """Commit version ``n``: write a temp file, then ``os.link`` it to
    ``v<n>.json`` — an atomic create-if-absent that fails with EEXIST if a
    concurrent writer committed ``n`` first (never overwrites) — then move
    the hint.  ``retry`` names what the loser should retry."""
    tmp = _version_path(location, n) + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    try:
        os.link(tmp, _version_path(location, n))
    except FileExistsError:
        raise CommitConflictError(
            f"version {n} at {location} was committed concurrently; {retry}"
        ) from None
    finally:
        os.unlink(tmp)
    _write_hint(location, n)


def _bounds(st) -> tuple | None:
    """(min, max) of one column chunk's footer statistics, or None when it
    has none usable: no stats, raw binary, a bound pyarrow cannot read (a
    decimal) or bytes that are not UTF-8."""
    if st is None or not st.has_min_max:
        return None
    if st.physical_type == "BYTE_ARRAY" and str(st.logical_type).lower().startswith("none"):
        return None
    try:
        lo, hi = st.min, st.max
        return (lo.decode(), hi.decode()) if isinstance(lo, bytes) else (lo, hi)
    except (pa.ArrowNotImplementedError, UnicodeDecodeError):
        return None


def _file_stats(fp: str) -> dict:
    """Row count + per-column min/max of one parquet file, read from its
    footer (no data pages).  Values go through the same JSON round trip the
    manifest does, so a date bound comes back as its string."""
    md = pq.ParquetFile(fp).metadata
    # per-column (mins, maxs) across row groups; a column keeps a range only
    # if EVERY group has stats for it (conservative)
    ranges: dict[str, list] = {}
    dropped: set[str] = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if "." in name or name in dropped:
                continue  # nested leaf / already disqualified
            b = _bounds(col.statistics)
            if b is None:
                dropped.add(name)
                ranges.pop(name, None)
                continue
            cur = ranges.get(name)
            if cur is None:
                ranges[name] = list(b)
            else:
                cur[0], cur[1] = min(cur[0], b[0]), max(cur[1], b[1])
    return json.loads(json.dumps({
        "path": fp,
        "rows": md.num_rows,
        "bytes": os.path.getsize(fp),
        "min": {k: v[0] for k, v in ranges.items()},
        "max": {k: v[1] for k, v in ranges.items()},
    }, default=str))


class SnapshotTable:
    """Append-only snapshot log over parquet data files.

    Create implicitly with the first ``append``/``overwrite``; read any
    committed snapshot forever after (old snapshots are never mutated).
    """

    def __init__(self, location: str):
        self.location = location

    # ---------- write path ----------

    def _commit(self, operation: str, new_files: list[str],
                properties: dict | None = None) -> int:
        meta_dir = _metadata_dir(self.location)
        os.makedirs(meta_dir, exist_ok=True)
        prev_n = _current_version(self.location) if has_snapshot_log(self.location) else 0
        n = prev_n + 1
        prev = _load_version(self.location, prev_n) if prev_n else {"snapshots": []}

        # unique name: a writer that loses the version race below must not
        # have clobbered the winner's manifest (its own becomes unreferenced
        # metadata, listed by orphan_files)
        manifest_name = f"manifest-{n}-{uuid.uuid4().hex[:8]}.json"
        stats = [_file_stats(fp) for fp in new_files]
        for st in stats:
            # relative to the table: a copied table reads its own files
            st["path"] = os.path.relpath(st["path"], self.location)
        with open(os.path.join(meta_dir, manifest_name), "w") as f:
            json.dump({"files": stats}, f)

        if operation == "append" and prev["snapshots"]:
            manifests = prev["snapshots"][-1]["manifests"] + [manifest_name]
        else:
            manifests = [manifest_name]
        snap = {
            "snapshot_id": n,
            "parent_id": prev_n or None,
            "ts_ms": int(time.time() * 1000),
            "operation": operation,
            "manifests": manifests,
        }
        if properties:
            # caller-supplied commit metadata (Iceberg snapshot summary
            # analog) — e.g. the streaming sink stamps (query, epoch_id)
            # here for exactly-once replay skipping
            snap["properties"] = dict(properties)
        meta = {"format_version": 2, "snapshots": prev["snapshots"] + [snap],
                "current_snapshot_id": n}

        _commit_version(self.location, n, meta, "re-read the table and retry the append")
        return n

    def _write_data(self, df: DataFrame, snap_hint: int) -> list[str]:
        data_dir = os.path.join(
            self.location, "data", f"snap-{snap_hint}-{uuid.uuid4().hex[:8]}"
        )
        df.write.mode("error").parquet(data_dir)
        return sorted(
            os.path.join(data_dir, f)
            for f in os.listdir(data_dir)
            if f.endswith(".parquet")
        )

    def append(self, df: DataFrame, properties: dict | None = None) -> int:
        """Commit a new snapshot adding ``df``'s rows. Returns snapshot id."""
        hint = (_current_version(self.location) if has_snapshot_log(self.location) else 0) + 1
        files = self._write_data(df, hint)
        return self._commit("append", files, properties)

    def overwrite(self, df: DataFrame, properties: dict | None = None) -> int:
        """Commit a new snapshot replacing the table contents (old snapshots
        stay readable — nothing is deleted)."""
        hint = (_current_version(self.location) if has_snapshot_log(self.location) else 0) + 1
        files = self._write_data(df, hint)
        return self._commit("overwrite", files, properties)

    # ---------- read path ----------

    def snapshots(self) -> list[dict]:
        if not has_snapshot_log(self.location):
            return []
        return _load_version(self.location, _current_version(self.location))["snapshots"]

    def _resolve(self, snapshot_id: int | None, as_of_timestamp: int | None) -> dict:
        snaps = self.snapshots()
        if not snaps:
            raise FileNotFoundError(f"no snapshot log at {self.location}")
        if snapshot_id is not None and as_of_timestamp is not None:
            raise ValueError("pass snapshot_id OR as_of_timestamp, not both")
        if snapshot_id is not None:
            for s in snaps:
                if s["snapshot_id"] == snapshot_id:
                    return s
            raise ValueError(
                f"unknown snapshot_id {snapshot_id}; have "
                f"{[s['snapshot_id'] for s in snaps]}"
            )
        if as_of_timestamp is not None:
            eligible = [s for s in snaps if s["ts_ms"] <= as_of_timestamp]
            if not eligible:
                raise ValueError(
                    f"no snapshot at or before ts {as_of_timestamp}; earliest "
                    f"is {snaps[0]['ts_ms']}"
                )
            return eligible[-1]
        return snaps[-1]

    def _manifest(self, name: str) -> list[dict]:
        """A manifest's file rows, each path resolved against the table
        location.  Manifests store paths relative to the table; an entry
        written before that (an absolute path) resolves to itself."""
        with open(os.path.join(_metadata_dir(self.location), name)) as f:
            files = json.load(f)["files"]
        for e in files:
            e["path"] = os.path.join(self.location, e["path"])
        return files

    def _files(self, snap: dict) -> list[dict]:
        return [e for mname in snap["manifests"] for e in self._manifest(mname)]

    def read(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        as_of_timestamp: int | None = None,
        prune: dict[str, tuple] | None = None,
        merge_schema: bool = False,
    ) -> DataFrame:
        """Read a snapshot (latest by default), optionally pruning whole
        files by manifest min/max stats.

        ``prune`` maps column -> (lo, hi); a file is skipped iff its recorded
        range for that column is disjoint from [lo, hi].  Files without stats
        for the column are KEPT (conservative).  Pruning is a metadata-only
        optimization: apply the same predicate as a real filter downstream
        for exactness — this mirrors Iceberg, where manifest pruning narrows
        the scan and the engine still evaluates the residual predicate.
        """
        snap = self._resolve(snapshot_id, as_of_timestamp)
        files = self._files(snap)
        if prune:
            kept = []
            for f in files:
                keep = True
                for col, (lo, hi) in prune.items():
                    if col in f["min"] and col in f["max"]:
                        try:
                            if f["max"][col] < lo or f["min"][col] > hi:
                                keep = False
                                break
                        except TypeError:
                            # stats are JSON-serialized (date/timestamp/
                            # decimal land as strings); incomparable bounds
                            # keep the file — pruning stays conservative,
                            # never wrong or crashing
                            continue
                if keep:
                    kept.append(f)
            files = kept
        if not files:
            raise ValueError(
                "snapshot has no data files after pruning — relax the prune "
                "ranges (empty-result reads should filter, not prune)"
            )
        reader = spark.read
        if merge_schema:
            # schema evolution across commits (columns added over time):
            # union the per-file schemas, older files read NULL for new
            # columns — parquet's native additive-evolution semantics
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*[f["path"] for f in files])

    def file_stats(self, snapshot_id: int | None = None) -> list[dict]:
        """The manifest rows (path, rows, bytes, min, max) for a snapshot."""
        return self._files(self._resolve(snapshot_id, None))

    # ---------- maintenance ----------

    def expire_snapshots(self, keep_last: int, delete: bool = False) -> list[str]:
        """Drop all but the newest ``keep_last`` snapshots from the log
        (Iceberg's expire_snapshots): a new metadata version is committed
        whose snapshot list is the retained tail — readers pinned to a
        still-live version file are unaffected (their file lists are
        immutable); future reads of an expired snapshot_id fail loudly.

        Returns the data files referenced ONLY by expired snapshots (safe
        to free).  ``delete=True`` also removes them and their now-
        unreferenced manifests; default is listing-only, matching
        orphan_files' deletion-stays-explicit policy.
        """
        if keep_last < 1:
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        snaps = self.snapshots()
        if len(snaps) <= keep_last:
            return []
        retained, expired = snaps[-keep_last:], snaps[:-keep_last]
        keep_manifests = {m for s in retained for m in s["manifests"]}
        drop_manifests = {m for s in expired for m in s["manifests"]} - keep_manifests

        meta_dir = _metadata_dir(self.location)
        freed: list[str] = []
        for mname in sorted(drop_manifests):
            freed.extend(e["path"] for e in self._manifest(mname))

        n = _current_version(self.location) + 1
        meta = {"format_version": 2, "snapshots": retained,
                "current_snapshot_id": retained[-1]["snapshot_id"]}
        _commit_version(self.location, n, meta, "retry expire_snapshots")

        if delete:
            for p in freed:
                if os.path.exists(p):
                    os.remove(p)
            for mname in drop_manifests:
                mp = os.path.join(meta_dir, mname)
                if os.path.exists(mp):
                    os.remove(mp)
        return sorted(freed)

    def orphan_files(self) -> list[str]:
        """Data files referenced by NO manifest — the residue of commits
        that wrote data but lost the version race (or crashed before the
        commit).  The Iceberg maintenance concept (remove_orphan_files);
        listing only — deletion stays an explicit caller action.  O(files)
        driver-side metadata, same asymptotics as a manifest read."""
        meta_dir = _metadata_dir(self.location)
        referenced: set[str] = set()
        # only manifests REACHABLE from committed versions count — a losing
        # writer's manifest exists on disk but references only its orphans
        reachable: set[str] = set()
        if has_snapshot_log(self.location):
            for v in range(1, _current_version(self.location) + 1):
                if os.path.exists(_version_path(self.location, v)):
                    for s in _load_version(self.location, v)["snapshots"]:
                        reachable.update(s["manifests"])
        for name in reachable:
            if not os.path.exists(os.path.join(meta_dir, name)):
                continue  # manifest removed by expire_snapshots(delete=True)
            referenced.update(os.path.abspath(e["path"]) for e in self._manifest(name))
        data_dir = os.path.join(self.location, "data")
        orphans = []
        for root, _dirs, names in os.walk(data_dir):
            for name in names:
                p = os.path.join(root, name)
                if name.endswith(".parquet") and os.path.abspath(p) not in referenced:
                    orphans.append(p)
        return sorted(orphans)
