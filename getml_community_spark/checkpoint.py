"""Snapshot tables + per-partition lineage + resumable jobs.

This is the engine's analogue of the reference's fingerprint-based
result cache (dependency/DataFrameTracker.hpp:24-61 — staged/feature
frames keyed by build-history fingerprints and reused when inputs are
unchanged), upgraded to durable, partition-grained checkpointing.

On a real cluster this layer is Iceberg: appends are snapshot commits,
retention is ``DELETE WHERE`` (metadata-only on partition boundaries),
resume reads the snapshot log. The sandbox has no Iceberg jar, so
:class:`SnapshotTable` implements the same contract on parquet +
atomic-rename JSON manifests: every append is a new immutable snapshot
listing the live data directories; readers see a consistent snapshot;
partition deletes are metadata-only (a new manifest that drops entries);
nothing is ever mutated in place. The ``entries`` of a manifest are
(path, partition-values) pairs — i.e. Iceberg's manifest-file model.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

__all__ = ["SnapshotTable", "LineageLog", "JobState"]


def _nullable(t):
    """``t`` with every field, element and value nullable: the schema a
    Spark parquet write stores (and schema inference reads back)."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(t, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in t]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def _atomic_write_json(path: str, obj) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, default=str)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)  # atomic on POSIX


@dataclass
class Snapshot:
    snapshot_id: str
    parent: str | None
    entries: list[dict]  # [{"path": ..., "partition": {...}}]
    committed_at: float = field(default_factory=time.time)
    # snapshot-level metadata, carried forward commit-to-commit; used by
    # streaming ingestion to make the manifest commit itself the
    # exactly-once batch registry: {"stream_batches": {key: last_id}}
    meta: dict = field(default_factory=dict)
    # Iceberg snapshot "operation" summary: append | delete | replace.
    # changes() uses it to refuse (or skip) non-append snapshots the way
    # Iceberg's incremental append scan does.
    operation: str = "append"


class SnapshotTable:
    """Append-only snapshot-versioned parquet table.

    Layout::

        root/
          data/<append-uuid>/...parquet   (one dir per append, immutable)
          snapshots/<id>.json             (manifest: live entries)
          HEAD                            (current snapshot id, atomic)
    """

    def __init__(self, root: str, partition_by: list[str] | None = None):
        self.root = root
        self.partition_by = partition_by or []
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        os.makedirs(os.path.join(root, "snapshots"), exist_ok=True)

    # ---- snapshot log ------------------------------------------------ #
    def current_snapshot_id(self) -> str | None:
        head = os.path.join(self.root, "HEAD")
        if not os.path.exists(head):
            return None
        with open(head) as f:
            return f.read().strip() or None

    def _load(self, snapshot_id: str) -> Snapshot:
        with open(os.path.join(self.root, "snapshots", f"{snapshot_id}.json")) as f:
            d = json.load(f)
        return Snapshot(
            d["snapshot_id"],
            d.get("parent"),
            d["entries"],
            d["committed_at"],
            d.get("meta", {}),
            # pre-round-5 manifests lack the field; every commit path
            # then was append or delete, and delete adds no entries, so
            # "append" is the safe default for changes()
            d.get("operation", "append"),
        )

    def current(self) -> Snapshot | None:
        sid = self.current_snapshot_id()
        return self._load(sid) if sid else None

    def _commit(
        self,
        entries: list[dict],
        meta: dict | None = None,
        operation: str = "append",
    ) -> str:
        sid = uuid.uuid4().hex[:16]
        if meta is None:
            cur = self.current()
            meta = dict(cur.meta) if cur else {}
        snap = Snapshot(
            sid,
            self.current_snapshot_id(),
            entries,
            meta=meta,
            operation=operation,
        )
        _atomic_write_json(
            os.path.join(self.root, "snapshots", f"{sid}.json"), snap.__dict__
        )
        _atomic_write_json(os.path.join(self.root, "HEAD.json"), {"id": sid})
        # HEAD as plain text via atomic rename
        tmp = os.path.join(self.root, f".HEAD.{sid}")
        with open(tmp, "w") as f:
            f.write(sid)
        os.replace(tmp, os.path.join(self.root, "HEAD"))
        return sid

    # ---- writes ------------------------------------------------------ #
    def _writer_lock(self):
        """Exclusive lock serializing manifest read-modify-write
        sections (append / delete_partitions / compact_partitions):
        without it, two concurrent writers both read the same parent
        entry list and the second commit silently drops the first's
        entries (round-5 review). flock covers every process on ONE
        host — the sandbox's reality; on a real cluster this layer is
        Iceberg, whose catalog provides the atomic compare-and-swap."""
        import fcntl
        from contextlib import contextmanager

        @contextmanager
        def lock():
            with open(os.path.join(self.root, ".lock"), "w") as f:
                fcntl.flock(f, fcntl.LOCK_EX)
                try:
                    yield
                finally:
                    fcntl.flock(f, fcntl.LOCK_UN)

        return lock()

    def append(
        self,
        df: DataFrame,
        stream_key: str | None = None,
        batch_id: int | None = None,
    ) -> str:
        """Write df as a new immutable append; commit a snapshot whose
        entries = parent entries + the new partition dirs.

        ``stream_key``/``batch_id`` give EXACTLY-ONCE semantics for
        streaming sinks: the manifest commit atomically records the
        highest committed batch id per key, so a foreachBatch replay
        after a crash (Structured Streaming is at-least-once into
        arbitrary sinks) finds ``batch_id <= last`` and becomes a no-op
        — the registry update and the data commit are the SAME atomic
        manifest write, closing the classic write-then-record gap. A
        replay that raced a crash between data write and commit leaves
        only an orphaned data dir (reclaimed by expire_snapshots)."""
        if stream_key is not None:
            cur0 = self.current()
            if (
                cur0
                and cur0.meta.get("stream_batches", {}).get(stream_key, -1)
                >= batch_id
            ):
                return cur0.snapshot_id  # replayed batch, already committed
        dir_id = uuid.uuid4().hex[:16]
        path = os.path.join(self.root, "data", dir_id)
        writer = df.write.mode("error")
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.parquet(path)
        # the written data schema, so read() plans the entry without a
        # schema-inference job
        schema = self._data_schema(df)
        new_entries = []
        if self.partition_by:
            # capture partition column types so read() can restore them
            # (directory names are strings; round-1 ADVICE)
            types = {
                f.name: f.dataType.simpleString()
                for f in df.schema.fields
                if f.name in self.partition_by
            }
            for sub in self._partition_dirs(path):
                new_entries.append(
                    {
                        "path": sub,
                        "partition": self._parse_partition(sub, path),
                        "types": types,
                        "schema": schema,
                    }
                )
        else:
            new_entries.append({"path": path, "partition": {}, "schema": schema})
        with self._writer_lock():
            cur = self.current()
            meta = None
            if stream_key is not None:
                meta = dict(cur.meta) if cur else {}
                sb = dict(meta.get("stream_batches", {}))
                if sb.get(stream_key, -1) >= batch_id:
                    return cur.snapshot_id  # lost the race to a replay
                sb[stream_key] = int(batch_id)
                meta["stream_batches"] = sb
            entries = (cur.entries if cur else []) + new_entries
            return self._commit(entries, meta)

    def _data_schema(self, df: DataFrame) -> dict:
        """JSON form of the schema ``df``'s parquet files hold: its
        columns minus the partition columns, all nullable."""
        from pyspark.sql.types import StructType

        data = StructType([f for f in df.schema if f.name not in self.partition_by])
        return _nullable(data).jsonValue()

    def _partition_dirs(self, base: str) -> list[str]:
        """Leaf partition directories under an append dir."""
        out = []

        def walk(d: str, depth: int):
            if depth == len(self.partition_by):
                out.append(d)
                return
            for name in sorted(os.listdir(d)):
                sub = os.path.join(d, name)
                if os.path.isdir(sub) and "=" in name:
                    walk(sub, depth + 1)

        walk(base, 0)
        return out

    @staticmethod
    def _parse_partition(leaf: str, base: str) -> dict:
        """Parse Hive-style partition dirs, undoing Spark's path encoding:
        %xx escapes are unquoted and __HIVE_DEFAULT_PARTITION__ maps back
        to NULL (round-1 ADVICE: values with spaces/'='/non-ASCII or
        NULLs round-tripped incorrectly as raw directory strings)."""
        from urllib.parse import unquote

        rel = os.path.relpath(leaf, base)
        vals = {}
        for part in rel.split(os.sep):
            if "=" in part:
                k, v = part.split("=", 1)
                vals[k] = (
                    None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
                )
        return vals

    def delete_partitions(self, predicate) -> str:
        """Metadata-only partition expiry (Iceberg ``DELETE WHERE`` on
        partition boundaries): commit a manifest without the matching
        entries. ``predicate`` takes the partition dict → bool."""
        with self._writer_lock():
            cur = self.current()
            entries = [
                e
                for e in (cur.entries if cur else [])
                if not predicate(e["partition"])
            ]
            return self._commit(entries, operation="delete")

    # ---- maintenance --------------------------------------------------- #
    def compact_partitions(
        self, spark: SparkSession, predicate=None, min_files: int = 2
    ) -> dict:
        """Iceberg ``rewrite_data_files`` (binpack): rewrite every
        partition that is fragmented — more than one manifest entry, or
        at least ``min_files`` parquet files — into ONE file, and commit
        a snapshot swapping the old entries for the new ones.

        Fragmentation is what a resumable, late-data-repairing job
        produces by design (each shuffle task writes its own file per
        day; re-rolls append fresh dirs), and at 10^12 rows small files
        dominate scan setup cost. The rewrite is ONE Spark job for all
        selected partitions: ``repartition(partition cols)`` coalesces
        each partition's rows into a single task, dynamic ``partitionBy``
        splits the dirs back out — no per-partition driver loop. Readers
        are never disturbed: data lands in a fresh append dir first, the
        manifest swap is the last (atomic) step, and prior snapshots
        still reference the old files until ``expire_snapshots``.
        ``predicate`` (partition dict → bool) restricts the candidate
        set. Returns {partitions, files_before, files_after, snapshot}.
        """
        cur = self.current()
        report = {"partitions": 0, "files_before": 0, "files_after": 0, "snapshot": None}
        if cur is None or not cur.entries:
            return report

        def _nfiles(path: str) -> int:
            return sum(
                1
                for _, _, fs in os.walk(path)
                for f in fs
                if f.endswith(".parquet")
            )

        groups: dict[tuple, list[dict]] = {}
        for e in cur.entries:
            groups.setdefault(tuple(sorted(e["partition"].items())), []).append(e)
        selected = {
            k: es
            for k, es in groups.items()
            if (predicate is None or predicate(dict(k)))
            and (len(es) > 1 or sum(_nfiles(e["path"]) for e in es) >= min_files)
        }
        if not selected:
            return report

        from functools import reduce

        from pyspark.sql import functions as F

        olds = [e for es in selected.values() for e in es]
        types = next((e["types"] for e in olds if e.get("types")), {})
        df = reduce(
            lambda a, b: a.unionByName(b), [self._entry_df(spark, e) for e in olds]
        )
        schema = self._data_schema(df)

        dir_id = uuid.uuid4().hex[:16]
        path = os.path.join(self.root, "data", dir_id)
        if self.partition_by:
            (
                df.repartition(*[F.col(c) for c in self.partition_by])
                .write.mode("error")
                .partitionBy(*self.partition_by)
                .parquet(path)
            )
            new_entries = [
                {
                    "path": sub,
                    "partition": self._parse_partition(sub, path),
                    "types": types,
                    "schema": schema,
                }
                for sub in self._partition_dirs(path)
            ]
        else:
            df.coalesce(1).write.mode("error").parquet(path)
            new_entries = [{"path": path, "partition": {}, "schema": schema}]

        # Commit under the writer lock, re-reading the CURRENT manifest:
        # the expensive rewrite above ran lock-free, so appends/deletes
        # may have landed since `cur`. Per partition: swap in the
        # rewrite only if every old path is still live (else the
        # partition changed under us — keep the live state, the orphaned
        # rewrite dir is reclaimed by expire_snapshots).
        new_by_part = {
            tuple(sorted(e["partition"].items())): e for e in new_entries
        }
        with self._writer_lock():
            fresh = self.current()
            fresh_entries = list(fresh.entries if fresh else [])
            live_paths = {e["path"] for e in fresh_entries}
            committed, kept_new = [], []
            for key, es in selected.items():
                if all(e["path"] in live_paths for e in es) and key in new_by_part:
                    committed.append(key)
                    kept_new.append(new_by_part[key])
            drop = {
                e["path"] for key in committed for e in selected[key]
            }
            entries = [
                e for e in fresh_entries if e["path"] not in drop
            ] + kept_new
            sid = self._commit(entries, operation="replace")
        report.update(
            partitions=len(committed),
            files_before=sum(
                _nfiles(e["path"])
                for key in committed
                for e in selected[key]
            ),
            files_after=sum(_nfiles(e["path"]) for e in kept_new),
            snapshot=sid,
        )
        return report

    def expire_snapshots(
        self, keep_last: int = 10, remove_orphan_data: bool = False
    ) -> dict:
        """Iceberg-style maintenance: drop all but the newest
        ``keep_last`` snapshot manifests (time travel to expired ids
        stops working; the current snapshot is always kept), and
        optionally delete data directories no kept snapshot references
        (remove_orphan_files). Crash-safe: HEAD and kept manifests are
        never touched; a crash mid-delete leaves extra files, never
        missing ones."""
        import shutil

        snap_dir = os.path.join(self.root, "snapshots")
        snaps = []
        for f in os.listdir(snap_dir):
            if f.endswith(".json"):
                with open(os.path.join(snap_dir, f)) as fh:
                    d = json.load(fh)
                snaps.append((d["committed_at"], d["snapshot_id"]))
        snaps.sort(reverse=True)
        keep = {sid for _, sid in snaps[:keep_last]}
        cur = self.current_snapshot_id()
        if cur:
            keep.add(cur)
        expired = [sid for _, sid in snaps if sid not in keep]
        for sid in expired:
            os.remove(os.path.join(snap_dir, f"{sid}.json"))
        removed_dirs = 0
        if remove_orphan_data:
            referenced = set()
            for sid in keep:
                for e in self._load(sid).entries:
                    # entries point at leaf partition dirs inside an
                    # append dir — keep the whole append dir
                    rel = os.path.relpath(e["path"], os.path.join(self.root, "data"))
                    referenced.add(rel.split(os.sep)[0])
            data_dir = os.path.join(self.root, "data")
            for d in os.listdir(data_dir):
                if d not in referenced:
                    shutil.rmtree(os.path.join(data_dir, d))
                    removed_dirs += 1
        return {"expired_snapshots": len(expired), "removed_data_dirs": removed_dirs}

    # ---- reads -------------------------------------------------------- #
    def read(
        self,
        spark: SparkSession,
        snapshot_id: str | None = None,
        partition_filter=None,
    ) -> DataFrame:
        """Read a snapshot; ``partition_filter`` (partition dict → bool)
        drops manifest entries BEFORE any DataFrame is built — Iceberg's
        manifest-level partition pruning: excluded partitions never
        appear in the plan, so a day-range query over a year-long table
        plans scans for only the requested days."""
        snap = self._load(snapshot_id) if snapshot_id else self.current()
        if snap is None or not snap.entries:
            raise FileNotFoundError(f"no snapshot/data in {self.root}")
        entries = snap.entries
        if partition_filter is not None:
            entries = [e for e in entries if partition_filter(e["partition"])]
        return self._entries_to_df(spark, entries, snap.entries[0])

    @staticmethod
    def _entry_df(spark: SparkSession, e: dict):
        """One manifest entry → DataFrame with its partition columns
        restored as typed literals. An entry with a recorded ``schema``
        is read with it (no schema-inference job); entries written
        before schemas were recorded fall back to inference."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        reader = spark.read
        if "schema" in e:
            reader = reader.schema(StructType.fromJson(e["schema"]))
        d = reader.parquet(e["path"])
        types = e.get("types", {})
        for k, v in e["partition"].items():
            col = F.lit(v)
            if k in types:
                col = col.cast(types[k])
            d = d.withColumn(k, col)
        return d

    def _entries_to_df(
        self, spark: SparkSession, entries: list[dict], fallback_entry: dict
    ) -> DataFrame:
        """Union a manifest entry list; an empty list yields an
        empty-but-typed frame from ``fallback_entry``'s schema. The ONE
        assembly path for read() and changes() — a typing/evolution fix
        here fixes both."""
        from functools import reduce

        from pyspark.sql import functions as F

        if not entries:
            return self._entry_df(spark, fallback_entry).where(F.lit(False))
        # allowMissingColumns: additive schema evolution (e.g. the
        # Gorilla chunk-index columns added to an existing segments
        # store) — entries written before the new columns read back with
        # NULLs, like Iceberg schema evolution; consumers must treat
        # NULL metadata as "unknown" (query_segments keeps such rows)
        return reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True),
            [self._entry_df(spark, e) for e in entries],
        )

    def partitions(self, snapshot_id: str | None = None) -> list[dict]:
        snap = self._load(snapshot_id) if snapshot_id else self.current()
        return [e["partition"] for e in (snap.entries if snap else [])]

    def changes(
        self,
        spark: SparkSession,
        from_snapshot_id: str,
        to_snapshot_id: str | None = None,
        on_replace: str = "error",
        on_delete: str = "skip",
    ) -> DataFrame:
        """Incremental append scan (Iceberg ``incremental read``): the
        rows ADDED strictly after ``from_snapshot_id`` up to and
        including ``to_snapshot_id`` (default HEAD).

        Walks the snapshot parent chain and unions only the entries each
        append commit introduced over its parent, so an incremental
        consumer (e.g. a downstream rollup catching up on a streaming
        ingest table) reads new data dirs only — never a rescan of the
        table. ``delete`` snapshots (retention) add nothing and are
        skipped. ``replace`` snapshots (compaction) rewrite EXISTING
        rows; like Iceberg's incremental scan this raises on them by
        default (``on_replace="error"``) because the appended-rows
        delta is no longer representable from the manifest alone;
        ``on_replace="skip"`` ignores them (correct whenever compaction
        only ever rewrites data already consumed). ``delete`` snapshots
        similarly REMOVE rows the consumer may have already integrated:
        ``on_delete="skip"`` (default — append-only consumers reading
        forward) ignores them; ``on_delete="error"`` raises so a
        reconcile that reuses recorded per-day state can fall back to a
        full scan (a retention delete on any day it only partially
        covers would otherwise leave that day's recorded fingerprint
        stale and the drift undetected — r5 ADVICE). Raises if
        ``from_snapshot_id`` is not an ancestor of the target (e.g.
        expired) — resume from a full read instead.
        """
        target = to_snapshot_id or self.current_snapshot_id()
        if target is None:
            raise FileNotFoundError(f"no snapshot in {self.root}")
        chain = []  # newest→oldest, excluding from_snapshot_id
        sid = target
        while sid is not None and sid != from_snapshot_id:
            snap = self._load(sid)
            chain.append(snap)
            sid = snap.parent
        if sid != from_snapshot_id:
            raise ValueError(
                f"{from_snapshot_id} is not an ancestor of {target} "
                "(expired or from another table) — do a full read()"
            )
        parent_paths = {e["path"] for e in self._load(from_snapshot_id).entries}
        new_entries = []
        for snap in reversed(chain):  # oldest→newest, commit order
            added = [e for e in snap.entries if e["path"] not in parent_paths]
            if snap.operation == "replace" and added:
                if on_replace == "error":
                    raise ValueError(
                        f"snapshot {snap.snapshot_id} is a compaction "
                        "(replace) — its entries rewrite existing rows; "
                        "pass on_replace='skip' if those rows were "
                        "already consumed, or full-read()"
                    )
            elif snap.operation == "delete":
                if on_delete == "error":
                    raise ValueError(
                        f"snapshot {snap.snapshot_id} is a delete "
                        "(retention) — rows the consumer may already "
                        "hold were removed; pass on_delete='skip' for "
                        "append-only reading, or full-read()"
                    )
            else:
                new_entries.extend(added)
            parent_paths = {e["path"] for e in snap.entries}
        base = chain[0] if chain else self._load(target)
        ref = base.entries or self._load(from_snapshot_id).entries
        if not new_entries and not ref:
            raise FileNotFoundError(f"no data in {self.root}")
        fallback = ref[0] if ref else new_entries[0]
        return self._entries_to_df(spark, new_entries, fallback)


class LineageLog:
    """Per-partition lineage rows (north rule: partition id, snapshot id,
    rows in/out, bytes compressed + metrics). Stored as a parquet log —
    append-only, queryable with Spark or pandas."""

    COLUMNS = [
        "job_id",
        "spec_hash",
        "tier",
        "partition_id",
        "snapshot_id",
        "rows_in",
        "rows_out",
        "bytes_compressed",
        "wall_seconds",
        "committed_at",
    ]

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def append(self, rows: list[dict]) -> None:
        import pandas as pd

        if not rows:
            return
        pdf = pd.DataFrame(rows, columns=self.COLUMNS)
        pdf.to_parquet(os.path.join(self.root, f"{uuid.uuid4().hex}.parquet"))

    def read_pandas(self):
        import glob

        import pandas as pd

        files = sorted(glob.glob(os.path.join(self.root, "*.parquet")))
        if not files:
            return pd.DataFrame(columns=self.COLUMNS)
        return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


class JobState:
    """Which (tier, partition_id) units a job has completed, keyed by
    (spec_hash, input snapshot). Resume = skip completed units."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        # mark() rewrites one shared file; RollupJob marks from one
        # thread per tier family
        self._lock = threading.Lock()

    def _path(self, spec_hash: str, input_snapshot: str) -> str:
        return os.path.join(self.root, f"state-{spec_hash}-{input_snapshot}.json")

    def completed(self, spec_hash: str, input_snapshot: str) -> set[tuple[str, str]]:
        p = self._path(spec_hash, input_snapshot)
        if not os.path.exists(p):
            return set()
        with open(p) as f:
            return {tuple(x) for x in json.load(f)["done"]}

    def mark(
        self, spec_hash: str, input_snapshot: str, units: list[tuple[str, str]]
    ) -> None:
        with self._lock:
            done = self.completed(spec_hash, input_snapshot)
            done.update(units)
            _atomic_write_json(
                self._path(spec_hash, input_snapshot), {"done": sorted(done)}
            )

    # ---- per-day input fingerprints (late-data detection) ---------- #
    def _input_path(self, spec_hash: str) -> str:
        return os.path.join(self.root, f"input-{spec_hash}.json")

    def last_input(self, spec_hash: str) -> dict | None:
        """Last recorded input state for this spec:
        {"snapshot": str, "fps": {day: [rows, hashsum]}}."""
        p = self._input_path(spec_hash)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def record_input(self, spec_hash: str, snapshot: str, fps: dict) -> None:
        _atomic_write_json(
            self._input_path(spec_hash), {"snapshot": snapshot, "fps": fps}
        )
