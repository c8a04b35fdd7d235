"""Catalog — list / load / head event tables under a warehouse root.

The reference ships a read-only Iceberg REST catalog (api/catalog.rs:193-431:
``GET /catalog/v1/namespaces``, ``.../tables``, ``.../tables/{name}`` and a
HEAD existence probe) backed by a registration store the ingest path writes
through (storage/catalog.rs:166-216). This is the same surface as a library:
the registry is a JSON file under the warehouse root — persistent, so a new
SparkSession (or a different process) sees every registered table — and the
read endpoints map to :meth:`list_tables` / :meth:`load` / :meth:`head`.

Scale notes: every operation here is O(registry) driver-side metadata —
``head`` reads one table-metadata file plus one snapshot JSON; nothing
touches data files. The registry file is rewritten atomically (tmp +
rename), and re-registration is idempotent, matching the reference's
upsert semantics (storage/catalog.rs:188-199).
"""

from __future__ import annotations

import contextlib
import json
import os
import uuid

from pyspark.sql import SparkSession

from zombi_spark.ingest.batch import validate_table_name
from zombi_spark.table.event_table import EventTable

_CATALOG_FILE = "_zombi_catalog.json"
_NAMESPACE = "zombi"  # the reference exposes a single flat namespace


class TableNotFoundError(KeyError):
    """Unknown table name (the 404 of api/catalog.rs:320-333)."""


class Catalog:
    """A warehouse-rooted table registry."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._registry_path = os.path.join(root, _CATALOG_FILE)

    # ------------------------------------------------------------ registry
    @contextlib.contextmanager
    def _registry_lock(self):
        """Exclusive advisory lock for read-modify-write cycles. tmp +
        rename alone only prevents TORN files — two concurrent
        register() calls would each rewrite the registry from their own
        snapshot and the last rename would silently drop the other's
        entry (the server above this is a ThreadingHTTPServer, and the
        ingest write-through can race a drop). flock serializes writers
        across threads AND processes sharing the warehouse root."""
        os.makedirs(self.root, exist_ok=True)
        lock_path = os.path.join(self.root, f".{_CATALOG_FILE}.lock")
        fd = os.open(lock_path, os.O_CREAT | os.O_RDWR)
        try:
            try:
                import fcntl

                fcntl.flock(fd, fcntl.LOCK_EX)
            except ImportError:  # non-POSIX: best-effort, single-process
                pass
            yield
        finally:
            os.close(fd)  # releases the flock

    def _read_registry(self) -> dict[str, dict]:
        if not os.path.isfile(self._registry_path):
            return {}
        with open(self._registry_path) as fh:
            return json.load(fh)

    def _write_registry(self, reg: dict[str, dict]) -> None:
        os.makedirs(self.root, exist_ok=True)
        tmp = os.path.join(self.root, f".{_CATALOG_FILE}.{uuid.uuid4().hex[:8]}.tmp")
        with open(tmp, "w") as fh:
            json.dump(reg, fh, indent=1, sort_keys=True)
        os.replace(tmp, self._registry_path)  # atomic upsert commit

    def register(self, name: str, path: str | None = None) -> dict:
        """Idempotent registration (storage/catalog.rs:188-199 upsert).
        ``path`` defaults to ``{root}/{name}``; registration persists on
        disk and survives session restarts."""
        validate_table_name(name)
        with self._registry_lock():
            reg = self._read_registry()
            entry = {"name": name, "path": path or os.path.join(self.root, name)}
            reg[name] = entry
            self._write_registry(reg)
        return entry

    def create_table(self, name: str) -> EventTable:
        """Create-and-register (the ingest path's write-through,
        storage/catalog.rs:166-186)."""
        self.register(name)
        return self.load(name)

    def drop(self, name: str) -> None:
        """Unregister; data files are untouched (the reference's catalog is
        a registry, not the store of record)."""
        with self._registry_lock():
            reg = self._read_registry()
            if name not in reg:
                raise TableNotFoundError(name)
            del reg[name]
            self._write_registry(reg)

    # ---------------------------------------------------------- discovery
    def discover(self) -> list[str]:
        """Adopt unregistered tables already present under the root (a
        directory with a ``_zombi_meta`` log) — recovery after a lost
        registry, mirroring the reference's startup reconciliation."""
        reg = self._read_registry()
        adopted = []
        if os.path.isdir(self.root):
            for d in sorted(os.listdir(self.root)):
                full = os.path.join(self.root, d)
                if (
                    d not in reg
                    and os.path.isdir(os.path.join(full, "_zombi_meta"))
                ):
                    try:
                        self.register(d, full)
                    except ValueError:
                        # an operator-made dir ('2024-backup', 'old.events')
                        # that fails name validation must not abort the
                        # whole recovery — skip it, adopt the rest
                        continue
                    adopted.append(d)
        return adopted

    # --------------------------------------------------------- read surface
    def list_tables(self) -> list[str]:
        """``GET /catalog/v1/namespaces/{ns}/tables`` (api/catalog.rs:264-289)."""
        return sorted(self._read_registry())

    def namespaces(self) -> list[str]:
        """``GET /catalog/v1/namespaces`` (api/catalog.rs:238-257)."""
        return [_NAMESPACE]

    def exists(self, name: str) -> bool:
        """The HEAD existence probe (api/catalog.rs:414-431)."""
        return name in self._read_registry()

    def load(self, name: str) -> EventTable:
        """``GET .../tables/{name}`` → a live table handle."""
        reg = self._read_registry()
        if name not in reg:
            raise TableNotFoundError(name)
        path = reg[name]["path"]
        return EventTable(self.spark, os.path.dirname(path), os.path.basename(path))

    def head(self, name: str) -> dict:
        """Table info without touching data: schema / partition spec
        derived from the latest snapshot, plus its version, watermarks,
        and file/row counts (the LoadTableResult shape,
        api/catalog.rs:293-333)."""
        t = self.load(name)
        meta = t.table_metadata() or {}
        snap = t.latest_snapshot()
        files = t.scan_files() if snap else []
        return {
            "name": name,
            "path": t.path,
            "schema": meta.get("schema"),
            "partition_spec": meta.get("partition_spec"),
            "sort_order": meta.get("sort_order"),
            "current_version": None if snap is None else snap["version"],
            "current_snapshot_id": None if snap is None else snap["snapshot_id"],
            "watermarks": {} if snap is None else snap.get("watermarks", {}),
            "file_count": len(files),
            "total_bytes": sum(e.get("file_size_bytes", 0) for e in files),
            "total_rows": sum(e.get("row_count", 0) for e in files),
        }

    def register_views(self) -> list[str]:
        """Expose every table to spark.sql (the engine-facing S13 surface)."""
        return [self.load(n).create_view() for n in self.list_tables()]
