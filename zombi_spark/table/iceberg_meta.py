"""Iceberg-v2 table metadata (``metadata/v{N}.metadata.json``) for EventTable.

The reference's whole cold-tier contract is "any engine reads the table"
(SPEC.md:343-352): iceberg_storage.rs:1000-1161 writes real
``v{N}.metadata.json`` plus Avro manifest lists + manifests. Both halves
are real here:

  - every commit writes a spec-compliant Iceberg v2
    ``v{N}.metadata.json`` (schemas with stable field-ids, identity
    partition-spec on (event_date, event_hour), sort order
    (timestamp_ms, sequence), full snapshot list + snapshot-log +
    metadata-log) and a ``version-hint.text``, exactly the files a
    filesystem (Hadoop-style) catalog resolves;
  - each snapshot's ``manifest-list`` points at a real Avro manifest
    list whose manifests carry the v2 ``manifest_entry`` records
    (status, data_file with partition struct, record counts, and
    little-endian single-value bounds keyed by field id) — written by
    the in-repo Avro codec (table/avro_io.py; the container ships no
    Avro library) and validated by round-trip decoding in tests,
    including the reference's committed-watermark recovery
    (iceberg_storage.rs:447-515) re-run over our bytes.

Cost per commit is O(metadata size + this commit's files) — an append
writes ONE new manifest and carries the previous list forward
(iceberg_storage.rs:1087-1110's carry-forward), while a commit that
removes files (compaction) rewrites one full manifest of the survivors
and resets the list. At 100 TB this tracks snapshot *count*, not data
size, and :meth:`EventTable.expire_snapshots` keeps that bounded.
"""

from __future__ import annotations

import json
import os
import time
import uuid

def snapshot_id_long(snapshot_hex: str) -> int:
    """Map our uuid-hex snapshot id onto Iceberg's required long id
    (60 bits of the hex — deterministic, positive, collision-safe at any
    realistic snapshot count)."""
    return int(snapshot_hex[:15], 16)


def metadata_dir(table_path: str) -> str:
    return os.path.join(table_path, "metadata")


def current_metadata(table_path: str) -> dict | None:
    """Load the current metadata via version-hint.text (the filesystem
    catalog's resolution rule)."""
    mdir = metadata_dir(table_path)
    hint = os.path.join(mdir, "version-hint.text")
    if not os.path.isfile(hint):
        return None
    with open(hint) as fh:
        v = int(fh.read().strip())
    with open(os.path.join(mdir, f"v{v}.metadata.json")) as fh:
        return json.load(fh)


_SPARK_TO_ICEBERG = {
    "long": "long",
    "bigint": "long",
    "int": "int",
    "integer": "int",
    "string": "string",
    "binary": "binary",
    "date": "date",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
}


def fields_for_spark_schema(spark_schema) -> list[dict]:
    """Iceberg field dicts for a Spark StructType in declaration order
    (ids assigned 1..n here; evolution keeps existing ids — see
    :func:`_use_schema`)."""
    out = []
    for i, f in enumerate(spark_schema.fields):
        out.append(
            {
                "id": i + 1,
                "name": f.name,
                "required": not f.nullable,
                "type": _SPARK_TO_ICEBERG[f.dataType.simpleString()],
            }
        )
    return out


def _snapshot_schema(snap: dict):
    """The Spark schema a committed snapshot records: its extracted-field
    list (``extracted_fields``; absent on plain tables) over the system
    columns."""
    from zombi_spark.ingest.extraction import table_schema_for_fields

    return table_schema_for_fields(snap.get("extracted_fields", []))


def _use_schema(meta: dict, spark_schema) -> None:
    """Point ``current-schema-id`` at the schema entry whose columns
    (name → Iceberg type) are ``spark_schema``'s. When no entry matches,
    evolve Iceberg-style from the current entry and append the result:
    column-add plus the one promotion the table layer allows (int ->
    long, Iceberg spec "int to long"). Existing columns keep their field
    ids (promotions too, per spec), new ones get fresh ids past
    last-column-id. (Other type changes are rejected upstream; drops
    don't occur.)"""
    want = [
        (f.name, not f.nullable, _SPARK_TO_ICEBERG[f.dataType.simpleString()])
        for f in spark_schema.fields
    ]
    cols = {n: t for n, _r, t in want}
    for entry in meta["schemas"]:
        if {f["name"]: f["type"] for f in entry["fields"]} == cols:
            meta["current-schema-id"] = entry["schema-id"]
            return
    current = meta["schemas"][meta["current-schema-id"]]
    by_name = {f["name"]: f for f in current["fields"]}
    next_id = meta["last-column-id"]
    fields = []
    for name, required, typ in want:
        if name in by_name:
            fields.append({**by_name[name], "type": typ})  # same id, maybe wider
        else:
            next_id += 1
            fields.append({"id": next_id, "name": name, "required": required, "type": typ})
    new_schema = {
        "schema-id": len(meta["schemas"]),
        "type": "struct",
        "fields": fields,
    }
    meta["schemas"].append(new_schema)
    meta["current-schema-id"] = new_schema["schema-id"]
    meta["last-column-id"] = max(next_id, meta["last-column-id"])


def _fresh_metadata(table_path: str, table_name: str, spark_schema) -> dict:
    fields = fields_for_spark_schema(spark_schema)
    fid = {f["name"]: f["id"] for f in fields}
    # partition spec / sort order reference field ids of THIS schema —
    # for extraction tables the ids shift (payload is dropped), so derive
    # rather than hardcode
    spec = {
        "spec-id": 0,
        "fields": [
            {"name": "event_date", "transform": "identity", "source-id": fid["event_date"], "field-id": 1000},
            {"name": "event_hour", "transform": "identity", "source-id": fid["event_hour"], "field-id": 1001},
        ],
    }
    order = {
        "order-id": 1,
        "fields": [
            {"transform": "identity", "source-id": fid["timestamp_ms"], "direction": "asc", "null-order": "nulls-first"},
            {"transform": "identity", "source-id": fid["sequence"], "direction": "asc", "null-order": "nulls-first"},
        ],
    }
    return {
        "format-version": 2,
        "table-uuid": str(uuid.uuid4()),
        "location": os.path.abspath(table_path),
        "last-sequence-number": 0,
        "last-updated-ms": 0,
        "last-column-id": max(f["id"] for f in fields),
        "schemas": [{"schema-id": 0, "type": "struct", "fields": fields}],
        "current-schema-id": 0,
        "partition-specs": [spec],
        "default-spec-id": 0,
        "last-partition-id": max(f["field-id"] for f in spec["fields"]),
        "sort-orders": [order],
        "default-sort-order-id": 1,
        "properties": {
            "zombi.table-name": table_name,
            "write.parquet.compression-codec": "zstd",
        },
        "current-snapshot-id": -1,
        "snapshots": [],
        "snapshot-log": [],
        "metadata-log": [],
    }


def _current_hint(mdir: str) -> int:
    hint_path = os.path.join(mdir, "version-hint.text")
    if not os.path.isfile(hint_path):
        return 0
    with open(hint_path) as fh:
        return int(fh.read().strip())


def _write_next_metadata(mdir: str, meta: dict, backend=None) -> str:
    """Write ``meta`` as ``v{hint+1}.metadata.json`` and advance the
    hint. Metadata files are immutable, so numbering is monotonic in the
    HINT — never derived from snapshot versions, which would collide
    with the extra metadata versions the rewrite paths (expire,
    rewrite_manifests) mint and overwrite committed files in place."""
    tmp = os.path.join(mdir, f".metadata.{uuid.uuid4().hex[:8]}.tmp")
    from zombi_spark.table import fastjson

    fastjson.dump_to(tmp, meta)
    # EXCLUSIVE version claim: two concurrent writers both reading hint N
    # would otherwise both os.replace v{N+1} and the loser's metadata
    # version silently vanishes — os.link fails with EEXIST instead, and
    # the loser bumps to the next free number (same optimistic-claim
    # pattern as the snapshot log's version files)
    from zombi_spark.table.commit_backend import (
        get_backend,
        publish_exclusive_retryable,
    )

    if backend is None:
        backend = get_backend()
    cur = _current_hint(mdir)
    while True:
        out = os.path.join(mdir, f"v{cur + 1}.metadata.json")
        try:
            # retryable: a lost-response retry that finds v{N+1} already
            # holding exactly our bytes is OUR earlier success — reuse it
            # instead of minting a duplicate metadata version
            publish_exclusive_retryable(backend, tmp, out)
            break
        except FileExistsError:
            cur += 1
    os.unlink(tmp)
    hint_tmp = os.path.join(mdir, f".version-hint.{uuid.uuid4().hex[:8]}.tmp")
    with open(hint_tmp, "w") as fh:
        fh.write(str(cur + 1))
    backend.swing(hint_tmp, os.path.join(mdir, "version-hint.text"))
    return out


def _append_metadata_log(mdir: str, meta: dict) -> None:
    """Record the file being superseded in the metadata-log (capped),
    so the previous-metadata chain survives every writer — commits AND
    rewrites."""
    cur = _current_hint(mdir)
    prev = os.path.join(mdir, f"v{cur}.metadata.json")
    if os.path.isfile(prev):
        meta["metadata-log"] = (
            meta.get("metadata-log", [])
            + [
                {
                    "timestamp-ms": meta.get("last-updated-ms", 0),
                    "metadata-file": os.path.abspath(prev),
                }
            ]
        )[-100:]


def _field_ids(meta: dict) -> dict[str, int]:
    schema = meta["schemas"][meta["current-schema-id"]]
    return {f["name"]: f["id"] for f in schema["fields"]}


def _field_types(meta: dict) -> dict[str, str]:
    """name → iceberg type for the current schema — lets manifests encode
    extracted-column ``col_stats`` bounds at the exact spec width."""
    schema = meta["schemas"][meta["current-schema-id"]]
    return {f["name"]: f["type"] for f in schema["fields"]}


def _avro_partition_fields(meta: dict) -> list[dict]:
    """Partition-spec fields as Avro schema nodes for the manifest's
    data_file.partition struct (dates as int days with the date
    logicalType, per the Iceberg-on-Avro mapping)."""
    schema = meta["schemas"][meta["current-schema-id"]]
    types = {f["id"]: f["type"] for f in schema["fields"]}
    avro_of = {
        "date": {"type": "int", "logicalType": "date"},
        "int": "int",
        "long": "long",
        "string": "string",
    }
    return [
        {
            "name": pf["name"],
            "field-id": pf["field-id"],
            "type": avro_of.get(types.get(pf["source-id"], "int"), "int"),
        }
        for pf in meta["partition-specs"][meta["default-spec-id"]]["fields"]
    ]


def _norm_entry(e) -> dict:
    return e if isinstance(e, dict) else {"file_path": e}


def _ensure_unpartitioned_spec(meta: dict) -> int:
    """The unpartitioned partition spec's id, appending it to the
    metadata when absent — position-delete files reference data files
    across storage partitions, so their manifests bind to an empty
    partition struct (spec-legal; pruning comes from the file_path
    bounds instead)."""
    for spec in meta["partition-specs"]:
        if not spec.get("fields"):
            return spec["spec-id"]
    spec_id = max(s["spec-id"] for s in meta["partition-specs"]) + 1
    meta["partition-specs"].append({"spec-id": spec_id, "fields": []})
    return spec_id


def _write_commit_manifests(
    table_path: str,
    meta: dict,
    snap: dict,
    snapshot_id: int,
    seq_num: int,
    active_entries_fn=None,
    active_deletes_fn=None,
) -> str:
    """Write this commit's Avro manifest(s) + manifest list; returns the
    manifest-list path. Appends carry the previous list forward with one
    new manifest (iceberg_storage.rs:1087-1110); removal commits rewrite
    one full manifest of the survivors plus DELETED tombstones."""
    from zombi_spark.table import manifests as MF

    mdir = metadata_dir(table_path)
    field_ids = _field_ids(meta)
    pfields = _avro_partition_fields(meta)
    schema_id = meta["current-schema-id"]
    spec_id = meta["default-spec-id"]
    schema_json = json.dumps(meta["schemas"][schema_id])
    spec_json = json.dumps(meta["partition-specs"][spec_id]["fields"])
    added = [_norm_entry(e) for e in snap.get("added", [])]
    removed = list(snap.get("removed", []))

    prev_list = None
    if meta["current-snapshot-id"] != -1:
        prev = next(
            (s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]),
            None,
        )
        if prev is not None:
            p = prev.get("manifest-list", "")
            if p.endswith(".avro") and os.path.isfile(p):
                prev_list = p

    first_commit = meta["current-snapshot-id"] == -1 and not meta["snapshots"]
    if (prev_list is not None or first_commit) and not removed:
        mf = MF.write_manifest(
            mdir,
            [(MF.ADDED, e) for e in added],
            snapshot_id,
            seq_num,
            field_ids,
            pfields,
            schema_json,
            spec_json,
            schema_id=schema_id,
            spec_id=spec_id,
            field_types=_field_types(meta),
        )
        # carry DATA manifests only: the delete-manifest set is
        # regenerated in full each commit (O(active delete files) — tiny)
        prior = (
            [m for m in MF.read_manifest_list(prev_list) if m.get("content", 0) == 0]
            if prev_list
            else []
        )
        manifest_files = prior + [mf]
    else:
        # removal commit, or no usable previous Avro list (legacy table):
        # one full manifest of the active set + tombstones
        active = (
            [_norm_entry(e) for e in active_entries_fn()]
            if active_entries_fn is not None
            else added
        )
        added_paths = {e["file_path"] for e in added}
        entries = [
            (MF.ADDED if e["file_path"] in added_paths else MF.EXISTING, e) for e in active
        ]
        data_root = os.path.join(table_path, "data")
        # tombstones carry the removed files' REAL stats (from the prior
        # manifest chain): without them deleted_rows_count and the
        # tombstone data_file record_count read as 0 to every external
        # consumer — a removal commit that "removed nothing"
        removed_set = set(removed)
        removed_stats: dict[str, dict] = {}
        if prev_list is not None and removed_set:
            try:
                for mf_rec in MF.read_manifest_list(prev_list):
                    for pe in MF.read_manifest_entries(mf_rec["manifest_path"]):
                        dfile = pe.get("data_file") or {}
                        fp = dfile.get("file_path")
                        if fp in removed_set and pe.get("status") != MF.DELETED:
                            removed_stats[fp] = {
                                "row_count": dfile.get("record_count", 0),
                                "file_size_bytes": dfile.get("file_size_in_bytes", 0),
                            }
            except Exception:
                removed_stats = {}  # stats are best-effort; never block a commit
        for p in removed:
            entries.append(
                (
                    MF.DELETED,
                    {
                        "file_path": p,
                        "partition_dir": os.path.relpath(os.path.dirname(p), data_root),
                        **removed_stats.get(p, {}),
                    },
                )
            )
        mf = MF.write_manifest(
            mdir, entries, snapshot_id, seq_num, field_ids, pfields,
            schema_json, spec_json, schema_id=schema_id, spec_id=spec_id,
            field_types=_field_types(meta),
        )
        manifest_files = [mf]
    dels = list(active_deletes_fn()) if active_deletes_fn is not None else []
    if dels:
        del_spec_id = _ensure_unpartitioned_spec(meta)
        added_del = {d["file_path"] for d in snap.get("added_deletes", [])}
        manifest_files.append(
            MF.write_delete_manifest(
                mdir, dels, snapshot_id, seq_num, schema_json,
                added_paths=added_del, spec_id=del_spec_id,
            )
        )
    return MF.write_manifest_list(mdir, snapshot_id, manifest_files)


def write_metadata_for_commit(
    table_path: str,
    table_name: str,
    snap: dict,
    active_entries_fn=None,
    active_deletes_fn=None,
    backend=None,
) -> str:
    """Extend the table's Iceberg metadata with one committed snapshot and
    write ``v{version+1}.metadata.json`` (+ version-hint). Returns the path.

    ``snap`` is the EventTable snapshot dict just committed (version,
    snapshot_id, parent_version, committed_at_ms, operation, added/removed,
    and, on extraction tables, the extracted-field list
    ``extracted_fields``). The schema comes from that list alone:
    extraction tables advertise their real columns, a widened list
    appends a new schema entry (column-add evolution, ids preserved),
    and the Iceberg snapshot records the schema-id of its own commit.
    ``active_entries_fn`` lazily yields the active file entries as of this
    commit — consulted only when a full manifest rewrite is needed
    (removal commits, or recovery from a missing previous Avro list).
    """
    spark_schema = _snapshot_schema(snap)
    meta = current_metadata(table_path) or _fresh_metadata(
        table_path, table_name, spark_schema
    )
    _use_schema(meta, spark_schema)
    mdir = metadata_dir(table_path)
    os.makedirs(mdir, exist_ok=True)

    version = snap["version"]
    # Lost-write detection must survive snapshot expiration: versions are
    # monotonic but the snapshot LIST is pruned by expire, so compare the
    # committing version against the last committed version recorded in a
    # table property — not against len(snapshots). (Legacy metadata
    # without the property falls back to the list length, which is exact
    # for never-expired tables.)
    props = meta.setdefault("properties", {})
    if "zombi.last-version" in props:
        expected = int(props["zombi.last-version"]) + 1
    else:
        expected = len(meta["snapshots"])
    if version != expected:
        # a prior metadata write was lost (crash/failure between snapshot
        # commit and metadata write): the metadata no longer mirrors the
        # log. Signal the caller to rebuild from the full snapshot log
        # instead of silently appending over the gap.
        raise RuntimeError(
            f"iceberg metadata out of sync: expected version {expected}, "
            f"committing version {version} — rebuild required"
        )
    props["zombi.last-version"] = str(version)
    sid = snapshot_id_long(snap["snapshot_id"])
    parent_hex = snap.get("parent_snapshot_hex")
    manifest_list = _write_commit_manifests(
        table_path, meta, snap, sid, version + 1, active_entries_fn,
        active_deletes_fn,
    )
    ice_snap = {
        "snapshot-id": sid,
        "sequence-number": version + 1,
        "timestamp-ms": snap["committed_at_ms"],
        "manifest-list": manifest_list,
        "summary": {
            "operation": {"append": "append", "retention-delete": "delete"}.get(
                snap.get("operation"), "replace"
            ),
            "added-data-files": str(len(snap.get("added", []))),
            "removed-data-files": str(len(snap.get("removed", []))),
        },
        # the schema this commit recorded — after column-add evolution
        # that is the evolved entry, not 0
        "schema-id": meta["current-schema-id"],
    }
    if meta["current-snapshot-id"] != -1 and parent_hex is not None:
        ice_snap["parent-snapshot-id"] = snapshot_id_long(parent_hex)

    _append_metadata_log(mdir, meta)
    meta["snapshots"].append(ice_snap)
    meta["snapshot-log"] = (
        meta.get("snapshot-log", [])
        + [{"timestamp-ms": snap["committed_at_ms"], "snapshot-id": sid}]
    )[-100:]
    meta["current-snapshot-id"] = sid
    meta["last-sequence-number"] = version + 1
    meta["last-updated-ms"] = snap["committed_at_ms"]
    return _write_next_metadata(mdir, meta, backend)


def rebuild_metadata(
    table_path: str, table_name: str, snapshots: list[dict], backend=None
) -> str:
    """Regenerate the Iceberg metadata from the authoritative snapshot
    log (recovery path for a lost/failed metadata write): one fresh
    metadata carrying every live snapshot, written as the next version.
    Each snapshot's schema comes from the log itself (its recorded
    extracted-field list), so every rebuilt snapshot gets the schema-id
    of its own commit.

    Iceberg requires a STABLE table-uuid across the table's whole life —
    clients validating uuid continuity reject a table whose uuid changes
    — so a rebuild adopts the prior metadata's uuid when one exists and
    mints a fresh one only for a genuinely new table. The prior schema
    list is adopted the same way, so schema-ids and field ids stay those
    clients have already seen."""
    meta = _fresh_metadata(
        table_path, table_name, _snapshot_schema(snapshots[0] if snapshots else {})
    )
    try:
        prior = current_metadata(table_path)
    except Exception:
        prior = None  # corrupt prior metadata: rebuild proceeds fresh
    if prior is not None:
        if prior.get("table-uuid"):
            meta["table-uuid"] = prior["table-uuid"]
        if prior.get("schemas"):
            meta["schemas"] = prior["schemas"]
            meta["last-column-id"] = prior["last-column-id"]
    mdir = metadata_dir(table_path)
    os.makedirs(mdir, exist_ok=True)
    from zombi_spark.table import manifests as MF

    spec_json = json.dumps(meta["partition-specs"][meta["default-spec-id"]]["fields"])
    prev_sid = None
    active: dict[str, dict] = {}
    active_dels: dict[str, dict] = {}
    for snap in snapshots:
        sid = snapshot_id_long(snap["snapshot_id"])
        # replay the log to this snapshot's active set and write ONE full
        # manifest per snapshot — O(snapshots × files), acceptable for the
        # rare recovery path (expire_snapshots bounds the log)
        if "files" in snap:
            active = {_norm_entry(e)["file_path"]: _norm_entry(e) for e in snap["files"]}
            active_dels = {e["file_path"]: e for e in snap.get("delete_files", [])}
        else:
            for p in snap.get("removed", []):
                active.pop(p, None)
            for e in snap.get("added", []):
                e = _norm_entry(e)
                active[e["file_path"]] = e
            for p in snap.get("removed_deletes", []):
                active_dels.pop(p, None)
            for e in snap.get("added_deletes", []):
                active_dels[e["file_path"]] = e
        _use_schema(meta, _snapshot_schema(snap))
        schema_id = meta["current-schema-id"]
        schema_json = json.dumps(meta["schemas"][schema_id])
        added_paths = {_norm_entry(e)["file_path"] for e in snap.get("added", [])}
        entries = [
            (MF.ADDED if path in added_paths else MF.EXISTING, e)
            for path, e in sorted(active.items())
        ]
        mf = MF.write_manifest(
            mdir, entries, sid, snap["version"] + 1, _field_ids(meta),
            _avro_partition_fields(meta), schema_json, spec_json,
            schema_id=schema_id, field_types=_field_types(meta),
        )
        mfs = [mf]
        if active_dels:
            del_spec_id = _ensure_unpartitioned_spec(meta)
            added_del = {d["file_path"] for d in snap.get("added_deletes", [])}
            mfs.append(
                MF.write_delete_manifest(
                    mdir, list(active_dels.values()), sid, snap["version"] + 1,
                    schema_json, added_paths=added_del, spec_id=del_spec_id,
                )
            )
        mlist = MF.write_manifest_list(mdir, sid, mfs)
        ice = {
            "snapshot-id": sid,
            "sequence-number": snap["version"] + 1,
            "timestamp-ms": snap["committed_at_ms"],
            "manifest-list": mlist,
            "summary": {
                "operation": {"append": "append", "retention-delete": "delete"}.get(
                snap.get("operation"), "replace"
            ),
                "added-data-files": str(len(snap.get("added", []))),
                "removed-data-files": str(len(snap.get("removed", []))),
            },
            "schema-id": schema_id,
        }
        if prev_sid is not None:
            ice["parent-snapshot-id"] = prev_sid
        meta["snapshots"].append(ice)
        meta["snapshot-log"].append(
            {"timestamp-ms": snap["committed_at_ms"], "snapshot-id": sid}
        )
        meta["current-snapshot-id"] = sid
        meta["last-sequence-number"] = snap["version"] + 1
        meta["last-updated-ms"] = snap["committed_at_ms"]
        meta["properties"]["zombi.last-version"] = str(snap["version"])
        prev_sid = sid
    meta["snapshot-log"] = meta["snapshot-log"][-100:]

    return _write_next_metadata(mdir, meta, backend)


def _referenced_avro(meta: dict) -> set[str]:
    """Every Avro file any snapshot of ``meta`` references (manifest
    lists + their manifests) — readable or not, the LIST path counts."""
    from zombi_spark.table import manifests as MF

    refs: set[str] = set()
    for s in meta.get("snapshots", []):
        ml = s.get("manifest-list", "")
        if ml.endswith(".avro"):
            refs.add(os.path.abspath(ml))
            if os.path.isfile(ml):
                try:
                    for mf in MF.read_manifest_list(ml):
                        refs.add(os.path.abspath(mf["manifest_path"]))
                except Exception:
                    pass
    return refs


def _gc_unreferenced_metadata(
    mdir: str,
    meta: dict,
    current_file: str,
    prior_refs: set[str] | None = None,
    grace_s: float = 3600.0,
) -> list[str]:
    """Delete Avro manifests/manifest-lists referenced by no LIVE
    snapshot and metadata JSON outside the metadata-log tail — Iceberg's
    expire_snapshots does the same cleanup. Carry-forward means expired
    and live lists can SHARE manifests, so the live set is computed by
    walking every live snapshot's manifest list, never by list age.

    Concurrent-commit guard: a commit writes its manifest + list BEFORE
    the metadata JSON referencing them, so for a few seconds fresh Avro
    files are referenced by no live snapshot in THIS process's meta
    copy. The discriminator is ``prior_refs`` — files the PRE-rewrite
    metadata referenced are provably ours to reclaim (their snapshots
    were just expired/merged, any age); files NOTHING ever referenced
    are either crash orphans or an in-flight commit's fresh output, and
    only get reclaimed past ``grace_s`` (the remove_orphans /
    remove_orphan_files cutoff pattern)."""
    import time as _time

    from zombi_spark.table import manifests as MF

    cutoff = _time.time() - grace_s

    def _old_enough(path: str) -> bool:
        try:
            return os.path.getmtime(path) <= cutoff
        except OSError:
            return False  # vanished underneath us

    live: set[str] = set()
    for s in meta.get("snapshots", []):
        ml = s.get("manifest-list", "")
        if ml.endswith(".avro") and os.path.isfile(ml):
            live.add(os.path.abspath(ml))
            try:
                for mf in MF.read_manifest_list(ml):
                    live.add(os.path.abspath(mf["manifest_path"]))
            except Exception:
                continue  # unreadable list: keep its file, GC nothing of it
    keep_json = {os.path.abspath(current_file)} | {
        os.path.abspath(e["metadata-file"]) for e in meta.get("metadata-log", [])
    }
    known = prior_refs if prior_refs is not None else set()
    removed: list[str] = []
    for f in os.listdir(mdir):
        full = os.path.abspath(os.path.join(mdir, f))
        if (
            f.endswith(".avro")
            and full not in live
            and (full in known or _old_enough(full))
        ):
            os.remove(full)
            removed.append(full)
        elif (
            f.startswith("v")
            and f.endswith(".metadata.json")
            and full not in keep_json
            and _old_enough(full)
        ):
            os.remove(full)
            removed.append(full)
    return removed


def rewrite_manifests(
    table_path: str,
    active_entries: list[dict],
    backend=None,
    active_deletes: list[dict] | None = None,
) -> str:
    """Iceberg's ``rewrite_manifests`` action, metadata-only: merge the
    CURRENT snapshot's carry-forward manifest list into ONE full manifest
    of the active files (all EXISTING, no data touched), bump the
    metadata version, and GC the now-unreferenced manifests. Bounds the
    list length for append-only tables between compactions (compaction
    resets the list as a side effect; this does it without rewriting a
    byte of data). Simplification vs strict Iceberg: existing entries
    take the current snapshot's sequence number rather than their
    original data sequence numbers (we don't track per-file commit
    provenance in the active-file entries; no reader here consumes
    them). Returns the new metadata path."""
    from zombi_spark.table import manifests as MF

    meta = current_metadata(table_path)
    if meta is None or meta["current-snapshot-id"] == -1:
        raise ValueError("no current snapshot to rewrite manifests for")
    cur = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    mdir = metadata_dir(table_path)
    prior_refs = _referenced_avro(meta)
    mf = MF.write_manifest(
        mdir,
        [(MF.EXISTING, _norm_entry(e)) for e in active_entries],
        cur["snapshot-id"],
        cur["sequence-number"],
        _field_ids(meta),
        _avro_partition_fields(meta),
        json.dumps(meta["schemas"][meta["current-schema-id"]]),
        json.dumps(meta["partition-specs"][meta["default-spec-id"]]["fields"]),
        schema_id=meta["current-schema-id"],
        spec_id=meta["default-spec-id"],
        field_types=_field_types(meta),
    )
    mfs = [mf]
    if active_deletes:
        mfs.append(
            MF.write_delete_manifest(
                mdir,
                list(active_deletes),
                cur["snapshot-id"],
                cur["sequence-number"],
                json.dumps(meta["schemas"][meta["current-schema-id"]]),
                spec_id=_ensure_unpartitioned_spec(meta),
            )
        )
    cur["manifest-list"] = MF.write_manifest_list(mdir, cur["snapshot-id"], mfs)
    _append_metadata_log(mdir, meta)
    meta["last-updated-ms"] = int(time.time() * 1000)
    out = _write_next_metadata(mdir, meta, backend)
    _gc_unreferenced_metadata(mdir, meta, out, prior_refs=prior_refs)
    return out


def rewrite_after_expire(table_path: str, table_name: str, live_snaps: list[dict], backend=None) -> str:
    """After snapshot expiration, rewrite metadata keeping only live
    snapshots, then garbage-collect manifests and metadata JSON only
    expired snapshots referenced (Iceberg's expire_snapshots does both)."""
    meta = current_metadata(table_path)
    if meta is None:
        raise FileNotFoundError("no Iceberg metadata to rewrite")
    prior_refs = _referenced_avro(meta)  # BEFORE pruning the snapshot list
    live_ids = {snapshot_id_long(s["snapshot_id"]) for s in live_snaps}
    meta["snapshots"] = [s for s in meta["snapshots"] if s["snapshot-id"] in live_ids]
    meta["snapshot-log"] = [e for e in meta["snapshot-log"] if e["snapshot-id"] in live_ids]
    now = int(time.time() * 1000)
    meta["last-updated-ms"] = now
    if live_snaps:
        # versions stay monotonic across expiration; record the last one
        # so the commit-time lost-write check keeps working after the
        # snapshot list is pruned (legacy metadata gains the property here)
        meta.setdefault("properties", {})["zombi.last-version"] = str(
            max(s["version"] for s in live_snaps)
        )

    mdir = metadata_dir(table_path)
    _append_metadata_log(mdir, meta)
    out = _write_next_metadata(mdir, meta, backend)
    _gc_unreferenced_metadata(mdir, meta, out, prior_refs=prior_refs)
    return out
