"""Schema-on-write extraction tables + column-add evolution (§1.3;
iceberg.rs:192-266): configured typed fields replace the payload at
append time, the JSON remainder lands in _payload_overflow, and a config
that gains a field widens the table schema — files written before the
field existed serve NULL for it, exactly Iceberg's add-column rule."""

import json

from zombi_spark.ingest.batch import RAW_EVENT_SCHEMA, prepare_events
from zombi_spark.ingest.extraction import FieldSpec, TableSchemaConfig
from zombi_spark.table.event_table import EventTable

V1 = TableSchemaConfig(
    payload_format="json",
    fields=[FieldSpec(name="k", json_path="k", data_type="int64")],
)
V2 = TableSchemaConfig(
    payload_format="json",
    fields=[
        FieldSpec(name="k", json_path="k", data_type="int64"),
        FieldSpec(name="label", json_path="label", data_type="utf8"),
    ],
)


def _batch(spark, start, n):
    rows = [
        (
            "t",
            0,
            json.dumps({"k": i, "label": f"L{i}", "extra": i * 10}).encode(),
            1704067200000 + i * 1000,
            None,
            i,
        )
        for i in range(start, start + n)
    ]
    return spark.createDataFrame(rows, RAW_EVENT_SCHEMA)


def test_extraction_table_write_and_read(spark, tmp_path):
    t = EventTable(spark, str(tmp_path), "events", schema_config=V1)
    t.append(prepare_events(_batch(spark, 0, 5)))
    df = t.read()
    assert "k" in df.columns and "payload" not in df.columns
    assert "_payload_overflow" in df.columns
    rows = {r.sequence: r for r in df.collect()}
    assert [rows[s].k for s in sorted(rows)] == [0, 1, 2, 3, 4]
    # overflow holds the NON-extracted keys only
    ovf = json.loads(bytes(rows[1]._payload_overflow))
    assert set(ovf) == {"label", "extra"}


def test_column_add_evolution_old_files_serve_null(spark, tmp_path):
    t1 = EventTable(spark, str(tmp_path), "events", schema_config=V1)
    t1.append(prepare_events(_batch(spark, 0, 4)))

    # reopen with the widened config: new column 'label'
    t2 = EventTable(spark, str(tmp_path), "events", schema_config=V2)
    t2.append(prepare_events(_batch(spark, 4, 4), existing=t2.read()))

    df = t2.read()
    assert "label" in df.columns
    rows = {r.sequence: r for r in df.collect()}
    assert len(rows) == 8
    # v1-era rows: label NULL (file lacks the column); k still extracted
    assert all(rows[s].label is None for s in (1, 2, 3, 4))
    assert all(rows[s].k == s - 1 for s in (1, 2, 3, 4))
    # v2-era rows carry the new column; overflow no longer holds 'label'
    assert [rows[s].label for s in (5, 6, 7, 8)] == ["L4", "L5", "L6", "L7"]
    ovf = json.loads(bytes(rows[5]._payload_overflow))
    assert set(ovf) == {"extra"}
    # the table metadata reflects the union schema
    schema_fields = [f["name"] for f in t2.table_metadata()["schema"]["fields"]]
    assert schema_fields[-3:] == ["k", "label", "_payload_overflow"]
    # the old handle (v1 config) ALSO sees the widened schema — evolution
    # is a table property, not a session property
    assert "label" in EventTable(spark, str(tmp_path), "events").read().columns


def test_type_change_rejected(spark, tmp_path):
    # the committed field list is what a config is checked against: an
    # uncommitted handle records nothing
    t = EventTable(spark, str(tmp_path), "events", schema_config=V1)
    t.append(prepare_events(_batch(spark, 0, 2)))
    import pytest

    bad = TableSchemaConfig(
        payload_format="json",
        fields=[FieldSpec(name="k", json_path="k", data_type="utf8")],
    )
    with pytest.raises(ValueError, match="cannot change type"):
        EventTable(spark, str(tmp_path), "events", schema_config=bad)


def test_uncommitted_config_never_widens_the_table(spark, tmp_path):
    """Constructing a handle with a widening config writes nothing: the
    schema changes only when that handle commits. A plain handle opened
    afterwards, and the zombi format, still see the committed columns."""
    from zombi_spark.sources.datasource import register_zombi_datasource

    t1 = EventTable(spark, str(tmp_path), "events", schema_config=V1)
    t1.append(prepare_events(_batch(spark, 0, 3)))
    before = t1.table_schema()
    EventTable(spark, str(tmp_path), "events", schema_config=V2)  # never commits

    plain = EventTable(spark, str(tmp_path), "events")
    assert plain.table_schema() == before
    assert "label" not in plain.table_schema().fieldNames()
    register_zombi_datasource(spark)
    assert spark.read.format("zombi").load(plain.path).schema == before


def test_streaming_ingest_into_extraction_table(spark, tmp_path):
    """The streaming path composes: foreachBatch append applies the
    table's extraction config per micro-batch."""
    import os

    from zombi_spark.streaming.ingest import StreamingIngest

    landing = str(tmp_path / "landing")
    os.makedirs(landing, exist_ok=True)
    with open(os.path.join(landing, "b1.json"), "w") as fh:
        for i in range(6):
            fh.write(
                json.dumps(
                    {
                        "topic": "t",
                        "partition": 0,
                        "payload": json.dumps({"k": i, "label": f"L{i}"}),
                        "timestamp_ms": 1704067200000 + i,
                        "idempotency_key": None,
                        "ingest_order": i,
                    }
                )
                + "\n"
            )
    table = EventTable(spark, str(tmp_path), "stream-ext", schema_config=V1)
    ing = StreamingIngest(spark, landing, table, str(tmp_path / "ckpt"))
    q = ing.start(available_now=True)
    q.awaitTermination(120)
    df = table.read()
    assert "k" in df.columns and "payload" not in df.columns
    assert sorted(r.k for r in df.collect()) == [0, 1, 2, 3, 4, 5]
    ovf = json.loads(bytes(df.where("k = 2").first()._payload_overflow))
    assert set(ovf) == {"label"}


def test_compaction_preserves_evolved_schema(spark, tmp_path):
    """Compacting across the evolution boundary materializes the union
    schema: pre-evolution rows keep NULL for the added column, every row
    survives (INV-6)."""
    t1 = EventTable(spark, str(tmp_path), "events", schema_config=V1)
    t1.append(prepare_events(_batch(spark, 0, 4)))
    t2 = EventTable(spark, str(tmp_path), "events", schema_config=V2)
    t2.append(prepare_events(_batch(spark, 4, 4), existing=t2.read()))

    before = {(r.sequence, r.k, r.label) for r in t2.read().collect()}
    t2.compact(min_input_files=1)
    after = {(r.sequence, r.k, r.label) for r in t2.read().collect()}
    assert after == before and len(after) == 8


def test_external_ddl_reads_evolved_extraction_table(spark, tmp_path):
    """DuckDB reads an extraction table ACROSS the evolution boundary:
    pre-evolution files serve NULL for the added column (union_by_name)."""
    import duckdb

    t1 = EventTable(spark, str(tmp_path), "events", schema_config=V1)
    t1.append(prepare_events(_batch(spark, 0, 3)))
    t2 = EventTable(spark, str(tmp_path), "events", schema_config=V2)
    t2.append(prepare_events(_batch(spark, 3, 3), existing=t2.read()))

    con = duckdb.connect()
    con.execute(t2.external_ddl(view_name="ev"))
    rows = con.execute(
        "select sequence, k, label from ev order by sequence"
    ).fetchall()
    assert len(rows) == 6
    assert [r[2] for r in rows[:3]] == [None, None, None]  # pre-evolution
    assert all(r[2] is not None for r in rows[3:])
    assert [r[1] for r in rows] == [0, 1, 2, 3, 4, 5]  # k everywhere


def test_iceberg_metadata_tracks_extraction_schema_evolution(spark, tmp_path):
    """The Iceberg v2 metadata advertises the extraction table's REAL
    columns (payload dropped, extracted fields present) and appends a new
    schema entry on column-add evolution with field ids preserved."""
    import os

    t1 = EventTable(spark, str(tmp_path), "events", schema_config=V1)
    t1.append(prepare_events(_batch(spark, 0, 3)))
    mdir = os.path.join(t1.path, "metadata")

    def cur_meta():
        hint = int(open(os.path.join(mdir, "version-hint.text")).read())
        return json.load(open(os.path.join(mdir, f"v{hint}.metadata.json")))

    m1 = cur_meta()
    s1 = m1["schemas"][m1["current-schema-id"]]
    names1 = [f["name"] for f in s1["fields"]]
    assert "payload" not in names1 and "k" in names1 and "_payload_overflow" in names1
    # partition spec / sort order reference THIS schema's ids
    by_name = {f["name"]: f["id"] for f in s1["fields"]}
    spec = m1["partition-specs"][m1["default-spec-id"]]
    assert [f["source-id"] for f in spec["fields"]] == [
        by_name["event_date"], by_name["event_hour"]
    ]

    t2 = EventTable(spark, str(tmp_path), "events", schema_config=V2)
    t2.append(prepare_events(_batch(spark, 3, 3), existing=t2.read()))
    m2 = cur_meta()
    assert len(m2["schemas"]) == 2  # evolution appended a schema entry
    s2 = m2["schemas"][m2["current-schema-id"]]
    by_name2 = {f["name"]: f["id"] for f in s2["fields"]}
    # existing columns keep their ids; the new column gets a fresh one
    assert all(by_name2[n] == i for n, i in by_name.items())
    assert by_name2["label"] == m2["last-column-id"]
    assert by_name2["label"] > max(by_name.values())
    # snapshots resolve against the schema current at their commit time:
    # pre-evolution → schema 0, post-evolution → the evolved entry
    assert m2["snapshots"][0]["schema-id"] == 0
    assert m2["snapshots"][-1]["schema-id"] == m2["current-schema-id"]


def test_tail_on_extraction_table(spark, tmp_path):
    """Hot/cold tail works on an extraction table: committed rows serve
    NULL payload (the raw bytes were replaced by extracted columns)."""
    from zombi_spark.streaming.ingest import StreamingIngest

    table = EventTable(spark, str(tmp_path), "ext-tail", schema_config=V1)
    table.append(prepare_events(_batch(spark, 0, 4)))
    ing = StreamingIngest(
        spark, str(tmp_path / "landing"), table, str(tmp_path / "ckpt")
    )
    rows = ing.tail("t", limit=10).collect()
    assert len(rows) == 4
    assert all(r.committed and r.payload is None for r in rows)


def test_extraction_table_watermarks_and_dedup_still_work(spark, tmp_path):
    """The write path's metadata machinery (sequences, watermarks,
    idempotency probe columns) is payload-independent."""
    t = EventTable(spark, str(tmp_path), "events", schema_config=V1)
    t.append(prepare_events(_batch(spark, 0, 6)))
    t.append(prepare_events(_batch(spark, 6, 3), existing=t.read()))
    assert t.watermark_map() == {("t", 0): 9}
    probe = t.idempotency_history(retention_hours=48)
    assert set(probe.columns) == {"topic", "partition", "idempotency_key"}


# ------------------------------------------- P8 exact nested overflow
def test_compute_overflow_ports_reference_rule():
    """Pure-Python port checks against the reference's own test cases
    (payload_extractor.rs:368-412)."""
    from zombi_spark.ingest.extraction import compute_overflow

    # leaf removed, sibling and top-level survive
    out = compute_overflow(
        '{"meta": {"nested": {"value": 42, "other": "keep"}}, "top": 1}',
        [["meta", "nested", "value"]],
    )
    assert json.loads(out) == {"meta": {"nested": {"other": "keep"}}, "top": 1}
    # empty parents pruned all the way up
    out = compute_overflow(
        '{"meta": {"nested": {"value": 42}}, "other": 1}',
        [["meta", "nested", "value"]],
    )
    assert json.loads(out) == {"other": 1}
    # everything extracted → None (no overflow column content)
    assert compute_overflow('{"meta": {"nested": {"value": 42}}}',
                            [["meta", "nested", "value"]]) is None
    # non-object payloads pass through whole (payload_extractor.rs:88-90)
    assert compute_overflow("[1,2,3]", [["a"]]) == "[1,2,3]"
    assert compute_overflow("not json", [["a"]]) == "not json"
    # missing path / non-object intermediate: untouched
    out = compute_overflow('{"meta": 5, "x": 1}', [["meta", "nested"], ["gone", "y"]])
    assert json.loads(out) == {"meta": 5, "x": 1}
    # the reference's exact edge: an ALREADY-empty parent on the
    # extraction path is pruned even though nothing was removed from it
    # (remove_nested's leaf arm returns map.is_empty() unconditionally,
    # payload_extractor.rs:155-161) — parity over intuition
    out = compute_overflow('{"a": {}, "x": 1}', [["a", "b"]])
    assert json.loads(out) == {"x": 1}
    # value types preserved (numbers stay numbers)
    out = compute_overflow('{"a": {"b": 1}, "n": 2.5}', [["a", "b"]])
    assert json.loads(out) == {"n": 2.5}


def test_nested_extraction_table_overflow_exact(spark, tmp_path):
    """Table-level: a nested-path config drops exactly the extracted leaf
    from _payload_overflow (pruning empty parents), with value types
    preserved — the Arrow-batched exact path."""
    from zombi_spark.ingest.batch import RAW_EVENT_SCHEMA, prepare_events

    cfg = TableSchemaConfig(
        payload_format="json",
        fields=[
            FieldSpec(name="nested_val", json_path="meta.nested.value", data_type="int64"),
            FieldSpec(name="k", json_path="k", data_type="int64"),
        ],
    )
    payloads = [
        {"k": 0, "meta": {"nested": {"value": 42, "other": "keep"}}, "top": 1},
        {"k": 1, "meta": {"nested": {"value": 7}}, "other": 2},
        {"k": 2, "meta": {"nested": {"value": 9}}},
    ]
    rows = [
        ("t", 0, json.dumps(p).encode(), 1704067200000 + i * 1000, None, i)
        for i, p in enumerate(payloads)
    ]
    t = EventTable(spark, str(tmp_path), "events", schema_config=cfg)
    t.append(prepare_events(spark.createDataFrame(rows, RAW_EVENT_SCHEMA)))

    got = {r.k: r for r in t.read().collect()}
    assert [got[i].nested_val for i in range(3)] == [42, 7, 9]
    # row 0: leaf dropped, sibling + top survive, ints stay ints
    assert json.loads(bytes(got[0]._payload_overflow)) == {
        "meta": {"nested": {"other": "keep"}},
        "top": 1,
    }
    # row 1: meta pruned entirely (leaf was its only content)
    assert json.loads(bytes(got[1]._payload_overflow)) == {"other": 2}
    # row 2: everything extracted → NULL overflow
    assert got[2]._payload_overflow is None


# --------------------------------------- r15: safe type promotion (widening)
W_NARROW = TableSchemaConfig(
    payload_format="json",
    fields=[FieldSpec(name="n", json_path="n", data_type="int32")],
)
W_WIDE = TableSchemaConfig(
    payload_format="json",
    fields=[FieldSpec(name="n", json_path="n", data_type="int64")],
)


def _nbatch(spark, seq_start, values):
    rows = [
        ("t", 0, json.dumps({"n": int(v)}).encode(),
         1704067200000 + (seq_start + i) * 1000, None, seq_start + i)
        for i, v in enumerate(values)
    ]
    return spark.createDataFrame(rows, RAW_EVENT_SCHEMA)


def test_int32_to_int64_widening_old_files_read_as_long(spark, tmp_path):
    """Iceberg's one legal in-set promotion, int -> long (the
    counter-outgrew-int32 case): files written as INT32 serve the widened
    LONG declared schema natively; new appends store INT64 values past
    2^31; compaction across the boundary preserves every value."""
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    t1 = EventTable(spark, str(tmp_path), "events", schema_config=W_NARROW)
    t1.append(prepare_events(_nbatch(spark, 0, [0, 1, 2, 3])))
    assert t1.table_schema()["n"].dataType == T.IntegerType()
    # physical proof: the pre-promotion file really is INT32 on disk
    f0 = t1.scan_files()[0]["file_path"]
    n_idx = pq.ParquetFile(f0).schema_arrow.names.index("n")
    assert str(pq.ParquetFile(f0).schema_arrow.types[n_idx]) == "int32"

    t2 = EventTable(spark, str(tmp_path), "events", schema_config=W_WIDE)
    big = 2**40
    t2.append(prepare_events(_nbatch(spark, 4, [big, big + 1]), existing=t2.read()))
    assert t2.table_schema()["n"].dataType == T.LongType()
    got = {r.sequence: r.n for r in t2.read().collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: big, 6: big + 1}
    # evolution is a table property: a fresh config-free handle sees LONG
    assert (
        EventTable(spark, str(tmp_path), "events").table_schema()["n"].dataType
        == T.LongType()
    )
    # compaction across the promotion boundary: INV-6, values identical
    t2.compact(min_input_files=1)
    assert {r.sequence: r.n for r in t2.read().collect()} == got


def test_widening_stale_narrow_config_tolerated(spark, tmp_path):
    """A reader/writer still deployed with the pre-promotion int32 config
    opens the widened table without error and does NOT narrow it back —
    the stored type is authoritative (table property, not session)."""
    from pyspark.sql import types as T

    t1 = EventTable(spark, str(tmp_path), "events", schema_config=W_NARROW)
    t1.append(prepare_events(_nbatch(spark, 0, [1])))
    t2 = EventTable(spark, str(tmp_path), "events", schema_config=W_WIDE)
    t2.append(prepare_events(_nbatch(spark, 1, [2]), existing=t2.read()))
    t3 = EventTable(spark, str(tmp_path), "events", schema_config=W_NARROW)
    assert t3.table_schema()["n"].dataType == T.LongType()
    # appends through the stale handle extract with the WIDE stored type
    big = 2**40
    t3.append(prepare_events(_nbatch(spark, 2, [big]), existing=t3.read()))
    assert t3.table_schema()["n"].dataType == T.LongType()
    assert sorted(r.n for r in t3.read().collect()) == [1, 2, big]


def test_widening_rejects_everything_but_int32_to_int64(spark, tmp_path):
    import pytest

    t = EventTable(spark, str(tmp_path), "events", schema_config=W_WIDE)
    t.append(prepare_events(_nbatch(spark, 0, [1])))
    for bad_type in ("utf8", "float64", "boolean"):
        bad = TableSchemaConfig(
            payload_format="json",
            fields=[FieldSpec(name="n", json_path="n", data_type=bad_type)],
        )
        with pytest.raises(ValueError, match="cannot change type"):
            EventTable(spark, str(tmp_path), "events", schema_config=bad)


def test_widening_updates_iceberg_metadata_schema(spark, tmp_path):
    """The promotion lands in the Iceberg v2 metadata as a NEW schema
    entry whose promoted field keeps its field id (spec rule) with the
    wider type — external engines plan longs, not stale ints."""
    import os

    t1 = EventTable(spark, str(tmp_path), "events", schema_config=W_NARROW)
    t1.append(prepare_events(_nbatch(spark, 0, [1, 2])))
    mdir = os.path.join(t1.path, "metadata")

    def cur_meta():
        hint = int(open(os.path.join(mdir, "version-hint.text")).read())
        return json.load(open(os.path.join(mdir, f"v{hint}.metadata.json")))

    m1 = cur_meta()
    s1 = m1["schemas"][m1["current-schema-id"]]
    f1 = next(f for f in s1["fields"] if f["name"] == "n")
    assert f1["type"] == "int"

    t2 = EventTable(spark, str(tmp_path), "events", schema_config=W_WIDE)
    t2.append(prepare_events(_nbatch(spark, 2, [2**40]), existing=t2.read()))
    m2 = cur_meta()
    assert len(m2["schemas"]) == 2  # promotion appended a schema entry
    s2 = m2["schemas"][m2["current-schema-id"]]
    f2 = next(f for f in s2["fields"] if f["name"] == "n")
    assert f2["type"] == "long" and f2["id"] == f1["id"]  # same id, wider
    assert m2["last-column-id"] == m1["last-column-id"]  # no new columns


def test_external_ddl_reads_across_promotion_boundary(spark, tmp_path):
    """DuckDB reads the mixed INT32/INT64 file set through external_ddl
    (union_by_name promotes) — any-engine reads survive the widening."""
    import duckdb

    t1 = EventTable(spark, str(tmp_path), "events", schema_config=W_NARROW)
    t1.append(prepare_events(_nbatch(spark, 0, [5, 6])))
    t2 = EventTable(spark, str(tmp_path), "events", schema_config=W_WIDE)
    big = 2**40
    t2.append(prepare_events(_nbatch(spark, 2, [big]), existing=t2.read()))

    con = duckdb.connect()
    con.execute(t2.external_ddl(view_name="ev"))
    rows = con.execute("select n from ev order by sequence").fetchall()
    assert [r[0] for r in rows] == [5, 6, big]
