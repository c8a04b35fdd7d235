"""Schema-on-write JSON payload extraction (SURVEY.md §1.3, P7/P8).

Reference: per-table ``TableSchemaConfig`` (contracts/schema.rs:10-77)
declares typed fields pulled out of JSON payloads by dot-path
(payload_extractor.rs:36-133); whatever remains goes to a nullable
``_payload_overflow`` column (payload_extractor.rs:74-96,145-179).

Spark-first: extraction is ``get_json_object`` + ``try_cast`` (JVM-side,
codegen). Missing path or type mismatch ⇒ NULL, matching the reference's
coercion table (payload_extractor.rs:113-133).

Overflow (P8) has two implementations, chosen by config shape:

  - flat-only configs (every path is a top-level key): pure Column
    program — shared ``from_json`` map, ``map_filter`` drop, ``to_json``
    — zero Python. Deviation: non-string remaining values re-serialize
    as JSON strings (``{"n": 2}`` → ``{"n": "2"}``), a consequence of
    the ``map<string,string>`` parse;
  - configs with any NESTED path: an Arrow-batched pandas UDF porting
    the reference's rule exactly (payload_extractor.rs:145-179
    ``remove_nested``): remove each extracted leaf, prune parents that
    became empty objects, preserve remaining value types, serialize
    compact with sorted keys (serde_json's default BTreeMap ordering),
    NULL when nothing remains. Python is justified here: this runs once
    per ingested batch on extraction-configured tables, not per query,
    and no Column program can preserve arbitrary-depth value types.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# contracts/schema.rs:56-63 target types → Spark casts
_TYPE_MAP = {
    "utf8": "string",
    "int32": "int",
    "int64": "long",
    "float64": "double",
    "boolean": "boolean",
    "binary": "binary",
}


@dataclass
class FieldSpec:
    """One extracted column (contracts/schema.rs:28-54)."""

    name: str
    json_path: str  # dot path, e.g. "meta.nested.value"
    data_type: str  # key of _TYPE_MAP

    def column(self, payload: Column, top_map: Column | None = None) -> Column:
        if self.data_type not in _TYPE_MAP:
            raise ValueError(f"unsupported type {self.data_type!r}")
        if top_map is not None and "." not in self.json_path:
            # flat key: read from the already-parsed top-level map (one
            # from_json per row, shared with overflow pruning via codegen
            # subexpression elimination) instead of re-parsing with
            # get_json_object per field
            raw = F.element_at(top_map, self.json_path)
        else:
            raw = F.get_json_object(payload.cast("string"), "$." + self.json_path)
        target = _TYPE_MAP[self.data_type]
        if target == "binary":
            return raw.cast("binary").alias(self.name)
        # try_cast: mismatch ⇒ NULL (payload_extractor.rs:239-246) even
        # under ANSI mode.
        return raw.try_cast(target).alias(self.name)


@dataclass
class TableSchemaConfig:
    """payload_format + extracted fields (contracts/schema.rs:10-77)."""

    payload_format: str = "json"  # "json" | "binary"
    fields: list[FieldSpec] = field(default_factory=list)


def table_schema_for_fields(fields: list[dict]):
    """The stored schema of a table whose snapshot records ``fields``
    (``{name, json_path, data_type}`` dicts): the canonical event schema
    when there are none, else the system columns with ``payload``
    replaced by the extracted columns plus ``_payload_overflow``."""
    from pyspark.sql import types as T

    from zombi_spark.ingest.batch import EVENT_SCHEMA

    if not fields:
        return EVENT_SCHEMA
    type_of = {
        "string": T.StringType(),
        "int": T.IntegerType(),
        "long": T.LongType(),
        "double": T.DoubleType(),
        "boolean": T.BooleanType(),
        "binary": T.BinaryType(),
    }
    out = [f for f in EVENT_SCHEMA.fields if f.name != "payload"]
    for f in fields:
        out.append(T.StructField(f["name"], type_of[_TYPE_MAP[f["data_type"]]], True))
    out.append(T.StructField("_payload_overflow", T.BinaryType(), True))
    return T.StructType(out)


def remove_json_path(value, parts: list[str]) -> bool:
    """Port of the reference's recursive leaf removal
    (payload_extractor.rs:145-179 ``remove_nested``): remove the leaf at
    ``parts``, prune parents left empty. Returns True when ``value``
    itself is now an empty object (caller prunes it).

    Faithful to the reference's exact rule, including its edge: a parent
    on the extraction path that was ALREADY empty in the input is pruned
    too (``remove_nested``'s ``[key] =>`` arm returns ``map.is_empty()``
    whether or not the remove hit) — e.g. payload ``{"a": {}, "x": 1}``
    with path ``a.b`` overflows to ``{"x": 1}``. Pinned by
    ``test_compute_overflow_ports_reference_rule``."""
    if not parts:
        return False
    if not isinstance(value, dict):
        return False
    if len(parts) == 1:
        value.pop(parts[0], None)
        return not value
    child = value.get(parts[0])
    if child is not None and remove_json_path(child, parts[1:]):
        value.pop(parts[0], None)
    return not value


def compute_overflow(payload_text: str | None, paths: list[list[str]]) -> str | None:
    """Exact overflow for one payload: parse, remove every extracted
    path, prune, serialize compact with sorted keys (serde_json's default
    BTreeMap ordering) — None when nothing remains; a non-object payload
    (array/scalar/unparseable) passes through whole, the reference's
    everything-is-overflow rule (payload_extractor.rs:88-90)."""
    import json

    if payload_text is None:
        return None
    try:
        doc = json.loads(payload_text)
    except ValueError:
        return payload_text
    if not isinstance(doc, dict):
        return payload_text
    for parts in paths:
        remove_json_path(doc, parts)
    if not doc:
        return None
    return json.dumps(doc, separators=(",", ":"), sort_keys=True, ensure_ascii=False)


def _overflow_column_nested(events: DataFrame, config: TableSchemaConfig) -> Column:
    """The exact-tree overflow as an Arrow-batched pandas UDF (see module
    docstring for why Python is the right tool for nested configs)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from zombi_spark.shipping import ensure_package_on_workers

    ensure_package_on_workers(events.sparkSession)
    paths = [f.json_path.split(".") for f in config.fields]

    def _overflow(payload):
        return payload.map(lambda t: compute_overflow(t, paths))

    # annotations set explicitly: the module's `from __future__ import
    # annotations` stringifies inline hints, which the pandas_udf
    # eval-type inference can't resolve for a nested function
    _overflow.__annotations__ = {"payload": pd.Series, "return": pd.Series}
    overflow_udf = pandas_udf(_overflow, "string")
    return overflow_udf(F.col("payload").cast("string"))


def extract_payload(events: DataFrame, config: TableSchemaConfig) -> DataFrame:
    """Apply extraction: system columns + typed columns + _payload_overflow.

    ``payload`` is replaced (iceberg.rs:192-266): extracted fields become
    real columns; the remaining JSON (minus extracted paths, empty parents
    pruned) becomes ``_payload_overflow`` (NULL when nothing is left).
    """
    if config.payload_format != "json" or not config.fields:
        return events

    payload_str = F.col("payload").cast("string")
    top_map_shared = F.from_json(payload_str, "map<string,string>")
    extracted = [spec.column(F.col("payload"), top_map=top_map_shared) for spec in config.fields]

    if any("." in f.json_path for f in config.fields):
        overflow_json = _overflow_column_nested(events, config)
    else:
        # flat-only fast path: drop extracted top-level keys from the
        # shared parsed map — pure Column program, zero Python. A
        # payload that does not parse as a JSON object (array, scalar,
        # malformed → NULL map) passes through WHOLE, the same
        # everything-is-overflow rule as the nested path and the
        # reference (payload_extractor.rs:88-90)
        flat_keys = [f.json_path for f in config.fields]
        pruned = F.map_filter(top_map_shared, lambda k, _v: ~k.isin(flat_keys))
        # serialize with SORTED keys like the nested path and the
        # reference (serde_json BTreeMap): without the sort, adding one
        # nested field to a config would change unrelated rows' overflow
        # bytes (payload-arrival order vs sorted), breaking byte-level
        # comparisons across configs
        pruned = F.map_from_entries(F.array_sort(F.map_entries(pruned)))
        overflow_json = (
            F.when(payload_str.isNull(), F.lit(None).cast("string"))
            .when(top_map_shared.isNull(), payload_str)
            .when(F.size(F.map_keys(pruned)) == 0, F.lit(None).cast("string"))
            .otherwise(F.to_json(pruned))
        )

    system_cols = [c for c in events.columns if c != "payload"]
    return events.select(
        *system_cols,
        *extracted,
        overflow_json.cast("binary").alias("_payload_overflow"),
    )
