"""REST catalog wire surface (S13 server, S14 client):
api/catalog.rs:193-431 routes + storage/catalog.rs:166-216 registration,
and the T12 consumer-offset KV (rocksdb.rs:896-917)."""

import json
import urllib.request

import pytest

from zombi_spark.ingest.batch import RAW_EVENT_SCHEMA, prepare_events
from zombi_spark.streaming.offsets import ConsumerOffsets
from zombi_spark.table.catalog import Catalog
from zombi_spark.table.rest_catalog import (
    CatalogHTTPError,
    RestCatalogClient,
    RestCatalogServer,
)


def _batch(spark, n, topic="t"):
    rows = [(topic, 0, f"p{i}".encode(), 1704067200000 + i * 1000, None, i) for i in range(n)]
    return spark.createDataFrame(rows, RAW_EVENT_SCHEMA)


@pytest.fixture()
def served_catalog(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    cat.create_table("wire-a").append(prepare_events(_batch(spark, 10)))
    cat.create_table("wire-b")
    with RestCatalogServer(cat) as server:
        yield cat, server, RestCatalogClient(server.base_url)


def test_config_and_namespaces(served_catalog):
    cat, _, client = served_catalog
    assert client.config()["overrides"]["warehouse"] == cat.root
    assert client.namespaces() == ["zombi"]


def test_list_and_load(served_catalog):
    import json
    import os

    _, _, client = served_catalog
    assert client.list_tables() == ["wire-a", "wire-b"]
    result = client.load_table("wire-a")
    meta = result["metadata"]
    assert meta["current_version"] == 0
    assert meta["total_rows"] == 10
    assert meta["partition_spec"] == ["event_date", "event_hour"]
    # a committed table serves its Iceberg v2 metadata file (what a real
    # Iceberg REST catalog returns), and the file parses as v2
    loc = result["metadata-location"]
    assert loc.endswith(".metadata.json") and os.path.isfile(loc)
    assert json.load(open(loc))["format-version"] == 2
    # a registered-but-empty table has no Iceberg metadata yet: the REST
    # spec's null metadata-location, never a private non-Iceberg file
    empty = client.load_table("wire-b")
    assert empty["metadata-location"] is None
    assert empty["metadata"]["schema"] is None


def test_head_probe_and_404(served_catalog):
    _, _, client = served_catalog
    assert client.table_exists("wire-a")
    assert not client.table_exists("missing")
    with pytest.raises(CatalogHTTPError) as exc:
        client.load_table("missing")
    assert exc.value.status == 404


def test_unknown_namespace_404(served_catalog):
    _, server, _ = served_catalog
    bad = RestCatalogClient(server.base_url, namespace="wrong")
    with pytest.raises(CatalogHTTPError) as exc:
        bad.list_tables()
    assert exc.value.status == 404


def test_registration_is_idempotent_upsert(served_catalog):
    """storage/catalog.rs:188-199 — create-or-update, already-exists is
    success; the registration lands in the shared persistent registry."""
    cat, _, client = served_catalog
    client.register_table("wire-c")
    client.register_table("wire-c")  # second call must not fail
    assert "wire-c" in client.list_tables()
    assert cat.exists("wire-c")  # visible through the library surface too


def test_registration_validates_table_name(served_catalog):
    _, _, client = served_catalog
    with pytest.raises(CatalogHTTPError) as exc:
        client.register_table("Bad Name!")
    assert exc.value.status == 400


def test_error_envelope_shape(served_catalog):
    """404 body follows the Iceberg REST ErrorModel (api/catalog.rs:320-333)."""
    _, server, _ = served_catalog
    url = f"{server.base_url}/catalog/v1/namespaces/zombi/tables/nope"
    try:
        urllib.request.urlopen(url)
        raise AssertionError("expected 404")
    except urllib.error.HTTPError as err:
        body = json.loads(err.read())
        assert body["error"]["code"] == 404
        assert body["error"]["type"] == "NoSuchTableException"


def test_consumer_offsets_roundtrip(tmp_path):
    """T12: commit/get per (group, partition); unknown group → None."""
    off = ConsumerOffsets(str(tmp_path / "events"))
    assert off.get("g1", 0) is None
    off.commit("g1", 0, 42)
    off.commit("g1", 1, 7)
    off.commit("g2", 0, 99)
    assert off.get("g1", 0) == 42
    assert off.all_for_group("g1") == {0: 42, 1: 7}
    # last-write-wins like the reference's unconditional put
    off.commit("g1", 0, 50)
    assert off.get("g1", 0) == 50
    # persistence: a new instance over the same root sees the offsets
    assert ConsumerOffsets(str(tmp_path / "events")).get("g2", 0) == 99


def test_non_object_json_body_gets_400_envelope(served_catalog):
    """Valid JSON that isn't an object ('[1,2]') must produce the 400
    ErrorModel envelope, not a dropped connection (TypeError was
    escaping the except clause and killing the request thread)."""
    import json
    import urllib.error
    import urllib.request

    _cat, server, _client = served_catalog
    url = f"{server.base_url}/catalog/v1/namespaces/zombi/tables"
    for payload in (b"[1, 2]", b"null", b'"str"'):
        req = urllib.request.Request(
            url, data=payload, method="POST", headers={"Content-Type": "application/json"}
        )
        try:
            urllib.request.urlopen(req, timeout=30)
            raise AssertionError("expected HTTP 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
            body = json.loads(e.read())
            assert body["error"]["code"] == 400
