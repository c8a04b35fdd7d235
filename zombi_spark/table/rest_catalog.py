"""Iceberg-REST-shaped catalog server + client (S13 / S14).

The reference exposes a read-only Iceberg REST catalog over its table
registry (api/mod.rs:23-37 mounts it; api/catalog.rs:193-431 implements
``GET /catalog/v1/config``, ``GET .../namespaces``,
``GET .../namespaces/{ns}/tables``, ``GET`` + ``HEAD``
``.../namespaces/{ns}/tables/{name}``) so external engines can discover
and plan over its tables.  The registration side is a separate HTTP
*client* the ingest path writes through after each commit
(storage/catalog.rs:33,166-216 — idempotent create-or-update).

Spark-first mapping: the catalog itself is the library
:class:`~zombi_spark.table.catalog.Catalog` (a warehouse-rooted JSON
registry); this module adds the wire protocol on top with stdlib
``http.server`` — no web framework ships in this container.  The server
is read-only exactly like the reference, with ONE documented extension:
``POST /catalog/v1/namespaces/{ns}/tables`` accepts a registration so
that :class:`RestCatalogClient` (the storage/catalog.rs analogue) can be
exercised end-to-end against our own server instead of an external
Polaris/Nessie.  Every response shape follows the Iceberg REST catalog
OpenAPI the reference copies (config/defaults+overrides, namespaces as
string arrays, table identifiers as {namespace, name}).

Scale notes: all handlers are O(registry) driver-side metadata — the
heaviest (`load`) reads one table-metadata JSON plus one snapshot JSON;
no data files are ever opened.  The server is a daemon
``ThreadingHTTPServer``: concurrent GETs don't serialize, and registry
writes stay atomic because the underlying Catalog rewrites via
tmp+rename.
"""

from __future__ import annotations

import json
import threading
import urllib.error
import urllib.parse
import urllib.request
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from zombi_spark.table.catalog import Catalog, TableNotFoundError

_PREFIX = "/catalog/v1"


class CatalogHTTPError(Exception):
    """Non-2xx from the catalog server (the client-side 404/409 mapping,
    storage/catalog.rs:200-214)."""

    def __init__(self, status: int, body: str):
        super().__init__(f"HTTP {status}: {body}")
        self.status = status


def _metadata_location(table_path: str) -> str | None:
    """The Iceberg v2 ``v{N}.metadata.json`` when the table has one
    (resolved via version-hint — what a real Iceberg REST catalog serves),
    else None: a table with no commit yet has no Iceberg metadata, and
    the REST spec allows a null ``metadata-location``."""
    import os

    hint = os.path.join(table_path, "metadata", "version-hint.text")
    if not os.path.isfile(hint):
        return None
    with open(hint) as fh:
        v = fh.read().strip()
    return os.path.join(table_path, "metadata", f"v{v}.metadata.json")


def _error_body(status: int, message: str) -> bytes:
    # the Iceberg REST ErrorModel envelope (api/catalog.rs:320-333 returns
    # the same shape for its 404s)
    return json.dumps(
        {"error": {"message": message, "type": "NoSuchTableException" if status == 404 else "BadRequestException", "code": status}}
    ).encode()


class _Handler(BaseHTTPRequestHandler):
    """Routes (api/catalog.rs:193-431):

    GET  {p}/config                                  → warehouse config
    GET  {p}/namespaces                              → [["zombi"]]
    GET  {p}/namespaces/{ns}                         → namespace props
    GET  {p}/namespaces/{ns}/tables                  → identifiers
    GET  {p}/namespaces/{ns}/tables/{name}           → LoadTableResult
    HEAD {p}/namespaces/{ns}/tables/{name}           → 200/404 probe
    POST {p}/namespaces/{ns}/tables                  → register (extension)
    """

    server_version = "zombi-spark-catalog/1.0"
    protocol_version = "HTTP/1.1"

    def log_message(self, *args) -> None:  # quiet under pytest
        pass

    @property
    def catalog(self) -> Catalog:
        return self.server.catalog  # type: ignore[attr-defined]

    def _send(self, status: int, payload: bytes, head_only: bool = False) -> None:
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        if not head_only:
            self.wfile.write(payload)

    def _send_json(self, obj, status: int = 200) -> None:
        self._send(status, json.dumps(obj).encode())

    def _route(self) -> tuple[str, list[str]]:
        path = urllib.parse.urlparse(self.path).path.rstrip("/")
        if not path.startswith(_PREFIX):
            return "", []
        return path, [urllib.parse.unquote(p) for p in path[len(_PREFIX):].split("/") if p]

    def _namespace_ok(self, ns: str) -> bool:
        return ns in self.catalog.namespaces()

    def _dispatch(self, handler) -> None:
        """Every handler answers with the ErrorModel envelope, even on an
        unexpected exception (corrupt registry JSON, unreadable table
        metadata) — a bare traceback would close the socket with no
        response and the client would see a connection error instead of
        the documented 5xx body."""
        try:
            handler()
        except Exception as exc:  # noqa: BLE001 — the envelope of last resort
            try:
                self._send(500, _error_body(500, f"{type(exc).__name__}: {exc}"))
            except OSError:
                pass  # client already gone

    def do_GET(self) -> None:  # noqa: N802 (http.server API)
        self._dispatch(self._get)

    def do_HEAD(self) -> None:  # noqa: N802
        self._dispatch(self._head)

    def do_POST(self) -> None:  # noqa: N802
        self._dispatch(self._post)

    def _get(self) -> None:
        _, parts = self._route()
        if parts == ["config"]:
            # api/catalog.rs:193-214 — hand the engine its warehouse root
            self._send_json({"defaults": {}, "overrides": {"warehouse": self.catalog.root}})
        elif parts == ["namespaces"]:
            self._send_json({"namespaces": [[n] for n in self.catalog.namespaces()]})
        elif len(parts) == 2 and parts[0] == "namespaces":
            if self._namespace_ok(parts[1]):
                self._send_json({"namespace": [parts[1]], "properties": {}})
            else:
                self._send(404, _error_body(404, f"namespace {parts[1]} not found"))
        elif len(parts) == 3 and parts[0] == "namespaces" and parts[2] == "tables":
            if not self._namespace_ok(parts[1]):
                self._send(404, _error_body(404, f"namespace {parts[1]} not found"))
                return
            self._send_json(
                {"identifiers": [{"namespace": [parts[1]], "name": n} for n in self.catalog.list_tables()]}
            )
        elif len(parts) == 4 and parts[0] == "namespaces" and parts[2] == "tables":
            try:
                info = self.catalog.head(parts[3])
            except TableNotFoundError:
                self._send(404, _error_body(404, f"table {parts[3]} not found"))
                return
            # LoadTableResult shape (api/catalog.rs:293-333): metadata
            # location + the metadata we track (schema / spec / snapshot)
            self._send_json(
                {
                    "metadata-location": _metadata_location(info["path"]),
                    "metadata": info,
                    "config": {},
                }
            )
        else:
            self._send(404, _error_body(404, "no such route"))

    def _head(self) -> None:
        _, parts = self._route()
        if len(parts) == 4 and parts[0] == "namespaces" and parts[2] == "tables":
            # api/catalog.rs:414-431 — existence probe, empty body
            exists = self._namespace_ok(parts[1]) and self.catalog.exists(parts[3])
            self._send(200 if exists else 404, b"", head_only=True)
        else:
            self._send(404, b"", head_only=True)

    def _post(self) -> None:
        _, parts = self._route()
        if len(parts) == 3 and parts[0] == "namespaces" and parts[2] == "tables":
            if not self._namespace_ok(parts[1]):
                self._send(404, _error_body(404, f"namespace {parts[1]} not found"))
                return
            length = int(self.headers.get("Content-Length", 0))
            try:
                body = json.loads(self.rfile.read(length) or b"{}")
                name = body["name"]
            except (ValueError, KeyError, TypeError):
                # TypeError: valid JSON that isn't an object ('[1,2]', 'null')
                self._send(400, _error_body(400, "body must be JSON with a 'name' field"))
                return
            try:
                entry = self.catalog.register(name, body.get("location"))
            except ValueError as exc:  # table-name validation (P9)
                self._send(400, _error_body(400, str(exc)))
                return
            self._send_json(
                {"metadata-location": _metadata_location(entry["path"]), "metadata": entry},
                status=200,
            )
        else:
            self._send(405, _error_body(405, "read-only catalog: only table registration accepts POST"))


class RestCatalogServer:
    """Daemon-threaded catalog server over a :class:`Catalog`.

    Use as a context manager or call :meth:`start` / :meth:`stop`.
    ``port=0`` binds an ephemeral port (tests); the bound address is
    available as :attr:`base_url` after start.
    """

    def __init__(self, catalog: Catalog, host: str = "127.0.0.1", port: int = 0):
        self.catalog = catalog
        self._host, self._port = host, port
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    @property
    def base_url(self) -> str:
        assert self._httpd is not None, "server not started"
        host, port = self._httpd.server_address[:2]
        return f"http://{host}:{port}"

    def start(self) -> "RestCatalogServer":
        self._httpd = ThreadingHTTPServer((self._host, self._port), _Handler)
        self._httpd.catalog = self.catalog  # type: ignore[attr-defined]
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None

    def __enter__(self) -> "RestCatalogServer":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()


class RestCatalogClient:
    """The registration/read client (S14, storage/catalog.rs:33,166-216).

    The reference's client registers table metadata with an external REST
    catalog after each commit and treats "already exists" as success
    (idempotent upsert, storage/catalog.rs:188-199).  Same here:
    :meth:`register_table` POSTs and succeeds whether the table is new or
    known; reads mirror the server's GET surface.
    """

    def __init__(self, base_url: str, namespace: str = "zombi", timeout: float = 10.0):
        self.base_url = base_url.rstrip("/")
        self.namespace = namespace
        self.timeout = timeout

    # ------------------------------------------------------------- plumbing
    def _request(self, method: str, path: str, body: dict | None = None):
        url = f"{self.base_url}{_PREFIX}{path}"
        data = json.dumps(body).encode() if body is not None else None
        req = urllib.request.Request(url, data=data, method=method, headers={"Content-Type": "application/json"})
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                raw = resp.read()
                return resp.status, (json.loads(raw) if raw else None)
        except urllib.error.HTTPError as exc:
            if method == "HEAD":
                return exc.code, None
            raise CatalogHTTPError(exc.code, exc.read().decode(errors="replace")) from None

    # ----------------------------------------------------------- read (S13)
    def config(self) -> dict:
        return self._request("GET", "/config")[1]

    def namespaces(self) -> list[str]:
        return [ns[0] for ns in self._request("GET", "/namespaces")[1]["namespaces"]]

    def list_tables(self) -> list[str]:
        _, body = self._request("GET", f"/namespaces/{self.namespace}/tables")
        return sorted(ident["name"] for ident in body["identifiers"])

    def load_table(self, name: str) -> dict:
        return self._request("GET", f"/namespaces/{self.namespace}/tables/{name}")[1]

    def table_exists(self, name: str) -> bool:
        status, _ = self._request("HEAD", f"/namespaces/{self.namespace}/tables/{name}")
        return status == 200

    # --------------------------------------------------- registration (S14)
    def register_table(self, name: str, location: str | None = None) -> dict:
        """Idempotent create-or-update (storage/catalog.rs:166-216)."""
        body: dict = {"name": name}
        if location:
            body["location"] = location
        return self._request("POST", f"/namespaces/{self.namespace}/tables", body)[1]
