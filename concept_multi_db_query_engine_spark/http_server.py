"""HTTP surface over a MultiDb engine — the reference's 4 endpoints
(HTTP_CLIENT.md:9-14) on the standard library's threading HTTP server:

    POST /query            -> run a typed query (all execute modes)
    GET  /health           -> per-provider health/latency
    POST /validate/query   -> zero-I/O query validation (issue list)
    POST /validate/config  -> zero-I/O config validation (issue list)

Error-status mapping per HTTP_CLIENT.md:22-29: Validation/Config -> 400,
Planner -> 422, Execution -> 500, Connection/Provider -> 503. Bodies are the
errors' ``to_json()`` shapes, so a client can reconstruct typed errors from
the ``code`` field (HTTP_CLIENT.md:78-83).

The validation endpoints touch no Spark/executor state (CONTRACT_TESTS.md:12,
C1608): they run the pure-Python validation layer only.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any

from .config_validation import validate_config
from .errors import (
    ConfigError,
    ConnectionError,
    ExecutionError,
    MultiDbError,
    PlannerError,
    ProviderError,
    ValidationError,
)
from .metadata import Metadata, RoleMeta
from .pipeline import MultiDb

_STATUS = [
    ((ValidationError, ConfigError), 400),
    ((PlannerError,), 422),
    ((ConnectionError, ProviderError), 503),
    ((ExecutionError,), 500),
]


def _status_of(exc: MultiDbError) -> int:
    for classes, status in _STATUS:
        if isinstance(exc, classes):
            return status
    return 500


def _json_default(value: Any) -> Any:
    if hasattr(value, "isoformat"):
        return value.isoformat()
    return str(value)


class _Handler(BaseHTTPRequestHandler):
    engine: MultiDb  # set by make_server
    # keep-alive: a client may send many requests over one connection;
    # every reply carries Content-Length, which HTTP/1.1 framing needs
    protocol_version = "HTTP/1.1"

    # silence default stderr access logging
    def log_message(self, *args: Any) -> None:  # noqa: D102
        pass

    def _send(self, status: int, payload: dict[str, Any]) -> None:
        body = json.dumps(payload, default=_json_default).encode()
        try:
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
        except (BrokenPipeError, ConnectionResetError):
            # the client has gone: there is no one to send an error to
            self.close_connection = True

    def _read_json(self) -> dict[str, Any]:
        length = int(self.headers.get("Content-Length", 0))
        raw = self.rfile.read(length) if length else b"{}"
        return json.loads(raw)

    def do_GET(self) -> None:  # noqa: N802
        if self.path.rstrip("/") == "/health":
            self._send(200, self.engine.health_check())
        else:
            self._send(404, {"code": "NOT_FOUND", "message": self.path})

    def do_POST(self) -> None:  # noqa: N802
        path = self.path.rstrip("/")
        try:
            body = self._read_json()
        except (json.JSONDecodeError, ValueError) as exc:
            # the body may be unread (bad Content-Length): the connection
            # cannot frame a next request
            self.close_connection = True
            self._send(400, {"code": "INVALID_JSON", "message": str(exc)})
            return
        try:
            if path == "/query":
                result = self.engine.query(
                    body.get("definition", {}), body.get("context")
                )
                self._send(200, result)
            elif path == "/validate/query":
                issues = self.engine.validate_query(
                    body.get("definition", {}), body.get("context")
                )
                self._send(200, {"valid": not issues, "errors": issues})
            elif path == "/validate/config":
                try:
                    validate_config(
                        Metadata.from_dict(body.get("metadata", {})),
                        [RoleMeta.from_dict(r) for r in body.get("roles", [])],
                        strict_api_names=body.get("strictApiNames", True),
                    )
                    self._send(200, {"valid": True, "errors": []})
                except ConfigError as exc:
                    self._send(
                        200,
                        {"valid": False,
                         "errors": exc.to_json().get("errors", [])},
                    )
            else:
                self._send(404, {"code": "NOT_FOUND", "message": path})
        except MultiDbError as exc:
            self._send(_status_of(exc), exc.to_json())
        except Exception as exc:  # noqa: BLE001 - surface as 500, never crash
            self._send(500, {"code": "INTERNAL_ERROR", "message": str(exc)})


def make_server(engine: MultiDb, port: int = 0) -> ThreadingHTTPServer:
    """Bind (not yet serving) an HTTP server on ``port`` (0 = ephemeral).
    Call ``serve_forever()`` or use ``serve_background``."""
    handler = type("BoundHandler", (_Handler,), {"engine": engine})
    return ThreadingHTTPServer(("127.0.0.1", port), handler)


def serve_background(engine: MultiDb, port: int = 0) -> ThreadingHTTPServer:
    """Start the server on a daemon thread; returns the server (its
    ``server_address[1]`` is the bound port). ``shutdown()`` to stop."""
    server = make_server(engine, port)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    return server
