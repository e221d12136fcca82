"""HTTP surface: the 4 endpoints (HTTP_CLIENT.md:9-14) against a live
ThreadingHTTPServer wrapping the testdata engine — request/response bodies,
error-status mapping, typed-error reconstruction by code."""

from __future__ import annotations

import json
import urllib.request

import pytest

from concept_multi_db_query_engine_spark import http_server, testdata

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def server(spark):
    engine = testdata.build_engine(spark, SF_DIR)
    srv = http_server.serve_background(engine)
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _post(base, path, payload):
    req = urllib.request.Request(
        base + path,
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _get(base, path):
    with urllib.request.urlopen(base + path) as resp:
        return resp.status, json.loads(resp.read())


def test_query_execute(server):
    status, body = _post(server, "/query", {
        "definition": {
            "from": "nation",
            "columns": ["n_nationkey", "n_name"],
            "orderBy": [{"column": "n_nationkey", "direction": "asc"}],
            "limit": 3,
        }
    })
    assert status == 200
    assert body["kind"] == "data"
    assert [r["n_nationkey"] for r in body["data"]] == [0, 1, 2]
    assert body["meta"]["strategy"] in ("direct", "single-database")


def test_query_count_mode(server):
    status, body = _post(server, "/query", {
        "definition": {"from": "region", "executeMode": "count"}
    })
    assert status == 200 and body["kind"] == "count" and body["count"] == 5


def test_query_sql_only(server):
    status, body = _post(server, "/query", {
        "definition": {
            "from": "region",
            "columns": ["r_name"],
            "executeMode": "sql-only",
        }
    })
    assert status == 200 and body["kind"] == "sql"
    assert "SELECT" in body["sql"] and "region" in body["sql"]


def test_validation_error_maps_to_400(server):
    status, body = _post(server, "/query", {
        "definition": {"from": "nope"}
    })
    assert status == 400
    assert body["code"] == "VALIDATION_ERROR"
    assert any(e["code"] == "UNKNOWN_TABLE" for e in body["errors"])


def test_validate_query_endpoint_collects_issues(server):
    status, body = _post(server, "/validate/query", {
        "definition": {
            "from": "nation",
            "columns": ["bogus"],
            "filters": [{"column": "n_name", "operator": ">",
                         "value": True}],
        }
    })
    assert status == 200 and body["valid"] is False
    codes = {e["code"] for e in body["errors"]}
    assert "UNKNOWN_COLUMN" in codes


def test_validate_config_endpoint(server):
    status, body = _post(server, "/validate/config", {
        "metadata": {
            "databases": [{"id": "db1", "engine": "spark"}],
            "tables": [{
                "id": "t1", "apiName": "BadName", "database": "db1",
                "physicalName": "t1", "primaryKey": ["id"],
                "columns": [{"apiName": "id", "physicalName": "id",
                             "type": "int"}],
            }],
        },
        "roles": [],
    })
    assert status == 200 and body["valid"] is False
    assert any(e["code"] == "INVALID_API_NAME" for e in body["errors"])


def test_health(server):
    status, body = _get(server, "/health")
    assert status == 200 and body["healthy"] is True
    assert body["executors"]  # HealthCheckResult shape (C1300)


def test_unknown_path_404(server):
    status, body = _post(server, "/nope", {})
    assert status == 404


def test_malformed_json_400(server):
    req = urllib.request.Request(
        server + "/query", data=b"{not json", method="POST"
    )
    try:
        with urllib.request.urlopen(req) as resp:
            status = resp.status
    except urllib.error.HTTPError as e:
        status = e.code
    assert status == 400


def test_query_sql_only_reports_engine_dialect(spark):
    """Transport drift check for the multi-dialect surface: a pg-engine
    database's sql-only response carries dialect 'postgres' and the
    pg-rendered text ($N placeholders) across the HTTP boundary."""
    from tests import fixtures

    from concept_multi_db_query_engine_spark import MultiDb

    engine = MultiDb(spark, fixtures.METADATA, fixtures.ROLES,
                     fixtures.build_registry(spark))
    srv = http_server.serve_background(engine)
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        status, body = _post(base, "/query", {
            "definition": {
                "from": "orders", "columns": ["id"],
                "filters": [{"column": "status", "operator": "=",
                             "value": "active"}],
                "executeMode": "sql-only",
            },
            "context": {"roles": {"user": ["admin"]}},
        })
        assert status == 200 and body["kind"] == "sql"
        assert body["meta"]["dialect"] == "postgres"
        assert "$1" in body["sql"]
        assert body["params"] == ["active"]
    finally:
        srv.shutdown()


def test_keep_alive_serves_several_requests_on_one_connection(server):
    """HTTP/1.1: two queries and a 404 over one connection, each reply
    framed by its Content-Length, all from the same client port."""
    import http.client
    from urllib.parse import urlsplit

    port = urlsplit(server).port
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    try:
        replies, ports = [], set()
        for path, payload in [
            ("/query", {"definition": {"from": "region",
                                       "executeMode": "count"}}),
            ("/nope", {}),
            ("/query", {"definition": {
                "from": "nation", "columns": ["n_nationkey"],
                "orderBy": [{"column": "n_nationkey", "direction": "asc"}],
                "limit": 2}}),
        ]:
            conn.request("POST", path, json.dumps(payload).encode(),
                         {"Content-Type": "application/json"})
            ports.add(conn.sock.getsockname()[1])
            resp = conn.getresponse()
            assert resp.version == 11
            body = resp.read()
            assert int(resp.getheader("Content-Length")) == len(body)
            replies.append((resp.status, json.loads(body)))
    finally:
        conn.close()
    assert len(ports) == 1
    assert replies[0][0] == 200 and replies[0][1]["count"] == 5
    assert replies[1][0] == 404 and replies[1][1]["code"] == "NOT_FOUND"
    assert replies[2][0] == 200
    assert [r["n_nationkey"] for r in replies[2][1]["data"]] == [0, 1]


def test_client_disconnect_sends_nothing_more_and_logs_no_traceback():
    """A client that leaves before its reply: the failed write is the last
    one on that connection (no 500 on the dead socket), the server records
    no error, and it goes on serving."""
    import socket
    import struct
    import sys
    import threading

    started, left = threading.Event(), threading.Event()
    done = threading.Event()
    sends: list[int] = []

    class _SlowEngine:
        def query(self, definition, context=None):
            started.set()
            left.wait(10)
            return {"kind": "count", "count": 1}

        def health_check(self):
            return {"status": "ok"}

    srv = http_server.make_server(_SlowEngine())

    class _Handler(srv.RequestHandlerClass):
        def _send(self, status, payload):
            sends.append(status)
            super()._send(status, payload)

        def finish(self):
            super().finish()
            done.set()

    srv.RequestHandlerClass = _Handler
    errors: list[BaseException] = []
    srv.handle_error = lambda request, addr: errors.append(
        sys.exc_info()[1])
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    port = srv.server_address[1]
    try:
        body = json.dumps({"definition": {"from": "region"}}).encode()
        sock = socket.create_connection(("127.0.0.1", port), timeout=10)
        sock.sendall(
            b"POST /query HTTP/1.1\r\nHost: x\r\n"
            b"Content-Type: application/json\r\n"
            b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n"
            + body)
        assert started.wait(10)
        # close with a reset, so the server's write fails at once
        sock.setsockopt(socket.SOL_SOCKET, socket.SO_LINGER,
                        struct.pack("ii", 1, 0))
        sock.close()
        left.set()
        assert done.wait(10)
        assert sends == [200]
        assert errors == []
        assert _get(f"http://127.0.0.1:{port}", "/health") == (
            200, {"status": "ok"})
    finally:
        srv.shutdown()
        srv.server_close()
