"""Protocol-parity tests for the HTTP msgpack-RPC gateway façade —
driven through a real socket with http.client, like a reference client."""

from __future__ import annotations

import http.client
import zlib

import pytest

from hive_gateway_spark.functions.msgpack_codec import packb, unpackb
from hive_gateway_spark.server import GatewayServer, classify_token


@pytest.fixture(scope="module")
def gateway(spark, sf_dir):
    srv = GatewayServer(spark, sf_dir, domain="admin", enable_sql=True).start()
    yield srv
    srv.stop()


def rpc(port, mod, fun, arg=None, token="sess-token-1", headers=None, raw_body=None):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    body = raw_body if raw_body is not None else packb(
        {"mod": mod, "fun": fun, "arg": arg, "ctx": {"wxuser": token}}
    )
    conn.request("POST", "/", body=body, headers=headers or {})
    resp = conn.getresponse()
    data = resp.read()
    conn.close()
    return resp, data


def test_query_module_matches_direct_execution(gateway, spark, sf_dir):
    from hive_gateway_spark import registry

    resp, data = rpc(gateway.port, "query", "q_agg_group")
    assert resp.status == 200
    out = unpackb(data)
    direct = registry.QUERIES["q_agg_group"](spark, sf_dir).collect()
    assert out["n"] == len(direct)
    assert set(out["columns"]) == set(direct[0].asDict().keys())


def test_sql_module(gateway):
    resp, data = rpc(gateway.port, "sql", "exec", {"sql": "SELECT COUNT(*) AS n FROM lineitem"})
    assert resp.status == 200
    out = unpackb(data)
    assert out["rows"][0][0] > 0


def test_sql_module_disabled_by_default(spark, sf_dir):
    srv = GatewayServer(spark, sf_dir, domain="admin").start()
    try:
        resp, body = rpc(srv.port, "sql", "exec", {"sql": "SELECT 1 AS one"})
        assert resp.status == 404 and b"Module not found" in body
    finally:
        srv.stop()


def test_sql_module_serializes_date_columns(gateway):
    resp, data = rpc(
        gateway.port, "sql", "exec",
        {"sql": "SELECT CAST('2024-03-01' AS DATE) AS d"},
    )
    assert resp.status == 200
    assert unpackb(data)["rows"][0][0] == "2024-03-01"


def test_pinned_cors_origin(spark, sf_dir):
    srv = GatewayServer(
        spark, sf_dir, domain="admin", allowed_origin="http://pinned.test"
    ).start()
    try:
        resp, _ = rpc(
            srv.port, "catalog", "tables",
            token="pin-tok-1", headers={"Origin": "http://evil.test"},
        )
        assert resp.getheader("Access-Control-Allow-Origin") == "http://pinned.test"
    finally:
        srv.stop()


def test_catalog_module(gateway):
    resp, data = rpc(gateway.port, "catalog", "tables")
    assert resp.status == 200
    assert "lineitem" in unpackb(data)["tables"]


def test_non_post_is_405(gateway):
    conn = http.client.HTTPConnection("127.0.0.1", gateway.port, timeout=10)
    conn.request("GET", "/")
    resp = conn.getresponse()
    body = resp.read()
    conn.close()
    assert resp.status == 405 and b"Invalid rpc call" in body


def test_unknown_module_is_404(gateway):
    resp, body = rpc(gateway.port, "nope", "nothing")
    assert resp.status == 404 and b"Module not found" in body
    resp, _ = rpc(gateway.port, "query", "q_does_not_exist")
    assert resp.status == 404


def test_invalid_envelope_is_400(gateway):
    resp, _ = rpc(gateway.port, "x", "y", raw_body=b"\xc1garbage")
    assert resp.status == 400


def test_rate_limit_429(gateway):
    token = "burst-token-x"
    statuses = [rpc(gateway.port, "catalog", "tables", token=token)[0].status for _ in range(14)]
    assert statuses.count(200) == 10 and statuses.count(429) == 4


def test_compression_negotiation_deflate(gateway):
    # big result → deflate when the client accepts it (gateway.ts:108-132)
    resp, data = rpc(
        gateway.port,
        "query",
        "q_scan_project",
        token="deflate-tok-000000000000001",
        headers={"Accept-Encoding": "deflate"},
    )
    assert resp.status == 200
    assert resp.getheader("Content-Encoding") == "deflate"
    out = unpackb(zlib.decompress(data))
    assert out["n"] > 0


def test_negotiate_word_boundary():
    from hive_gateway_spark.server import negotiate

    big = b"x" * 2048
    # 'nodeflate' must not select deflate (ref /\bdeflate\b/, gateway.ts:83
    # — substring matching would); 'x-deflate' DOES match \bdeflate\b (the
    # hyphen is a word boundary), same as the ref regex and binary.py:90.
    body, enc = negotiate(big, "nodeflate")
    assert enc is None and body == big
    _, enc = negotiate(big, "nodeflate, gzip")
    assert enc == "gzip"
    _, enc = negotiate(big, "deflate")
    assert enc == "deflate"
    _, enc = negotiate(big, "x-deflate")
    assert enc == "deflate"


def test_cors_echoes_origin(gateway):
    resp, _ = rpc(
        gateway.port, "catalog", "tables",
        token="cors-tok-1", headers={"Origin": "http://example.test"},
    )
    assert resp.getheader("Access-Control-Allow-Origin") == "http://example.test"


def test_mobile_domain_redirects_anonymous(spark, sf_dir):
    srv = GatewayServer(spark, sf_dir, domain="mobile").start()
    try:
        resp, _ = rpc(srv.port, "catalog", "tables", token=None)
        assert resp.status == 307
        assert resp.getheader("Location") == "AUTHORIZE-URL"
    finally:
        srv.stop()


def test_token_classifier_matches_reference_shapes():
    assert classify_token("x" * 28) == "wx"
    assert classify_token("00000013-0013-0013-0013-000000000013") == "uuid"
    assert classify_token("sess:42") == "session"
    assert classify_token(None) == "anonymous"
    # JS `if (token)` truthiness (gateway.ts:200): every falsy wire value
    # is anonymous, not session
    assert classify_token(0) == "anonymous"
    assert classify_token(False) == "anonymous"
    assert classify_token("") == "anonymous"
    # 36 chars with wrong dash positions → session (ref checks positions only)
    assert classify_token("a" * 36) == "session"


def test_request_log_has_latency(gateway):
    before = len(gateway.log)
    rpc(gateway.port, "catalog", "tables", token="log-tok-1")
    assert len(gateway.log) > before
    entry = gateway.log[-1]
    assert entry["mod"] == "catalog" and entry["ms"] >= 0


def test_options_preflight_gets_cors(gateway):
    conn = http.client.HTTPConnection("127.0.0.1", gateway.port, timeout=10)
    conn.request("OPTIONS", "/", headers={"Origin": "http://app.test"})
    resp = conn.getresponse()
    resp.read()
    conn.close()
    assert resp.status == 405  # every non-POST answers 405 + CORS headers
    assert resp.getheader("Access-Control-Allow-Origin") == "http://app.test"
    assert resp.getheader("Access-Control-Allow-Methods") == "POST"


def test_non_string_token_is_session_not_crash(gateway):
    body = packb({"mod": "catalog", "fun": "tables", "arg": None, "ctx": {"wxuser": 42}})
    resp, data = rpc(gateway.port, "-", "-", raw_body=body)
    assert resp.status == 200
    assert "tables" in unpackb(data)


def test_unknown_module_does_not_consume_rate_limit(gateway):
    token = "probe-token-404"
    for _ in range(15):  # would exhaust the 10/s budget if counted
        resp, _ = rpc(gateway.port, "nope", "x", token=token)
        assert resp.status == 404
    resp, _ = rpc(gateway.port, "catalog", "tables", token=token)
    assert resp.status == 200  # budget untouched by 404s


def test_rejections_are_logged(gateway):
    before = len(gateway.log)
    rpc(gateway.port, "nope", "x", token="rej-log-tok")
    assert len(gateway.log) > before
    assert gateway.log[-1]["status"] == 404


def test_request_log_is_bounded(spark, sf_dir):
    """A long-lived server keeps the newest LOG_MAXLEN calls, not one
    log entry per call ever made."""
    from hive_gateway_spark.server import LOG_MAXLEN

    srv = GatewayServer(spark, sf_dir)
    try:
        for i in range(LOG_MAXLEN + 1):
            srv._log_call("query", f"q{i}", "session", 200, 0.0)
        assert len(srv.log) == LOG_MAXLEN
        assert srv.log[-1]["fun"] == f"q{LOG_MAXLEN}"
    finally:
        srv._httpd.server_close()
