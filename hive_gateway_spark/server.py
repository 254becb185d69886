"""HTTP msgpack-RPC gateway façade — the reference's wire protocol,
backed by the Spark engine.

A user of titan/hive-gateway talks msgpack-RPC over HTTP POST
(gateway.ts:174-331). This module speaks that protocol verbatim so such
a client can switch without changes; behind the socket, `mod.fun(arg)`
resolves to engine queries instead of nanomsg backends:

    mod = "query"  fun = <queries() key>        → run the operator
    mod = "sql"    fun = "exec", arg = SQL text → spark.sql on the views
    mod = "catalog" fun = "tables"              → list registered tables

Reference behaviors reproduced 1:1 (each cites gateway.ts):
  POST-only (405 "Invalid rpc call", :183,304-308) · CORS echo
  (:175-181) · token classification 28/uuid/session (:203,225-226) ·
  anonymous policy per domain (:264-286: admin → shared "anonymous"
  bucket, mobile → 307) · per-token rate limit, 10 req / 1 s fixed
  window (*intended* semantics — the reference's RPUSHX bug made it a
  no-op, SURVEY §2.1 O16; we enforce it) · 404 unknown module
  (:296-298) · size-gated response compression >1024 B, deflate
  preferred then gzip (:108-132) · structured JSON request log with
  per-call latency ms (:78-81, :316).

The server is driver-side protocol plumbing (threads + sockets); all
data work happens in Spark. It exists to prove protocol parity and for
interactive use — batch/streaming jobs remain the engine's main doors.
"""

from __future__ import annotations

import gzip
import io
import re
import threading
import time
import zlib
from collections import defaultdict, deque
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import SparkSession

from hive_gateway_spark import registry
from hive_gateway_spark.functions.binary import COMPRESS_MIN_BYTES
from hive_gateway_spark.functions.msgpack_codec import packb, unpackb
from hive_gateway_spark.session import TABLES, load_tables

#: Reference constants (gateway.ts:144, :149); the compression
#: threshold (:110) is functions/binary.py's COMPRESS_MIN_BYTES.
RATE_LIMIT = 10
RATE_WINDOW_S = 1.0

#: Request-log entries kept: the log is a ring, so a long-lived server
#: holds the newest LOG_MAXLEN calls, not one entry per call ever made.
LOG_MAXLEN = 10_000


class RateLimiter:
    """Fixed 1 s window, N requests per token — the intended semantics of
    gateway.ts:139-171 (Redis list + TTL), in-process."""

    def __init__(self, limit: int = RATE_LIMIT, window_s: float = RATE_WINDOW_S):
        self.limit = limit
        self.window_s = window_s
        self._hits: dict[str, deque] = defaultdict(deque)
        self._lock = threading.Lock()

    def allow(self, token: str, now: float | None = None) -> bool:
        now = time.monotonic() if now is None else now
        with self._lock:
            q = self._hits[token]
            while q and now - q[0] >= self.window_s:
                q.popleft()
            if len(q) >= self.limit:
                return False
            q.append(now)
            # prune fully-expired buckets so unique-token traffic cannot
            # grow memory without bound (the Redis-TTL analog)
            if len(self._hits) > 10_000:
                dead = [k for k, v in self._hits.items() if not v or now - v[-1] >= self.window_s]
                for k in dead:
                    del self._hits[k]
            return True


def classify_token(token) -> str:
    """gateway.ts:203, 225-226: 28 chars → wx; 36 chars with dashes at
    (1-based) 9/14/19/24 → raw-uuid rescue; else session. ANY falsy wire
    value (None, "", 0, False — the ref's `if (token)` at gateway.ts:200
    is a JS truthiness check) is anonymous; truthy non-strings fall
    through to the session path like the ref's duck-typed `token.length`."""
    if not token:
        return "anonymous"
    if not isinstance(token, str):
        return "session"
    if len(token) == 28:
        return "wx"
    if len(token) == 36 and all(token[i] == "-" for i in (8, 13, 18, 23)):
        return "uuid"
    return "session"


def negotiate(payload: bytes, accept_encoding: str) -> tuple[bytes, str | None]:
    """gateway.ts:82-133 size-gated compression; deflate preferred.

    Word-boundary match like the ref's /\\bdeflate\\b/ (gateway.ts:83)
    and the column-level negotiate_compression (functions/binary.py) —
    'x-deflate' must NOT select deflate."""
    if len(payload) <= COMPRESS_MIN_BYTES:
        return payload, None
    if re.search(r"\bdeflate\b", accept_encoding):
        return zlib.compress(payload), "deflate"
    if re.search(r"\bgzip\b", accept_encoding):
        buf = io.BytesIO()
        with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as f:
            f.write(payload)
        return buf.getvalue(), "gzip"
    return payload, None


class GatewayServer:
    """Threaded HTTP server bound to an engine SparkSession."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        domain: str = "admin",
        host: str = "127.0.0.1",
        port: int = 0,
        max_rows: int = 10_000,
        enable_sql: bool = False,
        allowed_origin: str | None = None,
    ):
        """``enable_sql`` gates the ``sql.exec`` module (arbitrary Spark
        SQL — including path-table file reads) behind an explicit opt-in:
        combined with CORS origin-echo it would otherwise let any web
        page in a local browser run SQL against the loopback port, a
        surface the reference never had (it only routed to pre-registered
        backend modules). ``allowed_origin`` pins CORS to one origin
        instead of echoing; the server must only ever bind loopback."""
        registry.load_all()
        self.spark = spark
        self.sf_dir = sf_dir
        self.domain = domain
        self.max_rows = max_rows
        self.enable_sql = enable_sql
        self.allowed_origin = allowed_origin
        self.limiter = RateLimiter()
        self.log: deque[dict] = deque(maxlen=LOG_MAXLEN)
        load_tables(spark, sf_dir)
        gw = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # route http.server noise to our log
                pass

            def _headers(self, code: int, extra: dict | None = None):
                self._last_code = code
                self.send_response(code)
                origin = gw.allowed_origin or self.headers.get("Origin") or "*"
                self.send_header("Access-Control-Allow-Origin", origin)
                self.send_header("Access-Control-Allow-Credentials", "true")
                self.send_header("Access-Control-Allow-Methods", "POST")
                for k, v in (extra or {}).items():
                    self.send_header(k, v)
                self.end_headers()

            def do_GET(self):  # any non-POST → 405 (gateway.ts:304-308)
                self._headers(405)
                self.wfile.write(b"Invalid rpc call")
                gw._log_call("-", "-", "-", 405, 0.0)

            # OPTIONS included: CORS preflights must still get the
            # Access-Control-* headers (the ref answers every method)
            do_PUT = do_DELETE = do_HEAD = do_OPTIONS = do_GET

            def do_POST(self):
                start = time.time()
                n = int(self.headers.get("Content-Length") or 0)
                body = self.rfile.read(n)
                mod = fun = cls = "-"
                try:
                    try:
                        env = unpackb(body)
                        mod, fun = env.get("mod"), env.get("fun")
                        arg = env.get("arg")
                        token = (env.get("ctx") or {}).get("wxuser")
                    except Exception:
                        self._headers(400)
                        self.wfile.write(b"Invalid envelope")
                        return
                    cls = classify_token(token)
                    if cls == "anonymous":
                        if gw.domain != "admin":  # mobile anon → 307 (:282-284)
                            self._headers(307, {"Location": "AUTHORIZE-URL"})
                            return
                        token = "anonymous"  # shared bucket (:266)
                    # route resolution precedes admission (ref order:
                    # gateway.ts:195-198 then :201) — unknown modules
                    # 404 without consuming rate-limit quota
                    if not gw.resolves(mod, fun):
                        self._headers(404)
                        self.wfile.write(b"Module not found")
                        return
                    if not gw.limiter.allow(str(token)):
                        self._headers(429)  # :258-261
                        self.wfile.write(b"Too Many Requests")
                        return
                    payload, code = gw.dispatch(mod, fun, arg)
                    if code != 200:
                        self._headers(code)
                        self.wfile.write(payload)
                        return
                    body_out, enc = negotiate(
                        payload, self.headers.get("Accept-Encoding") or ""
                    )
                    extra = {"Content-Type": "application/octet-stream"}
                    if enc:
                        extra["Content-Encoding"] = enc
                    self._headers(200, extra)
                    self.wfile.write(body_out)
                finally:
                    # every call is logged, rejections included (the ref
                    # log.info's all branches: gateway.ts:219,259,296,316)
                    gw._log_call(
                        mod, fun, cls,
                        getattr(self, "_last_code", 0),
                        (time.time() - start) * 1000,
                    )

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self.port = self._httpd.server_port
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)

    def _log_call(self, mod, fun, token_class, code, ms: float) -> None:
        self.log.append(
            {
                "mod": mod,
                "fun": fun,
                "token_class": token_class,
                "status": code,
                "ms": round(ms, 3),
            }
        )

    def resolves(self, mod, fun) -> bool:
        """Route-table lookup (no execution) — ref gateway.ts:195-198."""
        if mod == "query":
            return fun in registry.QUERIES
        if mod == "sql":
            return fun == "exec" and self.enable_sql
        if mod == "catalog":
            return fun == "tables"
        return False

    # --- module routing (the engine's version of gateway.ts:289-301) ---
    def dispatch(self, mod: str, fun: str, arg) -> tuple[bytes, int]:
        try:
            if mod == "query":
                if fun not in registry.QUERIES:
                    return b"Module not found", 404
                df = registry.QUERIES[fun](self.spark, self.sf_dir)
            elif mod == "sql":
                sql = (arg or {}).get("sql") if isinstance(arg, dict) else arg
                if fun != "exec" or not self.enable_sql or not isinstance(sql, str):
                    return b"Module not found", 404
                df = self.spark.sql(sql)
            elif mod == "catalog" and fun == "tables":
                return packb({"tables": list(TABLES)}), 200
            else:
                return b"Module not found", 404  # :296-298
            rows = df.limit(self.max_rows).collect()
            out = {
                "columns": df.columns,
                "rows": [[_plain(v) for v in r] for r in rows],
                "n": len(rows),
            }
            return packb(out), 200
        except Exception as e:  # noqa: BLE001 - backend failure → 500 (:90-92)
            return f"Query error: {type(e).__name__}".encode(), 500

    def start(self) -> "GatewayServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()


def _plain(v):
    """Row value → msgpack-encodable plain type."""
    import datetime
    import decimal

    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):  # after datetime: date is its base class
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return [_plain(x) for x in v]
    if isinstance(v, dict):
        return {k: _plain(x) for k, x in v.items()}
    if isinstance(v, bytearray):
        return bytes(v)
    return v
