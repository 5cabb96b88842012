"""In-process Polygon grouped-daily stub for the benchmark.

Serves seed-generated ``/v2/aggs/grouped/locale/us/market/stocks/<date>``
envelopes from a stdlib ``ThreadingHTTPServer`` bound to 127.0.0.1, so
the package's unchanged ``transport=http`` path (``requests`` inside the
``polygon_eod`` DataSource workers) reads real HTTP responses. Weekends
get the empty envelope the real API returns. The server counts requests,
body bytes and non-200 answers for the traced run.
"""

from __future__ import annotations

import datetime as dt
import json
import random
import string
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

PATH_PREFIX = "/v2/aggs/grouped/locale/us/market/stocks/"


def make_symbols(rng: random.Random, n: int) -> list[str]:
    """``n`` distinct 1–5 letter tickers in random order."""
    out: set[str] = set()
    while len(out) < n:
        k = rng.choice((1, 2, 3, 3, 4, 4, 4, 5))
        out.add("".join(rng.choice(string.ascii_uppercase) for _ in range(k)))
    syms = sorted(out)
    rng.shuffle(syms)
    return syms


def day_results(rng: random.Random, symbols: list[str], day: dt.date) -> list[dict]:
    """One grouped-daily ``results`` list: 2-dp prices, integer volume and
    the extra fields (vw, n, t) real envelopes carry."""
    t_ms = int(dt.datetime(day.year, day.month, day.day, 21, tzinfo=dt.timezone.utc).timestamp() * 1000)
    out = []
    for sym in symbols:
        c = round(rng.uniform(1.0, 900.0), 2)
        o = round(c * rng.uniform(0.97, 1.03), 2)
        h = round(max(o, c) * rng.uniform(1.0, 1.02), 2)
        lo = round(min(o, c) * rng.uniform(0.98, 1.0), 2)
        out.append(
            {
                "T": sym,
                "v": rng.randint(100, 50_000_000),
                "vw": round((o + c) / 2, 4),
                "o": o,
                "c": c,
                "h": h,
                "l": lo,
                "t": t_ms,
                "n": rng.randint(1, 200_000),
            }
        )
    return out


def envelope(results: list[dict]) -> bytes:
    return json.dumps(
        {
            "queryCount": len(results),
            "resultsCount": len(results),
            "adjusted": True,
            "results": results,
            "status": "OK",
            "request_id": "perfbench",
            "count": len(results),
        }
    ).encode()


class PolygonStub:
    """``with PolygonStub(bodies) as stub:`` serves ``bodies`` (ISO date →
    envelope bytes) at ``stub.base_url`` until the block exits."""

    def __init__(self, bodies: dict[str, bytes]):
        self.bodies = bodies
        self.requests = 0
        self.bytes_sent = 0
        self.non200 = 0
        self._lock = threading.Lock()
        stub = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def do_GET(self):  # noqa: N802 (http.server API)
                date = self.path.split("?", 1)[0][len(PATH_PREFIX):]
                status, body = stub._answer(self.path, date)
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
                with stub._lock:
                    stub.requests += 1
                    stub.bytes_sent += len(body)
                    stub.non200 += status != 200

            def log_message(self, *args):
                pass

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._server.daemon_threads = True
        self.base_url = f"http://127.0.0.1:{self._server.server_address[1]}"
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)

    def _answer(self, path: str, date: str) -> tuple[int, bytes]:
        if not path.startswith(PATH_PREFIX):
            return 404, b'{"status":"NOT_FOUND"}'
        if date in self.bodies:
            return 200, self.bodies[date]
        try:
            weekend = dt.date.fromisoformat(date).weekday() >= 5
        except ValueError:
            return 400, b'{"status":"ERROR"}'
        if weekend:
            return 200, envelope([])
        return 404, b'{"status":"NOT_FOUND"}'

    def counters(self) -> tuple[int, int, int]:
        with self._lock:
            return self.requests, self.bytes_sent, self.non200

    def __enter__(self) -> "PolygonStub":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=10)
