"""A SensorThings (FROST-like) HTTP stub on localhost for ``cron_window``.

It serves one generated observation archive the way a FROST server
answers the engine's ``sensorthings`` data source:

- the count probe (``$top=0&$count=true``),
- ``$top/$skip`` pages of ``Datastreams -> Observations`` documents,
  restricted by a ``$filter`` on ``phenomenonTime``,
- the ``$batch`` endpoint that takes the flag PATCHes back.

URLs carry a ``/w<k>/`` prefix naming the cron firing, so every GET and
PATCH is attributed to its window.  The stub counts GETs per page, bytes
served, PATCH requests and bodies, and how often each observation of a
window was PATCHed; those counts feed the ``sources.*`` and ``sinks.*``
metrics and the PATCH-exactly-once check.

Requests are handled by a fixed pool of at most ``nproc`` threads.
"""

from __future__ import annotations

import datetime as dt
import json
import re
import threading
from collections import Counter, defaultdict
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer
from urllib.parse import parse_qs, urlparse

import numpy as np

from gen import STREAMS, Archive

_PREFIX = re.compile(r"^/w(\d+)/v1\.1/")
_FILTER = re.compile(
    r"phenomenonTime ge (\S+) and phenomenonTime lt (\S+)"
)
_OBS_ID = re.compile(r"Observations\((\d+)\)")


def iso_us(t_us: int) -> str:
    t = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(t_us))
    return t.strftime("%Y-%m-%dT%H:%M:%S.%fZ")


def _parse_iso_us(s: str) -> int:
    t = dt.datetime.fromisoformat(s.replace("Z", "+00:00")).replace(
        tzinfo=None
    )
    return (t - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)


class _PooledServer(HTTPServer):
    """``HTTPServer`` whose requests run on a bounded thread pool."""

    daemon_threads = True

    def __init__(self, addr, handler, threads: int):
        super().__init__(addr, handler)
        self.pool = ThreadPoolExecutor(max_workers=threads)

    def process_request(self, request, client_address):
        self.pool.submit(self._work, request, client_address)

    def _work(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)


class FrostStub:
    def __init__(self, archive: Archive, threads: int):
        self.archive = archive
        self.lock = threading.Lock()
        self.sel_cache: dict = {}
        self.reset()
        stub = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802 (stdlib API name)
                stub._get(self)

            def do_POST(self):  # noqa: N802
                stub._post(self)

            def log_message(self, *a):
                pass

        self.server = _PooledServer(("127.0.0.1", 0), Handler, threads)
        self.thread = threading.Thread(
            target=self.server.serve_forever, daemon=True
        )
        self.thread.start()
        self.base = f"http://127.0.0.1:{self.server.server_address[1]}"

    def reset(self) -> None:
        with self.lock:
            self.count_probes = Counter()  # window -> probes
            self.page_gets = Counter()  # (window, skip) -> GETs
            self.bytes_served = Counter()  # window -> bytes
            self.patch_requests = Counter()  # window -> $batch POSTs
            self.patch_bodies = Counter()  # window -> PATCH bodies
            self.patched = defaultdict(Counter)  # window -> iot_id -> n
            self.flags = defaultdict(dict)  # window -> iot_id -> flag

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.server.pool.shutdown(wait=True)
        self.thread.join()

    # ------------------------------------------------------------ URLs

    def window_url(self, k: int, lo_us: int, hi_us: int) -> str:
        flt = (
            f"phenomenonTime%20ge%20{iso_us(lo_us)}"
            f"%20and%20phenomenonTime%20lt%20{iso_us(hi_us)}"
        )
        return (
            f"{self.base}/w{k}/v1.1/Things(1)"
            f"?$expand=Datastreams/Observations&$filter={flt}"
        )

    def batch_base(self, k: int) -> str:
        return f"{self.base}/w{k}/v1.1"

    # -------------------------------------------------------- handlers

    def _selection(self, lo_us: int, hi_us: int) -> np.ndarray:
        key = (lo_us, hi_us)
        with self.lock:
            sel = self.sel_cache.get(key)
        if sel is None:
            sel = self.archive.select(lo_us, hi_us)
            with self.lock:
                self.sel_cache[key] = sel
        return sel

    def _respond(self, h, code: int, doc) -> int:
        payload = json.dumps(doc).encode()
        h.send_response(code)
        h.send_header("Content-Type", "application/json")
        h.send_header("Content-Length", str(len(payload)))
        h.end_headers()
        h.wfile.write(payload)
        return len(payload)

    def _get(self, h) -> None:
        u = urlparse(h.path)
        m = _PREFIX.match(u.path)
        q = parse_qs(u.query)
        f = _FILTER.search(q.get("$filter", [""])[0])
        if m is None or f is None:
            self._respond(h, 404, {"error": "not found"})
            return
        k = int(m.group(1))
        sel = self._selection(_parse_iso_us(f.group(1)), _parse_iso_us(f.group(2)))
        top = int(q.get("$top", ["1000"])[0])
        skip = int(q.get("$skip", ["0"])[0])
        doc: dict = {}
        if q.get("$count", ["false"])[0] == "true":
            doc["@iot.count"] = int(len(sel))
        if top > 0:
            doc["Datastreams"] = self._page(sel[skip : skip + top])
        n = self._respond(h, 200, doc)
        with self.lock:
            self.bytes_served[k] += n
            if top > 0:
                self.page_gets[(k, skip)] += 1
            else:
                self.count_probes[k] += 1

    def _page(self, rows: np.ndarray) -> list:
        a = self.archive
        by_stream: dict = defaultdict(list)
        for i in rows.tolist():
            by_stream[int(a.stream[i])].append(
                {
                    "@iot.id": int(a.iot_id[i]),
                    "result": float(a.result[i]),
                    "phenomenonTime": iso_us(a.t_us[i]),
                    "resultQuality": 0,
                    "FeatureOfInterest": {
                        "@iot.id": int(a.feature_id[i]),
                        "feature": {
                            "coordinates": [float(a.lon[i]), float(a.lat[i])]
                        },
                    },
                }
            )
        return [
            {
                "@iot.id": s + 1,
                "unitOfMeasurement": {"name": "u"},
                "ObservedProperty": {"name": STREAMS[s][0]},
                "Observations": obs,
            }
            for s, obs in sorted(by_stream.items())
        ]

    def _post(self, h) -> None:
        u = urlparse(h.path)
        m = _PREFIX.match(u.path)
        body = json.loads(h.rfile.read(int(h.headers["Content-Length"])))
        if m is None or not u.path.endswith("/$batch"):
            self._respond(h, 404, {"error": "not found"})
            return
        k = int(m.group(1))
        reqs = body["requests"]
        parsed = [
            (int(_OBS_ID.search(r["url"]).group(1)), r["body"]["resultQuality"])
            for r in reqs
        ]
        with self.lock:
            self.patch_requests[k] += 1
            self.patch_bodies[k] += len(parsed)
            for iot_id, flag in parsed:
                self.patched[k][iot_id] += 1
                self.flags[k][iot_id] = flag
        self._respond(
            h, 200,
            {"responses": [{"id": r["id"], "status": 200} for r in reqs]},
        )
