"""Seeded upstream JSON API for the ``connector_etl`` workload.

The feed is a pure function of the seed. Version 0 holds ``N_INITIAL``
records; each later version updates ``N_UPDATES`` existing keys (weighted
toward the most recently updated ones) and adds ``N_NEW`` keys, all with
``updated_at`` later than anything before. Every version also carries a
few empty payloads (an id and nothing else) that the connector must drop.
Records are nested and carry field names a document store rejects
(``$rank``, ``meta.source``, ``geo.lat``, ``kind.code``), so the
connector's sanitizer has work to do.

The mix is synthetic: no real connector traffic was available to copy, so
the sizes below were chosen to fit a benchmark run of about a minute, and
figures measured on this feed hold for this mix only.

The server answers ``GET /items?page=&page_size=[&since=]`` with the
current version's records sorted by id, ``since`` keeping those updated
strictly after it, and an empty ``data`` list past the last page. The first
request after each ``/_control/version`` call is answered with 429 and
``Retry-After``. It serves from at most ``nproc`` threads and counts what
it serves for the benchmark (``/_control/stats``).

    python3 perfbench/upstream.py serve --seed 7      # prints the port
    python3 perfbench/upstream.py truth --seed 7 [--version 2]

``truth`` prints the collection a correct connector holds after loading
versions 0..V, one JSON record per line, as the sanitizer and timestamp
coercion leave it. It is computed here from the seed, not by the engine.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer
from urllib.parse import parse_qs, urlparse

import numpy as np

N_INITIAL = 2000
N_UPDATES = 160
N_NEW = 50
N_EMPTY = 6
N_SYNCS = 1
PAGE_SIZE = 150
TOKEN = "perfbench-token"
TOKEN_ENV = "PERFBENCH_API_TOKEN"
#: version 0's records are updated within the 30 days before T0; version
#: k >= 1 updates land in hour k after T0
T0 = dt.datetime(2024, 3, 1)
EMPTY_ID_BASE = 1_000_000_000

#: DDL the connector parses records with (the user's declared schema)
RECORD_SCHEMA = (
    "id bigint, name string, score double, `$rank` int, `meta.source` string, "
    "profile struct<country:string, `geo.lat`:double, tags:array<string>>, "
    "events array<struct<`kind.code`:string, n:int>>, "
    "updated_at string, created_at string"
)
CREATED_FORMAT = "yyyy/MM/dd HH:mm:ss"
COUNTRIES = ["DE", "FR", "US", "BR", "IN", "JP", "KE", "CA"]
TAGS = ["alpha", "beta", "gamma", "delta", "omega"]
KINDS = ["view", "buy", "ship", "return"]


def _iso(t: dt.datetime) -> str:
    return t.isoformat()


def _record(rng: np.random.Generator, key: int, version: int, updated: dt.datetime) -> dict:
    created = T0 - dt.timedelta(days=60) + dt.timedelta(seconds=int(key) * 37 % (50 * 86400))
    n_events = int(rng.integers(0, 4))
    return {
        "id": int(key),
        "name": f"user{key}-v{version}",
        "score": float(np.round(rng.uniform(0, 1000), 2)),
        "$rank": int(rng.integers(1, 100)),
        "meta.source": f"feed{int(rng.integers(0, 5))}",
        "profile": {
            "country": str(rng.choice(COUNTRIES)),
            "geo.lat": float(np.round(rng.uniform(-90, 90), 4)),
            "tags": [str(t) for t in rng.choice(TAGS, int(rng.integers(0, 3)), replace=False)],
        },
        "events": [
            {"kind.code": str(rng.choice(KINDS)), "n": int(rng.integers(1, 10))}
            for _ in range(n_events)
        ],
        "updated_at": _iso(updated),
        "created_at": created.strftime("%Y/%m/%d %H:%M:%S"),
    }


class Feed:
    """All versions of the upstream dataset, derived from one seed."""

    def __init__(self, seed: int, n_versions: int = N_SYNCS + 1):
        rng = np.random.default_rng([seed, 0xC0FFEE])
        self.versions: list[list[dict]] = []
        latest: dict[int, dict] = {}
        next_key = 0
        next_empty = EMPTY_ID_BASE
        for v in range(n_versions):
            if v == 0:
                lo, span = T0 - dt.timedelta(days=30), 30 * 86400
                keys = list(range(N_INITIAL))
                next_key = N_INITIAL
            else:
                lo, span = T0 + dt.timedelta(hours=v - 1), 3600
                # most recently updated keys first; weights fall off with rank
                recent = sorted(latest, key=lambda k: (latest[k]["updated_at"], k), reverse=True)
                w = 1.0 / (1.0 + np.arange(len(recent)) / 200.0)
                upd = rng.choice(len(recent), N_UPDATES, replace=False, p=w / w.sum())
                keys = sorted([recent[i] for i in upd]) + list(range(next_key, next_key + N_NEW))
                next_key += N_NEW
            offsets = np.sort(rng.choice(np.arange(1, span), len(keys) + N_EMPTY, replace=False))
            delta = []
            for key, off in zip(keys, offsets[: len(keys)]):
                rec = _record(rng, key, v, lo + dt.timedelta(seconds=int(off)))
                latest[key] = rec
                delta.append(rec)
            for off in offsets[len(keys):]:
                delta.append({"id": next_empty, "name": "", "score": None,
                              "updated_at": _iso(lo + dt.timedelta(seconds=int(off)))})
                next_empty += 1
            self.versions.append(delta)

    def state(self, version: int) -> list[dict]:
        """What the API serves at ``version``: the newest record per id."""
        cur: dict[int, dict] = {}
        for delta in self.versions[: version + 1]:
            for rec in delta:
                cur[rec["id"]] = rec
        return [cur[k] for k in sorted(cur)]


def _sanitized(rec: dict) -> dict:
    """A record as the connector should land it (docsink adds ingested_at)."""

    def ts(s: str, fmt: str | None) -> str:
        t = dt.datetime.strptime(s, fmt) if fmt else dt.datetime.fromisoformat(s)
        return t.isoformat()

    p = rec["profile"]
    return {
        "id": rec["id"],
        "name": rec["name"],
        "score": rec["score"],
        "_rank": rec["$rank"],
        "meta_source": rec["meta.source"],
        "profile": {"country": p["country"], "geo_lat": p["geo.lat"], "tags": p["tags"]},
        "events": [{"kind_code": e["kind.code"], "n": e["n"]} for e in rec["events"]],
        "updated_at": ts(rec["updated_at"], None),
        "created_at": ts(rec["created_at"], "%Y/%m/%d %H:%M:%S"),
    }


def truth(seed: int, version: int = N_SYNCS) -> list[dict]:
    """The expected collection after loading versions 0..``version``."""
    return [_sanitized(r) for r in Feed(seed, version + 1).state(version) if r["id"] < EMPTY_ID_BASE]


class _Stats:
    def __init__(self):
        self.lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        self.requests = 0
        self.empty_pages = 0
        self.bytes = 0
        self.records = 0
        self.retries = 0
        self.first = None
        self.last = None
        self.data_pages: list[int] = []

    def snapshot(self) -> dict:
        return {
            "requests": self.requests,
            "empty_pages": self.empty_pages,
            "bytes": self.bytes,
            "records": self.records,
            "retries": self.retries,
            "first_request_unix": self.first,
            "last_request_unix": self.last,
            "data_pages": sorted(self.data_pages),
        }


class _Handler(BaseHTTPRequestHandler):
    server: "UpstreamServer"

    def log_message(self, *args) -> None:  # quiet
        pass

    def do_GET(self) -> None:  # noqa: N802 (http.server API)
        url = urlparse(self.path)
        q = {k: v[0] for k, v in parse_qs(url.query).items()}
        srv = self.server
        if url.path == "/_control/version":
            with srv.stats.lock:
                srv.version = int(q["version"])
                srv.rows = srv.feed.state(srv.version)
                srv.armed_429 = True
                srv.stats.reset()
            self._send(200, {"version": srv.version})
            return
        if url.path == "/_control/stats":
            with srv.stats.lock:
                self._send(200, srv.stats.snapshot())
            return
        if url.path != "/items":
            self._send(404, {"error": "not found"})
            return
        if self.headers.get("Authorization") != f"Bearer {TOKEN}":
            self._send(401, {"error": "unauthorized"})
            return
        now = time.time()
        with srv.stats.lock:
            st = srv.stats
            st.requests += 1
            st.first = now if st.first is None else st.first
            st.last = now
            limited, srv.armed_429 = srv.armed_429, False
            if limited:
                st.retries += 1
            rows = srv.rows
        if limited:
            self._send(429, {"error": "rate limited"}, {"Retry-After": "0.05"})
            return
        since = q.get("since")
        if since is not None:
            cut = dt.datetime.fromisoformat(since)
            rows = [r for r in rows if dt.datetime.fromisoformat(r["updated_at"]) > cut]
        page, size = int(q.get("page", 0)), int(q.get("page_size", PAGE_SIZE))
        data = rows[page * size:(page + 1) * size]
        n = self._send(200, {"data": data})
        with srv.stats.lock:
            srv.stats.bytes += n
            srv.stats.records += len(data)
            if data:
                srv.stats.data_pages.append(page)
            else:
                srv.stats.empty_pages += 1

    def _send(self, code: int, body: dict, headers: dict | None = None) -> int:
        payload = json.dumps(body).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(payload)))
        for k, v in (headers or {}).items():
            self.send_header(k, v)
        self.end_headers()
        self.wfile.write(payload)
        return len(payload)


class UpstreamServer(HTTPServer):
    """HTTP server that handles requests on a fixed-size thread pool."""

    def __init__(self, feed: Feed, threads: int):
        super().__init__(("127.0.0.1", 0), _Handler)
        self.feed = feed
        self.version = 0
        self.rows = feed.state(0)
        self.armed_429 = True
        self.stats = _Stats()
        self.pool = ThreadPoolExecutor(max_workers=threads)

    def process_request(self, request, client_address) -> None:
        self.pool.submit(self._handle, request, client_address)

    def _handle(self, request, client_address) -> None:
        try:
            self.finish_request(request, client_address)
        except Exception:  # noqa: BLE001 - one bad request must not stop the server
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)


def serve(seed: int) -> None:
    # the accept loop is one thread, so the pool gets the other nproc - 1
    threads = max(1, (os.cpu_count() or 1) - 1)
    srv = UpstreamServer(Feed(seed), threads)
    print(srv.server_port, flush=True)
    try:
        srv.serve_forever(poll_interval=0.05)
    finally:
        srv.pool.shutdown(wait=True)
        srv.server_close()


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("serve", help="serve the feed on 127.0.0.1; prints the port")
    s.add_argument("--seed", type=int, required=True)
    t = sub.add_parser("truth", help="print the expected collection as JSON lines")
    t.add_argument("--seed", type=int, required=True)
    t.add_argument("--version", type=int, default=N_SYNCS)
    a = ap.parse_args(argv)
    if a.cmd == "serve":
        serve(a.seed)
    else:
        for rec in truth(a.seed, a.version):
            sys.stdout.write(json.dumps(rec, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
