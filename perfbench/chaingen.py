"""Seeded Tendermint RPC chain generator — the benchmark's load, in its own process.

Renders a deterministic chain (one ``random.Random`` per height, seeded from
``--seed``) and serves it over HTTP the way a Tendermint node does:

- ``GET /status``                   → ``result.sync_info.latest_block_height``
- ``GET /block?height=H``           → /block RPC response JSON
- ``GET /block_results?height=H``   → /block_results RPC response JSON

Content follows the golden corpus distributions (FIXTURES.md): ~29% of blocks
carry 1–5 txs, 2–10 begin-block events drawn from {transfer, message, mint,
rewards, commission}, ~10% of txs errored (``code != 0``), base64 attribute
keys/values with some null values.  Every tx is a valid cosmos ``Tx`` protobuf
(body with a message and optional memo, auth_info with a one-coin fee), so the
tx metadata decode reads real fields.

Benchmark control endpoints (not part of the node surface):

- ``GET /bench/advance?rate=R&count=K`` starts an open-loop ticker that
  advances the advertised head by one block every ``1/R`` seconds, K times,
  regardless of how fast anyone reads.  Each produced height's due time
  (epoch seconds) is recorded.
- ``GET /bench/stats`` returns request counts per endpoint, accepted
  connections, the head, due times and how late the ticker ran.

Each connection gets a thread and is kept alive between requests (HTTP/1.1,
as a Tendermint node serves them); at most nproc requests are handled at
once, so idle keep-alive connections hold no handler.  Start-up writes a
manifest of expected per-height counts (``--manifest``) and, optionally, the
chain as two JSON-lines files (``--dump``) for writing a block lake.  When
ready, prints ``READY <port>`` on stdout.

Usage::

    python3 perfbench/chaingen.py --seed 1 --count 4000 \\
        --manifest work/manifest.json [--dump work/chain]
"""

from __future__ import annotations

import argparse
import base64
import json
import os
import random
import threading
import time
import urllib.parse
from datetime import datetime, timedelta, timezone
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

CHAIN_ID = "bench-chain-1"
GENESIS = datetime(2021, 6, 1, tzinfo=timezone.utc)
BLOCK_EVENT_TYPES = ["transfer", "message", "mint", "rewards", "commission"]
TX_EVENT_TYPES = ["message", "transfer", "coin_spent", "coin_received", "tx"]
ATTR_KEYS = ["sender", "recipient", "amount", "module", "action", "validator"]
DENOMS = ["nhash", "uatom", "ustake"]
MSG_TYPES = [
    "/cosmos.bank.v1beta1.MsgSend",
    "/provenance.marker.v1.MsgTransferRequest",
    "/cosmos.staking.v1beta1.MsgDelegate",
]

#: Seed dimensions shared by every workload (one chain shape per seed).
NONEMPTY_SHARE = 0.29
TXS_PER_BLOCK = (1, 5)
BLOCK_EVENTS_PER_BLOCK = (2, 10)
EVENTS_PER_TX = (1, 4)
ATTRS_PER_EVENT = (1, 3)
ERRORED_TX_SHARE = 0.10
NULL_VALUE_SHARE = 0.05

#: requests handled at once, one per core the benchmark may use
HANDLERS = len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# Protobuf wire encoding (just enough for a cosmos Tx)
# ---------------------------------------------------------------------------

def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _len_field(num: int, payload: bytes) -> bytes:
    return _varint(num << 3 | 2) + _varint(len(payload)) + payload


def _varint_field(num: int, value: int) -> bytes:
    return _varint(num << 3) + _varint(value)


def encode_tx(rng: random.Random, fee: int, denom: str, memo: str) -> bytes:
    """cosmos Tx{1: TxBody{1: Any msg, 2: memo}, 2: AuthInfo{2: Fee{1: Coin, 2: gas}},
    3: signature}."""
    msg = _len_field(1, rng.choice(MSG_TYPES).encode()) + _len_field(2, rng.randbytes(40))
    body = _len_field(1, msg) + (_len_field(2, memo.encode()) if memo else b"")
    coin = _len_field(1, denom.encode()) + _len_field(2, str(fee).encode())
    fee_msg = _len_field(1, coin) + _varint_field(2, rng.randint(50_000, 400_000))
    auth_info = _len_field(2, fee_msg)
    return _len_field(1, body) + _len_field(2, auth_info) + _len_field(3, rng.randbytes(64))


# ---------------------------------------------------------------------------
# Chain rendering
# ---------------------------------------------------------------------------

def _b64(s: str) -> str:
    return base64.b64encode(s.encode()).decode()


def _event(rng: random.Random, etype: str) -> dict:
    attrs = []
    for _ in range(rng.randint(*ATTRS_PER_EVENT)):
        value = None if rng.random() < NULL_VALUE_SHARE else _b64(f"v{rng.getrandbits(40):x}")
        attrs.append({"key": _b64(rng.choice(ATTR_KEYS)), "value": value, "index": rng.random() < 0.5})
    return {"type": etype, "attributes": attrs}


def render_block(seed: int, height: int) -> tuple[str, str, dict]:
    """One height → (block JSON, block_results JSON, expected counts)."""
    rng = random.Random(seed * 1_000_003 + height)
    n_txs = rng.randint(*TXS_PER_BLOCK) if rng.random() < NONEMPTY_SHARE else 0
    txs, tx_results = [], []
    tx_event_types: dict[str, int] = {}
    error_fees: dict[str, int] = {}
    n_errors = 0
    for _ in range(n_txs):
        fee, denom = rng.randint(1, 10**9), rng.choice(DENOMS)
        memo = f"memo-{rng.getrandbits(24):x}" if rng.random() < 0.6 else ""
        txs.append(base64.b64encode(encode_tx(rng, fee, denom, memo)).decode())
        events = [_event(rng, rng.choice(TX_EVENT_TYPES)) for _ in range(rng.randint(*EVENTS_PER_TX))]
        for e in events:
            tx_event_types[e["type"]] = tx_event_types.get(e["type"], 0) + 1
        code = rng.randint(2, 40) if rng.random() < ERRORED_TX_SHARE else 0
        if code:
            n_errors += 1
            error_fees[denom] = error_fees.get(denom, 0) + fee
        tx_results.append(
            {
                "code": code,
                "log": f"failed to execute message; code {code}" if code else "[]",
                "gas_wanted": str(rng.randint(50_000, 400_000)),
                "gas_used": str(rng.randint(40_000, 300_000)),
                "events": events,
            }
        )
    begin_events = [
        _event(rng, rng.choice(BLOCK_EVENT_TYPES))
        for _ in range(rng.randint(*BLOCK_EVENTS_PER_BLOCK))
    ]
    ts = GENESIS + timedelta(seconds=6 * height, microseconds=rng.randrange(1_000_000))
    block = {
        "jsonrpc": "2.0",
        "id": -1,
        "result": {
            "block_id": {"hash": f"{rng.getrandbits(256):064X}"},
            "block": {
                "header": {
                    "chain_id": CHAIN_ID,
                    "height": str(height),
                    "time": ts.strftime("%Y-%m-%dT%H:%M:%S.%fZ"),
                    "data_hash": f"{rng.getrandbits(256):064X}",
                    "proposer_address": f"{rng.getrandbits(160):040X}",
                },
                "data": {"txs": txs},
            },
        },
    }
    results = {
        "jsonrpc": "2.0",
        "id": -1,
        "result": {
            "height": str(height),
            "txs_results": tx_results or None,
            "begin_block_events": begin_events,
            "end_block_events": None,
        },
    }
    expected = {
        "txs": n_txs,
        "block_events": len(begin_events),
        "tx_events": sum(tx_event_types.values()),
        "tx_errors": n_errors,
        "tx_event_types": tx_event_types,
        "error_fees": error_fees,
    }
    return json.dumps(block), json.dumps(results), expected


# ---------------------------------------------------------------------------
# Server
# ---------------------------------------------------------------------------

class ChainServer:
    """Heights 1..count, rendered up front and served over HTTP."""

    def __init__(self, seed: int, count: int, head: int | None):
        self.first, self.last = 1, count
        self.blocks: dict[int, bytes] = {}
        self.results: dict[int, bytes] = {}
        self.expected: dict[int, dict] = {}
        for h in range(self.first, self.last + 1):
            b, r, e = render_block(seed, h)
            self.blocks[h], self.results[h], self.expected[h] = b.encode(), r.encode(), e
        self.head = self.last if head is None else head
        self.requests = {"status": 0, "block": 0, "block_results": 0, "other": 0}
        self.connections = 0
        self.due: dict[int, float] = {}
        self.late_ms_max = 0.0
        self._lock = threading.Lock()
        self._handlers = threading.BoundedSemaphore(HANDLERS)
        self._ticker: threading.Thread | None = None
        self._srv = self._make_server()
        self.port = self._srv.server_address[1]

    def _make_server(self) -> HTTPServer:
        outer = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def log_message(self, *a):
                pass

            def do_GET(self):
                with outer._handlers:
                    code, body = outer.route(self.path)
                    self.send_response(code)
                    self.send_header("Content-Type", "application/json")
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(body)

        class Server(ThreadingHTTPServer):
            """One thread per connection; counts accepted connections."""

            request_queue_size = 128

            def process_request(self, request, client_address):
                with outer._lock:
                    outer.connections += 1
                super().process_request(request, client_address)

        return Server(("127.0.0.1", 0), Handler)

    def _count(self, key: str) -> None:
        with self._lock:
            self.requests[key] += 1

    def route(self, raw_path: str) -> tuple[int, bytes]:
        url = urllib.parse.urlparse(raw_path)
        qs = urllib.parse.parse_qs(url.query)
        if url.path == "/status":
            self._count("status")
            body = {"jsonrpc": "2.0", "id": -1,
                    "result": {"sync_info": {"latest_block_height": str(self.head)}}}
            return 200, json.dumps(body).encode()
        if url.path in ("/block", "/block_results"):
            key = url.path[1:]
            self._count(key)
            h = int(qs["height"][0])
            if h > self.head or h not in self.blocks:
                return 404, b'{"error": "height not available"}'
            return 200, (self.blocks if key == "block" else self.results)[h]
        if url.path == "/bench/advance":
            self.advance(float(qs["rate"][0]), int(qs["count"][0]))
            return 200, b"{}"
        if url.path == "/bench/stats":
            with self._lock:
                stats = {
                    "requests": dict(self.requests),
                    "connections": self.connections,
                    "head": self.head,
                    "due": self.due.copy(),
                    "late_ms_max": self.late_ms_max,
                }
            return 200, json.dumps(stats).encode()
        self._count("other")
        return 404, b'{"error": "no such endpoint"}'

    def advance(self, rate: float, count: int) -> None:
        """Open loop: produce ``count`` blocks at ``rate`` per second."""
        count = min(count, self.last - self.head)
        t0 = time.time()

        def tick():
            start, k = self.head, 0
            while k < count:
                delay = t0 + (k + 1) / rate - time.time()
                if delay > 0:
                    time.sleep(delay)
                now = time.time()
                # every block due by now appears in one head move, so a burst
                # is never seen half produced
                with self._lock:
                    while k < count and t0 + (k + 1) / rate <= now:
                        k += 1
                        self.due[start + k] = t0 + k / rate
                        self.late_ms_max = max(self.late_ms_max, (now - self.due[start + k]) * 1000.0)
                    self.head = start + k

        self._ticker = threading.Thread(target=tick, daemon=True)
        self._ticker.start()

    def serve_forever(self) -> None:
        self._srv.serve_forever()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--count", type=int, required=True)
    ap.add_argument("--head", type=int, default=None, help="initial head (default: last height)")
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--dump", default=None, help="directory for blocks/ and block_results/ JSON lines")
    args = ap.parse_args()

    srv = ChainServer(args.seed, args.count, args.head)
    manifest = {
        "seed": args.seed,
        "first": srv.first,
        "last": srv.last,
        "expected": {str(h): e for h, e in srv.expected.items()},
    }
    with open(args.manifest, "w") as fh:
        json.dump(manifest, fh)
    if args.dump:
        for name, table in (("blocks", srv.blocks), ("block_results", srv.results)):
            os.makedirs(os.path.join(args.dump, name), exist_ok=True)
            with open(os.path.join(args.dump, name, "part-0.jsonl"), "wb") as fh:
                fh.write(b"\n".join(table[h] for h in range(srv.first, srv.last + 1)) + b"\n")
    print(f"READY {srv.port}", flush=True)
    srv.serve_forever()


if __name__ == "__main__":
    main()
