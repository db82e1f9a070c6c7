"""Load generator and HTTP endpoint, run as one process apart from the
Spark driver.

The process owns two things:

- an HTTP/1.1 keep-alive endpoint (asyncio, one thread) that parses every
  line of every request body as one change envelope and records, per
  ``table:offset`` key, the time of its first 2xx, the URL group it came
  in on, and counts of connections, requests, non-2xx answers and
  duplicate deliveries;
- a seeded file publisher that writes envelope files into the engine's
  source directory, one file per tick, each renamed into place whole. An
  event's ``ts_ms`` is its due time; the publisher logs how late each file
  went out.

The driver process talks to it over stdin/stdout, one JSON object per
line: ``selfcheck``, ``publish``, ``stats``, ``dump`` and ``exit``.

Run: ``python3 perfbench/loadgen.py --groups '<json>'``; it prints
``{"port": N}`` once the endpoint listens.
"""

from __future__ import annotations

import argparse
import asyncio
import json
import os
import random
import socket
import subprocess
import sys
import threading
import time

#: change-event tables; under ``DEFAULT_GROUPS`` the first two are routed
#: and the last two are not
TABLES = ("orders", "customer", "widgets", "audit_log")
OPS = ("c", "u", "d")
OP_WEIGHTS = (0.5, 0.35, 0.15)
STATUSES = ("O", "P", "F")


def make_events(seed: int, n: int, first_offset: int = 1) -> list[dict]:
    """The seeded event plan: ``n`` envelopes with monotone offsets from
    ``first_offset``. Each table gets the same share of the events in a
    seeded order, so every seed routes the same number. ``ts_ms`` is left
    unset; the publisher stamps it."""
    rng = random.Random(seed)
    tables = [TABLES[i % len(TABLES)] for i in range(n)]
    rng.shuffle(tables)
    out = []
    for i, table in enumerate(tables):
        op = rng.choices(OPS, OP_WEIGHTS)[0]
        key = rng.randrange(1, 10_000_000)
        price = round(rng.uniform(1000.0, 500000.0), 2)
        row = {
            "o_orderkey": key,
            "o_totalprice": price,
            "o_orderstatus": rng.choice(STATUSES),
        }
        after = dict(row, o_totalprice=round(price * 1.1, 2)) if op == "u" else row
        out.append(
            {
                "before": None if op == "c" else row,
                "after": None if op == "d" else after,
                "source": {"table": table},
                "op": op,
                "offset": first_offset + i,
                "ts_ms": None,
            }
        )
    return out


def event_key(ev: dict) -> str:
    """The engine's idempotency key (``table:offset``)."""
    return f"{ev['source']['table']}:{ev['offset']}"


def write_file(data_dir: str, stage_dir: str, name: str, events: list[dict]) -> None:
    """Write one envelope file and rename it into the source directory
    whole, so the engine never lists a half-written file."""
    tmp = os.path.join(stage_dir, name)
    with open(tmp, "w") as fh:
        for ev in events:
            fh.write(json.dumps(ev, separators=(",", ":")))
            fh.write("\n")
    os.rename(tmp, os.path.join(data_dir, name))


class Receipts:
    """What the endpoint saw. Mutated on the server thread, read from the
    command thread; every access holds ``lock``."""

    def __init__(self, table_group: dict[str, str]):
        self.table_group = table_group
        self.lock = threading.Lock()
        self.first: dict[str, tuple[float, str]] = {}
        self.connections = 0
        self.requests = 0
        self.events = 0
        self.non_2xx = 0
        self.dups = 0
        self.misrouted: list[str] = []
        self.warmup_events = 0

    def record(self, path: str, body: bytes, t_recv: float) -> bool:
        """Account one request; returns False for a body it cannot parse."""
        parts = path.strip("/").split("/")
        try:
            envs = [json.loads(line) for line in body.splitlines() if line.strip()]
            keys = [(event_key(e), e["source"]["table"]) for e in envs]
        except (ValueError, KeyError, TypeError):
            return False
        grp = parts[-1] if len(parts) >= 2 else ""
        if parts[0] == "_selfcheck":
            return True
        with self.lock:
            if parts[0] == "warmup":
                self.warmup_events += len(keys)
                return True
            self.requests += 1
            self.events += len(keys)
            for key, table in keys:
                if self.table_group.get(table) != grp:
                    self.misrouted.append(f"{key}@{grp}")
                if key in self.first:
                    self.dups += 1
                else:
                    self.first[key] = (t_recv, grp)
        return True


async def _serve_conn(reader, writer, receipts: Receipts) -> None:
    with receipts.lock:
        receipts.connections += 1
    try:
        while True:
            try:
                head = await reader.readuntil(b"\r\n\r\n")
            except (asyncio.IncompleteReadError, ConnectionError):
                return
            lines = head.decode("latin-1").split("\r\n")
            method, path = lines[0].split(" ")[:2]
            headers = {}
            for line in lines[1:]:
                if ":" in line:
                    k, v = line.split(":", 1)
                    headers[k.strip().lower()] = v.strip()
            body = await reader.readexactly(int(headers.get("content-length", "0")))
            ok = method == "POST" and receipts.record(path, body, time.time())
            if not ok:
                with receipts.lock:
                    receipts.non_2xx += 1
            status = b"200 OK" if ok else b"400 Bad Request"
            writer.write(b"HTTP/1.1 " + status + b"\r\nContent-Length: 0\r\n\r\n")
            await writer.drain()
            if headers.get("connection", "").lower() == "close":
                return
    finally:
        writer.close()


class Endpoint:
    """The asyncio server, running on its own thread."""

    def __init__(self, receipts: Receipts):
        self.receipts = receipts
        self.loop = asyncio.new_event_loop()
        self.port = 0
        self._ready = threading.Event()
        self.thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        asyncio.set_event_loop(self.loop)

        async def start():
            server = await asyncio.start_server(
                lambda r, w: _serve_conn(r, w, self.receipts), "127.0.0.1", 0
            )
            self.port = server.sockets[0].getsockname()[1]
            self._ready.set()
            return server

        self.server = self.loop.run_until_complete(start())
        self.loop.run_forever()

    def start(self) -> int:
        self.thread.start()
        self._ready.wait(10)
        return self.port

    def stop(self) -> None:
        async def close():
            self.server.close()
            await self.server.wait_closed()

        asyncio.run_coroutine_threadsafe(close(), self.loop).result(5)
        self.loop.call_soon_threadsafe(self.loop.stop)
        self.thread.join(5)


def selfcheck(port: int, seconds: float, clients: int) -> float:
    """Requests/s the endpoint alone serves to ``clients`` keep-alive
    connections, each posting one representative envelope per request.
    The clients run in a short-lived process of their own, so they do
    not share this process's interpreter lock with the endpoint."""
    out = subprocess.run(
        [sys.executable, __file__, "--selfcheck-client", str(port),
         str(seconds), str(clients)],
        capture_output=True, text=True, timeout=seconds + 60, check=True,
    )
    return float(out.stdout.strip())


def selfcheck_client(port: int, seconds: float, clients: int) -> float:
    """Keep-alive clients on raw sockets with a prebuilt request, so the
    endpoint, not the client, limits the rate."""
    body = json.dumps(make_events(0, 1)[0]).encode()
    request = (
        b"POST /_selfcheck/grp HTTP/1.1\r\nHost: 127.0.0.1\r\n"
        b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n" + body
    )
    counts = [0] * clients
    deadline = time.perf_counter() + seconds

    def client(i: int) -> None:
        with socket.create_connection(("127.0.0.1", port), timeout=5) as sock:
            sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            while time.perf_counter() < deadline:
                sock.sendall(request)
                reply = b""
                while not reply.endswith(b"\r\n\r\n"):
                    chunk = sock.recv(4096)
                    if not chunk:
                        return
                    reply += chunk
                counts[i] += 1

    t0 = time.perf_counter()
    threads = [threading.Thread(target=client, args=(i,)) for i in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(seconds + 10)
    return sum(counts) / (time.perf_counter() - t0)


class Publisher:
    """Open-loop publisher: tick ``k`` holds the events due in
    ``[t0 + k*tick, t0 + (k+1)*tick)`` and goes out at the tick's end,
    whatever the engine is doing."""

    def __init__(self, events_dir: str, events: list[dict], rate: float,
                 tick: float, t0: float):
        self.data_dir = os.path.join(events_dir, "data")
        self.stage_dir = os.path.join(events_dir, "stage")
        self.events = events
        self.rate = rate
        self.tick = tick
        self.t0 = t0
        self.per_tick = max(1, round(rate * tick))
        self.log: list[tuple[int, float, float]] = []  # (n_events, due, sent)
        self.thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        for k in range(-(-len(self.events) // self.per_tick)):
            chunk = self.events[k * self.per_tick:(k + 1) * self.per_tick]
            for j, ev in enumerate(chunk):
                ev["ts_ms"] = int((self.t0 + (k * self.per_tick + j) / self.rate) * 1000)
            due = self.t0 + (k + 1) * self.tick
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            write_file(self.data_dir, self.stage_dir, f"{k:07d}.json", chunk)
            self.log.append((len(chunk), due, time.time()))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--groups", help="table->group JSON map")
    ap.add_argument("--selfcheck-client", nargs=3, metavar=("PORT", "SECONDS", "CLIENTS"))
    args = ap.parse_args()
    if args.selfcheck_client:
        port, seconds, clients = args.selfcheck_client
        print(selfcheck_client(int(port), float(seconds), int(clients)))
        return 0
    receipts = Receipts(json.loads(args.groups))
    endpoint = Endpoint(receipts)
    port = endpoint.start()
    publisher: Publisher | None = None

    def reply(obj) -> None:
        sys.stdout.write(json.dumps(obj) + "\n")
        sys.stdout.flush()

    reply({"port": port})
    for line in sys.stdin:
        cmd = json.loads(line)
        op = cmd["cmd"]
        if op == "selfcheck":
            reply({"rps": selfcheck(port, cmd["seconds"], cmd["clients"])})
        elif op == "publish":
            events = make_events(cmd["seed"], cmd["n"])
            publisher = Publisher(cmd["events_dir"], events, cmd["rate"],
                                  cmd["tick"], cmd["t0"])
            publisher.thread.start()
            reply({"ok": True})
        elif op == "stats":
            with receipts.lock:
                reply({"received": len(receipts.first), "warmup": receipts.warmup_events})
        elif op == "dump":
            if publisher:
                publisher.thread.join(60)
            with receipts.lock, open(cmd["path"], "w") as fh:
                json.dump({
                    "first": receipts.first,
                    "connections": receipts.connections,
                    "requests": receipts.requests,
                    "events": receipts.events,
                    "non_2xx": receipts.non_2xx,
                    "dups": receipts.dups,
                    "misrouted": receipts.misrouted[:20],
                    "n_misrouted": len(receipts.misrouted),
                    "publish_log": publisher.log if publisher else [],
                }, fh)
            reply({"ok": True})
        elif op == "exit":
            break
    endpoint.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
