"""Loopback web for the live_crawl workload: one single-threaded asyncio
process, separate from Spark.

Host ``h`` of the page universe listens on its own address 127.0.0.{h+1}
(one port for all hosts). ``GET /page/{i}`` on the address of page i's host
answers 200 with the page body after a fixed delay that stands in for
network round-trip time; anything else answers 404 after the same delay.
``GET /__stats`` answers the request, connection and status counts, and the
seconds during which at least one request was in flight, as JSON.

Run as ``python3 web.py BODIES_PICKLE N_HOSTS DELAY_MS SEED``. It prints
``READY <port>`` once every address listens, and exits when its standard
input closes or on SIGTERM.
"""

from __future__ import annotations

import asyncio
import json
import os
import pickle
import random
import signal
import socket
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from web_scraper_v1_spark import fixtures as fx  # noqa: E402

PORT_TOKEN = b"{PORT}"


class Web:
    def __init__(self, raw: dict[int, bytes], n_hosts: int, delay_s: float):
        self.raw, self.n_hosts, self.delay_s = raw, n_hosts, delay_s
        self.bodies: dict[tuple[str, str], bytes] = {}
        self.stats = {"requests": 0, "connections": 0, "status": {},
                      "busy_s": 0.0}
        self.inflight = 0
        self.busy_since = 0.0

    def load(self, port: int) -> None:
        p = str(port).encode()
        for i, body in self.raw.items():
            addr = f"127.0.0.{fx.page_host_index(i, self.n_hosts) + 1}"
            self.bodies[(addr, f"/page/{i}")] = body.replace(PORT_TOKEN, p)
        self.raw = {}

    def _enter(self) -> None:
        if self.inflight == 0:
            self.busy_since = time.monotonic()
        self.inflight += 1

    def _leave(self) -> None:
        self.inflight -= 1
        if self.inflight == 0:
            self.stats["busy_s"] += time.monotonic() - self.busy_since

    async def handle(self, reader, writer) -> None:
        self.stats["connections"] += 1
        addr = writer.get_extra_info("sockname")[0]
        try:
            while True:
                head = await reader.readuntil(b"\r\n\r\n")
                lines = head.decode("latin-1").split("\r\n")
                parts = lines[0].split(" ")
                path = parts[1] if len(parts) > 1 else ""
                close = any(
                    ln.lower().startswith("connection:") and "close" in ln.lower()
                    for ln in lines[1:]
                )
                if path == "/__stats":
                    status, body = 200, json.dumps(self.stats).encode()
                else:
                    self.stats["requests"] += 1
                    self._enter()
                    try:
                        await asyncio.sleep(self.delay_s)
                    finally:
                        self._leave()
                    body = self.bodies.get((addr, path))
                    status = 200 if body is not None else 404
                    if body is None:
                        body = b"not found"
                    key = str(status)
                    self.stats["status"][key] = self.stats["status"].get(key, 0) + 1
                reason = "OK" if status == 200 else "Not Found"
                writer.write(
                    f"HTTP/1.1 {status} {reason}\r\nContent-Length: {len(body)}"
                    "\r\nContent-Type: text/plain; charset=utf-8\r\n\r\n".encode()
                    + body
                )
                await writer.drain()
                if close:
                    break
        except (asyncio.IncompleteReadError, ConnectionError):
            pass
        finally:
            writer.close()


def _bind_all(n_hosts: int, seed: int) -> tuple[int, list[socket.socket]]:
    """Listening sockets on 127.0.0.1..n_hosts, all on one free port. The
    port is drawn from the workload seed, so a seed gives the same URLs."""
    rng = random.Random(seed)
    for _ in range(50):
        socks = []
        try:
            first = socket.socket()
            socks.append(first)
            first.bind(("127.0.0.1", rng.randint(20000, 60000)))
            port = first.getsockname()[1]
            for h in range(1, n_hosts):
                s = socket.socket()
                socks.append(s)
                s.bind((f"127.0.0.{h + 1}", port))
            for s in socks:
                s.listen(256)
                s.setblocking(False)
            return port, socks
        except OSError:
            for s in socks:
                s.close()
    raise RuntimeError("no free port on every loopback address")


async def main(bodies_path: str, n_hosts: int, delay_ms: float,
               seed: int) -> None:
    with open(bodies_path, "rb") as fh:
        web = Web(pickle.load(fh), n_hosts, delay_ms / 1000.0)
    port, socks = _bind_all(n_hosts, seed)
    web.load(port)
    servers = [await asyncio.start_server(web.handle, sock=s) for s in socks]
    loop = asyncio.get_running_loop()
    done = asyncio.Event()
    loop.add_signal_handler(signal.SIGTERM, done.set)
    # standard input closing means the benchmark is gone: stop with it
    loop.add_reader(sys.stdin.fileno(),
                    lambda: done.set() if not os.read(sys.stdin.fileno(), 1)
                    else None)
    print(f"READY {port}", flush=True)
    await done.wait()
    for srv in servers:
        srv.close()


if __name__ == "__main__":
    asyncio.run(main(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]),
                     int(sys.argv[4])))
