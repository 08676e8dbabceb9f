"""Live-fetch seam: pooled-HTTP mapInPandas fetcher against a loopback
echo server reproducing the reference receiver
(/root/reference/cmd/receiver/main.go:21-64): UA/IP/Forwarded-Host echoed
as the plain-text response template, X-Forwarded-For first element or the
remote address as IP, X-Forwarded-Host or Host as forwarded host.

Gates: status!=200 rejection (job_processor.go:130-132), byte-identical
parse of live-fetched bodies through the same extraction UDF the sandbox
join path uses, and actual connection pooling (connections << requests)."""

from __future__ import annotations

import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest
from pyspark.sql import functions as F

from web_scraper_v1_spark import fixtures as fx
from web_scraper_v1_spark.functions.extraction import (
    extract_receiver_response,
    golden_text,
)
from web_scraper_v1_spark.sources.livefetch import live_fetch


class _Receiver(BaseHTTPRequestHandler):
    """Loopback port of cmd/receiver/main.go handleRequests (21-37) +
    getIPAddress (46-64)."""

    protocol_version = "HTTP/1.1"  # keep-alive, so pooling is observable

    def do_GET(self):
        if self.path.startswith("/missing"):
            body = b"not found"
            self.send_response(404)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
            return
        # http.server surfaces raw header bytes latin-1-decoded;
        # .encode('latin-1') recovers them losslessly, so the echo is
        # byte-transparent like the Go receiver (the UA carries the
        # reference template's Cyrillic look-alike UTF-8 bytes)
        ua = self.headers.get("User-Agent", "").encode("latin-1")
        xff = self.headers.get("X-Forwarded-For")
        # main.go:50-55: first X-Forwarded-For element; else RemoteAddr
        # minus the port (main.go:58-62)
        ip = xff.split(",")[0].strip() if xff else self.client_address[0]
        fh = self.headers.get("X-Forwarded-Host") or self.headers.get(
            "Host", ""
        )
        body = (
            b"Received User-Agent: " + ua
            + b"\nIP Address: " + ip.encode("latin-1")
            + b"\nForwarded Host: " + fh.encode("latin-1")
        )
        self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def setup(self):
        with _COUNTS_LOCK:
            _COUNTS["connections"] += 1
        super().setup()

    def log_message(self, *args):  # keep pytest output clean
        pass


_COUNTS = {"connections": 0}
_COUNTS_LOCK = threading.Lock()


@pytest.fixture(scope="module")
def receiver():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Receiver)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv.server_address[1]
    srv.shutdown()


def _frontier(spark, port: int, n_ok: int, n_missing: int):
    rows = []
    for i in range(n_ok):
        url = f"http://127.0.0.1:{port}/page/{i}"
        rows.append((url, fx.chrome_user_agent(url)))
    for i in range(n_missing):
        url = f"http://127.0.0.1:{port}/missing/{i}"
        rows.append((url, fx.chrome_user_agent(url)))
    return spark.createDataFrame(rows, "canonical_url string, user_agent string")


def test_live_fetch_status_and_bytes(spark, receiver):
    port = receiver
    with _COUNTS_LOCK:
        _COUNTS["connections"] = 0
    n_ok, n_missing = 36, 6
    fetched = live_fetch(_frontier(spark, port, n_ok, n_missing)).collect()
    assert len(fetched) == n_ok + n_missing
    by_url = {r.canonical_url: r for r in fetched}
    # status != 200 => failure row with null html (job_processor.go:130-132)
    for i in range(n_missing):
        r = by_url[f"http://127.0.0.1:{port}/missing/{i}"]
        assert r.status == 404 and r.html is None
    # 200s carry the exact receiver response bytes (UA echoed per row,
    # loopback IP, Host header as forwarded host)
    for i in range(n_ok):
        url = f"http://127.0.0.1:{port}/page/{i}"
        want = fx.RESPONSE_TEMPLATE.format(
            ua=fx.chrome_user_agent(url),
            ip="127.0.0.1",
            fh=f"127.0.0.1:{port}",
        ).encode("utf-8")
        assert bytes(by_url[url].html) == want, url
    # pooling: keep-alive connections are reused across requests within
    # each Python worker — far fewer connections than requests
    with _COUNTS_LOCK:
        n_conns = _COUNTS["connections"]
    assert 0 < n_conns <= (n_ok + n_missing) // 2


def test_live_fetched_bodies_parse_byte_identically(spark, receiver):
    """The live path feeds the SAME vectorized extraction UDF as the
    fetch-as-join path, and the parse agrees byte-for-byte with the
    reference parser transliteration over the live bytes."""
    port = receiver
    fetched = live_fetch(_frontier(spark, port, 24, 4))
    parsed = (
        fetched.filter(F.col("status") == 200)
        .withColumn("r", extract_receiver_response(F.col("html")))
        .select(
            "canonical_url",
            "html",
            golden_text(F.col("r")).alias("text"),
            F.col("r.parse_error").alias("parse_error"),
        )
        .collect()
    )
    assert len(parsed) == 24
    for row in parsed:
        assert not row.parse_error
        ref = fx.parse_receiver_response(bytes(row.html).decode("utf-8"))
        assert ref is not None
        assert row.text == "\n".join(ref), row.canonical_url


def test_crawl_engine_live_mode_trace_parity(spark, tmp_path):
    """O7 end-to-end in LIVE mode: the engine crawls over real HTTP (the
    fetcher seam serving fixture page bodies from a loopback server) and
    reproduces the exact golden trace, seen set, and byte-identical
    extracted text that the fetch-as-join mode produces — fetch failures
    (404) retry-then-drop exactly like corpus join misses."""
    from pyspark.sql import functions as F

    from web_scraper_v1_spark.plans.crawl import CrawlEngine
    from web_scraper_v1_spark.sources.corpus import SEEDS_SCHEMA
    from web_scraper_v1_spark.sources.livefetch import chrome_ua_column

    n_pages, n_hosts = 60, 4
    pages_fx = fx.generate_pages(n_pages, n_hosts)
    served = {}  # path -> fixture body bytes
    gets = [0]  # GETs served, 200 or 404
    gets_lock = threading.Lock()

    class _Corpus(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def do_GET(self):
            with gets_lock:
                gets[0] += 1
            body = served.get(self.path)
            if body is None:
                self.send_response(404)
                self.send_header("Content-Length", "0")
                self.end_headers()
                return
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Corpus)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    port = srv.server_address[1]
    try:
        def local_url(i: int) -> str:
            return f"http://127.0.0.1:{port}/page/{i}"

        for i, p in enumerate(pages_fx):
            served[f"/page/{i}"] = p["html"]
        # simulator's view of the same universe (parse of the served body)
        pages_local = [
            {"url": local_url(i), "text": p["text"]}
            for i, p in enumerate(pages_fx)
        ]
        seeds_local = []
        for i in range(1, 41):
            k = fx.dhash(f"live-seed-{i}", "pick") % (n_pages + 8)
            # k >= n_pages => a path the server 404s (fetch-failure analog)
            seeds_local.append(
                {"task_id": f"task-{i}", "url": local_url(k),
                 "priority": 0, "depth": 0}
            )
        seeds_df = spark.createDataFrame(
            [(s["task_id"], s["url"], s["priority"], s["depth"])
             for s in seeds_local],
            SEEDS_SCHEMA,
        )

        def fetcher(wave):
            return live_fetch(
                wave.withColumn(
                    "user_agent", chrome_ua_column(F.col("canonical_url"))
                )
            )

        eng = CrawlEngine(
            spark, str(tmp_path / "live_run"), batch_size=10, fetcher=fetcher
        )
        stats = eng.run(seeds_df)
        # a live fetch runs once: one GET per selected URL, so a re-planned
        # lineage or an evicted cache re-sending HTTP shows up here
        with gets_lock:
            assert gets[0] == sum(
                st.wave_size - st.robots_blocked for st in stats
            )
        sim = fx.simulate_crawl(seeds_local, pages_local, batch_size=10)
        got = [
            dict(seq=r.seq, url=r.url, attempt=r.attempt, outcome=r.outcome)
            for r in eng.trace().orderBy("seq").collect()
        ]
        want = [
            dict(seq=t["seq"], url=t["url"], attempt=t["attempt"],
                 outcome=t["outcome"])
            for t in sim.trace
        ]
        assert got == want and got, f"{len(got)} vs {len(want)} events"
        assert {r.url for r in eng.seen().collect()} == sim.seen_urls
        # byte-identical extracted text from live-fetched bodies
        golden = {p["url"]: p["text"] for p in pages_local}
        results = eng.results().collect()
        assert results
        for row in results:
            want_text = golden[row.url]
            got_text = "\n".join(
                [row.user_agent, row.ip_address, row.forwarded_host]
            )
            assert got_text == want_text, row.url
    finally:
        srv.shutdown()


def test_transport_errors_are_failures_not_crashes(spark):
    """Connection-refused and non-http URLs surface as status -1 rows (the
    live analog of a sandbox join miss), never task failures — and each
    carries its failure-mode attribution (error_kind), matching the
    reference's error-class logging (job_processor.go:126-132)."""
    rows = [
        ("http://127.0.0.1:9/closed", "ua"),  # discard port: refused
        ("https://127.0.0.1:9/tls", "ua"),  # scheme not handled by the seam
        ("not a url", "ua"),
    ]
    df = spark.createDataFrame(rows, "canonical_url string, user_agent string")
    got = {r.canonical_url: r for r in live_fetch(df, timeout=2.0).collect()}
    assert len(got) == 3
    for r in got.values():
        assert r.status == -1 and r.html is None
    assert got["http://127.0.0.1:9/closed"].error_kind == "refused"
    assert got["https://127.0.0.1:9/tls"].error_kind == "transport"
    assert got["not a url"].error_kind == "transport"


def test_error_kinds_distinguish_non200_timeout_and_refused(spark, receiver):
    """error_kind taxonomy against a REAL server: a 404/500 response is
    non200 (status preserved), a closed port is refused, a stalled
    response is timeout, and a 200 has no error_kind."""
    import socket as _socket

    port = receiver
    # a listener that accepts and never responds -> read timeout
    stall = _socket.socket()
    stall.bind(("127.0.0.1", 0))
    stall.listen(4)
    stall_port = stall.getsockname()[1]
    try:
        rows = [
            (f"http://127.0.0.1:{port}/page/1", "ua"),     # 200
            (f"http://127.0.0.1:{port}/missing/1", "ua"),  # 404
            ("http://127.0.0.1:9/x", "ua"),                # refused
            (f"http://127.0.0.1:{stall_port}/x", "ua"),    # timeout
        ]
        df = spark.createDataFrame(
            rows, "canonical_url string, user_agent string"
        )
        got = {
            r.canonical_url: r
            for r in live_fetch(df.coalesce(1), timeout=2.0).collect()
        }
        ok = got[f"http://127.0.0.1:{port}/page/1"]
        assert ok.status == 200 and ok.error_kind is None
        miss = got[f"http://127.0.0.1:{port}/missing/1"]
        assert miss.status == 404 and miss.error_kind == "non200"
        assert got["http://127.0.0.1:9/x"].error_kind == "refused"
        t = got[f"http://127.0.0.1:{stall_port}/x"]
        assert t.status == -1 and t.error_kind == "timeout"
    finally:
        stall.close()


def test_live_engine_round_records_failure_kinds(spark, tmp_path, receiver):
    """The engine's round lineage carries the failure-kind tally in live
    mode: 404 seeds land as non200 in both RoundStats.failure_kinds and
    the committed round meta."""
    from web_scraper_v1_spark.plans.crawl import CrawlEngine
    from web_scraper_v1_spark.sources.corpus import SEEDS_SCHEMA
    from web_scraper_v1_spark.sources.livefetch import chrome_ua_column

    port = receiver
    seeds = spark.createDataFrame(
        [
            ("task-1", f"http://127.0.0.1:{port}/page/1", 0, 0),
            ("task-2", f"http://127.0.0.1:{port}/page/2", 0, 0),
            ("task-3", f"http://127.0.0.1:{port}/missing/1", 0, 0),
        ],
        SEEDS_SCHEMA,
    )

    def fetcher(wave):
        return live_fetch(
            wave.withColumn(
                "user_agent", chrome_ua_column(F.col("canonical_url"))
            )
        )

    eng = CrawlEngine(
        spark, str(tmp_path / "kinds_run"), batch_size=10, fetcher=fetcher
    )
    stats = eng.run(seeds)
    assert stats and stats[0].failure_kinds == {"non200": 1}
    meta = max(eng.store.rounds(), key=lambda m: m["round"])
    assert meta["failure_kinds"] == {"non200": 1}
