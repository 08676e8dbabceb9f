"""Seeded benchmark inputs, generated with the package's pure-Python
fixtures and cached as parquet under the work directory.

The page universe is ``fixtures.generate_pages`` at a fixed size, so it
does not depend on the workload seed and is generated once per checkout.
Everything the seed changes (the seed list, the already-seen URLs) is small
and cached per (seed, size). Generation never runs inside ``setup_s``.
"""

from __future__ import annotations

import os
import pickle

import pyarrow as pa
import pyarrow.parquet as pq

from web_scraper_v1_spark import fixtures as fx

# The seed share of missing / duplicate / priority-1 seeds, copied from
# fixtures.generate_seeds so a seeded list keeps the fixture mix.
MISSING_PCT = 5
DUP_PCT = 20
DUP_POOL = 50
PRIORITY_EVERY = 17

PAGES_ARROW = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)
SEEDS_ARROW = pa.schema(
    [
        pa.field("task_id", pa.string(), nullable=False),
        pa.field("url", pa.string(), nullable=False),
        pa.field("priority", pa.int32()),
        pa.field("depth", pa.int32()),
    ]
)
ROBOTS_ARROW = pa.schema(
    [
        pa.field("host", pa.string(), nullable=False),
        pa.field("crawl_delay_s", pa.float64()),
        pa.field("disallow_prefixes", pa.list_(pa.string())),
        pa.field("fetched_ts", pa.timestamp("us", tz="UTC")),
    ]
)
SEEN_ARROW = pa.schema([pa.field("url", pa.string(), nullable=False)])


def _write(rows: list[dict], schema: pa.Schema, path: str) -> None:
    cols = {f.name: [r[f.name] for r in rows] for f in schema}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    # several row groups per file so the scan splits across all cores
    pq.write_table(pa.Table.from_pydict(cols, schema=schema), tmp,
                   row_group_size=4096)
    os.replace(tmp, path)


def seeded_seeds(seed: int, n_seeds: int, n_pages: int,
                 url_of) -> list[dict]:
    """``fixtures.generate_seeds`` with the choices salted by ``seed``:
    ~5% URLs absent from the universe, ~20% drawn from a small duplicate
    pool, every 17th task at priority 1. ``url_of(i)`` gives page i's URL,
    ``url_of(None)`` a missing-URL template with an ``{i}`` slot."""
    out = []
    for i in range(1, n_seeds + 1):
        key = f"bench-{seed}-{i}"
        r = fx.dhash(key, "kind") % 100
        if r < MISSING_PCT:
            url = url_of(None).replace("{i}", str(i))
        elif r < MISSING_PCT + DUP_PCT:
            url = url_of(fx.dhash(key, "dup") % min(DUP_POOL, n_pages))
        else:
            url = url_of(fx.dhash(key, "pick") % n_pages)
        out.append({
            "task_id": f"task-{i}",
            "url": url,
            "priority": 1 if i % PRIORITY_EVERY == 0 else 0,
            "depth": 0,
        })
    return out


class BulkInputs:
    """bulk_wave: a ``generate_pages`` corpus, a seeded seed list over it,
    and a seeded 10% of page URLs already seen."""

    def __init__(self, work: str, seed: int, n_pages: int, n_hosts: int,
                 filler_lines: int, seen_pct: int = 10):
        self.n_pages, self.n_hosts, self.seed = n_pages, n_hosts, seed
        self.filler_lines, self.seen_pct = filler_lines, seen_pct
        base = os.path.join(work, f"bulk_p{n_pages}_h{n_hosts}_f{filler_lines}")
        self.corpus_dir = base
        self.seed_dir = os.path.join(base, f"seed{seed}")
        self.pages_path = os.path.join(base, "pages.parquet")
        self.seeds_path = os.path.join(self.seed_dir, "seeds.parquet")
        self.seen_path = os.path.join(self.seed_dir, "seen.parquet")

    def _url(self, i):
        if i is None:
            return "https://host0.example.com/missing/{i}"
        return fx.page_url(i, self.n_hosts)

    def ensure(self) -> None:
        if not os.path.exists(self.pages_path):
            _write(fx.generate_pages(self.n_pages, self.n_hosts,
                                     self.filler_lines),
                   PAGES_ARROW, self.pages_path)
        if not os.path.exists(self.seen_path):
            seeds = seeded_seeds(self.seed, self.n_pages, self.n_pages,
                                 self._url)
            _write(seeds, SEEDS_ARROW, self.seeds_path)
            seen = [
                {"url": self._url(i)} for i in range(self.n_pages)
                if fx.dhash(f"{self.seed}-{i}", "seen") % 100 < self.seen_pct
            ]
            _write(seen, SEEN_ARROW, self.seen_path)

    def expected_text(self) -> dict[str, str]:
        """Golden ``text`` per canonical URL for every eligible page:
        seeded, present, parseable and not already seen."""
        texts = pq.read_table(self.pages_path, columns=["url", "text"])
        golden = {
            fx.canonicalize_url(u): t
            for u, t in zip(texts.column("url").to_pylist(),
                            texts.column("text").to_pylist())
            if t is not None
        }
        seen = {fx.canonicalize_url(u) for u in
                pq.read_table(self.seen_path).column("url").to_pylist()}
        seeded = {fx.canonicalize_url(u) for u in
                  pq.read_table(self.seeds_path, columns=["url"])
                  .column("url").to_pylist()}
        return {u: golden[u] for u in seeded - seen if u in golden}


LIVE_PORT_TOKEN = "{PORT}"


def live_url(i: int | None, n_hosts: int, port: int | str) -> str:
    """Page ``i`` of the live universe: its host ``h`` is served on its own
    loopback address 127.0.0.{h+1}. ``None`` gives the 404 template."""
    if i is None:
        return f"http://127.0.0.1:{port}/missing/{{i}}"
    h = fx.page_host_index(i, n_hosts)
    return f"http://127.0.0.{h + 1}:{port}/page/{i}"


def _to_live(url: str, n_hosts: int, port) -> str:
    i = int(url.rsplit("/", 1)[1])
    return live_url(i, n_hosts, port)


class LiveInputs:
    """live_crawl: the ``generate_pages`` universe re-addressed onto
    per-host loopback addresses. Bodies keep their bytes except that link
    lines point at the live addresses; the port is a placeholder filled in
    by the web server, so the cache does not depend on the port."""

    def __init__(self, work: str, seed: int, n_pages: int, n_hosts: int,
                 filler_lines: int, n_seeds: int):
        self.n_pages, self.n_hosts, self.seed = n_pages, n_hosts, seed
        self.filler_lines, self.n_seeds = filler_lines, n_seeds
        base = os.path.join(work, f"live_p{n_pages}_h{n_hosts}_f{filler_lines}")
        self.bodies_path = os.path.join(base, "bodies.pickle")
        self.seed_dir = os.path.join(base, f"seed{seed}_s{n_seeds}")

    def ensure(self) -> None:
        if os.path.exists(self.bodies_path):
            return
        pages = fx.generate_pages(self.n_pages, self.n_hosts,
                                  self.filler_lines)
        bodies = {}
        for i, p in enumerate(pages):
            body = p["html"].decode("utf-8")
            lines = body.split("\n")
            for j, line in enumerate(lines):
                if line.startswith(fx.LINK_PREFIX):
                    target = line[len(fx.LINK_PREFIX):]
                    lines[j] = fx.LINK_PREFIX + _to_live(
                        target, self.n_hosts, LIVE_PORT_TOKEN)
            bodies[i] = "\n".join(lines).encode("utf-8")
        os.makedirs(os.path.dirname(self.bodies_path), exist_ok=True)
        tmp = self.bodies_path + ".tmp"
        with open(tmp, "wb") as fh:
            pickle.dump(bodies, fh, protocol=pickle.HIGHEST_PROTOCOL)
        os.replace(tmp, self.bodies_path)

    def bodies(self) -> dict[int, bytes]:
        with open(self.bodies_path, "rb") as fh:
            return pickle.load(fh)

    def materialize(self, port: int) -> dict:
        """Per-port inputs: seeds and robots parquet, plus the simulator's
        view of the universe (url, text, outlinks) for the oracle."""
        os.makedirs(self.seed_dir, exist_ok=True)
        seeds = seeded_seeds(
            self.seed, self.n_seeds, self.n_pages,
            lambda i: live_url(i, self.n_hosts, port),
        )
        robots = []
        for row in fx.generate_robots(self.n_hosts):
            h = int(row["host"][len("host"):].split(".", 1)[0])
            robots.append({**row, "host": f"127.0.0.{h + 1}"})
        seeds_path = os.path.join(self.seed_dir, f"seeds_{port}.parquet")
        robots_path = os.path.join(self.seed_dir, f"robots_{port}.parquet")
        _write(seeds, SEEDS_ARROW, seeds_path)
        _write(robots, ROBOTS_ARROW, robots_path)
        pages = []
        for i, raw in self.bodies().items():
            body = raw.decode("utf-8").replace(LIVE_PORT_TOKEN, str(port))
            parsed = fx.parse_receiver_response(body)
            pages.append({
                "url": live_url(i, self.n_hosts, port),
                "text": None if parsed is None else "\n".join(parsed),
                "outlinks": [
                    line[len(fx.LINK_PREFIX):] for line in body.split("\n")
                    if line.startswith(fx.LINK_PREFIX)
                ],
            })
        return {"seeds": seeds, "robots": robots, "pages": pages,
                "seeds_path": seeds_path, "robots_path": robots_path}
