"""Fleet-resize (rendezvous hashing): the distribution properties the
docstrings claim, checked on data."""

from __future__ import annotations

from web_scraper_v1_spark import queries as Q
from web_scraper_v1_spark.operators.frontier import rendezvous_assign

SF = "/root/testdata/sf0.001"


def test_hrw_minimal_disruption(spark):
    """Growing the fleet 16 -> 20 must (a) move every moved key onto one
    of the NEW workers 16..19 — survivors never trade keys — and (b)
    move roughly a 4/20 fraction of keys (HRW's expected disruption),
    not the ~15/16 a mod-W rehash would."""
    rows = Q.queries()["rendezvous_shard"](spark, SF).collect()
    hosts = {}
    for r in rows:
        hosts[r["host"]] = (r["worker_before"], r["worker_after"], r["moved"])
    moved = {h: v for h, v in hosts.items() if v[2]}
    for h, (_, after, _) in moved.items():
        assert 16 <= after <= 19, (h, after)
    frac = len(moved) / len(hosts)
    assert 0.05 <= frac <= 0.40, frac  # expectation 0.20 over 97 keys


def test_hrw_deterministic_and_in_range(spark):
    df = spark.createDataFrame(
        [(f"k{i}",) for i in range(200)], "key string"
    )
    a = rendezvous_assign(df, "key", 7, "w")
    got = {r["key"]: r["w"] for r in a.collect()}
    again = {r["key"]: r["w"] for r in rendezvous_assign(df, "key", 7, "w").collect()}
    assert got == again
    assert set(got.values()) <= set(range(7))
    # every worker gets SOME share of 200 keys (balance sanity)
    assert len(set(got.values())) == 7
