"""Local stand-in for the driver's correctness gate: runs every registry
entry ``queries()[name]`` (the driver contract plus the rest of
``web_scraper_v1_spark.queries``) on Spark and its ``oracle_sql()[name]``
on DuckDB at the given sf dir, compares row count, column names, and an
order-insensitive value hash (rows sorted, columns sorted by name, values
stringified).

Usage: python scripts/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents"
).split()


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def value_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(_norm(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode("utf-8", "surrogateescape"))
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from web_scraper_v1_spark import queries as Q
    from web_scraper_v1_spark.session import build_session, ship_package

    spark = build_session("selfcheck")
    ship_package(spark)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    from web_scraper_v1_spark.operators import dedup as DD
    from web_scraper_v1_spark.operators import ordering

    qs = Q.queries()
    oracles = Q.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            DD.release_cached()
            ordering.release_cached()
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            n_fail += 1
            continue
        dt = time.monotonic() - t0
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {ex}")
            n_fail += 1
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rows {len(srows)} vs {len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols {sorted(scols)} vs {sorted(dcols)}")
        if not problems:
            sh = value_hash(scols, srows)
            dh = value_hash(dcols, drows)
            if sh != dh:
                problems.append(f"value hash {sh} vs {dh}")
                # show a sample diff
                so = sorted(
                    "\x01".join(
                        _norm(r[i])
                        for i in sorted(
                            range(len(scols)), key=lambda i: scols[i]
                        )
                    )
                    for r in srows
                )
                do = sorted(
                    "\x01".join(
                        _norm(r[i])
                        for i in sorted(
                            range(len(dcols)), key=lambda i: dcols[i]
                        )
                    )
                    for r in drows
                )
                for a, b in zip(so, do):
                    if a != b:
                        problems.append(f"  spark={a!r}")
                        problems.append(f"  duck ={b!r}")
                        break
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems[:1]))
            for p in problems[1:]:
                print(p)
            n_fail += 1
        else:
            print(f"ok   {name}: {len(srows)} rows match ({dt:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} ok, {n_fail} fail")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
