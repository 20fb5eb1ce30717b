"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
over the same sf dir, then compares row count, sorted column names, and an
order-insensitive canonicalized value-hash. Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.10g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_hash(rows: list[tuple], cols: list[str]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(canon_cell(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from page_rank_mapreduce_java_spark import get_spark

    spark = get_spark(app_name="check_oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entrymod.registry()
    failures = []
    unknown = sorted(only - set(qs))
    if unknown:
        print(f"FAIL <args>: unknown query names {unknown}")
        failures.extend(unknown)
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        finally:
            # Query-internal persist()s (LSH signatures etc.) are useless
            # after the collect; release them so a 100-query sweep doesn't
            # accumulate executor storage. (Checkpointed data — the
            # memoized pagerank vector — lives outside this cache.)
            spark.catalog.clearCache()
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            rel = con.execute(oracles[name])
            dcols = [d[0] for d in rel.description]
            drows = rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rows spark={len(srows)} duck={len(drows)}")
        if not problems:
            sh = table_hash(srows, scols)
            dh = table_hash(drows, dcols)
            if sh != dh:
                problems.append(f"hash spark={sh} duck={dh}")
                # show a few mismatching lines for debugging
                so = sorted(range(len(scols)), key=lambda i: scols[i])
                do = sorted(range(len(dcols)), key=lambda i: dcols[i])
                sset = {"\x1f".join(canon_cell(r[i]) for i in so) for r in srows}
                dset = {"\x1f".join(canon_cell(r[i]) for i in do) for r in drows}
                for line in list(sset - dset)[:3]:
                    problems.append(f"  spark-only: {line!r}")
                for line in list(dset - sset)[:3]:
                    problems.append(f"  duck-only : {line!r}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failures.append(name)
        else:
            print(f"OK   {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
