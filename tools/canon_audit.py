"""Canonicalization audit for the oracle registry.

The driver's correctness gate fetches DuckDB oracle results through a
pandas/Arrow path where some DuckDB types change their rendered form even
when the VALUES are identical to Spark's:

- HUGEINT (the result type of SUM over any integer column) becomes
  float64 in pandas (``7`` -> ``7.0``) and decimal128 in Arrow — either
  way the canonical string diverges from Spark's int64 ``7``.
- An integer column containing any NULL is promoted to float64 by pandas,
  changing EVERY value's rendering in that column (``88`` -> ``88.0``).
- DECIMAL aggregates render as Decimal objects.
- Raw DOUBLE columns produced by libm math (cosine, stddev) can differ in
  the last bits between engines, so their full repr diverges even when a
  10-significant-digit compare would pass.

This explains the round-1/round-2 "driver hash-FAILs that do not reproduce
locally" (VERDICT r2 What's-wrong #1): tools/check_oracle.py fetches via
``fetchall()`` where HUGEINT arrives as a plain Python int.

This tool flags, for every registered oracle, output columns that are:
  HUGEINT/UHUGEINT  -> always wrong under pandas; CAST to BIGINT
  DECIMAL           -> render-risky; CAST to BIGINT or DOUBLE
  DOUBLE/FLOAT      -> warn (ok only for exact cents/100.0 arithmetic)
  any NULL value    -> pandas promotion hazard; COALESCE to a sentinel

Usage: python tools/canon_audit.py [sf_dir] [query ...]
Exit 1 if any HUGEINT/DECIMAL/NULL hazard is found (DOUBLE is warn-only).
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

HARD = ("HUGEINT", "UHUGEINT", "DECIMAL")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS FROM '{sf_dir}/{t}.parquet'")

    _, oracles = entrymod.registry()
    hard_hits: list[str] = []
    for name, sql in oracles.items():
        if only and name not in only:
            continue
        try:
            desc = con.execute(f"DESCRIBE {sql}").fetchall()
        except Exception as e:
            print(f"ERROR {name}: describe failed: {e}")
            hard_hits.append(name)
            continue
        flags = []
        for col, typ, *_ in desc:
            base = typ.split("(")[0]
            if base in HARD:
                flags.append(f"{col}:{typ}")
            elif base in ("DOUBLE", "FLOAT", "REAL"):
                flags.append(f"{col}:{typ}(warn)")
        # NULL scan: run the oracle once at the (small) audit sf and count
        # NULLs per output column.
        null_cols = []
        try:
            checks = ", ".join(
                f'SUM(CASE WHEN "{c}" IS NULL THEN 1 ELSE 0 END) AS "{c}"'
                for c, *_ in desc
            )
            row = con.execute(f"SELECT {checks} FROM ({sql})").fetchone()
            null_cols = [c for (c, *_), n in zip(desc, row) if n]
        except Exception as e:
            print(f"ERROR {name}: null scan failed: {e}")
            hard_hits.append(name)
        for c in null_cols:
            flags.append(f"{c}:NULLS")
        hard = [f for f in flags if "(warn)" not in f]
        if hard:
            hard_hits.append(name)
            print(f"HAZARD {name}: {', '.join(flags)}")
        elif flags:
            print(f"warn   {name}: {', '.join(flags)}")

    print(f"\n{len(hard_hits)} queries with hard canonicalization hazards"
          + (f": {sorted(set(hard_hits))}" if hard_hits else ""))
    return 1 if hard_hits else 0


if __name__ == "__main__":
    raise SystemExit(main())
