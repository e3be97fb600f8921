"""Local replica of the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() twin on DuckDB at the
same sf, compare row count + column names + order-insensitive values.

Usage: python3 scripts/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
from decimal import Decimal
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod  # noqa: E402
from docling_eval_spark.session import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def normalize(rows, cols):
    out = []
    for r in rows:
        vals = []
        for c in cols:
            v = r[c] if not isinstance(r, tuple) else r[cols.index(c)]
            if isinstance(v, float):
                v = f"{v:.9g}"
            vals.append(str(v))
        out.append("|".join(vals))
    return sorted(out)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("check-oracles", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = sdf.collect()
        except Exception as exc:
            print(f"FAIL  {name}: spark error: {exc}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (no oracle)")
            continue
        try:
            # fetchall keeps SQL NULL as None; a pandas frame would turn a
            # NULL in a DOUBLE column into NaN
            cur = con.execute(oracles[name])
            drows = cur.fetchall()
        except Exception as exc:
            print(f"FAIL  {name}: duckdb error: {exc}")
            failed.append(name)
            continue
        dcols = [d[0] for d in cur.description]
        if [c.lower() for c in scols] != [c.lower() for c in dcols]:
            print(f"FAIL  {name}: cols spark={scols} duckdb={dcols}")
            failed.append(name)
            continue
        if len(srows) != len(drows):
            print(f"FAIL  {name}: rows spark={len(srows)} duckdb={len(drows)}")
            failed.append(name)
            continue
        s_norm = normalize([r.asDict() for r in srows], scols)
        # DuckDB's DECIMAL compares as a double, as it did through pandas
        d_norm = normalize(
            [
                {c: float(v) if isinstance(v, Decimal) else v for c, v in zip(dcols, t)}
                for t in drows
            ],
            dcols,
        )
        if s_norm != d_norm:
            diffs = [
                (a, b) for a, b in zip(s_norm, d_norm) if a != b
            ][:3]
            print(f"FAIL  {name}: value mismatch ({len([1 for a,b in zip(s_norm,d_norm) if a!=b])} rows); first: {diffs}")
            failed.append(name)
            continue
        print(f"OK    {name}: {len(srows)} rows")
    spark.stop()
    if failed:
        print("FAILED:", failed)
        return 1
    print("ALL OK")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
