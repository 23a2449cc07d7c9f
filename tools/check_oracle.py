"""Local replica of the driver's correctness gate: run each queries() entry
on Spark and its oracle_sql() on DuckDB at sf0.01, compare row count, sorted
column names, and order-insensitive stringified values."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import duckdb

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from __spark_entry__ import entry, oracle_sql, queries  # noqa: E402

from logstash_forwarder_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("LFS_ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(v):
    import decimal

    if v is None:
        return "NULL"
    if isinstance(v, float):
        return f"{v:.6f}"
    if isinstance(v, decimal.Decimal):
        # engines render Decimal scale differently (829499.00 vs 829499.0);
        # the driver's hasher does NOT normalize this — risky_types() bans
        # Decimal from compared outputs so this branch should never be hit.
        return str(v)
    if isinstance(v, list):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return str(v)


def risky_types(schema) -> list[str]:
    """Columns whose engine-specific rendering can break the driver's value
    hash even when the values are numerically identical: DECIMAL (scale
    rendering), float/double (repr differences), and ARRAY/MAP (the driver's
    canonicalizer sorts the result frame with pandas and a list-valued cell
    is unhashable — VERDICT r4 #1, `assemble_packs` driver-RED). House rule
    (queries.py docstring): compared outputs are BIGINT / strings /
    timestamps only; project arrays through array_join/xxhash64 first."""
    from pyspark.sql import types as T

    bad = (T.DecimalType, T.DoubleType, T.FloatType, T.ArrayType, T.MapType)
    return [f.name for f in schema.fields if isinstance(f.dataType, bad)]


def frame_key(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


def main() -> int:
    # optional argv: query names to check (default all); `--no-entry` skips
    # the entry() smoke so a single-query spot-check stays fast.
    argv = [a for a in sys.argv[1:]]
    run_entry = "--no-entry" not in argv
    only = {a for a in argv if not a.startswith("--")}
    spark = get_spark(app_name="oracle-check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    oracles = oracle_sql()
    failures = 0
    for name, fn in queries().items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, SF_DIR)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(srows)} rows")
            continue
        risky = risky_types(sdf.schema)
        if risky:
            print(f"FAIL {name}: decimal/float in hash-compared output: {risky}")
            failures += 1
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = [c.lower() for c in rel.columns]
            drows = rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error {type(e).__name__}: {e}")
            failures += 1
            continue
        ok_cols = sorted(c.lower() for c in scols) == sorted(dcols)
        ok_count = len(srows) == len(drows)
        ok_vals = False
        if ok_cols and ok_count:
            ok_vals = frame_key([c.lower() for c in scols], srows) == frame_key(
                dcols, drows
            )
        status = "OK" if (ok_cols and ok_count and ok_vals) else "FAIL"
        if status == "FAIL":
            failures += 1
            print(
                f"FAIL {name}: cols={ok_cols} ({sorted(scols)} vs {sorted(dcols)}) "
                f"count={ok_count} ({len(srows)} vs {len(drows)}) vals={ok_vals}"
            )
            if ok_cols and ok_count and not ok_vals:
                a = frame_key([c.lower() for c in scols], srows)
                b = frame_key(dcols, drows)
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                for x, y in diff:
                    print(f"   spark={x}\n   duck ={y}")
        else:
            print(f"OK   {name}: {len(srows)} rows")
    if run_entry:
        e = entry(spark)
        n = e.count()
        print(f"entry(): {n} rows, schema={e.schema.simpleString()}")
        if n <= 0:
            failures += 1
    return failures


if __name__ == "__main__":
    sys.exit(main())
