"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB at
the same sf, compare row counts + order-insensitive values (columns
sorted by name, floats compared bit-for-bit after the queries' own
rounding). Usage: python tools/selfcheck.py [sf_dir] [only_query...]
"""

from __future__ import annotations

import math
import os
import sys
import time

# UTC regardless of the host tz: Spark's collect() converts TimestampType
# via the driver-local zone while DuckDB returns stored naive-UTC values —
# a non-UTC machine would shift every timestamp cell and false-FAIL
os.environ["TZ"] = "UTC"
if hasattr(time, "tzset"):
    time.tzset()

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

import __spark_entry__ as entry_mod

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, list):
        return tuple(norm_cell(x) for x in v)
    return v


def rows_to_set(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = {}
    for r in rows:
        key = tuple(norm_cell(r[i]) for i in order)
        out[key] = out.get(key, 0) + 1
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from crawler_spark.session import get_spark

    spark = get_spark("selfcheck", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        # a typo'd filter must not print ALL OK over zero queries
        print(f"unknown query names: {sorted(unknown)}")
        return 2
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {type(e).__name__}: {e}")
            continue
        # The DRIVER harness canonicalizes result frames with a pandas
        # sort before hashing — a column whose cells are unhashable /
        # unorderable there (list, dict, mixed types) dies with a
        # TypeError even when the values are right (round 4's only red
        # row, u2_record_distinct ARRAY<BIGINT>, failed exactly this
        # way). Replicate that sort so the incompatibility fails HERE.
        try:
            _pdf = pd.DataFrame(
                [[r[c] for c in scols] for r in srows], columns=scols
            )
            if len(_pdf):
                _pdf.sort_values(by=list(_pdf.columns), kind="mergesort")
                for _c in _pdf.columns:
                    _pdf[_c].factorize()
        except Exception as e:
            failures.append(name)
            print(
                f"FAIL {name}: driver-harness canonicalization would die "
                f"on this result frame: {type(e).__name__}: {e} — emit "
                f"scalar-sortable columns (serialize arrays/structs)"
            )
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only, {len(srows)} rows "
                  f"({time.time()-t0:.1f}s)")
            if len(srows) == 0:
                print(f"     WARN {name}: 0 rows (weak evidence)")
            continue
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        if sorted(scols) != sorted(ocols):
            failures.append(name)
            print(f"FAIL {name}: columns {sorted(scols)} != {sorted(ocols)}")
            continue
        sset = rows_to_set(scols, [[r[c] for c in scols] for r in srows])
        oset = rows_to_set(ocols, orows)
        if sset != oset:
            failures.append(name)
            missing = {k: v for k, v in oset.items() if sset.get(k) != v}
            extra = {k: v for k, v in sset.items() if oset.get(k) != v}
            print(
                f"FAIL {name}: {len(srows)} spark vs {len(orows)} oracle rows; "
                f"{len(missing)} oracle-only, {len(extra)} spark-only"
            )
            for k in list(missing)[:3]:
                print(f"     oracle: {k}")
            for k in list(extra)[:3]:
                print(f"     spark : {k}")
        else:
            print(f"ok   {name}: {len(srows)} rows match ({time.time()-t0:.1f}s)")
            if len(srows) == 0:
                print(f"     WARN {name}: 0 rows (weak evidence)")
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL OK")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
