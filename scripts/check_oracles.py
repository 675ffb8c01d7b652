"""Local mimic of the driver's correctness gate.

Runs every ``queries()`` entry at sf0.01 and compares against its
``oracle_sql()`` via DuckDB: row count, sorted column names, and an
order-insensitive value comparison (columns sorted by name, rows sorted,
values normalized). Exits nonzero if any declared oracle mismatches,
or at once, before DuckDB or Spark starts, if a named entry is unknown.

Usage: python scripts/check_oracles.py [name ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, ".")

from gobblin_spark.session import get_spark  # noqa: E402
from gobblin_spark.sources.files import TABLES  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402

# Default mirrors the driver's gate SF; override to stress SF-coupling
# (hardcoded counts, scale guards) at other scales:
#   SPARK_GRAFT_ORACLE_SF_DIR=/root/testdata/sf0.1 python scripts/check_oracles.py
SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


# DuckDB result type → the Spark dtype it must line up with. Anything
# absent (HUGEINT above all — DuckDB's default for integer SUM) has no
# Spark twin and will hash-mismatch at the driver even when every value
# prints identically, so it is reported as a type problem here.
DUCK_TO_SPARK = {
    "BOOLEAN": "boolean",
    "TINYINT": "tinyint",
    "SMALLINT": "smallint",
    "INTEGER": "int",
    "BIGINT": "bigint",
    "FLOAT": "float",
    "DOUBLE": "double",
    "VARCHAR": "string",
    "BLOB": "binary",
    "DATE": "date",
    "TIMESTAMP": "timestamp_ntz",
    "TIMESTAMP_NS": "timestamp_ntz",
}


def type_problems(scols, sdtypes, ocols, otypes):
    """Pair output columns by name and require the DuckDB type to map
    exactly onto the Spark dtype (scalars only; list/struct compared
    loosely since both engines print them differently)."""
    sd = dict(sdtypes)
    probs = []
    for col, dt in zip(ocols, otypes):
        duck = str(dt).upper()
        if col not in sd:
            continue
        spark = sd[col]
        if duck.startswith(("DECIMAL", "STRUCT", "MAP")) or "[]" in duck:
            continue  # complex/decimal: value compare still applies
        want = DUCK_TO_SPARK.get(duck)
        if want is None:
            probs.append(f"{col}: oracle type {duck} has no Spark twin")
        elif want != spark:
            probs.append(f"{col}: oracle {duck}→{want} but spark {spark}")
    return probs


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def table_key(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)
    return out


def main(only: list[str]) -> int:
    queries = entrymod.queries()
    unknown = sorted(set(only) - set(queries))
    if unknown:
        # a typo or retired name would otherwise run 0 queries and pass
        print(f"unknown entries: {' '.join(unknown)}", file=sys.stderr)
        return 2
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    spark = get_spark("oracle-check", master="local[8]", shuffle_partitions=8)
    oracles = entrymod.oracle_sql()
    failures = 0
    ran = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        ran += 1
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok(rows-only) {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
            continue
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        try:
            desc = con.execute(
                "DESCRIBE " + oracles[name]).fetchall()
            otypes = {r[0]: r[1] for r in desc}
        except Exception:
            otypes = {}
        problems.extend(
            type_problems(scols, sdf.dtypes, list(otypes), list(otypes.values()))
        )
        vhash = ""
        if not problems:
            sk = table_key([tuple(r) for r in srows], scols)
            ok = table_key(orows, ocols)
            vhash = hashlib.md5(repr(sk).encode()).hexdigest()[:12]
            if sk != ok:
                for i, (a, b) in enumerate(zip(sk, ok)):
                    if a != b:
                        problems.append(f"first diff row {i}: spark={a} oracle={b}")
                        break
                else:
                    problems.append("value diff (length mismatch after sort?)")
        if problems:
            failures += 1
            print(f"FAIL {name}: " + "; ".join(problems))
        else:
            print(
                f"ok {name}: {len(srows)} rows hash={vhash} "
                f"[{time.time()-t0:.1f}s]"
            )
    spark.stop()
    scope = (f"{ran} of {len(queries)} queries" if only
             else f"{ran} queries")
    print(f"\n{failures} failures / {scope}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
