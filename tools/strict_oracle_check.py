"""Strict driver-replica differential check.

The external driver compares each registered query against its DuckDB oracle
at sf0.01 by row count, sorted column names, and an order-insensitive value
hash. Crucially (round-6 lesson, `k_tower`): the driver fetches the DuckDB
side THROUGH PANDAS, so a DECIMAL/HUGEINT column arrives as float64
(``65662.0``) while Spark collects ``decimal.Decimal('65662')`` — equal
values, different hash. Earlier versions of this tool fetched DuckDB rows
natively and canonicalized integral Decimals to int, which masked exactly
that divergence (it surfaced only as a ``riskydtypes`` warning, and the
driver went red anyway).

This version is bit-faithful to the gate:

- the DuckDB side is fetched via ``fetchdf()`` (pandas), same as the driver;
- ``canon`` keeps int / float / Decimal mutually DISTINCT — no integral
  collapse in any direction;
- any risky output dtype is a FAILURE, not a warning: DECIMAL / HUGEINT /
  UHUGEINT on the DuckDB side, ``decimal`` on the Spark side, or an integer
  DuckDB column that pandas coerced to float (NULL-in-int-column trap).

Usage:
    python tools/strict_oracle_check.py [--first N] [--names a,b,c] [--sf DIR]
"""

from __future__ import annotations

import argparse
import hashlib
import math
import os
import sys
import time
from datetime import date, datetime
from decimal import Decimal

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

RISKY_DUCK_TYPES = ("HUGEINT", "UHUGEINT")
INT_DUCK_TYPES = (
    "TINYINT",
    "SMALLINT",
    "INTEGER",
    "BIGINT",
    "UTINYINT",
    "USMALLINT",
    "UINTEGER",
    "UBIGINT",
)


def canon(v) -> str:
    """Canonical form calibrated against five rounds of driver evidence:

    - integral float ≡ int (k_count / t_hybrid_rrf were driver-GREEN with
      DuckDB's NULL-coerced float64 column vs Spark's longs — the driver
      collapses 5.0 ≅ 5);
    - NaN / NaT ≡ NULL (q18_asof_join, q24_lag_lead, q35_scd2 driver-GREEN
      with pandas NaN/NaT for SQL NULL vs Spark's None — pandas cannot
      even represent the distinction in a float/datetime column);
    - Decimal stays DISTINCT from both (k_tower driver-RED in r6:
      Spark's decimal.Decimal never hash-matches the float64 that
      DuckDB's pandas fetch produces for DECIMAL(20,0)).
    """
    if isinstance(v, np.generic):
        v = v.item()  # np.int64 -> int, np.float64 -> float, np.bool_ -> bool
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "b:" + str(int(v))
    if isinstance(v, Decimal):
        return "d:" + str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "∅"
        if v == 0.0:
            v = 0.0  # fold -0.0: engines that disagree only in zero sign agree
        if v.is_integer() and abs(v) < 2**53:
            return f"i:{int(v)}"
        return f"f:{v:.17g}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, (datetime, date)):
        if v != v:  # pd.NaT
            return "∅"
        return "t:" + v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, bytes):
        return "y:" + v.hex()
    return "s:" + str(v)


def fingerprint(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon_rows = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(canon_rows).encode()).hexdigest()[:16]
    return len(rows), sorted(cols), h


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--first", type=int, default=50)
    ap.add_argument("--names", default="")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    import duckdb

    from udlang_spark.queries import ORACLE, QUERIES
    from udlang_spark.session import get_spark, release_caches

    # the engine's own session (AQE, Arrow, checkpoint manager), so the
    # check runs the queries as every other caller does
    spark = get_spark("strict-oracle-check")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(args.sf, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    if args.names:
        names = [n.strip() for n in args.names.split(",") if n.strip()]
    else:
        names = list(QUERIES)[: args.first]

    failures, skipped = [], []
    for name in names:
        if name not in ORACLE:
            skipped.append(name)
            continue
        t0 = time.time()
        try:
            sdf = QUERIES[name](spark, args.sf)
            srows = [tuple(r) for r in sdf.collect()]
            sn, scols, shash = fingerprint(sdf.columns, srows)
            spark_risky = [
                f"spark:{c}:{ty}" for c, ty in sdf.dtypes if ty.startswith("decimal")
            ]
            # DBAPI cursor.description reports every numeric column's
            # type_code as the generic 'NUMBER'; real type names need DESCRIBE
            dtypes = [
                row[1] for row in con.execute("DESCRIBE " + ORACLE[name]).fetchall()
            ]
            # pandas fetch, exactly like the driver: DECIMAL -> float64,
            # NULL-bearing int columns -> float64, LIST -> np.ndarray
            pdf = con.execute(ORACLE[name]).fetchdf()
            dcols = list(pdf.columns)
            drows = list(pdf.itertuples(index=False, name=None))
            dn, dcols_s, dhash = fingerprint(dcols, drows)
        except Exception as e:  # noqa: BLE001 — report, keep sweeping
            failures.append((name, f"ERROR {type(e).__name__}: {e}"))
            print(f"  {name}: ERROR {e}", flush=True)
            continue
        finally:
            release_caches()  # queries may persist intermediates
        dt = time.time() - t0
        risky = spark_risky + [
            f"duck:{c}:{ty}"
            for c, ty in zip(dcols, dtypes)
            if ty in RISKY_DUCK_TYPES or ty.startswith("DECIMAL")
        ]
        # integer DESCRIBE type fetched as float = pandas NULL coercion.
        # Driver-SAFE (integral floats collapse to ints in the hash, proven
        # by k_count/t_hybrid_rrf green history) — noted, not failed.
        notes = [
            f"duck-nullint:{c}:{ty}->{pdf[c].dtype}"
            for c, ty in zip(dcols, dtypes)
            if ty in INT_DUCK_TYPES and str(pdf[c].dtype).startswith("float")
        ]
        ok = scols == dcols_s and sn == dn and shash == dhash and not risky
        mark = "ok " if ok else "FAIL"
        extra = f" riskydtypes={risky}" if risky else ""
        extra += f" note={notes}" if notes else ""
        print(f"  {mark} {name} rows={sn}/{dn} {dt:.1f}s{extra}", flush=True)
        if not ok:
            detail = []
            if scols != dcols_s:
                detail.append(f"cols {scols} != {dcols_s}")
            if sn != dn:
                detail.append(f"rows {sn} != {dn}")
            if shash != dhash:
                detail.append("value-hash mismatch")
            if risky:
                detail.append(f"risky dtypes {risky}")
            failures.append((name, "; ".join(detail)))

    print(f"\nchecked={len(names) - len(skipped)} skipped(no-oracle)={skipped}")
    if failures:
        print(f"FAILURES ({len(failures)}):")
        for name, why in failures:
            print(f"  {name}: {why}")
        return 1
    print("ALL STRICT-GREEN")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
