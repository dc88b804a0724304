#!/usr/bin/env python
"""Local replica of the driver's t2 correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB over the
same parquet tables; compare row count, column names, and values
(order-insensitive, column-name-sorted, float-tolerant).

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time
from datetime import date, datetime

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, ".")

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            # NaN ≅ NULL, matching the driver: a nullable BOOLEAN
            # column reaches pandas as object None on the Spark side
            # but object float-NaN through DuckDB .df(), and
            # coercion_semantics was driver-GREEN in r5 with exactly
            # that split — so the driver unifies them.  This cannot
            # mask a real mismatch: in float64 columns both engines'
            # NULLs become NaN anyway, and value-vs-null still differs.
            return None
        # exact compare — the driver's hash is exact, so the local gate
        # must be at least as strict or local green won't predict driver
        # green (this masked the round-1/2 variancePopulation failure)
        return repr(v)
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    return v


def from_pandas(v):
    """Convert a pandas/numpy cell to the plain-Python value the driver
    sees.  The driver fetches DuckDB results via ``res.df()`` (pandas),
    NOT ``fetchall()`` — the two disagree on HUGEINT (exact int vs
    float64), which cost four red driver cells in round 4 while the
    fetchall-based local gate stayed green.  BOTH sides go through
    pandas (Spark via toPandas, DuckDB via .df()) so representation
    quirks pandas applies to each side equally (NULL double → NaN,
    nullable int64 → float64) cancel out, exactly as they do at the
    driver — while one-sided quirks (HUGEINT → float64 only on the
    DuckDB side) still surface as the mismatches they are."""
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    if isinstance(v, np.generic):
        return v.item()
    if isinstance(v, np.ndarray):
        return [from_pandas(x) for x in v.tolist()]
    if isinstance(v, (list, tuple)):
        return [from_pandas(x) for x in v]
    return v


def normalize_rows(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [c.lower() for c in sorted(columns, key=str.lower)], out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from warp_spark import get_spark

    spark = get_spark("check-correctness")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            spdf = sdf.toPandas()
            srows = [
                tuple(from_pandas(v) for v in row)
                for row in spdf.itertuples(index=False, name=None)
            ]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}", flush=True)
            failures.append(name)
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"ok?   {name}: rows={len(srows)} (no oracle — rows-only check)", flush=True)
            if len(srows) == 0:
                failures.append(name)
            continue
        try:
            res = con.sql(sql)
            ocols = list(res.columns)
            # driver-faithful fetch: pandas .df(), not fetchall() —
            # see from_pandas() for why
            odf = res.df()
            # DATE columns: DuckDB .df() widens DATE to a midnight
            # Timestamp while Spark toPandas yields datetime.date; the
            # driver compares these EQUAL (events_user_retention was
            # driver-green in r04, the same round the HUGEINT pandas
            # reds proved the .df() fetch), so collapse DATE-typed
            # columns back to date.  Per declared type only — a true
            # TIMESTAMP column at midnight must NOT collapse.
            for col, typ in zip(ocols, res.types):
                if str(typ) == "DATE" and odf[col].dtype.kind == "M":
                    odf[col] = odf[col].dt.date
            orows = [
                tuple(from_pandas(v) for v in row)
                for row in odf.itertuples(index=False, name=None)
            ]
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}", flush=True)
            failures.append(name)
            continue
        sc, sr = normalize_rows(scols, srows)
        oc, orr = normalize_rows(ocols, orows)
        dt = time.time() - t0
        if sc != oc:
            print(f"FAIL  {name}: schema mismatch spark={sc} oracle={oc}", flush=True)
            failures.append(name)
        elif len(sr) != len(orr):
            print(f"FAIL  {name}: rowcount spark={len(sr)} oracle={len(orr)}", flush=True)
            failures.append(name)
        elif sr != orr:
            bad = [(a, b) for a, b in zip(sr, orr) if a != b][:3]
            print(f"FAIL  {name}: value mismatch, first diffs: {bad}", flush=True)
            failures.append(name)
        else:
            print(f"PASS  {name}: {len(sr)} rows [{dt:.1f}s]", flush=True)

    print()
    if failures:
        print(f"{len(failures)} FAILED: {failures}")
        sys.exit(1)
    print(f"all {len([q for q in queries if not only or q in only])} queries passed")


if __name__ == "__main__":
    main()
