"""Local replica of the driver's correctness gate.

Runs every __spark_entry__.queries() entry at sf0.01, runs the matching
oracle_sql() in DuckDB over the same parquet, and compares row count,
column names, and an order-insensitive value hash (columns sorted by
name, rows sorted, canonical string repr). Entries without an oracle get
the rows-only check.

Usage: python tools/check_entry.py [sf_dir]
"""

from __future__ import annotations

import hashlib
import math
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

DEFAULT_SF_DIR = "/root/testdata/sf0.01"

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(v) -> str:
    import datetime
    from decimal import Decimal

    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # normalize float repr (driver-style value hash tolerance)
        return repr(round(v, 9))
    # Decimals are hashed AS-IS (repr of the Decimal object), matching the
    # driver: a Decimal repr never equals a float repr, so any entry that
    # returns decimals while its oracle returns floats MUST show red here.
    # (r2 lesson: float-normalizing them masked the driver's one failure.)
    if isinstance(v, Decimal):
        return repr(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def frame_hash(df) -> tuple[int, list[str], str]:
    import pandas as pd

    cols = sorted(df.columns)
    rows = ["\x1f".join(canon(v) for v in row) for row in df[cols].itertuples(index=False, name=None)]
    rows.sort()
    h = hashlib.md5("\x1e".join(rows).encode("utf-8")).hexdigest()
    return len(df), cols, h


def duckdb_views(con, sf_dir: str):
    """Register every driver table of ``sf_dir`` as a DuckDB view."""
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def main() -> int:
    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_SF_DIR
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb_views(duckdb.connect(), sf_dir)

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = 0

    # DRIVER-GATE PARITY GUARDS (r4, after the r3 lesson: the driver
    # evaluates at most 50 entries and silently drops the rest — three
    # registered mm_* entries had no CORRECTNESS_r03 row and nobody
    # noticed). (1) the registry must FIT the driver's cap; (2) every
    # registered entry must appear in the latest driver artifact —
    # expected to differ right after a registry change, but a LOUD
    # failure any other time.
    DRIVER_ENTRY_CAP = 50
    if len(qs) > DRIVER_ENTRY_CAP:
        print(
            f"FAIL  registry has {len(qs)} entries > driver cap "
            f"{DRIVER_ENTRY_CAP} — the driver will silently drop "
            f"{len(qs) - DRIVER_ENTRY_CAP} trailing entr(ies): "
            f"{list(qs)[DRIVER_ENTRY_CAP:]}"
        )
        failures += 1
    import glob
    import json
    import os

    arts = sorted(glob.glob(os.path.join(os.path.dirname(__file__), "..", "CORRECTNESS_r*.json")))
    if arts:
        with open(arts[-1]) as fh:
            driver_rows = set(json.load(fh))
        missing = [n for n in qs if n not in driver_rows]
        if missing:
            print(
                f"WARN  {len(missing)} registered entr(ies) have NO row in "
                f"{os.path.basename(arts[-1])}: {missing}\n"
                "      (expected only immediately after a registry change; "
                "otherwise the driver gate is silently skipping them)"
            )
    for name, fn in qs.items():
        t0 = time.monotonic()
        try:
            sdf_spark = fn(spark, sf_dir)
            # DRIVER-CANON GUARD (r5, after the r4 mm_media RED row): the
            # driver canonicalizes EVERY entry (rows-only included) with a
            # pandas multi-column sort whose lexsort FACTORIZES (hashes)
            # each column — array/map/struct cells are unhashable and
            # crash it. Reject complex output columns up front so the
            # class fails locally, not in the driver artifact.
            complex_cols = [
                f.name
                for f in sdf_spark.schema.fields
                if f.dataType.typeName() in ("array", "map", "struct")
            ]
            if complex_cols:
                raise TypeError(
                    f"entry emits non-scalar column(s) {complex_cols} — the "
                    "driver's canonicalizer (pandas multi-col sort → "
                    "factorize) cannot hash them; serialize or explode"
                )
            sdf = sdf_spark.toPandas()
            # Reproduce the driver's canonicalization path byte-for-byte
            # on every entry — sort_values over ALL columns (the exact
            # call that died on mm_media) plus our frame_hash. The hash
            # is discarded for rows-only entries; the crash is the point.
            if len(sdf.columns) > 1:
                sdf.sort_values(sorted(sdf.columns))
            frame_hash(sdf)
        except Exception as e:
            print(f"FAIL  {name}: spark error {type(e).__name__}: {str(e)[:200]}")
            failures += 1
            continue
        dt = time.monotonic() - t0
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows ({dt:.1f}s) [rows-only]")
            if len(sdf) == 0 and name not in ("dedup_exact",):
                print(f"      WARNING: zero rows")
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error {str(e)[:200]}")
            failures += 1
            continue
        n1, c1, h1 = frame_hash(sdf)
        n2, c2, h2 = frame_hash(ddf)
        ok = (n1, c1, h1) == (n2, c2, h2)
        status = "OK   " if ok else "FAIL "
        print(f"{status} {name}: spark {n1} rows / duck {n2} rows, hash {'match' if h1 == h2 else 'MISMATCH'} ({dt:.1f}s)")
        if not ok:
            failures += 1
            if c1 != c2:
                print(f"      cols spark={c1} duck={c2}")
            elif n1 == n2:
                # show first differing row
                import pandas as pd

                a = sdf[sorted(sdf.columns)].astype(str).sort_values(sorted(sdf.columns)).reset_index(drop=True)
                b = ddf[sorted(ddf.columns)].astype(str).sort_values(sorted(ddf.columns)).reset_index(drop=True)
                for i in range(min(len(a), len(b))):
                    if not a.iloc[i].equals(b.iloc[i]):
                        print("      spark:", a.iloc[i].to_dict())
                        print("      duck :", b.iloc[i].to_dict())
                        break
    print(f"\n{len(qs) - failures}/{len(qs)} entries clean")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
