"""Local mirror of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at a given sf dir,
compare row count, column names, and an order-insensitive value hash.

Usage: python tools/compare_oracle.py [sf_dir] [name ...]

With query names, those queries run in this process. Without, the
whole registry is swept in fresh child processes of ``CHUNK`` queries
each (``python3 tools/compare_oracle.py <sf_dir> <names...>``), and
their ok/fail counts are summed: one process running all 290 queries
at sf0.01 grew to 6.3 GB RSS and was OOM-killed at query 257. Each
child's counts are printed with its peak RSS (``ru_maxrss`` of the
child Python process and the descendants it reaped).

The DuckDB connection runs with ``DUCKDB_MEMORY_LIMIT`` and a private
spill directory. Without a limit DuckDB 1.0 takes 80 % of host RAM
(12.5 GiB on a 15 GiB host) and the oracle side of one child reached
about 7.8 GB; with it, large oracle joins and aggregates spill to disk.
At 2 GB the two louvain quality oracles still fail with DuckDB's
out-of-memory error ("failed to pin block"), so the limit is 4 GB.
"""

from __future__ import annotations

import hashlib
import os
import re
import subprocess
import sys
import tempfile
from pathlib import Path

import duckdb
import pandas as pd

REPO = Path(__file__).resolve().parents[1]
CHUNK = 50
DUCKDB_MEMORY_LIMIT = "4GB"


def value_hash(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes: ints → int64, floats → rounded float64
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64").round(6)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return hashlib.sha256(
        df.to_csv(index=False, float_format="%.6f").encode()
    ).hexdigest()[:16]


def sweep(sf_dir: str, names: list[str]) -> int:
    """Run ``names`` in fresh child processes of ``CHUNK`` queries."""
    n_pass = n_fail = 0
    for i in range(0, len(names), CHUNK):
        chunk = names[i : i + CHUNK]
        child = subprocess.Popen(
            [sys.executable, "-u", str(Path(__file__).resolve()), sf_dir,
             *chunk],
            stdout=subprocess.PIPE,
            text=True,
        )
        counts = None
        for line in child.stdout:
            print(line, end="", flush=True)
            counts = re.fullmatch(r"(\d+) ok, (\d+) fail\n?", line) or counts
        # wait4 reaps the child and returns its ru_maxrss (KiB on Linux)
        _, status, usage = os.wait4(child.pid, 0)
        child.returncode = os.waitstatus_to_exitcode(status)
        ok, fail = (int(counts[1]), int(counts[2])) if counts else (0, 0)
        # a child that died before reporting fails its unreported queries
        fail += len(chunk) - ok - fail
        n_pass += ok
        n_fail += fail
        print(
            f"chunk {i // CHUNK + 1}: queries {i + 1}-{i + len(chunk)}:"
            f" {ok} ok, {fail} fail, exit {child.returncode},"
            f" peak RSS {usage.ru_maxrss // 1024} MiB",
            flush=True,
        )
    print(f"\n{n_pass} ok, {n_fail} fail")
    return 1 if n_fail else 0


def compare(spark, con, entrymod, sf_dir: str, only: set[str]) -> int:
    """Run the ``only`` queries on Spark and their oracles on ``con``."""
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {exc}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows (rows-only check)")
            n_pass += 1
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: oracle error: {exc}")
            n_fail += 1
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rowcount {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"columns {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        if not problems:
            hs, ho = value_hash(sdf), value_hash(odf)
            if hs != ho:
                problems.append(f"value-hash {hs} vs {ho}")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"OK    {name}: {len(sdf)} rows")
            n_pass += 1
    print(f"\n{n_pass} ok, {n_fail} fail")
    return 1 if n_fail else 0


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, str(REPO))
    import __spark_entry__ as entrymod

    if not only:
        return sweep(sf_dir, list(entrymod.queries()))
    from graph500_spark.session import get_spark

    spark = get_spark(app_name="oracle-compare")
    spark.sparkContext.setLogLevel("ERROR")

    with tempfile.TemporaryDirectory(prefix="oracle-duckdb-") as spill:
        con = duckdb.connect(
            config={
                "memory_limit": DUCKDB_MEMORY_LIMIT,
                "temp_directory": spill,
            }
        )
        try:
            for t in (
                "region nation customer supplier part orders lineitem events"
                " documents embeddings".split()
            ):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
                )
            return compare(spark, con, entrymod, sf_dir, only)
        finally:
            con.close()


if __name__ == "__main__":
    raise SystemExit(main())
