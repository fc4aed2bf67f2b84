"""Full-registry DRIVER-PARITY correctness gate.

``tools/verify_local.py`` runs the registry under the engine's own
session (``cowsdb_spark.session.get_spark``), which pins confs the
round driver does NOT pin — ANSI off, NTZ inference off, 32 shuffle
partitions, 12g heap, 512m codegen cache.  Twice in a row a local
"50/50" claim died in the driver on exactly that gap (r6 t43 typed
hash, r7 t31 ANSI ``element_at`` past-the-end).  This tool closes it:
it is its own process that builds a PLAIN SparkSession — Spark 4
defaults, i.e. ANSI **on**, parquet TIMESTAMP_NTZ inference **on**,
200 shuffle partitions, 1g driver heap — and path-loads
``__spark_entry__.py`` exactly the way the driver does, then runs
EVERY ``queries()`` entry against its ``oracle_sql()`` on DuckDB with
the same typed compare as verify_local.

A "50/50" claim is only a DRIVER 50/50 when this gate is green.

Usage: python tools/verify_driver_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import importlib.util
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

import duckdb  # noqa: E402

from cowsdb_spark.session import host_cpus  # noqa: E402
from tools.verify_local import canon, dtype_problems  # noqa: E402


def plain_session():
    """The driver's session: nothing configured beyond master/UI.

    Deliberately NOT ``get_spark`` — Spark 4 defaults must stand
    (ansi=true, inferTimestampNTZ=true, shuffle.partitions=200), and
    because this tool is its own process the JVM really boots with
    the default 1g driver heap the driver runs (codegen OOMs the
    engine session's 12g would mask reproduce here).
    """
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{host_cpus()}]")
        .appName("verify_driver_parity")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def load_entry():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(_REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = plain_session()
    for key in (
        "spark.sql.ansi.enabled",
        "spark.sql.parquet.inferTimestampNTZ.enabled",
        "spark.sql.shuffle.partitions",
    ):
        print(f"conf {key} = {spark.conf.get(key)}")

    mod = load_entry()
    from cowsdb_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )

    qs = mod.queries()
    oracles = mod.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            scols = df.columns
            sdtypes = df.dtypes
            srows = [tuple(r) for r in df.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"ROWS {name}: {len(srows)} rows (no oracle) [{dt:.1f}s]")
            n_rows_only += 1
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = list(rel.columns)
            dtypes_duck = [str(t) for t in rel.types]
            drows = rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount {len(srows)} vs {len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols {sorted(scols)} vs {sorted(dcols)}")
        problems.extend(
            dtype_problems(sdtypes, list(zip(dcols, dtypes_duck)))
        )
        if not problems:
            sc, dc = canon(srows, scols), canon(drows, dcols)
            if sc != dc:
                diffs = [(a, b) for a, b in zip(sc, dc) if a != b][:3]
                problems.append(f"values differ, first diffs: {diffs}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(srows)} rows [{dt:.1f}s]")
            n_pass += 1
    print(f"\nDRIVER-PARITY: {n_pass} pass, {n_fail} fail, "
          f"{n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
