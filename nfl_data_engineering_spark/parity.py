"""Local mirror of the driver's correctness gate: run every catalog entry
against its oracle SQL in DuckDB on the same parquet and compare
row-count + column names + order-insensitive values.

The comparison is deliberately dtype-strict, mirroring the driver's
pandas-based canonicalizer (sort columns by name, sort_values over all
columns, hash): a DuckDB HUGEINT sum (-> float64/object
in .df()) hash-mismatches a Spark int64 even when the values are equal, and
that list-valued cells crash pandas sort_values outright. So this tool
compares through pandas frames, flags dtype-kind mismatches and unhashable
cells, and only then compares values.

Usage: nfl-spark-parity [sf_dir] [query_name ...]
       (or python tools/parity.py — the repo wrapper)
Env:   SPARK_GRAFT_VANILLA=1  -> use a bone-stock SparkSession (driver sim)
"""

from __future__ import annotations

import math
import os
import sys
import time

# DuckDB budget of the oracle side: memory, and the disk its spills may
# take. An oracle that needs more is reported as OOB (out of budget)
# instead of growing this process, or its temp dir, until the host gives
# out: at the 10x replica three oracles need over 5 GB of memory and
# spill until the disk is full.
ORACLE_MEMORY_LIMIT = "4GB"
ORACLE_SPILL_LIMIT = "16GB"

TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")


def canon(pdf, side: str):
    """Driver-style canonical form. Raises TypeError on list/dict cells —
    exactly what kills the driver's sort_values."""
    import numpy as np
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pdf[c].dtype == object:
            bad = pdf[c].map(
                lambda v: isinstance(v, (list, dict, np.ndarray))).any()
            if bad:
                raise TypeError(
                    f"{side} column {c!r} holds list/dict cells "
                    "(unhashable for the driver's sort_values)")
    if len(pdf):
        pdf = pdf.sort_values(list(pdf.columns), kind="mergesort",
                              na_position="last").reset_index(drop=True)
    return pdf


def cell_repr(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<NULL>"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def compare(spark_pdf, duck_pdf) -> list[str]:
    errs: list[str] = []
    s = canon(spark_pdf, "spark")
    d = canon(duck_pdf, "duck")
    if list(s.columns) != list(d.columns):
        return [f"cols spark={list(s.columns)} duck={list(d.columns)}"]
    if len(s) != len(d):
        return [f"rowcount spark={len(s)} duck={len(d)}"]
    for c in s.columns:
        sk, dk = s[c].dtype.kind, d[c].dtype.kind
        if sk != dk:
            errs.append(f"dtype-kind mismatch on {c!r}: "
                        f"spark={s[c].dtype} duck={d[c].dtype} "
                        "(driver hash would differ even on equal values)")
            continue
        sv = [cell_repr(v) for v in s[c]]
        dv = [cell_repr(v) for v in d[c]]
        if sv != dv:
            diffs = [(i, a, b) for i, (a, b) in enumerate(zip(sv, dv))
                     if a != b][:3]
            errs.append(f"values differ on {c!r}: "
                        + "; ".join(f"row{i}: spark={a} duck={b}"
                                    for i, a, b in diffs))
    return errs


def check_entry(fn, sql: str | None, con) -> tuple[str, list[str]]:
    """Run one entry (``fn()`` builds its Spark frame) against its
    oracle ``sql`` on the DuckDB connection ``con``. Returns (outcome,
    messages); outcome is OK, SKIP (no oracle: rows-only), FAIL, or OOB
    when the oracle runs out of the connection's memory or spill
    budget."""
    import duckdb
    try:
        spark_pdf = fn().toPandas()
    except Exception as e:
        return "FAIL", [f"spark error: {str(e)[:300]}"]
    if sql is None:
        try:
            canon(spark_pdf, "spark")
        except TypeError as e:
            return "FAIL", [str(e)]
        return "SKIP", [f"no oracle (rows-only) — {len(spark_pdf)} rows"]
    try:
        duck_pdf = con.execute(sql).df()
    except duckdb.OutOfMemoryException as e:
        return "OOB", [f"oracle out of the DuckDB budget: {str(e)[:200]}"]
    except Exception as e:
        return "FAIL", [f"oracle error: {str(e)[:250]}"]
    try:
        errs = compare(spark_pdf, duck_pdf)
    except TypeError as e:
        errs = [str(e)]
    if errs:
        return "FAIL", errs
    return "OK", [f"{len(spark_pdf)} rows"]


def main():
    import duckdb

    # Prefer the DRIVER'S entry module when it is importable (repo-root
    # invocation): the external harness loads __spark_entry__, so parity
    # must smoke that exact surface — a regression confined to it (broken
    # import, renamed function) would otherwise pass a registry-direct
    # mirror while the real driver fails to load the catalog. The
    # packaged console script, run from outside the repo, falls back to
    # the registry the entry module delegates to. Either way each entry
    # drains what the previous one parked (registry.queries).
    try:
        import __spark_entry__ as se
        queries, oracle_sql = se.queries, se.oracle_sql
    except ImportError as e:
        # Only the entry module being ABSENT (packaged console script run
        # outside the repo) may fall back to the registry. An ImportError
        # raised INSIDE __spark_entry__ (broken import within it) is
        # exactly the entry-surface regression this path exists to smoke —
        # swallowing it would mask the failure behind a passing registry
        # mirror.
        if e.name != "__spark_entry__":
            raise
        from .plans.registry import oracle_sql, queries

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    if os.environ.get("SPARK_GRAFT_VANILLA"):
        # driver-session simulation: the external harness passes its OWN
        # SparkSession, not our tuned one — every query must survive a
        # bone-stock session (no custom confs beyond master). The one
        # conf it sets is display-only: Spark's console progress bar
        # would split the OK/FAIL lines; no query setting changes.
        from pyspark.sql import SparkSession
        spark = (SparkSession.builder.appName("parity-vanilla")
                 .master("local[8]")
                 .config("spark.ui.showConsoleProgress", "false")
                 .getOrCreate())
    else:
        from .session import get_spark
        spark = get_spark("parity")
    con = duckdb.connect()
    con.execute(f"SET memory_limit = '{ORACLE_MEMORY_LIMIT}'")
    con.execute(f"SET max_temp_directory_size = '{ORACLE_SPILL_LIMIT}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, os_ = queries(), oracle_sql()
    failures, oob = [], []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        spark.catalog.clearCache()
        t0 = time.time()
        outcome, msgs = check_entry(lambda: fn(spark, sf_dir),
                                    os_.get(name), con)
        if outcome == "FAIL":
            failures.append(name)
            print(f"FAIL {name}:")
            for e in msgs[:6]:
                print(f"   {e}")
            continue
        if outcome == "OOB":
            oob.append(name)
        print(f"{outcome:<4} {name}: {msgs[0]} [{time.time()-t0:.1f}s]")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    if oob:
        print(f"{len(oob)} oracles out of budget (OOB: memory "
              f"{ORACLE_MEMORY_LIMIT}, spill {ORACLE_SPILL_LIMIT}): {oob}")
    spark.stop()
    sys.exit(1 if failures or oob else 0)


if __name__ == "__main__":
    main()
