"""Output checks: every timed operation's result is compared with an
independent computation, and a mismatch counts as a failed operation.

* frames the engine maintains incrementally are compared with a batch
  recompute in Spark (`frames_equal`: same columns, same multiset of
  rows);
* registry results are compared with the registry's DuckDB oracle SQL
  (`oracle_result` / `matches`: row count, column names and an
  order-insensitive hash of the canonical cell values).
"""

from __future__ import annotations

import hashlib
import os
import sys

from engagement_data_pipeline_spark.tables import TABLE_NAMES


def _signature(df, tag: int):
    """One row: (tag, row count, two 32-bit halves of the sum of the
    rows' 64-bit hashes). Equal multisets of rows give equal
    signatures; the sums are order-insensitive and cannot overflow
    below 2**31 rows."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)])
    lo = h.bitwiseAND(F.lit(0xFFFFFFFF))
    hi = F.shiftrightunsigned(h, 32)
    return df.select(F.lit(tag).alias("tag"), F.count(F.lit(1)).alias("n"),
                     F.sum(lo).alias("lo"), F.sum(hi).alias("hi"))


def frames_equal(pairs, names=None) -> bool:
    """Each (a, b) pair has the same column set and the same rows,
    duplicates included. All signatures are computed in one job. With
    `names`, each pair that differs is named on standard error."""
    names = names or [str(i) for i in range(len(pairs))]
    bad = [n for n, (a, b) in zip(names, pairs)
           if sorted(a.columns) != sorted(b.columns)]
    sigs = None
    for i, (a, b) in enumerate(pairs):
        if names[i] in bad:
            continue
        for j, df in enumerate((a, b)):
            s = _signature(df, 2 * i + j)
            sigs = s if sigs is None else sigs.unionByName(s)
    got = ({r.tag: (r.n, r.lo, r.hi) for r in sigs.collect()}
           if sigs is not None else {})
    bad += [names[i] for i in range(len(pairs))
            if names[i] not in bad and got[2 * i] != got[2 * i + 1]]
    for n in bad:
        print(f"perfbench: {n} differs from its recompute", file=sys.stderr)
    return not bad


def _canon(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "nan" if v != v else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def value_hash(cols: list[str], rows) -> str:
    """Order-insensitive hash of `rows` with columns taken by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for line in sorted("\x01".join(_canon(r[i]) for i in order)
                       for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def duckdb_over(sf_dir: str):
    """A DuckDB connection with one view per table of `sf_dir` (a
    table is one parquet file or a directory of part files)."""
    import duckdb

    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    for t in TABLE_NAMES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def oracle_result(con, sql: str) -> tuple:
    """(row count, sorted column names, value hash) of a DuckDB query."""
    res = con.sql(sql)
    cols, rows = res.columns, res.fetchall()
    return len(rows), sorted(cols), value_hash(cols, rows)


def matches(df, expected: tuple) -> bool:
    """`df` (Spark) has the row count, columns and values of `expected`
    (an `oracle_result`)."""
    rows = [tuple(r) for r in df.collect()]
    return (len(rows), sorted(df.columns),
            value_hash(df.columns, rows)) == expected
