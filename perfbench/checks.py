"""Order-insensitive, multiplicity-sensitive result checksums.

Registry outputs are compared with their DuckDB oracles through a
normalised row digest: each row's cells are rendered engine-neutrally,
ordered by lower-cased column name, hashed, and the hashes summed
modulo 2**64 — row order does not matter, a duplicated or missing row
does. Stream outputs are compared with their batch recomputation inside
Spark, with the same sum-of-row-hashes shape.
"""

from __future__ import annotations

import hashlib
import math

MASK = (1 << 64) - 1


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat(sep=" ").replace("+00:00", "")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def digest(columns: list[str], rows) -> tuple[tuple[str, ...], int, int]:
    """(sorted column names, row count, sum of row hashes)."""
    cols = [c.lower() for c in columns]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    total = n = 0
    for r in rows:
        key = "\x1f".join(_cell(r[i]) for i in order).encode()
        total = (total + int.from_bytes(hashlib.blake2b(key, digest_size=8).digest(), "big")) & MASK
        n += 1
    return tuple(cols[i] for i in order), n, total


def arrow_digest(table) -> tuple[tuple[str, ...], int, int]:
    cols = table.column_names
    data = [table.column(c).to_pylist() for c in cols]
    return digest(cols, zip(*data))


def duckdb_digest(con, sql: str) -> tuple[tuple[str, ...], int, int]:
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    return digest(cols, res.fetchall())


def spark_digest(df) -> tuple[int, int]:
    """(row count, sum of xxhash64 row hashes) computed in Spark."""
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    h = F.pmod(F.xxhash64(*[F.col(c).cast("string") for c in cols]), F.lit(1 << 40))
    row = df.select(F.count(F.lit(1)).alias("n"), F.sum(h.cast("decimal(38,0)")).alias("s")).collect()[0]
    return int(row["n"]), int(row["s"] or 0)
