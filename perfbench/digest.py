"""Order-insensitive output digest shared by Spark, DuckDB and plain Python.

The canonical form is the one ``tools/check_oracle.canon`` compares:
columns sorted by name, rows as an unordered multiset.  A digest is
``[columns, rows, sum_hi, sum_lo]``: every row renders its name-sorted
columns as text joined by ``|`` (NULL as ``\\N``); hex digits 1-7 and
8-14 of that text's md5 give two 28-bit integers, and the digest sums
each over all rows (plain 64-bit sums: no overflow below 2^35 rows).
Two results have equal digests iff their canon() frames are equal, up to
md5 collisions.  Summing inside the engine keeps the check a single
aggregate instead of a collect of the whole result.
"""

from __future__ import annotations

import hashlib

NULL = "\\N"


def spark_digest(df) -> list:
    """Digest of a Spark DataFrame, computed by one aggregate job."""
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    text = F.concat_ws(
        "|", *[F.coalesce(F.col(c).cast("string"), F.lit(NULL)) for c in cols]
    )
    md5 = F.md5(text)
    row = df.agg(
        F.count(F.lit(1)),
        F.sum(F.conv(F.substring(md5, 1, 7), 16, 10).cast("long")),
        F.sum(F.conv(F.substring(md5, 8, 7), 16, 10).cast("long")),
    ).collect()[0]
    return [cols, row[0], row[1] or 0, row[2] or 0]


def duckdb_digest(con, sql: str) -> list:
    """Digest of the result of ``sql`` on DuckDB connection ``con``."""
    cols = sorted(d[0] for d in con.execute(f"SELECT * FROM ({sql}) LIMIT 0").description)
    text = ", ".join(f"coalesce(CAST(\"{c}\" AS VARCHAR), '{NULL}')" for c in cols)
    md5 = f"md5(concat_ws('|', {text}))"
    n, hi, lo = con.execute(
        f"SELECT count(*), sum(('0x' || substr({md5}, 1, 7))::BIGINT), "
        f"sum(('0x' || substr({md5}, 8, 7))::BIGINT) FROM ({sql})"
    ).fetchone()
    return [cols, int(n), int(hi or 0), int(lo or 0)]


def rows_digest(cols: list[str], rows) -> list:
    """Digest of Python rows (dicts keyed by column name)."""
    order = sorted(cols)
    n = hi = lo = 0
    for r in rows:
        text = "|".join(NULL if r[c] is None else str(r[c]) for c in order)
        md5 = hashlib.md5(text.encode()).hexdigest()
        n += 1
        hi += int(md5[:7], 16)
        lo += int(md5[7:14], 16)
    return [order, n, hi, lo]
