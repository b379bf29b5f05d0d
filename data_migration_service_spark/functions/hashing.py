"""Canonical row / content hashing.

Re-expression of the reference's in-database MD5 row fingerprint
(DBSqlGenerator.java:21-58 builds `upper(md5(col_a||col_b||...))` in Postgres
and the HANA `hash_md5` twin at :92-122) as a distributed, codegen'd Spark
`sha2` expression. The reference's canonicalization quirks are preserved as
*rules* but with the bug classes fixed:

- column order: case-insensitive alphabetical (reference uses a
  `TreeMap(String.CASE_INSENSITIVE_ORDER)`, DBSqlGenerator.java:65,81)
- NULL sentinel: the reference collides NULL with a real single-space string
  (`coalesce(col, ' ')`, DBSqlGenerator.java:31,41). We use an explicit
  `<NULL>` sentinel + a `\\x1f` field separator via concat_ws, which cannot
  collide with data that lacks the separator byte.
- booleans hashed as 0/1 ints (reference: `bool::integer::text`,
  DBSqlGenerator.java:46-47)
- timestamps at millisecond precision `yyyy-MM-dd HH:mm:ss.SSS` (reference:
  `to_char(ts,'YYYY-MM-DD HH24:MI:SS.MS')` / HANA `...FF3`,
  DBSqlGenerator.java:44,103)
- dates as `yyyy-MM-dd` (DBSqlGenerator.java:49-50)
- partition-bookkeeping columns (the reference's tenant columns,
  BasicItemWriter.java:20-26) are excluded from content identity by the
  caller passing an explicit column list.

Everything is a Column expression -> whole-stage codegen, no Python on the
hot path. The same serialization is expressible in ANSI SQL (DuckDB oracle),
see `row_sha256_sql`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

NULL_SENTINEL = "<NULL>"
FIELD_SEP = "\x1f"
TS_FMT = "yyyy-MM-dd HH:mm:ss.SSS"
DATE_FMT = "yyyy-MM-dd"


def canonical_col(col: Column, dtype: T.DataType) -> Column:
    """One column -> canonical string (pre-hash serialization)."""
    if isinstance(dtype, T.BooleanType):
        s = col.cast("int").cast("string")
    elif isinstance(dtype, T.TimestampType):
        s = F.date_format(col, TS_FMT)
    elif isinstance(dtype, T.DateType):
        s = F.date_format(col, DATE_FMT)
    elif isinstance(dtype, T.BinaryType):
        s = F.hex(col)
    else:
        s = col.cast("string")
    return F.coalesce(s, F.lit(NULL_SENTINEL))


def hash_column_order(cols: list[str]) -> list[str]:
    """Case-insensitive alphabetical, ties broken case-sensitively —
    deterministic under case collisions (reference TreeMap drops dupes)."""
    return sorted(cols, key=lambda c: (c.lower(), c))


def row_sha256(df: DataFrame, cols: list[str] | None = None,
               exclude: tuple[str, ...] = ()) -> Column:
    """sha256 fingerprint over the given columns of ``df``.

    ``exclude`` is the tenant-column analogue: bookkeeping columns that must
    not participate in content identity.
    """
    names = cols if cols is not None else df.columns
    names = [c for c in names if c not in set(exclude)]
    dtypes = dict(zip(df.schema.names, [f.dataType for f in df.schema.fields]))
    parts = [canonical_col(F.col(c), dtypes[c]) for c in hash_column_order(names)]
    return F.sha2(F.concat_ws(FIELD_SEP, *parts), 256)


def row_sha256_sql(cols: list[str], types: dict[str, str] | None = None) -> str:
    """The DuckDB-runnable twin of :func:`row_sha256` for oracle parity.

    ``types``: optional column -> {'bool','timestamp','date'} overrides; all
    other columns serialize via CAST(col AS VARCHAR).
    """
    types = types or {}
    parts = []
    for c in hash_column_order(cols):
        t = types.get(c, "")
        if t == "bool":
            s = f"CAST(CAST({c} AS INT) AS VARCHAR)"
        elif t == "timestamp":
            s = f"strftime({c}, '%Y-%m-%d %H:%M:%S.%g')"
        elif t == "date":
            s = f"strftime({c}, '%Y-%m-%d')"
        else:
            s = f"CAST({c} AS VARCHAR)"
        parts.append(f"coalesce({s}, '{NULL_SENTINEL}')")
    joined = ", ".join(parts)
    return f"sha256(concat_ws(chr(31), {joined}))"


def content_sha256(col: Column | str) -> Column:
    """Per-row content invariant: sha256 of the UTF-8 `content` bytes
    (BASELINE.json input_hint). NULL content stays NULL (a delete tombstone
    has no content identity)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.isNull(), F.lit(None).cast("string")).otherwise(F.sha2(c, 256))

