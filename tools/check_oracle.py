"""Local stand-in for the driver's correctness gate.

Runs every `queries()[name]` on Spark and its `oracle_sql()[name]` on DuckDB
over the same sf dir, compares row count, column names, and an
order-insensitive multiset of normalized rows. Usage:

    python tools/check_oracle.py [--strict] [--json PATH] [sf_dir] [query ...]

Default mode normalizes floats to 6 significant figures (round-3 lesson:
that hid 4 driver hash mismatches). `--strict` reproduces the driver's
type-sensitive hash discipline: full-precision float comparison (repr
level, no tolerance) plus per-column pandas dtype comparison between the
Spark (Arrow) and DuckDB result frames — this catches both drift classes
the round-3 verdict identified: (a) un-cast integer aggregates reaching
the oracle output schema (DuckDB HUGEINT vs Spark int64 → dtype
mismatch), and (b) float-sum ULP drift landing on a rounding boundary
(full-precision value mismatch).
"""

from __future__ import annotations

import argparse
import math
import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from data_migration_service_spark.session import get_spark  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if v is None:
        return "<N>"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def row_multiset(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter("\x1f".join(norm(r[i]) for i in order) for r in rows)


def strict_norm(v):
    """Full-precision, type-tagged scalar normalization (driver-faithful:
    a one-ULP float difference or an int-vs-float cell must NOT collide)."""
    import datetime
    import decimal

    import numpy as np

    if v is None:
        return "<N>"
    if isinstance(v, (np.floating, float)):
        f = float(v)
        return "f:nan" if math.isnan(f) else f"f:{f!r}"
    if isinstance(v, (bool, np.bool_)):
        return f"b:{int(v)}"
    if isinstance(v, (np.integer, int)):
        return f"i:{int(v)}"
    if isinstance(v, decimal.Decimal):
        return f"d:{v}"
    if isinstance(v, (bytes, bytearray)):
        return f"x:{bytes(v).hex()}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return f"t:{v.isoformat()}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(strict_norm(x) for x in v) + "]"
    return f"s:{v}"


def _dtype_name(dt):
    s = str(dt)
    if s.startswith("datetime64"):
        return "datetime64"  # ns-vs-us unit is a pandas artifact, not a type
    # pandas nullable/object string flavors all read back as 'object'
    return {"string": "object", "str": "object"}.get(s, s)


def strict_compare(s_pdf, o_pdf):
    """Compare two pandas frames the way the driver's typed hash would:
    column-name-sorted, per-column dtype equality, exact cell values.
    Returns a list of human-readable issue strings (empty == match)."""
    import pandas as pd  # noqa: F401

    issues = []
    scols = sorted(c.lower() for c in s_pdf.columns)
    ocols = sorted(c.lower() for c in o_pdf.columns)
    if scols != ocols:
        return [f"columns spark={scols} oracle={ocols}"]
    s_pdf = s_pdf.rename(columns=str.lower)[scols]
    o_pdf = o_pdf.rename(columns=str.lower)[scols]
    for c in scols:
        sd, od = _dtype_name(s_pdf[c].dtype), _dtype_name(o_pdf[c].dtype)
        if sd != od:
            issues.append(f"dtype[{c}] spark={sd} oracle={od}")
    if len(s_pdf) != len(o_pdf):
        issues.append(f"rows spark={len(s_pdf)} oracle={len(o_pdf)}")
        return issues
    ms = Counter("\x1f".join(strict_norm(v) for v in row)
                 for row in s_pdf.itertuples(index=False, name=None))
    mo = Counter("\x1f".join(strict_norm(v) for v in row)
                 for row in o_pdf.itertuples(index=False, name=None))
    if ms != mo:
        only_s = list((ms - mo).items())[:3]
        only_o = list((mo - ms).items())[:3]
        issues.append(f"values spark-only={only_s} oracle-only={only_o}")
    return issues


def parse_args(argv):
    """Parse the command line; a `--json` without a path (trailing, or
    followed by another flag) exits 2 with the usage message."""
    ap = argparse.ArgumentParser(
        usage="%(prog)s [--strict] [--json PATH] [sf_dir] [query ...]")
    ap.add_argument("--strict", action="store_true")
    ap.add_argument("--json", metavar="PATH", dest="json_out")
    ap.add_argument("args", nargs="*")
    return ap.parse_intermixed_args(argv)


def main():
    ns = parse_args(sys.argv[1:])
    strict, json_out, argv = ns.strict, ns.json_out, ns.args
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    results: dict[str, dict] = {}
    spark = get_spark(app_name="oracle-check", master="local[16]",
                      shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs, oracles = entry.queries(), entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            # strict mode compares pandas frames directly; materializing
            # row tuples as well would double the per-query iteration
            s_pdf = sdf.toPandas() if strict else None
            srows = (None if strict
                     else [tuple(r) for r in sdf.collect()])
            n_rows = len(s_pdf) if strict else len(srows)
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            results[name] = {"status": "fail",
                             "issues": [f"spark error: {e}"]}
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if name not in oracles:
            results[name] = {"status": "rows-only", "rows": n_rows}
            print(f"rows  {name}: {n_rows} rows (no oracle, rows-only)")
            continue
        try:
            res = con.sql(oracles[name])
            ocols = [c.lower() for c in res.columns]
            o_pdf = res.df() if strict else None
            orows = (None if strict else res.fetchall())
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            results[name] = {"status": "fail",
                             "issues": [f"duckdb error: {e}"]}
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        if strict:
            issues = strict_compare(s_pdf, o_pdf)
            if issues:
                failures.append(name)
                results[name] = {"status": "fail", "issues": issues}
                for msg in issues:
                    print(f"FAIL  {name}: strict: {msg}")
            else:
                results[name] = {"status": "ok", "rows": len(s_pdf)}
                print(f"OK    {name}: {len(s_pdf)} rows (strict)")
            continue
        ok = True
        if sorted(c.lower() for c in scols) != sorted(ocols):
            print(f"FAIL  {name}: columns spark={scols} oracle={ocols}")
            ok = False
        elif len(srows) != len(orows):
            print(f"FAIL  {name}: rows spark={len(srows)} oracle={len(orows)}")
            ok = False
        else:
            ms, mo = row_multiset(srows, [c.lower() for c in scols]), row_multiset(orows, ocols)
            if ms != mo:
                diff_s = list((ms - mo).items())[:3]
                diff_o = list((mo - ms).items())[:3]
                print(f"FAIL  {name}: value mismatch; spark-only={diff_s} oracle-only={diff_o}")
                ok = False
        if ok:
            results[name] = {"status": "ok", "rows": len(srows)}
            print(f"OK    {name}: {len(srows)} rows")
        else:
            results[name] = {"status": "fail"}
            failures.append(name)
    print("\n==", "ALL OK" if not failures else f"FAILURES: {failures}")
    if json_out:
        import json

        with open(json_out, "w") as f:
            json.dump({"sf_dir": sf_dir, "strict": strict,
                       "all_ok": not failures,
                       "n_queries": len(results),
                       "results": results}, f, indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
