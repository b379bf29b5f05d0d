"""Strict (driver-faithful) oracle regression for the drift classes the
round-3 driver exposed: full-precision float comparison plus per-column
pandas dtype comparison between the Spark result and its DuckDB oracle —
the check that would have caught all four round-3 hash mismatches before
the driver did.

Scope is the high-risk subset (the four round-3 failures + every query
rewritten to bit-stable integer-cents aggregation in round 4) at sf0.001
so the suite stays fast; `python tools/check_oracle.py --strict` runs the
same comparator over ALL queries at the driver's sf0.01.
"""

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402
from tools.check_oracle import (  # noqa: E402
    TABLES,
    parse_args,
    strict_compare,
)

SF_DIR = "/root/testdata/sf0.001"

# the round-3 hash failures + the round-4 integer-cents rewrites
STRICT_QUERIES = [
    "merge_upsert",
    "pack_offsets",
    "cube_doc_stats",
    "debezium_roundtrip",
    "count_per_group",
    "pricing_summary",
    "region_revenue",
    "salted_hot_agg",
    "rollup_revenue",
    "windowed_agg",
    "topk_per_group",
    "top_events_per_type",
    "token_count",
    "quality_score",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata missing")
@pytest.mark.parametrize("name", STRICT_QUERIES)
def test_strict_oracle(spark, duck, name):
    qs, oracles = entry.queries(), entry.oracle_sql()
    s_pdf = qs[name](spark, SF_DIR).toPandas()
    o_pdf = duck.sql(oracles[name]).df()
    assert len(s_pdf) > 0, f"{name}: empty result at sf0.001"
    issues = strict_compare(s_pdf, o_pdf)
    assert not issues, f"{name}: {issues}"


@pytest.mark.parametrize("argv", [["--json"], ["--json", "--strict"],
                                  ["sf", "q", "--json"]])
def test_check_oracle_json_without_path_exits_with_usage(argv, capsys):
    """`--json` must be followed by an output path: a trailing one (or
    one followed by another flag) exits 2 with the usage line instead of
    raising IndexError or swallowing `--strict` as the path."""
    with pytest.raises(SystemExit) as e:
        parse_args(argv)
    assert e.value.code == 2
    assert "usage:" in capsys.readouterr().err


def test_check_oracle_args_intermixed():
    ns = parse_args(["--strict", "sf", "q1", "--json", "out.json", "q2"])
    assert ns.strict and ns.json_out == "out.json"
    assert ns.args == ["sf", "q1", "q2"]
