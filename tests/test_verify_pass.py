"""`verify_state` as one pass plus detail on failure: the Spark job count of
a consistent verification, field-by-field results pinned over the failure
classes, and repeated keys, which both verifiers must report."""

import hashlib
import uuid

import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_migration_service_spark.operators.verify import (
    MISMATCH,
    MISSING_IN_SOURCE,
    MISSING_IN_TARGET,
    verify_hierarchical,
    verify_state,
)

KEYS = ["repo", "path"]
SCHEMA = "repo string, path string, lang string, content string"
BASE = [("r1", "a", "py", "x"), ("r1", "b", "py", "y"), ("r2", "c", "go", "z")]


def _df(spark, rows):
    """A local relation: no Python worker runs per scan."""
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["repo", "path", "lang", "content"]),
        SCHEMA)


def _h(text):
    return None if text is None else hashlib.sha256(text.encode()).hexdigest()


def _bad(repo, path, src, tgt, status):
    return {"repo": repo, "path": path, "src_hash": _h(src),
            "tgt_hash": _h(tgt), "status": status}


def _jobs(spark, fn):
    """(fn(), number of Spark jobs it ran), counted by a job group."""
    sc = spark.sparkContext
    group = f"verify-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_consistent_verify_state_runs_at_most_five_jobs(spark, tmp_path):
    """The consistent case is one action over the join; the report, the
    per-group counts and the side counts are not computed."""
    spark.range(2000).select(
        (F.col("id") % 50).cast("string").alias("repo"),
        F.col("id").cast("string").alias("path"),
        F.sha2(F.col("id").cast("string"), 256).alias("content"),
    ).write.parquet(str(tmp_path / "t"))
    src = spark.read.parquet(str(tmp_path / "t"))
    tgt = spark.read.parquet(str(tmp_path / "t"))
    res, jobs = _jobs(spark, lambda: verify_state(src, tgt, KEYS))
    assert res.consistent and res.source_rows == res.target_rows == 2000
    assert 1 <= jobs <= 5, jobs


# Every field of the expected result (count_by_group compared without
# order): the failure classes keep their counts, report and per-group rows.
PARITY = {
    "mismatch": (
        BASE, [BASE[0], ("r1", "b", "py", "WRONG"), BASE[2]], {},
        dict(consistent=False, source_rows=3, target_rows=3, n_mismatch=1,
             n_missing_in_target=0, n_missing_in_source=0,
             report=[_bad("r1", "b", "y", "WRONG", MISMATCH)], more=False,
             count_by_group=[])),
    "missing_in_target": (
        BASE, BASE[:2], {},
        dict(consistent=False, source_rows=3, target_rows=2, n_mismatch=0,
             n_missing_in_target=1, n_missing_in_source=0,
             report=[_bad("r2", "c", "z", None, MISSING_IN_TARGET)],
             more=False,
             count_by_group=[{"repo": "r2", "src_rows": 1, "tgt_rows": 0,
                              "count_ok": False}])),
    "missing_in_source": (
        BASE, BASE + [("r3", "d", "go", "w")], {},
        dict(consistent=False, source_rows=3, target_rows=4, n_mismatch=0,
             n_missing_in_target=0, n_missing_in_source=1,
             report=[_bad("r3", "d", None, "w", MISSING_IN_SOURCE)],
             more=False,
             count_by_group=[{"repo": "r3", "src_rows": 0, "tgt_rows": 1,
                              "count_ok": False}])),
    "null_content_source": (
        [("r1", "a", "py", None)] + BASE[1:], BASE, {},
        dict(consistent=False, source_rows=3, target_rows=3, n_mismatch=0,
             n_missing_in_target=0, n_missing_in_source=1,
             report=[_bad("r1", "a", None, "x", MISSING_IN_SOURCE)],
             more=False, count_by_group=[])),
    "null_content_target": (
        BASE, [("r1", "a", "py", None)] + BASE[1:], {},
        dict(consistent=False, source_rows=3, target_rows=3, n_mismatch=0,
             n_missing_in_target=1, n_missing_in_source=0,
             report=[_bad("r1", "a", "x", None, MISSING_IN_TARGET)],
             more=False, count_by_group=[])),
    # a NULL-content row present on one side only: its join row is OK,
    # the side counts differ
    "null_content_row_missing": (
        BASE + [("r3", "d", "go", None)], BASE, {},
        dict(consistent=False, source_rows=4, target_rows=3, n_mismatch=0,
             n_missing_in_target=0, n_missing_in_source=0, report=[],
             more=False,
             count_by_group=[{"repo": "r3", "src_rows": 1, "tgt_rows": 0,
                              "count_ok": False}])),
    "report_cap_overflow": (
        BASE, [(r, p, lang, c + "!") for r, p, lang, c in BASE],
        {"report_cap": 2},
        dict(consistent=False, source_rows=3, target_rows=3, n_mismatch=3,
             n_missing_in_target=0, n_missing_in_source=0,
             report=[_bad("r1", "a", "x", "x!", MISMATCH),
                     _bad("r1", "b", "y", "y!", MISMATCH)],
             more=True, count_by_group=[])),
    # group columns outside the key: the per-group counts still run when
    # every row agrees, and do not decide consistency
    "non_key_group_cols": (
        BASE, [BASE[0], ("r1", "b", "go", "y"), BASE[2]],
        {"group_cols": ["lang"]},
        dict(consistent=True, source_rows=3, target_rows=3, n_mismatch=0,
             n_missing_in_target=0, n_missing_in_source=0, report=[],
             more=False,
             count_by_group=[
                 {"lang": "go", "src_rows": 1, "tgt_rows": 2,
                  "count_ok": False},
                 {"lang": "py", "src_rows": 2, "tgt_rows": 1,
                  "count_ok": False}])),
}


def _fields(res):
    out = {k: getattr(res, k) for k in (
        "consistent", "source_rows", "target_rows", "n_mismatch",
        "n_missing_in_target", "n_missing_in_source", "report", "more")}
    out["count_by_group"] = sorted(res.count_by_group, key=repr)
    return out


@pytest.mark.parametrize("case", sorted(PARITY))
def test_verify_state_fields_pinned(spark, case):
    src, tgt, kw, want = PARITY[case]
    res = verify_state(_df(spark, src), _df(spark, tgt), KEYS, **kw)
    want = dict(want, count_by_group=sorted(want["count_by_group"], key=repr))
    assert _fields(res) == want
    assert res.extra == {}


def _dup_sides(spark, group):
    """A key repeated on each side, one copy each way: the row counts, the
    statuses and (in one group) the per-group counts all agree."""
    src = [("r1", "a", "py", "x"), ("r1", "a", "py", "x"), (group, "b", "py", "y")]
    tgt = [("r1", "a", "py", "x"), (group, "b", "py", "y"), (group, "b", "py", "y")]
    return _df(spark, src), _df(spark, tgt)


@pytest.mark.parametrize("group", ["r1", "r2"])
def test_repeated_key_is_inconsistent(spark, group):
    src, tgt = _dup_sides(spark, group)
    res = verify_state(src, tgt, KEYS)
    assert not res.consistent
    assert res.extra["duplicate_keys"] == 2
    assert (res.source_rows, res.target_rows) == (3, 3)
    assert (res.n_mismatch, res.n_missing_in_target,
            res.n_missing_in_source) == (0, 0, 0)
    assert bool(res.count_by_group) == (group != "r1")

    hier = verify_hierarchical(src, tgt, KEYS)
    assert not hier.consistent
    assert hier.extra["dirty_buckets"]
    assert (hier.source_rows, hier.target_rows) == (3, 3)


def test_hierarchical_row_counts_from_signatures(spark):
    """Side row counts come from the bucket signatures: exact, NULL content
    and a missing row included."""
    src = _df(spark, BASE + [("r3", "d", "go", None)])
    tgt = _df(spark, BASE[1:] + [("r3", "d", "go", None)])
    res = verify_hierarchical(src, tgt, KEYS, n_buckets=16)
    assert (res.source_rows, res.target_rows) == (4, 3)
    assert not res.consistent and res.n_missing_in_target == 1
    same = verify_hierarchical(src, src, KEYS, n_buckets=16)
    assert same.consistent and same.source_rows == same.target_rows == 4
