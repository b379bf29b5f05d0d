"""The key probe of every keyed read (`operators.merge.probe`).

It runs the caller's key plan once: a top-K collect in one Spark job
over every partition of a frame with few partitions, Spark's incremental
take for a frame with many, and no job for a local relation."""

import uuid

import pandas as pd
from pyspark.sql import functions as F

from data_migration_service_spark.api import Engine
from data_migration_service_spark.operators import merge
from tests.test_file_stats import KEYS, apply_epochs, make
from tests.test_verify_pass import _jobs

KEY_ROWS = [(f"r{i % 5}", f"f{i}") for i in range(16)]


def _tasks_per_job(spark, fn):
    """(fn(), task count of each Spark job it ran, in job order)."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    return out, [sum(st.getStageInfo(s).numTasks
                     for s in st.getJobInfo(j).stageIds)
                 for j in sorted(st.getJobIdsForGroup(group))]


def test_probe_of_a_partitioned_frame_is_one_job(spark, tmp_path):
    """A 4-partition list frame is collected by one top-K job over all
    four partitions, not by the incremental take of a plain limit (one
    job on the first partition, one on the rest)."""
    kdf = spark.createDataFrame(spark.sparkContext.parallelize(KEY_ROWS, 4),
                                KEYS)
    assert merge._planned_partitions(kdf) == 4
    p, tasks = _tasks_per_job(spark, lambda: merge._probe(
        kdf, ["repo", "path"], 8, None, merge.PROBE_KEY_CAP))
    assert tasks == [4]
    assert p.n_keys == len(KEY_ROWS) and len(p.hashes) == len(KEY_ROWS)
    want = kdf.select(F.xxhash64("repo", "path").alias("h1"),
                      F.xxhash64("repo", "path", F.lit("bloom2")).alias("h2"))
    assert sorted(p.hashes) == sorted(tuple(r) for r in want.collect())
    assert p.buckets == sorted({h1 % 8 for h1, _ in p.hashes})


def test_probe_of_many_partitions_keeps_the_incremental_take(
        spark, tmp_path, monkeypatch):
    """Past PROBE_TOPK_ROWS (partitions x (cap + 1)) the top-K could send
    every partition's cap + 1 rows to the driver; the probe then keeps
    the incremental take, whose first job runs one task here because the
    first partition already holds cap + 1 rows."""
    rows = [(f"r{i}", "f") for i in range(24)]  # 8 partitions x 3 rows
    kdf = spark.createDataFrame(spark.sparkContext.parallelize(rows, 8), KEYS)
    assert merge._planned_partitions(kdf) == 8
    assert merge._planned_partitions(kdf.distinct()) is None

    def past_cap():
        p = merge._probe(kdf, ["repo", "path"], 4, None, 2)
        return p.hashes, p.n_keys

    monkeypatch.setattr(merge, "PROBE_TOPK_ROWS", 8 * 3)
    got, tasks = _tasks_per_job(spark, past_cap)
    assert got == (None, 24) and tasks[0] == 8
    monkeypatch.setattr(merge, "PROBE_TOPK_ROWS", 8 * 3 - 1)
    got, tasks = _tasks_per_job(spark, past_cap)
    assert got == (None, 24) and tasks[0] == 1


def test_probe_of_a_local_relation_runs_no_job(spark, tmp_path):
    """A pandas-built frame is a local relation with a row bound: it is
    collected whole on the driver (a top-K sort over it would cost
    jobs)."""
    kdf = spark.createDataFrame(pd.DataFrame(KEY_ROWS, columns=["repo", "path"]))
    p, jobs = _jobs(spark, lambda: merge._probe(
        kdf, ["repo", "path"], 8, None, merge.PROBE_KEY_CAP))
    assert jobs == 0
    assert p.n_keys == len(KEY_ROWS) and len(p.hashes) == len(KEY_ROWS)


def test_probe_past_the_cap_falls_back_and_lookup_stays_exact(
        spark, tmp_path, monkeypatch):
    t, cfg = make(spark, tmp_path, n_buckets=4)
    apply_epochs(spark, t, cfg, n_epochs=3, keys_per_epoch=4)
    keys = [(f"r{e}", f"f{i}") for e in range(3) for i in range(0, 4, 2)]
    keys += [keys[0], ("nope", "f0")]
    kdf = spark.createDataFrame(spark.sparkContext.parallelize(keys, 8), KEYS)
    assert kdf.rdd.getNumPartitions() >= 8
    cols = ["repo", "path", "content", "lsn"]
    want = sorted(tuple(r) for r in t.read().join(
        kdf.distinct(), ["repo", "path"], "left_semi").select(*cols).collect())
    assert len(want) == 6
    monkeypatch.setattr(merge, "PROBE_KEY_CAP", 2)
    p = merge.probe(kdf, t.current())
    assert p.hashes is None and p.n_keys == 7
    got = Engine(spark, cfg).lookup(kdf).select(*cols).collect()
    assert sorted(tuple(r) for r in got) == want
