"""A merge-on-read epoch is two actions: the fused dedup+write, then ONE
stats aggregate over the written dir (the Bloom sidecar and the
matched/inserted/deleted counts). Pinned here: the epoch's Spark job
count, the counts and sidecar words in the edge cases of the fold, and a
read of dirs written before schema evolution."""

import uuid

import pyspark.sql.types as T
import pytest
from pyspark.sql import functions as F

from data_migration_service_spark.config import EngineConfig
from data_migration_service_spark.operators.merge import cdc_apply
from data_migration_service_spark.tables.lake import SnapshotTable, bucket_expr
from tests.test_file_stats import EVENTS, SCHEMA
from tests.test_verify_pass import _jobs

INSERTS = [(f"r{i % 3}", f"p{i}", f"c{i}", i, "insert") for i in range(40)]


def make(spark, tmp_path, bucket_cols=None, **kw):
    root = str(tmp_path / f"t{uuid.uuid4().hex[:8]}")
    t = SnapshotTable.create(spark, root, SCHEMA, ["repo", "path"], 4,
                             bucket_cols=bucket_cols)
    cfg = EngineConfig(table_path=root, merge_mode="mor", n_buckets=4,
                       compact_threshold=100, salt_factor=1, **kw)
    return t, cfg


def apply(spark, t, cfg, rows, epoch, **kw):
    return cdc_apply(t, spark.createDataFrame(rows, EVENTS), cfg,
                     epoch=epoch, **kw)


def counts(st):
    return st.rows_matched, st.rows_inserted, st.rows_deleted


def newest_dir(t):
    return max(d for ds in t.current().deltas.values() for d in ds)


def expected_bloom(spark, t, rows, m):
    """Reference sidecar words of the keys of `rows`: bucket by the
    layout columns, both probe hashes over the full merge key, one bit
    each, set in Python."""
    snap = t.current()
    keys = spark.createDataFrame(rows, EVENTS).select("repo", "path").distinct()
    kc = [F.col("repo"), F.col("path")]
    got = keys.select(
        bucket_expr(snap.layout_cols(), snap.n_buckets).alias("b"),
        F.xxhash64(*kc).alias("h1"),
        F.xxhash64(*kc, F.lit("bloom2")).alias("h2")).collect()
    words: dict[str, list[int]] = {}
    for r in got:
        w = words.setdefault(str(r["b"]), [0] * (m // 64))
        for h in (r["h1"], r["h2"]):
            w[(h % m) // 64] |= 1 << ((h % m) % 64)
    return {b: [format(x, "016x") for x in w] for b, w in words.items()}


def sidecar_words(t, d):
    return {b: bs["bloom"] for b, bs in t.load_dir_stats(d)["buckets"].items()}


def test_mor_epoch_runs_at_most_five_jobs(spark, tmp_path):
    """Stats and Bloom on, no compaction: the write and one stats
    aggregate (7 jobs when the Bloom and the counts were two queries)."""
    t, cfg = make(spark, tmp_path)
    apply(spark, t, cfg, INSERTS, 0)
    batch = [("r1", "p1", "u", 300, "update"), ("r1", "p4", None, 301, "delete"),
             ("rX", "q", "z", 302, "insert")]
    st, jobs = _jobs(spark, lambda: apply(spark, t, cfg, batch, 1))
    assert counts(st) == (2, 1, 1)
    assert t.load_dir_stats(newest_dir(t)) is not None
    assert 1 <= jobs <= 5, jobs


def test_first_epoch_into_empty_table(spark, tmp_path):
    t, cfg = make(spark, tmp_path)
    st = apply(spark, t, cfg, INSERTS, 0)
    assert counts(st) == (0, 40, 0)
    assert sidecar_words(t, newest_dir(t)) == expected_bloom(
        spark, t, INSERTS, cfg.bloom_bits)


@pytest.mark.parametrize("bucket_cols", [None, ["repo"]])
def test_reinsert_after_delete_counts_as_matched(spark, tmp_path, bucket_cols):
    """A tombstoned key still exists for the counts, as in copy-on-write;
    the Bloom buckets follow the layout columns, the probes the full key."""
    t, cfg = make(spark, tmp_path, bucket_cols=bucket_cols)
    apply(spark, t, cfg, INSERTS, 0)
    deletes = [("r1", "p1", None, 100, "delete"), ("r2", "p2", None, 101, "delete")]
    assert counts(apply(spark, t, cfg, deletes, 1)) == (2, 0, 2)
    back = [("r1", "p1", "back", 200, "insert"), ("r9", "new", "n", 201, "insert")]
    assert counts(apply(spark, t, cfg, back, 2)) == (1, 1, 0)
    assert sidecar_words(t, newest_dir(t)) == expected_bloom(
        spark, t, back, cfg.bloom_bits)
    assert {r["path"]: r["content"] for r in t.read().collect()
            if r["path"] in ("p1", "p2", "new")} == {"p1": "back", "new": "n"}


def test_bloom_off_still_counts(spark, tmp_path):
    t, cfg = make(spark, tmp_path, bloom_bits=0)
    apply(spark, t, cfg, INSERTS, 0)
    batch = [("r1", "p1", "u", 300, "update"), ("r1", "p4", None, 301, "delete"),
             ("rX", "q", "z", 302, "insert")]
    assert counts(apply(spark, t, cfg, batch, 1)) == (2, 1, 1)
    assert t.load_dir_stats(newest_dir(t)) is None


def test_stats_off_still_writes_the_bloom(spark, tmp_path):
    t, cfg = make(spark, tmp_path)
    apply(spark, t, cfg, INSERTS, 0, collect_stats=False)
    batch = [("r1", "p1", "u", 300, "update"), ("rX", "q", "z", 302, "insert")]
    st = apply(spark, t, cfg, batch, 1, collect_stats=False)
    assert counts(st) == (0, 0, 0)
    assert sidecar_words(t, newest_dir(t)) == expected_bloom(
        spark, t, batch, cfg.bloom_bits)


def test_read_dirs_written_before_rename_widen_and_add(spark, tmp_path):
    """A dir written before `rename_column` and `widen_column` reads under
    the new name and type, a later-added column is NULL in it, and a
    delta written after the changes unions with it."""
    schema = T.StructType([
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("lang", T.StringType(), True),
        T.StructField("size", T.IntegerType(), True),
        T.StructField("lsn", T.LongType(), False),
    ])
    root = str(tmp_path / "evolve")
    t = SnapshotTable.create(spark, root, schema, ["repo", "path"], 2)
    cfg = EngineConfig(table_path=root, merge_mode="mor", n_buckets=2,
                       compact_threshold=100)
    old = [("r", "a", "py", 1, 1), ("r", "b", "go", 2, 2)]
    cdc_apply(t, spark.createDataFrame(old, schema)
              .withColumn("op", F.lit("insert")), cfg, epoch=0)
    t.rename_column("lang", "language")
    t.widen_column("size", T.LongType())
    t.add_column("stars", T.LongType())
    new = spark.createDataFrame(
        [("r", "b", "rust", 2**40, 9, 5)],
        "repo string, path string, language string, size long, lsn long, "
        "stars long").withColumn("op", F.lit("update"))
    cdc_apply(t, new, cfg, epoch=1)

    df = t.read()
    assert dict(df.dtypes) == {"repo": "string", "path": "string",
                               "language": "string", "size": "bigint",
                               "lsn": "bigint", "stars": "bigint"}
    got = {r["path"]: (r["language"], r["size"], r["stars"])
           for r in df.collect()}
    assert got == {"a": ("py", 1, None), "b": ("rust", 2**40, 5)}
