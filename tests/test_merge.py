"""End-to-end CDC merge semantics: LWW, tombstones, exactly-once epochs,
bucket-pruned copy-on-write. The oracle is a batch re-derivation of the final
state from the full log (fixtures.expected_final_state) — the Spark analogue
of the reference's source-vs-target verification."""

import pyspark.sql.types as T
import pytest
from pyspark.sql import functions as F

from data_migration_service_spark.config import EngineConfig
from data_migration_service_spark.fixtures.cdc import (
    expected_final_state,
    gen_changes,
    gen_duplicated_delivery,
)
from data_migration_service_spark.functions.hashing import content_sha256
from data_migration_service_spark.operators.merge import cdc_apply, current_epoch, delete_where
from data_migration_service_spark.tables.lake import SnapshotTable

TABLE_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
        T.StructField("size_bytes", T.LongType(), True),
        T.StructField("lsn", T.LongType(), False),
    ]
)


def make_table(spark, tmp_path, n_buckets=16):
    return SnapshotTable.create(
        spark, str(tmp_path / "repos"), TABLE_SCHEMA, ["repo", "path"], n_buckets
    )


def assert_state_matches(table, changes):
    """Exact final-table-state match, sha256 per row (BASELINE.json metric)."""
    got = table.read().select(
        "repo", "path", content_sha256("content").alias("h"), F.col("lsn")
    )
    want = expected_final_state(changes).select(
        "repo", "path", content_sha256("content").alias("h"),
        F.col("last_lsn").alias("lsn"),
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_single_batch_apply_matches_oracle(spark, tmp_path):
    ch = gen_changes(spark, 3000, n_repos=15, n_paths_per_repo=40).cache()
    t = make_table(spark, tmp_path)
    cfg = EngineConfig(table_path=str(tmp_path / "repos"), n_buckets=16)
    stats = cdc_apply(t, ch, cfg, epoch=0)
    assert not stats.skipped
    assert stats.rows_inserted > 0
    assert_state_matches(t, ch)


def test_multi_epoch_apply_matches_oracle(spark, tmp_path):
    ch = gen_changes(spark, 4000, n_repos=12, n_paths_per_repo=30).cache()
    t = make_table(spark, tmp_path)
    cfg = EngineConfig(table_path=str(tmp_path / "repos"), n_buckets=16)
    for e, (lo, hi) in enumerate([(1, 1000), (1001, 2500), (2501, 4000)]):
        cdc_apply(t, ch.where(F.col("lsn").between(lo, hi)), cfg, epoch=e)
    assert_state_matches(t, ch)
    assert current_epoch(t) == 2


def test_exactly_once_epoch_replay_is_skipped(spark, tmp_path):
    ch = gen_changes(spark, 2000, n_repos=10, n_paths_per_repo=20).cache()
    t = make_table(spark, tmp_path)
    cfg = EngineConfig(table_path=str(tmp_path / "repos"), n_buckets=16)
    b0 = ch.where(F.col("lsn") <= 1000)
    b1 = ch.where(F.col("lsn") > 1000)
    cdc_apply(t, b0, cfg, epoch=0)
    cdc_apply(t, b1, cfg, epoch=1)
    sid = t.current().snapshot_id
    # at-least-once transport replays both epochs: both must no-op
    assert cdc_apply(t, b0, cfg, epoch=0).skipped
    assert cdc_apply(t, b1, cfg, epoch=1).skipped
    assert t.current().snapshot_id == sid
    assert_state_matches(t, ch)


def test_duplicated_delivery_within_batch(spark, tmp_path):
    ch = gen_changes(spark, 1500, n_repos=8, n_paths_per_repo=20).cache()
    dup = gen_duplicated_delivery(ch)
    assert dup.count() > ch.count()
    t = make_table(spark, tmp_path)
    cfg = EngineConfig(table_path=str(tmp_path / "repos"), n_buckets=16)
    cdc_apply(t, dup, cfg, epoch=0)
    assert_state_matches(t, ch)


def test_out_of_order_across_batches_no_resurrection(spark, tmp_path):
    """A delete (high LSN) applied first; stale lower-LSN update arrives in a
    later batch — must NOT resurrect the row (tombstone watermark)."""
    rows = [
        # lsn, op, repo, path, content
        (1, "insert", "r1", "a.py", "v1"),
        (5, "delete", "r1", "a.py", None),
        (3, "update", "r1", "a.py", "v3-stale"),
        (2, "insert", "r2", "b.py", "v2"),
        (4, "update", "r2", "b.py", "v4"),
    ]
    df = spark.createDataFrame(
        [(l, o, r, p, c, None, None, 1) for l, o, r, p, c in rows],
        "lsn long, op string, repo string, path string, content string, "
        "commit string, lang string, schema_version int",
    ).withColumn("size_bytes", F.length("content").cast("long"))
    t = make_table(spark, tmp_path, n_buckets=4)
    cfg = EngineConfig(table_path=str(tmp_path / "repos"), n_buckets=4)
    cdc_apply(t, df.where(F.col("lsn").isin(1, 5, 2)), cfg, epoch=0)
    cdc_apply(t, df.where(F.col("lsn").isin(3, 4)), cfg, epoch=1)
    final = {(r["repo"], r["path"]): r["content"] for r in t.read().collect()}
    assert final == {("r2", "b.py"): "v4"}  # r1/a.py stays deleted


def test_bucket_pruning_rewrites_only_affected(spark, tmp_path):
    t = make_table(spark, tmp_path, n_buckets=16)
    cfg = EngineConfig(table_path=str(tmp_path / "repos"), n_buckets=16)
    ch = gen_changes(spark, 2000, n_repos=10, n_paths_per_repo=20).cache()
    cdc_apply(t, ch, cfg, epoch=0)
    full = dict(t.current().buckets)
    # single-key batch must rewrite exactly one bucket
    one = ch.limit(1).withColumn("lsn", F.lit(10_000)).withColumn("op", F.lit("update"))
    stats = cdc_apply(t, one, cfg, epoch=1)
    assert stats.affected_buckets == 1
    after = t.current().buckets
    changed = [b for b in full if after.get(b) != full[b]]
    assert len(changed) == 1


def test_delete_where_and_truncate(spark, tmp_path):
    ch = gen_changes(spark, 1000, n_repos=6, n_paths_per_repo=15).cache()
    t = make_table(spark, tmp_path)
    cfg = EngineConfig(table_path=str(tmp_path / "repos"), n_buckets=16)
    cdc_apply(t, ch, cfg, epoch=0)
    n_before = t.read().count()
    delete_where(t, cfg, F.col("repo") == "repo_0000")
    df = t.read()
    assert df.where(F.col("repo") == "repo_0000").count() == 0
    assert df.count() < n_before
    t.truncate()
    assert t.read().count() == 0


def test_delete_where_keys_fast_path(spark, tmp_path):
    """Keyed delete plans its hit-bucket set from the key hashes alone (no
    table scan): only buckets containing the keys are rewritten, every other
    bucket's dir reference is unchanged, and the rows are gone."""
    from data_migration_service_spark.tables.lake import bucket_expr

    ch = gen_changes(spark, 2000, n_repos=8, n_paths_per_repo=20).cache()
    t = make_table(spark, tmp_path)
    cfg = EngineConfig(table_path=str(tmp_path / "repos"), n_buckets=16)
    cdc_apply(t, ch, cfg, epoch=0)
    before = dict(t.current().buckets)

    keys = t.read().select("repo", "path").limit(5).cache()
    expect_hit = {
        int(r[0]) for r in
        keys.select(bucket_expr(["repo", "path"], 16)).distinct().collect()
    }
    n_before = t.read().count()
    delete_where(t, cfg, keys=keys)

    after = dict(t.current().buckets)
    rewritten = {b for b in after if after.get(b) != before.get(b)}
    assert rewritten == expect_hit, "only key-hash buckets may be rewritten"
    assert t.read().join(keys, ["repo", "path"], "left_semi").count() == 0
    assert t.read().count() == n_before - 5

    with pytest.raises(ValueError):
        delete_where(t, cfg)  # neither predicate nor keys
    with pytest.raises(ValueError):
        delete_where(t, cfg, F.lit(True), keys=keys)  # both


def test_expire_snapshots_removes_dead_dirs(spark, tmp_path):
    import os

    ch = gen_changes(spark, 800, n_repos=5, n_paths_per_repo=10).cache()
    t = make_table(spark, tmp_path)
    cfg = EngineConfig(table_path=str(tmp_path / "repos"), n_buckets=16)
    for e, (lo, hi) in enumerate([(1, 400), (401, 800)]):
        cdc_apply(t, ch.where(F.col("lsn").between(lo, hi)), cfg, epoch=e)
    removed = t.expire_snapshots(keep_last=1)
    assert_state_matches(t, ch)  # current state untouched
    datadir = os.path.join(str(tmp_path / "repos"), "data")
    live = set(t.current().buckets.values())
    assert all(d in live or not d.startswith("snap-") for d in os.listdir(datadir))
    assert removed or True


def test_bucket_files_are_key_sorted_for_rowgroup_pruning(spark, tmp_path):
    """Every physical bucket file is sorted by the merge key, so parquet
    row-group min/max stats on (repo, path) are tight and point lookups
    skip row groups instead of scanning the bucket. write_sort=none
    opts out for append-throughput-first tables."""
    from data_migration_service_spark.fixtures.cdc import gen_changes
    from data_migration_service_spark.operators.merge import cdc_apply
    from data_migration_service_spark.config import EngineConfig

    # salt_factor > 1 is the regression case: tasks then hold rows of
    # several buckets, and the dynamic-partition writer's own sort used to
    # scramble a keys-only secondary sort (fix: lead with BUCKET_COL)
    tbl = make_table(spark, tmp_path, n_buckets=4)
    cfg = EngineConfig(table_path=str(tmp_path / "repos"), n_buckets=4,
                       salt_factor=4)
    ch = gen_changes(spark, 3000, n_repos=8, n_paths_per_repo=25)
    cdc_apply(tbl, ch, cfg, epoch=0)

    files = (spark.read.parquet(str(tmp_path / "repos" / "data"))
             .withColumn("_f", F.input_file_name())
             .select("_f", "repo", "path").toPandas())
    assert len(files) > 0
    for _, g in files.groupby("_f"):
        keys = list(zip(g["repo"], g["path"]))
        assert keys == sorted(keys), "bucket file not key-sorted"


def test_target_file_rows_rolls_writer_files(spark, tmp_path):
    """`target_file_rows` table prop bounds file size: one writer slice
    rolls to a new parquet file every N rows (object-store part limits /
    read parallelism at 100 TB); row-group key stats still hold per file."""
    import glob
    import os

    root = str(tmp_path / "t")
    t = SnapshotTable.create(spark, root, TABLE_SCHEMA, ["repo", "path"], 2,
                             props={"target_file_rows": "100"})
    cfg = EngineConfig(table_path=root, n_buckets=2)
    batch = spark.createDataFrame(
        [(f"r", f"p{i:04d}", "c", "l", f"v{i}", i, 100 + i, "insert")
         for i in range(600)],
        "repo string, path string, commit string, lang string, "
        "content string, size_bytes long, lsn long, op string")
    cdc_apply(t, batch, cfg, epoch=0)
    files = glob.glob(os.path.join(root, "data", "*", "_bucket=*", "*.parquet"))
    rows_per_file = max(
        spark.read.parquet(f).count() for f in files)
    assert rows_per_file <= 100
    assert len(files) >= 6  # 600 rows / 100 per file across 2 buckets
    assert t.read().count() == 600


def test_write_sort_clustering_columns(spark, tmp_path):
    """write_sort='cols:lang' clusters every bucket file by a NON-key
    column ahead of the merge key: row-group min/max on `lang` become
    tight (the data-skipping clustering a lang-filtered corpus scan
    wants) while the key still follows for point-lookup pruning.
    Merge semantics are unchanged."""
    from data_migration_service_spark.config import EngineConfig
    from data_migration_service_spark.fixtures.cdc import gen_changes

    root = str(tmp_path / "repos")
    t = SnapshotTable.create(spark, root, TABLE_SCHEMA, ["repo", "path"], 4,
                             props={"write_sort": "cols:lang"})
    cfg = EngineConfig(table_path=root, n_buckets=4, salt_factor=4)
    ch = gen_changes(spark, 3000, n_repos=8, n_paths_per_repo=25).cache()
    cdc_apply(t, ch, cfg, epoch=0)

    files = (spark.read.parquet(root + "/data")
             .withColumn("_f", F.input_file_name())
             .select("_f", "lang", "repo", "path").toPandas())
    assert len(files) > 0
    for _, g in files.groupby("_f"):
        rows = list(zip(g["lang"], g["repo"], g["path"]))
        assert rows == sorted(rows), "file not clustered by (lang, key)"
    assert_state_matches(t, ch)


SUMMARY_KEYS = ("affected_buckets", "rows_matched", "rows_inserted",
                "rows_deleted")


@pytest.mark.parametrize("writer", ["cow", "mor", "patch", "merge_into"])
def test_every_writer_runs_the_epoch_protocol(spark, tmp_path, writer):
    """One exactly-once protocol for every writer: each epoch commit
    carries the affected-bucket and matched / inserted / deleted summary
    of its stats, a replayed epoch returns skipped=True and commits
    nothing, and an empty batch commits the epoch tag alone."""
    from data_migration_service_spark.operators.merge_into import merge_into
    from data_migration_service_spark.operators.patch import (
        create_patch_table,
        patch_apply,
    )
    from tests.test_patch import DATA_SCHEMA, ev, events_df

    root = str(tmp_path / "t")
    cfg = EngineConfig(table_path=root, n_buckets=4,
                       merge_mode=writer if writer != "merge_into" else "cow")
    if writer == "patch":
        t = create_patch_table(spark, root, DATA_SCHEMA, ["repo", "path"], 4)
        batches = [
            events_df(spark, [ev("r1", "a", 1, "insert", content="x"),
                              ev("r2", "b", 2, "insert", content="y")]),
            events_df(spark, [ev("r1", "a", 3, "patch", ["lang"], lang="go"),
                              ev("r2", "b", 4, "delete"),
                              ev("r3", "c", 5, "insert", content="z")]),
        ]

        def apply(b, e):
            return patch_apply(t, b, cfg, epoch=e)
    elif writer == "merge_into":
        t = SnapshotTable.create(spark, root, TABLE_SCHEMA, ["repo", "path"], 4)
        src = "repo string, path string, lang string"
        batches = [
            spark.createDataFrame([("r1", "a", "py"), ("r2", "b", "c")], src),
            spark.createDataFrame([("r1", "a", "go"), ("r2", "b", "x"),
                                   ("r3", "c", "rs")], src),
        ]

        def apply(b, e):
            return merge_into(
                t, b, cfg, epoch=e, not_matched={},
                matched=[{"action": "delete", "condition": "s.lang = 'x'"},
                         {"action": "update", "set": {"lang": "s.lang"}}])
    else:
        t = SnapshotTable.create(spark, root, TABLE_SCHEMA, ["repo", "path"], 4)
        ch = gen_changes(spark, 600, n_repos=4, n_paths_per_repo=8).cache()
        batches = [ch.where(F.col("lsn") <= 300), ch.where(F.col("lsn") > 300)]

        def apply(b, e):
            return cdc_apply(t, b, cfg, epoch=e)

    for e, b in enumerate(batches):
        st = apply(b, e)
        assert not st.skipped and st.affected_buckets > 0
        assert st.snapshot_id == t.current().snapshot_id
        summary = t.current().summary
        assert {k: summary[k] for k in SUMMARY_KEYS} == {
            k: getattr(st, k) for k in SUMMARY_KEYS}
        assert st.rows_after_dedup == st.rows_matched + st.rows_inserted > 0
    assert st.rows_matched > 0 and st.rows_deleted > 0

    head = t.current().snapshot_id
    for e, b in enumerate(batches):
        st = apply(b, e)
        assert st.skipped and st.snapshot_id == head
    assert t.current().snapshot_id == head

    st = apply(batches[0].limit(0), 2)
    assert not st.skipped and st.snapshot_id == head + 1
    assert t.current().props["epoch"] == "2"
    assert {k: t.current().summary[k] for k in SUMMARY_KEYS} == dict.fromkeys(
        SUMMARY_KEYS, 0)
