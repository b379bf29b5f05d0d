"""Engine facade: the reference's REST surface end-to-end (replay ->
status -> verify -> targeted re-replay -> cleanup)."""

import threading
from collections import Counter

import pyspark.sql.types as T
import pytest
from pyspark.sql import functions as F

from data_migration_service_spark.api import Engine, EngineGroup, JobLock
from data_migration_service_spark.config import EngineConfig
from data_migration_service_spark.fixtures.cdc import (
    expected_final_state,
    gen_changes,
)
from data_migration_service_spark.tables.lake import SnapshotTable
from tests.test_merge import TABLE_SCHEMA


def make_engine(spark, tmp_path, merge_mode="mor", **cfg_kw):
    SnapshotTable.create(spark, str(tmp_path / "repos"), TABLE_SCHEMA,
                         ["repo", "path"], 16)
    cfg = EngineConfig(
        table_path=str(tmp_path / "repos"), n_buckets=16,
        checkpoint_path=str(tmp_path / "ckpt"), merge_mode=merge_mode,
        **cfg_kw,
    )
    return Engine(spark, cfg)


def test_replay_status_verify_cleanup(spark, tmp_path):
    eng = make_engine(spark, tmp_path)
    ch = gen_changes(spark, 2000, n_repos=10, n_paths_per_repo=20).cache()
    ch.write.parquet(str(tmp_path / "events"))

    eng.replay(str(tmp_path / "events"), streaming=False)
    st = eng.status()
    assert st["epoch"] >= 0 and st["rows_applied"] > 0

    res = eng.verify(expected_final_state(ch))
    assert res.consistent, (res.n_mismatch, res.n_missing_in_target,
                            res.n_missing_in_source)

    # targeted cleanup then full truncate
    eng.cleanup(F.col("repo") == "repo_0000")
    assert eng.table.read().where(F.col("repo") == "repo_0000").count() == 0
    eng.cleanup()
    assert eng.table.read().count() == 0


def test_replay_keys_targeted(spark, tmp_path):
    eng = make_engine(spark, tmp_path)
    ch = gen_changes(spark, 1000, n_repos=5, n_paths_per_repo=10).cache()
    # full replay first
    eng.replay_keys(ch, ch.select("repo", "path"), epoch=0)
    before = eng.table.read().count()

    # corrupt one key, then re-replay ONLY that key
    victim = eng.table.read().limit(1).collect()[0]
    eng.cleanup((F.col("repo") == victim["repo"]) &
                (F.col("path") == victim["path"]))
    assert eng.table.read().count() == before - 1
    keys = spark.createDataFrame([(victim["repo"], victim["path"])],
                                 "repo string, path string")
    stats = eng.replay_keys(ch, keys)
    assert stats.rows_inserted >= 1
    assert eng.table.read().count() == before
    got = eng.table.read().where(
        (F.col("repo") == victim["repo"]) & (F.col("path") == victim["path"])
    ).collect()[0]
    assert got["content"] == victim["content"]


def test_streaming_replay_via_facade(spark, tmp_path):
    eng = make_engine(spark, tmp_path)
    ch = gen_changes(spark, 1500, n_repos=8, n_paths_per_repo=15).cache()
    from data_migration_service_spark.fixtures.cdc import to_raw_events
    to_raw_events(ch).write.parquet(str(tmp_path / "raw"))
    # no registry: payload stays unparsed; use batch-mode facade on the
    # structured log instead for the assertion, streaming for the machinery
    ch.write.parquet(str(tmp_path / "events"))
    eng.replay(str(tmp_path / "events"), streaming=False)
    res = eng.verify(expected_final_state(ch))
    assert res.consistent


def test_streaming_without_checkpoint_raises(spark, tmp_path):
    from data_migration_service_spark.tables.lake import SnapshotTable
    from tests.test_merge import TABLE_SCHEMA
    import pytest

    SnapshotTable.create(spark, str(tmp_path / "t2"), TABLE_SCHEMA,
                         ["repo", "path"], 4)
    eng = Engine(spark, EngineConfig(table_path=str(tmp_path / "t2")))
    with pytest.raises(ValueError, match="checkpoint"):
        eng.replay(str(tmp_path / "nowhere"))


def test_status_detail_surfaces_per_epoch_lineage(spark, tmp_path):
    """GET /jobs/{t} parity: detail=True returns each epoch's rows,
    conflict counters, snapshot, and per-bucket partitions (rows + LSN
    range) — the reference's per-step status/counters."""
    eng = make_engine(spark, tmp_path)
    ch = gen_changes(spark, 1200, n_repos=6, n_paths_per_repo=12).cache()
    ch.write.parquet(str(tmp_path / "events"))
    eng.replay(str(tmp_path / "events"), streaming=False)

    st = eng.status(detail=True)
    assert st["epochs_recorded"] >= 1
    assert len(st["epochs"]) == st["epochs_recorded"]
    ep = st["epochs"][0]
    assert ep["rows_in_batch"] > 0
    assert ep["rows_inserted"] > 0
    assert ep["snapshot_id"] is not None
    assert ep["partitions"], "per-bucket lineage missing"
    some_bucket = next(iter(ep["partitions"].values()))
    assert some_bucket["rows"] > 0
    assert some_bucket["lsn_min"] <= some_bucket["lsn_max"]
    # summary view stays lean
    assert "epochs" not in eng.status()


def test_job_lock_blocks_second_replay(spark, tmp_path):
    eng = make_engine(spark, tmp_path)
    ch = gen_changes(spark, 300, n_repos=3, n_paths_per_repo=5)
    ch.write.parquet(str(tmp_path / "events"))
    # simulate a concurrent run holding the lock
    other = JobLock(eng.lock.path)
    assert other.acquire()
    try:
        import pytest
        assert eng.status()["running"]
        with pytest.raises(RuntimeError, match="already running"):
            eng.replay(str(tmp_path / "events"), streaming=False)
    finally:
        other.release()
    # released -> replay proceeds and releases its own lock afterwards
    eng.replay(str(tmp_path / "events"), streaming=False)
    assert not eng.status()["running"]


def test_engine_group_replay_all_skips_locked(spark, tmp_path):
    """Reference flagship POST /jobs: sweep the configured table list,
    skip tables whose job is running (DataMigrationService.java:298-310)."""
    cfgs = {}
    for name in ("t_a", "t_b"):
        SnapshotTable.create(spark, str(tmp_path / name), TABLE_SCHEMA,
                             ["repo", "path"], 8)
        cfgs[name] = EngineConfig(
            table_path=str(tmp_path / name), n_buckets=8,
            checkpoint_path=str(tmp_path / f"ck_{name}"), merge_mode="mor",
        )
    grp = EngineGroup(spark, cfgs)
    ch = gen_changes(spark, 600, n_repos=4, n_paths_per_repo=8).cache()
    ch.write.parquet(str(tmp_path / "events"))

    # t_b is mid-run elsewhere: its lock is held
    busy = JobLock(grp.engines["t_b"].lock.path)
    assert busy.acquire()
    try:
        res = grp.replay_all({n: str(tmp_path / "events") for n in cfgs},
                             streaming=False)
    finally:
        busy.release()
    assert res["t_a"]["status"] == "COMPLETED"
    assert res["t_a"]["rows_applied"] > 0
    assert res["t_b"]["status"] == "SKIPPED_LOCKED"
    assert grp.engines["t_a"].table.read().count() > 0
    assert grp.engines["t_b"].table.read().count() == 0

    # second sweep: the lock is free, t_b catches up; re-running t_a is
    # harmless (LWW re-apply of the same LSNs is a no-op on the state)
    res2 = grp.replay_all({n: str(tmp_path / "events") for n in cfgs},
                          streaming=False)
    assert res2["t_b"]["status"] == "COMPLETED"
    assert grp.engines["t_b"].table.read().count() == \
        grp.engines["t_a"].table.read().count()
    st = grp.status()
    assert set(st) == {"t_a", "t_b"} and not st["t_a"]["running"]


def test_verify_incremental_scopes_to_changed_buckets(spark, tmp_path):
    """Incremental verification checks exactly the buckets that moved since
    the reference snapshot: corruption inside the changed scope is caught,
    corruption outside it is (by documented scope) not — that's what makes
    the job O(changed), and the full verify still exists for audits."""
    eng = make_engine(spark, tmp_path)
    ch = gen_changes(spark, 2000, n_repos=8, n_paths_per_repo=15).cache()
    ch.write.parquet(str(tmp_path / "events"))
    eng.replay(str(tmp_path / "events"), streaming=False)
    s0 = eng.table.current().snapshot_id

    # small follow-up epoch touching few keys
    from data_migration_service_spark.operators.merge import cdc_apply
    one = (ch.orderBy("lsn").limit(3)
           .withColumn("lsn", F.col("lsn") + 100_000)
           .withColumn("op", F.lit("update"))
           .withColumn("content", F.lit("NEWCONTENT")))
    cdc_apply(eng.table, one, eng.cfg, epoch=99)

    full_expected = expected_final_state(ch.unionByName(one))
    res = eng.verify_incremental(full_expected, s0)
    assert res.consistent
    n_checked = len(res.extra["buckets_checked"])
    assert 0 < n_checked < eng.cfg.n_buckets  # genuinely pruned

    # corruption INSIDE the changed scope is caught
    bad_in = full_expected.withColumn(
        "content",
        F.when(F.col("content") == "NEWCONTENT", F.lit("TAMPERED"))
        .otherwise(F.col("content")))
    assert not eng.verify_incremental(bad_in, s0).consistent

    # corruption OUTSIDE the scope is invisible to the incremental pass
    # (documented trade), but the full verify catches it
    from data_migration_service_spark.tables.lake import bucket_expr
    changed = res.extra["buckets_checked"]
    outside = full_expected.where(
        ~bucket_expr(["repo", "path"], eng.cfg.n_buckets).isin(changed))
    victim = outside.limit(1).collect()
    if victim:  # corrupt one out-of-scope row
        v = victim[0]
        bad_out = full_expected.withColumn(
            "content",
            F.when((F.col("repo") == v["repo"]) & (F.col("path") == v["path"]),
                   F.lit("TAMPERED")).otherwise(F.col("content")))
        assert eng.verify_incremental(bad_out, s0).consistent
        assert not eng.verify(bad_out).consistent


def test_lookup_and_history(spark, tmp_path):
    """Point lookup prunes to the keys' buckets (read half of the
    reference's migrateSpecificRecords); history lists the run ledger."""
    eng = make_engine(spark, tmp_path)
    ch = gen_changes(spark, 1000, n_repos=6, n_paths_per_repo=10).cache()
    ch.write.parquet(str(tmp_path / "events"))
    eng.replay(str(tmp_path / "events"), streaming=False)

    want = eng.table.read().orderBy("repo", "path").limit(3).cache()
    got = eng.lookup(want.select("repo", "path"))
    assert got.count() == 3
    assert got.select("repo", "path", "content").exceptAll(
        want.select("repo", "path", "content")).count() == 0
    # missing keys return nothing (and an all-miss lookup short-circuits)
    ghost = spark.createDataFrame([("no_such", "x.py")], "repo string, path string")
    assert eng.lookup(ghost).count() == 0

    h = eng.history()
    assert h[0]["operation"] == "create" and h[0]["snapshot_id"] == 1
    assert any(e["operation"] in ("merge", "merge-mor") for e in h)
    assert h[-1]["epoch"] >= 0
    assert [e["snapshot_id"] for e in h] == sorted(e["snapshot_id"] for e in h)


def test_engine_group_verify_and_cleanup_all(spark, tmp_path):
    """Group-level verification + cleanup sweeps (reference: no-table-param
    POST /data/verification and the truncate-all cleanup)."""
    cfgs = {}
    for name in ("g_a", "g_b"):
        SnapshotTable.create(spark, str(tmp_path / name), TABLE_SCHEMA,
                             ["repo", "path"], 8)
        cfgs[name] = EngineConfig(
            table_path=str(tmp_path / name), n_buckets=8,
            checkpoint_path=str(tmp_path / f"gck_{name}"), merge_mode="mor",
        )
    grp = EngineGroup(spark, cfgs)
    ch = gen_changes(spark, 500, n_repos=4, n_paths_per_repo=6).cache()
    ch.write.parquet(str(tmp_path / "gev"))
    grp.replay_all({n: str(tmp_path / "gev") for n in cfgs}, streaming=False)

    exp = expected_final_state(ch)
    res = grp.verify_all({"g_a": exp, "g_b": exp})
    assert res["all_ok"]
    assert res["g_a"].consistent and res["g_b"].consistent
    # missing expectation is surfaced, not silently OK
    res2 = grp.verify_all({"g_a": exp})
    assert res2["g_b"] == "NO_EXPECTATION" and not res2["all_ok"]

    # keyed delete on one table, truncate on the other
    victim = grp.engines["g_a"].table.read().select("repo", "path").limit(2).cache()
    n_a = grp.engines["g_a"].table.read().count()
    grp.cleanup_all(keys={"g_a": victim})
    assert grp.engines["g_a"].table.read().count() == n_a - 2
    assert grp.engines["g_b"].table.read().count() == 0  # truncated


def test_facade_streaming_with_registry_evolution(spark, tmp_path):
    """Full streaming path through the facade: raw version-named JSON
    payloads, v1->v2 evolution resolved at the batch boundary."""
    from data_migration_service_spark.fixtures.cdc import (
        default_registry,
        to_raw_events,
    )
    from data_migration_service_spark.registry import SchemaRegistry  # noqa: F401
    from data_migration_service_spark.tables.lake import SnapshotTable
    from tests.test_merge import TABLE_SCHEMA, assert_state_matches

    n = 900
    ch = gen_changes(spark, n, n_repos=5, n_paths_per_repo=10,
                     schema_v2_at=n // 2).cache()
    to_raw_events(ch).write.parquet(str(tmp_path / "raw"))
    SnapshotTable.create(spark, str(tmp_path / "t3"), TABLE_SCHEMA,
                         ["repo", "path"], 8)
    cfg = EngineConfig(table_path=str(tmp_path / "t3"), n_buckets=8,
                       checkpoint_path=str(tmp_path / "ck3"),
                       merge_mode="mor")
    eng = Engine(spark, cfg, registry=default_registry(n // 2, n + 1))
    eng.replay(str(tmp_path / "raw"), streaming=True, timeout_sec=180)
    assert_state_matches(eng.table, ch)
    assert eng.status()["schema_version"] == 2


def test_export_changes_debezium_replication_loop(spark, tmp_path):
    """Primary exports its changefeed as Debezium envelopes; a replica
    replays the decoded stream and reaches the identical state — the
    engine interoperates with the standard CDC wire format in BOTH
    directions (export half of sources/debezium.py)."""
    import pyspark.sql.types as T
    from data_migration_service_spark.sources.debezium import (
        debezium_file_source,
    )
    from data_migration_service_spark.operators.merge import cdc_apply

    primary = make_engine(spark, tmp_path)
    ch = gen_changes(spark, 2500, n_repos=8, n_paths_per_repo=20).cache()
    ch.write.parquet(str(tmp_path / "events"))
    primary.replay(str(tmp_path / "events"), streaming=False)

    n = primary.export_changes(1, str(tmp_path / "wire"), format="debezium")
    assert n > 0

    row_schema = T.StructType(
        [f for f in TABLE_SCHEMA.fields if f.name != "lsn"])
    decoded = debezium_file_source(
        spark, str(tmp_path / "wire"), row_schema, streaming=False)

    SnapshotTable.create(spark, str(tmp_path / "replica"), TABLE_SCHEMA,
                         ["repo", "path"], 16)
    rcfg = EngineConfig(table_path=str(tmp_path / "replica"), n_buckets=16)
    replica = Engine(spark, rcfg)
    cdc_apply(replica.table, decoded, rcfg, epoch=0)

    a = primary.table.read().select("repo", "path", "content")
    b = replica.table.read().select("repo", "path", "content")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_read_as_of_and_table_stats(spark, tmp_path):
    from data_migration_service_spark.operators.merge import cdc_apply

    eng = make_engine(spark, tmp_path)
    ch = gen_changes(spark, 3000, n_repos=10, n_paths_per_repo=20).cache()
    mid = 1500
    cdc_apply(eng.table, ch.where(F.col("lsn") <= mid), eng.cfg, epoch=0)
    rows_e0 = eng.table.read().count()
    cdc_apply(eng.table, ch.where(F.col("lsn") > mid), eng.cfg, epoch=1)

    # time travel to epoch 0 reproduces that state exactly
    past = eng.read_as_of(epoch=0)
    assert past.count() == rows_e0
    want = expected_final_state(ch.where(F.col("lsn") <= mid))
    diff = (
        past.select("repo", "path", F.sha2("content", 256).alias("h"))
        .join(want.select("repo", "path", F.sha2("content", 256).alias("h")),
              ["repo", "path", "h"], "full_outer")
        .where(F.col("h").isNull())
    )
    assert diff.count() == 0
    try:
        eng.read_as_of(epoch=99)
        raise AssertionError("expected ValueError for unknown epoch")
    except ValueError:
        pass

    # layout stats agree with the filesystem and expose MOR delta depth
    st = eng.table_stats()
    assert st["n_buckets"] == 16
    assert st["total_files"] > 0 and st["total_bytes"] > 0
    assert st["max_delta_depth"] >= 1  # two MOR epochs, no compaction yet
    import os as _os

    n_fs = sum(
        1
        for root, _dirs, files in _os.walk(str(tmp_path / "repos" / "data"))
        for f in files
        if f.endswith(".parquet")
    )
    assert st["total_files"] == n_fs


def test_bootstrap_then_streaming_tail_via_facade(spark, tmp_path):
    """Full lifecycle through the facade: one-pass bootstrap of the LWW
    state at the half-way LSN, then a streaming tail over the WHOLE raw log
    — the bootstrap_lsn watermark absorbs the overlap — landing on the
    pure-replay final state."""
    from pyspark.sql import Window as W

    from data_migration_service_spark.fixtures.cdc import (
        default_registry,
        to_raw_events,
    )

    eng = make_engine(spark, tmp_path)
    n = 2000
    ch = gen_changes(spark, n, n_repos=10, n_paths_per_repo=20).cache()
    mid = n // 2
    win = W.partitionBy("repo", "path").orderBy(F.col("lsn").desc())
    snap_df = (ch.where(F.col("lsn") <= mid)
               .withColumn("_rn", F.row_number().over(win))
               .where((F.col("_rn") == 1) & (F.col("op") != "delete"))
               .drop("_rn", "op", "ts", "schema_version"))
    st = eng.bootstrap(snap_df)
    assert st.rows_inserted > 0 and not st.skipped
    # stream the FULL raw log (payload-enveloped, mixed versions)
    src = str(tmp_path / "events")
    to_raw_events(ch).coalesce(2).write.parquet(src)
    eng.registry = eng._replayer.registry = default_registry(
        (2 * n) // 3 + 1, n + 1)
    eng.replay(src)
    res = eng.verify(expected_final_state(ch))
    assert res.consistent, res.report


def test_rollback_then_forward_replay(spark, tmp_path):
    """Resume-from-any-epoch: rollback is a metadata-only commit restoring a
    past epoch's state; replaying the later epochs forward reproduces the
    exact original final state (the ledger keeps both timelines until
    expire)."""
    from data_migration_service_spark.operators.merge import cdc_apply

    eng = make_engine(spark, tmp_path)
    ch = gen_changes(spark, 3000, n_repos=10, n_paths_per_repo=20).cache()
    bounds = [(1, 1000), (1001, 2000), (2001, 3000)]
    for e, (lo, hi) in enumerate(bounds):
        cdc_apply(eng.table,
                  ch.where((F.col("lsn") >= lo) & (F.col("lsn") <= hi)),
                  eng.cfg, epoch=e)
    final = eng.table.read().select("repo", "path", "content", "lsn").cache()
    n_final = final.count()

    sid = eng.rollback(epoch=0)
    assert eng.table.current().snapshot_id == sid
    # restored state == time-travel view of epoch 0
    past = eng.read_as_of(epoch=0).select("repo", "path", "content", "lsn")
    now = eng.table.read().select("repo", "path", "content", "lsn")
    assert now.exceptAll(past).count() == 0 and past.exceptAll(now).count() == 0

    # epoch guard keys off the RESTORED epoch tag: epoch 0 skips, 1..2 apply
    st0 = cdc_apply(eng.table, ch.where(F.col("lsn") <= 1000), eng.cfg, epoch=0)
    assert st0.skipped
    for e, (lo, hi) in list(enumerate(bounds))[1:]:
        st = cdc_apply(eng.table,
                       ch.where((F.col("lsn") >= lo) & (F.col("lsn") <= hi)),
                       eng.cfg, epoch=e)
        assert not st.skipped
    redone = eng.table.read().select("repo", "path", "content", "lsn")
    assert redone.count() == n_final
    assert redone.exceptAll(final).count() == 0
    assert final.exceptAll(redone).count() == 0

    # rollback never deletes: expire keeps dirs the restored HEAD references
    eng.table.expire_snapshots(keep_last=2)
    assert eng.table.read().count() == n_final


def test_maintenance_plan_metadata_only(spark, tmp_path):
    """Advisor flags deep delta chains, skew, undersized layouts, and expiry
    reclaim — from manifests and file sizes only (no Spark job runs)."""
    import pyspark.sql.types as T
    from pyspark.sql import functions as F

    from data_migration_service_spark.operators.merge import cdc_apply
    from data_migration_service_spark.tables.lake import SnapshotTable
    from data_migration_service_spark.tables.maintenance import maintenance_plan

    schema = T.StructType([
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("content", T.StringType(), True),
        T.StructField("lsn", T.LongType(), False),
    ])
    root = str(tmp_path / "mt")
    t = SnapshotTable.create(spark, root, schema, ["repo", "path"], 4)
    cfg = EngineConfig(table_path=root, n_buckets=4, merge_mode="mor",
                       compact_threshold=100)  # never auto-compact
    # 3 epochs over the same keys -> delta depth 3 on their buckets
    for e in range(3):
        rows = [("r", f"p{i}", "x" * 50, e * 10 + i + 1) for i in range(8)]
        cdc_apply(t, spark.createDataFrame(rows, schema)
                  .withColumn("op", F.lit("insert" if e == 0 else "update")),
                  cfg, epoch=e)

    plan = maintenance_plan(t, compact_at=3, target_bucket_bytes=1,
                            keep_snapshots=1)
    assert plan["compact"]["max_delta_depth"] == 3
    assert len(plan["compact"]["buckets"]) >= 1
    assert plan["rebucket"]["recommend_n_buckets"] is not None
    assert plan["rebucket"]["recommend_n_buckets"] > 4
    assert plan["skew"]["peak_bytes"] > 0
    # nothing unreferenced yet: every delta dir is still live at keep=1
    assert plan["expire"]["reclaim_bytes"] == 0
    assert plan["expire"]["expirable_snapshots"] == t.snapshots()[:-1]

    # compaction rewrites the buckets -> delta dirs become unreferenced,
    # advisor sees reclaimable bytes; a healthy target reports no rebucket
    from data_migration_service_spark.operators.merge import compact
    compact(t, cfg)
    plan2 = maintenance_plan(t, compact_at=3, keep_snapshots=1,
                             target_bucket_bytes=10**9)
    assert plan2["compact"]["buckets"] == []
    assert plan2["expire"]["reclaim_bytes"] > 0
    assert plan2["rebucket"]["recommend_n_buckets"] is None
    # facade passthrough
    eng = Engine(spark, cfg)
    assert eng.maintenance_plan(keep_snapshots=1)["snapshot_id"] \
        == t.current().snapshot_id


def test_inspect_metadata_tables(spark, tmp_path):
    """Iceberg metadata-table analogues: `inspect_files` (one row per live
    data file, footer row counts) and `inspect_snapshots` (the ledger as a
    DataFrame) agree with table_stats/history and with the actual state."""
    import pyspark.sql.types as T
    from pyspark.sql import functions as F

    from data_migration_service_spark.api import Engine
    from data_migration_service_spark.operators.merge import cdc_apply
    from data_migration_service_spark.tables.lake import SnapshotTable

    schema = T.StructType([
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("content", T.StringType(), True),
        T.StructField("lsn", T.LongType(), False),
    ])
    root = str(tmp_path / "meta")
    t = SnapshotTable.create(spark, root, schema, ["repo", "path"], 4)
    cfg = EngineConfig(table_path=root, n_buckets=4, merge_mode="mor",
                       compact_threshold=100)
    for e in range(2):
        rows = [("r", f"p{i}", "x" * 20, e * 10 + i + 1) for i in range(8)]
        cdc_apply(t, spark.createDataFrame(rows, schema)
                  .withColumn("op", F.lit("insert" if e == 0 else "update")),
                  cfg, epoch=e + 1)
    eng = Engine(spark, cfg)
    eng.compact()  # fold epoch-1/2 deltas into a base dir
    rows = [("r", f"p{i}", "y" * 20, 100 + i) for i in range(8)]
    cdc_apply(t, spark.createDataFrame(rows, schema)
              .withColumn("op", F.lit("update")), cfg, epoch=3)

    files = eng.inspect_files().collect()
    stats = eng.table_stats()
    assert len(files) == stats["total_files"]
    assert sum(r["bytes"] for r in files) == stats["total_bytes"]
    assert {r["kind"] for r in files} == {"base", "delta"}
    # footer rows: compacted base holds the 8 LWW winners, the epoch-3
    # delta its 8 updates — raw (pre-reduce) total is exact
    assert sum(r["rows"] for r in files) == 16
    # with_rows=False never opens footers and marks rows unknown
    fast = eng.inspect_files(with_rows=False).collect()
    assert len(fast) == len(files) and all(r["rows"] == -1 for r in fast)

    snaps = {r["snapshot_id"]: r for r in eng.inspect_snapshots().collect()}
    hist = eng.history()
    assert set(snaps) == {h["snapshot_id"] for h in hist}
    head = eng.table.current()
    assert snaps[head.snapshot_id]["epoch"] == 3
    assert all(r["committed_at"] > 0 for r in snaps.values())
    # metadata tables are DataFrames: plain SQL over layout works
    per_bucket = (eng.inspect_files().groupBy("bucket")
                  .agg(F.sum("rows").alias("n")).count())
    assert per_bucket <= 4


def test_repair_fixes_mismatch_missing_and_extra(spark, tmp_path):
    """Engine.repair: one pass fixes all three divergence kinds — a
    corrupted row (MISMATCH -> upsert), a lost row (MISSING_IN_TARGET ->
    upsert), an orphan row the source of truth never had
    (MISSING_IN_SOURCE -> delete tombstone) — and converges to the
    expected state; a second repair is a no-op (nothing applied)."""
    from data_migration_service_spark.operators.patch import apply_changes

    eng = make_engine(spark, tmp_path)
    ch = gen_changes(spark, 1500, n_repos=8, n_paths_per_repo=15).cache()
    ch.write.parquet(str(tmp_path / "events"))
    eng.replay(str(tmp_path / "events"), streaming=False)
    exp = expected_final_state(ch).select(
        "repo", "path", "commit", "lang", "content", "size_bytes")
    hi = ch.agg(F.max("lsn")).collect()[0][0]

    victims = eng.table.read().orderBy("repo", "path").limit(2).collect()
    lost, corrupted = victims
    eng.cleanup(keys=spark.createDataFrame(
        [(lost["repo"], lost["path"])], "repo string, path string"))
    drift = spark.createDataFrame(
        [
            (corrupted["repo"], corrupted["path"], corrupted["commit"],
             corrupted["lang"], "DRIFTED CONTENT", 15, hi + 1, "update"),
            ("ghost_repo", "ghost/path.py", None, None, "orphan row", 10,
             hi + 1, "insert"),
        ],
        "repo string, path string, commit string, lang string, "
        "content string, size_bytes long, lsn long, op string",
    )
    apply_changes(eng.table, drift, eng.cfg)

    plan = eng.repair(exp, dry_run=True)
    assert plan == {
        "n_mismatch": 1, "n_missing_in_target": 1, "n_missing_in_source": 1,
        "n_upserts": 2, "n_deletes": 1, "applied": False, "dry_run": True,
        "buckets_checked": "all",
    }

    rep = eng.repair(exp)
    assert rep["applied"] and rep["repair_lsn"] > hi + 1
    assert rep["residual_bad_keys"] == 0
    assert eng.verify(expected_final_state(ch)).consistent
    # orphan physically resolved to a tombstone, not a live row
    assert eng.table.read().where(F.col("repo") == "ghost_repo").count() == 0

    rep2 = eng.repair(exp)
    assert rep2["n_upserts"] + rep2["n_deletes"] == 0 and not rep2["applied"]


def test_repair_stale_replica_converges(spark, tmp_path):
    """Repair a replica that only saw a prefix of the log: upserts cover the
    missed tail, tombstones remove keys the tail deleted; final state equals
    the full replay (the driver query's shape, pinned here at test scale)."""
    eng = make_engine(spark, tmp_path)
    ch = gen_changes(spark, 2000, n_repos=10, n_paths_per_repo=20).cache()
    hi = ch.agg(F.max("lsn")).collect()[0][0]
    from data_migration_service_spark.operators.patch import apply_changes

    apply_changes(eng.table, ch.where(F.col("lsn") <= hi * 3 // 5),
                  eng.cfg, epoch=0)
    exp = expected_final_state(ch).select(
        "repo", "path", "commit", "lang", "content", "size_bytes")
    rep = eng.repair(exp)
    assert rep["n_upserts"] > 0  # the missed tail
    assert rep["residual_bad_keys"] == 0
    assert eng.verify(expected_final_state(ch)).consistent


def test_repair_incremental_scopes_to_changed_buckets(spark, tmp_path):
    """repair(since_snapshot=N): after a clean state at N, only buckets
    whose manifests moved since N are diffed — both sides pruned by the
    same bucket hash — and the fix still converges the full table."""
    from data_migration_service_spark.operators.patch import apply_changes

    eng = make_engine(spark, tmp_path)
    ch = gen_changes(spark, 1500, n_repos=8, n_paths_per_repo=15).cache()
    ch.write.parquet(str(tmp_path / "events"))
    eng.replay(str(tmp_path / "events"), streaming=False)
    eng.compact()  # settle deltas so later epochs' bucket diff is minimal
    s0 = eng.table.current().snapshot_id
    exp = expected_final_state(ch).select(
        "repo", "path", "commit", "lang", "content", "size_bytes")
    hi = ch.agg(F.max("lsn")).collect()[0][0]

    # drift confined to ONE key after the clean snapshot
    victim = eng.table.read().orderBy("repo", "path").limit(1).collect()[0]
    drift = spark.createDataFrame(
        [(victim["repo"], victim["path"], victim["commit"], victim["lang"],
          "DRIFTED", 7, hi + 1, "update")],
        "repo string, path string, commit string, lang string, "
        "content string, size_bytes long, lsn long, op string")
    apply_changes(eng.table, drift, eng.cfg)

    rep = eng.repair(exp, since_snapshot=s0)
    assert rep["buckets_checked"] != "all"
    assert 0 < len(rep["buckets_checked"]) < eng.table.current().n_buckets
    assert rep["n_mismatch"] == 1 and rep["n_missing_in_source"] == 0
    assert rep["residual_bad_keys"] == 0
    # the incremental scope did not mask anything: full verify is clean
    assert eng.verify(expected_final_state(ch)).consistent

    # clean incremental window -> structurally empty diff, nothing applied
    s1 = eng.table.current().snapshot_id
    rep2 = eng.repair(exp, since_snapshot=s1)
    assert not rep2["applied"] and rep2["n_upserts"] + rep2["n_deletes"] == 0


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_update_where_cdc_semantics(spark, tmp_path, mode):
    """UPDATE expressed as a CDC batch: values change, LSNs move past the
    high-watermark (so the changefeed classifies `update` and downstream
    consumers stay consistent), tombstones are untouched, and the keyed
    path prunes to hit buckets. `n_updated` counts the updated rows in
    both write modes."""
    eng = make_engine(spark, tmp_path, merge_mode=mode)
    ch = gen_changes(spark, 1500, n_repos=8, n_paths_per_repo=15).cache()
    ch.write.parquet(str(tmp_path / "events"))
    eng.replay(str(tmp_path / "events"), streaming=False)
    sid_before = eng.table.current().snapshot_id
    hi = eng.table.read().agg(F.max("lsn")).collect()[0][0]

    # predicate path: rewrite one repo's lang
    n_match = eng.table.read().where(F.col("repo") == "repo_0003").count()
    rep = eng.update_where({"lang": F.lit("zz")},
                           predicate=F.col("repo") == "repo_0003")
    assert rep["applied"] and rep["n_updated"] == n_match
    assert rep["update_lsn"] == hi + 1
    after = eng.table.read()
    assert after.where((F.col("repo") == "repo_0003")
                       & (F.col("lang") != "zz")).count() == 0
    assert after.where((F.col("repo") != "repo_0003")
                       & (F.col("lang") == "zz")).count() == 0
    # the changefeed sees exactly the updated rows, classified `update`
    from data_migration_service_spark.operators.changefeed import table_changes
    chg = table_changes(eng.table, sid_before).collect()
    assert len(chg) == n_match
    assert all(r["op"] == "update" and r["repo"] == "repo_0003" for r in chg)

    # keys path: SQL-string expression, only hit buckets rewritten
    victim = after.limit(1).collect()[0]
    keys = spark.createDataFrame([(victim["repo"], victim["path"])],
                                 "repo string, path string")
    rep2 = eng.update_where({"content": "upper(content)"}, keys=keys)
    assert rep2["n_updated"] == 1
    got = eng.table.read().where(
        (F.col("repo") == victim["repo"])
        & (F.col("path") == victim["path"])).collect()[0]
    assert got["content"] == (victim["content"] or "").upper() or \
        victim["content"] is None

    # guards: protected / unknown columns, predicate XOR keys
    with pytest.raises(ValueError, match="protected or unknown"):
        eng.update_where({"lsn": F.lit(0)},
                         predicate=F.lit(True))
    with pytest.raises(ValueError, match="exactly one"):
        eng.update_where({"lang": F.lit("x")})

    # exactly-once: re-applying the same epoch is absorbed
    rep3 = eng.update_where({"lang": F.lit("ww")},
                            predicate=F.col("repo") == "repo_0004",
                            epoch=rep2["epoch"])
    assert not rep3["applied"]
    assert eng.table.read().where(F.col("lang") == "ww").count() == 0


def test_engine_sql_and_time_travel(spark, tmp_path):
    """Engine.sql: plain SQL over the resolved (live, LWW) state, with
    epoch time travel; the temp view does not leak."""
    eng = make_engine(spark, tmp_path)
    ch = gen_changes(spark, 800, n_repos=6, n_paths_per_repo=10).cache()
    hi = ch.agg(F.max("lsn")).collect()[0][0]
    mid = hi // 2
    from data_migration_service_spark.operators.merge import cdc_apply
    cdc_apply(eng.table, ch.where(F.col("lsn") <= mid), eng.cfg, epoch=0)
    cdc_apply(eng.table, ch.where(F.col("lsn") > mid), eng.cfg, epoch=1)

    got = eng.sql("SELECT repo, count(*) AS n FROM t GROUP BY repo")
    want = eng.table.read().groupBy("repo").agg(F.count(F.lit(1)).alias("n"))
    assert {(r["repo"], r["n"]) for r in got.collect()} \
        == {(r["repo"], r["n"]) for r in want.collect()}
    assert not any(v.name == "t" for v in spark.catalog.listTables())

    # epoch travel: counting at epoch 0 sees only the first half's state
    n0 = eng.sql("SELECT count(*) AS n FROM t", epoch=0).collect()[0]["n"]
    assert n0 == eng.read_as_of(epoch=0).count() != eng.table.read().count()


def test_engine_group_sql_pinned_consistency(spark, tmp_path):
    """EngineGroup.sql(catalog_root=...): a cross-table query reads the
    last SEALED transaction's pins — an out-of-band commit that advanced
    one table's HEAD is invisible until the next group commit."""
    from data_migration_service_spark.tables.txn import consistent_snapshots

    cfgs = {}
    for name in ("a", "b"):
        root = str(tmp_path / name)
        SnapshotTable.create(spark, root, TABLE_SCHEMA, ["repo", "path"], 4)
        cfgs[name] = EngineConfig(table_path=root, n_buckets=4)
    grp = EngineGroup(spark, cfgs)
    cat = str(tmp_path / "catalog")
    ba = gen_changes(spark, 300, n_repos=4, n_paths_per_repo=8, seed=1)
    bb = gen_changes(spark, 200, n_repos=4, n_paths_per_repo=8, seed=2)
    grp.apply_all_atomic({"a": ba, "b": bb}, epoch=0, catalog_root=cat)
    na = grp.engines["a"].table.read().count()
    nb = grp.engines["b"].table.read().count()

    # out-of-band single-table commit advances a's HEAD past the txn pin
    from data_migration_service_spark.operators.merge import cdc_apply
    extra = spark.createDataFrame(
        [("zzz", "new.py", "c", "py", "x", 1, 10_000_000, "insert")],
        "repo string, path string, commit string, lang string, "
        "content string, size_bytes long, lsn long, op string")
    cdc_apply(grp.engines["a"].table, extra, grp.engines["a"].cfg, epoch=77)
    assert grp.engines["a"].table.read().count() == na + 1

    q = ("SELECT (SELECT count(*) FROM a) AS na, "
         "(SELECT count(*) FROM b) AS nb")
    pinned = grp.sql(q, catalog_root=cat).collect()[0]
    assert (pinned["na"], pinned["nb"]) == (na, nb)       # txn view
    head = grp.sql(q).collect()[0]
    assert (head["na"], head["nb"]) == (na + 1, nb)       # HEAD view
    # next group commit re-pins: the new row becomes consistently visible
    grp.apply_all_atomic(
        {"a": ba.limit(0), "b": bb.limit(0)}, epoch=1, catalog_root=cat)
    # empty batches skip (epoch guard) — pins unchanged is fine; just
    # assert the pinned read remains self-consistent
    pins = consistent_snapshots(cat)
    assert set(pins) == {"a", "b"}


LANG_SQL = """
SELECT repo, path, lsn, CAST(0 AS BIGINT) AS seq,
       concat(upper(coalesce(lang, '')), '!') AS Lang
FROM __source__
"""


@pytest.fixture(scope="module")
def sql_group(spark, tmp_path_factory):
    """Three small uncompacted tables for the group SQL tests: the
    source, its chunk table, and one row per live doc whose `Lang`
    differs from the source's `lang` only in case."""
    from data_migration_service_spark.operators.merge import cdc_apply
    from data_migration_service_spark.tables.derived import DerivedTable
    from tests.test_colocated import CHUNK_SQL

    tmp = tmp_path_factory.mktemp("group_sql")
    t = SnapshotTable.create(spark, str(tmp / "repos"), TABLE_SCHEMA,
                             ["repo", "path"], 4)
    cfg = EngineConfig(table_path=str(tmp / "repos"), n_buckets=4,
                       merge_mode="mor")
    cdc_apply(t, gen_changes(spark, 300, n_repos=4, n_paths_per_repo=10),
              cfg, epoch=0)
    cfgs = {"repos": cfg}
    for name, transform in (("chunks", CHUNK_SQL), ("langs", LANG_SQL)):
        DerivedTable.create(spark, str(tmp / name), t, transform).sync(t)
        cfgs[name] = EngineConfig(table_path=str(tmp / name),
                                  merge_mode="mor")
    return EngineGroup(spark, cfgs)


def test_group_sql_is_plain_spark_sql(spark, sql_group):
    """EngineGroup.sql is spark.sql over the group's views: the same
    column names (a collided `lsn` stays `lsn` on both sides) and the
    same rows, for every aligned value but "require", which refuses and
    names the explicit shuffle-free join."""
    queries = [
        "SELECT a.lsn, b.lsn FROM repos a JOIN chunks b "
        "ON a.repo = b.repo AND a.path = b.path",
        "SELECT repo, path, content, chunk_text "
        "FROM repos LEFT JOIN chunks USING (repo, path)",
        "SELECT a.repo, a.lang, b.Lang FROM repos a JOIN langs b "
        "ON a.repo = b.repo AND a.path = b.path",
        "SELECT a.repo, b.chunk_text FROM repos a RIGHT JOIN chunks b "
        "ON a.repo = b.repo AND a.path = b.path",
    ]
    for q in queries:
        got = [sql_group.sql(q), sql_group.sql(q, aligned="off")]
        try:
            for name, eng in sql_group.engines.items():
                eng.table.read().createOrReplaceTempView(name)
            want = spark.sql(q)
            rows = Counter(map(tuple, want.collect()))
        finally:
            for name in sql_group.engines:
                spark.catalog.dropTempView(name)
        assert rows, q
        for df in got:
            assert df.columns == want.columns, q
            assert Counter(map(tuple, df.collect())) == rows, q
    with pytest.raises(ValueError, match="colocated_join_many"):
        sql_group.sql(queries[0], aligned="require")
    with pytest.raises(ValueError, match="aligned must be"):
        sql_group.sql(queries[0], aligned="on")


def test_concurrent_naive_sql_keeps_its_views(spark, sql_group):
    """EngineGroup.sql registers views under the group's table names; two
    threads running different queries on one session must not drop or
    replace each other's views mid-query."""
    queries = [
        "SELECT count(*) AS n FROM repos",
        "SELECT lang, count(*) AS n FROM repos GROUP BY lang",
        "SELECT repo, count(*) AS n FROM chunks GROUP BY repo",
        "SELECT Lang, count(*) AS n FROM langs GROUP BY Lang",
        "SELECT a.repo, count(*) AS n FROM repos a JOIN chunks b "
        "ON a.repo = b.repo AND a.path = b.path GROUP BY a.repo",
        "SELECT b.Lang, max(a.lsn) AS hi FROM repos a JOIN langs b "
        "ON a.repo = b.repo AND a.path = b.path GROUP BY b.Lang",
    ]
    want = [Counter(map(tuple, sql_group.sql(q).collect()))
            for q in queries]
    errors: list[Exception] = []
    start = threading.Barrier(2)

    def worker(order: list[int]) -> None:
        try:
            start.wait(timeout=60)
            for i in order:
                got = sql_group.sql(queries[i]).collect()
                assert Counter(map(tuple, got)) == want[i], queries[i]
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(e)

    orders = [list(range(6)), list(range(5, -1, -1))]
    threads = [threading.Thread(target=worker, args=(o,)) for o in orders]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=600)
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors
    assert not {"repos", "chunks", "langs"} & {
        t.name for t in spark.catalog.listTables()}


def test_backfill_column_via_add_then_update(spark, tmp_path):
    """Composition: ALTER TABLE ADD COLUMN (metadata-only) + update_where
    backfill — the standard lake backfill recipe, exactly-once and
    changefeed-visible."""
    import pyspark.sql.types as T2

    eng = make_engine(spark, tmp_path)
    ch = gen_changes(spark, 600, n_repos=5, n_paths_per_repo=10).cache()
    ch.write.parquet(str(tmp_path / "events"))
    eng.replay(str(tmp_path / "events"), streaming=False)

    eng.table.add_column("content_len", T2.LongType())
    assert eng.table.read().where(F.col("content_len").isNotNull()).count() == 0
    rep = eng.update_where({"content_len": "length(content)"},
                           predicate=F.col("content").isNotNull())
    assert rep["applied"]
    bad = eng.table.read().where(
        F.col("content").isNotNull()
        & (F.col("content_len") != F.length("content"))).count()
    assert bad == 0
    assert eng.table.read().where(
        F.col("content").isNull() & F.col("content_len").isNotNull()
    ).count() == 0


def test_blame_row_provenance(spark, tmp_path):
    """Engine.blame: each key's current version maps to the epoch whose
    batch wrote it; out-of-replay writes (update_where) show an empty
    candidate list; the lookup stays bucket-pruned."""
    eng = make_engine(spark, tmp_path)
    ch = gen_changes(spark, 900, n_repos=6, n_paths_per_repo=10).cache()
    hi = ch.agg(F.max("lsn")).collect()[0][0]
    mid = hi // 2
    ch.where(F.col("lsn") <= mid).write.parquet(str(tmp_path / "e1"))
    ch.where(F.col("lsn") > mid).write.parquet(str(tmp_path / "e2"))
    eng.replay(str(tmp_path / "e1"), streaming=False)
    eng.replay(str(tmp_path / "e2"), streaming=False)

    state = eng.table.read().select("repo", "path", "lsn").collect()
    keys = spark.createDataFrame(
        [(r["repo"], r["path"]) for r in state], "repo string, path string")
    got = {(r["repo"], r["path"]): (r["lsn"], list(r["epochs"]))
           for r in eng.blame(keys).collect()}
    assert len(got) == len(state)
    for r in state:
        lsn, eps = got[(r["repo"], r["path"])]
        assert lsn == r["lsn"]
        want = 0 if r["lsn"] <= mid else 1
        assert want in eps, (r, eps)
    # in-order stream: intervals should rarely overlap — spot-check that
    # at least half the rows resolve to exactly one epoch
    assert sum(1 for _, e in got.values() if len(e) == 1) >= len(got) // 2

    # update_where writes outside the replay loop: empty provenance
    victim = state[0]
    k1 = spark.createDataFrame([(victim["repo"], victim["path"])],
                               "repo string, path string")
    eng.update_where({"lang": F.lit("qq")}, keys=k1)
    b = eng.blame(k1).collect()[0]
    assert list(b["epochs"]) == []


def test_blame_last_epochs_bound(spark, tmp_path):
    """The provenance horizon: last_epochs=1 loads only the newest lineage
    record — older rows lose attribution (empty list), recent rows keep it."""
    eng = make_engine(spark, tmp_path)
    ch = gen_changes(spark, 400, n_repos=4, n_paths_per_repo=8).cache()
    hi = ch.agg(F.max("lsn")).collect()[0][0]
    mid = hi // 2
    ch.where(F.col("lsn") <= mid).write.parquet(str(tmp_path / "e1"))
    ch.where(F.col("lsn") > mid).write.parquet(str(tmp_path / "e2"))
    eng.replay(str(tmp_path / "e1"), streaming=False)
    eng.replay(str(tmp_path / "e2"), streaming=False)
    assert len(eng._replayer.lineage(last=1)) == 1

    state = eng.table.read().select("repo", "path", "lsn").collect()
    keys = spark.createDataFrame([(r["repo"], r["path"]) for r in state],
                                 "repo string, path string")
    got = {(r["repo"], r["path"]): (r["lsn"], list(r["epochs"]))
           for r in eng.blame(keys, last_epochs=1).collect()}
    for r in state:
        lsn, eps = got[(r["repo"], r["path"])]
        if lsn > mid:
            assert 1 in eps
        else:
            assert eps == []


def test_blame_skips_lineage_from_old_bucket_layout(spark, tmp_path):
    """Regression (round-3 ADVICE, low): lineage bucket ids are relative to
    the layout at apply time; after rebucket() blame must SKIP (and warn
    about) those records instead of joining them against freshly-computed
    bucket ids and misattributing provenance."""
    import warnings as _w

    eng = make_engine(spark, tmp_path)
    ch = gen_changes(spark, 400, n_repos=4, n_paths_per_repo=8).cache()
    hi = ch.agg(F.max("lsn")).collect()[0][0]
    mid = hi // 2
    ch.where(F.col("lsn") <= mid).write.parquet(str(tmp_path / "e1"))
    eng.replay(str(tmp_path / "e1"), streaming=False)
    assert eng._replayer.lineage(last=1)[0]["n_buckets"] == 16

    eng.table.rebucket(32, salt_factor=1)
    state = eng.table.read().select("repo", "path").limit(5).collect()
    keys = spark.createDataFrame([(r["repo"], r["path"]) for r in state],
                                 "repo string, path string")
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        got = eng.blame(keys).collect()
    # pre-rebucket records are unattributable under the new layout
    assert all(list(r["epochs"]) == [] for r in got)
    assert any("rebucketed" in str(c.message) for c in caught)

    # post-rebucket epochs attribute normally again (new layout stamp)
    ch.where(F.col("lsn") > mid).write.parquet(str(tmp_path / "e2"))
    eng2 = Engine(spark, EngineConfig(
        table_path=str(tmp_path / "repos"), n_buckets=32,
        checkpoint_path=str(tmp_path / "ckpt"), merge_mode="mor"))
    eng2.replay(str(tmp_path / "e2"), streaming=False)
    fresh = eng2.table.read().where(F.col("lsn") > mid) \
        .select("repo", "path").limit(5).collect()
    k2 = spark.createDataFrame([(r["repo"], r["path"]) for r in fresh],
                               "repo string, path string")
    assert all(1 in list(r["epochs"]) for r in eng2.blame(k2).collect())
