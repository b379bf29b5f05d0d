"""Write-audit-publish: staged commits, gated visibility, discard.

Reference parity: the reference verifies AFTER migrating
(DataVerificationService.java:126-252) — a bad batch is visible until
cleanup. WAP is the lake-native upgrade: the epoch commits staged (HEAD
unflipped), the SAME verification runs against the staged snapshot, and
readers only ever see audited state. Iceberg analogue: branch commit +
audit + fast-forward, with the staged manifest as the branch.
"""

import pyspark.sql.types as T
import pytest
from pyspark.sql import functions as F

from data_migration_service_spark.api import Engine
from data_migration_service_spark.config import EngineConfig
from data_migration_service_spark.operators.merge import cdc_apply
from data_migration_service_spark.tables.lake import SnapshotTable
from data_migration_service_spark.tables.metastore import CommitConflict

SCHEMA = T.StructType([
    T.StructField("repo", T.StringType(), False),
    T.StructField("path", T.StringType(), False),
    T.StructField("content", T.StringType(), True),
    T.StructField("lsn", T.LongType(), False),
])


def _batch(spark, rows):
    return (spark.createDataFrame(rows, "repo string, path string, "
                                        "content string, lsn long, op string")
            .select("repo", "path", "content", "lsn", "op"))


def _mk(spark, tmp_path, mode="mor"):
    root = str(tmp_path / "t")
    t = SnapshotTable.create(spark, root, SCHEMA, ["repo", "path"], 4)
    cfg = EngineConfig(table_path=root, n_buckets=4, merge_mode=mode)
    return t, cfg


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_staged_commit_invisible_until_published(spark, tmp_path, mode):
    t, cfg = _mk(spark, tmp_path, mode)
    cdc_apply(t, _batch(spark, [("r", "a", "v1", 1, "insert"),
                                ("r", "b", "v1", 2, "insert")]), cfg, epoch=0)
    head0 = t.current().snapshot_id

    stats = cdc_apply(t, _batch(spark, [("r", "a", "v2", 3, "update"),
                                        ("r", "c", "v1", 4, "insert")]),
                      cfg, epoch=1, publish=False)
    # readers still see the pre-batch state; the staged id is tracked
    assert t.current().snapshot_id == head0
    assert {r["path"]: r["content"] for r in t.read().collect()} == \
        {"a": "v1", "b": "v1"}
    assert t.staged_snapshots() == [stats.snapshot_id]
    # ...but the staged snapshot itself is readable for the audit
    staged = t.load_snapshot(stats.snapshot_id)
    assert {r["path"]: r["content"]
            for r in t.read(snapshot=staged).collect()} == \
        {"a": "v2", "b": "v1", "c": "v1"}

    t.publish(stats.snapshot_id)
    assert t.current().snapshot_id == stats.snapshot_id
    assert t.staged_snapshots() == []
    assert {r["path"]: r["content"] for r in t.read().collect()} == \
        {"a": "v2", "b": "v1", "c": "v1"}
    # duplicate publish is a no-op, not an error (monotone HEAD)
    t.publish(stats.snapshot_id)


def test_staged_blocks_next_committer_until_discarded(spark, tmp_path):
    """A pending staged id holds the single-writer election: a concurrent
    commit conflicts; discarding frees the id, deletes the staged data
    dirs, and expire never touches a staged manifest."""
    t, cfg = _mk(spark, tmp_path)
    cdc_apply(t, _batch(spark, [("r", "a", "v1", 1, "insert")]), cfg, epoch=0)
    head0 = t.current().snapshot_id

    stats = cdc_apply(t, _batch(spark, [("r", "a", "bad", 2, "update")]),
                      cfg, epoch=1, publish=False)
    with pytest.raises(CommitConflict):
        cdc_apply(t, _batch(spark, [("r", "b", "v1", 3, "insert")]),
                  cfg, epoch=1)

    # expire keeps the staged manifest (it is a pending audit, not history)
    t.expire_snapshots(keep_last=1)
    assert stats.snapshot_id in t.snapshots()
    assert t.current().snapshot_id == head0

    staged = t.load_snapshot(stats.snapshot_id)
    staged_dirs = {d for ds in staged.deltas.values() for d in ds}
    assert t.discard_staged() == [stats.snapshot_id]
    assert t.staged_snapshots() == []
    import os
    for d in staged_dirs - {d for ds in t.current().deltas.values()
                            for d in ds}:
        assert not os.path.isdir(os.path.join(t._datadir, d))

    # the id sequence and the epoch are both free again
    s2 = cdc_apply(t, _batch(spark, [("r", "b", "v1", 3, "insert")]),
                   cfg, epoch=1)
    assert s2.snapshot_id == stats.snapshot_id
    assert {r["path"] for r in t.read().collect()} == {"a", "b"}


def test_apply_audited_publishes_good_discards_bad(spark, tmp_path):
    """Engine.apply_audited: failing gate -> HEAD unchanged and the staged
    manifest gone; the corrected batch re-applies under the SAME epoch and
    publishes."""
    t, cfg = _mk(spark, tmp_path)
    eng = Engine(spark, cfg)
    cdc_apply(t, _batch(spark, [("r", "a", "v1", 1, "insert"),
                                ("r", "b", "v1", 2, "insert")]), cfg, epoch=0)
    head0 = t.current().snapshot_id

    def no_null_content(df):  # live rows must carry content
        return df.where(F.col("content").isNull()).limit(1).count() == 0

    bad = _batch(spark, [("r", "a", None, 3, "update")])
    res = eng.apply_audited(bad, epoch=1, gate=no_null_content)
    assert res == {"epoch": 1, "published": False, "skipped": False,
                   "snapshot_id": None,
                   "audit": {"gate": "callable", "passed": False}}
    assert t.current().snapshot_id == head0
    assert t.staged_snapshots() == []
    assert {r["path"]: r["content"] for r in t.read().collect()} == \
        {"a": "v1", "b": "v1"}

    good = _batch(spark, [("r", "a", "v2", 3, "update")])
    res2 = eng.apply_audited(good, epoch=1, gate=no_null_content)
    assert res2["published"] and not res2["skipped"]
    assert {r["path"]: r["content"] for r in t.read().collect()} == \
        {"a": "v2", "b": "v1"}
    # exactly-once still holds across the audited path
    res3 = eng.apply_audited(good, epoch=1, gate=no_null_content)
    assert res3["skipped"]


def test_apply_audited_expected_state_gate(spark, tmp_path):
    """`expected=` runs the reference's sha256 verification as the audit:
    the epoch publishes only if the staged state matches expected."""
    t, cfg = _mk(spark, tmp_path)
    eng = Engine(spark, cfg)
    cdc_apply(t, _batch(spark, [("r", "a", "v1", 1, "insert")]), cfg, epoch=0)

    batch = _batch(spark, [("r", "b", "v1", 2, "insert")])
    right = spark.createDataFrame(
        [("r", "a", "v1", 1), ("r", "b", "v1", 2)], SCHEMA)
    wrong = spark.createDataFrame(
        [("r", "a", "DIFFERENT", 1), ("r", "b", "v1", 2)], SCHEMA)

    res = eng.apply_audited(batch, epoch=1, expected=wrong)
    assert not res["published"] and res["audit"]["n_mismatch"] == 1
    assert {r["path"] for r in t.read().collect()} == {"a"}

    res2 = eng.apply_audited(batch, epoch=1, expected=right)
    assert res2["published"] and res2["audit"]["n_mismatch"] == 0
    assert {r["path"] for r in t.read().collect()} == {"a", "b"}


def test_apply_audited_defers_compaction_until_published(spark, tmp_path):
    """Staged MOR applies never auto-compact (that would commit past an
    unpublished HEAD); the audited path compacts AFTER publishing."""
    t, cfg = _mk(spark, tmp_path)
    cfg = EngineConfig(table_path=cfg.table_path, n_buckets=4,
                       merge_mode="mor", compact_threshold=2)
    eng = Engine(spark, cfg)
    gate = lambda df: True  # noqa: E731
    for e in range(3):
        res = eng.apply_audited(
            _batch(spark, [("r", "a", f"v{e}", e + 1, "update" if e else
                            "insert")]), epoch=e, gate=gate)
        assert res["published"]
    # threshold 2 with 3 epochs on one key: compaction ran at least once,
    # and always as its own commit AFTER a published merge (never staged)
    ops = [t.load_snapshot(s).summary["operation"] for s in t.snapshots()]
    assert "compact" in ops
    assert max((len(ds) for ds in t.current().deltas.values()), default=0) < 2
    assert {r["content"] for r in t.read().collect()} == {"v2"}


def test_apply_audited_recovers_from_staged_orphan(spark, tmp_path):
    """A committer that died between stage and publish leaves a staged
    manifest holding the next snapshot id; the next audited apply discards
    the orphan (unpublished by definition) instead of wedging on
    CommitConflict."""
    t, cfg = _mk(spark, tmp_path)
    eng = Engine(spark, cfg)
    cdc_apply(t, _batch(spark, [("r", "a", "v1", 1, "insert")]), cfg, epoch=0)
    # simulate the crash: stage epoch 1, never publish/discard
    orphan = cdc_apply(t, _batch(spark, [("r", "a", "dead", 2, "update")]),
                       cfg, epoch=1, publish=False)
    assert t.staged_snapshots() == [orphan.snapshot_id]

    res = eng.apply_audited(_batch(spark, [("r", "a", "v2", 2, "update")]),
                            epoch=1, gate=lambda df: True)
    assert res["published"]
    assert t.staged_snapshots() == []
    assert {r["content"] for r in t.read().collect()} == {"v2"}


def test_maintenance_plan_never_flags_staged_as_expirable(spark, tmp_path):
    """The advisor mirrors expire_snapshots: a pending audit (staged
    manifest) is live, not history — never listed expirable, its data dirs
    never counted reclaimable."""
    from data_migration_service_spark.tables.maintenance import maintenance_plan

    t, cfg = _mk(spark, tmp_path)
    cdc_apply(t, _batch(spark, [("r", "a", "v1", 1, "insert")]), cfg, epoch=0)
    staged = cdc_apply(t, _batch(spark, [("r", "a", "v2", 2, "update")]),
                       cfg, epoch=1, publish=False)
    plan = maintenance_plan(t, keep_snapshots=1)
    assert staged.snapshot_id not in plan["expire"]["expirable_snapshots"]
    staged_dirs = {d for ds in t.load_snapshot(staged.snapshot_id)
                   .deltas.values() for d in ds}
    assert staged_dirs.isdisjoint(set(plan["expire"]["unreferenced_dirs"]))


def test_audited_replay_epoch_reports_like_unaudited(spark, tmp_path):
    """A MOR epoch that hits compact_threshold reports the same stats
    under ReplayEngine(audit_gate=) as without it: the compacted HEAD as
    snapshot id (in the lineage record too) and compacted_buckets."""
    from data_migration_service_spark.fixtures.cdc import gen_changes
    from data_migration_service_spark.streaming.replay import ReplayEngine
    from tests.test_merge import TABLE_SCHEMA

    ch = gen_changes(spark, 600, n_repos=4, n_paths_per_repo=8).cache()
    seen = {}
    for name, gate in (("plain", None), ("audited", lambda df: True)):
        root = str(tmp_path / name)
        t = SnapshotTable.create(spark, root, TABLE_SCHEMA, ["repo", "path"],
                                 4)
        cfg = EngineConfig(table_path=root, n_buckets=4, merge_mode="mor",
                           compact_threshold=2,
                           checkpoint_path=str(tmp_path / f"ckpt-{name}"))
        rep = ReplayEngine(spark, t, cfg, audit_gate=gate)
        stats = [rep.apply_batch(ch.where(F.col("lsn").between(lo, hi)), e)
                 for e, (lo, hi) in enumerate([(1, 300), (301, 600)])]
        head = t.current()
        assert head.summary["operation"] == "compact"
        assert stats[-1].snapshot_id == head.snapshot_id
        assert rep.lineage()[-1]["snapshot_id"] == head.snapshot_id
        assert stats[-1].extra.get("compacted_buckets", 0) > 0
        seen[name] = [
            (s.snapshot_id, s.affected_buckets, s.rows_in_batch,
             s.rows_after_dedup, s.rows_matched, s.rows_inserted,
             s.rows_deleted, s.extra.get("compacted_buckets"))
            for s in stats]
    assert seen["plain"] == seen["audited"]
