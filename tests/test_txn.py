"""Cross-table group commit (tables/txn.py): stage-per-table WAP + one
write-ahead intent = all-or-nothing multi-table visibility, crash recovery
completing partial publishes, and pinned cross-table-consistent reads."""

import pytest
from pyspark.sql import functions as F

from data_migration_service_spark.config import EngineConfig
from data_migration_service_spark.fixtures.cdc import gen_changes
from data_migration_service_spark.operators.merge import cdc_apply
from data_migration_service_spark.tables.lake import SnapshotTable
from data_migration_service_spark.tables.txn import (
    consistent_snapshots,
    group_commit,
    recover,
)
from tests.test_merge import TABLE_SCHEMA


def _mk(spark, tmp_path, name):
    root = str(tmp_path / name)
    cfg = EngineConfig(table_path=root, n_buckets=4)
    t = SnapshotTable.create(spark, root, TABLE_SCHEMA, ["repo", "path"], 4)
    return t, cfg


def _stage_epoch(spark, t, cfg, seed, epoch, lo, hi):
    ch = gen_changes(spark, hi, n_repos=5, n_paths_per_repo=10, seed=seed) \
        .where(F.col("lsn").between(lo, hi))
    st = cdc_apply(t, ch, cfg, epoch=epoch, publish=False)
    return st.snapshot_id


def test_group_commit_all_or_nothing(spark, tmp_path):
    ta, ca = _mk(spark, tmp_path, "a")
    tb, cb = _mk(spark, tmp_path, "b")
    cat = str(tmp_path / "catalog")

    sa = _stage_epoch(spark, ta, ca, 1, 0, 1, 400)
    sb = _stage_epoch(spark, tb, cb, 2, 0, 1, 300)
    # staged: neither table shows the transaction
    assert ta.read().count() == 0 and tb.read().count() == 0

    k = group_commit(cat, {"a": (ta, sa), "b": (tb, sb)})
    assert ta.read().count() > 0 and tb.read().count() > 0
    pins = consistent_snapshots(cat)
    assert pins == {"a": sa, "b": sb}
    # the pinned read is exactly the published state
    assert (ta.read(snapshot=ta.load_snapshot(pins["a"])).count()
            == ta.read().count())

    # a second transaction over only table a: b's pin carries forward
    sa2 = _stage_epoch(spark, ta, ca, 1, 1, 401, 800)
    k2 = group_commit(cat, {"a": (ta, sa2)})
    assert k2 == k + 1
    pins = consistent_snapshots(cat)
    assert pins == {"a": sa2, "b": sb}


def test_group_commit_crash_recovery(spark, tmp_path):
    """Crash between intent and the second publish: table a is visible,
    table b is not — recover() completes the group, and the consistent
    pins never exposed the torn state."""
    import json
    import os

    ta, ca = _mk(spark, tmp_path, "a")
    tb, cb = _mk(spark, tmp_path, "b")
    cat = str(tmp_path / "catalog")
    os.makedirs(cat)

    sa = _stage_epoch(spark, ta, ca, 1, 0, 1, 400)
    sb = _stage_epoch(spark, tb, cb, 2, 0, 1, 300)

    # simulate the crash: intent written, only table a published, no seal
    intent = {"txn": 0, "status": "pending",
              "pins": {"a": {"root": ta.root, "sid": sa},
                       "b": {"root": tb.root, "sid": sb}}}
    with open(os.path.join(cat, "txn-00000000.json"), "x") as f:
        json.dump(intent, f)
    ta.publish(sa)

    # torn at the HEAD level...
    assert ta.read().count() > 0 and tb.read().count() == 0
    # ...but the consistent view shows nothing until the txn seals
    assert consistent_snapshots(cat) == {}

    done = recover(cat, {"a": ta, "b": tb})
    assert done == [0]
    assert tb.read().count() > 0
    assert consistent_snapshots(cat) == {"a": sa, "b": sb}
    # recovery is idempotent
    assert recover(cat, {"a": ta, "b": tb}) == []


def test_group_commit_guards(spark, tmp_path):
    ta, ca = _mk(spark, tmp_path, "a")
    cat = str(tmp_path / "catalog")
    sa = _stage_epoch(spark, ta, ca, 1, 0, 1, 200)
    # a published (non-staged) id is refused
    ta.publish(sa)
    with pytest.raises(ValueError, match="not staged"):
        group_commit(cat, {"a": (ta, sa)})
    # recovery without a handle for a pinned table is loud
    import json
    import os
    os.makedirs(cat, exist_ok=True)
    with open(os.path.join(cat, "txn-00000007.json"), "x") as f:
        json.dump({"txn": 7, "status": "pending",
                   "pins": {"ghost": {"root": "/x", "sid": 1}}}, f)
    with pytest.raises(ValueError, match="ghost"):
        recover(cat, {"a": ta})


def test_engine_group_apply_all_atomic(spark, tmp_path):
    """The facade path: one source transaction fanned out to two tables —
    atomic publish, idempotent re-delivery, stage-failure rollback."""
    from data_migration_service_spark.api import Engine, EngineGroup
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
    rep = grp.apply_all_atomic({"a": ba, "b": bb}, epoch=0, catalog_root=cat)
    assert rep["txn"] == 0 and rep["skipped"] == []
    pins = consistent_snapshots(cat)
    assert set(pins) == {"a", "b"}
    na = grp.engines["a"].table.read().count()
    assert na > 0 and grp.engines["b"].table.read().count() > 0

    # re-delivery of the whole transaction: both halves skip, no new txn
    rep2 = grp.apply_all_atomic({"a": ba, "b": bb}, epoch=0,
                                catalog_root=cat)
    assert rep2["txn"] is None and sorted(rep2["skipped"]) == ["a", "b"]

    # stage failure on table b (broken batch: LSN column missing) rolls
    # back table a's staged half — nothing new becomes visible
    bad = bb.drop("lsn")
    with pytest.raises(Exception):
        grp.apply_all_atomic({"a": ba.where(F.col("lsn") > 300), "b": bad},
                             epoch=1, catalog_root=cat)
    assert grp.engines["a"].table.read().count() == na
    assert grp.engines["a"].table.staged_snapshots() == []
    assert consistent_snapshots(cat) == pins


def test_prune_txns_folds_and_preserves_pins(spark, tmp_path):
    """Catalog compaction: old sealed intents fold into the base pins file
    (consistent view identical before/after), pending intents block the
    fold, ids never reuse folded slots."""
    import json
    import os

    from data_migration_service_spark.tables.txn import prune_txns

    ta, ca = _mk(spark, tmp_path, "a")
    cat = str(tmp_path / "catalog")
    sids = []
    for e, (lo, hi) in enumerate([(1, 100), (101, 200), (201, 300),
                                  (301, 400), (401, 500)]):
        s = _stage_epoch(spark, ta, ca, 1, e, lo, hi)
        group_commit(cat, {"a": (ta, s)})
        sids.append(s)
    before = consistent_snapshots(cat)
    folded = prune_txns(cat, keep_last=2)
    assert folded == 3
    assert consistent_snapshots(cat) == before
    live = [f for f in os.listdir(cat) if f.startswith("txn-")]
    assert len(live) == 2

    # new ids clear the folded range
    s = _stage_epoch(spark, ta, ca, 1, 9, 501, 600)
    k = group_commit(cat, {"a": (ta, s)})
    assert k == 5
    assert consistent_snapshots(cat)["a"] == s

    # a pending intent blocks folding past it
    with open(os.path.join(cat, "txn-00000006.json"), "x") as f:
        json.dump({"txn": 6, "status": "pending",
                   "pins": {"a": {"root": ta.root, "sid": s}}}, f)
    s2 = _stage_epoch(spark, ta, ca, 1, 10, 601, 700)
    group_commit(cat, {"a": (ta, s2)})
    assert prune_txns(cat, keep_last=0) >= 1   # folds up TO the pending one
    rest = sorted(f for f in os.listdir(cat) if f.startswith("txn-"))
    assert rest[0] == "txn-00000006.json"      # pending survives


def test_apply_all_atomic_compacts_mor_tables(spark, tmp_path):
    """Atomic epochs stage with publish=False, so MOR compaction runs after
    the group commit: delta depth stays below compact_threshold, the state
    stays exact, and the transaction's pinned snapshots stay readable."""
    from data_migration_service_spark.api import EngineGroup
    from data_migration_service_spark.fixtures.cdc import expected_final_state
    from data_migration_service_spark.tables.txn import consistent_snapshots

    cfgs = {}
    for name in ("a", "b"):
        root = str(tmp_path / name)
        SnapshotTable.create(spark, root, TABLE_SCHEMA, ["repo", "path"], 4)
        cfgs[name] = EngineConfig(table_path=root, n_buckets=4,
                                  merge_mode="mor", compact_threshold=2)
    grp = EngineGroup(spark, cfgs)
    cat = str(tmp_path / "catalog")
    logs = {n: gen_changes(spark, 400, n_repos=4, n_paths_per_repo=8,
                           seed=s).cache() for n, s in (("a", 1), ("b", 2))}
    for e in range(4):
        lo, hi = 100 * e + 1, 100 * (e + 1)
        grp.apply_all_atomic(
            {n: c.where(F.col("lsn").between(lo, hi))
             for n, c in logs.items()}, epoch=e, catalog_root=cat)
    pins = consistent_snapshots(cat)
    for name, eng in grp.engines.items():
        head = eng.table.current()
        depth = max((len(ds) for ds in head.deltas.values()), default=0)
        assert depth < 2, (name, head.deltas)
        assert eng.verify(expected_final_state(logs[name])).consistent
        pinned = eng.table.read(snapshot=eng.table.load_snapshot(pins[name]))
        assert pinned.count() == eng.table.read().count()
