"""Delta-dir statistics sidecar + Bloom file skipping.

Between compactions a bucket accumulates delta dirs; a point lookup that
pruned to one bucket still opens every one of them. The `_stats.json`
sidecar (written per MOR apply) records per-(dir, bucket) row counts, LSN
range, and a key-hash Bloom, letting the driver drop dirs that provably
cannot contain a probed key or LSN interval — the Iceberg puffin-file
pattern, with the manifest staying O(n_buckets).

Correctness bar: Bloom skipping has no false negatives — a pruned read
returns EXACTLY the same rows for the probed keys, asserted here against
the unpruned read across every key the table holds."""

import os

import pyspark.sql.types as T
from pyspark.sql import functions as F

from data_migration_service_spark.config import EngineConfig
from data_migration_service_spark.api import Engine
from data_migration_service_spark.operators import merge
from data_migration_service_spark.operators.merge import (
    cdc_apply,
    probe_key_hashes,
)
from data_migration_service_spark.tables.lake import SnapshotTable

SCHEMA = T.StructType([
    T.StructField("repo", T.StringType(), False),
    T.StructField("path", T.StringType(), False),
    T.StructField("content", T.StringType(), True),
    T.StructField("lsn", T.LongType(), False),
])

EVENTS = "repo string, path string, content string, lsn long, op string"


def make(spark, tmp_path, n_buckets=4, **kw):
    root = str(tmp_path / "t")
    t = SnapshotTable.create(spark, root, SCHEMA, ["repo", "path"], n_buckets)
    kw.setdefault("merge_mode", "mor")
    kw.setdefault("compact_threshold", 100)  # never compact: deltas pile up
    kw.setdefault("n_buckets", n_buckets)
    kw.setdefault("salt_factor", 1)
    cfg = EngineConfig(table_path=root, **kw)
    return t, cfg


def apply_epochs(spark, t, cfg, n_epochs=5, keys_per_epoch=6):
    """Each epoch inserts its own disjoint key set -> n_epochs delta dirs,
    each holding only its epoch's keys."""
    for e in range(n_epochs):
        rows = [(f"r{e}", f"f{i}", f"c{e}-{i}", e * 100 + i, "insert")
                for i in range(keys_per_epoch)]
        cdc_apply(t, spark.createDataFrame(rows, EVENTS), cfg, epoch=e)


def delta_dirs(snap):
    return sorted({d for ds in snap.deltas.values() for d in ds})


def test_sidecar_written_per_delta_dir(spark, tmp_path):
    t, cfg = make(spark, tmp_path)
    apply_epochs(spark, t, cfg, n_epochs=3)
    snap = t.current()
    dirs = delta_dirs(snap)
    assert len(dirs) == 3
    for d in dirs:
        st = t.load_dir_stats(d)
        assert st is not None and st["bloom_bits"] == cfg.bloom_bits
        for b, bs in st["buckets"].items():
            assert bs["rows"] >= 1
            assert bs["lsn_min"] <= bs["lsn_max"]
            assert len(bs["bloom"]) == cfg.bloom_bits // 64
            assert any(int(w, 16) for w in bs["bloom"])  # bits actually set


def test_lookup_prunes_delta_dirs_and_stays_exact(spark, tmp_path):
    t, cfg = make(spark, tmp_path, n_buckets=2)
    apply_epochs(spark, t, cfg, n_epochs=6, keys_per_epoch=5)
    eng = Engine(spark, cfg)

    keys = spark.createDataFrame([("r3", "f2")], "repo string, path string")
    got = eng.lookup(keys)
    assert [(r["repo"], r["path"], r["content"]) for r in got.collect()] \
        == [("r3", "f2", "c3-2")]
    # the planned scan must touch strictly fewer files than the full read
    full_files = set(t.read().inputFiles())
    pruned_files = set(got.inputFiles())
    assert pruned_files < full_files
    # and specifically exclude every delta dir of other epochs' keys
    # (2-probe Bloom at 4096 bits over 5 keys: fp ~ 1e-5; a collision here
    # would mean the filter is broken, not unlucky)
    hit_dirs = {p.split("/data/")[1].split("/")[0] for p in pruned_files}
    assert sum(d.startswith("delta-") for d in hit_dirs) == 1


def test_pruned_lookup_never_loses_a_key(spark, tmp_path):
    """No-false-negative sweep: look up EVERY key the table holds through
    the pruned path and compare against the unpruned read."""
    t, cfg = make(spark, tmp_path, n_buckets=4)
    apply_epochs(spark, t, cfg, n_epochs=5, keys_per_epoch=8)
    # updates + a delete in later epochs, crossing earlier keys' dirs
    cdc_apply(t, spark.createDataFrame(
        [("r0", "f0", "upd", 900, "update"), ("r1", "f1", None, 901, "delete")],
        EVENTS), cfg, epoch=5)
    eng = Engine(spark, cfg)
    full = t.read().select("repo", "path", "content", "lsn")
    looked = eng.lookup(full.select("repo", "path")) \
        .select("repo", "path", "content", "lsn")
    assert looked.exceptAll(full).count() == 0
    assert full.exceptAll(looked).count() == 0
    assert eng.lookup(spark.createDataFrame(
        [("r1", "f1")], "repo string, path string")).count() == 0  # deleted


def test_missing_sidecar_disables_skipping_not_correctness(spark, tmp_path):
    t, cfg = make(spark, tmp_path, n_buckets=2)
    apply_epochs(spark, t, cfg, n_epochs=3)
    snap = t.current()
    legacy = delta_dirs(snap)[0]
    os.remove(os.path.join(t._datadir, legacy, "_stats.json"))
    hits, _, hashes = probe_key_hashes(
        spark.createDataFrame([("r2", "f0")], "repo string, path string"),
        ["repo", "path"], snap.n_buckets)
    pruned = t.prune_deltas(snap, hits, key_hashes=hashes)
    kept = delta_dirs(pruned)
    assert legacy in kept  # statless dir: never skipped
    eng = Engine(spark, cfg)
    assert eng.lookup(spark.createDataFrame(
        [("r2", "f0")], "repo string, path string")).count() == 1


def test_lsn_range_pruning(spark, tmp_path):
    t, cfg = make(spark, tmp_path, n_buckets=2)
    apply_epochs(spark, t, cfg, n_epochs=4, keys_per_epoch=4)  # lsn e*100+i
    snap = t.current()
    all_buckets = sorted(snap.deltas)
    # only epoch >=2 dirs can hold lsn >= 200
    pruned = t.prune_deltas(snap, all_buckets, lsn_min=200)
    assert len(delta_dirs(pruned)) == 2
    # interval [150, 250] intersects epochs 2 only... epoch lsns are
    # [e*100, e*100+3]; [150,250] intersects epoch 2 alone
    pruned = t.prune_deltas(snap, all_buckets, lsn_min=150, lsn_max=250)
    assert len(delta_dirs(pruned)) == 1
    # out-of-range interval prunes everything
    pruned = t.prune_deltas(snap, all_buckets, lsn_min=10_000)
    assert delta_dirs(pruned) == []


def test_bloom_disabled_writes_no_sidecar(spark, tmp_path):
    t, cfg = make(spark, tmp_path, bloom_bits=0)
    apply_epochs(spark, t, cfg, n_epochs=2)
    for d in delta_dirs(t.current()):
        assert t.load_dir_stats(d) is None
    eng = Engine(spark, cfg)
    assert eng.lookup(spark.createDataFrame(
        [("r1", "f1")], "repo string, path string")).count() == 1


def test_probe_cap_skips_hash_collect(spark, tmp_path):
    kdf = spark.range(50).select(
        F.concat(F.lit("r"), F.col("id")).alias("repo"),
        F.lit("f").alias("path"))
    hits, n, hashes = probe_key_hashes(kdf, ["repo", "path"], 8, cap=10)
    assert n == 50 and hashes is None and hits


KEYS = "repo string, path string"


def overwrite_epoch(spark, t, cfg):
    """Epoch 5 rewrites and deletes keys of earlier delta dirs."""
    cdc_apply(t, spark.createDataFrame(
        [("r0", "f0", "upd", 900, "update"), ("r1", "f1", None, 901, "delete")],
        EVENTS), cfg, epoch=5)


def test_lookup_runs_the_key_plan_once(spark, tmp_path):
    """The probe, the Bloom hashes and the semi-join all come from ONE
    execution of the caller's key plan (an RDD-backed frame, re-run by
    every action on it)."""
    t, cfg = make(spark, tmp_path, n_buckets=4)
    apply_epochs(spark, t, cfg, n_epochs=3, keys_per_epoch=4)
    keys = [("r0", "f1"), ("r2", "f3"), ("r9", "f9")]
    seen = spark.sparkContext.accumulator(0)

    def counted(row):
        seen.add(1)
        return row

    kdf = spark.createDataFrame(
        spark.sparkContext.parallelize(keys, 2).map(counted), KEYS)
    rows = Engine(spark, cfg).lookup(kdf).collect()
    assert sorted((r["repo"], r["path"]) for r in rows) == keys[:2]
    assert seen.value == len(keys)


def test_lookup_semi_join_sits_below_the_mor_reduce(spark, tmp_path):
    t, cfg = make(spark, tmp_path, n_buckets=2)
    apply_epochs(spark, t, cfg, n_epochs=3, keys_per_epoch=4)
    overwrite_epoch(spark, t, cfg)
    df = Engine(spark, cfg).lookup(
        spark.createDataFrame([("r0", "f0"), ("r2", "f1")], KEYS))
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
    agg = min(i for i, line in enumerate(lines) if "max_by" in line)
    semi = [i for i, line in enumerate(lines) if "LeftSemi" in line]
    assert semi and min(semi) > agg  # every semi-join under the reduce
    assert sorted((r["repo"], r["content"]) for r in df.collect()) == [
        ("r0", "upd"), ("r2", "c2-1")]


def test_keyed_lookup_exact_past_cap_dups_absent_and_time_travel(
        spark, tmp_path, monkeypatch):
    t, cfg = make(spark, tmp_path, n_buckets=4)
    apply_epochs(spark, t, cfg, n_epochs=3, keys_per_epoch=4)
    before = t.current().snapshot_id
    overwrite_epoch(spark, t, cfg)
    eng = Engine(spark, cfg)
    keys = [("r0", "f0"), ("r0", "f0"), ("r1", "f1"), ("r1", "f2"),
            ("r2", "f3"), ("r2", "f3"), ("nope", "f0")]
    kdf = spark.createDataFrame(keys, KEYS)
    cols = ["repo", "path", "content", "lsn"]

    def expected(snapshot=None):
        snap = t.load_snapshot(snapshot) if snapshot else None
        return sorted(tuple(r) for r in t.read(snapshot=snap).join(
            kdf.distinct(), ["repo", "path"], "left_semi")
            .select(*cols).collect())

    def looked(snapshot=None):
        return sorted(tuple(r) for r in eng.lookup(kdf, snapshot=snapshot)
                      .select(*cols).collect())

    want_now, want_then = expected(), expected(before)
    assert want_now != want_then  # the overwrite epoch moved r0/f0, r1/f1
    assert looked() == want_now and looked(before) == want_then
    monkeypatch.setattr(merge, "PROBE_KEY_CAP", 2)  # distributed path
    assert merge.probe(kdf, t.current()).hashes is None
    assert looked() == want_now and looked(before) == want_then
