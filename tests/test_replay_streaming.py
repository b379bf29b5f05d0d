"""Streaming replay: checkpointed micro-batches, resume, mid-stream schema
evolution (added + renamed columns via registry name-lineage), lineage."""

import pyspark.sql.types as T
import pytest
from pyspark.sql import functions as F

from data_migration_service_spark.config import EngineConfig
from data_migration_service_spark.fixtures.cdc import (
    default_registry,
    expected_final_state,
    gen_changes,
    to_raw_events,
)
from data_migration_service_spark.functions.hashing import content_sha256
from data_migration_service_spark.registry import (
    SchemaRegistry,
    SchemaVersion,
    resolve_batch,
)
from data_migration_service_spark.streaming.replay import ReplayEngine
from data_migration_service_spark.tables.lake import SnapshotTable

V1_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
        T.StructField("lsn", T.LongType(), False),
    ]
)


def _setup(spark, tmp_path, n_events=2400, v2_at=801, v3_at=1601):
    ch = gen_changes(spark, n_events, n_repos=10, n_paths_per_repo=25,
                     schema_v2_at=v2_at, schema_v3_at=v3_at).cache()
    raw = to_raw_events(ch)
    reg = default_registry(v2_at, v3_at)
    t = SnapshotTable.create(spark, str(tmp_path / "repos"), V1_SCHEMA,
                             ["repo", "path"], 16)
    cfg = EngineConfig(table_path=str(tmp_path / "repos"), n_buckets=16,
                       checkpoint_path=str(tmp_path / "ckpt"))
    eng = ReplayEngine(spark, t, cfg, registry=reg)
    return ch, raw, reg, t, eng


def _assert_final(t, ch):
    got = t.read().select(
        "repo", "path", content_sha256("content").alias("h"),
        F.col("language"), F.col("size_bytes"), F.col("lsn"),
    )
    want = expected_final_state(ch).select(
        "repo", "path", content_sha256("content").alias("h"),
        F.col("lang").alias("language"), F.col("size_bytes"),
        F.col("last_lsn").alias("lsn"),
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_rename_chain():
    reg = default_registry(100, 200)
    assert reg.rename_chain(1, 3) == {"lang": "language"}
    assert reg.rename_chain(3, 3) == {}
    assert reg.current_name("lang", 1, 3) == "language"
    assert reg.current_name("content", 1, 3) == "content"


def test_resolve_batch_mixed_versions(spark, tmp_path):
    ch, raw, reg, t, eng = _setup(spark, tmp_path, n_events=600, v2_at=201, v3_at=401)
    norm = resolve_batch(raw, reg)
    assert "language" in norm.columns and "lang" not in norm.columns
    # language value survives the rename for ALL versions
    joined = norm.join(ch.select("lsn", F.col("lang").alias("want")), "lsn")
    assert joined.where(F.col("language") != F.col("want")).count() == 0
    # size_bytes NULL exactly for v1 events
    v1 = joined.where(F.col("schema_version") == 1)
    assert v1.where(F.col("size_bytes").isNotNull()).count() == 0


def test_resolve_batch_rename_add_and_type_change(spark):
    """v2 renames `name` -> `title` and adds `extra`; v3 widens `n` from
    int to long. Every version lands in v3's names and types, with a cast
    only where a version's type differs."""
    reg = SchemaRegistry([
        SchemaVersion(1, 0, [("name", "string"), ("n", "int")]),
        SchemaVersion(2, 2, [("title", "string"), ("n", "int"),
                             ("extra", "string")], {"name": "title"}),
        SchemaVersion(3, 3, [("title", "string"), ("n", "long"),
                             ("extra", "string")]),
    ])
    raw = spark.createDataFrame(
        [(1, 1, '{"name": "a", "n": 1}'),
         (2, 2, '{"title": "b", "n": 2, "extra": "x"}'),
         (3, 3, '{"title": "c", "n": 3000000000, "extra": "y"}')],
        "lsn long, schema_version int, payload string")
    norm = resolve_batch(raw, reg, envelope_cols=("lsn", "schema_version"))
    assert norm.dtypes == [("lsn", "bigint"), ("schema_version", "int"),
                           ("title", "string"), ("n", "bigint"),
                           ("extra", "string")]
    assert sorted(map(tuple, norm.collect())) == [
        (1, 1, "a", 1, None), (2, 2, "b", 2, "x"),
        (3, 3, "c", 3_000_000_000, "y")]


def test_batch_mode_replay_with_evolution(spark, tmp_path):
    ch, raw, reg, t, eng = _setup(spark, tmp_path)
    eng.replay_ranges(raw, [(1, 800), (801, 1600), (1601, 2400)])
    schema_names = t.current().schema().names
    assert "language" in schema_names and "lang" not in schema_names
    assert "size_bytes" in schema_names
    _assert_final(t, ch)
    lin = eng.lineage()
    assert [r["epoch"] for r in lin] == [0, 1, 2]
    assert all(r["rows_in_batch"] > 0 and r["partitions"] for r in lin)


def test_stream_replay_and_checkpoint_resume(spark, tmp_path):
    ch, raw, reg, t, eng = _setup(spark, tmp_path)
    src = str(tmp_path / "events_src")
    # phase 1: only the first two epoch files exist
    raw.where(F.col("lsn").between(1, 800)).coalesce(1).write.mode("append").parquet(src)
    raw.where(F.col("lsn").between(801, 1600)).coalesce(1).write.mode("append").parquet(src)
    eng.replay_stream(src, max_files_per_trigger=1)
    mid_rows = t.read().count()
    assert mid_rows > 0
    # phase 2: more of the WAL arrives; the SAME checkpoint resumes from
    # stored offsets — earlier files are not reprocessed
    raw.where(F.col("lsn").between(1601, 2400)).coalesce(1).write.mode("append").parquet(src)
    eng2 = ReplayEngine(spark, t, eng.cfg, registry=reg)
    eng2.replay_stream(src, max_files_per_trigger=1)
    _assert_final(t, ch)
    lin = eng2.lineage()
    assert len(lin) >= 3
    assert all(not r["skipped"] for r in lin)


def test_replay_after_checkpoint_loss_is_lww_absorbed(spark, tmp_path):
    """Checkpoint wiped (offsets lost) -> the source replays everything
    under a FRESH epoch base (epoch identity is per-checkpoint). The
    re-delivery degrades to at-least-once and last-writer-wins absorbs it:
    the final state is exactly unchanged, every re-applied row classifies
    as matched (zero inserts), and the new epochs don't collide with the
    applied ones — crucially, a fresh checkpoint can never silently skip
    genuinely new data (the bug the old raw-batch-id tagging had)."""
    ch, raw, reg, t, eng = _setup(spark, tmp_path, n_events=1000, v2_at=401, v3_at=701)
    src = str(tmp_path / "events_src")
    raw.coalesce(2).write.mode("append").parquet(src)
    eng.replay_stream(src)
    epoch_before = int(t.current().props["epoch"])
    # simulate losing the offsets but not the table: fresh checkpoint dir
    cfg2 = EngineConfig(table_path=eng.cfg.table_path, n_buckets=16,
                        checkpoint_path=str(tmp_path / "ckpt2"))
    eng2 = ReplayEngine(spark, t, cfg2, registry=reg)
    eng2.replay_stream(src)
    _assert_final(t, ch)
    lin2 = eng2.lineage()
    assert lin2 and all(not r["skipped"] for r in lin2)
    assert all(r["rows_inserted"] == 0 for r in lin2)
    assert int(t.current().props["epoch"]) > epoch_before


def test_fresh_checkpoint_on_bootstrapped_table_applies_new_data(spark, tmp_path):
    """Regression for the epoch-collision data-loss bug: a table whose
    epoch counter already advanced (here via bootstrap at epoch 0) must
    still apply batch 0 of a brand-new stream."""
    from data_migration_service_spark.operators.merge import bootstrap_load

    ch, raw, reg, t, eng = _setup(spark, tmp_path)
    from pyspark.sql import Window as PW

    # bootstrap inside the schema-v1 era (v2_at=801): the snapshot's shape
    # matches the table's creation schema; later columns arrive via the
    # stream's registry DDL
    mid = 800
    win = PW.partitionBy("repo", "path").orderBy(F.col("lsn").desc())
    snap_df = (ch.where(F.col("lsn") <= mid)
               .withColumn("_rn", F.row_number().over(win))
               .where((F.col("_rn") == 1) & (F.col("op") != "delete"))
               .drop("_rn", "op", "ts", "schema_version"))
    bootstrap_load(t, snap_df, eng.cfg, epoch=0)
    src = str(tmp_path / "events_src")
    raw.coalesce(2).write.mode("append").parquet(src)
    eng.replay_stream(src)  # whole log; watermark prunes the prefix
    _assert_final(t, ch)
    lin = eng.lineage()
    assert lin and all(not r["skipped"] for r in lin)
    assert all(r["epoch"] >= 1 for r in lin)


def test_stream_replay_debezium_source(spark, tmp_path):
    """Structured-Streaming tail of a Debezium JSON WAL dir: decoded
    JVM-side, applied in epoch-tagged micro-batches, resumable from the
    same checkpoint — the standard CDC wire format as a first-class
    streaming source (replay_stream(source_format='debezium'))."""
    import pyspark.sql.types as T
    from data_migration_service_spark.fixtures.cdc import (
        expected_final_state, gen_changes,
    )
    from data_migration_service_spark.sources.debezium import encode_debezium
    from data_migration_service_spark.tables.lake import SnapshotTable
    from tests.test_merge import TABLE_SCHEMA

    ch = gen_changes(spark, 1200, n_repos=6, n_paths_per_repo=12).cache()
    cols = [f.name for f in TABLE_SCHEMA.fields if f.name != "lsn"]
    wal = str(tmp_path / "wal")
    enc = encode_debezium(ch, cols)
    # two WAL segments (deterministic hash split) -> at least two
    # micro-batches via maxFilesPerTrigger
    half = F.pmod(F.crc32(F.col("value").cast("binary")), F.lit(2))
    enc.where(half == 0).coalesce(1).write.mode("append").text(wal)
    enc.where(half == 1).coalesce(1).write.mode("append").text(wal)

    t = SnapshotTable.create(spark, str(tmp_path / "t"), TABLE_SCHEMA,
                             ["repo", "path"], 8)
    cfg = EngineConfig(table_path=str(tmp_path / "t"), n_buckets=8,
                       checkpoint_path=str(tmp_path / "ckpt"))
    eng = ReplayEngine(spark, t, cfg)
    eng.replay_stream(wal, max_files_per_trigger=1, source_format="debezium")

    exp = expected_final_state(ch)
    got = t.read()
    k = ["repo", "path", "content"]
    assert exp.select(k).exceptAll(got.select(k)).count() == 0
    assert got.select(k).exceptAll(exp.select(k)).count() == 0
    assert len(eng.lineage()) >= 2


def test_payload_stream_without_registry_fails_loudly(spark, tmp_path):
    """A raw-payload source with no registry must raise, not NULL-fill.

    Regression: submit_replay without --registry used to write a table whose
    every value column was NULL (payload never decoded) while row counts and
    epochs looked healthy."""
    ch, raw, _reg, t, _eng = _setup(spark, tmp_path)
    cfg = EngineConfig(table_path=str(tmp_path / "repos"), n_buckets=16,
                       checkpoint_path=str(tmp_path / "ckpt2"))
    eng = ReplayEngine(spark, t, cfg, registry=None)
    with pytest.raises(ValueError, match="SchemaRegistry"):
        eng.apply_batch(raw.limit(100), epoch=0)


def test_widen_column_metadata_only_and_lossless(spark, tmp_path):
    """int→long widening is a metadata-only commit: files written under the
    narrow type stay on disk untouched and widen at scan time; post-widen
    appends carry the wide type; narrowing is refused."""
    from data_migration_service_spark.config import EngineConfig as EC
    from data_migration_service_spark.operators.merge import cdc_apply

    schema = T.StructType([
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("content", T.StringType(), True),
        T.StructField("size_bytes", T.IntegerType(), True),
        T.StructField("lsn", T.LongType(), False),
    ])
    root = str(tmp_path / "widen")
    t = SnapshotTable.create(spark, root, schema, ["repo", "path"], 4)
    cfg = EC(table_path=root, n_buckets=4)
    rows1 = [("r", f"p{i}", "c", 100 + i, i + 1) for i in range(6)]
    cdc_apply(t, spark.createDataFrame(rows1, schema)
              .withColumn("op", F.lit("insert")), cfg, epoch=0)
    n_dirs_before = len(set(t.current().buckets.values()))

    snap = t.widen_column("size_bytes", T.LongType())
    # subset compare: every commit also stamps committed_at
    assert {"operation": "widen_column", "column": "size_bytes",
            "from": "int", "to": "bigint"}.items() <= snap.summary.items()
    assert len(set(t.current().buckets.values())) == n_dirs_before  # no rewrite
    assert dict(t.read().dtypes)["size_bytes"] == "bigint"

    big = 2**40  # needs the wide type
    rows2 = [("r", "p0", "c2", big, 100)]
    wide = T.StructType([
        f if f.name != "size_bytes"
        else T.StructField("size_bytes", T.LongType(), True)
        for f in schema.fields
    ])
    cdc_apply(t, spark.createDataFrame(rows2, wide)
              .withColumn("op", F.lit("update")), cfg, epoch=1)
    got = {r["path"]: r["size_bytes"] for r in t.read().collect()}
    assert got["p0"] == big and got["p1"] == 101  # old narrow file still reads

    with pytest.raises(ValueError, match="lossy"):
        t.widen_column("size_bytes", T.IntegerType())
    with pytest.raises(ValueError, match="no such column"):
        t.widen_column("nope", T.LongType())
    assert t.widen_column("size_bytes", T.LongType()).snapshot_id \
        == t.current().snapshot_id  # no-op when already wide


def test_registry_version_widens_existing_column(spark, tmp_path):
    """A registry version that redeclares an existing column wider drives
    widen_column through apply_ddl_for_version (idempotently); one that
    narrows fails loudly instead of truncating at the sink."""
    from data_migration_service_spark.registry import (
        SchemaRegistry,
        SchemaVersion,
        apply_ddl_for_version,
    )

    schema = T.StructType([
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("size_bytes", T.IntegerType(), True),
        T.StructField("lsn", T.LongType(), False),
    ])
    reg = SchemaRegistry([
        SchemaVersion(1, 1, [("size_bytes", "int")]),
        SchemaVersion(2, 100, [("size_bytes", "long")]),
    ])
    t = SnapshotTable.create(spark, str(tmp_path / "t"), schema,
                             ["repo", "path"], 4)
    apply_ddl_for_version(t, reg, 2)
    assert t.current().schema()["size_bytes"].dataType == T.LongType()
    apply_ddl_for_version(t, reg, 2)  # idempotent re-run

    bad = SchemaRegistry([
        SchemaVersion(1, 1, [("size_bytes", "long")]),
        SchemaVersion(2, 100, [("size_bytes", "int")]),
    ])
    t2 = SnapshotTable.create(
        spark, str(tmp_path / "t2"),
        T.StructType([T.StructField("repo", T.StringType(), False),
                      T.StructField("path", T.StringType(), False),
                      T.StructField("size_bytes", T.LongType(), True),
                      T.StructField("lsn", T.LongType(), False)]),
        ["repo", "path"], 4)
    with pytest.raises(ValueError, match="lossy"):
        apply_ddl_for_version(t2, bad, 2)


def test_streaming_audit_gate_blocks_bad_batch_then_resumes(spark, tmp_path):
    """Write-audit-publish on the stream: a micro-batch whose staged state
    violates the gate is discarded (never visible), the stream stops with
    AuditFailed, and — because the epoch was never published — a restart
    from the same checkpoint reprocesses exactly that batch."""
    from data_migration_service_spark.streaming.replay import AuditFailed

    ch = gen_changes(spark, 1200, n_repos=8, n_paths_per_repo=20,
                     schema_v2_at=10**9, schema_v3_at=10**9).cache()
    # poison one surviving v1-schema row in the second half of the WAL
    poison_lsn = 1100
    ch = ch.withColumn(
        "content",
        F.when((F.col("lsn") == poison_lsn) & (F.col("op") != "delete"),
               F.lit("POISON")).otherwise(F.col("content")))
    raw = to_raw_events(ch)
    reg = default_registry(10**9, 10**9 + 1)
    t = SnapshotTable.create(spark, str(tmp_path / "repos"), V1_SCHEMA,
                             ["repo", "path"], 16)
    cfg = EngineConfig(table_path=str(tmp_path / "repos"), n_buckets=16,
                       checkpoint_path=str(tmp_path / "ckpt"))
    src = str(tmp_path / "events_src")
    raw.where(F.col("lsn") <= 600).coalesce(1) \
       .write.mode("append").parquet(src)
    raw.where(F.col("lsn") > 600).coalesce(1) \
       .write.mode("append").parquet(src)

    def gate(df):
        return df.where(F.col("content") == "POISON").limit(1).count() == 0

    eng = ReplayEngine(spark, t, cfg, registry=reg, audit_gate=gate)
    with pytest.raises(Exception, match="audit gate rejected"):
        eng.replay_stream(src, max_files_per_trigger=1)

    # only the audited prefix is visible; nothing staged left behind
    assert t.read().where(F.col("content") == "POISON").count() == 0
    assert t.staged_snapshots() == []
    head_after_fail = t.current().snapshot_id
    assert isinstance(AuditFailed("x"), RuntimeError)

    # restart with the poison row allowed (operator accepted the anomaly):
    # the SAME checkpoint replays the unpublished batch — no data lost
    eng2 = ReplayEngine(spark, t, cfg, registry=reg)
    eng2.replay_stream(src, max_files_per_trigger=1)
    assert t.current().snapshot_id > head_after_fail
    got = t.read().select(
        "repo", "path", content_sha256("content").alias("h"), F.col("lsn"))
    want = expected_final_state(ch).select(
        "repo", "path", content_sha256("content").alias("h"),
        F.col("last_lsn").alias("lsn"))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert t.read().where(F.col("content") == "POISON").count() == 1


def test_stream_replay_with_ingest_transform(spark, tmp_path):
    """The ItemProcessor analogue (ReplayEngine transform=): an ingest-time
    DataFrame transform runs on every micro-batch post-decode, pre-merge —
    the final state is the LWW replay of the TRANSFORMED log, under the
    same checkpoints and exactly-once epochs as an untransformed run."""
    ch, raw, reg, t, eng = _setup(spark, tmp_path, n_events=600,
                                  v2_at=201, v3_at=401)
    src = str(tmp_path / "events_src")
    raw.coalesce(2).write.mode("append").parquet(src)

    def upper_content(df):
        return df.withColumn("content", F.upper("content"))

    eng2 = ReplayEngine(spark, t, eng.cfg, registry=reg,
                        transform=upper_content)
    eng2.replay_stream(src, max_files_per_trigger=1)
    got = t.read().select("repo", "path",
                          content_sha256("content").alias("h"))
    want = expected_final_state(ch).select(
        "repo", "path",
        content_sha256(F.upper("content")).alias("h"))
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0


def test_ingest_transform_dropping_required_column_fails_loudly(spark, tmp_path):
    ch, raw, reg, t, eng = _setup(spark, tmp_path, n_events=200,
                                  v2_at=100, v3_at=150)
    src = str(tmp_path / "events_src")
    raw.coalesce(1).write.mode("append").parquet(src)
    eng2 = ReplayEngine(spark, t, eng.cfg, registry=reg,
                        transform=lambda df: df.drop("lsn"))
    with pytest.raises(Exception) as ei:
        eng2.replay_stream(src)
    assert "transform dropped required column" in str(ei.value)


def test_stream_replay_dedup_within_watermark(spark, tmp_path):
    """At-least-once transport re-delivery: the SAME event files land twice
    in the source dir. With dedup_within set, the in-stream
    dropDuplicatesWithinWatermark suppresses the second copies BEFORE the
    apply path — lineage shows the duplicate batches contributing zero
    rows — and the final state is exact (it would be exact without dedup
    too, via LWW; the point is the duplicates never cost an apply)."""
    ch, raw, reg, t, eng = _setup(spark, tmp_path, n_events=1200,
                                  v2_at=401, v3_at=801)
    src = str(tmp_path / "events_src")
    raw.coalesce(1).write.mode("append").parquet(src)   # original delivery
    raw.coalesce(1).write.mode("append").parquet(src)   # duplicate delivery
    eng.replay_stream(src, max_files_per_trigger=1, dedup_within="2 hours")
    _assert_final(t, ch)
    lin = eng.lineage()
    n_events = raw.count()
    assert sum(r["rows_in_batch"] for r in lin) == n_events
    # at least one micro-batch was fully suppressed duplicates
    assert any(r["rows_in_batch"] == 0 for r in lin)


def test_streaming_dedup_events_unit(spark, tmp_path):
    from data_migration_service_spark.streaming.dedup import (
        dedup_events,
        streaming_dedup_events,
    )

    # batch twin: exact duplicate removal
    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b")], "lsn long, v string")
    assert dedup_events(df, ["lsn"]).count() == 2
    # streaming plan carries BOTH the watermark and the bounded-state dedup
    src = tmp_path / "empty_src"
    src.mkdir()
    stream = spark.readStream.schema("lsn long, ts timestamp, v string") \
        .parquet(str(src))
    plan = streaming_dedup_events(stream, ["lsn"], "ts", "5 minutes") \
        ._jdf.queryExecution().analyzed().toString()
    assert "EventTimeWatermark" in plan
    assert "DeduplicateWithinWatermark" in plan


def test_stream_replay_with_continuous_view_refresh(spark, tmp_path):
    """views=[...] on ReplayEngine: every published epoch is followed by a
    materialized-view refresh, so the rollup trails the table by at most
    one epoch and equals a from-scratch GROUP BY at the end — the
    continuously-maintained-dashboard composition."""
    from data_migration_service_spark.tables.matview import (
        MaterializedAggregate,
    )

    ch, raw, reg, t, eng = _setup(spark, tmp_path)
    mv = MaterializedAggregate.create(
        spark, str(tmp_path / "mv"), t, ["repo"],
        {"n": "1", "chars": "coalesce(length(content), 0)"},
        count_measure="n")
    assert mv.read().count() == 0  # table still empty

    eng2 = ReplayEngine(spark, t, eng.cfg, registry=reg, views=[mv])
    src = str(tmp_path / "events_src")
    raw.where(F.col("lsn") <= 1200).coalesce(1).write.mode("append").parquet(src)
    raw.where(F.col("lsn") > 1200).coalesce(1).write.mode("append").parquet(src)
    eng2.replay_stream(src, max_files_per_trigger=1)

    # refreshed in-stream: the view reflects HEAD without any manual call
    assert mv.state["snapshot_id"] == t.current().snapshot_id
    got = {r["repo"]: (r["n"], r["chars"]) for r in mv.read().collect()}
    want = {
        r["repo"]: (r["n"], r["chars"])
        for r in t.read().groupBy("repo").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("coalesce(length(content), 0)")).alias("chars"),
        ).collect()
    }
    assert got == want and len(got) > 0
