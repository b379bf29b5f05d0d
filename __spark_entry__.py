"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship end-to-end CDC replay on sf0.001.
`queries()` exposes every implemented operator from SURVEY.md §2 plus the
training-data pipeline family; `oracle_sql()` holds the DuckDB twin of each
(omitted only for genuinely non-SQL-expressible ops — those get the driver's
rows-only check).

Column aliases match 1:1 between Spark and SQL (driver hashes values after
sorting columns by name). All float outputs are rounded on BOTH sides.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

from data_migration_service_spark.config import EngineConfig
from data_migration_service_spark.functions.hashing import (
    NULL_SENTINEL,
    row_sha256,
    row_sha256_sql,
)
from data_migration_service_spark.operators import dedup as D
from data_migration_service_spark.operators import profile as P
from data_migration_service_spark.operators import corpus as C
from data_migration_service_spark.operators import sampling as MX
from data_migration_service_spark.operators import similarity as S
from data_migration_service_spark.operators import text as X
from data_migration_service_spark.operators import verify as V
from data_migration_service_spark.operators.merge import cdc_apply
from data_migration_service_spark.operators.multimodal import (
    extract_features,
    gen_media_fixture,
)
from data_migration_service_spark.tables.lake import SnapshotTable


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# derived CDC log over the driver's `events` table — identical semantics in
# Spark and ANSI SQL, so the full engine replay is oracle-checkable
# ---------------------------------------------------------------------------

def _derived_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    df = ev.select(
        F.col("event_id").alias("lsn"),
        F.concat(F.lit("repo_"), F.pmod("user_id", F.lit(20)).cast("string")).alias("repo"),
        F.concat(F.lit("f"), F.pmod("event_id", F.lit(997)).cast("string"), F.lit(".py")).alias("path"),
        F.concat_ws("|", F.col("event_type"), F.col("props"),
                    F.round("value", 2).cast("string")).alias("content"),
    )
    w = W.partitionBy("repo", "path").orderBy("lsn")
    df = df.withColumn("_rn", F.row_number().over(w))
    return df.withColumn(
        "op",
        F.when(F.col("_rn") == 1, F.lit("insert"))
        .when(F.pmod("lsn", F.lit(10)) == 0, F.lit("delete"))
        .otherwise(F.lit("update")),
    ).withColumn(
        "content",
        F.when(F.col("op") == "delete", F.lit(None).cast("string")).otherwise(F.col("content")),
    ).drop("_rn")


_DERIVED_CHANGES_SQL = """
WITH base AS (
  SELECT event_id AS lsn,
         'repo_' || CAST(user_id % 20 AS VARCHAR) AS repo,
         'f' || CAST(event_id % 997 AS VARCHAR) || '.py' AS path,
         event_type || '|' || props || '|' || CAST(round(value, 2) AS VARCHAR) AS content0,
         row_number() OVER (PARTITION BY user_id % 20, event_id % 997 ORDER BY event_id) AS rn
  FROM events
), log AS (
  SELECT lsn, repo, path,
         CASE WHEN rn = 1 THEN 'insert'
              WHEN lsn % 10 = 0 THEN 'delete' ELSE 'update' END AS op,
         CASE WHEN rn <> 1 AND lsn % 10 = 0 THEN NULL ELSE content0 END AS content
  FROM base
)
"""


def _replay_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: real engine replay (SnapshotTable + epoch-tagged merges) of
    the derived log in 4 epochs; returns the materialized final state."""
    ch = _derived_changes(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("repo", T.StringType(), False),
            T.StructField("path", T.StringType(), False),
            T.StructField("content", T.StringType(), True),
            T.StructField("lsn", T.LongType(), False),
        ]
    )
    root = tempfile.mkdtemp(prefix="dms_entry_")
    t = SnapshotTable.create(spark, os.path.join(root, "repos"), schema,
                             ["repo", "path"], 32)
    # merge-on-read with a mid-replay auto-compaction: the driver's
    # correctness gate exercises the full delta-append + fold path
    cfg = EngineConfig(table_path=os.path.join(root, "repos"), n_buckets=32,
                       salt_factor=2, merge_mode="mor", compact_threshold=3)
    hi = ch.agg(F.max("lsn")).collect()[0][0] or 0
    step = max(hi // 4, 1)
    bounds = [(i * step + (0 if i == 0 else 1), (i + 1) * step if i < 3 else hi)
              for i in range(4)]
    for e, (lo, b) in enumerate(bounds):
        cdc_apply(t, ch.where(F.col("lsn").between(lo, b)), cfg, epoch=e)
    out = t.read().select(
        "repo", "path", F.sha2("content", 256).alias("content_sha256"),
        F.col("lsn").alias("last_lsn"),
    )
    return out


_REPLAY_FINAL_STATE_SQL = _DERIVED_CHANGES_SQL + """
, last AS (
  SELECT repo, path, content, lsn, op,
         row_number() OVER (PARTITION BY repo, path ORDER BY lsn DESC) AS rn
  FROM log
)
SELECT repo, path, sha256(content) AS content_sha256, lsn AS last_lsn
FROM last WHERE rn = 1 AND op <> 'delete'
"""


def q_repair_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy repair (Engine.repair, api.py): replay only the first
    60% of the derived log — a stale replica missing later inserts/updates
    AND still holding keys the full log later deleted — then repair against
    the full-log expected state. The diff's MISMATCH/MISSING_IN_TARGET keys
    come back as upserts, MISSING_IN_SOURCE keys as tombstones, all at one
    LSN past the high-watermark, applied through the standard CDC merge
    (bucket-pruned, epoch-guarded). Final state must equal the complete LWW
    replay; the oracle is the same fold DuckDB runs for
    cdc_replay_final_state (minus last_lsn — repaired rows carry the
    synthetic repair LSN by design)."""
    from data_migration_service_spark.api import Engine

    ch = _derived_changes(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("repo", T.StringType(), False),
            T.StructField("path", T.StringType(), False),
            T.StructField("content", T.StringType(), True),
            T.StructField("lsn", T.LongType(), False),
        ]
    )
    root = tempfile.mkdtemp(prefix="dms_repair_")
    path = os.path.join(root, "repos")
    t = SnapshotTable.create(spark, path, schema, ["repo", "path"], 16)
    cfg = EngineConfig(table_path=path, n_buckets=16, salt_factor=2)
    hi = ch.agg(F.max("lsn")).collect()[0][0] or 0
    cdc_apply(t, ch.where(F.col("lsn") <= max(hi * 3 // 5, 1)), cfg, epoch=0)
    w = W.partitionBy("repo", "path").orderBy(F.col("lsn").desc())
    exp = (
        ch.withColumn("_rn", F.row_number().over(w))
        .where((F.col("_rn") == 1) & (F.col("op") != "delete"))
        .select("repo", "path", "content")
    )
    Engine(spark, cfg).repair(exp, verify_after=False)
    return t.read().select(
        "repo", "path", F.sha2("content", 256).alias("content_sha256"))


_REPAIR_CONVERGENCE_SQL = _DERIVED_CHANGES_SQL + """
, last AS (
  SELECT repo, path, content, op,
         row_number() OVER (PARTITION BY repo, path ORDER BY lsn DESC) AS rn
  FROM log
)
SELECT repo, path, sha256(content) AS content_sha256
FROM last WHERE rn = 1 AND op <> 'delete'
"""


def _index_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secondary-index maintenance end-to-end (tables/index.py): build the
    table in two epochs, sync the content->key inverted index after EACH
    (first sync bootstraps, second exercises the changefeed-driven
    incremental path with retractions of replaced/deleted values), then
    return the ENTIRE index state. The oracle is the LWW final state's
    live (key, value) set — full-state equality is the strongest check an
    index can pass."""
    from data_migration_service_spark.tables.index import SecondaryIndex

    ch = _derived_changes(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("repo", T.StringType(), False),
            T.StructField("path", T.StringType(), False),
            T.StructField("content", T.StringType(), True),
            T.StructField("lsn", T.LongType(), False),
        ]
    )
    root = tempfile.mkdtemp(prefix="dms_idx_")
    t = SnapshotTable.create(spark, os.path.join(root, "repos"), schema,
                             ["repo", "path"], 16)
    cfg = EngineConfig(table_path=os.path.join(root, "repos"), n_buckets=16,
                       salt_factor=1, merge_mode="mor")
    idx = SecondaryIndex.create(spark, os.path.join(root, "ix"), t,
                                "content", n_buckets=16)
    mid = (ch.agg(F.max("lsn")).collect()[0][0] or 0) // 2
    cdc_apply(t, ch.where(F.col("lsn") <= mid), cfg, epoch=0)
    idx.sync(t)
    cdc_apply(t, ch.where(F.col("lsn") > mid), cfg, epoch=1)
    idx.sync(t)
    return idx.table.read().select(
        "repo", "path", F.sha2("content", 256).alias("value_sha256"))


_INDEX_STATE_SQL = _DERIVED_CHANGES_SQL + """
, last AS (
  SELECT repo, path, content, op,
         row_number() OVER (PARTITION BY repo, path ORDER BY lsn DESC) AS rn
  FROM log
)
SELECT repo, path, sha256(content) AS value_sha256
FROM last WHERE rn = 1 AND op <> 'delete' AND content IS NOT NULL
"""


# DerivedTable flagship transform: fixed-width char chunking (the RAG chunk
# index). Row-local 1->N, seq = chunk ordinal, source LSN passed through.
_CHUNK_TRANSFORM_SQL = """
SELECT repo, path, lsn, CAST(chunk_id AS BIGINT) AS seq,
       substring(content, chunk_id * 8 + 1, 8) AS chunk_text
FROM (SELECT * FROM __source__
      WHERE content IS NOT NULL AND length(content) > 0)
LATERAL VIEW explode(
    sequence(0, CAST(floor((length(content) - 1) / 8) AS INT))
) t AS chunk_id
"""


def _derived_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained derived table end-to-end
    (tables/derived.py): build the source in two epochs, sync the chunk
    table after EACH (first sync bootstraps; second exercises the
    changefeed path — before-image-derived retractions of shrunk/deleted
    docs' tail chunks included), then return the ENTIRE derived state.
    Oracle: the chunk transform recomputed over the LWW final state —
    full-state equality, the same strongest-form check as `index_state`."""
    from data_migration_service_spark.tables.derived import DerivedTable

    ch = _derived_changes(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("repo", T.StringType(), False),
            T.StructField("path", T.StringType(), False),
            T.StructField("content", T.StringType(), True),
            T.StructField("lsn", T.LongType(), False),
        ]
    )
    root = tempfile.mkdtemp(prefix="dms_drv_")
    t = SnapshotTable.create(spark, os.path.join(root, "repos"), schema,
                             ["repo", "path"], 16)
    cfg = EngineConfig(table_path=os.path.join(root, "repos"), n_buckets=16,
                       salt_factor=1, merge_mode="mor")
    d = DerivedTable.create(spark, os.path.join(root, "chunks"), t,
                            _CHUNK_TRANSFORM_SQL, seq_col="seq",
                            n_buckets=16)
    mid = (ch.agg(F.max("lsn")).collect()[0][0] or 0) // 2
    cdc_apply(t, ch.where(F.col("lsn") <= mid), cfg, epoch=0)
    d.sync(t)
    cdc_apply(t, ch.where(F.col("lsn") > mid), cfg, epoch=1)
    d.sync(t)
    return d.read().select("repo", "path", "seq", "lsn", "chunk_text")


_DERIVED_CHUNKS_SQL = _DERIVED_CHANGES_SQL + """
, last AS (
  SELECT repo, path, content, lsn, op,
         row_number() OVER (PARTITION BY repo, path ORDER BY lsn DESC) AS rn
  FROM log
)
SELECT repo, path, CAST(chunk_id AS BIGINT) AS seq, lsn,
       substring(content, CAST(chunk_id * 8 + 1 AS INT), 8) AS chunk_text
FROM (
  SELECT repo, path, content, lsn,
         unnest(range(0, CAST(floor((length(content) - 1) / 8) AS INT) + 1))
             AS chunk_id
  FROM last
  WHERE rn = 1 AND op <> 'delete' AND content IS NOT NULL
        AND length(content) > 0
)
"""


def _colocated_chunk_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free co-located join (tables/colocated.py): the derived
    chunk table buckets by the SOURCE key and inherits its bucket count
    (round 3), so the chunk⋈document join passes the alignment check and,
    with the chunk side under Spark's broadcast threshold, runs with zero
    shuffle exchanges after both sides compact. Returns every chunk with
    its source document's content and LSN. Oracle: the chunk transform
    over the LWW final state, carrying the source columns."""
    from data_migration_service_spark.operators.merge import compact
    from data_migration_service_spark.tables.derived import DerivedTable

    ch = _derived_changes(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("repo", T.StringType(), False),
            T.StructField("path", T.StringType(), False),
            T.StructField("content", T.StringType(), True),
            T.StructField("lsn", T.LongType(), False),
        ]
    )
    root = tempfile.mkdtemp(prefix="dms_colo_")
    t = SnapshotTable.create(spark, os.path.join(root, "repos"), schema,
                             ["repo", "path"], 16)
    cfg = EngineConfig(table_path=os.path.join(root, "repos"), n_buckets=16,
                       salt_factor=1, merge_mode="mor")
    d = DerivedTable.create(spark, os.path.join(root, "chunks"), t,
                            _CHUNK_TRANSFORM_SQL, seq_col="seq")
    cdc_apply(t, ch, cfg, epoch=0)
    d.sync(t)
    compact(t, cfg)
    d.compact()
    j = d.join_source(t)  # bucket-aligned, no Exchange hashpartitioning
    return j.select("repo", "path", "seq", "chunk_text", "content",
                    F.col("lsn").alias("src_lsn"))


_COLOCATED_CHUNK_JOIN_SQL = _DERIVED_CHANGES_SQL + """
, last AS (
  SELECT repo, path, content, lsn, op,
         row_number() OVER (PARTITION BY repo, path ORDER BY lsn DESC) AS rn
  FROM log
)
SELECT repo, path, CAST(chunk_id AS BIGINT) AS seq,
       substring(content, CAST(chunk_id * 8 + 1 AS INT), 8) AS chunk_text,
       content, lsn AS src_lsn
FROM (
  SELECT repo, path, content, lsn,
         unnest(range(0, CAST(floor((length(content) - 1) / 8) AS INT) + 1))
             AS chunk_id
  FROM last
  WHERE rn = 1 AND op <> 'delete' AND content IS NOT NULL
        AND length(content) > 0
)
"""


def _chunk_group(spark: SparkSession, sf_dir: str, prefix: str):
    """EngineGroup of the source table and its co-located chunk table,
    both compacted: the setup of the two group_sql_* queries."""
    from data_migration_service_spark.api import EngineGroup
    from data_migration_service_spark.operators.merge import compact
    from data_migration_service_spark.tables.derived import DerivedTable

    ch = _derived_changes(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("repo", T.StringType(), False),
            T.StructField("path", T.StringType(), False),
            T.StructField("content", T.StringType(), True),
            T.StructField("lsn", T.LongType(), False),
        ]
    )
    root = tempfile.mkdtemp(prefix=prefix)
    t = SnapshotTable.create(spark, os.path.join(root, "repos"), schema,
                             ["repo", "path"], 16)
    cfg = EngineConfig(table_path=os.path.join(root, "repos"), n_buckets=16,
                       salt_factor=1, merge_mode="mor")
    d = DerivedTable.create(spark, os.path.join(root, "chunks"), t,
                            _CHUNK_TRANSFORM_SQL, seq_col="seq")
    cdc_apply(t, ch, cfg, epoch=0)
    d.sync(t)
    compact(t, cfg)
    d.compact()
    return EngineGroup(spark, {
        "repos": cfg,
        "chunks": EngineConfig(table_path=os.path.join(root, "chunks"),
                               n_buckets=16, merge_mode="mor"),
    })


def _group_sql_aligned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-repo chunk counts over the EngineGroup's bucket-aligned join:
    `group.colocated_join_many(["repos", "chunks"])` inner-joins the
    source table with its co-located chunk table on the shared
    (repo, path) layout (no join exchange while the chunk side is under
    Spark's broadcast threshold), then a DataFrame
    groupBy/agg counts chunks and characters per repo. Oracle: the same
    per-repo aggregate over the chunk transform of the LWW final state."""
    group = _chunk_group(spark, sf_dir, "dms_gsql_")
    return group.colocated_join_many(["repos", "chunks"]).groupBy(
        "repo").agg(F.count(F.lit(1)).alias("n_chunks"),
                    F.sum(F.length("chunk_text")).alias("n_chars"))


_GROUP_SQL_ALIGNED_SQL = _DERIVED_CHANGES_SQL + """
, last AS (
  SELECT repo, path, content, lsn, op,
         row_number() OVER (PARTITION BY repo, path ORDER BY lsn DESC) AS rn
  FROM log
)
SELECT repo, CAST(count(1) AS BIGINT) AS n_chunks,
       CAST(sum(length(substring(content, CAST(chunk_id * 8 + 1 AS INT), 8)))
            AS BIGINT) AS n_chars
FROM (
  SELECT repo, path, content,
         unnest(range(0, CAST(floor((length(content) - 1) / 8) AS INT) + 1))
             AS chunk_id
  FROM last
  WHERE rn = 1 AND op <> 'delete' AND content IS NOT NULL
        AND length(content) > 0
)
GROUP BY repo
"""


def _group_sql_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT variant of group_sql_aligned: `colocated_join_many(...,
    how="left")` keeps every source doc, so docs with no chunk rows
    (empty content) survive NULL-padded and are counted per repo as
    unmatched. Oracle: the same LEFT JOIN ... USING (repo, path) over the
    chunk transform of the LWW final state."""
    group = _chunk_group(spark, sf_dir, "dms_gsqll_")
    return group.colocated_join_many(["repos", "chunks"], how="left").groupBy(
        "repo").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("chunk_text").isNull().cast("bigint"))
            .alias("n_unmatched"))


_GROUP_SQL_LEFT_SQL = _DERIVED_CHANGES_SQL + """
, last AS (
  SELECT repo, path, content, lsn, op,
         row_number() OVER (PARTITION BY repo, path ORDER BY lsn DESC) AS rn
  FROM log
), docs AS (
  SELECT repo, path, content FROM last WHERE rn = 1 AND op <> 'delete'
), chunks AS (
  SELECT repo, path,
         substring(content, CAST(chunk_id * 8 + 1 AS INT), 8) AS chunk_text
  FROM (
    SELECT repo, path, content,
           unnest(range(0, CAST(floor((length(content) - 1) / 8) AS INT) + 1))
               AS chunk_id
    FROM docs
    WHERE content IS NOT NULL AND length(content) > 0
  )
)
SELECT repo, CAST(count(1) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN chunk_text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_unmatched
FROM docs LEFT JOIN chunks USING (repo, path)
GROUP BY repo
"""


def _update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL UPDATE parity (Engine.update_where): replay the log, then
    UPDATE content = upper(content) WHERE repo = 'repo_3' as a CDC batch
    (LSNs move past the high-watermark so changefeed consumers stay
    consistent), and return the final state. Oracle: LWW final state with
    the same CASE WHEN applied."""
    from data_migration_service_spark.api import Engine

    ch = _derived_changes(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("repo", T.StringType(), False),
            T.StructField("path", T.StringType(), False),
            T.StructField("content", T.StringType(), True),
            T.StructField("lsn", T.LongType(), False),
        ]
    )
    root = tempfile.mkdtemp(prefix="dms_upd_")
    SnapshotTable.create(spark, os.path.join(root, "repos"), schema,
                         ["repo", "path"], 16)
    cfg = EngineConfig(table_path=os.path.join(root, "repos"), n_buckets=16,
                       salt_factor=1, merge_mode="mor")
    eng = Engine(spark, cfg)
    cdc_apply(eng.table, ch, cfg, epoch=0)
    eng.update_where({"content": "upper(content)"},
                     predicate=F.col("repo") == "repo_3")
    return eng.table.read().select("repo", "path", "content")


_UPDATE_WHERE_SQL = _DERIVED_CHANGES_SQL + """
, last AS (
  SELECT repo, path, content, op,
         row_number() OVER (PARTITION BY repo, path ORDER BY lsn DESC) AS rn
  FROM log
)
SELECT repo, path,
       CASE WHEN repo = 'repo_3' THEN upper(content) ELSE content END
           AS content
FROM last WHERE rn = 1 AND op <> 'delete'
"""


def _changefeed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine changefeed: build the table in two epochs (lsn <= mid, rest),
    then emit the incremental change events from the mid-replay snapshot to
    the final one. The oracle re-derives the same diff from the log in SQL
    (old state = LWW at mid, new = LWW at end), so insert/update/delete
    classification, LSN propagation, and tombstone handling are all
    value-checked."""
    from data_migration_service_spark.operators.changefeed import table_changes

    ch = _derived_changes(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("repo", T.StringType(), False),
            T.StructField("path", T.StringType(), False),
            T.StructField("content", T.StringType(), True),
            T.StructField("lsn", T.LongType(), False),
        ]
    )
    root = tempfile.mkdtemp(prefix="dms_feed_")
    t = SnapshotTable.create(spark, os.path.join(root, "repos"), schema,
                             ["repo", "path"], 16)
    cfg = EngineConfig(table_path=os.path.join(root, "repos"), n_buckets=16,
                       merge_mode="mor")
    hi = ch.agg(F.max("lsn")).collect()[0][0] or 0
    mid = hi // 2
    cdc_apply(t, ch.where(F.col("lsn") <= mid), cfg, epoch=0)
    s_mid = t.current().snapshot_id
    cdc_apply(t, ch.where(F.col("lsn") > mid), cfg, epoch=1)
    feed = table_changes(t, s_mid)
    return feed.select(
        "op", "lsn", "repo", "path",
        F.sha2("content", 256).alias("content_sha256"),
    )


_CHANGEFEED_SQL = _DERIVED_CHANGES_SQL + """
, bounds AS (SELECT max(lsn) // 2 AS mid FROM log)
, old_state AS (
  SELECT * FROM (
    SELECT repo, path, lsn, op, content,
           row_number() OVER (PARTITION BY repo, path ORDER BY lsn DESC) AS rn
    FROM log WHERE lsn <= (SELECT mid FROM bounds)) WHERE rn = 1
), new_state AS (
  SELECT * FROM (
    SELECT repo, path, lsn, op, content,
           row_number() OVER (PARTITION BY repo, path ORDER BY lsn DESC) AS rn
    FROM log) WHERE rn = 1
), j AS (
  SELECT coalesce(o.repo, n.repo) AS repo, coalesce(o.path, n.path) AS path,
         o.lsn AS o_lsn, (o.op IS NOT NULL AND o.op <> 'delete') AS o_live,
         n.lsn AS n_lsn, (n.op IS NOT NULL AND n.op <> 'delete') AS n_live,
         n.content AS n_content
  FROM old_state o FULL OUTER JOIN new_state n
    ON o.repo = n.repo AND o.path = n.path
), cls AS (
  SELECT repo, path, n_content,
         CASE WHEN n_live AND NOT o_live THEN 'insert'
              WHEN n_live AND o_live AND n_lsn <> o_lsn THEN 'update'
              WHEN o_live AND NOT n_live THEN 'delete' END AS op,
         CASE WHEN o_live AND NOT n_live THEN coalesce(n_lsn, o_lsn)
              ELSE n_lsn END AS lsn
  FROM j
)
SELECT op, lsn, repo, path,
       CASE WHEN op <> 'delete' THEN sha256(n_content) END AS content_sha256
FROM cls WHERE op IS NOT NULL
"""


def _bootstrap_then_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-then-tail handoff: one-pass bootstrap of the LWW state at
    the half-way LSN (no merge shuffle), then a CDC tail whose batches
    DELIBERATELY overlap the bootstrapped prefix — the bootstrap_lsn
    watermark must prune them and LWW must absorb the rest, landing on the
    identical final state as a pure replay (same oracle SQL)."""
    from data_migration_service_spark.operators.merge import bootstrap_load
    from data_migration_service_spark.streaming.replay import ReplayEngine
    from pyspark.sql import Window as W

    ch = _derived_changes(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("repo", T.StringType(), False),
            T.StructField("path", T.StringType(), False),
            T.StructField("content", T.StringType(), True),
            T.StructField("lsn", T.LongType(), False),
        ]
    )
    root = tempfile.mkdtemp(prefix="dms_boot_")
    t = SnapshotTable.create(spark, os.path.join(root, "repos"), schema,
                             ["repo", "path"], 16)
    cfg = EngineConfig(table_path=os.path.join(root, "repos"), n_buckets=16,
                       salt_factor=2, merge_mode="mor")
    hi = ch.agg(F.max("lsn")).collect()[0][0] or 0
    mid = hi // 2
    # consistent source snapshot at lsn <= mid (unique keys, live rows only)
    win = W.partitionBy("repo", "path").orderBy(F.col("lsn").desc())
    snap_df = (ch.where(F.col("lsn") <= mid)
               .withColumn("_rn", F.row_number().over(win))
               .where((F.col("_rn") == 1) & (F.col("op") != "delete"))
               .drop("_rn", "op"))
    bootstrap_load(t, snap_df, cfg, epoch=0)
    eng = ReplayEngine(spark, t, cfg)
    q3 = (3 * hi) // 4
    # both tail batches overlap already-applied LSNs on purpose
    eng.apply_batch(ch.where(F.col("lsn") <= q3), epoch=1)
    eng.apply_batch(ch, epoch=2)
    return t.read().select(
        "repo", "path", F.sha2("content", 256).alias("content_sha256"),
        F.col("lsn").alias("last_lsn"),
    )


# ---------------------------------------------------------------------------
# the hash-diff verification fixture: deterministic corruption of lineitem
# ---------------------------------------------------------------------------

def _li_sides(spark: SparkSession, sf_dir: str):
    li = _t(spark, sf_dir, "lineitem")
    content = F.concat_ws(
        "|", "l_returnflag", "l_linestatus", F.col("l_quantity").cast("int").cast("string")
    )
    src = li.where(F.pmod("l_orderkey", F.lit(103)) != 0).select(
        "l_orderkey", "l_linenumber", content.alias("content")
    )
    tgt = li.where(F.pmod("l_orderkey", F.lit(101)) != 0).select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.pmod("l_orderkey", F.lit(97)) == 0, F.lit("CORRUPT"))
        .otherwise(content).alias("content"),
    )
    return src, tgt


_LI_SIDES_SQL = """
WITH content_t AS (
  SELECT l_orderkey, l_linenumber,
         l_returnflag || '|' || l_linestatus || '|' || CAST(CAST(l_quantity AS INT) AS VARCHAR) AS content
  FROM lineitem
), src AS (
  SELECT * FROM content_t WHERE l_orderkey % 103 <> 0
), tgt AS (
  SELECT l_orderkey, l_linenumber,
         CASE WHEN l_orderkey % 97 = 0 THEN 'CORRUPT' ELSE content END AS content
  FROM content_t WHERE l_orderkey % 101 <> 0
), diff AS (
  SELECT coalesce(s.l_orderkey, t.l_orderkey) AS l_orderkey,
         coalesce(s.l_linenumber, t.l_linenumber) AS l_linenumber,
         CASE WHEN t.l_orderkey IS NULL THEN 'MISSING_IN_TARGET'
              WHEN s.l_orderkey IS NULL THEN 'MISSING_IN_SOURCE'
              WHEN sha256(s.content) <> sha256(t.content) THEN 'MISMATCH'
              ELSE 'OK' END AS status
  FROM src s FULL OUTER JOIN tgt t
    ON s.l_orderkey = t.l_orderkey AND s.l_linenumber = t.l_linenumber
)
"""


def _verify_sample_sql() -> str:
    """DuckDB twin of q_verify_sample: _li_sides with the deterministic
    1/4 key-sample predicate applied to BOTH sides before the diff."""
    thr = format(int(16 ** 8 / 4), "08x")
    pred = ("substr(sha256('epoch7:' || CAST(l_orderkey AS VARCHAR) || ':' "
            f"|| CAST(l_linenumber AS VARCHAR)), 1, 8) < '{thr}'")
    return f"""
WITH content_t AS (
  SELECT l_orderkey, l_linenumber,
         l_returnflag || '|' || l_linestatus || '|' || CAST(CAST(l_quantity AS INT) AS VARCHAR) AS content
  FROM lineitem
), src AS (
  SELECT * FROM content_t WHERE l_orderkey % 103 <> 0 AND {pred}
), tgt AS (
  SELECT l_orderkey, l_linenumber,
         CASE WHEN l_orderkey % 97 = 0 THEN 'CORRUPT' ELSE content END AS content
  FROM content_t WHERE l_orderkey % 101 <> 0 AND {pred}
), diff AS (
  SELECT CASE WHEN t.l_orderkey IS NULL THEN 'MISSING_IN_TARGET'
              WHEN s.l_orderkey IS NULL THEN 'MISSING_IN_SOURCE'
              WHEN sha256(s.content) <> sha256(t.content) THEN 'MISMATCH'
              ELSE 'OK' END AS status
  FROM src s FULL OUTER JOIN tgt t
    ON s.l_orderkey = t.l_orderkey AND s.l_linenumber = t.l_linenumber
)
SELECT status, count(*) AS n FROM diff GROUP BY status
"""


def _numeric_quantiles_sql() -> str:
    parts = []
    for c in ("l_quantity", "l_extendedprice", "l_discount"):
        for p in (0.25, 0.5, 0.75):
            parts.append(
                f"SELECT '{c}' AS col_name, CAST({p} AS DOUBLE) AS p, "
                f"round(quantile_cont(CAST({c} AS DOUBLE), {p}), 4) AS q "
                "FROM lineitem")
    return " UNION ALL ".join(parts)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_lww_dedup(spark, sf):
    ev = _t(spark, sf, "events")
    w = W.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id", "event_type",
            F.round("value", 2).alias("last_value"),
            F.col("event_id").alias("last_event_id"),
        )
    )


def _cents(col):
    """Exact integer cents of a 2-decimal money double: round(x*100, 0) is
    the safe scale-0 round (identical across engines for any double), and
    the int64 sum is order-independent — the bit-stable aggregation the
    round-3 verdict's float-sum audit mandates for every money sum that
    reaches an oracle-checked output."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100, 0).cast("long")


def q_count_per_group(spark, sf):
    return (
        _t(spark, sf, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             (F.sum(_cents("o_totalprice")) / 100.0).alias("total_spend"))
    )


def q_distinct_keys(spark, sf):
    return _t(spark, sf, "events").select("event_type").distinct()


def q_row_hash_canonical(spark, sf):
    c = _t(spark, sf, "customer")
    return c.select(
        "c_custkey",
        row_sha256(c, ["c_name", "c_mktsegment", "c_nationkey"]).alias("row_hash"),
    )


def q_hash_diff_status_counts(spark, sf):
    src, tgt = _li_sides(spark, sf)
    diff = V.hash_diff(src, tgt, ["l_orderkey", "l_linenumber"],
                       F.sha2("content", 256), F.sha2("content", 256))
    return diff.groupBy("status").agg(F.count(F.lit(1)).alias("n"))


def q_mismatch_report(spark, sf):
    src, tgt = _li_sides(spark, sf)
    diff = V.hash_diff(src, tgt, ["l_orderkey", "l_linenumber"],
                       F.sha2("content", 256), F.sha2("content", 256))
    return (
        diff.where(F.col("status") != "OK")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(100)
        .select("l_orderkey", "l_linenumber", "status")
    )


def q_verify_sample(spark, sf):
    """Sampled verification canary (operators/verify.py:verify_sample —
    the every-epoch 100 TB gate): the SAME hash-diff verification as
    `hash_diff_status_counts`, over a deterministic 1/4 key-sample of both
    sides. Membership = sha256-hex threshold on the KEY (salt 'epoch7'),
    so the sampled sets agree across engines/partitionings and missing
    rows stay detectable inside the sample."""
    src, tgt = _li_sides(spark, sf)
    pred = V.sample_filter(["l_orderkey", "l_linenumber"], 4, salt="epoch7")
    diff = V.hash_diff(src.where(pred), tgt.where(pred),
                       ["l_orderkey", "l_linenumber"],
                       F.sha2("content", 256), F.sha2("content", 256))
    return diff.groupBy("status").agg(F.count(F.lit(1)).alias("n"))


def q_bucket_verify_dirty(spark, sf):
    """Merkle level of the hierarchical verification
    (operators/verify.py:verify_hierarchical — the 100 TB verify shape):
    per-bucket (count, hash_sum, hash_xor) signatures of the row hash XOR
    a key-hash slice on each side, then a signature diff over n_buckets
    rows. Only the buckets returned here ever pay row-level work; an
    identical table returns zero rows and the whole verification cost two
    scans plus a 64-row join."""
    src, tgt = _li_sides(spark, sf)
    src_h = src.withColumn("_vh", F.sha2("content", 256))
    tgt_h = tgt.withColumn("_vh", F.sha2("content", 256))
    keys = ["l_orderkey", "l_linenumber"]
    dirty = V.bucket_diff(
        V.bucket_signatures(src_h, keys, F.col("_vh"), n_buckets=64),
        V.bucket_signatures(tgt_h, keys, F.col("_vh"), n_buckets=64),
    )
    return dirty.select("bucket", "src_rows", "tgt_rows")


def q_bucket_verify_drilldown(spark, sf):
    """Row level of the hierarchical verification: the SAME classified
    hash-diff as `hash_diff_status_counts`, but scanning ONLY rows whose
    key falls in a dirty bucket from the Merkle level — the drill-down
    `verify_hierarchical` runs after signature compare. Statuses != OK
    match the full diff exactly (every bad row's bucket is dirty by
    construction); OK counts shrink to the dirty buckets' population —
    the work actually avoided is the difference."""
    src, tgt = _li_sides(spark, sf)
    keys = ["l_orderkey", "l_linenumber"]
    src_h = src.withColumn("_vh", F.sha2("content", 256))
    tgt_h = tgt.withColumn("_vh", F.sha2("content", 256))
    dirty = V.bucket_diff(
        V.bucket_signatures(src_h, keys, F.col("_vh"), n_buckets=64),
        V.bucket_signatures(tgt_h, keys, F.col("_vh"), n_buckets=64),
    )
    dirty_ids = sorted(int(r["bucket"]) for r in dirty.collect())
    in_dirty = V.key_bucket(keys, 64).isin(*dirty_ids)
    diff = V.hash_diff(src_h.where(in_dirty), tgt_h.where(in_dirty),
                       keys, F.col("_vh"), F.col("_vh"))
    return diff.groupBy("status").agg(F.count(F.lit(1)).alias("n"))


_BUCKET_SIDES_SQL = """
WITH content_t AS (
  SELECT l_orderkey, l_linenumber,
         l_returnflag || '|' || l_linestatus || '|' || CAST(CAST(l_quantity AS INT) AS VARCHAR) AS content
  FROM lineitem
), src AS (
  SELECT * FROM content_t WHERE l_orderkey % 103 <> 0
), tgt AS (
  SELECT l_orderkey, l_linenumber,
         CASE WHEN l_orderkey % 97 = 0 THEN 'CORRUPT' ELSE content END AS content
  FROM content_t WHERE l_orderkey % 101 <> 0
), sb AS (
  SELECT ('0x' || substr(sha256('vbucket:' || CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)), 1, 8))::BIGINT % 64 AS bucket,
         xor(coalesce(('0x' || substr(sha256(content), 1, 8))::BIGINT, 0),
             ('0x' || substr(sha256('vbucket:' || CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)), 9, 8))::BIGINT) AS h32
  FROM src
), tb AS (
  SELECT ('0x' || substr(sha256('vbucket:' || CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)), 1, 8))::BIGINT % 64 AS bucket,
         xor(coalesce(('0x' || substr(sha256(content), 1, 8))::BIGINT, 0),
             ('0x' || substr(sha256('vbucket:' || CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)), 9, 8))::BIGINT) AS h32
  FROM tgt
), ss AS (
  SELECT bucket, count(*) AS n_rows, CAST(sum(h32) AS BIGINT) AS hash_sum,
         bit_xor(h32) AS hash_xor
  FROM sb GROUP BY bucket
), ts AS (
  SELECT bucket, count(*) AS n_rows, CAST(sum(h32) AS BIGINT) AS hash_sum,
         bit_xor(h32) AS hash_xor
  FROM tb GROUP BY bucket
), dirty AS (
  SELECT coalesce(ss.bucket, ts.bucket) AS bucket,
         coalesce(ss.n_rows, 0) AS src_rows,
         coalesce(ts.n_rows, 0) AS tgt_rows
  FROM ss FULL OUTER JOIN ts ON ss.bucket = ts.bucket
  WHERE ss.n_rows IS DISTINCT FROM ts.n_rows
     OR ss.hash_sum IS DISTINCT FROM ts.hash_sum
     OR ss.hash_xor IS DISTINCT FROM ts.hash_xor
)
"""

_BUCKET_DRILL_SQL = _BUCKET_SIDES_SQL + """
, drill AS (
  SELECT CASE WHEN t.l_orderkey IS NULL THEN 'MISSING_IN_TARGET'
              WHEN s.l_orderkey IS NULL THEN 'MISSING_IN_SOURCE'
              WHEN sha256(s.content) <> sha256(t.content) THEN 'MISMATCH'
              ELSE 'OK' END AS status
  FROM src s FULL OUTER JOIN tgt t
    ON s.l_orderkey = t.l_orderkey AND s.l_linenumber = t.l_linenumber
  WHERE ('0x' || substr(sha256('vbucket:' || CAST(coalesce(s.l_orderkey, t.l_orderkey) AS VARCHAR) || ':' || CAST(coalesce(s.l_linenumber, t.l_linenumber) AS VARCHAR)), 1, 8))::BIGINT % 64
        IN (SELECT bucket FROM dirty)
)
SELECT status, count(*) AS n FROM drill GROUP BY status
"""


def q_numeric_quantiles(spark, sf):
    """Distribution half of the profile verification gate
    (operators/profile.py:numeric_quantiles): per-column quantiles in one
    aggregate pass. exact=True here for the cross-engine oracle (Spark
    `percentile` == ANSI quantile_cont linear interpolation); the scale
    path is the same call with the mergeable percentile_approx sketch."""
    li = _t(spark, sf, "lineitem")
    return P.numeric_quantiles(
        li, ["l_quantity", "l_extendedprice", "l_discount"],
        [0.25, 0.5, 0.75], exact=True, round_digits=4)


def _order_sides(spark: SparkSession, sf_dir: str):
    """Two-corruption-channel fixture over `orders` (o_orderkey IS unique in
    the testdata, unlike lineitem's synthetic (orderkey, linenumber)):
    priority corrupted for %97 keys, custkey shifted for %89 keys."""
    o = _t(spark, sf_dir, "orders")
    src = o.select("o_orderkey", F.col("o_orderpriority").alias("prio"),
                   F.col("o_custkey").alias("cust"))
    tgt = o.select(
        "o_orderkey",
        F.when(F.pmod("o_orderkey", F.lit(97)) == 0, F.lit("CORRUPT"))
        .otherwise(F.col("o_orderpriority")).alias("prio"),
        F.when(F.pmod("o_orderkey", F.lit(89)) == 0,
               F.col("o_custkey") + 1_000_000)
        .otherwise(F.col("o_custkey")).alias("cust"),
    )
    return src, tgt


def q_recheck_values(spark, sf):
    """J2 raw-value double-check: keys whose whole-row fingerprints disagree
    are re-fetched both sides and compared column-by-column."""
    src, tgt = _order_sides(spark, sf)
    keys = ["o_orderkey"]
    diff = V.verify_row_hashes(src, tgt, keys)
    flagged = diff.where(F.col("status") == V.MISMATCH).select(*keys)
    return V.recheck_values(src, tgt, keys, flagged)


_RECHECK_VALUES_SQL = """
WITH src AS (
  SELECT o_orderkey, o_orderpriority AS prio, o_custkey AS cust FROM orders
), tgt AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 97 = 0 THEN 'CORRUPT' ELSE o_orderpriority END AS prio,
         CASE WHEN o_orderkey % 89 = 0 THEN o_custkey + 1000000 ELSE o_custkey END AS cust
  FROM orders
), flagged AS (
  SELECT s.o_orderkey,
         (s.prio IS DISTINCT FROM t.prio) AS d_prio,
         (s.cust IS DISTINCT FROM t.cust) AS d_cust
  FROM src s JOIN tgt t ON s.o_orderkey = t.o_orderkey
  WHERE s.prio IS DISTINCT FROM t.prio OR s.cust IS DISTINCT FROM t.cust
)
SELECT o_orderkey,
       concat_ws(',', CASE WHEN d_cust THEN 'cust' END,
                      CASE WHEN d_prio THEN 'prio' END) AS diff_cols,
       CAST((CASE WHEN d_cust THEN 1 ELSE 0 END)
          + (CASE WHEN d_prio THEN 1 ELSE 0 END) AS INT) AS n_diffs,
       (d_cust OR d_prio) AS confirmed
FROM flagged
"""


def q_anti_join_missing(spark, sf):
    c, o = _t(spark, sf, "customer"), _t(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


def q_semi_join_replay(spark, sf):
    li, o = _t(spark, sf, "lineitem"), _t(spark, sf, "orders")
    keys = o.where(F.pmod("o_orderkey", F.lit(500)) == 0).select("o_orderkey")
    return (
        li.join(keys, li.l_orderkey == keys.o_orderkey, "left_semi")
        .select("l_orderkey", "l_linenumber",
                F.col("l_quantity").cast("int").alias("qty"))
    )


def q_canonical_projection(spark, sf):
    o = _t(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.concat_ws(",", "o_orderkey", "o_custkey").alias("pk"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss.SSS").alias("odate_ms"),
        F.coalesce("o_orderpriority", F.lit(NULL_SENTINEL)).alias("prio"),
    )


def q_pricing_summary(spark, sf):
    """TPC-H Q1 shape, bit-stable formulation: every money aggregate is an
    order-independent integer sum (cents / 10^-4 fixed point) finished by
    one double division — no float sum ever reaches a rounding boundary,
    so Spark and DuckDB agree to the last bit (round-4 float-sum audit).
    sum_disc_price carries 4 decimals (per-row discounted price fixed at
    10^-4); avg_disc is the exact rational cents-sum / (100*count)."""
    li = _t(spark, sf, "lineitem")
    disc_fp4 = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0
    ).cast("long")
    return (
        li.where(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(_cents("l_quantity")) / 100.0).alias("sum_qty"),
            (F.sum(_cents("l_extendedprice")) / 100.0).alias("sum_base_price"),
            (F.sum(disc_fp4) / 10000.0).alias("sum_disc_price"),
            (F.sum(_cents("l_discount"))
             / (100.0 * F.count(F.lit(1)))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_region_revenue(spark, sf):
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    o = _t(spark, sf, "orders")
    dim = F.broadcast(
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "r_name")
    )
    return (
        o.join(dim, o.o_custkey == dim.c_custkey)
        .groupBy("r_name")
        .agg((F.sum(_cents("o_totalprice")) / 100.0).alias("revenue"),
             F.count(F.lit(1)).alias("n_orders"))
    )


def q_salted_hot_agg(spark, sf):
    """Two-phase salted aggregation over a hot low-cardinality key — result
    identical to a plain GROUP BY (the oracle proves it)."""
    ev = _t(spark, sf, "events")
    salted = ev.withColumn("_salt", F.pmod(F.xxhash64("event_id"), F.lit(16)))
    partial = salted.groupBy("event_type", "_salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(_cents("value")).alias("pv_cents"),
        F.max("ts").alias("pm"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").alias("n"),
        (F.sum("pv_cents") / 100.0).alias("sum_value"),
        F.date_format(F.max("pm"), "yyyy-MM-dd HH:mm:ss.SSS").alias("max_ts"),
    )


def q_epoch_lineage(spark, sf):
    ev = _t(spark, sf, "events")
    return (
        ev.withColumn("epoch", F.floor(F.col("event_id") / 1000))
        .groupBy("epoch")
        .agg(F.count(F.lit(1)).alias("n"),
             F.min("event_id").alias("lsn_min"),
             F.max("event_id").alias("lsn_max"))
    )


def q_dedup_exact(spark, sf):
    return D.exact_dedup(_t(spark, sf, "documents"), "doc_id", "text")


def q_token_count(spark, sf):
    return X.token_count(_t(spark, sf, "documents"), "doc_id", "text")


def q_chunk_documents(spark, sf):
    """Token-window chunking for RAG/context prep — in-row sequence +
    explode, zero shuffles; oracle = DuckDB range() + list slicing."""
    out = X.chunk_documents(_t(spark, sf, "documents"), "doc_id", "text",
                            size=32, stride=24)
    return out.orderBy("doc_id", "chunk_id")


def q_embedding_sq_topk(spark, sf):
    """int8 scalar-quantized ANN (faiss SQ8 family): integer-domain
    candidate scoring (bit-exact cross-engine, so the candidate cut has no
    float-tie risk), exact-cosine rerank of k*rerank survivors."""
    emb = _t(spark, sf, "embeddings")
    qv = [float(x) for x in
          emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]]
    out = S.sq_topk(emb, "vec_id", "embedding", qv, k=25, rerank=4)
    return out.withColumn("cosine", F.round("cosine", 4))


def q_quality_score(spark, sf):
    return X.quality_score(_t(spark, sf, "documents"), "doc_id", "text")


def q_lang_id(spark, sf):
    return X.lang_id(_t(spark, sf, "documents"), "doc_id", "text")


def q_doc_fingerprint(spark, sf):
    return X.doc_fingerprint(_t(spark, sf, "documents"), "doc_id", "text", k=8)


def q_tf_idf_top_terms(spark, sf):
    """Per-doc top-3 TF-IDF keywords — explode + two hash aggregates + a
    dictionary join; top-k via per-doc sort_array/slice (no corpus-wide
    window)."""
    return X.tf_idf_top_terms(_t(spark, sf, "documents"), "doc_id", "text",
                              top_k=3)


def q_stratified_sample(spark, sf):
    """Deterministic per-stratum sample (downsample dominant 'en', keep all
    'zh'): membership is a pure hex-hash-threshold function of doc_id —
    identical row set at ANY partitioning/cluster size, unlike sampleBy."""
    docs = _t(spark, sf, "documents")
    out = X.stratified_sample(docs, "doc_id", "lang",
                              {"en": 0.3, "zh": 1.0}, default_fraction=0.5)
    return out.select("doc_id", "lang")


def q_mixture_sample(spark, sf):
    """Domain-mixture corpus sampling (operators/sampling.py): downsample
    per-language to a target 50/20/30 en/zh/fr mixture (es/de excluded),
    reporting raw count, kept count and planned rate per domain. Membership
    is the sha256-hex u32 threshold — deterministic across engines, which
    is what lets DuckDB re-derive the identical sample. Plan: one
    domain-sized aggregate + auto-broadcast rate join + map-side filter;
    the corpus is never shuffled."""
    docs = _t(spark, sf, "documents")
    return MX.mixture_report(
        docs, "lang", ["doc_id"],
        weights={"en": 0.5, "zh": 0.2, "fr": 0.3},
    ).select("lang", "n_raw", "n_kept", "rate")


def q_budget_select(spark, sf):
    """Quality-ranked selection under a token budget (sampling.budget_select):
    per language keep the best documents (n_chars as the score AND the
    token cost here) while the running total fits 10k — the corpus-assembly
    step after quality scoring. The plan routes through a (domain x bin)
    histogram: full bins keep via a broadcast map-side filter, ONLY the
    crossing bin pays an exact ordered window — never a whole-domain sort."""
    docs = _t(spark, sf, "documents")
    return (MX.budget_select(docs, "lang", "n_chars", "n_chars",
                             budget=10_000, id_cols=["doc_id"])
            .select("doc_id", "lang", "n_chars"))


_BUDGET_SELECT_SQL = r"""
WITH ranked AS (
  SELECT doc_id, lang, n_chars,
         sum(n_chars) OVER (PARTITION BY lang
                            ORDER BY n_chars DESC, doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum
  FROM documents
)
SELECT doc_id, lang, n_chars FROM ranked WHERE cum <= 10000
"""


def q_corpus_shuffle(spark, sf):
    """Deterministic global shuffle + sharding (operators/sampling.py
    corpus_shuffle): reproducible training order — shard from one sha256
    slice, in-shard position from a decorrelated slice. One hash exchange
    by shard + independent per-shard sorts; identical permutation at any
    cluster size, which is what the DuckDB twin verifies."""
    docs = _t(spark, sf, "documents")
    return MX.corpus_shuffle(docs, ["doc_id"], n_shards=8) \
        .select("doc_id", "shard", "pos")


_CORPUS_SHUFFLE_SQL = """
SELECT doc_id, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard
                               ORDER BY ord, doc_id) AS INT) AS pos
FROM (
  SELECT doc_id,
         CAST(CAST(concat('0x', substr(h, 1, 8)) AS BIGINT) % 8 AS INT)
           AS shard,
         substr(h, 9, 32) AS ord
  FROM (SELECT doc_id,
               sha256('shuffle:' || CAST(doc_id AS VARCHAR)) AS h
        FROM documents)
)
"""


def q_corpus_build(spark, sf):
    """End-to-end training-corpus build (operators/corpus.py): quality
    gate (map-side, fused into the scan) -> exact dedup keep-min-id (one
    content-hash exchange) -> 50/20/30 en/zh/fr mixture (no corpus
    exchange) -> deterministic shard + order (the final exchange, also
    the output layout). Two corpus shuffles total; bit-identical output
    from the recipe on any cluster — verified by the DuckDB twin."""
    docs = _t(spark, sf, "documents")
    return C.corpus_build(
        docs, "doc_id", "text", "lang",
        weights={"en": 0.5, "zh": 0.2, "fr": 0.3}, n_shards=8,
        min_quality=0.5, min_tokens=20, max_tokens=90,
    )


_CORPUS_BUILD_SQL = """
WITH t AS (
  SELECT doc_id, lang, text, length(text) AS n_chars,
         list_filter(string_split_regex(trim(text), '\\s+'),
                     x -> x <> '') AS toks,
         length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
           AS n_punct
  FROM documents
), s AS (
  SELECT doc_id, lang, text, len(toks) AS n_tokens,
         CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars
              ELSE 0 END AS pr,
         CASE WHEN len(toks) > 0 THEN
           CAST(len(list_filter(toks, x -> lower(x) IN
             ('the','a','of','and','to','in','is','it','for','on')))
             AS DOUBLE) / len(toks) ELSE 0 END AS sr,
         least(n_chars/500.0, 1.0) AS ln
  FROM t
), g AS (
  SELECT doc_id, lang, text, n_tokens,
         round(0.4*ln + 0.3*(1-pr) + 0.3*sr + 1e-9, 4) AS quality
  FROM s
  WHERE round(0.4*ln + 0.3*(1-pr) + 0.3*sr + 1e-9, 4) >= 0.5
    AND n_tokens BETWEEN 20 AND 90
), dd AS (
  SELECT doc_id, lang, n_tokens, quality FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY sha256(text)
                                 ORDER BY doc_id) AS rn FROM g)
  WHERE rn = 1
), counts AS (
  SELECT lang, COUNT(*) AS n_raw FROM dd GROUP BY lang
), w AS (
  SELECT lang, n_raw,
         CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.2
                   WHEN 'fr' THEN 0.3 ELSE 0.0 END AS w
  FROM counts
), cap AS (
  SELECT MIN(CAST(n_raw AS DOUBLE) / w) AS c FROM w WHERE w > 0
), rates AS (
  SELECT lang, CASE WHEN w > 0
                    THEN LEAST(1.0, (c * w) / CAST(n_raw AS DOUBLE))
                    ELSE 0.0 END AS rate
  FROM w CROSS JOIN cap
), mixed AS (
  SELECT dd.doc_id, dd.lang, dd.n_tokens, dd.quality
  FROM dd JOIN rates r ON dd.lang = r.lang
  WHERE CAST(concat('0x', substr(
          sha256('corpus:mix:' || CAST(dd.doc_id AS VARCHAR)), 1, 8))
          AS BIGINT)
        < CAST(FLOOR(r.rate * 4294967296.0) AS BIGINT)
), sh AS (
  SELECT doc_id, lang, n_tokens, quality,
         CAST(CAST(concat('0x', substr(h, 1, 8)) AS BIGINT) % 8 AS INT)
           AS shard,
         substr(h, 9, 32) AS ord
  FROM (SELECT m.*, sha256('corpus:ord:' || CAST(doc_id AS VARCHAR)) AS h
        FROM mixed m)
)
SELECT doc_id, lang, n_tokens, quality, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard
                               ORDER BY ord, doc_id) AS INT) AS pos
FROM sh
"""

_CORPUS_AUDIT_SQL = _CORPUS_BUILD_SQL.split(", sh AS (")[0] + """
SELECT CAST(0 AS INT) AS stage_idx, 'raw' AS stage,
       (SELECT COUNT(*) FROM documents) AS n
UNION ALL SELECT CAST(1 AS INT), 'quality_gated', (SELECT COUNT(*) FROM g)
UNION ALL SELECT CAST(2 AS INT), 'deduplicated', (SELECT COUNT(*) FROM dd)
UNION ALL SELECT CAST(3 AS INT), 'mixed', (SELECT COUNT(*) FROM mixed)
"""


def q_corpus_audit(spark, sf):
    """The corpus-card funnel for q_corpus_build's recipe: per-stage
    survivor counts (raw -> quality-gated -> deduplicated -> mixed),
    computed from the same lazily-composed stages as the build itself."""
    docs = _t(spark, sf, "documents")
    return C.corpus_audit(
        docs, "doc_id", "text", "lang",
        weights={"en": 0.5, "zh": 0.2, "fr": 0.3},
        min_quality=0.5, min_tokens=20, max_tokens=90,
    )


_MIXTURE_SAMPLE_SQL = """
WITH counts AS (
  SELECT lang, COUNT(*) AS n_raw FROM documents GROUP BY lang
), w AS (
  SELECT lang, n_raw,
         CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.2
                   WHEN 'fr' THEN 0.3 ELSE 0.0 END AS w
  FROM counts
), cap AS (
  SELECT MIN(CAST(n_raw AS DOUBLE) / w) AS c FROM w WHERE w > 0
), rates AS (
  SELECT lang, n_raw,
         CASE WHEN w > 0
              THEN LEAST(1.0, (c * w) / CAST(n_raw AS DOUBLE))
              ELSE 0.0 END AS rate
  FROM w CROSS JOIN cap
), kept AS (
  SELECT d.lang, COUNT(*) AS n_kept
  FROM documents d JOIN rates r ON d.lang = r.lang
  WHERE CAST(concat('0x', substr(
          sha256('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        < CAST(FLOOR(r.rate * 4294967296.0) AS BIGINT)
  GROUP BY d.lang
)
SELECT r.lang, r.n_raw, COALESCE(k.n_kept, 0) AS n_kept, r.rate
FROM rates r LEFT JOIN kept k ON r.lang = k.lang
"""


def q_redact_pii(spark, sf):
    """PII redaction over documents with deterministically injected
    email/IP/hex-secret tokens (the corpus itself is letter-only word
    salad, so injection makes the check non-trivial; the oracle injects
    identically)."""
    docs = _t(spark, sf, "documents")
    injected = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"), F.lit(" contact: user"),
                (F.col("doc_id") % 50).cast("string"),
                F.lit("@example.com from 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".7 token deadbeefdeadbeefdeadbeefdeadbeef0123"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    return X.redact_pii(injected, "doc_id", "text")


def _redact_pii_sql() -> str:
    from data_migration_service_spark.operators.text import PII_PATTERNS

    red = "text"
    for _, p, repl in PII_PATTERNS:
        # DuckDB regexp_replace is single-match unless the 'g' flag is given
        # (Spark's is global by default)
        red = f"regexp_replace({red}, '{p}', '{repl}', 'g')"
    cnt = " + ".join(
        f"len(regexp_extract_all(text, '{p}'))" for _, p, _ in PII_PATTERNS
    )
    return f"""
        WITH inj AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 7 = 0 THEN
                   text || ' contact: user' || CAST(doc_id % 50 AS VARCHAR)
                        || '@example.com from 10.0.'
                        || CAST(doc_id % 256 AS VARCHAR)
                        || '.7 token deadbeefdeadbeefdeadbeefdeadbeef0123'
                 ELSE text END AS text
          FROM documents
        )
        SELECT doc_id, {red} AS redacted, CAST({cnt} AS INT) AS n_redactions
        FROM inj
    """


def q_contamination(spark, sf):
    """Benchmark decontamination: flag documents whose token 3-grams
    overlap a held-out eval set (here: every 37th doc's first 240 chars,
    so overlap is partial and non-trivial). Broadcast benchmark grams +
    map-only corpus pass — no corpus-wide shuffle of text."""
    docs = _t(spark, sf, "documents")
    bench = docs.where(F.col("doc_id") % 37 == 0).select(
        "doc_id", F.substring("text", 1, 240).alias("text"))
    return X.contamination(docs, bench, "doc_id", "text", n=3)


_CONTAMINATION_SQL = r"""
    WITH dg AS (
      SELECT doc_id,
             list_distinct(
               [sha256(array_to_string(ts[p:p+2], ' '))
                FOR p IN range(1, greatest(len(ts) - 1, 1))]) AS gs
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(trim(text), '\s+'),
                               t -> t <> '') AS ts
            FROM documents)
    ), bg AS (
      SELECT DISTINCT unnest(
               [sha256(array_to_string(ts[p:p+2], ' '))
                FOR p IN range(1, greatest(len(ts) - 1, 1))]) AS g
      FROM (SELECT list_filter(
                     string_split_regex(trim(substr(text, 1, 240)), '\s+'),
                     t -> t <> '') AS ts
            FROM documents WHERE doc_id % 37 = 0)
    ), m AS (
      SELECT doc_id, count(*) AS n_matched
      FROM (SELECT doc_id, unnest(gs) AS g FROM dg) dx
      JOIN bg USING (g)
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(len(d.gs) AS BIGINT) AS n_grams,
           CAST(coalesce(m.n_matched, 0) AS BIGINT) AS n_matched,
           CASE WHEN len(d.gs) > 0
                THEN coalesce(m.n_matched, 0) / CAST(len(d.gs) AS DOUBLE)
                ELSE 0.0 END AS contamination_ratio,
           coalesce(m.n_matched, 0) >= 1 AS contaminated
    FROM dg d LEFT JOIN m USING (doc_id)
"""


def q_pack_offsets(spark, sf):
    """Pretraining sequence-packing layout: token counts -> deterministic
    shard + per-shard prefix-sum offsets + spanned fixed-length training
    sequences. One shard shuffle + one in-partition window — never a
    corpus-wide sort."""
    docs = _t(spark, sf, "documents")
    counts = X.token_count(docs, "doc_id", "text").select("doc_id", "n_tokens")
    return X.pack_offsets(counts, "doc_id", "n_tokens", seq_len=256,
                          shard_chars=1)


_PACK_OFFSETS_SQL = r"""
    WITH counts AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                                  t -> t <> '')) AS BIGINT) AS n_tokens
      FROM documents
    ), keyed AS (
      SELECT doc_id, n_tokens,
             sha256('pack:' || CAST(doc_id AS VARCHAR)) AS okey
      FROM counts
    ), cum AS (
      SELECT doc_id, substr(okey, 1, 1) AS shard, n_tokens,
             sum(n_tokens) OVER (PARTITION BY substr(okey, 1, 1)
                                 ORDER BY okey, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS c
      FROM keyed
    )
    SELECT doc_id, shard, CAST(c - n_tokens AS BIGINT) AS offset, n_tokens,
           CAST(floor((c - n_tokens) / 256.0) AS BIGINT) AS seq_first,
           CAST(floor((c - 1) / 256.0) AS BIGINT) AS seq_last
    FROM cum
"""


def q_simhash(spark, sf):
    return D.simhash(_t(spark, sf, "documents"), "doc_id", "text", bits=16)


def q_minhash_lsh_pairs(spark, sf):
    docs = _t(spark, sf, "documents")
    sigs = D.minhash_signatures(docs, "doc_id", "text", k=5, n_hashes=16)
    pairs = D.lsh_candidate_pairs(sigs, "doc_id", bands=4, rows_per_band=4,
                                  max_bucket=50)
    est = D.minhash_jaccard_estimate(sigs, pairs, "doc_id")
    return est.select("id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard"))


def q_minhash_lsh_pairs_fast(spark, sf):
    """xxhash64 MinHash fast path (one cheap JVM hash per hash-function vs 2
    sha256s per shingle). Same banding/join plan as `minhash_lsh_pairs`;
    DuckDB has no xxhash64, so this entry is rows-only — the sha256 query is
    the value-checked twin, and tests/test_similarity.py asserts both
    families recover identical planted duplicates."""
    docs = _t(spark, sf, "documents")
    sigs = D.minhash_signatures(docs, "doc_id", "text", k=5, n_hashes=16,
                                hash_family="xxhash64")
    pairs = D.lsh_candidate_pairs(sigs, "doc_id", bands=4, rows_per_band=4,
                                  max_bucket=50)
    est = D.minhash_jaccard_estimate(sigs, pairs, "doc_id")
    return est.select("id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard"))


def q_dedup_clusters(spark, sf):
    """MinHash-LSH pairs composed transitively into duplicate CLUSTERS
    (hash-min connected components) — every doc labeled with its cluster's
    min doc_id and a keep/drop canonical flag. Oracle: recursive-CTE
    transitive closure over the identical pair set."""
    docs = _t(spark, sf, "documents")
    sigs = D.minhash_signatures(docs, "doc_id", "text", k=5, n_hashes=16)
    pairs = D.lsh_candidate_pairs(sigs, "doc_id", bands=4, rows_per_band=4,
                                  max_bucket=50)
    return D.dedup_clusters(docs, pairs, "doc_id")


def q_dedup_keep_best(spark, sf):
    """Quality-aware canonical selection (operators/dedup.cluster_canonical):
    per LSH near-dup cluster keep the highest-quality member (tie: lowest
    doc_id). One aggregate over cluster labels — the keep/drop decision a
    training-data pipeline applies after near-dup detection."""
    docs = _t(spark, sf, "documents")
    sigs = D.minhash_signatures(docs, "doc_id", "text", k=5, n_hashes=16)
    pairs = D.lsh_candidate_pairs(sigs, "doc_id", bands=4, rows_per_band=4,
                                  max_bucket=50)
    scores = X.quality_score(docs, "doc_id", "text").select("doc_id", "quality")
    return D.cluster_canonical(scores, pairs, "doc_id", "quality")


def q_minhash_incremental(spark, sf):
    """CDC-shaped dedup (operators/dedup.incremental_lsh_pairs): a new batch
    (doc_id % 5 == 0) is shingled/hashed alone and probed against the stored
    corpus band index — the corpus is never re-hashed. Output = the pairs
    the batch INTRODUCES (new-vs-corpus and within-batch), with the same
    combined bucket cap as the full-corpus operator, so the oracle is the
    full-corpus pair set restricted to pairs having a new member."""
    docs = _t(spark, sf, "documents")
    is_new = F.pmod("doc_id", F.lit(5)) == 0
    corpus_sigs = D.minhash_signatures(docs.where(~is_new), "doc_id", "text",
                                       k=5, n_hashes=16)
    index = D.band_signatures(corpus_sigs, "doc_id", bands=4, rows_per_band=4)
    new_sigs = D.minhash_signatures(docs.where(is_new), "doc_id", "text",
                                    k=5, n_hashes=16)
    new_bands = D.band_signatures(new_sigs, "doc_id", bands=4, rows_per_band=4)
    return D.incremental_lsh_pairs(new_bands, index, "doc_id", max_bucket=50)


def q_windowed_agg(spark, sf):
    from data_migration_service_spark.streaming.windows import windowed_counts

    ev = _t(spark, sf, "events")
    return windowed_counts(ev, "ts", "event_type", "1 hour", value_col="value")


def q_sessionize(spark, sf):
    from data_migration_service_spark.operators.sessions import sessionize

    ev = _t(spark, sf, "events")
    return sessionize(ev, "user_id", "ts", "30 minutes")


def q_lsn_gaps(spark, sf):
    from data_migration_service_spark.operators.sessions import lsn_gaps

    ev = _t(spark, sf, "events").where(F.pmod("event_id", F.lit(97)) != 0)
    return lsn_gaps(ev.select(F.col("event_id").alias("lsn")), "lsn")


def q_range_count_windows(spark, sf):
    """Range join (operators/ranges.py): events attributed to overlapping,
    variable-width event_id windows (spans 20..420 force multiple grid
    levels at bin_size=64) and rolled up per window — multi-level bin
    equi-join + residual filter, never a nested loop; the oracle is the
    naive BETWEEN join DuckDB can afford at sf0.01."""
    from data_migration_service_spark.operators.ranges import range_count

    ev = _t(spark, sf, "events").select("event_id")
    ivs = (
        ev.select((F.col("event_id") / 37).cast("long").alias("g")).distinct()
        .select(
            (F.col("g") * 37).alias("iv_id"),
            (F.col("g") * 37).alias("lo"),
            (F.col("g") * 37 + 20 + F.pmod(F.col("g"), F.lit(11)) * 40)
            .alias("hi"),
        )
    )
    out = range_count(ev, ivs, "event_id", "lo", "hi",
                      iv_id_cols=["iv_id", "lo", "hi"], bin_size=64)
    return out.select("iv_id", "lo", "hi", "n_points",
                      F.col("min_point").alias("min_event_id"),
                      F.col("max_point").alias("max_event_id"))


_RANGE_COUNT_SQL = """
WITH ivs AS (
  SELECT g * 37 AS iv_id, g * 37 AS lo, g * 37 + 20 + (g % 11) * 40 AS hi
  FROM (SELECT DISTINCT CAST(event_id // 37 AS BIGINT) AS g FROM events)
)
SELECT iv.iv_id, iv.lo, iv.hi,
       count(*) AS n_points,
       min(e.event_id) AS min_event_id,
       max(e.event_id) AS max_event_id
FROM ivs iv JOIN events e ON e.event_id BETWEEN iv.lo AND iv.hi
GROUP BY iv.iv_id, iv.lo, iv.hi
"""


def q_funnel_steps(spark, sf):
    """Ordered funnel (view -> click -> purchase): users reaching each step
    with the steps in TIME ORDER (a click only counts after that user's
    first view, a purchase only after that click). Scale shape: one
    filtered hash aggregate per step + a user-keyed join to the previous
    step's first-reach time — never a per-user window over the whole event
    stream, never a self cross join; each stage's build side shrinks
    monotonically."""
    ev = _t(spark, sf, "events").select("user_id", "event_type", "ts")

    def first_after(step, prev):
        e = ev.where(F.col("event_type") == step)
        if prev is not None:
            e = e.join(prev, "user_id").where(F.col("ts") > F.col("t_prev"))
        return e.groupBy("user_id").agg(F.min("ts").alias("t_prev"))

    s1 = first_after("view", None)
    s2 = first_after("click", s1)
    s3 = first_after("purchase", s2)
    parts = [
        s.agg(F.count(F.lit(1)).cast("long").alias("users"))
        .select(F.lit(i + 1).alias("step"), F.lit(name).alias("event_type"),
                "users")
        for i, (name, s) in enumerate(
            [("view", s1), ("click", s2), ("purchase", s3)])
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_FUNNEL_SQL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY e.user_id
)
SELECT 1 AS step, 'view' AS event_type, (SELECT count(*) FROM s1) AS users
UNION ALL
SELECT 2, 'click', (SELECT count(*) FROM s2)
UNION ALL
SELECT 3, 'purchase', (SELECT count(*) FROM s3)
"""


def q_cohort_retention(spark, sf):
    """Weekly cohort retention: users grouped by the Monday week of their
    FIRST event; for each (cohort week, week offset), the distinct users
    active that week. Two hash aggregates + one user-keyed join — the
    (user, week) distinct collapses the event volume before anything else,
    so the join and final rollup see at most users x weeks rows."""
    ev = _t(spark, sf, "events").select("user_id", "ts")
    wk = F.date_trunc("week", F.col("ts"))
    first = ev.groupBy("user_id").agg(F.min(wk).alias("cohort_week"))
    active = ev.select("user_id", wk.alias("week")).distinct()
    return (
        active.join(first, "user_id")
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
            .cast("long").alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("active_users"))
    )


_COHORT_SQL = """
WITH first AS (
  SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
  FROM events GROUP BY user_id
), active AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
)
SELECT strftime(f.cohort_week, '%Y-%m-%d') AS cohort_week,
       CAST(date_diff('day', f.cohort_week, a.week) // 7 AS BIGINT)
         AS week_offset,
       count(DISTINCT a.user_id) AS active_users
FROM active a JOIN first f USING (user_id)
GROUP BY 1, 2
"""


def q_hll_distinct_bound(spark, sf):
    """HLL sketch accuracy contract (the primitive under
    operators/sketches.py's incremental distinct maintenance): per
    event_type, the exact distinct-user count (oracle-checked value) plus
    `within_bound` — whether the Datasketches estimate at lg_k=12 lands
    within max(3, 5%) of exact (~3 sigma of the 1.6% HLL stderr). A sketch
    regression flips the flag and the hash mismatches; the exact column
    keeps the row content non-trivial."""
    ev = _t(spark, sf, "events")
    out = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact"),
        F.hll_sketch_estimate(
            F.hll_sketch_agg("user_id", 12)).alias("_est"),
    )
    bound = F.greatest(F.lit(3.0), F.col("n_exact") * 0.05)
    return out.select(
        "event_type", "n_exact",
        (F.abs(F.col("_est") - F.col("n_exact")) <= bound)
        .alias("within_bound"),
    )


_HLL_DISTINCT_SQL = """
SELECT event_type,
       count(DISTINCT user_id) AS n_exact,
       true AS within_bound
FROM events GROUP BY event_type
"""


def q_top_events_per_type(spark, sf):
    """Top-N per group (the ranking half of the relational surface): the 3
    highest-value events of each type, deterministic tie-break on event_id.
    The `row_number() <= 3` filter plans as Partial+Final WindowGroupLimit
    (pinned in tests/test_plans.py) — each input partition keeps only its
    own top 3 per group BEFORE the exchange, so the shuffle moves
    O(groups x N x partitions) rows, never the table; the full-group sort
    a naive window would pay never happens."""
    ev = _t(spark, sf, "events")
    w = W.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("event_type", "event_id",
                F.round("value", 2).alias("value_r"),
                F.col("rn").cast("long").alias("rn"))
    )


_TOP_EVENTS_SQL = """
SELECT event_type, event_id, round(value, 2) AS value_r, rn
FROM (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id) AS rn
  FROM events
) WHERE rn <= 3
"""


def q_stream_enrich(spark, sf):
    """Stream-stream enrichment join, batch twin (streaming/enrich.py):
    every event paired with the user's dimension versions (events with
    event_id % 50 == 0 acting as profile updates) current within the hour
    before it — equi-join on the key plus the event-time range constraint,
    the exact plan the watermarked streaming variant runs. Oracle = the
    same BETWEEN join in DuckDB."""
    from data_migration_service_spark.streaming.enrich import enrich_join

    ev = _t(spark, sf, "events")
    facts = ev.select(F.col("event_id").alias("fact_id"), "user_id",
                      F.col("ts").alias("fact_ts"))
    dims = ev.where(F.pmod("event_id", F.lit(50)) == 0).select(
        F.col("event_id").alias("dim_id"), "user_id",
        F.col("ts").alias("dim_ts"))
    out = enrich_join(facts, dims, ["user_id"], "fact_ts", "dim_ts",
                      tolerance="1 hour")
    return out.select("fact_id", "user_id", "dim_id")


_STREAM_ENRICH_SQL = """
SELECT f.event_id AS fact_id, f.user_id, d.event_id AS dim_id
FROM events f
JOIN (SELECT * FROM events WHERE event_id % 50 = 0) d
  ON f.user_id = d.user_id
 AND d.ts BETWEEN f.ts - INTERVAL 1 HOUR AND f.ts
"""


def q_ngram_jaccard(spark, sf):
    docs = _t(spark, sf, "documents")
    sigs = D.minhash_signatures(docs, "doc_id", "text", k=5, n_hashes=16)
    pairs = D.lsh_candidate_pairs(sigs, "doc_id", bands=4, rows_per_band=4,
                                  max_bucket=50)
    return D.ngram_jaccard_pairs(docs, "doc_id", "text", pairs, k=5)


def q_embedding_near_dup(spark, sf):
    emb = _t(spark, sf, "embeddings")
    out = S.near_dup_pairs(emb, "vec_id", "embedding", threshold=0.4)
    return out.withColumn("cosine", F.round("cosine", 4))


def _bucket_sql_expr(vec: str = "e", n_planes: int = 8, dim: int = 64,
                     seed: int = 42) -> str:
    """DuckDB expression for the engine's LSH bucket id: the hyperplanes are
    deterministically derived (similarity._hyperplane, seed-based), so the
    oracle re-derives them driver-side as literal arrays — bit p set iff
    dot(v, hyperplane_p) > 0, exactly the Spark-side `lsh_bucket`."""
    from data_migration_service_spark.operators.similarity import _hyperplane

    terms = []
    for p in range(n_planes):
        arr = "[" + ", ".join(
            f"{float(x):.1f}" for x in _hyperplane(dim, p, seed)) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product({vec}, {arr}) > 0 "
            f"THEN {1 << p} ELSE 0 END)"
        )
    return " + ".join(terms)


def q_embedding_near_dup_lsh(spark, sf):
    """Scale path for near-dup pairs: LSH-bucketed candidates (Hamming<=1
    probe join) + exact-cosine rerank — the oracle recomputes the identical
    bucket rule in SQL, so the result is value-exact checked, and its recall
    vs the all-pairs `embedding_near_dup` query is visible to the driver
    (both run on the same table at the same threshold)."""
    emb = _t(spark, sf, "embeddings")
    out = S.near_dup_pairs_lsh(emb, "vec_id", "embedding", threshold=0.4,
                               n_planes=8, probe_hamming=1, dim=64)
    return out.withColumn("cosine", F.round("cosine", 4))


def q_embedding_incremental(spark, sf):
    """CDC-shaped embedding dedup (similarity.incremental_near_dup_pairs):
    a new batch (vec_id % 5 == 0) is bucketed alone and probed against the
    stored corpus vector index; exact invariant (also pinned in pytest):
    == near_dup_pairs_lsh(union) restricted to pairs with >=1 new member."""
    emb = _t(spark, sf, "embeddings")
    new = emb.where(F.col("vec_id") % 5 == 0)
    old = emb.where(F.col("vec_id") % 5 != 0)
    index = S.vector_index(old, "vec_id", "embedding", dim=64)
    new_idx = S.vector_index(new, "vec_id", "embedding", dim=64)
    out = S.incremental_near_dup_pairs(new_idx, index, "vec_id",
                                       threshold=0.4, probe_hamming=1)
    return out.withColumn("cosine", F.round("cosine", 4))


def _embedding_incremental_sql() -> str:
    """Twin of `incremental_near_dup_pairs` via its invariant: the
    union-corpus LSH pair set (identical bucket rule) restricted to pairs
    with at least one new (vec_id % 5 = 0) member, plus the kind tag."""
    return f"""
        WITH v AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        ), b AS (
          SELECT vec_id, e, {_bucket_sql_expr('e')} AS bkt FROM v
        )
        SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
               round(list_cosine_similarity(a.e, b2.e), 4) AS cosine,
               CASE WHEN a.vec_id % 5 = 0 AND b2.vec_id % 5 = 0
                    THEN 'new_new' ELSE 'new_corpus' END AS pair_kind
        FROM b a JOIN b b2
          ON a.vec_id < b2.vec_id
         AND bit_count(xor(CAST(a.bkt AS BIGINT), CAST(b2.bkt AS BIGINT))) <= 1
        WHERE list_cosine_similarity(a.e, b2.e) >= 0.4
          AND (a.vec_id % 5 = 0 OR b2.vec_id % 5 = 0)
    """


def _near_dup_lsh_sql() -> str:
    return f"""
        WITH v AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        ), b AS (
          SELECT vec_id, e, {_bucket_sql_expr('e')} AS bkt FROM v
        )
        SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
               round(list_cosine_similarity(a.e, b2.e), 4) AS cosine
        FROM b a JOIN b b2
          ON a.vec_id < b2.vec_id
         AND bit_count(xor(CAST(a.bkt AS BIGINT), CAST(b2.bkt AS BIGINT))) <= 1
        WHERE list_cosine_similarity(a.e, b2.e) >= 0.4
    """


def _ann_lsh_sql(k: int = 25) -> str:
    return f"""
        WITH v AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        ), b AS (
          SELECT vec_id, e, {_bucket_sql_expr('e')} AS bkt FROM v
        ), q AS (
          SELECT e AS qe, bkt AS qb FROM b WHERE vec_id = 0
        )
        SELECT vec_id,
               round(list_cosine_similarity(e, (SELECT qe FROM q)), 4) AS cosine
        FROM b
        WHERE bit_count(xor(CAST(bkt AS BIGINT),
                            (SELECT CAST(qb AS BIGINT) FROM q))) <= 1
        ORDER BY round(list_cosine_similarity(e, (SELECT qe FROM q)), 6) DESC,
                 vec_id
        LIMIT {k}
    """


def _ivf_topk_sql(k: int = 25, n_centroids: int = 8, n_probe: int = 2,
                  dim: int = 64, seed: int = 42) -> str:
    """DuckDB twin of `q_embedding_ivf_topk`: same hash-derived centroid
    literals, same argmin assignment (score = |c|^2 - 2 v·c, index
    tie-break via lexicographic [score, idx]), same top-`n_probe` cell
    choice for the query vector, same exact-cosine rerank."""
    from data_migration_service_spark.operators.similarity import pseudo_centroids

    cents = pseudo_centroids(dim=dim, n_centroids=n_centroids, seed=seed)
    rows = ", ".join(
        "({i}, [{c}]::DOUBLE[], {ss!r})".format(
            i=i, c=", ".join(repr(x) for x in c), ss=sum(x * x for x in c))
        for i, c in enumerate(cents)
    )
    return f"""
        WITH v AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        ), q AS (
          SELECT e AS qe FROM v WHERE vec_id = 0
        ), cent(ci, c, ss) AS (
          SELECT * FROM (VALUES {rows})
        ), assign AS (
          SELECT v.vec_id, v.e,
                 CAST(min([c.ss - 2.0 * list_dot_product(v.e, c.c),
                           CAST(c.ci AS DOUBLE)])[2] AS INT) AS cell
          FROM v CROSS JOIN cent c GROUP BY v.vec_id, v.e
        ), probes AS (
          SELECT c.ci FROM cent c CROSS JOIN q
          ORDER BY [c.ss - 2.0 * list_dot_product(q.qe, c.c),
                    CAST(c.ci AS DOUBLE)]
          LIMIT {n_probe}
        )
        SELECT a.vec_id,
               round(list_cosine_similarity(a.e, (SELECT qe FROM q)), 4) AS cosine
        FROM assign a
        WHERE a.cell IN (SELECT ci FROM probes)
        ORDER BY round(list_cosine_similarity(a.e, (SELECT qe FROM q)), 6) DESC,
                 a.vec_id
        LIMIT {k}
    """


def _pq_topk_sql(k: int = 25, rerank: int = 4, m: int = 8, n_codes: int = 16,
                 dim: int = 64, seed: int = 42) -> str:
    """DuckDB twin of `q_embedding_pq_topk`: same hash-derived codebook
    literals, same per-subspace argmin assignment ([score, idx] min), same
    INTEGER ADC lookup tables (floor(dot * 2^20 + 0.5) — order-independent
    sum, so the candidate cut is bit-identical), same exact-cosine rerank."""
    from data_migration_service_spark.operators.similarity import (
        pq_pseudo_codebooks,
    )

    cbs = pq_pseudo_codebooks(dim=dim, m=m, n_codes=n_codes, seed=seed)
    dsub = dim // m
    rows = ", ".join(
        "({j}, {i}, [{c}]::DOUBLE[], {ss!r})".format(
            j=j, i=i, c=", ".join(repr(x) for x in c),
            ss=sum(x * x for x in c))
        for j, cb in enumerate(cbs) for i, c in enumerate(cb)
    )
    return f"""
        WITH v AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        ), q AS (
          SELECT e AS qe FROM v WHERE vec_id = 0
        ), cent(j, ci, c, ss) AS (
          SELECT * FROM (VALUES {rows})
        ), codes AS (
          SELECT v.vec_id, cent.j,
                 CAST(min([cent.ss - 2.0 * list_dot_product(
                             v.e[cent.j*{dsub}+1 : cent.j*{dsub}+{dsub}],
                             cent.c),
                           CAST(cent.ci AS DOUBLE)])[2] AS INT) AS code
          FROM v CROSS JOIN cent GROUP BY v.vec_id, cent.j
        ), lut AS (
          SELECT cent.j, cent.ci,
                 CAST(floor(list_dot_product(
                        (SELECT qe FROM q)[cent.j*{dsub}+1 : cent.j*{dsub}+{dsub}],
                        cent.c) * 1048576.0 + 0.5) AS BIGINT) AS ival
          FROM cent
        ), scores AS (
          SELECT codes.vec_id, sum(lut.ival) AS adc
          FROM codes JOIN lut ON lut.j = codes.j AND lut.ci = codes.code
          GROUP BY codes.vec_id
        ), cand AS (
          SELECT vec_id FROM scores ORDER BY adc DESC, vec_id
          LIMIT {k * rerank}
        )
        SELECT v.vec_id,
               round(list_cosine_similarity(v.e, (SELECT qe FROM q)), 4)
                 AS cosine
        FROM v JOIN cand USING (vec_id)
        ORDER BY round(list_cosine_similarity(v.e, (SELECT qe FROM q)), 6)
                   DESC,
                 v.vec_id
        LIMIT {k}
    """


def _ivfpq_topk_sql(k: int = 25, n_centroids: int = 8, n_probe: int = 2,
                    m: int = 8, n_codes: int = 16, dim: int = 64,
                    seed: int = 42) -> str:
    """DuckDB twin of `q_embedding_ivfpq_topk`: the full IVFADC composition
    — same hash-derived coarse centroids and PQ codebooks, same cell argmin
    + top-n_probe probe choice, same elementwise residual (v - centroid),
    same per-subspace residual-code argmin, same per-probed-cell INTEGER
    lookup tables over the query's residual, same exact-cosine rerank."""
    from data_migration_service_spark.operators.similarity import (
        pq_pseudo_codebooks,
        pseudo_centroids,
    )

    cents = pseudo_centroids(dim=dim, n_centroids=n_centroids, seed=seed)
    cbs = pq_pseudo_codebooks(dim=dim, m=m, n_codes=n_codes, seed=seed)
    dsub = dim // m
    crows = ", ".join(
        "({i}, [{c}]::DOUBLE[], {ss!r})".format(
            i=i, c=", ".join(repr(x) for x in c), ss=sum(x * x for x in c))
        for i, c in enumerate(cents)
    )
    brows = ", ".join(
        "({j}, {i}, [{c}]::DOUBLE[], {ss!r})".format(
            j=j, i=i, c=", ".join(repr(x) for x in c),
            ss=sum(x * x for x in c))
        for j, cb in enumerate(cbs) for i, c in enumerate(cb)
    )
    return f"""
        WITH v AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        ), q AS (
          SELECT e AS qe FROM v WHERE vec_id = 0
        ), cent(ci, c, ss) AS (
          SELECT * FROM (VALUES {crows})
        ), cb(j, ki, cc, ss2) AS (
          SELECT * FROM (VALUES {brows})
        ), assign AS (
          SELECT v.vec_id, v.e,
                 CAST(min([c.ss - 2.0 * list_dot_product(v.e, c.c),
                           CAST(c.ci AS DOUBLE)])[2] AS INT) AS cell
          FROM v CROSS JOIN cent c GROUP BY v.vec_id, v.e
        ), probes AS (
          SELECT c.ci FROM cent c CROSS JOIN q
          ORDER BY [c.ss - 2.0 * list_dot_product(q.qe, c.c),
                    CAST(c.ci AS DOUBLE)]
          LIMIT {n_probe}
        ), resid AS (
          SELECT a.vec_id, a.e, a.cell,
                 list_transform(generate_series(1, {dim}),
                                i -> a.e[i] - c.c[i]) AS r
          FROM assign a JOIN cent c ON c.ci = a.cell
          WHERE a.cell IN (SELECT ci FROM probes)
        ), codes AS (
          SELECT resid.vec_id, resid.cell, cb.j,
                 CAST(min([cb.ss2 - 2.0 * list_dot_product(
                             resid.r[cb.j*{dsub}+1 : cb.j*{dsub}+{dsub}],
                             cb.cc),
                           CAST(cb.ki AS DOUBLE)])[2] AS INT) AS code
          FROM resid CROSS JOIN cb GROUP BY resid.vec_id, resid.cell, cb.j
        ), qres AS (
          SELECT c.ci, list_transform(generate_series(1, {dim}),
                                      i -> q.qe[i] - c.c[i]) AS qr
          FROM cent c CROSS JOIN q
          WHERE c.ci IN (SELECT ci FROM probes)
        ), lut AS (
          SELECT qres.ci, cb.j, cb.ki,
                 CAST(floor(list_dot_product(
                        qres.qr[cb.j*{dsub}+1 : cb.j*{dsub}+{dsub}],
                        cb.cc) * 1048576.0 + 0.5) AS BIGINT) AS ival
          FROM qres CROSS JOIN cb
        ), scores AS (
          SELECT codes.vec_id, sum(lut.ival) AS adc
          FROM codes JOIN lut ON lut.ci = codes.cell AND lut.j = codes.j
                             AND lut.ki = codes.code
          GROUP BY codes.vec_id
        ), cand AS (
          SELECT vec_id FROM scores ORDER BY adc DESC, vec_id
          LIMIT {k * 4}
        )
        SELECT v.vec_id,
               round(list_cosine_similarity(v.e, (SELECT qe FROM q)), 4)
                 AS cosine
        FROM v JOIN cand USING (vec_id)
        ORDER BY round(list_cosine_similarity(v.e, (SELECT qe FROM q)), 6)
                   DESC,
                 v.vec_id
        LIMIT {k}
    """


def q_embedding_ivfpq_topk(spark, sf):
    """IVF-PQ / IVFADC ANN (Jegou et al. 2011, the billion-scale index
    shape): coarse cells prune the scan to n_probe partitions, residual
    (v - centroid) PQ codes compress each kept vector to m bytes, ADC
    scoring is m integer-LUT lookups per row with a LUT per probed cell,
    and only the k*rerank survivors touch full vectors. Hash-derived
    centroids + codebooks make the whole composition oracle-checkable;
    the trained path (ivf_fit + pq_fit_residuals) is pinned by
    tests/test_similarity.py."""
    emb = _t(spark, sf, "embeddings")
    qv = [float(x) for x in
          emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]]
    cents = S.pseudo_centroids(dim=64, n_centroids=8, seed=42)
    cbs = S.pq_pseudo_codebooks(dim=64, m=8, n_codes=16, seed=42)
    out = S.ivfpq_topk(emb, "vec_id", "embedding", qv, cents, cbs,
                       k=25, n_probe=2, rerank=4)
    return out.withColumn("cosine", F.round("cosine", 4))


def q_embedding_pq_topk(spark, sf):
    """Product-quantization ANN with asymmetric distance (Jegou et al.
    2011, the billion-scale standard): corpus vectors become m-byte codes,
    scoring is m integer table lookups, exact rerank on the survivors.
    Hash-derived codebooks (`pq_pseudo_codebooks`) make the whole pipeline
    oracle-checkable; the TRAINED path (`pq_fit`, per-subspace k-means) is
    pinned by tests/test_similarity.py."""
    emb = _t(spark, sf, "embeddings")
    qv = [float(x) for x in
          emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]]
    cbs = S.pq_pseudo_codebooks(dim=64, m=8, n_codes=16, seed=42)
    out = S.pq_topk(emb, "vec_id", "embedding", qv, cbs, k=25, rerank=4)
    return out.withColumn("cosine", F.round("cosine", 4))


def q_embedding_topk(spark, sf):
    emb = _t(spark, sf, "embeddings")
    qv = [float(x) for x in
          emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]]
    out = S.cosine_scores(emb, "vec_id", "embedding", qv)
    return (
        out.withColumn("cosine", F.round("cosine", 4))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(25)
    )


def q_embedding_ann_lsh(spark, sf):
    emb = _t(spark, sf, "embeddings")
    qv = [float(x) for x in
          emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]]
    out = S.lsh_topk(emb, "vec_id", "embedding", qv, k=25)
    return out.withColumn("cosine", F.round("cosine", 4))


def q_embedding_ivf_topk(spark, sf):
    """IVF ANN probe search over deterministic hash-derived centroids
    (`pseudo_centroids`) — the assignment argmin, probe-cell pruning, and
    exact-cosine rerank are the very pipeline `ivf_fit`-trained centroids
    run, but with centroids DuckDB can re-derive, so the query is fully
    oracle-checked. The TRAINED path (Spark ML k-means) is pinned by
    tests/test_similarity.py (recall vs brute force, exactness at full
    probe)."""
    emb = _t(spark, sf, "embeddings")
    qv = [float(x) for x in
          emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]]
    cents = S.pseudo_centroids(dim=64, n_centroids=8, seed=42)
    out = S.ivf_topk(emb, "vec_id", "embedding", qv, cents, k=25, n_probe=2)
    return out.withColumn("cosine", F.round("cosine", 4))


def q_semantic_dedup(spark, sf):
    """SemDeDup (similarity.semantic_dedup): cluster-bounded semantic
    dedup — embedding-space near-duplicate removal where pair generation
    is an equi-join on the nearest-centroid cell (per-cell quadratic,
    never corpus x corpus). Hash-derived `pseudo_centroids` make the
    assignment + in-cell dominance rule fully oracle-checkable; the
    trained-centroid path (`ivf_fit`) runs the identical pipeline."""
    emb = _t(spark, sf, "embeddings")
    cents = S.pseudo_centroids(dim=64, n_centroids=8, seed=42)
    return S.semantic_dedup(emb, "vec_id", "embedding", cents, eps=0.4)


def _semantic_dedup_sql(n_centroids: int = 8, dim: int = 64, seed: int = 42,
                        eps: float = 0.4) -> str:
    """DuckDB twin of `q_semantic_dedup`: same centroid literals and argmin
    assignment as `_ivf_topk_sql`, then the greedy keep-lowest-id rule —
    drop vec_id iff a lower-id member of its cell is eps-close."""
    from data_migration_service_spark.operators.similarity import pseudo_centroids

    cents = pseudo_centroids(dim=dim, n_centroids=n_centroids, seed=seed)
    rows = ", ".join(
        "({i}, [{c}]::DOUBLE[], {ss!r})".format(
            i=i, c=", ".join(repr(x) for x in c), ss=sum(x * x for x in c))
        for i, c in enumerate(cents)
    )
    return f"""
        WITH v AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        ), cent(ci, c, ss) AS (
          SELECT * FROM (VALUES {rows})
        ), assign AS (
          SELECT v.vec_id, v.e,
                 CAST(min([c.ss - 2.0 * list_dot_product(v.e, c.c),
                           CAST(c.ci AS DOUBLE)])[2] AS INT) AS cell
          FROM v CROSS JOIN cent c GROUP BY v.vec_id, v.e
        ), dropped AS (
          SELECT DISTINCT b.vec_id
          FROM assign a JOIN assign b
            ON a.cell = b.cell AND a.vec_id < b.vec_id
          WHERE list_cosine_similarity(a.e, b.e) >= {eps!r}
        )
        SELECT a.vec_id, a.cell FROM assign a
        WHERE a.vec_id NOT IN (SELECT vec_id FROM dropped)
    """


def q_frame_sample(spark, sf):
    """Deterministic video frame-sampling plan (multimodal.frame_sample_plan):
    which timestamps to decode — segment-midpoint integer math, computed
    distributed before any decoder runs. Oracle re-derives the same plan
    with generate_series over the fixture's (id*500 ms) durations."""
    from data_migration_service_spark.operators.multimodal import (
        frame_sample_plan,
        gen_media_fixture,
    )

    media = gen_media_fixture(spark, n=64)
    return frame_sample_plan(media, target_frames=8, min_spacing_ms=100) \
        .select("media_id", "duration_ms", "n_frames", "frame_idx", "ts_ms")


_FRAME_SAMPLE_SQL = """
WITH v AS (
  SELECT id AS media_id, CAST(id * 500 AS BIGINT) AS duration_ms
  FROM range(64) t(id) WHERE id % 3 = 2
), n AS (
  SELECT media_id, duration_ms,
         CAST(CASE WHEN duration_ms > 0
              THEN least(8, greatest(1, duration_ms // 100))
              ELSE 1 END AS INT) AS n_frames
  FROM v
)
SELECT media_id, duration_ms, n_frames, frame_idx,
       CAST((2 * frame_idx + 1) * duration_ms
            // (2 * n_frames) AS BIGINT) AS ts_ms
FROM (
  SELECT media_id, duration_ms, n_frames,
         CAST(unnest(generate_series(0, n_frames - 1)) AS INT) AS frame_idx
  FROM n
)
"""


def q_multimodal_features(spark, sf):
    media = gen_media_fixture(spark, n=64)
    feats = extract_features(media, dim=8)
    return feats.select(
        "media_id", "kind", "n_bytes",
        F.round(F.aggregate("feature", F.lit(0.0), lambda a, b: a + b), 6)
        .alias("feature_sum"),
    )


# DuckDB twin of the multimodal stub chain (operators/multimodal.py):
# payload bytes are the UTF-8 of repeat(sha256_hex('42'||id), id%8+1), so
# sha256(payload) == DuckDB's VARCHAR sha256 of the same text; feature i =
# round(byte_i(digest)/255, 6), summed and re-rounded like the Spark query.
_MULTIMODAL_SQL = """
WITH m AS (
  SELECT id AS media_id,
         ['image','audio','video'][CAST(id % 3 AS INT) + 1] AS kind,
         repeat(sha256('42' || CAST(id AS VARCHAR)),
                CAST(id % 8 AS INT) + 1) AS payload_text
  FROM range(64) t(id)
), f AS (
  SELECT media_id, kind,
         CAST(length(payload_text) AS BIGINT) AS n_bytes,
         sha256(payload_text) AS h2
  FROM m
), b AS (
  SELECT media_id, kind, n_bytes,
         round(CAST('0x' || substr(h2, CAST(2 * i + 1 AS INT), 2) AS INT)
               / 255.0, 6) AS fv
  FROM f, range(8) r(i)
)
SELECT media_id, kind, n_bytes, round(sum(fv), 6) AS feature_sum
FROM b GROUP BY media_id, kind, n_bytes
"""


def q_topk_per_group(spark, sf):
    """Top-3 orders per customer by price (dense window rank) — the
    bounded-fanout per-key ranking every retention/sampling pipeline
    needs; partitioned window, no global sort."""
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        _t(spark, sf, "orders")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey",
                F.round("o_totalprice", 2).alias("price"),
                F.col("rk").cast("long").alias("rk"))
    )


_TOPK_PER_GROUP_SQL = """
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price, rk
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders
)
WHERE rk <= 3
"""


def q_rollup_revenue(spark, sf):
    """ROLLUP (nation, mktsegment) revenue — hierarchical totals in one
    pass (partial aggregation per grouping set; Catalyst expands the
    rollup without re-reading the scan)."""
    c, o = _t(spark, sf, "customer"), _t(spark, sf, "orders")
    j = o.join(c, o["o_custkey"] == c["c_custkey"])
    return (
        j.rollup("c_nationkey", "c_mktsegment")
        .agg((F.sum(_cents("o_totalprice")) / 100.0).alias("revenue"),
             F.count(F.lit(1)).alias("n_orders"))
        .select(
            F.coalesce(F.col("c_nationkey").cast("string"), F.lit("ALL"))
            .alias("nation"),
            F.coalesce("c_mktsegment", F.lit("ALL")).alias("segment"),
            "revenue", "n_orders",
        )
    )


_ROLLUP_REVENUE_SQL = """
SELECT coalesce(CAST(c_nationkey AS VARCHAR), 'ALL') AS nation,
       coalesce(c_mktsegment, 'ALL') AS segment,
       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
            AS DOUBLE) / 100.0 AS revenue,
       count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY ROLLUP (c_nationkey, c_mktsegment)
"""


def q_cube_doc_stats(spark, sf):
    """CUBE (lang, source) over documents — all four grouping sets in one
    pass (Catalyst Expand: partial aggregation per set, scan read once).
    `gid` disambiguates a real NULL group key from a subtotal row the way
    GROUPING() does in ANSI SQL; sentinels keep the driver hash stable."""
    docs = _t(spark, sf, "documents")
    return (
        docs.cube("lang", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_chars").alias("sum_chars"),
             (F.grouping("lang") * 2 + F.grouping("source"))
             .cast("long").alias("gid"))
        .select(
            F.coalesce("lang", F.lit("ALL")).alias("lang"),
            F.coalesce("source", F.lit("ALL")).alias("source"),
            "gid", "n_docs", "sum_chars",
        )
    )


_CUBE_DOC_STATS_SQL = """
SELECT coalesce(lang, 'ALL') AS lang,
       coalesce(source, 'ALL') AS source,
       CAST(GROUPING(lang) * 2 + GROUPING(source) AS BIGINT) AS gid,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY CUBE (lang, source)
"""


def q_pivot_lang_counts(spark, sf):
    """PIVOT: per-source document counts spread across language columns —
    the reshape step of a corpus-composition report. Explicit pivot values
    keep the plan a single pass (no distinct-scan to discover columns) and
    make the output schema static, which is what a 100 TB job wants anyway
    (a data-dependent column set is a driver-side collect in disguise)."""
    docs = _t(spark, sf, "documents")
    langs = ["de", "en", "es", "fr", "zh"]
    return (
        docs.groupBy("source").pivot("lang", langs).count()
        .na.fill(0, langs)
    )


_PIVOT_LANG_COUNTS_SQL = """
SELECT source,
       count(*) FILTER (lang = 'de') AS de,
       count(*) FILTER (lang = 'en') AS en,
       count(*) FILTER (lang = 'es') AS es,
       count(*) FILTER (lang = 'fr') AS fr,
       count(*) FILTER (lang = 'zh') AS zh
FROM documents
GROUP BY source
"""


def q_merge_upsert(spark, sf):
    """Generic conditional MERGE (operators/merge_into.merge_frames — the
    Delta MERGE INTO resolution core): customers merged against a per-key
    order rollup. Exercises every clause kind in Delta's evaluation order:
    a conditional DELETE (single-order customers vanish), a conditional
    UPDATE (high spenders get acctbal bumped + remarked), matched-keep
    fallthrough, a conditional INSERT of source-only keys (one in ten
    custkeys is remapped out of the target's key space), and source-only
    drop below the insert threshold. The oracle re-derives the same final
    state as two relational branches (kept/updated target rows UNION
    inserted source rows).

    Bit-stability: `spend` is aggregated as integer CENTS (each price is an
    exact 2-decimal double, so round(price*100) is exact and the sum is an
    order-independent int64), and the acctbal bump is pure integer
    arithmetic finished by one double division by 10^4 — no float sum ever
    reaches a rounding boundary, so Spark and the DuckDB oracle agree to
    the last bit regardless of summation order (round-3 driver caught a
    one-cent ULP drift in the previous float formulation)."""
    from data_migration_service_spark.operators.merge_into import merge_frames

    cust = spark.read.parquet(f"{sf}/customer.parquet")
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    src = (
        orders.groupBy("o_custkey")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
             .alias("spend_cents"),
             F.count(F.lit(1)).alias("n_orders"))
        .select(
            F.when(F.col("o_custkey") % 10 == 0,
                   F.col("o_custkey") + 4000000)
            .otherwise(F.col("o_custkey")).alias("c_custkey"),
            "spend_cents", "n_orders")
    )
    out = merge_frames(
        cust, src, ["c_custkey"],
        matched=[
            {"action": "delete", "condition": "s.n_orders <= 1"},
            {"action": "update", "condition": "s.spend_cents > 100000",
             "set": {"c_acctbal":
                     "cast(cast(round(t.c_acctbal * 100, 0) as bigint) * 100"
                     " + s.spend_cents as double) / 10000.0",
                     "c_mktsegment": "'UPSERTED'"}},
        ],
        not_matched={
            "condition": "s.spend_cents > 500000",
            "values": {
                "c_name": "concat('new#', cast(s.c_custkey as string))",
                "c_nationkey": "cast(null as int)",
                "c_acctbal": "cast(s.spend_cents as double) / 10000.0",
                "c_mktsegment": "'NEWBIE'",
            },
        },
    )
    return out.select("c_custkey", "c_name", "c_nationkey",
                      "c_acctbal", "c_mktsegment")


_MERGE_UPSERT_SQL = """
WITH src AS (
  SELECT CASE WHEN o_custkey % 10 = 0 THEN o_custkey + 4000000
              ELSE o_custkey END AS c_custkey,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS spend_cents,
         count(*) AS n_orders
  FROM orders GROUP BY 1
)
SELECT t.c_custkey, t.c_name, t.c_nationkey,
       CASE WHEN s.c_custkey IS NOT NULL
             AND NOT (s.n_orders <= 1) AND s.spend_cents > 100000
            THEN CAST(CAST(round(t.c_acctbal * 100, 0) AS BIGINT) * 100
                      + s.spend_cents AS DOUBLE) / 10000.0
            ELSE t.c_acctbal END AS c_acctbal,
       CASE WHEN s.c_custkey IS NOT NULL
             AND NOT (s.n_orders <= 1) AND s.spend_cents > 100000
            THEN 'UPSERTED' ELSE t.c_mktsegment END AS c_mktsegment
FROM customer t LEFT JOIN src s ON t.c_custkey = s.c_custkey
WHERE NOT coalesce(s.n_orders <= 1, FALSE)
UNION ALL
SELECT s.c_custkey, 'new#' || CAST(s.c_custkey AS VARCHAR),
       CAST(NULL AS INT), CAST(s.spend_cents AS DOUBLE) / 10000.0, 'NEWBIE'
FROM src s LEFT JOIN customer t ON t.c_custkey = s.c_custkey
WHERE t.c_custkey IS NULL AND s.spend_cents > 500000
"""


def q_merge_sync(spark, sf):
    """Full-snapshot sync via WHEN NOT MATCHED BY SOURCE
    (operators/merge_into.py): the source is the set of currently-active
    custkeys (those with a 1995+ order); matched customers get re-flagged,
    target-only (inactive) customers are either demoted (negative balance)
    or deleted — the Delta by-source clause family, first-match-wins."""
    from data_migration_service_spark.operators.merge_into import merge_frames

    cust = spark.read.parquet(f"{sf}/customer.parquet")
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    src = (orders.where(F.year("o_orderdate") >= 1995)
           .select(F.col("o_custkey").alias("c_custkey")).distinct())
    out = merge_frames(
        cust, src, ["c_custkey"],
        matched=[{"action": "update", "condition": None,
                  "set": {"c_mktsegment": "'ACTIVE'"}}],
        not_matched_by_source=[
            {"action": "update", "condition": "t.c_acctbal < 0",
             "set": {"c_mktsegment": "'DORMANT'"}},
            {"action": "delete", "condition": None},
        ])
    return out.select("c_custkey", "c_name", "c_nationkey",
                      F.round("c_acctbal", 2).alias("c_acctbal"),
                      "c_mktsegment")


_MERGE_SYNC_SQL = """
WITH src AS (
  SELECT DISTINCT o_custkey AS c_custkey FROM orders
  WHERE year(o_orderdate) >= 1995
)
SELECT t.c_custkey, t.c_name, t.c_nationkey, round(t.c_acctbal, 2) AS c_acctbal,
       CASE WHEN s.c_custkey IS NOT NULL THEN 'ACTIVE'
            WHEN t.c_acctbal < 0 THEN 'DORMANT'
            ELSE t.c_mktsegment END AS c_mktsegment
FROM customer t LEFT JOIN src s ON t.c_custkey = s.c_custkey
WHERE s.c_custkey IS NOT NULL OR t.c_acctbal < 0
"""


def q_debezium_roundtrip(spark, sf):
    """Debezium wire-format codec (sources/debezium.py): cast the events
    table into a CDC shape, encode as JSON envelopes, decode back, and
    aggregate. encode∘decode is the identity, so the oracle computes the
    same aggregate straight off the table — any codec asymmetry (op
    mapping, delete before-images, null handling) breaks the hash."""
    from data_migration_service_spark.sources.debezium import (
        decode_debezium,
        encode_debezium,
    )

    typed = _t(spark, sf, "events").select(
        F.col("user_id").cast("string").alias("repo"),
        F.col("event_id").cast("string").alias("path"),
        F.col("props").alias("content"),
        F.when(F.col("event_type") == "signup", F.lit("insert"))
        .when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("update")).alias("op"),
        F.col("event_id").alias("lsn"),
        F.col("ts"),
    )
    rs = T.StructType([
        T.StructField("repo", T.StringType(), True),
        T.StructField("path", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
    ])
    dec = decode_debezium(
        encode_debezium(typed, ["repo", "path", "content"]), rs)
    return dec.groupBy("op").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("lsn").alias("sum_lsn"),
        F.sum(F.length("content")).alias("content_chars"),
        F.countDistinct("repo").alias("n_repos"),
    )


_DEBEZIUM_ROUNDTRIP_SQL = """
SELECT op, count(*) AS n, CAST(sum(lsn) AS BIGINT) AS sum_lsn,
       CAST(sum(length(content)) AS BIGINT) AS content_chars,
       count(DISTINCT repo) AS n_repos
FROM (
  SELECT CAST(user_id AS VARCHAR) AS repo,
         props AS content,
         CASE WHEN event_type = 'signup' THEN 'insert'
              WHEN event_type = 'error' THEN 'delete'
              ELSE 'update' END AS op,
         event_id AS lsn
  FROM events
)
GROUP BY op
"""


def q_scd2_history(spark, sf):
    """Type-2 history of the derived CDC log (operators/scd.py): one row
    per version with [valid_from, valid_to) in LSN order; deletes close
    intervals without emitting rows. Single key-partitioned window."""
    from data_migration_service_spark.operators.scd import scd2_history

    log = _derived_changes(spark, sf)
    hist = scd2_history(log, keys=["repo", "path"], lsn_col="lsn",
                        op_col="op", data_cols=["content"])
    return hist.select(
        "repo", "path", F.sha2("content", 256).alias("content_sha256"),
        "valid_from", "valid_to", "is_current",
    )


_SCD2_SQL = _DERIVED_CHANGES_SQL + """
, led AS (
  SELECT repo, path, content, op, lsn AS valid_from,
         lead(lsn) OVER (PARTITION BY repo, path ORDER BY lsn) AS valid_to
  FROM log
)
SELECT repo, path, sha256(content) AS content_sha256, valid_from, valid_to,
       (valid_to IS NULL) AS is_current
FROM led WHERE op <> 'delete'
"""


def q_asof_lookup(spark, sf):
    """As-of join (operators/asof.py): for every (key, lsn+5) probe, the
    latest log event at or before the probe ordinate — union-and-carry
    window plan, one shuffle, no range join. DuckDB's native ASOF JOIN is
    the oracle."""
    from data_migration_service_spark.operators.asof import asof_join

    log = _derived_changes(spark, sf)
    probe = log.select("repo", "path", (F.col("lsn") + 5).alias("probe_lsn"))
    out = asof_join(probe, log.select("repo", "path", "lsn", "content"),
                    keys=["repo", "path"], probe_ord="probe_lsn",
                    build_ord="lsn", value_cols=["content"], how="inner")
    return out.select(
        "repo", "path", "probe_lsn", "matched_lsn",
        F.sha2("content", 256).alias("content_sha256"),
    )


_ASOF_SQL = _DERIVED_CHANGES_SQL + """
, probe AS (SELECT repo, path, lsn + 5 AS probe_lsn FROM log)
SELECT p.repo, p.path, p.probe_lsn, b.lsn AS matched_lsn,
       sha256(b.content) AS content_sha256
FROM probe p ASOF JOIN log b
  ON p.repo = b.repo AND p.path = b.path AND p.probe_lsn >= b.lsn
"""


def q_incremental_agg(spark, sf):
    """Incremental materialized-aggregate maintenance
    (operators/incremental.py): build the table in two epochs, bootstrap
    the per-repo rollup at the first snapshot, then roll it forward with a
    bucket-pruned signed delta — never rescanning unchanged buckets. The
    oracle recomputes the same rollup from scratch over the final LWW
    state, so any drift in the delta algebra (deletes, re-inserts,
    double-counts) breaks the hash."""
    from data_migration_service_spark.operators.incremental import (
        agg_delta,
        agg_snapshot,
        apply_agg_delta,
    )

    ch = _derived_changes(spark, sf)
    schema = T.StructType([
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("content", T.StringType(), True),
        T.StructField("lsn", T.LongType(), False),
    ])
    root = tempfile.mkdtemp(prefix="dms_incr_")
    t = SnapshotTable.create(spark, os.path.join(root, "repos"), schema,
                             ["repo", "path"], 16)
    cfg = EngineConfig(table_path=os.path.join(root, "repos"), n_buckets=16,
                       merge_mode="mor")
    hi = ch.agg(F.max("lsn")).collect()[0][0] or 0
    mid = hi // 2
    cdc_apply(t, ch.where(F.col("lsn") <= mid), cfg, epoch=0)
    s_mid = t.current().snapshot_id
    measures = {"n_files": F.lit(1), "total_chars": F.length("content")}
    state = agg_snapshot(t, ["repo"], measures)          # bootstrap at mid
    cdc_apply(t, ch.where(F.col("lsn") > mid), cfg, epoch=1)
    delta = agg_delta(t, ["repo"], measures, from_snapshot=s_mid)
    return apply_agg_delta(state, delta, ["repo"],
                           ["n_files", "total_chars"],
                           drop_when_zero="n_files")


_INCREMENTAL_AGG_SQL = _DERIVED_CHANGES_SQL + """
, last AS (
  SELECT repo, path, content, op,
         row_number() OVER (PARTITION BY repo, path ORDER BY lsn DESC) AS rn
  FROM log
)
SELECT repo, CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(length(content)) AS BIGINT) AS total_chars
FROM last WHERE rn = 1 AND op <> 'delete'
GROUP BY repo
"""


def q_matview_counts(spark, sf):
    """Persisted materialized view (tables/matview.py): the facade over
    the incremental-aggregate algebra — CREATE after epoch 0, REFRESH
    (bucket-pruned signed delta, committed by an atomic state flip) after
    epoch 1, then REOPEN from state.json as a fresh process would and
    return its contents. The oracle recomputes the rollup from the final
    LWW state, so delta drift, a broken commit flip, or a stale reopen all
    break the hash."""
    from data_migration_service_spark.tables.matview import (
        MaterializedAggregate,
    )

    ch = _derived_changes(spark, sf)
    schema = T.StructType([
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("content", T.StringType(), True),
        T.StructField("lsn", T.LongType(), False),
    ])
    root = tempfile.mkdtemp(prefix="dms_mv_")
    t = SnapshotTable.create(spark, os.path.join(root, "repos"), schema,
                             ["repo", "path"], 16)
    cfg = EngineConfig(table_path=os.path.join(root, "repos"), n_buckets=16,
                       merge_mode="mor")
    hi = ch.agg(F.max("lsn")).collect()[0][0] or 0
    cdc_apply(t, ch.where(F.col("lsn") <= hi // 2), cfg, epoch=0)
    mv = MaterializedAggregate.create(
        spark, os.path.join(root, "mv"), t, ["repo"],
        {"n_files": "1", "total_chars": "length(content)"},
        count_measure="n_files")
    cdc_apply(t, ch.where(F.col("lsn") > hi // 2), cfg, epoch=1)
    mv.refresh()
    reopened = MaterializedAggregate.open(spark, os.path.join(root, "mv"), t)
    return reopened.read().select(
        "repo", F.col("n_files").cast("long").alias("n_files"),
        F.col("total_chars").cast("long").alias("total_chars"))


def q_event_quarantine(spark, sf):
    """Dead-letter validation (operators/quarantine.py): corrupt the
    derived log deterministically (null keys/LSN, unknown op), split
    valid/quarantined, count per machine-readable reason — the engine's
    re-expression of the reference's skip/skipLimit policy
    (DataMigrationService.java:51,160)."""
    from data_migration_service_spark.operators.quarantine import (
        REASONS_COL,
        split_quarantine,
    )

    ev = _t(spark, sf, "events")
    raw = ev.select(
        F.when(F.pmod("event_id", F.lit(103)) == 0, F.lit(None))
        .otherwise(F.col("event_id")).alias("lsn"),
        F.when(F.pmod("event_id", F.lit(97)) == 0, F.lit(None))
        .otherwise(F.concat(F.lit("r"), F.pmod("user_id", F.lit(20))
                            .cast("string"))).alias("repo"),
        F.when(F.pmod("event_id", F.lit(101)) == 0, F.lit(None))
        .otherwise(F.concat(F.lit("f"), F.pmod("event_id", F.lit(997))
                            .cast("string"))).alias("path"),
        F.when(F.pmod("event_id", F.lit(89)) == 0, F.lit("upsert"))
        .when(F.pmod("event_id", F.lit(10)) == 0, F.lit("delete"))
        .when(F.pmod("event_id", F.lit(3)) == 0, F.lit("insert"))
        .otherwise(F.lit("update")).alias("op"),
        F.col("props").alias("content"),
    )
    valid, bad = split_quarantine(raw, ["repo", "path"])
    bad_counts = (
        bad.select(F.explode(REASONS_COL).alias("reason"))
        .groupBy("reason").agg(F.count(F.lit(1)).alias("n"))
    )
    valid_count = valid.agg(F.count(F.lit(1)).alias("n")) \
        .select(F.lit("valid").alias("reason"), "n")
    # left-join onto the full reason list so zero-count reasons still
    # appear (keeps the shape stable across scale factors, like the oracle)
    reasons = spark.createDataFrame(
        [("null_lsn",), ("bad_op",), ("null_key:repo",), ("null_key:path",),
         ("valid",)], ["reason"])
    counts = bad_counts.unionByName(valid_count)
    return reasons.join(counts, "reason", "left").select(
        "reason", F.coalesce("n", F.lit(0)).alias("n"))


_EVENT_QUARANTINE_SQL = """
WITH raw AS (
  SELECT CASE WHEN event_id % 103 = 0 THEN NULL ELSE event_id END AS lsn,
         CASE WHEN event_id % 97 = 0 THEN NULL
              ELSE 'r' || CAST(user_id % 20 AS VARCHAR) END AS repo,
         CASE WHEN event_id % 101 = 0 THEN NULL
              ELSE 'f' || CAST(event_id % 997 AS VARCHAR) END AS path,
         CASE WHEN event_id % 89 = 0 THEN 'upsert'
              WHEN event_id % 10 = 0 THEN 'delete'
              WHEN event_id % 3 = 0 THEN 'insert'
              ELSE 'update' END AS op
  FROM events
), flags AS (
  SELECT (lsn IS NULL) AS f_lsn,
         (op NOT IN ('insert','update','delete')) AS f_op,
         (repo IS NULL) AS f_repo, (path IS NULL) AS f_path
  FROM raw
)
SELECT 'null_lsn' AS reason, CAST(count(*) FILTER (f_lsn) AS BIGINT) AS n FROM flags
UNION ALL
SELECT 'bad_op', CAST(count(*) FILTER (f_op) AS BIGINT) FROM flags
UNION ALL
SELECT 'null_key:repo', CAST(count(*) FILTER (f_repo) AS BIGINT) FROM flags
UNION ALL
SELECT 'null_key:path', CAST(count(*) FILTER (f_path) AS BIGINT) FROM flags
UNION ALL
SELECT 'valid', CAST(count(*) FILTER (NOT f_lsn AND NOT f_op AND NOT f_repo
                                      AND NOT f_path) AS BIGINT) FROM flags
"""


def q_table_profile(spark, sf):
    """Column-profile gate (operators/profile.py): one aggregate pass over
    `orders` emitting count/nulls/distinct/min/max per column — the cheap
    pre-check run before the per-row hash diff (reference verification,
    DataVerificationService.java:126-252). exact_distinct=True here for
    oracle parity; the scale path is HLL (approx_count_distinct)."""
    from data_migration_service_spark.operators.profile import profile_table

    return profile_table(
        _t(spark, sf, "orders"),
        columns=["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"],
        exact_distinct=True,
    )


_TABLE_PROFILE_SQL = """
SELECT col_name, n_rows, n_nulls, n_distinct, min_val, max_val FROM (
  SELECT 'o_orderkey' AS col_name,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_nulls,
         CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
         CAST(min(o_orderkey) AS VARCHAR) AS min_val,
         CAST(max(o_orderkey) AS VARCHAR) AS max_val
  FROM orders
  UNION ALL
  SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
         CAST(count(*) - count(o_orderstatus) AS BIGINT),
         CAST(count(DISTINCT o_orderstatus) AS BIGINT),
         min(o_orderstatus), max(o_orderstatus)
  FROM orders
  UNION ALL
  SELECT 'o_totalprice', CAST(count(*) AS BIGINT),
         CAST(count(*) - count(o_totalprice) AS BIGINT),
         CAST(count(DISTINCT o_totalprice) AS BIGINT),
         CAST(CAST(min(o_totalprice) AS DECIMAL(38,6)) AS VARCHAR),
         CAST(CAST(max(o_totalprice) AS DECIMAL(38,6)) AS VARCHAR)
  FROM orders
  UNION ALL
  SELECT 'o_orderdate', CAST(count(*) AS BIGINT),
         CAST(count(*) - count(o_orderdate) AS BIGINT),
         CAST(count(DISTINCT o_orderdate) AS BIGINT),
         CAST(min(o_orderdate) AS VARCHAR), CAST(max(o_orderdate) AS VARCHAR)
  FROM orders
)
"""


def _derived_patch_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-update (patch) CDC log derived from `events`, deterministic
    and ANSI-SQL-twinned: first event per key is a full insert; every 10th
    LSN is a delete; other events patch a modular-arithmetic subset of
    {content, lang} (always at least one field)."""
    ev = _t(spark, sf_dir, "events")
    df = ev.select(
        F.col("event_id").alias("lsn"),
        F.concat(F.lit("repo_"), F.pmod("user_id", F.lit(20)).cast("string")).alias("repo"),
        F.concat(F.lit("f"), F.pmod("event_id", F.lit(997)).cast("string"), F.lit(".py")).alias("path"),
        F.concat_ws("|", F.col("event_type"), F.col("props"),
                    F.round("value", 2).cast("string")).alias("content"),
        F.col("event_type").alias("lang"),
    )
    w = W.partitionBy("repo", "path").orderBy("lsn")
    df = df.withColumn("_rn", F.row_number().over(w))
    set_content = (F.pmod("lsn", F.lit(3)) != 0) | (F.pmod("lsn", F.lit(2)) != 0)
    set_lang = F.pmod("lsn", F.lit(2)) == 0
    empty = F.array().cast("array<string>")
    return (
        df.withColumn(
            "op",
            F.when(F.col("_rn") == 1, F.lit("insert"))
            .when(F.pmod("lsn", F.lit(10)) == 0, F.lit("delete"))
            .otherwise(F.lit("patch")))
        .withColumn(
            "fields",
            F.concat(
                F.when(set_content, F.array(F.lit("content"))).otherwise(empty),
                F.when(set_lang, F.array(F.lit("lang"))).otherwise(empty)))
        .drop("_rn")
    )


def q_patch_final_state(spark, sf):
    """Cell-level LWW fold of a partial-update CDC log (operators/patch.py):
    column-granular last-writer-wins — each event sets only the fields it
    names, a row-level fold would NULL every field the latest event omitted.
    One aggregate pass; the same fold `patch_apply` runs incrementally
    against stored per-cell LSNs (Cassandra-style cell timestamps)."""
    from data_migration_service_spark.operators.patch import patch_fold

    log = _derived_patch_log(spark, sf)
    return (
        patch_fold(log, ["repo", "path"], ["content", "lang"])
        .select("repo", "path", "content", "lang",
                F.col("lsn").alias("last_lsn"))
    )


_PATCH_FINAL_STATE_SQL = """
WITH base AS (
  SELECT event_id AS lsn,
         'repo_' || CAST(user_id % 20 AS VARCHAR) AS repo,
         'f' || CAST(event_id % 997 AS VARCHAR) || '.py' AS path,
         event_type || '|' || props || '|' || CAST(round(value, 2) AS VARCHAR) AS content,
         event_type AS lang,
         row_number() OVER (PARTITION BY user_id % 20, event_id % 997 ORDER BY event_id) AS rn
  FROM events
), log AS (
  SELECT lsn, repo, path, content, lang,
         CASE WHEN rn = 1 THEN 'insert'
              WHEN lsn % 10 = 0 THEN 'delete' ELSE 'patch' END AS op,
         (rn = 1 OR (lsn % 10 <> 0 AND ((lsn % 3 <> 0) OR (lsn % 2 <> 0)))) AS set_content,
         (rn = 1 OR (lsn % 10 <> 0 AND lsn % 2 = 0)) AS set_lang
  FROM base
), agg AS (
  SELECT repo, path,
         coalesce(max(lsn) FILTER (WHERE op = 'delete'), -1) AS del_lsn,
         max(lsn) FILTER (WHERE op <> 'delete' AND set_content) AS lc,
         arg_max(content, lsn) FILTER (WHERE op <> 'delete' AND set_content) AS vc,
         max(lsn) FILTER (WHERE op <> 'delete' AND set_lang) AS ll,
         arg_max(lang, lsn) FILTER (WHERE op <> 'delete' AND set_lang) AS vl
  FROM log GROUP BY repo, path
)
SELECT repo, path,
       CASE WHEN lc > del_lsn THEN vc END AS content,
       CASE WHEN ll > del_lsn THEN vl END AS lang,
       greatest(coalesce(lc, -1), coalesce(ll, -1), del_lsn) AS last_lsn
FROM agg
WHERE greatest(coalesce(lc, -1), coalesce(ll, -1)) > del_lsn
"""


def q_repetition_stats(spark, sf):
    """Gopher/MassiveText intra-doc repetition filters (text.repetition_stats):
    unique-token ratio (in-row, no shuffle), top-bigram share and duplicate
    5-gram share (two-level hash aggregates over exploded grams). Shares are
    plain IEEE divisions — the oracle is bit-identical, no tolerance."""
    return X.repetition_stats(_t(spark, sf, "documents"), "doc_id", "text")


_REPETITION_STATS_SQL = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS ts
  FROM documents
), b AS (
  SELECT doc_id, len(ts) AS n_tokens,
         CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) AS unique_token_ratio,
         ts
  FROM base
), g2 AS (
  SELECT doc_id, unnest(CASE WHEN len(ts) >= 2
           THEN list_transform(generate_series(1, len(ts) - 1),
                               i -> ts[i] || ' ' || ts[i + 1])
           ELSE CAST([] AS VARCHAR[]) END) AS g
  FROM b
), a2 AS (
  SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS top_2gram_share
  FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g)
  GROUP BY doc_id
), g5 AS (
  SELECT doc_id, unnest(CASE WHEN len(ts) >= 5
           THEN list_transform(generate_series(1, len(ts) - 4),
                 i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2]
                      || ' ' || ts[i + 3] || ' ' || ts[i + 4])
           ELSE CAST([] AS VARCHAR[]) END) AS g
  FROM b
), a5 AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / sum(c)
           AS dup_5gram_share
  FROM (SELECT doc_id, g, count(*) AS c FROM g5 GROUP BY doc_id, g)
  GROUP BY doc_id
)
SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens, b.unique_token_ratio,
       coalesce(a2.top_2gram_share, 0.0) AS top_2gram_share,
       coalesce(a5.dup_5gram_share, 0.0) AS dup_5gram_share
FROM b LEFT JOIN a2 USING (doc_id) LEFT JOIN a5 USING (doc_id)
"""


def q_duplicate_spans(spark, sf):
    """Span-level exact dedup (dedup.duplicate_spans, Lee et al. 2021):
    per document, how many of its 15-token windows also occur in >= 2
    documents — the boilerplate/license-block signal whole-document dedup
    never sees. Gram-hash equi-joins, never a suffix array or all-pairs."""
    return D.duplicate_spans(_t(spark, sf, "documents"), "doc_id", "text",
                             n=15, min_docs=2)


_DUPLICATE_SPANS_SQL = r"""
WITH b AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS ts
  FROM documents
), g AS (
  SELECT doc_id, unnest(CASE WHEN len(ts) >= 15
           THEN list_transform(generate_series(1, len(ts) - 14),
                               i -> sha256(array_to_string(ts[i:i+14], ' ')))
           ELSE CAST([] AS VARCHAR[]) END) AS gram
  FROM b
), per_gd AS (
  SELECT gram, doc_id, count(*) AS occ FROM g GROUP BY gram, doc_id
), dup_g AS (
  SELECT gram FROM per_gd GROUP BY gram HAVING count(*) >= 2
), per_doc AS (
  SELECT doc_id, sum(occ) AS n_dup
  FROM per_gd JOIN dup_g USING (gram) GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(greatest(len(ts) - 14, 0) AS BIGINT) AS n_spans,
       CAST(coalesce(per_doc.n_dup, 0) AS BIGINT) AS n_dup_spans,
       CASE WHEN len(ts) >= 15
            THEN CAST(coalesce(per_doc.n_dup, 0) AS DOUBLE) / (len(ts) - 14)
            ELSE 0.0 END AS dup_span_ratio
FROM b LEFT JOIN per_doc USING (doc_id)
"""


def q_source_overlap(spark, sf):
    """Cross-source duplication matrix (dedup.cross_group_gram_overlap):
    distinct shared 8-token windows per source pair plus each side's
    containment fraction — the governance view run before mixing corpora.
    Gram-keyed equi-join of (gram, source) DISTINCT rows: per-gram fan-out
    is bounded by the source count, never corpus-quadratic."""
    docs = _t(spark, sf, "documents")
    return (D.cross_group_gram_overlap(docs, "text", "source", n=8)
            .select("group_a", "group_b", "shared_grams",
                    "frac_a", "frac_b"))


_SOURCE_OVERLAP_SQL = r"""
WITH b AS (
  SELECT source,
         list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS ts
  FROM documents
), g AS (
  SELECT DISTINCT source, unnest(CASE WHEN len(ts) >= 8
           THEN list_transform(generate_series(1, len(ts) - 7),
                               i -> sha256(array_to_string(ts[i:i+7], ' ')))
           ELSE CAST([] AS VARCHAR[]) END) AS gram
  FROM b
), t AS (
  SELECT source, count(*) AS n FROM g GROUP BY source
), p AS (
  SELECT a.source AS group_a, bb.source AS group_b, count(*) AS shared_grams
  FROM g a JOIN g bb USING (gram)
  WHERE a.source < bb.source GROUP BY 1, 2
)
SELECT group_a, group_b, shared_grams,
       CAST(shared_grams AS DOUBLE) / ta.n AS frac_a,
       CAST(shared_grams AS DOUBLE) / tb.n AS frac_b
FROM p JOIN t ta ON ta.source = group_a JOIN t tb ON tb.source = group_b
"""


def q_remove_duplicate_spans(spark, sf):
    """The removal half of exact-substring dedup
    (dedup.remove_duplicate_spans, Lee et al. 2021): rewrite every document
    with its cross-document 15-token windows cut out. Detection is the same
    gram-hash equi-join as `duplicate_spans`; the rebuild is one in-row fold
    over the sorted duplicated window starts — no token-grain shuffle."""
    return D.remove_duplicate_spans(_t(spark, sf, "documents"), "doc_id",
                                    "text", n=15, min_docs=2)


_REMOVE_DUPLICATE_SPANS_SQL = r"""
WITH b AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS ts
  FROM documents
), g AS (
  SELECT doc_id,
         unnest(CASE WHEN len(ts) >= 15
           THEN generate_series(1, len(ts) - 14)
           ELSE CAST([] AS BIGINT[]) END) AS p,
         unnest(CASE WHEN len(ts) >= 15
           THEN list_transform(generate_series(1, len(ts) - 14),
                               i -> sha256(array_to_string(ts[i:i+14], ' ')))
           ELSE CAST([] AS VARCHAR[]) END) AS gram
  FROM b
), per_gd AS (
  SELECT gram, doc_id FROM g GROUP BY gram, doc_id
), dup_g AS (
  SELECT gram FROM per_gd GROUP BY gram HAVING count(*) >= 2
), dup_pos AS (
  SELECT g.doc_id, g.p FROM g JOIN dup_g USING (gram)
), tok AS (
  SELECT doc_id, unnest(ts) AS t,
         unnest(generate_series(1, len(ts))) AS i
  FROM b WHERE len(ts) > 0
), kept AS (
  SELECT tok.doc_id, tok.t, tok.i FROM tok
  WHERE NOT EXISTS (
    SELECT 1 FROM dup_pos d
    WHERE d.doc_id = tok.doc_id AND d.p <= tok.i AND tok.i < d.p + 15)
), agg AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(t, ' ' ORDER BY i) AS cleaned
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(len(ts) AS BIGINT) AS n_tokens,
       CAST(coalesce(agg.n_kept, 0) AS BIGINT) AS n_kept,
       coalesce(agg.cleaned, '') AS cleaned_text
FROM b LEFT JOIN agg USING (doc_id)
"""


def q_rare_token_stats(spark, sf):
    """Corpus-frequency quality gate (text.rare_token_stats): the
    exact-arithmetic analogue of CCNet's LM-perplexity filter — mean corpus
    frequency of a doc's tokens + share of rare (freq <= 2) tokens. All
    integer counts and exact divisions, so the oracle is bit-identical."""
    return X.rare_token_stats(_t(spark, sf, "documents"), "doc_id", "text",
                              rare_max=2)


_RARE_TOKEN_STATS_SQL = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(trim(text), '\s+'),
                            t -> t <> '')) AS t
  FROM documents
), freq AS (
  SELECT t, count(*) AS cf FROM tok GROUP BY t
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       avg(cf) AS avg_token_corpus_freq,
       CAST(sum(CASE WHEN cf <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
       CAST(sum(CASE WHEN cf <= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
         AS rare_token_ratio
FROM tok JOIN freq USING (t)
GROUP BY doc_id
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: engine CDC replay of a derived change log on sf0.001."""
    return _replay_final_state(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator/query (SURVEY.md section 2 + the
    LLM-pipeline families). ORDER MATTERS: the driver hard-checks only the
    FIRST 50 entries per round. Round-5 window policy (round-4 verdict
    item 2 — evidence freshness): (a) all 39 queries that sat OUTSIDE the
    round-4 window rotate in, led by `recheck_values` (last hash-green in
    round 2) and the similarity/dedup tail (last checked round 3) — after
    this round no query's latest driver check is older than two rounds;
    (b) the four round-3 hash failures fixed in round 4 (merge_upsert,
    pack_offsets, cube_doc_stats, debezium_roundtrip) stay in for one
    confirming round; (c) the remaining slots hold the new round-5 query
    (group_sql_aligned — a per-repo aggregate over the group's
    bucket-aligned join) plus the headline paths adjacent to this round's
    code changes (colocated/lake, streaming windows value contract, CDC
    apply). Round-4-green entries whose code paths did not change sit
    just past the window."""
    return {
        # --- stalest driver signal first: last hash-checked round 2 ---
        "recheck_values": q_recheck_values,
        # --- the similarity/dedup/text tail, last checked round 3 ---
        "repair_convergence": q_repair_convergence,
        "index_state": _index_state,
        "update_where": _update_where,
        "bootstrap_then_tail": _bootstrap_then_tail,
        "changefeed": _changefeed,
        "patch_final_state": q_patch_final_state,
        "row_hash_canonical": q_row_hash_canonical,
        "corpus_audit": q_corpus_audit,
        "redact_pii": q_redact_pii,
        "contamination": q_contamination,
        "repetition_stats": q_repetition_stats,
        "duplicate_spans": q_duplicate_spans,
        "remove_duplicate_spans": q_remove_duplicate_spans,
        "source_overlap": q_source_overlap,
        "rare_token_stats": q_rare_token_stats,
        "simhash": q_simhash,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "minhash_incremental": q_minhash_incremental,
        "dedup_clusters": q_dedup_clusters,
        "dedup_keep_best": q_dedup_keep_best,
        "ngram_jaccard": q_ngram_jaccard,
        "embedding_near_dup": q_embedding_near_dup,
        "embedding_near_dup_lsh": q_embedding_near_dup_lsh,
        "embedding_incremental": q_embedding_incremental,
        "embedding_topk": q_embedding_topk,
        "embedding_ann_lsh": q_embedding_ann_lsh,
        "embedding_ivf_topk": q_embedding_ivf_topk,
        "semantic_dedup": q_semantic_dedup,
        "pivot_lang_counts": q_pivot_lang_counts,
        "multimodal_features": q_multimodal_features,
        "frame_sample": q_frame_sample,
        "scd2_history": q_scd2_history,
        "asof_lookup": q_asof_lookup,
        "incremental_agg": q_incremental_agg,
        "matview_counts": q_matview_counts,
        "event_quarantine": q_event_quarantine,
        "table_profile": q_table_profile,
        # rows-only BY DESIGN — the one entry with no oracle_sql(): its
        # xxhash64 MinHash is not reproducible in DuckDB; pytest pins
        # the fast path against the sha256 path on planted duplicates
        # (tests/test_similarity.py::
        #  test_minhash_xxhash_fast_path_recovers_planted_dups)
        "minhash_lsh_pairs_fast": q_minhash_lsh_pairs_fast,
        # --- round-4 fixes: one confirming round in the window ---
        "merge_upsert": q_merge_upsert,
        "pack_offsets": q_pack_offsets,
        "cube_doc_stats": q_cube_doc_stats,
        "debezium_roundtrip": q_debezium_roundtrip,
        # --- new in round 5: aggregate over the group's aligned join ---
        "group_sql_aligned": _group_sql_aligned,
        # --- headline paths adjacent to this round's code changes ---
        "cdc_replay_final_state": _replay_final_state,
        "derived_chunks": _derived_chunks,
        "colocated_chunk_join": _colocated_chunk_join,
        "windowed_agg": q_windowed_agg,
        "lww_dedup": q_lww_dedup,
        "hash_diff_status_counts": q_hash_diff_status_counts,
        # ---------------- 50-entry window ends here ----------------
        # --- round-4 driver-green, code paths unchanged this round ---
        "count_per_group": q_count_per_group,
        "pricing_summary": q_pricing_summary,
        "region_revenue": q_region_revenue,
        "salted_hot_agg": q_salted_hot_agg,
        "rollup_revenue": q_rollup_revenue,
        "topk_per_group": q_topk_per_group,
        "top_events_per_type": q_top_events_per_type,
        "token_count": q_token_count,
        "quality_score": q_quality_score,
        "corpus_build": q_corpus_build,
        "distinct_keys": q_distinct_keys,
        "verify_sample": q_verify_sample,
        "bucket_verify_dirty": q_bucket_verify_dirty,
        "bucket_verify_drilldown": q_bucket_verify_drilldown,
        "numeric_quantiles": q_numeric_quantiles,
        "mismatch_report": q_mismatch_report,
        "anti_join_missing": q_anti_join_missing,
        "semi_join_replay": q_semi_join_replay,
        "canonical_projection": q_canonical_projection,
        "epoch_lineage": q_epoch_lineage,
        "sessionize": q_sessionize,
        "lsn_gaps": q_lsn_gaps,
        "range_count_windows": q_range_count_windows,
        "stream_enrich": q_stream_enrich,
        "hll_distinct_bound": q_hll_distinct_bound,
        "funnel_steps": q_funnel_steps,
        "cohort_retention": q_cohort_retention,
        "dedup_exact": q_dedup_exact,
        "chunk_documents": q_chunk_documents,
        "embedding_sq_topk": q_embedding_sq_topk,
        "embedding_pq_topk": q_embedding_pq_topk,
        "embedding_ivfpq_topk": q_embedding_ivfpq_topk,
        "lang_id": q_lang_id,
        "doc_fingerprint": q_doc_fingerprint,
        "tf_idf_top_terms": q_tf_idf_top_terms,
        "stratified_sample": q_stratified_sample,
        "mixture_sample": q_mixture_sample,
        "budget_select": q_budget_select,
        "corpus_shuffle": q_corpus_shuffle,
        "merge_sync": q_merge_sync,
        # round-5 envelope extension, past-window (strict-sweep checked)
        "group_sql_left": _group_sql_left,
    }


def oracle_sql() -> dict[str, str]:
    sep = "chr(31)"
    return {
        "cdc_replay_final_state": _REPLAY_FINAL_STATE_SQL,
        "repair_convergence": _REPAIR_CONVERGENCE_SQL,
        "index_state": _INDEX_STATE_SQL,
        "derived_chunks": _DERIVED_CHUNKS_SQL,
        "colocated_chunk_join": _COLOCATED_CHUNK_JOIN_SQL,
        "group_sql_aligned": _GROUP_SQL_ALIGNED_SQL,
        "group_sql_left": _GROUP_SQL_LEFT_SQL,
        "update_where": _UPDATE_WHERE_SQL,
        # bootstrap+tail must land on the *identical* final state as a pure
        # replay of the full log — the handoff adds nothing and loses nothing
        "bootstrap_then_tail": _REPLAY_FINAL_STATE_SQL,
        "changefeed": _CHANGEFEED_SQL,
        "patch_final_state": _PATCH_FINAL_STATE_SQL,
        "debezium_roundtrip": _DEBEZIUM_ROUNDTRIP_SQL,
        "topk_per_group": _TOPK_PER_GROUP_SQL,
        "rollup_revenue": _ROLLUP_REVENUE_SQL,
        "scd2_history": _SCD2_SQL,
        "asof_lookup": _ASOF_SQL,
        "incremental_agg": _INCREMENTAL_AGG_SQL,
        "matview_counts": _INCREMENTAL_AGG_SQL,
        "event_quarantine": _EVENT_QUARANTINE_SQL,
        "table_profile": _TABLE_PROFILE_SQL,
        "lww_dedup": """
            SELECT user_id, event_type, round(value, 2) AS last_value,
                   event_id AS last_event_id
            FROM (SELECT *, row_number() OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY ts DESC, event_id DESC) AS rn FROM events)
            WHERE rn = 1
        """,
        "count_per_group": """
            SELECT o_custkey, count(*) AS n_orders,
                   CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                        AS DOUBLE) / 100.0 AS total_spend
            FROM orders GROUP BY o_custkey
        """,
        "distinct_keys": "SELECT DISTINCT event_type FROM events",
        "row_hash_canonical": f"""
            SELECT c_custkey,
                   {row_sha256_sql(['c_name', 'c_mktsegment', 'c_nationkey'])} AS row_hash
            FROM customer
        """,
        "hash_diff_status_counts": _LI_SIDES_SQL
        + "SELECT status, count(*) AS n FROM diff GROUP BY status",
        "verify_sample": _verify_sample_sql(),
        "bucket_verify_dirty": _BUCKET_SIDES_SQL
        + "SELECT bucket, src_rows, tgt_rows FROM dirty",
        "bucket_verify_drilldown": _BUCKET_DRILL_SQL,
        "numeric_quantiles": _numeric_quantiles_sql(),
        "mismatch_report": _LI_SIDES_SQL
        + """
            SELECT l_orderkey, l_linenumber, status FROM diff
            WHERE status <> 'OK' ORDER BY l_orderkey, l_linenumber LIMIT 100
        """,
        "recheck_values": _RECHECK_VALUES_SQL,
        "anti_join_missing": """
            SELECT c_custkey FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        """,
        "semi_join_replay": """
            SELECT l_orderkey, l_linenumber, CAST(l_quantity AS INT) AS qty
            FROM lineitem WHERE l_orderkey IN
              (SELECT o_orderkey FROM orders WHERE o_orderkey % 500 = 0)
        """,
        "canonical_projection": f"""
            SELECT o_orderkey,
                   CAST(o_orderkey AS VARCHAR) || ',' || CAST(o_custkey AS VARCHAR) AS pk,
                   strftime(o_orderdate, '%Y-%m-%d %H:%M:%S.%g') AS odate_ms,
                   coalesce(o_orderpriority, '{NULL_SENTINEL}') AS prio
            FROM orders
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT))
                        AS DOUBLE) / 100.0 AS sum_qty,
                   CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                        AS DOUBLE) / 100.0 AS sum_base_price,
                   CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                                       * 10000, 0) AS BIGINT))
                        AS DOUBLE) / 10000.0 AS sum_disc_price,
                   CAST(sum(CAST(round(l_discount * 100, 0) AS BIGINT))
                        AS DOUBLE) / (100.0 * count(*)) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "region_revenue": """
            SELECT r_name,
                   CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                        AS DOUBLE) / 100.0 AS revenue,
                   count(*) AS n_orders
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "salted_hot_agg": """
            SELECT event_type, count(*) AS n,
                   CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                        AS DOUBLE) / 100.0 AS sum_value,
                   strftime(max(ts), '%Y-%m-%d %H:%M:%S.%g') AS max_ts
            FROM events GROUP BY event_type
        """,
        "epoch_lineage": """
            SELECT CAST(floor(event_id / 1000) AS BIGINT) AS epoch, count(*) AS n,
                   min(event_id) AS lsn_min, max(event_id) AS lsn_max
            FROM events GROUP BY 1
        """,
        "windowed_agg": """
            SELECT strftime(time_bucket(INTERVAL '1 hour', ts),
                            '%Y-%m-%d %H:%M:%S') AS window_start,
                   event_type, count(*) AS n,
                   CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                        AS DOUBLE) / 100.0 AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "sessionize": _sessionize_sql(),
        "range_count_windows": _RANGE_COUNT_SQL,
        "stream_enrich": _STREAM_ENRICH_SQL,
        "top_events_per_type": _TOP_EVENTS_SQL,
        "hll_distinct_bound": _HLL_DISTINCT_SQL,
        "funnel_steps": _FUNNEL_SQL,
        "cohort_retention": _COHORT_SQL,
        "lsn_gaps": """
            WITH l AS (
              SELECT event_id AS lsn,
                     lag(event_id) OVER (ORDER BY event_id) AS prev
              FROM events WHERE event_id % 97 <> 0
            )
            SELECT prev + 1 AS gap_start, lsn - 1 AS gap_end
            FROM l WHERE prev IS NOT NULL AND lsn - prev > 1
        """,
        "dedup_exact": """
            SELECT sha256(text) AS content_hash, min(doc_id) AS canonical_id,
                   count(*) AS n_copies
            FROM documents GROUP BY 1
        """,
        "token_count": r"""
            SELECT doc_id,
                   len(list_filter(string_split_regex(trim(text), '\s+'),
                                    t -> t <> '')) AS n_tokens,
                   CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_subwords_est
            FROM documents
        """,
        # chunk starts = range(0, n_tokens, stride); DuckDB list slice is
        # 1-based inclusive, so ts[st+1 : st+size] is Spark's
        # slice(ts, st+1, size)
        "chunk_documents": r"""
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(text), '\s+'),
                                 x -> x <> '') AS ts
              FROM documents
            ), s AS (
              SELECT doc_id, ts, len(ts) AS n,
                     unnest(range(0, len(ts), 24)) AS st
              FROM t WHERE len(ts) > 0
            )
            SELECT doc_id,
                   CAST(st // 24 AS BIGINT) AS chunk_id,
                   CAST(st AS BIGINT) AS start_token,
                   CAST(least(32, n - st) AS BIGINT) AS n_tokens,
                   array_to_string(ts[st+1 : st+32], ' ') AS chunk_text
            FROM s ORDER BY doc_id, chunk_id
        """,
        "quality_score": r"""
            WITH t AS (
              SELECT doc_id, text, length(text) AS n_chars,
                     list_filter(string_split_regex(trim(text), '\s+'),
                                 x -> x <> '') AS toks,
                     length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS n_punct
              FROM documents
            ), s AS (
              SELECT doc_id, n_chars, len(toks) AS n_tokens,
                     CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 0 END AS pr,
                     CASE WHEN len(toks) > 0 THEN
                       CAST(len(list_filter(toks, x -> lower(x) IN
                         ('the','a','of','and','to','in','is','it','for','on'))) AS DOUBLE)
                       / len(toks) ELSE 0 END AS sr,
                     least(n_chars/500.0, 1.0) AS ln
              FROM t
            )
            SELECT doc_id, n_chars, n_tokens, round(pr + 1e-9, 4) AS punct_ratio,
                   round(sr + 1e-9, 4) AS stopword_ratio,
                   round(0.4*ln + 0.3*(1-pr) + 0.3*sr + 1e-9, 4) AS quality
            FROM s
        """,
        "lang_id": r"""
            WITH t AS (
              SELECT doc_id,
                     list_transform(list_filter(string_split_regex(trim(text), '\s+'),
                                                x -> x <> ''), x -> lower(x)) AS toks
              FROM documents
            ), s AS (
              SELECT doc_id,
                     len(list_filter(toks, x -> x IN ('the','and','of','to','a'))) AS score_en,
                     len(list_filter(toks, x -> x IN ('der','die','und','das','ist'))) AS score_de,
                     len(list_filter(toks, x -> x IN ('le','la','et','les','des'))) AS score_fr,
                     len(list_filter(toks, x -> x IN ('el','la','los','que','y'))) AS score_es
              FROM t
            ), g AS (
              SELECT *, greatest(score_en, score_de, score_fr, score_es) AS best,
                     (CASE WHEN score_en = greatest(score_en, score_de, score_fr, score_es) THEN 1 ELSE 0 END +
                      CASE WHEN score_de = greatest(score_en, score_de, score_fr, score_es) THEN 1 ELSE 0 END +
                      CASE WHEN score_fr = greatest(score_en, score_de, score_fr, score_es) THEN 1 ELSE 0 END +
                      CASE WHEN score_es = greatest(score_en, score_de, score_fr, score_es) THEN 1 ELSE 0 END) AS nb
              FROM s
            )
            SELECT doc_id,
                   CASE WHEN best > 0 AND nb = 1 THEN
                     CASE WHEN score_en = best THEN 'en'
                          WHEN score_de = best THEN 'de'
                          WHEN score_fr = best THEN 'fr'
                          WHEN score_es = best THEN 'es' END
                   ELSE 'unk' END AS lang_guess
            FROM g
        """,
        "doc_fingerprint": """
            WITH sh AS (
              SELECT DISTINCT doc_id,
                     substr(text, CAST(i AS INT), 8) AS shingle
              FROM documents,
                   LATERAL unnest(generate_series(1, greatest(length(text) - 7, 1))) AS u(i)
            )
            SELECT doc_id, min(sha256(shingle)) AS fingerprint FROM sh GROUP BY doc_id
        """,
        "tf_idf_top_terms": r"""
            WITH toks AS (
              SELECT doc_id, lower(t) AS term
              FROM documents,
                   LATERAL unnest(list_filter(
                     regexp_split_to_array(trim(text), '\s+'),
                     x -> x <> '')) AS u(t)
            ), tf AS (
              SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
            ), dfreq AS (
              SELECT term, count(*) AS df FROM tf GROUP BY term
            ), nd AS (
              SELECT count(DISTINCT doc_id) AS n FROM documents
            ), scored AS (
              SELECT tf.doc_id, tf.term,
                     round(tf.tf * ln((nd.n + 1.0) / (dfreq.df + 1.0)), 6) AS score
              FROM tf JOIN dfreq USING (term) CROSS JOIN nd
            ), ranked AS (
              SELECT doc_id, term, score,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY score DESC, term DESC) AS rn
              FROM scored
            )
            SELECT doc_id, term, score AS tfidf FROM ranked WHERE rn <= 3
        """,
        "stratified_sample": f"""
            SELECT doc_id, lang FROM documents
            WHERE CASE
              WHEN lang = 'en' THEN
                substr(sha256('sample:' || CAST(doc_id AS VARCHAR)), 1, 8)
                  < '{format(int(0.3 * 16 ** 8), "08x")}'
              WHEN lang = 'zh' THEN TRUE
              ELSE
                substr(sha256('sample:' || CAST(doc_id AS VARCHAR)), 1, 8)
                  < '{format(int(0.5 * 16 ** 8), "08x")}'
            END
        """,
        "mixture_sample": _MIXTURE_SAMPLE_SQL,
        "budget_select": _BUDGET_SELECT_SQL,
        "corpus_shuffle": _CORPUS_SHUFFLE_SQL,
        "corpus_build": _CORPUS_BUILD_SQL,
        "corpus_audit": _CORPUS_AUDIT_SQL,
        "redact_pii": _redact_pii_sql(),
        "pack_offsets": _PACK_OFFSETS_SQL,
        "contamination": _CONTAMINATION_SQL,
        "repetition_stats": _REPETITION_STATS_SQL,
        "duplicate_spans": _DUPLICATE_SPANS_SQL,
        "remove_duplicate_spans": _REMOVE_DUPLICATE_SPANS_SQL,
        "source_overlap": _SOURCE_OVERLAP_SQL,
        "rare_token_stats": _RARE_TOKEN_STATS_SQL,
        "simhash": _simhash_sql(),
        "minhash_lsh_pairs": _minhash_lsh_sql(),
        "minhash_incremental": _minhash_incremental_sql(),
        "dedup_clusters": _dedup_clusters_sql(),
        "dedup_keep_best": _dedup_keep_best_sql(),
        "ngram_jaccard": _ngram_jaccard_sql(),
        "embedding_near_dup": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                CAST(b.embedding AS DOUBLE[])), 4)
                     AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])) >= 0.4
        """,
        "embedding_topk": """
            SELECT vec_id,
                   round(list_cosine_similarity(
                     CAST(embedding AS DOUBLE[]),
                     (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)
                   ), 4) AS cosine
            FROM embeddings
            ORDER BY cosine DESC, vec_id LIMIT 25
        """,
        # int8 SQ ANN: the quantized codes are exact integers (floor(x+0.5)
        # form, clamp 0..255), so the candidate cut — an integer dot on
        # centered codes — is bit-identical cross-engine; only the final
        # rerank cosine is float, rounded to 4dp like every ANN query
        "embedding_sq_topk": """
            WITH e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            ), pos AS (
              SELECT vec_id, unnest(v) AS x,
                     unnest(range(1, len(v)+1)) AS i
              FROM e
            ), sc AS (
              SELECT i, min(x) AS mn,
                     CASE WHEN max(x) > min(x)
                          THEN 255.0 / (max(x) - min(x)) ELSE 0.0 END AS s
              FROM pos GROUP BY i
            ), qc AS (
              SELECT pos.vec_id, pos.i,
                     CAST(greatest(0, least(255,
                       floor((pos.x - sc.mn) * sc.s + 0.5))) AS BIGINT) AS q
              FROM pos JOIN sc USING (i)
            ), qq AS (
              SELECT i, q FROM qc WHERE vec_id = 0
            ), scores AS (
              SELECT qc.vec_id, sum((qc.q - 128) * (qq.q - 128)) AS sq
              FROM qc JOIN qq USING (i) GROUP BY qc.vec_id
            ), cand AS (
              SELECT vec_id FROM scores ORDER BY sq DESC, vec_id LIMIT 100
            )
            SELECT e.vec_id,
                   round(list_cosine_similarity(
                     e.v, (SELECT v FROM e WHERE vec_id = 0)), 4) AS cosine
            FROM e JOIN cand USING (vec_id)
            ORDER BY round(list_cosine_similarity(
                       e.v, (SELECT v FROM e WHERE vec_id = 0)), 6) DESC,
                     vec_id
            LIMIT 25
        """,
        "embedding_near_dup_lsh": _near_dup_lsh_sql(),
        "embedding_incremental": _embedding_incremental_sql(),
        "embedding_ann_lsh": _ann_lsh_sql(k=25),
        "embedding_ivf_topk": _ivf_topk_sql(k=25),
        "embedding_ivfpq_topk": _ivfpq_topk_sql(k=25),
        "embedding_pq_topk": _pq_topk_sql(k=25),
        "semantic_dedup": _semantic_dedup_sql(),
        "cube_doc_stats": _CUBE_DOC_STATS_SQL,
        "pivot_lang_counts": _PIVOT_LANG_COUNTS_SQL,
        "merge_upsert": _MERGE_UPSERT_SQL,
        "merge_sync": _MERGE_SYNC_SQL,
        # the media payload is ASCII-hex bytes (gen_media_fixture), so the
        # stub decoder's sha256(payload) has an exact VARCHAR twin here —
        # the whole Arrow mapInPandas path is value-checked, not rows-only
        "multimodal_features": _MULTIMODAL_SQL,
        "frame_sample": _FRAME_SAMPLE_SQL,
        # minhash_lsh_pairs_fast (xxhash64: no DuckDB twin): rows-only check
    }


def _sessionize_sql() -> str:
    from data_migration_service_spark.operators.sessions import sessionize_sql

    return sessionize_sql("user_id", "ts", "events", 1800)


def _simhash_sql() -> str:
    bit_sums = ",\n".join(
        f"sum(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(16)
    )
    recombine = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(16)
    )
    return rf"""
        WITH toks AS (
          SELECT doc_id, u.tok FROM documents,
            LATERAL unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                       x -> x <> '')) AS u(tok)
        ), hv AS (
          SELECT doc_id, ('0x' || substr(sha256(tok), 1, 4))::BIGINT AS hv FROM toks
        ), sums AS (
          SELECT doc_id, {bit_sums} FROM hv GROUP BY doc_id
        )
        SELECT doc_id, CAST({recombine} AS BIGINT) AS simhash FROM sums
    """


_MINHASH_CTES = r"""
        WITH sh AS (
          SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 5) AS shingle
          FROM documents,
               LATERAL unnest(generate_series(1, greatest(length(text) - 4, 1))) AS u(i)
        ), hs AS (
          SELECT doc_id, shingle, sha256(shingle) AS h0,
                 sha256('1x:' || shingle) AS h1
          FROM sh
        ), hashed AS (
          SELECT doc_id, h.h,
                 substr(CASE WHEN h.h < 8 THEN h0 ELSE h1 END,
                        (h.h % 8) * 8 + 1, 8) AS hv
          FROM hs, LATERAL unnest(generate_series(0, 15)) AS h(h)
        ), sig AS (
          SELECT doc_id, h, min(hv) AS minhash FROM hashed GROUP BY doc_id, h
        ), banded AS (
          SELECT doc_id, CAST(h // 4 AS INT) AS band,
                 sha256(string_agg(CAST(h AS VARCHAR) || ':' || minhash, '|'
                        ORDER BY CAST(h AS VARCHAR) || ':' || minhash)) AS band_sig
          FROM sig GROUP BY doc_id, CAST(h // 4 AS INT)
        ), sized AS (
          SELECT b.* FROM banded b
          JOIN (SELECT band, band_sig, count(*) AS n FROM banded
                GROUP BY band, band_sig) c
            ON b.band = c.band AND b.band_sig = c.band_sig
          WHERE c.n <= 50
        ), pairs AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM sized a JOIN sized b
            ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
        )
"""


def _minhash_lsh_sql() -> str:
    return _MINHASH_CTES + r"""
        SELECT p.id_a, p.id_b,
               round(CAST(sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*), 6) AS est_jaccard
        FROM pairs p
        JOIN sig sa ON sa.doc_id = p.id_a
        JOIN sig sb ON sb.doc_id = p.id_b AND sb.h = sa.h
        GROUP BY p.id_a, p.id_b
    """


def _minhash_incremental_sql() -> str:
    """Twin of `incremental_lsh_pairs` via its invariant: the full-corpus
    LSH pair set (identical CTEs — per-doc band signatures don't depend on
    other docs, and the bucket cap counts the combined population either
    way) restricted to pairs with at least one new (doc_id % 5 = 0) member."""
    return _MINHASH_CTES + r"""
        SELECT id_a, id_b,
               CASE WHEN id_a % 5 = 0 AND id_b % 5 = 0 THEN 'new_new'
                    ELSE 'new_corpus' END AS pair_kind
        FROM pairs
        WHERE id_a % 5 = 0 OR id_b % 5 = 0
    """


def _dedup_clusters_sql() -> str:
    """Transitive closure of the LSH pair graph: every doc's cluster_id =
    min doc_id reachable through pairs (recursive CTE); singletons label
    themselves. First-principles twin of the Spark hash-min propagation."""
    ctes = _MINHASH_CTES.replace("WITH sh AS", "WITH RECURSIVE sh AS")
    return ctes + r"""
        , edges AS (
          SELECT id_a AS x, id_b AS y FROM pairs
          UNION
          SELECT id_b AS x, id_a AS y FROM pairs
        ), reach AS (
          SELECT x, x AS lab FROM (SELECT DISTINCT x FROM edges) t
          UNION
          SELECT e.x, r.lab FROM edges e JOIN reach r ON e.y = r.x
        ), clusters AS (
          SELECT x AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY x
        )
        SELECT d.doc_id,
               coalesce(c.cluster_id, d.doc_id) AS cluster_id,
               coalesce(c.cluster_id, d.doc_id) = d.doc_id AS is_canonical
        FROM documents d LEFT JOIN clusters c USING (doc_id)
    """


def _dedup_keep_best_sql() -> str:
    """Twin of `cluster_canonical` over the identical pair set: recursive-CTE
    components (as in _dedup_clusters_sql) + the quality formula (as in the
    quality_score oracle) + argmax per cluster (quality DESC, doc_id ASC)."""
    ctes = _MINHASH_CTES.replace("WITH sh AS", "WITH RECURSIVE sh AS")
    return ctes + r"""
        , edges AS (
          SELECT id_a AS x, id_b AS y FROM pairs
          UNION
          SELECT id_b AS x, id_a AS y FROM pairs
        ), reach AS (
          SELECT x, x AS lab FROM (SELECT DISTINCT x FROM edges) t
          UNION
          SELECT e.x, r.lab FROM edges e JOIN reach r ON e.y = r.x
        ), clusters AS (
          SELECT x AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY x
        ), qt AS (
          SELECT doc_id, text, length(text) AS n_chars,
                 list_filter(string_split_regex(trim(text), '\s+'),
                             x -> x <> '') AS toks,
                 length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS n_punct
          FROM documents
        ), q AS (
          SELECT doc_id,
                 round(0.4*least(n_chars/500.0, 1.0)
                     + 0.3*(1 - CASE WHEN n_chars > 0
                                     THEN CAST(n_punct AS DOUBLE)/n_chars
                                     ELSE 0 END)
                     + 0.3*CASE WHEN len(toks) > 0 THEN
                         CAST(len(list_filter(toks, x -> lower(x) IN
                           ('the','a','of','and','to','in','is','it','for','on'))) AS DOUBLE)
                         / len(toks) ELSE 0 END
                     + 1e-9, 4) AS quality
          FROM qt
        ), lab AS (
          SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
          FROM documents d LEFT JOIN clusters c USING (doc_id)
        ), ranked AS (
          SELECT l.cluster_id, l.doc_id, q.quality,
                 row_number() OVER (PARTITION BY l.cluster_id
                                    ORDER BY q.quality DESC, l.doc_id ASC) AS rn,
                 count(*) OVER (PARTITION BY l.cluster_id) AS n_members,
                 max(q.quality) OVER (PARTITION BY l.cluster_id) AS best_score
          FROM lab l JOIN q USING (doc_id)
        )
        SELECT cluster_id, doc_id AS keep_doc_id, n_members, best_score
        FROM ranked WHERE rn = 1
    """


def _ngram_jaccard_sql() -> str:
    return _MINHASH_CTES + r"""
        , szs AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        inter AS (
          SELECT p.id_a, p.id_b, count(*) AS n_inter
          FROM pairs p
          JOIN sh a ON a.doc_id = p.id_a
          JOIN sh b ON b.doc_id = p.id_b AND b.shingle = a.shingle
          GROUP BY p.id_a, p.id_b
        )
        SELECT p.id_a, p.id_b,
               round(CAST(coalesce(i.n_inter, 0) AS DOUBLE)
                     / (sa.sz + sb.sz - coalesce(i.n_inter, 0)), 6) AS jaccard
        FROM pairs p
        LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
        JOIN szs sa ON sa.doc_id = p.id_a
        JOIN szs sb ON sb.doc_id = p.id_b
    """
