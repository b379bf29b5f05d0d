"""Derived tables — incrementally-maintained row-local transforms.

The generalization of the engine's two existing changefeed consumers:
`tables/index.SecondaryIndex` (a fixed value->key projection) and
`tables/matview.MaterializedAggregate` (SUM-decomposable rollups). A
DerivedTable maintains ANY deterministic, row-local 1->N transform of a
source CDC table — document chunking for RAG, per-file symbol extraction,
n-gram shingle tables — as a CDC table of its own, trailing the source by
at most one sync:

- **transform**: a SQL statement over the view `__source__` (one row per
  live source row, source schema + LSN). It must be row-local (each output
  row derived from exactly one input row) and deterministic; each output
  row carries the source merge key, a `seq` column distinguishing the N
  outputs of one source row, and the source row's LSN passed through.
  Storing the transform AS SQL (the matview trick) makes the derived table
  reopenable by a fresh process from its own metadata — nothing lives only
  in driver memory.
- **derivation**: like the secondary index, maintenance consumes the
  CHANGEFEED between the last-synced source snapshot and HEAD — never the
  raw event stream — so whatever the source LWW already resolved can never
  corrupt the derived state. Retractions need no table scan and no stored
  reverse mapping: the transform is row-local and deterministic, so the
  derived keys to retract are exactly `T(before-image)`'s keys minus
  `T(after-image)`'s keys, and the changefeed's `old_<col>` columns ARE the
  before-image (op in (update, delete) <=> the key was live before).
- **exactly-once**: the derived table's epoch counter is the source
  snapshot id; a crash between source publish and sync re-runs the same
  interval and no-ops, and a sync that missed several source commits
  catches up in one diff.
- **scale**: per sync, work is O(changed buckets diffed) + O(T(changed
  rows)) — the source is never re-transformed, and the derived table is
  never scanned (the anti-join runs between the two transform outputs,
  both O(changed rows)). An EXPIRED last-synced snapshot degrades to one
  full state-vs-state reconciliation, still exactly-once.

Reference parity: none (engine-added; the reference has no derived-data
story). Same family as Delta Live Tables / Materialize incremental views,
restricted to the row-local case where maintenance is embarrassingly
parallel.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_migration_service_spark.config import EngineConfig
from data_migration_service_spark.operators.changefeed import table_changes
from data_migration_service_spark.operators.merge import (
    cdc_apply,
    current_epoch,
)
from data_migration_service_spark.tables.lake import DELETED_COL, SnapshotTable

SOURCE_VIEW = "__source__"


class DerivedTable:
    """A CDC table whose content is `transform_sql(source live state)`,
    maintained incrementally from the source changefeed.

    Derived merge key = (*source key cols, seq_col). The transform's output
    must contain the source key cols, `seq_col` (non-null, unique per
    source row), the source LSN column passed through unchanged, and any
    payload columns.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.table = SnapshotTable(spark, root)
        snap = self.table.current()
        self.transform_sql = snap.props.get("derived_sql")
        self.seq_col = snap.props.get("derived_seq")
        self.source_root = snap.props.get("derived_of")
        if not self.transform_sql or not self.seq_col:
            raise ValueError(f"{root} is not a derived table "
                             f"(missing derived_sql/derived_seq props)")
        self.lsn_col = snap.props.get("lsn_col", "lsn")
        self.source_keys = [k for k in snap.key_cols if k != self.seq_col]
        self.cfg = EngineConfig(
            table_path=root, key_cols=tuple(snap.key_cols),
            lsn_col=self.lsn_col, merge_mode="mor",
            n_buckets=snap.n_buckets, salt_factor=1,
        )

    # ---- creation ----

    @classmethod
    def create(cls, spark: SparkSession, root: str, source: SnapshotTable,
               transform_sql: str, seq_col: str = "seq",
               n_buckets: int | None = None) -> "DerivedTable":
        """Validate the transform against the source schema (on an empty
        frame — cheap, catches missing/renamed columns and bad SQL before
        anything is written) and create the derived table with the
        transform stored in its metadata."""
        src_snap = source.current()
        lsn_col = src_snap.props.get("lsn_col", "lsn")
        src_schema = T.StructType([
            f for f in src_snap.schema().fields if f.name != DELETED_COL])
        empty = spark.createDataFrame([], src_schema)
        out_schema = cls._run_transform(spark, empty, transform_sql).schema
        out_names = set(out_schema.names)
        missing = [c for c in (*src_snap.key_cols, seq_col, lsn_col)
                   if c not in out_names]
        if missing:
            raise ValueError(
                f"transform output lacks required columns {missing} "
                f"(got {sorted(out_names)})")
        keys = [*src_snap.key_cols, seq_col]
        # derived schema: keys first, then LSN, then payload — stable order
        by_name = {f.name: f for f in out_schema.fields}
        payload = [f.name for f in out_schema.fields
                   if f.name not in keys and f.name != lsn_col]
        schema = T.StructType(
            [by_name[k] for k in keys]
            + [T.StructField(lsn_col, T.LongType(), False)]
            + [by_name[c] for c in payload]
        )
        # Bucket by the SOURCE key prefix, not the full (key, seq) merge
        # key: a source row's N derived outputs land in ONE bucket, and —
        # when n_buckets matches the source's — the derived table is
        # CO-LOCATED with it: bucket b of each holds the same source keys,
        # so table ⋈ derived joins run bucket-aligned with no shuffle
        # (tables/colocated.py). Matching the source's n_buckets maximizes
        # that alignment; an explicit n_buckets still wins (a 1->50 chunk
        # fan-out may genuinely need more buckets than its source).
        if n_buckets is None:
            n_buckets = src_snap.n_buckets
        SnapshotTable.create(
            spark, root, schema, key_cols=keys, n_buckets=n_buckets,
            lsn_col=lsn_col, bucket_cols=list(src_snap.key_cols),
            props={"derived_of": source.root, "derived_sql": transform_sql,
                   "derived_seq": seq_col},
        )
        return cls(spark, root)

    @staticmethod
    def _run_transform(spark: SparkSession, df: DataFrame,
                       transform_sql: str) -> DataFrame:
        """Execute the stored SQL over `df` via a uniquely-named temp view
        (so concurrent syncs in one session can't collide), with the
        documented `__source__` name substituted."""
        view = f"_dms_derived_{uuid.uuid4().hex[:12]}"
        df.createOrReplaceTempView(view)
        try:
            return spark.sql(transform_sql.replace(SOURCE_VIEW, view))
        finally:
            # the RETURNED DataFrame keeps its resolved plan; dropping the
            # view only prevents namespace leakage
            spark.catalog.dropTempView(view)

    # ---- maintenance ----

    def sync(self, source: SnapshotTable) -> dict:
        """Bring the derived table up to the source's current snapshot.

        Same contract as `SecondaryIndex.sync` — `ReplayEngine(indexes=)`
        accepts a DerivedTable unchanged, so the derived state can trail a
        live stream by at most one epoch."""
        to_snap = source.current()
        done = current_epoch(self.table, self.cfg)
        from_sid = done if done >= 0 else None
        if from_sid is not None and from_sid >= to_snap.snapshot_id:
            return {"skipped": True, "synced_snapshot": from_sid}
        lsn = self.lsn_col
        keys = self.source_keys
        dkeys = [*keys, self.seq_col]
        payload = [f.name for f in self.table.current().schema().fields
                   if f.name not in dkeys
                   and f.name not in (lsn, DELETED_COL)]

        if from_sid is None:
            # first sync: bootstrap from the full live state (robust even
            # when the source's early snapshots were already expired)
            mode = "bootstrap"
            events = self._transform_state(source, to_snap).select(
                *dkeys, F.col(lsn), *payload,
                F.lit("insert").alias("op"))
        else:
            try:
                ch = table_changes(source, from_sid, to_snap.snapshot_id,
                                   include_old=True)
                mode = "changefeed"
                events = self._changefeed_events(ch, source, payload)
            except FileNotFoundError:
                # last-synced source snapshot expired -> no diff base; one
                # full reconciliation (both transform outputs, two
                # anti-joins), same exactly-once epoch
                mode = "reconcile"
                events = self._reconcile_events(source, to_snap, payload)

        stats = cdc_apply(self.table, events, self.cfg,
                          epoch=to_snap.snapshot_id)
        return {"skipped": stats.skipped,
                "synced_snapshot": to_snap.snapshot_id,
                "mode": mode,
                "rows_inserted": stats.rows_inserted,
                "rows_deleted": stats.rows_deleted}

    def _transform_state(self, source: SnapshotTable,
                         snap) -> DataFrame:
        state = source.read(snapshot=snap)
        return self._run_transform(self.spark, state, self.transform_sql)

    def _source_data_cols(self, source: SnapshotTable) -> list[str]:
        src_snap = source.current()
        return [f.name for f in src_snap.schema().fields
                if f.name not in (*self.source_keys, self.lsn_col,
                                  DELETED_COL)]

    def _changefeed_events(self, ch: DataFrame, source: SnapshotTable,
                           payload: list[str]) -> DataFrame:
        """Upserts = T(after-images); retractions = T(before-images)' keys
        minus T(after-images)' keys. Both frames are O(changed rows); the
        derived table itself is never read."""
        lsn, keys = self.lsn_col, self.source_keys
        data_cols = self._source_data_cols(source)
        # `ch` feeds both branches below; the plan is recomputed once per
        # branch, but each recompute is the bucket-pruned diff of CHANGED
        # buckets only — bounded by the epoch size, not the table.
        after_src = (
            ch.where(F.col("op") != "delete")
            .select(*keys, F.col(lsn), *data_cols)
        )
        new_rows = self._run_transform(self.spark, after_src,
                                       self.transform_sql)
        # op in (update, delete) <=> key was live at from_snapshot, so the
        # old_<c> columns are a complete before-image. Its LSN is set to
        # the CHANGE's LSN so every retraction beats the stored derived
        # row (written at the superseded source row's older LSN).
        before_src = (
            ch.where(F.col("op").isin("update", "delete"))
            .select(*keys, F.col(lsn),
                    *[F.col(f"old_{c}").alias(c) for c in data_cols])
        )
        old_rows = self._run_transform(self.spark, before_src,
                                       self.transform_sql)
        dkeys = [*keys, self.seq_col]
        ins = new_rows.select(*dkeys, F.col(lsn), *payload,
                              F.lit("insert").alias("op"))
        schema = self.table.current().schema()
        dels = (
            old_rows.select(*dkeys, F.col(lsn))
            .join(new_rows.select(*dkeys), dkeys, "left_anti")
            .select(*dkeys, F.col(lsn),
                    *[F.lit(None).cast(schema[c].dataType).alias(c)
                      for c in payload],
                    F.lit("delete").alias("op"))
        )
        return ins.unionByName(dels)

    def _reconcile_events(self, source: SnapshotTable, to_snap,
                          payload: list[str]) -> DataFrame:
        """Full state-vs-state repair: upsert derived rows that are missing
        or whose payload drifted (null-safe compare), retract derived keys
        the transform no longer produces (+1 LSN so the retraction beats
        the stored row). The +1 can collide with a FUTURE legitimate
        source event's LSN (e.g. the doc re-grows at the next LSN); that
        later insert arrives in a later delta and wins the equal-LSN tie
        by delta generation (tables/lake.dir_gen), so no derived row can
        be permanently shadowed by a reconcile tombstone."""
        lsn, dkeys = self.lsn_col, [*self.source_keys, self.seq_col]
        full = self._transform_state(source, to_snap)
        cur = self.table.read().select(*dkeys, F.col(lsn), *payload)
        f = full.select(*dkeys, F.col(lsn), *payload)
        joined = f.alias("f").join(cur.alias("c"), dkeys, "left")
        changed = F.col(f"c.{lsn}").isNull()
        for c in payload:
            changed = changed | ~F.col(f"f.{c}").eqNullSafe(F.col(f"c.{c}"))
        ins = (joined.where(changed)
               .select(*dkeys, F.col(f"f.{lsn}").alias(lsn),
                       *[F.col(f"f.{c}").alias(c) for c in payload],
                       F.lit("insert").alias("op")))
        dels = (cur.join(f.select(*dkeys), dkeys, "left_anti")
                .select(*dkeys, (F.col(lsn) + 1).alias(lsn),
                        *[F.lit(None).cast(
                            self.table.current().schema()[c].dataType
                          ).alias(c) for c in payload],
                        F.lit("delete").alias("op")))
        return ins.unionByName(dels)

    def redefine(self, source: SnapshotTable, transform_sql: str) -> dict:
        """Transform evolution: swap the stored SQL and rebuild the derived
        state to match — e.g. a new chunk size. The output SCHEMA must stay
        identical (a schema-changing redefinition is a different table;
        create one).

        The epoch guard would absorb a plain sync here (the source did not
        move — the transform did), so the rebuild applies as one full
        state-vs-state reconcile WITHOUT an epoch tag. Upserts whose
        payload changed land at the source row's unchanged LSN and still
        win: the derived table is MOR, where equal-LSN ties are resolved
        by delta-dir generation — the later-applied delta beats the stored
        row (tables/lake.dir_gen; the MOR analogue of the cow SIDE_COL
        tie-break). Re-running is idempotent by the same null-safe payload
        diff (second pass finds nothing changed)."""
        snap = self.table.current()
        src_snap = source.current()
        src_schema = T.StructType([
            f for f in src_snap.schema().fields if f.name != DELETED_COL])
        empty = self.spark.createDataFrame([], src_schema)
        out = self._run_transform(self.spark, empty, transform_sql).schema
        want = {f.name: f.dataType for f in snap.schema().fields
                if f.name != DELETED_COL}
        got = {f.name: f.dataType for f in out.fields}
        if got != want:
            raise ValueError(
                f"redefine must preserve the output schema; "
                f"got {sorted(got)} vs table {sorted(want)}")
        self.table.set_props(derived_sql=transform_sql)
        self.transform_sql = transform_sql
        payload = [f.name for f in snap.schema().fields
                   if f.name not in (*self.source_keys, self.seq_col,
                                     self.lsn_col, DELETED_COL)]
        events = self._reconcile_events(source, src_snap, payload)
        stats = cdc_apply(self.table, events, self.cfg, epoch=None)
        return {"rebuilt": True,
                "rows_inserted": stats.rows_inserted,
                "rows_deleted": stats.rows_deleted}

    def compact(self) -> None:
        """Fold delta dirs into key-sorted base files (same LSM rule as the
        secondary index: an L0-heavy derived table neither skips row groups
        nor avoids the MOR reduce on read)."""
        from data_migration_service_spark.operators.merge import compact

        compact(self.table, self.cfg)

    # ---- read ----

    def read(self, **kw) -> DataFrame:
        return self.table.read(**kw)

    def join_source(self, source: SnapshotTable,
                    how: str = "inner") -> DataFrame:
        """Derived rows joined back to their source rows, bucket-aligned.

        The derived table is bucketed by the SOURCE key prefix (create()),
        so when its n_buckets matches the source's the join runs
        shuffle-free (tables/colocated.colocated_join_many): the
        chunk⋈document read that every RAG/export pipeline ends with costs
        zero exchanges instead of two full-table shuffles. Source columns
        keep their names; colliding derived columns get the "_r1" suffix
        (notably the LSN)."""
        from data_migration_service_spark.tables.colocated import (
            colocated_join_many,
        )

        return colocated_join_many([source, self.table],
                                   on=self.source_keys, how=how)
