"""Engine facade — the reference's REST surface as Python calls.

Reference endpoints (readMe.md:48-62, controller/DataMigrationController.java)
mapped 1:1:

| reference                          | engine                         |
|------------------------------------|--------------------------------|
| POST /jobs/{table}                 | Engine.replay(...)             |
| POST /jobs (all configured tables) | EngineGroup.replay_all(...)    |
| POST /jobs/migrateSpecificRecords  | Engine.replay_keys(...)        |
| GET  /jobs[/{table}]               | Engine.status(detail=...)      |
| POST /data/verification[/{table}]  | Engine.verify(...)             |
| verification + re-migration loop   | Engine.repair(...)             |
| POST /data/cleanup[/{table}]       | Engine.cleanup(...)            |

The table-level job lock (BatchJobParameterHolder.java:33-57) is explicit:
`JobLock` (an O_EXCL lock file under the checkpoint root) guards a whole
replay run, on top of the streaming checkpoint's single-writer guarantee
and SnapshotTable's per-commit optimistic concurrency. `EngineGroup`
mirrors the reference's flagship POST /jobs sweep: migrate every configured
table, SKIP tables whose job lock is held
(DataMigrationService.java:298-310 + DBConfigReader.java:14-36's table
list). Run-id bookkeeping (JobRepository) is the epoch-tagged lineage
store, surfaced per-epoch/per-bucket via `status(detail=True)`
(reference GET /jobs/{t} per-step detail, java:263-296).
"""

from __future__ import annotations

import logging
import os
import threading
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_migration_service_spark.config import EngineConfig
from data_migration_service_spark.functions.hashing import row_sha256
from data_migration_service_spark.operators import verify as V
from data_migration_service_spark.operators.merge import (
    compact,
    compact_ripe,
    current_epoch,
    delete_where,
    maybe_broadcast_keys,
    probe,
    stage_audit_publish,
)
from data_migration_service_spark.operators.patch import apply_changes
from data_migration_service_spark.registry import SchemaRegistry
from data_migration_service_spark.streaming.replay import ReplayEngine
from data_migration_service_spark.tables.lake import (
    DELETED_COL,
    SnapshotTable,
    bucket_expr,
)

logger = logging.getLogger(__name__)

# Temp views live in the session catalog, shared by every thread on one
# SparkSession: callers that register views under fixed names hold this
# lock from registration through `spark.sql` (which analyses eagerly, so
# the returned DataFrame no longer needs the views) to the drop.
_VIEW_LOCK = threading.Lock()


class JobLock:
    """Table-level job lock (reference BatchJobParameterHolder.java:33-57:
    `startJob` returns false while the table's batch is running).

    An O_EXCL lock file: `acquire()` wins at most once per path until
    `release()`. Sandbox-local by design — on an object store this becomes
    the catalog's lock/lease API; the call sites don't change."""

    def __init__(self, path: str):
        self.path = path
        self._held = False

    def acquire(self) -> bool:
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        try:
            with open(self.path, "x") as f:
                f.write(str(os.getpid()))
        except FileExistsError:
            return False
        self._held = True
        return True

    def release(self) -> None:
        if self._held:
            try:
                os.remove(self.path)
            finally:
                self._held = False

    def held_by_other(self) -> bool:
        return os.path.exists(self.path) and not self._held


class Engine:
    def __init__(self, spark: SparkSession, cfg: EngineConfig,
                 registry: SchemaRegistry | None = None,
                 meta_store=None, audit_gate=None, transform=None,
                 views=None):
        # meta_store: commit-protocol backend (tables/metastore.py) — None
        # = local FS; an object-store deployment passes its conditional-PUT
        # store here and nothing else changes.
        # audit_gate: optional Callable[[DataFrame], bool] — run every
        # replayed micro-batch under write-audit-publish (streaming/replay).
        # transform: optional Callable[[DataFrame], DataFrame] — ingest-time
        # per-batch transform (the reference's ItemProcessor hook); runs
        # post-decode, pre-quarantine; must preserve key/LSN/op columns.
        self.spark = spark
        self.cfg = cfg
        self.table = SnapshotTable(spark, cfg.table_path,
                                   meta_store=meta_store)
        self.registry = registry
        # views: MaterializedAggregate list (tables/matview.py) refreshed
        # after every published epoch of a replay
        self._replayer = ReplayEngine(spark, self.table, cfg,
                                      registry=registry,
                                      audit_gate=audit_gate,
                                      transform=transform,
                                      views=views)
        self.lock = (
            JobLock(os.path.join(cfg.checkpoint_path, "job.lock"))
            if cfg.checkpoint_path else None
        )

    # ---- POST /jobs/{table} ----
    def replay(self, source_path: str, streaming: bool = True, **kw):
        """Tail `source_path` (ordered change events) into the target table.
        Streaming mode drains via availableNow with checkpoint resume;
        batch mode applies LSN ranges deterministically (tests/bench).
        Holds the table's job lock for the duration when a checkpoint is
        configured (reference: one running batch per table)."""
        if self.lock is not None:
            if not self.lock.acquire():
                raise RuntimeError(
                    f"job already running for table {self.cfg.table_path} "
                    f"(lock: {self.lock.path})"
                )
        try:
            if streaming:
                return self._replayer.replay_stream(source_path, **kw)
            events = self.spark.read.parquet(source_path)
            hi = events.agg(F.max(self.cfg.lsn_col)).collect()[0][0] or 0
            return self._replayer.replay_ranges(
                events, [(1, hi)],
                first_epoch=current_epoch(self.table, self.cfg) + 1)
        finally:
            if self.lock is not None:
                self.lock.release()

    # ---- write-audit-publish (staged epoch, gated visibility) ----
    def apply_audited(self, batch: DataFrame, epoch: int,
                      gate=None, expected: DataFrame | None = None,
                      content_col: str = "content") -> dict[str, Any]:
        """Apply one epoch under write-audit-publish: the merge commits
        STAGED (HEAD unchanged, readers keep the pre-batch state), the
        audit runs against the staged snapshot, and only a passing audit
        publishes it. A failing audit discards the staged manifest and its
        data files — the bad epoch never becomes visible and re-applying a
        corrected batch under the same epoch number just works (the epoch
        guard keys off PUBLISHED state).

        The audit is `gate(staged_df) -> bool` (any invariant over the
        would-be table state), or — reference parity: the verification step
        that gates a migration (DataVerificationService.java:126-252) —
        pass `expected` to require per-row sha256(content) equality.

        Iceberg analogue: WAP / branch commit + audit + fast-forward; here
        the staged manifest IS the branch. The protocol (orphan recovery,
        stage, gate, publish + compaction or discard) is
        operators/merge.stage_audit_publish."""
        if gate is None and expected is None:
            raise ValueError("apply_audited needs a gate callable or an "
                             "expected DataFrame")
        audit: dict[str, Any] = {"gate": "callable"}
        if gate is None:
            audit["gate"] = "verify_state"

            def gate(staged_df: DataFrame) -> bool:
                res = V.verify_state(
                    expected, staged_df, list(self.cfg.key_cols),
                    content_col=content_col,
                    report_cap=self.cfg.mismatch_report_cap)
                audit.update(n_mismatch=res.n_mismatch,
                             n_missing_in_target=res.n_missing_in_target,
                             n_missing_in_source=res.n_missing_in_source)
                return res.consistent

        stats, ok = stage_audit_publish(self.table, batch, self.cfg, epoch,
                                        gate)
        if stats.skipped:
            return {"epoch": epoch, "published": False, "skipped": True,
                    "snapshot_id": stats.snapshot_id}
        audit["passed"] = ok
        return {"epoch": epoch, "published": ok, "skipped": False,
                "snapshot_id": stats.snapshot_id if ok else None,
                "audit": audit}

    # ---- initial full load (snapshot-then-tail handoff) ----
    def bootstrap(self, snapshot_df: DataFrame, epoch: int = 0):
        """One-pass initial load of a consistent source snapshot (the
        reference's flagship full-table migration), recording the LSN
        high-watermark; a subsequent `replay()` tail prunes events at or
        below it. See operators/merge.bootstrap_load."""
        from data_migration_service_spark.operators.merge import bootstrap_load

        if self.lock is not None:
            if not self.lock.acquire():
                raise RuntimeError(
                    f"job already running for table {self.cfg.table_path}")
        try:
            return bootstrap_load(self.table, snapshot_df, self.cfg,
                                  epoch=epoch)
        finally:
            if self.lock is not None:
                self.lock.release()

    def merge(self, source: DataFrame, matched=(), not_matched=None,
              not_matched_by_source=(),
              epoch: int | None = None, lsn: int | None = None):
        """Ad-hoc conditional MERGE (Delta MERGE INTO analogue) under the
        same job lock as a replay — backfills and corrections can't race a
        running CDC stream on this table. See operators/merge_into."""
        from data_migration_service_spark.operators.merge_into import merge_into

        if self.lock is not None:
            if not self.lock.acquire():
                raise RuntimeError(
                    f"job already running for table {self.cfg.table_path}")
        try:
            return merge_into(self.table, source, self.cfg, matched=matched,
                              not_matched=not_matched,
                              not_matched_by_source=not_matched_by_source,
                              epoch=epoch, lsn=lsn)
        finally:
            if self.lock is not None:
                self.lock.release()

    # ---- POST /jobs/migrateSpecificRecords ----
    def replay_keys(self, events: DataFrame, keys: DataFrame,
                    epoch: int | None = None):
        """Targeted re-replay: re-apply only the events whose merge key is in
        `keys` (reference: per-record re-migration with unlimited duplicate
        skip, DataMigrationService.java:312-342). Semi-join, never a
        string-built predicate (SURVEY §2 P6)."""
        p = probe(keys, self.table.current())
        subset = events.join(p.keys, list(self.cfg.key_cols), "left_semi")
        e = epoch if epoch is not None else current_epoch(self.table, self.cfg) + 1
        return apply_changes(self.table, subset, self.cfg, epoch=e)

    # ---- GET /jobs ----
    def status(self, detail: bool = False) -> dict[str, Any]:
        """Current table + replay state (reference: Spring Batch job
        executions, DataMigrationService.java:263-296).

        `detail=True` adds the per-epoch lineage — each epoch's rows /
        conflicts (matched, inserted, deleted) / snapshot / wall time plus
        its per-bucket partitions (rows, LSN range) — the per-step detail
        the reference returns from GET /jobs/{t} (java:263-296: step
        status + read/write counters per tenant step)."""
        snap = self.table.current()
        lineage = self._replayer.lineage() if self.cfg.checkpoint_path else []
        out = {
            "snapshot_id": snap.snapshot_id,
            "epoch": int(snap.props.get("epoch", "-1")),
            # namespaced counters of sharded writers (cfg.writer_id fan-in)
            "writer_epochs": {k.split(".", 1)[1]: int(v)
                              for k, v in snap.props.items()
                              if k.startswith("epoch.")},
            "schema_version": int(snap.props.get("schema_version", "1")),
            "n_buckets": snap.n_buckets,
            "buckets_with_deltas": sum(1 for d in snap.deltas.values() if d),
            "last_operation": snap.summary.get("operation"),
            "committed_at": snap.summary.get("committed_at"),
            "branches": self.table.branches(),
            "staged": self.table.staged_snapshots(),
            "epochs_recorded": len(lineage),
            "rows_applied": sum(l.get("rows_in_batch", 0) for l in lineage),
            "running": bool(self.lock and self.lock.held_by_other()),
        }
        if detail:
            out["epochs"] = lineage
        return out

    # ---- POST /data/verification ----
    def verify(self, expected: DataFrame, content_col: str = "content",
               sample_denominator: int | None = None,
               sample_salt: str | None = None) -> V.VerifyResult:
        """Post-replay validation: per-row sha256(content) equality of the
        materialized table against the expected final state.

        A table that agrees costs one aggregate over the key join of both
        sides (verify.verify_state); the capped report and the per-group
        counts run only when that pass finds a difference. A key repeated
        on either side makes the result inconsistent.

        `sample_denominator=N` runs the deterministic 1/N key-sample canary
        instead of the full diff (verify.verify_sample) — the every-epoch
        mode at 100 TB; by default the salt rotates with the current epoch
        so successive epochs walk different slices of the key space."""
        if sample_denominator:
            salt = (sample_salt if sample_salt is not None
                    else f"epoch-{int(self.table.current().props.get('epoch', '0'))}")
            return V.verify_sample(
                expected, self.table.read(columns=[content_col]),
                list(self.cfg.key_cols),
                content_col=content_col, denominator=sample_denominator,
                salt=salt, report_cap=self.cfg.mismatch_report_cap,
            )
        # columns=: the verification touches only key + content columns, so
        # the scan (and the MOR reduce, if deltas are pending) must not pay
        # for the rest of a wide schema
        return V.verify_state(
            expected, self.table.read(columns=[content_col]),
            list(self.cfg.key_cols),
            content_col=content_col, report_cap=self.cfg.mismatch_report_cap,
        )

    # ---- POST /data/cleanup ----
    def cleanup(self, predicate=None, keys: DataFrame | None = None) -> int:
        """TRUNCATE (no args), keyed delete (`keys`: hit buckets computed
        from the key hashes, zero table scan), or predicate delete
        (reference: DataCleanupService.java:36-106 / targeted cleanup)."""
        if predicate is None and keys is None:
            return self.table.truncate().snapshot_id
        return delete_where(self.table, self.cfg, predicate, keys=keys)

    # ---- verification-driven repair (anti-entropy) ----
    def repair(self, expected: DataFrame,
               compare_cols: list[str] | None = None,
               epoch: int | None = None,
               repair_lsn: int | None = None,
               dry_run: bool = False,
               verify_after: bool = True,
               since_snapshot: int | None = None) -> dict[str, Any]:
        """Close the verification loop: diff the table against the
        source-of-truth state and apply the minimal fix — the reference
        runs verification (DataVerificationService.java:126-252) and then
        re-migrates flagged records by hand through
        migrateSpecificRecords (DataMigrationService.java:312-342); this
        composes the two into one anti-entropy pass.

        `expected` is the full desired row set (key columns + data
        columns; an `lsn`/`op` column, if present, is ignored for the
        comparison and replaced in the fix). Plan:

        1. diff: one full-outer fingerprint join (verify.hash_diff) over
           `row_sha256(compare_cols)` — NULL values hash to the sentinel,
           so a NULL-content row is compared, never misread as absent;
        2. fix batch: MISMATCH / MISSING_IN_TARGET keys take the expected
           row as an upsert; MISSING_IN_SOURCE keys (rows the source of
           truth no longer has) become delete tombstones;
        3. every fix event carries `repair_lsn` (default: one past the
           max LSN on either side — a narrow column-pruned aggregate), so
           LWW makes the repair win over any stale version while staying
           an ordinary CDC batch: bucket pruning rewrites only hit
           buckets, the epoch guard makes a re-run idempotent, and a
           quarantine/audit-gated table treats repairs like any ingest.

        `dry_run=True` returns the planned counts without touching the
        table. Scale: both sides shuffle once on the key for the diff
        (same cost as `verify`); the fix batch is bad-keys-sized, so a
        mostly-healthy 10^10-row table repairs in O(diff) + O(bad).

        `since_snapshot=N` is the incremental mode (the verify_incremental
        trick applied to repair): after the table was verified/repaired
        clean at snapshot N, only buckets whose manifest references moved
        since N can have diverged — both the target read and `expected`
        prune to those buckets (the same bucket-hash filter on both sides,
        so out-of-scope keys cannot surface as spurious MISSING rows), and
        the per-epoch repair costs O(changed buckets), not O(table). A
        rebucket in between makes layouts incomparable -> full repair."""
        key_cols = list(self.cfg.key_cols)
        meta = {self.cfg.lsn_col, self.cfg.op_col}
        data_cols = [c for c in expected.columns
                     if c not in set(key_cols) | meta]
        cmp_cols = list(compare_cols) if compare_cols is not None else data_cols
        scoped_buckets = None
        if since_snapshot is not None:
            from data_migration_service_spark.operators.changefeed import (
                changed_buckets,
            )
            from data_migration_service_spark.tables.lake import bucket_expr

            snap = self.table.current()
            old = self.table.load_snapshot(since_snapshot)
            changed = changed_buckets(old, snap)
            if changed is not None:  # comparable layouts: prune both sides
                scoped_buckets = changed
                expected = expected.where(
                    bucket_expr(snap.layout_cols(), snap.n_buckets)
                    .isin(changed) if changed else F.lit(False))
        tgt = self.table.read(columns=cmp_cols, buckets=scoped_buckets)
        diff = V.hash_diff(
            expected, tgt, key_cols,
            row_sha256(expected, cmp_cols), row_sha256(tgt, cmp_cols),
        )
        bad = diff.where(F.col("status") != V.OK).select(*key_cols, "status")
        bad = bad.cache()
        try:
            counts = {r["status"]: r["n"] for r in
                      bad.groupBy("status")
                      .agg(F.count(F.lit(1)).alias("n")).collect()}
            n_upsert = (counts.get(V.MISMATCH, 0)
                        + counts.get(V.MISSING_IN_TARGET, 0))
            n_delete = counts.get(V.MISSING_IN_SOURCE, 0)
            report: dict[str, Any] = {
                "n_mismatch": counts.get(V.MISMATCH, 0),
                "n_missing_in_target": counts.get(V.MISSING_IN_TARGET, 0),
                "n_missing_in_source": counts.get(V.MISSING_IN_SOURCE, 0),
                "n_upserts": n_upsert, "n_deletes": n_delete,
                "applied": False, "dry_run": dry_run,
                "buckets_checked": ("all" if scoped_buckets is None
                                    else scoped_buckets),
            }
            if dry_run or n_upsert + n_delete == 0:
                return report
            if repair_lsn is None:
                # bad keys live in the scoped buckets, so their watermark
                # is the only one the repair LSN must beat
                hi_t = (self.table.read(columns=[], buckets=scoped_buckets)
                        .agg(F.max(self.cfg.lsn_col)).collect()[0][0]) or 0
                hi_e = 0
                if self.cfg.lsn_col in expected.columns:
                    hi_e = (expected.agg(F.max(self.cfg.lsn_col))
                            .collect()[0][0]) or 0
                repair_lsn = max(int(hi_t), int(hi_e)) + 1
            up_keys = (bad.where(F.col("status") != V.MISSING_IN_SOURCE)
                       .select(*key_cols))
            upserts = (
                expected.join(maybe_broadcast_keys(up_keys, n_upsert),
                              key_cols, "left_semi")
                .select(*key_cols, *data_cols)
                .withColumn(self.cfg.op_col, F.lit("update"))
            )
            dtypes = {f.name: f.dataType for f in expected.schema.fields}
            deletes = (bad.where(F.col("status") == V.MISSING_IN_SOURCE)
                       .select(*key_cols))
            for c in data_cols:
                deletes = deletes.withColumn(c, F.lit(None).cast(dtypes[c]))
            deletes = deletes.withColumn(self.cfg.op_col, F.lit("delete"))
            batch = (upserts.unionByName(deletes)
                     .withColumn(self.cfg.lsn_col, F.lit(repair_lsn)))
            e = (epoch if epoch is not None
                 else current_epoch(self.table, self.cfg) + 1)
            stats = apply_changes(self.table, batch, self.cfg, epoch=e)
            report.update(applied=not stats.skipped, epoch=e,
                          repair_lsn=repair_lsn,
                          snapshot_id=stats.snapshot_id)
        finally:
            bad.unpersist()
        if verify_after:
            tgt2 = self.table.read(columns=cmp_cols, buckets=scoped_buckets)
            residual = (
                V.hash_diff(expected, tgt2, key_cols,
                            row_sha256(expected, cmp_cols),
                            row_sha256(tgt2, cmp_cols))
                .where(F.col("status") != V.OK).count())
            report["residual_bad_keys"] = residual
        return report

    def update_where(self, set_exprs: dict[str, Any], predicate=None,
                     keys: DataFrame | None = None,
                     epoch: int | None = None,
                     update_lsn: int | None = None) -> dict[str, Any]:
        """SQL UPDATE (Delta/Iceberg `UPDATE t SET ... WHERE ...` parity),
        expressed as an ordinary CDC batch rather than an in-place file
        rewrite — deliberately: the changefeed contract classifies a row
        change as `update` only when its winning LSN moved, so an
        in-place rewrite that kept old LSNs would silently desynchronize
        every changefeed consumer (secondary indexes, matviews, derived
        tables, replicas). Routing through `apply_changes` buys LSN
        movement, exactly-once epoch tagging, quarantine/audit gating,
        and bucket-pruned rewrites for free.

        `set_exprs`: {column: Column | SQL string} applied to matching
        LIVE rows (tombstones are never updated). Key columns, the LSN
        and op columns are protected. Exactly one of `predicate` (boolean
        Column over the row — needs a scan, column-pruned by Catalyst) or
        `keys` (merge-key DataFrame — bucket-pruned via `merge.probe`, NO
        table scan) selects the rows.

        All updated rows carry one LSN past the scoped high-watermark
        (the `repair` rule), so the update wins LWW over every current
        version while later real CDC events still supersede it."""
        snap = self.table.current()
        key_cols = list(self.cfg.key_cols)
        if (keys is None) == (predicate is None):
            raise ValueError(
                "update_where takes exactly one of predicate / keys")
        protected = set(key_cols) | {self.cfg.lsn_col, self.cfg.op_col,
                                     DELETED_COL}
        names = set(snap.schema().names)
        bad = [c for c in set_exprs if c in protected or c not in names]
        if bad:
            raise ValueError(
                f"cannot update columns {bad} (protected or unknown; "
                f"schema: {sorted(names)})")
        hit_buckets = None
        if keys is not None:
            p = probe(keys, snap)
            hit_buckets = p.buckets
            if not hit_buckets:
                return {"n_updated": 0, "applied": False}
            rows = self.table.read(snapshot=snap, buckets=hit_buckets,
                                   keys=p.keys)
        else:
            rows = self.table.read(snapshot=snap).where(predicate)
        if update_lsn is None:
            # raw union (reduce=False): the watermark must clear TOMBSTONE
            # LSNs too — a live-rows-only max could sit below a recent
            # delete and break the "one past the high-watermark" contract
            # (and LSN monotonicity for downstream consumers). Narrow scan,
            # no aggregate-of-struct in the way.
            hi = (self.table.read(snapshot=snap, columns=[],
                                  buckets=hit_buckets, reduce=False)
                  .agg(F.max(self.cfg.lsn_col)).collect()[0][0]) or 0
            update_lsn = int(hi) + 1
        batch = rows
        for c, e in set_exprs.items():
            batch = batch.withColumn(
                c, F.expr(e) if isinstance(e, str) else e)
        batch = (batch
                 .withColumn(self.cfg.lsn_col, F.lit(update_lsn))
                 .withColumn(self.cfg.op_col, F.lit("update")))
        ep = (epoch if epoch is not None
              else current_epoch(self.table, self.cfg) + 1)
        stats = apply_changes(self.table, batch, self.cfg, epoch=ep)
        return {"n_updated": stats.rows_after_dedup,
                "applied": not stats.skipped, "epoch": ep,
                "update_lsn": update_lsn,
                "snapshot_id": stats.snapshot_id}

    def sql(self, query: str, name: str = "t",
            epoch: int | None = None,
            timestamp: float | None = None) -> DataFrame:
        """Run SQL over this table's resolved state (live rows, LWW
        winners), registered as temp view `name`. `epoch`/`timestamp`
        time-travel exactly like `read_as_of`. The view is transient —
        dropped before returning (the result plan is already resolved)."""
        df = (self.read_as_of(epoch=epoch, timestamp=timestamp)
              if epoch is not None or timestamp is not None
              else self.table.read())
        with _VIEW_LOCK:
            df.createOrReplaceTempView(name)
            try:
                return self.spark.sql(query)
            finally:
                self.spark.catalog.dropTempView(name)

    # ---- incremental verification ----
    def verify_incremental(self, expected: DataFrame, since_snapshot: int,
                           content_col: str = "content") -> V.VerifyResult:
        """Verify ONLY the buckets whose manifest references moved since
        `since_snapshot` — the changefeed's metadata pruning applied to the
        verification job. After verifying snapshot S in full, verifying
        S->S' costs O(changed buckets), not O(table): at 10^10 rows a full
        re-verification per epoch is unaffordable, this isn't.

        Both sides prune identically: the target read is bucket-pruned by
        the manifest diff; `expected` is filtered by the same bucket hash
        over its key columns, so keys outside the changed buckets are (by
        construction) out of scope on BOTH sides and cannot produce
        spurious MISSING rows. `extra['buckets_checked']` records scope.
        A rebucket between the snapshots makes layouts incomparable ->
        falls back to full verification."""
        from data_migration_service_spark.operators.changefeed import (
            changed_buckets,
        )
        from data_migration_service_spark.tables.lake import bucket_expr

        snap = self.table.current()
        old = self.table.load_snapshot(since_snapshot)
        changed = changed_buckets(old, snap)
        if changed is None:  # layout evolved: incomparable -> full verify
            res = self.verify(expected, content_col=content_col)
            res.extra["buckets_checked"] = "all (rebucketed)"
            return res
        tgt = self.table.read(snapshot=snap, buckets=changed,
                              columns=[content_col])
        exp = expected.where(
            bucket_expr(snap.layout_cols(), snap.n_buckets).isin(changed)
            if changed else F.lit(False)
        )
        res = V.verify_state(
            exp, tgt, list(self.cfg.key_cols), content_col=content_col,
            report_cap=self.cfg.mismatch_report_cap,
        )
        res.extra["buckets_checked"] = changed
        return res

    # ---- point lookup (GET specific records) ----
    def lookup(self, keys: DataFrame, columns=None,
               snapshot: int | None = None) -> DataFrame:
        """Fetch current rows for a set of merge keys, touching only the
        buckets those keys hash into (reference: fetch-specific-records,
        the read half of migrateSpecificRecords).

        The caller's key plan runs ONCE (`merge.probe`): one capped
        collect (no Spark job for a local relation such as a pandas-built
        frame; one top-K job over every partition of a frame with few
        partitions, at most PROBE_TOPK_ROWS key rows to the driver; the
        incremental take otherwise) yields the hit buckets, the key
        count, the Bloom hashes and a local relation of the distinct
        keys, which the read then broadcasts without running the caller's
        plan again. A key set past PROBE_KEY_CAP rows falls back to the
        distributed distinct. Within each hit bucket, delta dirs whose
        key-Bloom sidecar excludes every probed key are skipped at the
        driver (lake.prune_deltas) — between
        compactions that turns an N-delta-dir lookup into ~1 dir. The
        read's `keys=` semi-join runs on the raw base+delta union, below
        the MOR reduce, so only the probed keys' rows are shuffled; it is
        also what makes the pruned read correct (non-probed keys may lose
        delta winners, probed keys never do: Bloom has no false
        negatives). `snapshot` time-travels the lookup — "what did these
        keys look like at snapshot N" — with identical pruning (sidecars
        are per-dir and immutable, so they serve every snapshot
        referencing the dir)."""
        snap = (self.table.load_snapshot(snapshot) if snapshot is not None
                else self.table.current())
        p = probe(keys, snap)
        if not p.buckets:
            return self.table.read(snapshot=snap, buckets=[], columns=columns)
        if p.hashes is not None:
            snap = self.table.prune_deltas(snap, p.buckets, key_hashes=p.hashes)
        # columns=: a point lookup for two fields of a wide row must not
        # drag every column through the MOR reduce (lake.read docstring)
        return self.table.read(snapshot=snap, buckets=p.buckets,
                               columns=columns, keys=p.keys)

    def blame(self, keys: DataFrame, last_epochs: int = 10_000) -> DataFrame:
        """Row provenance: which replay epoch(s) wrote each key's CURRENT
        version (the reference surfaces per-step counters; this answers
        the per-ROW question those counters can't).

        Plan: one bucket-pruned point lookup fetching only (keys, LSN) —
        `columns=[]` keeps the MOR reduce narrow — joined against the
        per-epoch per-bucket LSN intervals from the lineage store. The
        lineage is driver-tiny (one dict per epoch), shipped as a literal
        DataFrame and broadcast; the data side never shuffles beyond the
        lookup itself.

        Intervals identify the batch(es) that COULD have carried the
        winning event: with an in-order stream each (bucket, lsn) hits
        exactly one epoch, while late/out-of-order events make intervals
        overlap, so the result carries the full candidate list (sorted
        `epochs` array). Rows written outside the replay loop (repair,
        update_where — no lineage record) return an empty list.

        `last_epochs` bounds the driver-side lineage load (most recent N
        records; default 10k ≈ the provenance horizon ops questions live
        in). A million-epoch table's FULL history is epochs × buckets
        interval rows — convert the lineage dir to parquet and join
        distributed for that, don't raise this cap."""
        lsn = self.cfg.lsn_col
        cur_buckets = self.table.current().n_buckets
        rows = (self.lookup(keys, columns=[])
                .withColumn("_b", bucket_expr(
                    self.table.current().layout_cols(), cur_buckets)))
        lineage = (self._replayer.lineage(last=last_epochs)
                   if self.cfg.checkpoint_path else [])
        recs = []
        stale = 0
        for ep in lineage:
            # bucket ids in a lineage record are relative to the layout at
            # APPLY time; after a rebucket() they no longer line up with
            # `_b` computed under the current layout — joining them would
            # silently misattribute provenance. Skip and warn instead.
            # (Legacy records predating the field carry no layout stamp;
            # treat them as current-layout, the pre-fix behavior.)
            rec_nb = ep.get("n_buckets")
            if rec_nb is not None and int(rec_nb) != cur_buckets:
                stale += 1
                continue
            for b, part in (ep.get("partitions") or {}).items():
                if part.get("lsn_min") is None:
                    continue
                recs.append((int(ep["epoch"]), int(b),
                             int(part["lsn_min"]), int(part["lsn_max"])))
        if stale:
            import warnings

            warnings.warn(
                f"blame: skipped {stale} lineage record(s) written under a "
                f"different bucket layout than the current {cur_buckets} "
                f"buckets (table was rebucketed); their epochs cannot be "
                f"attributed", stacklevel=2)
        if not recs:
            return rows.select(*self.cfg.key_cols, lsn,
                               F.array().cast("array<int>").alias("epochs"))
        lin = F.broadcast(self.spark.createDataFrame(
            recs, "epoch int, _b int, lsn_min long, lsn_max long"))
        j = rows.join(
            lin, (rows["_b"] == lin["_b"])
            & (F.col(lsn) >= F.col("lsn_min"))
            & (F.col(lsn) <= F.col("lsn_max")), "left")
        return (j.groupBy(*self.cfg.key_cols, lsn)
                .agg(F.array_sort(F.collect_set("epoch")).alias("epochs")))

    def read_as_of(self, epoch: int | None = None,
                   snapshot: int | None = None,
                   timestamp: float | None = None) -> DataFrame:
        """Time travel: the table's live state at a past epoch (resolved
        through the snapshot ledger's epoch tags), an explicit snapshot
        id, or a wall-clock instant (epoch seconds — resolved through the
        manifests' committed_at stamps, Iceberg timestamp travel).
        Resolution is metadata-only; the read itself is the normal pruned
        scan of that snapshot's manifest."""
        if snapshot is None and timestamp is not None:
            snapshot = self.table.snapshot_as_of(timestamp).snapshot_id
        if snapshot is None:
            if epoch is None:
                raise ValueError("need epoch, snapshot, or timestamp")
            hits = [h["snapshot_id"] for h in self.history()
                    if h["epoch"] == epoch]
            if not hits:
                raise ValueError(f"no retained snapshot tagged epoch={epoch}")
            snapshot = hits[-1]  # epoch's final snapshot (apply + compaction)
        return self.table.read(snapshot=self.table.load_snapshot(snapshot))

    def tag(self, name: str, epoch: int | None = None) -> int:
        """Pin the current state (or a past epoch's final snapshot) under an
        immutable name — the reproducibility handle a training run records
        before consuming the corpus. Tagged snapshots survive
        `expire_snapshots` until the tag is dropped."""
        sid = None
        if epoch is not None:
            hits = [h["snapshot_id"] for h in self.history()
                    if h["epoch"] == epoch]
            if not hits:
                raise ValueError(f"no retained snapshot tagged epoch={epoch}")
            sid = hits[-1]
        return self.table.tag(name, sid)

    def read_tag(self, name: str) -> DataFrame:
        """The exact table state a tag pinned (byte-stable across later
        ingest, compaction, and expiry)."""
        return self.table.read(snapshot=self.table.snapshot_for_tag(name))

    def rollback(self, epoch: int | None = None,
                 snapshot: int | None = None) -> int:
        """Resume-from-any-epoch, the strong form: point the table back at
        a past epoch's final snapshot (metadata-only commit, no data moved)
        and return the new snapshot id. Replaying epochs > `epoch`
        afterwards is a normal forward replay — the exactly-once guard keys
        off the restored epoch tag. Use a FRESH streaming checkpoint after
        a rollback: an old checkpoint's batch ids still reflect the
        pre-rollback epoch base and would skip the re-applied range."""
        if snapshot is None:
            if epoch is None:
                raise ValueError("need epoch or snapshot")
            hits = [h["snapshot_id"] for h in self.history()
                    if h["epoch"] == epoch]
            if not hits:
                raise ValueError(f"no retained snapshot tagged epoch={epoch}")
            snapshot = hits[-1]
        return self.table.rollback(snapshot).snapshot_id

    def table_stats(self) -> dict[str, Any]:
        """Physical-layout report from manifest + filesystem metadata only
        (no Spark job): per-bucket base/delta file counts and bytes, plus
        totals — the ops signal for compaction scheduling and skew checks
        (reference: per-step counters, DataMigrationService.java:263-296)."""
        snap = self.table.current()
        data = self.table._datadir

        def dir_stats(dirname: str, bucket: int) -> tuple[int, int]:
            p = os.path.join(data, dirname, f"_bucket={bucket}")
            n = size = 0
            if os.path.isdir(p):
                for e in os.scandir(p):
                    if e.name.endswith(".parquet"):
                        n += 1
                        size += e.stat().st_size
            return n, size

        buckets = {}
        for b in sorted(set(snap.buckets) | set(snap.deltas)):
            bn = bs = dn = ds = 0
            if b in snap.buckets:
                bn, bs = dir_stats(snap.buckets[b], b)
            for d in snap.deltas.get(b, []):
                n, s = dir_stats(d, b)
                dn += n
                ds += s
            buckets[b] = {"base_files": bn, "base_bytes": bs,
                          "delta_files": dn, "delta_bytes": ds}
        return {
            "snapshot_id": snap.snapshot_id,
            "n_buckets": snap.n_buckets,
            "buckets": buckets,
            "total_files": sum(v["base_files"] + v["delta_files"]
                               for v in buckets.values()),
            "total_bytes": sum(v["base_bytes"] + v["delta_bytes"]
                               for v in buckets.values()),
            "max_delta_depth": max(
                (len(v) for v in snap.deltas.values()), default=0),
        }

    def inspect_files(self, with_rows: bool = True) -> DataFrame:
        """Iceberg `table.files` metadata-table analogue: one row per live
        data file of HEAD, as a DataFrame so layout questions are plain SQL
        (`GROUP BY bucket`, `WHERE kind = 'delta'`, skew joins against
        query logs). Metadata-only — manifest + directory listing + parquet
        FOOTERS, never data pages; `with_rows=False` skips the footer reads
        too (pure listing) for very wide tables where even footer opens
        cost (rows comes back -1)."""
        import pyarrow.parquet as pq

        snap = self.table.current()
        data = self.table._datadir
        rows = []
        for b in sorted(set(snap.buckets) | set(snap.deltas)):
            dirs = []
            if b in snap.buckets:
                dirs.append((snap.buckets[b], "base"))
            dirs += [(d, "delta") for d in snap.deltas.get(b, [])]
            for dirname, kind in dirs:
                p = os.path.join(data, dirname, f"_bucket={b}")
                if not os.path.isdir(p):
                    continue
                for e in sorted(os.scandir(p), key=lambda x: x.name):
                    if not e.name.endswith(".parquet"):
                        continue
                    n = (pq.ParquetFile(e.path).metadata.num_rows
                         if with_rows else -1)
                    rows.append((snap.snapshot_id, b, kind, dirname,
                                 e.name, int(n), e.stat().st_size))
        return self.spark.createDataFrame(
            rows,
            "snapshot_id long, bucket int, kind string, dir string, "
            "file string, rows long, bytes long",
        )

    def inspect_snapshots(self) -> DataFrame:
        """Iceberg `table.snapshots` analogue: the retained ledger as a
        DataFrame (id, parent, operation, epoch, committed_at, rows
        written) — manifests only, no data or footer reads, so it is safe
        to query every epoch at any table size."""
        rows = []
        for sid in self.table.snapshots():
            s = self.table.load_snapshot(sid)
            rows.append((
                s.snapshot_id,
                s.parent,
                s.summary.get("operation"),
                int(s.props.get("epoch", "-1")),
                float(s.summary.get("committed_at", 0.0)),
                s.n_buckets,
                len(s.buckets),
                sum(len(v) for v in s.deltas.values()),
            ))
        return self.spark.createDataFrame(
            rows,
            "snapshot_id long, parent long, operation string, epoch long, "
            "committed_at double, n_buckets int, n_base_dirs int, "
            "n_delta_dirs int",
        )

    # ---- history (GET /jobs run listing) ----
    def history(self) -> list[dict[str, Any]]:
        """All retained snapshots oldest-first: id, parent, operation,
        epoch, summary (reference: Spring Batch job-execution history)."""
        out = []
        for sid in self.table.snapshots():
            s = self.table.load_snapshot(sid)
            out.append({
                "snapshot_id": s.snapshot_id,
                "parent": s.parent,
                "operation": s.summary.get("operation"),
                "epoch": int(s.props.get("epoch", "-1")),
                "schema_version": int(s.props.get("schema_version", "1")),
                "summary": s.summary,
            })
        return out

    # ---- changefeed (incremental read for downstream consumers) ----
    def changes(self, from_snapshot: int,
                to_snapshot: int | None = None) -> DataFrame:
        """Ordered insert/update/delete events between two snapshots of the
        target table (operators/changefeed.py) — lets a downstream consumer
        (or another replica of this engine) tail THIS table incrementally."""
        from data_migration_service_spark.operators.changefeed import (
            table_changes,
        )

        return table_changes(self.table, from_snapshot, to_snapshot)

    def export_changes(self, from_snapshot: int, to_path: str,
                       to_snapshot: int | None = None,
                       format: str = "parquet") -> int:
        """Publish the changefeed for downstream consumers: `parquet`
        (the engine's typed event shape, replayable by another Engine) or
        `debezium` (newline-JSON envelopes any standard CDC consumer
        reads — sources/debezium.py). Returns the event count. Paired with
        `verify_incremental`, this is the replication loop: export from
        the primary, replay on the replica, verify only changed buckets."""
        ch = self.changes(from_snapshot, to_snapshot).cache()
        try:
            if format == "parquet":
                ch.write.mode("append").parquet(to_path)
            elif format == "debezium":
                from data_migration_service_spark.sources.debezium import (
                    encode_debezium,
                )

                row_cols = [c for c in ch.columns if c not in ("op", "lsn")]
                enc = encode_debezium(
                    ch, row_cols,
                    source_table=os.path.basename(
                        self.cfg.table_path.rstrip("/")),
                )
                enc.write.mode("append").text(to_path)
            else:
                raise ValueError(f"unknown export format: {format!r}")
            return ch.count()
        finally:
            ch.unpersist()

    # ---- maintenance ----
    def optimize(self, buckets: list[int] | None = None,
                 tombstone_watermark: int | None = None) -> int:
        """Rewrite base files under the current layout rules (OPTIMIZE /
        rewrite_data_files — see operators.merge.rewrite_buckets). Use
        after `table.set_props(write_sort=...)` to re-cluster existing
        data, or bucket-ranged as a rolling background pass."""
        from data_migration_service_spark.operators.merge import (
            rewrite_buckets,
        )

        return rewrite_buckets(self.table, self.cfg, buckets=buckets,
                               tombstone_watermark=tombstone_watermark)

    def compact(self, tombstone_watermark: int | None = None) -> int:
        return compact(self.table, self.cfg,
                       tombstone_watermark=tombstone_watermark)

    def expire_snapshots(self, keep_last: int = 2) -> list[str]:
        return self.table.expire_snapshots(keep_last=keep_last)

    def maintenance_plan(self, **kw) -> dict[str, Any]:
        """Metadata-only table-health advisor: which buckets to compact,
        whether to rebucket/salt, what expiry reclaims. No Spark job —
        safe to call per epoch (tables/maintenance.py)."""
        from data_migration_service_spark.tables.maintenance import (
            maintenance_plan,
        )

        return maintenance_plan(self.table, **kw)

    def fsck(self, deep: bool = False) -> dict[str, Any]:
        """Metadata-vs-storage consistency audit: manifest chain, HEAD,
        refs, and the existence of every referenced data/bucket dir —
        directory listings only, no data decode (tables/maintenance.py).
        `deep=True` adds the sidecar-vs-parquet-footer row-count
        cross-check (pruning-safety canary)."""
        from data_migration_service_spark.tables.maintenance import fsck

        return fsck(self.table, deep=deep)

    # ---- compliance erase (right-to-be-forgotten) ----
    def erase_keys(self, keys: DataFrame, verify: bool = True,
                   orphan_grace_seconds: float = 86400.0) -> dict[str, Any]:
        """Physically remove every retained trace of `keys` — the
        compliance delete (GDPR erasure) a CDC lake needs on top of the
        logical delete path. `cleanup(keys=)` already hard-deletes from
        HEAD; history is the hard part, and it takes three more steps:

        1. guard: tags, branches, and staged (pending-audit) snapshots
           each promise a byte-stable read of data this call is about to
           destroy — refuse loudly while any exist (drop them first);
        2. hard delete on HEAD (`delete_where(keys=...)`): rewrites only
           the hit buckets; the erased keys' rows AND their tombstones go
           (a tombstone carries the key itself — it must go too, so a
           late sub-horizon event for an erased key would re-insert;
           erase after the source's retention horizon, or re-run);
        3. expire ALL history (`expire_snapshots(keep_last=1)`): every
           older manifest is dropped and dirs only they referenced are
           deleted. Time travel before the erase point is gone — that is
           the point;
        4. sub-dir purge (`remove_unreferenced_bucket_dirs`): dir-level
           expiry keeps a dir alive while any retained bucket maps into
           it, so erased rows could otherwise persist in that dir's now
           unmapped `_bucket=N` subdirs — the finer GC removes them.

        `verify=True` then proves the erasure: for EVERY retained
        manifest (each with its own n_buckets — rebucket-safe), the hit
        buckets are scanned raw (`reduce=False`, tombstones included, all
        physical row versions) and semi-joined against the keys; the
        report's `residual_rows` must be 0. Scan cost is O(hit buckets),
        not O(table).

        Out of scope (reported, not silently ignored): quarantine dirs,
        secondary indexes, and exported changefeeds are sidecar stores —
        erase there via their own paths (index.sync picks up the delete
        only as a retraction, so rebuild or erase the index explicitly).
        """
        from data_migration_service_spark.operators.merge import (
            maybe_broadcast_keys,
            probe_keys,
        )

        refs = self.table.meta.list_refs()
        staged = self.table.staged_snapshots()
        blockers = sorted(refs) + [f"staged:{s}" for s in staged]
        if blockers:
            raise ValueError(
                "erase_keys refuses while refs or staged snapshots pin "
                f"history: {blockers} (drop tags/branches and settle "
                "audits first — they promise byte-stable reads of data "
                "this call destroys)")
        key_cols = list(self.cfg.key_cols)
        kdf = keys.select(*key_cols).distinct().cache()
        try:
            sid = delete_where(self.table, self.cfg, keys=kdf)
            expired = self.table.expire_snapshots(
                keep_last=1, orphan_grace_seconds=orphan_grace_seconds)
            purged = self.table.remove_unreferenced_bucket_dirs()
            report: dict[str, Any] = {
                "snapshot_id": sid,
                "expired_dirs": expired,
                "purged_bucket_dirs": purged,
                "retained_snapshots": self.table.snapshots(),
                "sidecars_not_covered": ["quarantine", "secondary_indexes",
                                         "exported_changefeeds"],
            }
            if verify:
                residual = 0
                scanned = []
                for s_id in self.table.snapshots():
                    s = self.table.load_snapshot(s_id)
                    hits, n_keys = probe_keys(kdf, key_cols, s.n_buckets,
                                              bucket_cols=s.layout_cols())
                    present = [b for b in hits
                               if b in s.buckets or s.deltas.get(b)]
                    if not present:
                        continue
                    raw = self.table.read(snapshot=s, buckets=present,
                                          include_deleted=True, reduce=False)
                    residual += (raw.join(maybe_broadcast_keys(kdf, n_keys),
                                          key_cols, "left_semi").count())
                    scanned.append({"snapshot": s_id,
                                    "buckets": len(present)})
                report["residual_rows"] = residual
                report["verified_scans"] = scanned
        finally:
            kdf.unpersist()
        return report


class EngineGroup:
    """Multi-table orchestration — the reference's flagship POST /jobs.

    The reference migrates a configured LIST of tables in one sweep,
    skipping any table whose job is already running
    (DataMigrationService.java:298-310; the list comes from
    application.properties via DBConfigReader.java:14-36). Here the config
    is a dict of table name -> EngineConfig; `replay_all` runs each table's
    replay in turn, records SKIPPED_LOCKED for tables whose lock is held,
    and aggregates per-table outcomes.

    Tables run sequentially on one SparkSession by design: each replay
    already saturates the cluster (the reference's per-table thread pools
    parallelize I/O-bound JDBC chunks; Spark parallelizes inside the job),
    so inter-table concurrency would only thrash the shuffle. On a real
    multi-cluster deployment each table's replay is its own spark-submit —
    the lock protocol is what makes that safe, not the loop."""

    def __init__(self, spark: SparkSession, configs: dict[str, EngineConfig],
                 registries: dict[str, SchemaRegistry] | None = None):
        self.spark = spark
        self.engines = {
            name: Engine(spark, cfg, registry=(registries or {}).get(name))
            for name, cfg in configs.items()
        }

    @classmethod
    def from_engines(cls, spark: SparkSession,
                     engines: dict[str, "Engine"]) -> "EngineGroup":
        """Wrap pre-built engines (e.g. the CLI's, which create missing
        tables first) in the sweep API without reconstructing them."""
        g = cls.__new__(cls)
        g.spark, g.engines = spark, dict(engines)
        return g

    def replay_all(self, sources: dict[str, str],
                   streaming: bool = True, **kw) -> dict[str, dict[str, Any]]:
        """Replay every configured table from its source path; skip locked
        tables. Returns {table: {"status": COMPLETED|SKIPPED_LOCKED|FAILED,
        ...}} (reference: per-table job summaries of the sweep)."""
        out: dict[str, dict[str, Any]] = {}
        for name, eng in self.engines.items():
            src = sources.get(name)
            if src is None:
                out[name] = {"status": "NO_SOURCE"}
                continue
            if eng.lock is not None and eng.lock.held_by_other():
                out[name] = {"status": "SKIPPED_LOCKED",
                             "lock": eng.lock.path}
                continue
            try:
                eng.replay(src, streaming=streaming, **kw)
                out[name] = {"status": "COMPLETED", **eng.status()}
            except RuntimeError as e:
                # lock lost the race between the check and acquire, or a
                # concurrent-commit conflict — both mean "busy", not broken
                if "already running" in str(e) or "concurrent commit" in str(e):
                    out[name] = {"status": "SKIPPED_LOCKED", "error": str(e)}
                else:
                    out[name] = {"status": "FAILED", "error": str(e)}
        return out

    def status(self, detail: bool = False) -> dict[str, dict[str, Any]]:
        return {name: eng.status(detail=detail)
                for name, eng in self.engines.items()}

    def sql(self, query: str, catalog_root: str | None = None,
            aligned: str = "auto") -> DataFrame:
        """Run SQL over the whole table group, each table visible as a temp
        view under its configured name.

        `catalog_root` pins every table to the last SEALED cross-table
        transaction (`tables.txn.consistent_snapshots`) — a join between
        two tables can never observe half of a group commit, even while
        writers race; tables the transaction log has never pinned read at
        HEAD. Without it, each table reads its own current snapshot
        (single-table queries, or groups not using transactions).

        The MOR resolve runs under each view, so SQL sees exactly what
        `read()` returns: live rows, LWW winners. View registration is
        transient — the returned DataFrame's plan is already resolved, and
        the views are dropped before returning.

        This is Spark's own plan over the views, and it checks no bucket
        layout. `colocated_join_many([a, b, ...], on=..., how=...)` joins
        the same way (Spark's broadcast threshold picks the strategy) but
        first refuses tables that are not bucket-aligned and renames
        colliding columns. `aligned` is kept for callers that name it:
        "auto" and "off" both run the plain plan, and "require" raises
        ValueError pointing at `colocated_join_many`. Pinned by
        tests/test_api.py::test_group_sql_is_plain_spark_sql."""
        if aligned not in ("auto", "require", "off"):
            raise ValueError(
                f"aligned must be auto, require or off, got {aligned!r}")
        if aligned == "require":
            raise ValueError(
                "EngineGroup.sql checks no bucket alignment; use "
                "EngineGroup.colocated_join_many to join bucket-aligned "
                "tables")
        pins: dict[str, int] = {}
        if catalog_root is not None:
            from data_migration_service_spark.tables.txn import (
                consistent_snapshots,
            )

            pins = consistent_snapshots(catalog_root)
        with _VIEW_LOCK:
            try:
                for name, eng in self.engines.items():
                    snap = (eng.table.load_snapshot(pins[name])
                            if name in pins else None)
                    eng.table.read(snapshot=snap).createOrReplaceTempView(
                        name)
                return self.spark.sql(query)
            finally:
                for name in self.engines:
                    self.spark.catalog.dropTempView(name)

    def colocated_join_many(self, names: list[str], **kw) -> DataFrame:
        """Bucket-aligned join across N co-located group tables
        (tables/colocated.colocated_join_many): refuses misaligned tables
        with the first reason, renames colliding columns, and leaves the
        join strategy to Spark's broadcast threshold."""
        from data_migration_service_spark.tables.colocated import (
            colocated_join_many,
        )

        for n in names:
            if n not in self.engines:
                raise KeyError(f"unknown table '{n}' "
                               f"(configured: {sorted(self.engines)})")
        return colocated_join_many(
            [self.engines[n].table for n in names], **kw)

    def apply_all_atomic(self, batches: dict[str, DataFrame], epoch: int,
                         catalog_root: str) -> dict[str, Any]:
        """Apply ONE source transaction that fans out to several tables,
        published all-or-nothing (tables/txn.py): each table's slice is
        staged (write-audit-publish, readers keep the pre-transaction
        state), then one group commit publishes every table behind a
        write-ahead intent. A stage failure discards whatever was already
        staged — nothing becomes visible. A table whose epoch guard says
        the epoch was already applied is skipped (re-delivered transaction
        half: its state is already public, idempotent by LWW), the rest
        still publish atomically.

        Readers wanting cross-table consistency pin via
        `tables.txn.consistent_snapshots(catalog_root)` instead of racing
        the individual HEADs."""
        from data_migration_service_spark.tables.txn import group_commit

        staged: dict[str, tuple[SnapshotTable, int]] = {}
        skipped: list[str] = []
        try:
            for name, batch in batches.items():
                eng = self.engines[name]
                stats = apply_changes(eng.table, batch, eng.cfg,
                                      epoch=epoch, publish=False)
                if stats.skipped:
                    skipped.append(name)
                else:
                    staged[name] = (eng.table, stats.snapshot_id)
        except Exception:
            for name, (t, sid) in staged.items():
                t.discard_staged(sid)
            raise
        txn = group_commit(catalog_root, staged) if staged else None
        for name in staged:  # deferred auto-compaction, post-publish
            compact_ripe(self.engines[name].table, self.engines[name].cfg)
        return {"txn": txn, "skipped": skipped,
                "published": {n: sid for n, (_, sid) in staged.items()}}

    def verify_all(self, expected: dict[str, DataFrame],
                   content_col: str = "content") -> dict[str, Any]:
        """POST /data/verification without a table param: verify every
        configured table against its expected state
        (DataVerificationService.java verifies the configured list when no
        table is given). Returns per-table VerifyResult plus an `all_ok`
        rollup; tables with no expectation provided are NOT silently OK."""
        out: dict[str, Any] = {}
        for name, eng in self.engines.items():
            exp = expected.get(name)
            out[name] = (eng.verify(exp, content_col=content_col)
                         if exp is not None else "NO_EXPECTATION")
        out["all_ok"] = all(
            getattr(v, "consistent", False) for k, v in out.items()
        )
        return out

    def cleanup_all(self, keys: dict[str, DataFrame] | None = None) -> dict[str, int]:
        """POST /data/cleanup over the table list: keyed delete per table
        when `keys` gives that table a key set, full TRUNCATE otherwise
        (DataCleanupService.java's truncate-all sweep)."""
        return {
            name: eng.cleanup(keys=(keys or {}).get(name))
            for name, eng in self.engines.items()
        }
