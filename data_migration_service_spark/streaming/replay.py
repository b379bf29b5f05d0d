"""ReplayEngine — Structured Streaming micro-batch CDC replay.

The Spark-native rebuild of the reference's job machinery:

- chunk loop (DataMigrationService.java:151-165, 1,000-row transactions) ->
  `foreachBatch` micro-batches, each committed as ONE epoch-tagged snapshot
- Spring Batch JobRepository restartability (application.properties:5) ->
  streaming checkpoint (source offsets) + the epoch guard in cdc_apply;
  `foreachBatch` is at-least-once, the guard makes the sink exactly-once
- table-level job lock (BatchJobParameterHolder.java:33-57) -> Spark's
  single-writer checkpoint lock + SnapshotTable optimistic commit
- step/chunk counters (BPStepListener.java:24-33) -> per-epoch lineage JSON
  (rows, conflicts, per-bucket rows + LSN range, snapshot id)

Schema evolution happens at the micro-batch boundary (north_rule): the batch's
max schema_version drives metadata-only DDL on the target, then mixed-version
JSON payloads are resolved to current column names via the registry's name
lineage — before the merge sees a single row.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_migration_service_spark.config import EngineConfig
from data_migration_service_spark.operators.merge import (
    MergeStats,
    stage_audit_publish,
)
from data_migration_service_spark.operators.patch import apply_changes
from data_migration_service_spark.registry import (
    SchemaRegistry,
    apply_ddl_for_version,
    resolve_batch,
)
from data_migration_service_spark.sources.cdc_source import (
    RAW_EVENT_SCHEMA,
    file_event_source,
)
from data_migration_service_spark.tables.lake import SnapshotTable

__all__ = ["RAW_EVENT_SCHEMA", "AuditFailed", "ReplayEngine"]


class AuditFailed(RuntimeError):
    """A write-audit-publish gate rejected a staged micro-batch; the staged
    commit was discarded and the table remains at its last audited state."""


class ReplayEngine:
    def __init__(
        self,
        spark: SparkSession,
        table: SnapshotTable,
        cfg: EngineConfig,
        registry: SchemaRegistry | None = None,
        checkpoint: str | None = None,
        audit_gate=None,
        indexes=None,
        transform=None,
        views=None,
    ):
        # audit_gate: optional Callable[[DataFrame], bool] — when set, every
        # micro-batch commits STAGED (write-audit-publish), the gate runs on
        # the staged snapshot's full state, and only a pass publishes. A
        # failing gate discards the staged commit and raises AuditFailed:
        # the stream stops with the table at its last audited state, and a
        # restart reprocesses the batch from the checkpoint (the offending
        # epoch was never published, so the epoch guard does not skip it).
        # indexes: optional list of SecondaryIndex (tables/index.py) kept
        # continuously fresh: each published epoch is followed by one
        # changefeed-driven sync per index. Index sync is exactly-once on
        # its own (epoch = source snapshot id), so a crash between table
        # commit and index sync just catches up on the next batch — the
        # indexes trail the table by at most one epoch, never diverge.
        self.spark = spark
        self.table = table
        self.cfg = cfg
        self.registry = registry
        # transform: optional Callable[[DataFrame], DataFrame] — the
        # reference's ItemProcessor hook (processor/CustomItemProcessor.java:9-16,
        # identity there) made first-class: runs on every micro-batch AFTER
        # payload decode and BEFORE the quarantine gate / merge, so ingest-
        # time enrichment (broadcast dim joins), content normalization, or
        # PII redaction (text.redact_pii) happen once, in-stream, under the
        # same exactly-once epoch as the merge itself. Being DataFrame ->
        # DataFrame it composes JVM expressions / Arrow UDFs only — the
        # no-per-row-Python rule holds by construction. It must preserve
        # the key / LSN / op columns; apply_batch fails loudly if not.
        # views: optional list of MaterializedAggregate (tables/matview.py)
        # refreshed after every published epoch. refresh() is a no-op when
        # the view is already at HEAD and commits via its own atomic state
        # flip, so a crash between table commit and view refresh just
        # catches up next batch — views trail the table by at most one
        # epoch, never diverge.
        self.audit_gate = audit_gate
        self.transform = transform
        self.indexes = list(indexes or [])
        self.views = list(views or [])
        self.checkpoint = checkpoint or cfg.checkpoint_path
        if self.checkpoint:
            os.makedirs(os.path.join(self.checkpoint, "lineage"), exist_ok=True)

    # ---------- one micro-batch ----------

    def apply_batch(self, batch: DataFrame, epoch: int) -> MergeStats:
        t0 = time.monotonic()
        # Bootstrap high-watermark: events at or below the initial load's
        # LSN are already reflected in the table. LWW makes them no-ops;
        # this filter (pushed to the source scan) makes them free — the
        # standard snapshot-then-tail handoff.
        wm = self.table.current().props.get("bootstrap_lsn")
        if wm is not None and self.cfg.lsn_col in batch.columns:
            batch = batch.where(F.col(self.cfg.lsn_col) > int(wm))
        if (self.cfg.merge_mode == "patch" and "payload" in batch.columns
                and "fields" not in batch.columns):
            # partial-update wire: the JSON payload carries ONLY the fields
            # each event set; decode values + the set-field list together
            # (operators/patch.patch_events_from_json) so explicit-null vs
            # absent survives. Takes precedence over the registry path —
            # patch payloads are keyed by field presence, not version.
            from pyspark.sql import types as T

            from data_migration_service_spark.operators.patch import (
                patch_data_cols,
                patch_events_from_json,
            )

            schema = self.table.current().schema()
            data = set(patch_data_cols(schema, list(self.cfg.key_cols),
                                       self.cfg.lsn_col))
            batch = patch_events_from_json(
                batch, T.StructType([f for f in schema.fields
                                     if f.name in data]),
                op_col=self.cfg.op_col)
        if self.registry is None and "payload" in batch.columns:
            # Without a registry the JSON payload would never be decoded and
            # cdc_apply would NULL-fill every value column — silent data
            # corruption. Fail loudly instead (found via submit_smoke: a
            # spark-submit replay without --registry wrote an all-NULL
            # table that still passed row-count checks).
            raise ValueError(
                "batch carries a 'payload' column but ReplayEngine has no "
                "SchemaRegistry; pass registry= (or --registry to "
                "tools/submit_replay.py) so payloads can be decoded"
            )
        if self.registry is not None and "payload" in batch.columns:
            # one pass over the versions serves both the DDL step and the
            # decode (resolve_batch would otherwise collect them again)
            versions = [r[0] for r in
                        batch.select("schema_version").distinct().collect()]
            present = [v for v in versions if v is not None]
            if present:
                apply_ddl_for_version(self.table, self.registry,
                                      int(max(present)))
                # resolve to the version the TABLE is at (not registry
                # latest): the table evolves only when a newer version is
                # actually observed in the stream
                applied = int(self.table.current().props.get("schema_version", "1"))
                batch = resolve_batch(batch, self.registry, to_version=applied,
                                      versions=versions)
        if self.transform is not None:
            batch = self.transform(batch)
            required = (*self.cfg.key_cols, self.cfg.lsn_col, self.cfg.op_col)
            missing = [c for c in required if c not in batch.columns]
            if missing:
                raise ValueError(
                    f"transform dropped required column(s) {missing}; an "
                    "ingest transform may enrich or rewrite value columns "
                    "but must preserve keys, LSN and op")
        n_quarantined = 0
        if self.cfg.quarantine_path is not None:
            from data_migration_service_spark.operators.quarantine import (
                VALID_OPS,
                quarantine_and_filter,
            )

            # cell-level tables accept partial-update ops; row-LWW tables
            # must keep rejecting them (a patch applied as a full
            # after-image would NULL the fields it omitted)
            ops = (VALID_OPS + ("patch",)
                   if self.cfg.merge_mode == "patch" else VALID_OPS)
            # table-declared CHECK constraints (props["constraints"] =
            # JSON {name: boolean SQL}): enforced at the same gate as the
            # structural checks — violating upserts quarantine, deletes
            # are exempt, NULL passes (ANSI CHECK)
            cons = json.loads(
                self.table.current().props.get("constraints", "{}"))
            batch, n_quarantined = quarantine_and_filter(
                batch, list(self.cfg.key_cols), self.cfg.quarantine_path,
                epoch=epoch, skip_limit=self.cfg.skip_limit,
                lsn_col=self.cfg.lsn_col, op_col=self.cfg.op_col,
                valid_ops=ops, constraints=cons,
            )
        if self.audit_gate is None:
            stats = apply_changes(self.table, batch, self.cfg, epoch=epoch)
        else:
            stats, published = stage_audit_publish(
                self.table, batch, self.cfg, epoch, self.audit_gate)
            if not (stats.skipped or published):
                raise AuditFailed(
                    f"epoch {epoch}: audit gate rejected the staged "
                    f"snapshot {stats.snapshot_id}; table remains at "
                    f"{self.table.current().snapshot_id}")
        for ix in self.indexes:
            ix.sync(self.table)
        for mv in self.views:
            mv.refresh()
        stats.extra["wall_sec"] = round(time.monotonic() - t0, 3)
        if n_quarantined:
            stats.extra["rows_quarantined"] = n_quarantined
        self._record_lineage(stats)
        return stats

    def _record_lineage(self, stats: MergeStats) -> None:
        if not self.checkpoint or stats.epoch is None:
            return
        rec = {
            "epoch": stats.epoch,
            "skipped": stats.skipped,
            "snapshot_id": stats.snapshot_id,
            "rows_in_batch": stats.rows_in_batch,
            "rows_matched": stats.rows_matched,
            "rows_inserted": stats.rows_inserted,
            "rows_deleted": stats.rows_deleted,
            "affected_buckets": stats.affected_buckets,
            "partitions": stats.extra.get("bucket_lineage", {}),
            # bucket ids above are only meaningful under the layout they
            # were computed in; consumers joining on recomputed bucket ids
            # (Engine.blame) must skip records from a different layout
            "n_buckets": self.table.current().n_buckets,
            "wall_sec": stats.extra.get("wall_sec"),
            "rows_quarantined": stats.extra.get("rows_quarantined", 0),
        }
        path = os.path.join(self.checkpoint, "lineage", f"epoch-{stats.epoch:08d}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(rec, f)
        os.replace(tmp, path)
        # self-compacting store: once the JSON tail outgrows a full
        # segment beyond the keep-recent window, fold the excess (one
        # listdir per epoch — microseconds against a merge's seconds)
        d = os.path.join(self.checkpoint, "lineage")
        n_json = sum(1 for p in os.listdir(d) if p.endswith(".json"))
        if n_json >= self.LINEAGE_KEEP_RECENT + self.LINEAGE_SEGMENT_ROWS:
            self.compact_lineage()

    # Lineage-store compaction: per-epoch JSON files are perfect for the
    # hot path (one atomic create per epoch, no read-modify-write) but a
    # million-epoch replay would mean a million files. Old epochs roll
    # into parquet SEGMENT files (driver-side pyarrow, no Spark job) so
    # the file count stays O(epochs / segment_size) + O(recent).
    LINEAGE_KEEP_RECENT = 1024    # newest epochs stay as JSON (hot reads)
    LINEAGE_SEGMENT_ROWS = 4096   # epochs folded per parquet segment

    def _lineage_dirs(self) -> tuple[str, str]:
        d = os.path.join(self.checkpoint, "lineage")
        return d, os.path.join(d, "segments")

    def compact_lineage(self, keep_recent: int | None = None,
                        segment_rows: int | None = None) -> dict:
        """Fold all but the most recent `keep_recent` per-epoch JSON files
        into parquet segments named ``segment-<first>-<last>.parquet``
        (epoch, record-JSON columns; pyarrow, driver-side — lineage
        records are KB-scale driver metadata, not table data). Atomic per
        segment: the segment is fully written and renamed into place
        BEFORE its source JSONs are deleted, so a crash mid-compaction
        only leaves duplicates, which `lineage()` de-duplicates by epoch
        (segment first, JSON wins — the JSON is the original)."""
        keep = self.LINEAGE_KEEP_RECENT if keep_recent is None else keep_recent
        seg_rows = (self.LINEAGE_SEGMENT_ROWS if segment_rows is None
                    else segment_rows)
        d, segdir = self._lineage_dirs()
        if not os.path.isdir(d):
            return {"segments_written": 0, "files_folded": 0}
        names = sorted(p for p in os.listdir(d) if p.endswith(".json"))
        fold = names[:-keep] if keep > 0 else names
        if not fold:
            return {"segments_written": 0, "files_folded": 0}
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(segdir, exist_ok=True)
        written = 0
        for i in range(0, len(fold), seg_rows):
            chunk = fold[i:i + seg_rows]
            epochs, recs = [], []
            for p in chunk:
                with open(os.path.join(d, p)) as f:
                    raw = f.read()
                recs.append(raw)
                epochs.append(int(json.loads(raw)["epoch"]))
            table = pa.table({"epoch": pa.array(epochs, pa.int64()),
                              "record": pa.array(recs, pa.string())})
            name = f"segment-{min(epochs):08d}-{max(epochs):08d}.parquet"
            tmp = os.path.join(segdir, f".{name}.tmp")
            pq.write_table(table, tmp)
            os.replace(tmp, os.path.join(segdir, name))
            for p in chunk:  # segment durable -> originals can go
                os.remove(os.path.join(d, p))
            written += 1
        return {"segments_written": written, "files_folded": len(fold)}

    def lineage(self, last: int | None = None) -> list[dict]:
        """Per-epoch lineage records, oldest first. `last=N` opens only
        the N most recent files (the listing is cheap; opening a
        million-epoch history is not) — and skips the compacted segments
        entirely when the recent JSON files already cover N (the common
        ops query)."""
        if not self.checkpoint:
            return []  # no checkpoint configured -> nothing recorded
        d, segdir = self._lineage_dirs()
        names = sorted(p for p in os.listdir(d) if p.endswith(".json"))
        by_epoch: dict[int, dict] = {}
        if (last is None or len(names) < last) and os.path.isdir(segdir):
            import pyarrow.parquet as pq

            for seg in sorted(p for p in os.listdir(segdir)
                              if p.endswith(".parquet")):
                t = pq.read_table(os.path.join(segdir, seg))
                for raw in t.column("record").to_pylist():
                    rec = json.loads(raw)
                    by_epoch[int(rec["epoch"])] = rec
        if last is not None and len(names) >= last and not by_epoch:
            # segments skipped: open only the N most recent JSON files —
            # zero-padded epoch filenames keep lexical order == epoch order
            names = names[-last:]
        for p in names:
            with open(os.path.join(d, p)) as f:
                rec = json.load(f)
            by_epoch[int(rec["epoch"])] = rec  # JSON wins over a dup
        out = [by_epoch[e] for e in sorted(by_epoch)]
        return out[-last:] if last is not None else out

    # ---------- streaming replay ----------

    def replay_stream(
        self,
        source_path: str,
        max_files_per_trigger: int | None = None,
        await_termination: bool = True,
        timeout_sec: int | None = None,
        source_format: str = "parquet",
        dedup_within: str | None = None,
    ):
        """Tail a growing directory of event files (the binlog/WAL analogue).

        `source_format="parquet"` expects RAW_EVENT_SCHEMA files;
        `"debezium"` tails newline-JSON Debezium envelopes
        (sources/debezium.py) decoded JVM-side into the same typed shape.

        `dedup_within="10 minutes"` inserts a watermark-bounded in-stream
        duplicate suppressor on the LSN (streaming/dedup.py) ahead of the
        merge: at-least-once transport re-deliveries are dropped before
        they cost a decode + shuffle + bucket rewrite. Purely an
        optimization — the sink's LWW + epoch guard already make
        duplicates harmless — so it is opt-in and needs an event-time
        column (`ts`) in the stream.

        Uses the file source's checkpointed offsets for resume; availableNow
        drains everything present then stops — kill the query mid-run and a
        restart continues from the checkpoint, with replayed epochs no-op'd
        by the sink-side epoch guard.
        """
        if not self.checkpoint:
            raise ValueError(
                "streaming replay requires a checkpoint location — set "
                "EngineConfig.checkpoint_path (offsets/resume live there)"
            )
        if source_format == "debezium":
            from pyspark.sql import types as T

            from data_migration_service_spark.sources.debezium import (
                debezium_file_source,
            )

            from data_migration_service_spark.tables.lake import DELETED_COL

            lsn_col = self.cfg.lsn_col
            row_schema = T.StructType([
                f for f in self.table.current().schema().fields
                if f.name not in (lsn_col, "ts", DELETED_COL)
            ])
            stream = debezium_file_source(
                self.spark, source_path, row_schema,
                max_files_per_trigger=max_files_per_trigger,
            )
        elif source_format == "parquet":
            stream = file_event_source(
                self.spark, source_path,
                max_files_per_trigger=max_files_per_trigger,
            )
        else:
            raise ValueError(f"unknown source_format: {source_format!r}")

        if dedup_within is not None:
            from data_migration_service_spark.streaming.dedup import (
                streaming_dedup_events,
            )

            stream = streaming_dedup_events(
                stream, [self.cfg.lsn_col], ts_col="ts",
                watermark=dedup_within)

        # Epoch identity is scoped to THIS checkpoint: micro-batch ids always
        # start at 0 for a fresh checkpoint, so tagging epochs with the raw
        # batch id collides with epochs already on the table (bootstrap, a
        # prior batch-mode replay, an earlier stream) — and the guard would
        # then silently SKIP real new data. The base is fixed at the
        # checkpoint's first use and persisted beside the offsets: on resume
        # batch ids continue and re-delivered ids map to their original
        # epochs (guard no-ops them); on checkpoint LOSS the base moves past
        # all applied epochs, everything re-applies, and LWW absorbs it —
        # at-least-once degraded to, state still exact.
        base_path = os.path.join(self.checkpoint, "epoch_base")
        try:
            with open(base_path, "x") as f:
                from data_migration_service_spark.operators.merge import (
                    epoch_key,
                )

                base = (int(self.table.current().props.get(
                    epoch_key(self.cfg), "-1")) + 1)
                f.write(str(base))
        except FileExistsError:
            with open(base_path) as f:
                base = int(f.read().strip())

        def _sink(df: DataFrame, batch_id: int) -> None:
            self.apply_batch(df, epoch=base + int(batch_id))

        q = (
            stream.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", os.path.join(self.checkpoint, "offsets"))
            .trigger(availableNow=True)
            .start()
        )
        if await_termination:
            q.awaitTermination(timeout_sec)
        return q

    # ---------- deterministic batch-mode replay (tests / bench) ----------

    def replay_ranges(self, events: DataFrame, bounds: list[tuple[int, int]],
                      first_epoch: int = 0) -> list[MergeStats]:
        out = []
        for i, (lo, hi) in enumerate(bounds):
            b = events.where(F.col(self.cfg.lsn_col).between(lo, hi))
            out.append(self.apply_batch(b, epoch=first_epoch + i))
        return out
