"""CDC MERGE — key-partitioned last-writer-wins upsert into a SnapshotTable.

This is the engine's core operator: the Spark-native replacement for the
reference's chunk loop (paged read -> identity transform -> batched INSERT
with duplicate-key skip, DataMigrationService.java:151-165) and its implicit
ordering contract (PK-ordered paging). Semantics per the north rule:

- last-writer-wins per commit sequence (`lsn`) within the batch AND across
  batches (target rows carry their applied `lsn`; a lower-LSN event never
  overwrites, a delete tombstone retains its LSN so nothing resurrects);
- deletes are tombstones; re-insert after delete wins only with higher LSN;
- exactly-once: the whole batch commits as ONE snapshot tagged with the
  batch epoch; a replayed epoch is detected from the current snapshot's
  props and skipped (foreachBatch is at-least-once by default).

The exactly-once epoch protocol lives here once, and every writer
(`cdc_apply` cow and mor, `patch.patch_apply`, `merge_into.merge_into`)
runs it instead of keeping a copy:

    replayed ── skip an epoch at or below the writer's committed epoch
    write    ── writer-specific (batch_lineage / side_stats help)
    commit_epoch ── ONE snapshot: epoch prop, 4-key summary, optimistic
                    parent, optional staging; fills MergeStats
    stage_audit_publish ── optional: stage, gate the staged state,
                           publish or discard
    compact_ripe ── after publish: fold buckets at compact_threshold

Two write strategies (cfg.merge_mode), same semantics:

**cow** (copy-on-write) — one shuffle, bucket-pruned rewrite:

    batch ──project to current schema──┐
                                       ├─ union ─ groupBy(key).agg(max_by(.., (lsn, side)))
    target(affected buckets only) ─────┘                      │
                                                              └─ write per (bucket, salt) ─ snapshot commit

**mor** (merge-on-read) — O(batch) apply, the high-frequency-epoch path:
the batch is LWW-deduped within itself and appended as a delta dir per
affected bucket; readers reduce base+deltas by max LSN per key; a bucket is
compacted (deltas folded into a new base) when its delta depth reaches
cfg.compact_threshold. At 10^10 events a copy-on-write rewrite per epoch is
O(table) and unaffordable — mor keeps apply proportional to the batch and
amortizes the rewrite over `compact_threshold` epochs, exactly the Iceberg
MOR/positional-delete trade. An epoch is two actions: the dedup+write,
then one aggregate over the written keys for the Bloom sidecar and the
conflict counts (`_delta_stats`).

`max_by(struct(cols), (lsn, side))` does LWW inside a single hash aggregate
with map-side partial aggregation — cheaper than window row_number (no sort,
and duplicate deliveries collapse map-side). Conflict metrics (rows matched /
inserted / deleted) come out of the same aggregate for free.

Skew: bucket ids come from xxhash64(repo, path), which spreads a hot repo
across buckets; a hot *bucket* is still split across writer tasks via salt
(SnapshotTable.write_buckets(salt_factor)). AQE skew-join handles the rest.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass, field
from functools import reduce
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_migration_service_spark.config import EngineConfig
from data_migration_service_spark.tables.lake import (
    BUCKET_COL,
    DELETED_COL,
    GEN_COL,
    SnapshotTable,
    bucket_expr,
)

SIDE_COL = "_side"  # 0 = target, 1 = incoming batch (tie-break on equal lsn)
SALT_COL = "_dms_salt"  # transient writer-fanout column, never persisted


def salt_expr(keys: list[str], salt: int):
    """Deterministic per-key writer-fanout id in [0, salt) — a pure function
    of the merge key, so one key's duplicates always share a salt value."""
    return F.pmod(
        F.xxhash64(*[F.col(c) for c in keys], F.lit("salt")), F.lit(max(salt, 1))
    )


def lww_fused(df: DataFrame, keys: list[str], order,
              salt: int, struct_cols: list[str]) -> DataFrame:
    """LWW dedup and write-layout partitioning FUSED into one exchange.

    The naive pipeline pays two full shuffles of KB-wide rows:
    `groupBy(keys)` (hash(keys) exchange) and then the writer's
    `repartition(bucket, salt)`. But `bucket` and `salt` are both
    deterministic functions of the key columns, so hash-distributing by
    (bucket, salt) FIRST co-locates every key's duplicates, and a
    `groupBy(bucket, salt, *keys)` on top groups identically to
    `groupBy(keys)` while Catalyst recognizes HashPartitioning(bucket,
    salt) ⊆ ClusteredDistribution(bucket, salt, keys) and inserts NO
    second exchange (pinned by tests/test_plans.py). The result is already
    distributed exactly as `SnapshotTable.write_buckets(pre_partitioned=
    True)` needs — the whole apply moves each row over the wire ONCE.

    Trade-off (measured, BENCH.md): the old plan's map-side partial agg
    collapsed same-key duplicates before its shuffle, but with duplicates
    scattered across input splits that collapse is ~1.2x while the second
    exchange cost a full 1.0x — fusion wins by ~2x on shuffled bytes.
    Aggregate parallelism becomes n_buckets*salt — the same bound the
    writer's repartition always had — which at a sanely-bucketed table
    (~16k buckets at 100 TB) is never the binding constraint.

    `df` must carry BUCKET_COL; `order` is the max_by ordering expression
    ((lsn) for batch-internal dedup, (lsn, side) for merge-vs-target).
    Returns winners with `struct_cols` + BUCKET_COL, plus `_n`/`_has_src`
    bookkeeping columns when SIDE_COL is present (cow stats).
    """
    with_salt = df.withColumn(SALT_COL, salt_expr(keys, salt))
    pre = with_salt.repartition(F.col(BUCKET_COL), F.col(SALT_COL))
    row_struct = F.struct(*[F.col(c) for c in struct_cols])
    aggs = [F.max_by(row_struct, order).alias("_w")]
    has_side = SIDE_COL in df.columns
    if has_side:
        aggs += [
            F.max(SIDE_COL).alias("_has_src"),
            F.min(SIDE_COL).alias("_has_tgt_min"),
        ]
    out = pre.groupBy(BUCKET_COL, SALT_COL, *keys).agg(*aggs)
    cols = [BUCKET_COL, "_w.*"]
    if has_side:
        cols += ["_has_src", "_has_tgt_min"]
    return out.select(*cols)


@dataclass
class MergeStats:
    epoch: int | None
    skipped: bool = False
    rows_in_batch: int = 0
    rows_after_dedup: int = 0
    rows_matched: int = 0       # key existed in target (update/delete conflict)
    rows_inserted: int = 0
    rows_deleted: int = 0
    affected_buckets: int = 0
    snapshot_id: int | None = None
    extra: dict[str, Any] = field(default_factory=dict)


def epoch_key(cfg: EngineConfig | None) -> str:
    """Snapshot-prop key carrying a writer's exactly-once epoch counter.

    Single-writer tables use the plain "epoch" key. With
    `cfg.writer_id` set, each writer gets its own namespaced counter
    ("epoch.<writer_id>") so SEVERAL CDC streams can fan INTO one table —
    e.g. per-shard binlog tails of a sharded source DB — each with its own
    exactly-once guard, while the commit rebase lets their delta appends
    commute. The rebase's epoch conflict check (lake._rebase_keep) matches
    any "epoch*" prop, so two replayers of the SAME shard still collapse
    to one winner per epoch."""
    wid = getattr(cfg, "writer_id", None) if cfg is not None else None
    if wid is None:
        return "epoch"
    if not wid or any(ch.isspace() for ch in wid) or "." in wid:
        raise ValueError(f"invalid writer_id: {wid!r}")
    return f"epoch.{wid}"


def current_epoch(table: SnapshotTable, cfg: EngineConfig | None = None) -> int:
    return int(table.current().props.get(epoch_key(cfg), "-1"))


# ---------- the epoch protocol (see module doc) ----------

def replayed(snap, cfg: EngineConfig | None,
             epoch: int | None) -> MergeStats | None:
    """The replay guard: a skipped MergeStats when `epoch` is at or below
    the writer's committed epoch on `snap` (failure re-run of a committed
    batch), else None. Race-free because this check and the writer's
    commit happen in the same single-writer-per-writer_id sequence (a
    racing duplicate of the same epoch is caught by the rebase's epoch
    conflict check at commit time)."""
    if epoch is not None and epoch <= int(
            snap.props.get(epoch_key(cfg), "-1")):
        return MergeStats(epoch=epoch, skipped=True,
                          snapshot_id=snap.snapshot_id)
    return None


def batch_lineage(src: DataFrame, lsn_col: str) -> dict[int, dict]:
    """Per-bucket lineage of a batch carrying BUCKET_COL — rows and LSN
    range per partition (north_rule: per-partition lineage records). One
    tiny driver-side collect of <= n_buckets rows; its keys are the
    affected-bucket set."""
    rows = (
        src.groupBy(BUCKET_COL)
        .agg(F.count(F.lit(1)).alias("n"),
             F.min(lsn_col).alias("lo"),
             F.max(lsn_col).alias("hi"))
        .collect()
    )
    return {int(r[BUCKET_COL]): {"rows": int(r["n"]), "lsn_min": int(r["lo"]),
                                 "lsn_max": int(r["hi"])}
            for r in rows}


def side_stats(merged: DataFrame, stats: MergeStats) -> None:
    """Fill matched / inserted / deleted from a merge-vs-target aggregate
    carrying `_has_src` / `_has_tgt_min` (max / min of SIDE_COL per key):
    a batch key the target had is matched, any other batch key inserted.
    Deletes count batch-side tombstones only (carried-forward target
    tombstones are history, not this epoch's deletes) — keeps cow, patch
    and mor stats comparable."""
    src = F.col("_has_src") == 1
    had = F.col("_has_tgt_min") == 0
    agg = merged.agg(
        F.sum((src & had).cast("long")).alias("matched"),
        F.sum((src & ~had).cast("long")).alias("inserted"),
        F.sum((F.col(DELETED_COL) & src).cast("long")).alias("deleted"),
    ).collect()[0]
    stats.rows_matched = int(agg["matched"] or 0)
    stats.rows_inserted = int(agg["inserted"] or 0)
    stats.rows_deleted = int(agg["deleted"] or 0)


def commit_epoch(table: SnapshotTable, snap, cfg: EngineConfig,
                 stats: MergeStats, op: str, dirname: str | None = None,
                 buckets=(), *, lineage: dict[int, dict] | None = None,
                 delta: bool = False, publish: bool = True,
                 **summary) -> MergeStats:
    """The commit tail every writer shares: ONE snapshot on top of `snap`
    that points `buckets` at `dirname` (a rewrite, or a delta append when
    `delta`), tags the writer's epoch prop, carries the affected-bucket and
    matched / inserted / deleted summary (plus any writer-specific
    `summary` entries), and retries through the optimistic rebase. No
    buckets = the empty-batch commit: the epoch tag alone. `publish=False`
    stages it (write-audit-publish). Fills `stats` — snapshot id, affected
    buckets, `rows_after_dedup` (batch keys: matched + inserted), and the
    per-bucket `lineage` with `rows_in_batch` — and returns it."""
    refs = {b: dirname for b in buckets}
    new = table.commit(
        op, {} if delta else refs,
        delta_append=refs if delta else None,
        props_update=({epoch_key(cfg): str(stats.epoch)}
                      if stats.epoch is not None else {}),
        summary={"affected_buckets": len(refs),
                 "rows_matched": stats.rows_matched,
                 "rows_inserted": stats.rows_inserted,
                 "rows_deleted": stats.rows_deleted, **summary},
        expected_parent=snap.snapshot_id,
        publish=publish,
        max_retries=cfg.commit_retries,
    )
    stats.affected_buckets = len(refs)
    stats.snapshot_id = new.snapshot_id
    stats.rows_after_dedup = stats.rows_matched + stats.rows_inserted
    if lineage is not None:
        stats.extra["bucket_lineage"] = lineage
        stats.rows_in_batch = sum(v["rows"] for v in lineage.values())
    return stats


def compact_ripe(table: SnapshotTable, cfg: EngineConfig,
                 stats: MergeStats | None = None) -> None:
    """Post-publish compaction: fold every bucket of HEAD whose delta
    depth reached `cfg.compact_threshold`, and point `stats` at the new
    HEAD. Only ever on PUBLISHED state — compaction is a second commit
    and must not build on an unpublished snapshot — so staged writers
    run it after their publish (stage_audit_publish,
    EngineGroup.apply_all_atomic); copy-on-write tables carry no deltas
    and never compact."""
    ripe = [b for b, ds in table.current().deltas.items()
            if len(ds) >= cfg.compact_threshold]
    if ripe:
        compact(table, cfg, buckets=ripe)
        if stats is not None:
            stats.extra["compacted_buckets"] = len(ripe)
            stats.snapshot_id = table.current().snapshot_id


def stage_audit_publish(table: SnapshotTable, batch: DataFrame,
                        cfg: EngineConfig, epoch: int,
                        gate) -> tuple[MergeStats, bool]:
    """Write-audit-publish of one epoch: stage the writer's commit (HEAD
    unchanged, readers keep the pre-batch state), run `gate(staged_df) ->
    bool` on the staged snapshot's full state, then publish and compact
    ripe buckets, or discard the staged manifest and its data files.
    Returns (stats, published); a replayed epoch returns its skipped stats
    unpublished. The epoch guard keys off PUBLISHED state, so a rejected
    epoch re-applies under the same number.

    Orphan recovery first: a committer that died between stage and
    publish/discard leaves a staged manifest holding the next snapshot
    id. Under the single-writer-per-table rule (JobLock / streaming
    checkpoint) any staged id found here is such an orphan — unpublished
    by definition, so discarding it cannot lose committed data. A
    concurrent auditor (single-writer violation) fails loudly at its
    publish(), never silently."""
    from data_migration_service_spark.operators.patch import apply_changes

    if table.staged_snapshots():
        table.discard_staged()
    stats = apply_changes(table, batch, cfg, epoch=epoch, publish=False)
    if stats.skipped:
        return stats, False
    staged = table.load_snapshot(stats.snapshot_id)
    if not gate(table.read(snapshot=staged)):
        table.discard_staged(staged.snapshot_id)
        return stats, False
    table.publish(staged.snapshot_id)
    compact_ripe(table, cfg, stats)
    return stats, True


def cdc_apply(
    table: SnapshotTable,
    batch: DataFrame,
    cfg: EngineConfig,
    epoch: int | None = None,
    collect_stats: bool = True,
    publish: bool = True,
) -> MergeStats:
    """Apply one micro-batch of change events to `table`. See module doc.

    `publish=False` stages the commit without flipping HEAD
    (write-audit-publish): readers keep the pre-batch state until the
    caller audits the staged snapshot and calls `table.publish(sid)` (or
    `table.discard_staged(sid)` on failure). Auto-compaction is deferred in
    staged mode — it would be a second commit on top of an unpublished
    HEAD; run it after publishing."""
    snap = table.current()
    skip = replayed(snap, cfg, epoch)
    if skip is not None:
        return skip

    keys = list(cfg.key_cols)
    schema = snap.schema()
    data_fields = [f for f in schema.fields
                   if f.name not in (BUCKET_COL, DELETED_COL)]
    data_cols = [f.name for f in data_fields]

    # 1. project batch onto the current schema (missing cols -> NULL)
    src = batch
    for f in data_fields:
        if f.name not in src.columns and f.name != cfg.lsn_col:
            src = src.withColumn(f.name, F.lit(None).cast(f.dataType))
    src = src.select(
        *[F.col(c) for c in data_cols if c != cfg.lsn_col],
        F.col(cfg.lsn_col).cast("long").alias(cfg.lsn_col),
        (F.col(cfg.op_col) == "delete").alias(DELETED_COL),
    )
    src = src.withColumn(
        BUCKET_COL, bucket_expr(snap.layout_cols(), snap.n_buckets))
    src = src.withColumn(SIDE_COL, F.lit(1))

    if cfg.merge_mode == "mor":
        # single-pass apply: dedup+write, then plan from the written footers
        return _apply_mor(table, src, snap, cfg, epoch, data_fields,
                          collect_stats, publish)

    # 2. plan the affected-bucket set from the per-bucket lineage pass
    lineage = batch_lineage(src, cfg.lsn_col)
    affected = sorted(lineage)
    stats = MergeStats(epoch=epoch)
    if not affected:
        return commit_epoch(table, snap, cfg, stats, "merge",
                            publish=publish)

    # 3. read ONLY those buckets from the target (tombstones included: their
    # lsn is the anti-resurrection watermark)
    tgt = table.read(snapshot=snap, buckets=affected, include_deleted=True)
    tgt = tgt.select(*data_cols, F.col(DELETED_COL), F.col(BUCKET_COL)) \
             .withColumn(SIDE_COL, F.lit(0))

    # 4. LWW dedup + write layout in ONE exchange (see lww_fused): winner =
    # max_by(row, (lsn, side)). Batch-internal duplicates, cross-batch
    # ordering, and tombstone precedence all resolve through the same
    # (lsn, side) order, and the output lands already distributed by
    # (bucket, salt) for the writer.
    unioned = tgt.unionByName(src)
    order = F.struct(F.col(cfg.lsn_col), F.col(SIDE_COL))
    merged = lww_fused(unioned, keys, order, max(cfg.salt_factor, 1),
                       struct_cols=data_cols + [DELETED_COL])
    if collect_stats:
        side_stats(merged, stats)

    out = merged.drop("_has_src", "_has_tgt_min")
    # 5. write the rewritten buckets (salted parallel write for hot buckets)
    out_schema = T.StructType(
        data_fields + [T.StructField(DELETED_COL, T.BooleanType(), False)]
    )
    dirname = table.write_buckets(
        out, affected, write_schema=out_schema, pre_partitioned=True
    )
    return commit_epoch(table, snap, cfg, stats, "merge", dirname, affected,
                        lineage=lineage, publish=publish)


def _apply_mor(table, src, snap, cfg, epoch, data_fields,
               collect_stats, publish: bool = True) -> MergeStats:
    """Merge-on-read apply: LWW-dedup the batch within itself, append it as
    one delta dir, compact buckets whose delta depth hits the threshold.

    Two actions: the fused dedup+write, then ONE stats aggregate over the
    written dir's key and tombstone columns (`_delta_stats`: the Bloom
    sidecar and, with `collect_stats`, the matched/deleted counts against
    the written buckets' target keys). The affected-bucket set and the
    per-bucket lineage (rows, LSN range) come from the written parquet
    FOOTERS (driver-side metadata, no scan). The target is read only for
    the counts, and then only the key columns of the written buckets."""
    import uuid as _uuid

    keys = list(cfg.key_cols)
    data_cols = [f.name for f in data_fields]

    salt = cfg.salt_factor
    if salt == 0:  # auto: pick fan-out from THIS batch's key histogram
        from data_migration_service_spark.operators.skew_probe import (
            bucket_histogram,
            suggest_salt_factor,
        )

        # probed on the RAW batch (pre-dedup): an upper bound on the
        # deduped load, so the fan-out errs toward splitting — and the
        # fused dedup below needs the salt BEFORE its one exchange
        salt = suggest_salt_factor(bucket_histogram(src),
                                   n_buckets=snap.n_buckets)

    deduped = lww_fused(src.drop(SIDE_COL), keys, F.col(cfg.lsn_col), salt,
                        struct_cols=data_cols + [DELETED_COL])

    out_schema = T.StructType(
        data_fields + [T.StructField(DELETED_COL, T.BooleanType(), False)]
    )
    # Dir name carries the write generation (= parent snapshot id): the
    # MOR read reduce and compaction break equal-LSN ties by (lsn, gen),
    # so a later-applied delta deterministically beats the base or an
    # earlier delta — the MOR analogue of the cow SIDE_COL tie-break
    # (tables/lake.dir_gen). Two TRULY concurrent writers can share a
    # parent id; their equal-LSN equal-gen collision is the same
    # undefined-input case as two events with one (key, lsn).
    dirname = table.write_buckets(
        deduped, [],
        new_buckets_dir=(
            f"delta-{snap.snapshot_id:010d}-{_uuid.uuid4().hex[:12]}"),
        write_schema=out_schema, pre_partitioned=True,
        sort=False,  # L0 deltas: write-hot, folded at compact_threshold
    )
    lineage = table.dir_lineage(dirname, cfg.lsn_col)
    affected = sorted(lineage)
    stats = MergeStats(epoch=epoch)
    stats.extra["salt_factor"] = salt
    if affected:
        _delta_stats(table, snap, dirname, lineage, cfg, out_schema,
                     stats if collect_stats else None)

    commit_epoch(table, snap, cfg, stats, "merge-mor", dirname, affected,
                 lineage=lineage, delta=True, publish=publish)
    if publish:  # staged mode defers compaction to after its publish
        compact_ripe(table, cfg, stats)
    return stats


def _delta_stats(table: SnapshotTable, snap, dirname: str,
                 lineage: dict[int, dict], cfg: EngineConfig,
                 out_schema: T.StructType, stats: MergeStats | None) -> None:
    """ONE aggregate over the delta dir just written: its file-skipping
    sidecar and, when `stats` is given, the epoch's conflict counts. Rows
    and LSN ranges come from the footer lineage, not from this scan.

    Counts: an EXISTS column against the written buckets' target keys (an
    existence join: the raw base+delta union's duplicate keys do not
    multiply rows; `reduce=False` prunes the target scan to the keys).
    Tombstoned keys exist, as in the cow aggregate, so a
    re-insert-after-delete is matched in both modes.

    Sidecar (tables/lake.py `prune_deltas`): a 2-probe Bloom over
    `bloom_bits` bits in 64-bit lanes. The probes are `xxhash64(keys)` /
    `xxhash64(keys, 'bloom2')` over the FULL merge key, as the reader
    probes (`probe`); buckets follow the LAYOUT columns. Each row explodes
    into its 2 probes as (bucket, lane, word) rows folded by `bit_or`:
    O(probes) per row (a per-lane `when` cost ~60% of the whole apply at
    4096 bits, ~15x more), at most n_buckets * lanes shuffled rows. The
    counts ride the same aggregate, summed over the first probe only;
    with no Bloom they are one global aggregate and no sidecar is
    written."""
    m = cfg.bloom_bits
    bloom = bool(m) and not m % 64
    if not bloom and stats is None:
        return
    keys = list(cfg.key_cols)
    affected = sorted(lineage)
    df = table.spark.read.schema(out_schema).parquet(
        *table.bucket_paths(dirname, affected)).alias("_w")
    cols, aggs, group = [], [], []
    if stats is not None:
        tgt_keys = table.read(snapshot=snap, buckets=affected,
                              include_deleted=True, reduce=False).select(*keys)
        hit = tgt_keys.alias("_t").where(reduce(operator.and_, [
            F.col(f"_t.{k}") == F.col(f"_w.{k}").outer() for k in keys
        ])).exists()
        cols += [F.col(DELETED_COL).cast("long").alias("_d"),
                 hit.cast("long").alias("_m")]
    first = F.lit(True)
    if bloom:
        kc = [F.col(c) for c in keys]
        cols += [
            bucket_expr(snap.layout_cols(), snap.n_buckets).alias(BUCKET_COL),
            F.posexplode(F.array(
                F.pmod(F.xxhash64(*kc), F.lit(m)),
                F.pmod(F.xxhash64(*kc, F.lit("bloom2")), F.lit(m)),
            )).alias("_i", "_pos"),
        ]
        first = F.col("_i") == 0
        group = [BUCKET_COL, (F.col("_pos") / 64).cast("int").alias("_lane")]
        aggs.append(F.bit_or(F.expr(
            "shiftleft(1L, cast(pmod(_pos, 64) as int))")).alias("_word"))
    if stats is not None:
        aggs += [F.sum(F.when(first, F.col(c))).alias(c) for c in ("_d", "_m")]
    rows = df.select(*cols).groupBy(*group).agg(*aggs).collect()

    if stats is not None:
        stats.rows_matched = sum(int(r["_m"] or 0) for r in rows)
        stats.rows_deleted = sum(int(r["_d"] or 0) for r in rows)
        stats.rows_inserted = (sum(v["rows"] for v in lineage.values())
                               - stats.rows_matched)
    if not bloom:
        return
    lanes = m // 64
    words: dict[int, list[int]] = {}
    for r in rows:
        words.setdefault(int(r[BUCKET_COL]), [0] * lanes)[
            int(r["_lane"])] |= int(r["_word"])
    buckets = {}
    for b, lin in lineage.items():
        w = words.get(b, [0] * lanes)
        buckets[str(b)] = {
            "rows": lin.get("rows"),
            "lsn_min": lin.get("lsn_min"),
            "lsn_max": lin.get("lsn_max"),
            "bloom": [format(x & 0xFFFFFFFFFFFFFFFF, "016x") for x in w],
        }
    # in place BEFORE the commit references the dir (immutable and
    # unreachable until then, the same rule as the data files)
    table.write_dir_stats(dirname, {"bloom_bits": m, "buckets": buckets})


def compact(table: SnapshotTable, cfg: EngineConfig,
            buckets: list[int] | None = None,
            tombstone_watermark: int | None = None) -> int:
    """Fold delta dirs into new base dirs for `buckets` (default: every
    bucket carrying deltas). The read does the LWW reduce; the rewrite
    clears the delta lists (commit() handles the bookkeeping). Returns the
    new snapshot id (unchanged if nothing to compact).

    Runs concurrently with ingest: the commit carries
    `max_retries=cfg.commit_retries`, so an epoch that lands between
    compaction's read and its commit triggers an optimistic rebase — the
    rewrite commits on top of the new HEAD and the concurrent epoch's delta
    dirs are preserved (SnapshotTable._rebase_keep), instead of the whole
    O(buckets) rewrite being thrown away.

    `tombstone_watermark`: tombstones with lsn <= watermark are physically
    dropped during the rewrite. A tombstone exists only to beat late
    lower-LSN events (anti-resurrection), so once the source guarantees no
    event below the watermark can still arrive (e.g. the replication slot's
    confirmed-flush LSN), retaining older tombstones is pure bloat — at
    10^10 events deleted keys would otherwise accumulate forever. Caller
    owns the safety of the watermark."""
    snap = table.current()
    todo = sorted(b for b in (buckets or snap.deltas) if snap.deltas.get(b))
    return _rewrite(table, cfg, snap, todo, "compact", tombstone_watermark)


def rewrite_buckets(table: SnapshotTable, cfg: EngineConfig,
                    buckets: list[int] | None = None,
                    tombstone_watermark: int | None = None) -> int:
    """OPTIMIZE parity (Delta `OPTIMIZE [ZORDER BY]` / Iceberg
    rewrite_data_files): rewrite the base files of `buckets` (default:
    every populated bucket) under the table's CURRENT layout rules —
    `write_sort` clustering (`cols:` / `zorder:`), `target_file_rows`,
    key sort — folding any delta dirs along the way.

    `compact` only touches buckets carrying deltas; this verb exists for
    the other reason to rewrite: the layout RULES changed (a `set_props`
    flipped write_sort to a Z-order, target_file_rows shrank) or L0-era
    files were written unsorted and reads now need the clustering. Same
    fused one-exchange plan, same optimistic-rebase commit as compaction,
    so it runs concurrently with ingest. At 100 TB run it bucket-ranged
    (the `buckets` arg) as a rolling background pass, not as one job."""
    snap = table.current()
    populated = sorted(set(snap.buckets)
                       | {b for b, d in snap.deltas.items() if d})
    todo = sorted(set(buckets) & set(populated)) if buckets is not None \
        else populated
    return _rewrite(table, cfg, snap, todo, "optimize", tombstone_watermark)


def _rewrite(table: SnapshotTable, cfg: EngineConfig, snap, todo: list[int],
             op: str, tombstone_watermark: int | None) -> int:
    """The bucket rewrite behind `compact` and `rewrite_buckets`: fold
    base + deltas of `todo` into new base dirs and commit them as `op` on
    top of `snap`. Returns the new snapshot id (`snap`'s when `todo` is
    empty)."""
    if not todo:
        return snap.snapshot_id
    # raw (unreduced) read + fused LWW: one exchange does both the
    # base-vs-delta reduce and the writer's (bucket, salt) layout.
    # with_gen: the fold must resolve equal-LSN ties exactly as the MOR
    # read reduce does — (lsn, delta generation), later delta wins.
    raw = table.read(snapshot=snap, buckets=todo, include_deleted=True,
                     reduce=False, with_gen=True)
    schema = snap.schema()
    data_cols = [f.name for f in schema.fields
                 if f.name not in (BUCKET_COL, DELETED_COL)]
    merged = lww_fused(raw, list(snap.key_cols),
                       F.struct(F.col(cfg.lsn_col), F.col(GEN_COL)),
                       max(cfg.salt_factor, 1),
                       struct_cols=data_cols + [DELETED_COL])
    if tombstone_watermark is not None:
        # AFTER the reduce, never before: dropping an expired tombstone
        # from the raw union would hand the win to an older live version
        # of the key (resurrection); dropping the WINNING tombstone
        # correctly removes the key from the rewritten base.
        merged = merged.where(
            ~(F.col(DELETED_COL) & (F.col(cfg.lsn_col) <= tombstone_watermark))
        )
    dirname = table.write_buckets(merged, todo, write_schema=schema,
                                  pre_partitioned=True)
    new = table.commit(op, {b: dirname for b in todo},
                       summary={"buckets": len(todo)},
                       expected_parent=snap.snapshot_id,
                       max_retries=cfg.commit_retries)
    return new.snapshot_id


# a targeted key set bigger than this joins without the broadcast hint
# (~100-byte (repo, path) keys x 500k ≈ 50 MB, inside the 64 MB session
# autoBroadcast budget with headroom; beyond it the semi-join shuffles and
# AQE still re-plans a broadcast if the actual bytes turn out small)
BROADCAST_KEY_LIMIT = 500_000


def probe_keys(kdf: DataFrame, key_cols: list[str], n_buckets: int,
               bucket_col: str = BUCKET_COL,
               bucket_cols: list[str] | None = None) -> tuple[list[int], int]:
    """One keys-sized job → (hit bucket ids, distinct key count). Every
    targeted path (lookup / replay_keys / keyed delete) needs the bucket
    set anyway; counting keys in the same aggregate is free and decides
    whether the subsequent semi-join may safely carry a broadcast hint —
    a forced broadcast of an unexpectedly huge key set is a driver OOM at
    exactly the scale the targeted path exists to avoid.

    `bucket_cols`: the table's layout columns when they differ from the
    merge key (Snapshot.bucket_cols); the key COUNT still reflects the
    full (already-distinct) key rows."""
    per_bucket = (
        kdf.withColumn(bucket_col,
                       bucket_expr(bucket_cols or key_cols, n_buckets))
        .groupBy(bucket_col).agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    )
    hits = sorted(int(r[bucket_col]) for r in per_bucket)
    return hits, sum(int(r["_n"]) for r in per_bucket)


def maybe_broadcast_keys(kdf: DataFrame, n_keys: int) -> DataFrame:
    return F.broadcast(kdf) if n_keys <= BROADCAST_KEY_LIMIT else kdf


# a keyed call collects at most this many key rows to the driver; past it
# the probe keeps the distributed path (no Bloom hashes, so no delta-dir
# pruning — a giant key set reads every delta anyway)
PROBE_KEY_CAP = 100_000


@dataclass
class KeyProbe:
    """What a keyed call needs to know about its key set."""
    keys: DataFrame     # semi-join side, broadcast-gated (maybe_broadcast_keys)
    buckets: list[int]  # hit bucket ids under the probed layout
    n_keys: int         # distinct keys
    hashes: list[tuple[int, int]] | None  # Bloom probe pairs; None past cap


def _probe(keys: DataFrame, key_cols: list[str], n_buckets: int,
           bucket_cols: list[str] | None, cap: int) -> KeyProbe:
    """Run the caller's key plan ONCE: one capped collect of (keys,
    bucket, Bloom hashes), deduplicated on the driver (JVM side, so key
    values keep their exact types), which yields the hit buckets, the key
    count, the hashes and a local relation of the distinct keys, so
    later semi-joins never run the caller's plan again. Past `cap` rows:
    the distributed distinct of `probe_keys`, executed by each consumer."""
    cols = [F.col(c) for c in key_cols]
    sel = keys.select(
        *key_cols,
        bucket_expr(bucket_cols or key_cols, n_buckets).alias(BUCKET_COL),
        F.xxhash64(*cols).alias("_h1"),
        F.xxhash64(*cols, F.lit("bloom2")).alias("_h2"),
    )
    rows = sel.limit(cap + 1)._jdf.collectAsList()
    if rows.size() > cap:
        kdf = keys.select(*key_cols).distinct()
        hits, n_keys = probe_keys(kdf, key_cols, n_buckets,
                                  bucket_cols=bucket_cols)
        return KeyProbe(maybe_broadcast_keys(kdf, n_keys), hits, n_keys, None)
    spark = keys.sparkSession
    jvm = spark.sparkContext._jvm
    distinct = jvm.java.util.ArrayList(jvm.java.util.LinkedHashSet(rows))
    local = DataFrame(spark._jsparkSession.createDataFrame(
        distinct, sel._jdf.schema()), spark)
    got = local.select(BUCKET_COL, "_h1", "_h2").collect()
    return KeyProbe(
        keys=F.broadcast(local.select(*key_cols)),
        buckets=sorted({int(r[0]) for r in got}),
        n_keys=len(got),
        hashes=[(r[1], r[2]) for r in got],
    )


def probe(keys: DataFrame, snap) -> KeyProbe:
    """The one key probe of every keyed path (lookup, replay_keys,
    update_where, delete_where) against snapshot `snap`; `buckets` keeps
    only the hit buckets `snap` holds data for."""
    p = _probe(keys, list(snap.key_cols), snap.n_buckets, snap.layout_cols(),
               PROBE_KEY_CAP)
    p.buckets = [b for b in p.buckets if b in snap.buckets or snap.deltas.get(b)]
    return p


def probe_key_hashes(
    kdf: DataFrame, key_cols: list[str], n_buckets: int,
    cap: int = 100_000,
    bucket_cols: list[str] | None = None,
) -> tuple[list[int], int, list[tuple[int, int]] | None]:
    """(hit buckets, distinct key count, raw Bloom-probe hash pairs) of a
    key set, for driver-side delta-dir skipping (tables/lake.py
    `prune_deltas`). Past `cap` keys the hashes are None."""
    p = _probe(kdf, key_cols, n_buckets, bucket_cols, cap)
    return p.buckets, p.n_keys, p.hashes


def delete_where(table: SnapshotTable, cfg: EngineConfig, predicate=None,
                 keys: DataFrame | None = None) -> int:
    """Keyed/predicate delete (reference: targeted cleanup / TRUNCATE per
    tenant, DataCleanupService.java:64-106). Rewrites only buckets holding
    matching rows; returns snapshot id.

    Two planning paths:
    - `keys` (a DataFrame of merge-key rows — the common targeted-cleanup
      case): the hit-bucket set is computed from `bucket_expr` over the keys
      alone, NO table scan at all; the rewrite anti-joins the (broadcast,
      report-cap-sized) key set. At 100 TB this is the difference between
      touching n_hit buckets and scanning 16k.
    - `predicate` (arbitrary boolean column): the bucket set genuinely needs
      a scan, but it is column-pruned to the predicate's inputs + bucket id.
    """
    snap = table.current()
    if (keys is None) == (predicate is None):
        raise ValueError("delete_where takes exactly one of predicate / keys")
    if keys is not None:
        p = probe(keys, snap)
        hit_buckets = p.buckets
        if not hit_buckets:
            return snap.snapshot_id
        keep = (
            table.read(snapshot=snap, buckets=hit_buckets, include_deleted=True)
            .join(p.keys, list(snap.key_cols), "left_anti")
        )
    else:
        full = table.read(snapshot=snap, include_deleted=True)
        hit_buckets = [r[0] for r in full.where(predicate)
                       .select(BUCKET_COL).distinct().collect()]
        if not hit_buckets:
            return snap.snapshot_id
        keep = table.read(snapshot=snap, buckets=hit_buckets, include_deleted=True) \
                    .where(~predicate)
    schema = snap.schema()
    dirname = table.write_buckets(keep, hit_buckets, salt_factor=cfg.salt_factor,
                                  write_schema=schema)
    new = table.commit("delete", {b: dirname for b in hit_buckets},
                       summary={"buckets": len(hit_buckets)},
                       expected_parent=snap.snapshot_id,
                       max_retries=cfg.commit_retries)
    return new.snapshot_id


def bootstrap_load(table: SnapshotTable, snapshot_df: DataFrame,
                   cfg: EngineConfig, epoch: int = 0) -> MergeStats:
    """Initial full load — the reference's flagship table-to-table migration
    (the chunk loop over the whole source, DataMigrationService.java:151-165)
    as ONE distributed pass, followed by the CDC tail.

    A consistent source snapshot has unique keys, so the LWW aggregate and
    the target read are both unnecessary: the only shuffle is the
    (bucket, salt) repartition in front of the writer. Loading 100 TB costs
    one pass over 100 TB — no merge, no dedup, no window.

    Commits with `bootstrap_lsn` = the snapshot's LSN high-watermark, read
    from the parquet FOOTERS of the files just written (no second scan).
    The streaming tail prunes events at or below it before they enter the
    merge — LWW already makes them no-ops, the watermark makes them free.

    Requires an empty table (bootstrap is not an upsert; replaying a
    partially-loaded table is what `cdc_apply` is for).
    """
    snap = table.current()
    if snap.buckets or snap.deltas:
        raise ValueError(
            "bootstrap_load requires an empty table; use cdc_apply to merge "
            "into existing state"
        )
    skip = replayed(snap, None, epoch)  # the plain "epoch" prop
    if skip is not None:
        return skip

    schema = snap.schema()
    data_fields = [f for f in schema.fields
                   if f.name not in (BUCKET_COL, DELETED_COL)]
    src = snapshot_df
    for f in data_fields:
        if f.name not in src.columns and f.name != cfg.lsn_col:
            src = src.withColumn(f.name, F.lit(None).cast(f.dataType))
    src = src.select(
        *[F.col(f.name) for f in data_fields if f.name != cfg.lsn_col],
        F.col(cfg.lsn_col).cast("long").alias(cfg.lsn_col),
        F.lit(False).alias(DELETED_COL),
    ).withColumn(BUCKET_COL,
                 bucket_expr(snap.layout_cols(), snap.n_buckets))

    # salt_factor=0 means per-batch auto-probe (a MOR feature); the initial
    # load is the largest write the table will ever see, so fan out wide
    dirname = table.write_buckets(src, [], salt_factor=cfg.salt_factor or 8,
                                  write_schema=schema)
    lineage = table.dir_lineage(dirname, cfg.lsn_col)
    if not lineage:  # empty snapshot: commit the epoch tag only
        new = table.commit("bootstrap", {},
                           props_update={"epoch": str(epoch)},
                           summary={"rows": 0},
                           expected_parent=snap.snapshot_id)
        return MergeStats(epoch=epoch, snapshot_id=new.snapshot_id)
    rows = sum(v["rows"] for v in lineage.values())
    hi = max(v["lsn_max"] for v in lineage.values() if v["lsn_max"] is not None)
    new = table.commit(
        "bootstrap", {b: dirname for b in lineage},
        props_update={"epoch": str(epoch), "bootstrap_lsn": str(int(hi))},
        summary={"rows": rows, "bootstrap_lsn": int(hi)},
        expected_parent=snap.snapshot_id,
    )
    st = MergeStats(epoch=epoch, rows_in_batch=rows, rows_after_dedup=rows,
                    rows_inserted=rows, affected_buckets=len(lineage),
                    snapshot_id=new.snapshot_id)
    st.extra["bucket_lineage"] = lineage
    st.extra["bootstrap_lsn"] = int(hi)
    return st
