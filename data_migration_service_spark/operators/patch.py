"""Cell-level (patch) CDC merge — column-granular last-writer-wins.

Row-level LWW (operators/merge.py) assumes every change event carries the
full after-image of the row — true for the reference's table-to-table copy
(DataMigrationService.java:151-165 reads whole rows) and for classic
Debezium relational streams. Partial-update sources break that assumption:
MongoDB patch events, Cassandra/DynamoDB cell writes, and wide-row feature
stores emit only the fields that changed. Folding such a stream with
row-level LWW silently NULLs every field the latest event did not carry.

This module implements the cell-granular fold, Cassandra-style: every cell
(row, column) carries its own write timestamp (the event LSN), and state
merge takes the max-LSN writer PER COLUMN, not per row.

Semantics (one associative fold — batch boundaries can never change the
result, the property the cross-batch apply and the oracle both pin):

- ``op == 'delete'`` is a whole-row tombstone at its LSN (`del_lsn` = max
  delete LSN per key).
- ``op == 'insert'`` sets EVERY data column at its LSN (full after-image).
- any other op (``update`` / ``patch``) sets exactly the columns named in
  its `fields` array; a column named there with a NULL value is an explicit
  set-to-NULL (distinct from "absent", which leaves the cell untouched).
- column value = value of the max-LSN event that set it, if that LSN beats
  `del_lsn`; otherwise unset. A key is live iff any cell survives the
  tombstone. (Consequence: a patch with LSN above a delete partially
  recreates the row — the fold stays associative, which is what makes the
  distributed apply correct under any batching.)

Why this is a single aggregate pass (no window, no per-row Python): the
per-column winner "argmax among events with lsn > del_lsn" equals "argmax
among ALL set-events, nulled when its lsn <= del_lsn" — the overall max
setter either beats the tombstone (then it is also the max among survivors)
or nothing does. So one `groupBy(key)` computing `max(del)`,
`max(struct(lsn, value))` per column suffices, with map-side partial
aggregation and no second pass. (Physically a SortAggregate — struct
buffers are variable-width, which rules out HashAggregate; the sort is
partition-local, the same shape the row-LWW apply runs at — PLANS.md.)

Persistent state (`create_patch_table`) stores per-row bookkeeping so the
fold keeps its inputs across batches:

- ``_cell_lsns: map<string,long>`` — the surviving cells' write LSNs
  (Cassandra's per-cell timestamps; Iceberg has no analogue — this is why
  patch streams cannot be folded by any row-versioned lakehouse directly);
- ``_del_lsn: long`` — the key's tombstone watermark, kept ON LIVE ROWS
  too: without it, a late pre-delete cell write would resurrect a column
  that the delete already erased (pytest pins this case).

The apply is copy-on-write with bucket pruning, one exchange end-to-end
(same fusion as merge.lww_fused: bucket and salt are functions of the key,
so the (bucket, salt) repartition satisfies the groupBy's clustering and
the writer's layout at once). A merge-on-read variant would need the cell
fold inside the read-reduce; at patch-stream rates the pruned cow rewrite
is the simpler correct choice, and the cow/mor trade is already covered
for row-LWW tables (operators/merge.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_migration_service_spark.config import EngineConfig
from data_migration_service_spark.operators.merge import (
    SALT_COL,
    SIDE_COL,
    MergeStats,
    batch_lineage,
    commit_epoch,
    replayed,
    salt_expr,
    side_stats,
)
from data_migration_service_spark.tables.lake import (
    BUCKET_COL,
    DELETED_COL,
    SnapshotTable,
    bucket_expr,
)

CELL_LSNS_COL = "_cell_lsns"
DEL_LSN_COL = "_del_lsn"
_BOOKKEEPING = (CELL_LSNS_COL, DEL_LSN_COL, DELETED_COL, BUCKET_COL)


def _cell(c: str) -> str:
    return f"_cell_{c}"


def patch_data_cols(schema: T.StructType, key_cols: list[str],
                    lsn_col: str) -> list[str]:
    """The patchable columns of a table schema: everything that is not a
    merge key, the LSN, or engine bookkeeping."""
    skip = set(key_cols) | set(_BOOKKEEPING) | {lsn_col}
    return [f.name for f in schema.fields if f.name not in skip]


def create_patch_table(
    spark,
    root: str,
    schema: T.StructType,
    key_cols: list[str],
    n_buckets: int = 64,
    lsn_col: str = "lsn",
    props: dict[str, str] | None = None,
) -> SnapshotTable:
    """Create a SnapshotTable carrying the patch bookkeeping columns
    (`_cell_lsns`, `_del_lsn`). `schema` is the logical data schema
    (keys + data columns + lsn)."""
    fields = list(schema.fields)
    names = schema.names
    if CELL_LSNS_COL not in names:
        fields.append(T.StructField(
            CELL_LSNS_COL, T.MapType(T.StringType(), T.LongType()), True))
    if DEL_LSN_COL not in names:
        fields.append(T.StructField(DEL_LSN_COL, T.LongType(), True))
    p = dict(props or {})
    p.setdefault("merge_semantics", "patch")
    return SnapshotTable.create(spark, root, T.StructType(fields), key_cols,
                                n_buckets, props=p, lsn_col=lsn_col)


def _shape_events(batch: DataFrame, data_cols: list[str], lsn_col: str,
                  op_col: str, fields_col: str) -> DataFrame:
    """Project change events to cell form: per data column a nullable
    struct<l, v> (set-events only), plus `_del` (delete LSN or NULL)."""
    lsn = F.col(lsn_col).cast("long")
    is_del = F.col(op_col) == "delete"
    out = [F.when(is_del, lsn).alias("_del")]
    for c in data_cols:
        v = F.col(c) if c in batch.columns else F.lit(None)
        sets = F.when(F.col(op_col) == "insert", F.lit(True)).otherwise(
            ~is_del & F.array_contains(F.col(fields_col), F.lit(c)))
        out.append(F.when(sets, F.struct(lsn.alias("l"), v.alias("v")))
                   .alias(_cell(c)))
    keep = [c for c in batch.columns
            if c not in data_cols and c not in (op_col, fields_col, lsn_col)]
    return batch.select(*keep, *out)


def _shape_state(state: DataFrame, data_cols: list[str],
                 renames: dict[str, str] | None = None) -> DataFrame:
    """Project stored patch-table rows to the same cell form as events.

    `renames` is the snapshot's cumulative old->new name lineage: cell-LSN
    map KEYS are plain strings, so a renamed column's history sits under
    its old name in rows written before the rename — the lookup coalesces
    across the whole name chain (the map analogue of the read path's
    name-lineage resolution). Rewritten rows migrate to the current name."""
    # tombstone rows carry del_lsn in DEL_LSN_COL already (== their lsn);
    # live rows carry their past tombstone watermark there (or -1/NULL)
    aliases: dict[str, list[str]] = {}
    for old, _ in (renames or {}).items():
        cur, seen = old, set()
        while cur in (renames or {}) and cur not in seen:
            seen.add(cur)
            cur = renames[cur]
        aliases.setdefault(cur, []).append(old)
    del_l = F.when(F.col(DEL_LSN_COL) >= 0, F.col(DEL_LSN_COL))
    out = [del_l.alias("_del")]
    for c in data_cols:
        names = [c] + aliases.get(c, [])
        l = F.coalesce(*[F.element_at(F.col(CELL_LSNS_COL), F.lit(n))
                         for n in names]) if len(names) > 1 else \
            F.element_at(F.col(CELL_LSNS_COL), F.lit(c))
        out.append(
            F.when(~F.col(DELETED_COL) & l.isNotNull(),
                   F.struct(l.alias("l"), F.col(c).alias("v")))
            .alias(_cell(c)))
    keep = [c for c in state.columns
            if c not in data_cols
            and c not in (CELL_LSNS_COL, DEL_LSN_COL, DELETED_COL)]
    return state.select(*keep, *out)


def _fold_cells(shaped: DataFrame, key_cols: list[str], data_cols: list[str],
                lsn_col: str, group_cols: list[str] | None = None,
                with_sides: bool = False) -> DataFrame:
    """The associative cell fold: ONE aggregate pass over `shaped` rows
    (from `_shape_events` / `_shape_state`), grouped by `group_cols or
    key_cols`. Returns full state rows: keys + values + lsn + bookkeeping
    (+ `_has_src`/`_has_tgt_min` when `with_sides`)."""
    group = list(group_cols or key_cols)
    aggs = [F.coalesce(F.max("_del"), F.lit(-1).cast("long")).alias("_del_max")]
    for c in data_cols:
        aggs.append(F.max(_cell(c)).alias(_cell(c)))
    if with_sides:
        aggs += [F.max(SIDE_COL).alias("_has_src"),
                 F.min(SIDE_COL).alias("_has_tgt_min")]
    agg = shaped.groupBy(*group).agg(*aggs)

    del_l = F.col("_del_max")
    live_exprs = [F.coalesce(F.col(_cell(c))["l"], F.lit(-1).cast("long"))
                  for c in data_cols]
    live_l = live_exprs[0] if len(live_exprs) == 1 else F.greatest(*live_exprs)
    agg = agg.withColumn("_live_max", live_l)
    deleted = F.col("_live_max") <= del_l

    out = [F.col(k) for k in group if k not in (SALT_COL,)]
    for c in data_cols:
        cell = F.col(_cell(c))
        out.append(F.when(~deleted & (cell["l"] > del_l), cell["v"]).alias(c))
    entries = F.array(*[
        F.when(~deleted & (F.col(_cell(c))["l"] > del_l),
               F.struct(F.lit(c).alias("key"),
                        F.col(_cell(c))["l"].alias("value")))
        for c in data_cols
    ])
    out += [
        F.greatest(del_l, F.col("_live_max")).alias(lsn_col),
        F.map_from_entries(F.filter(entries, lambda x: x.isNotNull()))
        .alias(CELL_LSNS_COL),
        del_l.alias(DEL_LSN_COL),
        deleted.alias(DELETED_COL),
    ]
    if with_sides:
        out += [F.col("_has_src"), F.col("_has_tgt_min")]
    return agg.select(*out)


def patch_fold(
    events: DataFrame,
    key_cols: list[str],
    data_cols: list[str],
    lsn_col: str = "lsn",
    op_col: str = "op",
    fields_col: str = "fields",
    keep_state: bool = False,
) -> DataFrame:
    """Fold a complete patch-event log to final state (the batch analogue of
    `patch_apply`, and its oracle). One aggregate pass; map-side combine.

    `keep_state=False` returns live rows with keys + data columns + lsn;
    `keep_state=True` additionally returns tombstones and the bookkeeping
    columns (`_cell_lsns`, `_del_lsn`, DELETED_COL)."""
    shaped = _shape_events(events.select(
        *key_cols, lsn_col, op_col, fields_col,
        *[c for c in data_cols if c in events.columns]),
        data_cols, lsn_col, op_col, fields_col)
    state = _fold_cells(shaped, key_cols, data_cols, lsn_col)
    if keep_state:
        return state
    return (state.where(~F.col(DELETED_COL))
            .select(*key_cols, *data_cols, lsn_col))


def apply_changes(
    table: SnapshotTable,
    batch: DataFrame,
    cfg: EngineConfig,
    epoch: int | None = None,
    collect_stats: bool = True,
    publish: bool = True,
) -> MergeStats:
    """Mode dispatcher: the one entry point replay machinery calls.
    `cfg.merge_mode` 'cow'/'mor' -> row-level LWW (merge.cdc_apply);
    'patch' -> cell-level LWW (patch_apply). Keeping the dispatch here (and
    not inside cdc_apply) preserves the row-path's zero-overhead hot loop."""
    if cfg.merge_mode == "patch":
        return patch_apply(table, batch, cfg, epoch=epoch,
                           collect_stats=collect_stats, publish=publish)
    from data_migration_service_spark.operators.merge import cdc_apply

    return cdc_apply(table, batch, cfg, epoch=epoch,
                     collect_stats=collect_stats, publish=publish)


def patch_apply(
    table: SnapshotTable,
    batch: DataFrame,
    cfg: EngineConfig,
    epoch: int | None = None,
    fields_col: str = "fields",
    collect_stats: bool = True,
    publish: bool = True,
) -> MergeStats:
    """Apply one micro-batch of PARTIAL-UPDATE change events to a patch
    table (see module doc). Copy-on-write with bucket pruning; exactly-once
    via the same epoch guard as `merge.cdc_apply`; one data exchange
    end-to-end (fused (bucket, salt) repartition serves the fold's groupBy
    and the writer's layout)."""
    snap = table.current()
    skip = replayed(snap, cfg, epoch)
    if skip is not None:
        return skip

    schema = snap.schema()
    for col in (CELL_LSNS_COL, DEL_LSN_COL):
        if col not in schema.names:
            raise ValueError(
                f"{table.root} is not a patch table (missing {col}); "
                "create it with create_patch_table()")
    keys = list(cfg.key_cols)
    data_cols = patch_data_cols(schema, keys, cfg.lsn_col)

    src = batch
    for c in data_cols:
        if c not in src.columns:
            src = src.withColumn(
                c, F.lit(None).cast(schema[c].dataType))
    src = src.select(*keys, cfg.lsn_col, cfg.op_col, fields_col, *data_cols)
    src = src.withColumn(
        BUCKET_COL, bucket_expr(snap.layout_cols(), snap.n_buckets))

    # affected buckets + per-bucket lineage in one keys-sized pass
    lineage = batch_lineage(src, cfg.lsn_col)
    affected = sorted(lineage)
    stats = MergeStats(epoch=epoch)
    if not affected:
        return commit_epoch(table, snap, cfg, stats, "merge-patch",
                            publish=publish)

    shaped_src = _shape_events(src, data_cols, cfg.lsn_col, cfg.op_col,
                               fields_col).withColumn(SIDE_COL, F.lit(1))
    tgt = table.read(snapshot=snap, buckets=affected, include_deleted=True)
    shaped_tgt = _shape_state(
        tgt.drop(cfg.lsn_col), data_cols,
        renames=snap.renames).withColumn(SIDE_COL, F.lit(0))

    salt = max(cfg.salt_factor, 1)
    unioned = (shaped_tgt.unionByName(shaped_src)
               .withColumn(SALT_COL, salt_expr(keys, salt))
               .repartition(F.col(BUCKET_COL), F.col(SALT_COL)))
    merged = _fold_cells(unioned, keys, data_cols, cfg.lsn_col,
                         group_cols=[BUCKET_COL, SALT_COL, *keys],
                         with_sides=True)

    if collect_stats:
        side_stats(merged, stats)

    out_cols = []
    for f in schema.fields:
        if f.name == BUCKET_COL:
            continue
        out_cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
    out = merged.select(*out_cols, F.col(BUCKET_COL))
    dirname = table.write_buckets(out, affected, write_schema=schema,
                                  pre_partitioned=True)
    return commit_epoch(table, snap, cfg, stats, "merge-patch", dirname,
                        affected, lineage=lineage, publish=publish)


def read_patched(table: SnapshotTable,
                 snapshot=None) -> DataFrame:
    """Live rows of a patch table without the bookkeeping columns."""
    df = table.read(snapshot=snapshot)
    return df.drop(CELL_LSNS_COL, DEL_LSN_COL)


def patch_tombstone_gc(table: SnapshotTable, cfg: EngineConfig,
                       watermark: int) -> int:
    """Physically drop patch-table tombstones whose delete LSN is at or
    below `watermark` — the cell-table analogue of
    `merge.compact(tombstone_watermark=)`. A tombstone exists only to beat
    late lower-LSN cell writes; once the source guarantees nothing at or
    below the watermark can still arrive (e.g. the replication slot's
    confirmed-flush LSN), keeping it is pure bloat — at 10^10 events
    deleted keys otherwise accumulate forever. Caller owns the watermark's
    safety. Bucket-pruned rewrite via delete_where; returns snapshot id."""
    from data_migration_service_spark.operators.merge import delete_where

    return delete_where(
        table, cfg,
        predicate=(F.col(DELETED_COL) & (F.col(DEL_LSN_COL) <= watermark)))


def patch_events_from_json(
    events: DataFrame,
    data_schema: T.StructType,
    payload_col: str = "payload",
    op_col: str = "op",
    fields_col: str = "fields",
) -> DataFrame:
    """Decode a partial-update wire format into patch-event shape.

    Real partial-update streams (Debezium MongoDB `patch` events,
    app-level CDC) ship a JSON object containing ONLY the fields the event
    set — which is exactly the information `fields` needs, and which a
    plain `from_json` alone would destroy (a missing key and an explicit
    `"x": null` both decode to NULL). So:

    - values: ONE `from_json(payload, data_schema)` per row (codegen,
      field-pruned — no Python);
    - `fields`: `json_object_keys(payload)` — the payload's own top-level
      key list, so `{"content": null}` (set-to-NULL) stays distinct from
      `{}` (touch nothing). Keys outside `data_schema` are harmless: the
      fold only consults `array_contains(fields, <data col>)`.

    Delete events may carry a NULL payload; their `fields` is empty.
    Envelope columns (keys, lsn, op) pass through untouched."""
    parsed = F.from_json(F.col(payload_col), data_schema)
    empty = F.array().cast("array<string>")
    fields = F.when(
        (F.col(op_col) == "delete") | F.col(payload_col).isNull(), empty
    ).otherwise(F.coalesce(F.json_object_keys(payload_col), empty))
    keep = [c for c in events.columns
            if c != payload_col and c not in data_schema.names]
    return events.select(
        *keep,
        fields.alias(fields_col),
        *[parsed[f.name].alias(f.name) for f in data_schema.fields],
    )
