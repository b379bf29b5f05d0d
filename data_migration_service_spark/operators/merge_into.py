"""Generic conditional MERGE — the Delta `MERGE INTO` / ANSI SQL MERGE
analogue over the snapshot-committed bucket layout.

The CDC path (`operators/merge.cdc_apply`) is a FIXED merge: last-writer-wins
by LSN, op column decides insert/update/delete. Real lake users also run
ad-hoc conditional merges — backfills, dimension refreshes, corrections —
where the match action depends on arbitrary predicates over both sides
(reference analogue: the one-off corrective migrations the reference runs as
bespoke jobs around its chunk loop, DataMigrationService.java:151-165; the
declarative form is public Delta/Iceberg MERGE semantics).

Two layers:

- `merge_frames(target, source, keys, matched=, not_matched=)` — the PURE
  resolution: one full-outer equi-join on the merge key plus a codegen
  `when()` action chain; no table, no side effects. This is the
  oracle-checkable core (query `merge_upsert`).
- `merge_into(table, source, cfg, ...)` — persists the resolution through
  the same machinery every other write uses: source-keyed bucket pruning
  (only buckets containing source keys are rewritten — O(touched), never
  O(table)), tombstones for MERGE deletes (so downstream CDC ordering and
  changefeeds stay correct), a fresh LSN above the affected buckets'
  watermark for every written row, the exactly-once epoch guard, and one
  atomic snapshot commit.

Scale shape: the only exchanges are the key equi-join (both sides hashed on
the merge key; never a cartesian — pinned in tests/test_merge_into.py) and
the writer's (bucket, salt) repartition. Clause conditions and SET
expressions are Catalyst `expr()` columns — whole-stage codegen, no Python.

Delta parity notes: clauses evaluate IN ORDER (first matching clause wins,
like Delta's WHEN MATCHED chain); more than one source row per key raises,
matching Delta's multiple-match error (resolution would be ambiguous).
"""

from __future__ import annotations

from functools import reduce
from typing import Any, Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_migration_service_spark.config import EngineConfig
from data_migration_service_spark.operators.merge import (
    MergeStats,
    commit_epoch,
    replayed,
)
from data_migration_service_spark.tables.lake import (
    BUCKET_COL,
    DELETED_COL,
    SnapshotTable,
    bucket_expr,
)

ACTION_COL = "_merge_action"
_T_MARK, _S_MARK = "_t_exists", "_s_exists"


def _cond(c: str | Column | None) -> Column:
    if c is None:
        return F.lit(True)
    return F.expr(c) if isinstance(c, str) else c


def _validate_clauses(matched, not_matched, by_source=()) -> None:
    for cl in list(matched) + list(by_source):
        act = cl.get("action")
        if act not in ("update", "delete"):
            raise ValueError(f"clause action must be update|delete, got {act!r}")
        if act == "update" and not cl.get("set"):
            raise ValueError("update clause requires a non-empty 'set' mapping")
        if act == "delete" and cl.get("set"):
            raise ValueError("delete clause takes no 'set' mapping")
    if not_matched is not None and not isinstance(not_matched, Mapping):
        raise ValueError("not_matched must be a mapping with optional "
                         "'condition' and 'values'")


def merge_frames(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    matched: Sequence[Mapping[str, Any]] = (),
    not_matched: Mapping[str, Any] | None = None,
    not_matched_by_source: Sequence[Mapping[str, Any]] = (),
    keep_actions: bool = False,
) -> DataFrame:
    """Resolve a MERGE over plain DataFrames; returns the final state with
    the target's columns (and dtypes).

    - `keys`: equality merge key, present under the same names both sides.
    - `matched`: ordered clauses `{"action": "update"|"delete",
      "condition": <SQL over t./s. or Column or None>, "set": {col: expr}}`.
      The FIRST clause whose condition holds decides the row (Delta order
      semantics); a matched row with no applicable clause is kept as-is.
    - `not_matched`: `{"condition": ..., "values": {col: expr}}` — insert
      clause for source-only keys. `values` defaults each target column to
      `s.<col>` when the source has it, else NULL. None = never insert.
    - `not_matched_by_source`: ordered update/delete clauses applied to
      TARGET-ONLY rows (Delta's WHEN NOT MATCHED BY SOURCE — the
      full-snapshot-sync family: "delete whatever the source no longer
      has"). Source columns are NULL in these clauses' expressions.
    - Expressions reference the two sides as `t.<col>` / `s.<col>`.

    With `keep_actions=True` every joined row survives, tagged in
    `_merge_action` ∈ {keep, update<i>, delete<i>, insert, drop} — the
    persisting layer (`merge_into`) turns deletes into tombstones instead
    of vanishing them. Default returns only the final live rows.

    The caller guarantees the source has at most one row per key
    (`merge_into` enforces it; the pure form stays lazy and does not).
    """
    matched = list(matched)
    by_source = list(not_matched_by_source)
    _validate_clauses(matched, not_matched, by_source)
    out_fields = target.schema.fields
    t = target.withColumn(_T_MARK, F.lit(True)).alias("t")
    s = source.withColumn(_S_MARK, F.lit(True)).alias("s")
    on = reduce(lambda a, b: a & b,
                [F.expr(f"t.{k} <=> s.{k}") for k in keys])
    j = t.join(s, on, "full_outer")
    has_t = F.col(f"t.{_T_MARK}").isNotNull()
    has_s = F.col(f"s.{_S_MARK}").isNotNull()

    # first-match-wins action tag over the ordered clause lists (matched
    # clauses index from 0; by-source clauses continue the numbering so
    # ACTION_COL tags stay unique across both lists)
    def _chain(clauses, offset):
        chain: Column | None = None
        for i, cl in enumerate(clauses):
            tag = F.lit(f"{cl['action']}{offset + i}")
            c = _cond(cl.get("condition"))
            chain = F.when(c, tag) if chain is None else chain.when(c, tag)
        return chain.otherwise(F.lit("keep")) if chain is not None \
            else F.lit("keep")

    m_act = _chain(matched, 0)
    bs_act = _chain(by_source, len(matched))
    ins_cond = _cond(not_matched.get("condition")) if not_matched is not None \
        else F.lit(False)
    act = (
        F.when(has_t & has_s, m_act)
        .when(~has_t & ins_cond, F.lit("insert"))
        .when(~has_t, F.lit("drop"))
        .otherwise(bs_act)  # target-only rows
    )
    j = j.withColumn(ACTION_COL, act)

    ins_values = dict((not_matched or {}).get("values") or {})
    src_cols = set(source.columns)
    cols: list[Column] = []
    for f in out_fields:
        c = f.name
        expr: Column = F.when(F.col(ACTION_COL) == "insert",
                              _ins_expr(c, ins_values, src_cols))
        for i, cl in enumerate(matched + by_source):
            if cl["action"] != "update":
                continue
            upd = cl["set"].get(c)
            if upd is not None:
                expr = expr.when(F.col(ACTION_COL) == f"update{i}",
                                 _cond(upd))
        expr = expr.otherwise(F.expr(f"t.{c}"))
        cols.append(expr.cast(f.dataType).alias(c))
    if keep_actions:
        # key columns must survive on insert/drop rows too (the t side is
        # null there) — coalesce to the source key
        cols = [
            (F.coalesce(F.expr(f"t.{f.name}"), F.expr(f"s.{f.name}"))
             .cast(f.dataType).alias(f.name))
            if f.name in keys else cols[i]
            for i, f in enumerate(out_fields)
        ]
        return j.select(*cols, F.col(ACTION_COL))
    live = j.where(~F.col(ACTION_COL).startswith("delete")
                   & (F.col(ACTION_COL) != "drop"))
    return live.select(*cols)


def _ins_expr(col: str, values: Mapping[str, str], src_cols: set) -> Column:
    v = values.get(col)
    if v is not None:
        return _cond(v)
    if col in src_cols:
        return F.expr(f"s.{col}")
    return F.lit(None)


def merge_into(
    table: SnapshotTable,
    source: DataFrame,
    cfg: EngineConfig,
    matched: Sequence[Mapping[str, Any]] = (),
    not_matched: Mapping[str, Any] | None = None,
    not_matched_by_source: Sequence[Mapping[str, Any]] = (),
    epoch: int | None = None,
    lsn: int | None = None,
    collect_stats: bool = True,
) -> MergeStats:
    """Execute a conditional MERGE against a SnapshotTable and commit it as
    one snapshot. See module doc for semantics; differences from the pure
    `merge_frames`:

    - the merge key is the TABLE's key (`cfg.key_cols`) — the bucket layout
      is keyed on it, which is what makes source-keyed pruning sound;
    - MERGE deletes become tombstones carrying the merge LSN, so later CDC
      events and changefeed readers order correctly against them;
    - every written (updated / inserted / tombstoned) row gets `lsn` — by
      default 1 + the affected buckets' LSN high-watermark, so the merge
      totally orders AFTER everything it read (kept rows keep their LSN);
    - duplicate source keys raise (Delta's multiple-match error);
    - exactly-once: `epoch` replays are skipped via the snapshot prop guard;
    - `not_matched_by_source` clauses act on rows the source does NOT have,
      so the source-keyed pruning is unsound for them — the merge reads and
      rewrites EVERY bucket (inherent to the clause, same cost in Delta;
      use it for full-snapshot syncs, not incremental corrections).
    """
    snap = table.current()
    skip = replayed(snap, cfg, epoch)
    if skip is not None:
        return skip
    keys = list(cfg.key_cols)
    schema = snap.schema()
    data_fields = [f for f in schema.fields
                   if f.name not in (BUCKET_COL, DELETED_COL)]
    data_cols = [f.name for f in data_fields]

    dup = (source.groupBy(*keys).agg(F.count(F.lit(1)).alias("_n"))
           .where(F.col("_n") > 1).limit(1).count())
    if dup:
        raise ValueError(
            "merge_into source has multiple rows for at least one merge key "
            "— resolution would be ambiguous (pre-aggregate the source)")

    # bucket pruning from the SOURCE keys alone — the only buckets whose
    # contents can change (updates/deletes hit existing keys there; inserts
    # land there by bucket_expr determinism). By-source clauses touch
    # target-only rows anywhere: every existing bucket is in play.
    affected = sorted(
        int(r[0]) for r in
        source.select(bucket_expr(snap.layout_cols(), snap.n_buckets)
                      .alias(BUCKET_COL))
        .distinct().collect()
    )
    if not_matched_by_source:
        affected = sorted(set(affected)
                          | set(snap.buckets) | set(snap.deltas or {}))
    stats = MergeStats(epoch=epoch)
    if not affected:
        return commit_epoch(table, snap, cfg, stats, "merge_into")

    tgt_all = table.read(snapshot=snap, buckets=affected,
                         include_deleted=True)
    tgt_live = tgt_all.where(~F.col(DELETED_COL)).select(*data_cols)
    tombs = tgt_all.where(F.col(DELETED_COL))

    if lsn is None:
        hi = tgt_all.agg(F.max(cfg.lsn_col)).first()[0]
        lsn = int(hi) + 1 if hi is not None else 1

    resolved = merge_frames(tgt_live, source, keys, matched=matched,
                            not_matched=not_matched,
                            not_matched_by_source=not_matched_by_source,
                            keep_actions=True)
    written = ~F.col(ACTION_COL).isin("keep", "drop")
    out = (
        resolved.where(F.col(ACTION_COL) != "drop")
        # merge-written rows get the merge LSN; kept rows keep theirs
        .withColumn(cfg.lsn_col,
                    F.when(written, F.lit(lsn).cast("long"))
                    .otherwise(F.col(cfg.lsn_col)))
        .withColumn(DELETED_COL, F.col(ACTION_COL).startswith("delete"))
        .select(*data_cols, DELETED_COL)
    )

    if collect_stats:
        counts = {r[0]: int(r[1]) for r in
                  resolved.groupBy(ACTION_COL).count().collect()}

        def _n(kind, by_source):
            return sum(n for a, n in counts.items()
                       if a.startswith(kind)
                       and (int(a[len(kind):]) >= len(list(matched)))
                       == by_source)

        stats.rows_matched = _n("update", False)
        stats.rows_deleted = _n("delete", False)
        stats.rows_inserted = counts.get("insert", 0)
        if not_matched_by_source:
            stats.extra["by_source_updated"] = _n("update", True)
            stats.extra["by_source_deleted"] = _n("delete", True)

    out = out.unionByName(tombs.select(*data_cols, DELETED_COL)) \
             .withColumn(BUCKET_COL,
                         bucket_expr(snap.layout_cols(), snap.n_buckets))
    dirname = table.write_buckets(out, affected,
                                  salt_factor=max(cfg.salt_factor, 1),
                                  write_schema=schema)
    stats.extra["merge_lsn"] = lsn
    return commit_epoch(table, snap, cfg, stats, "merge_into", dirname,
                        affected, merge_lsn=lsn)
