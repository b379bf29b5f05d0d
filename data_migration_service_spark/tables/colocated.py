"""Bucket-aligned (storage-partitioned) joins between co-located tables.

Two SnapshotTables are CO-LOCATED when they hash the same layout columns
into the same number of buckets (`Snapshot.layout_cols()`, `n_buckets`):
bucket b of each holds exactly the same key space, so an equi-join on
those columns never needs to move a row between buckets.

`colocated_join_many` is one plan: check that every table is aligned with
the first (`alignment`), read each at its current snapshot, rename
colliding non-join columns `{col}_r{k}` (`collision_renames`), and fold
plain `join(on, how)` calls over the reads. The engine adds no broadcast
hint: Spark's `spark.sql.autoBroadcastJoinThreshold` (64 MB in
session.py) decides. A right side under it is broadcast and the join has
no `Exchange hashpartitioning`; a larger one takes Spark's shuffled join,
where AQE's skew-join split applies. That is the plan a plain DataFrame
join of the reads gets; what this function adds is the alignment
contract and stable column names. A broadcast join has no shuffle to
salt, so a hot bucket gets its parallelism from file splits
(`target_file_rows`, `write_buckets(salt_factor=)`), pinned by
tests/test_colocated.py::test_hot_bucket_pair_parallelizes_by_file_splits.

On an Iceberg deployment the same alignment contract is what
storage-partitioned joins (`spark.sql.sources.v2.bucketing.enabled`)
rely on.

Reference parity: none (engine-added scale feature; the reference joins
nothing — it migrates table-by-table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from data_migration_service_spark.tables.lake import Snapshot, SnapshotTable


def alignment(left: Snapshot, right: Snapshot,
              on: list[str]) -> str | None:
    """None when a join of the two snapshots on `on` is bucket-aligned;
    otherwise a human-readable reason it is not."""
    lc, rc = left.layout_cols(), right.layout_cols()
    if lc != rc:
        return (f"layout columns differ: left {lc} vs right {rc} "
                f"(co-location requires identical bucket_cols)")
    if left.n_buckets != right.n_buckets:
        return (f"bucket counts differ: left {left.n_buckets} vs right "
                f"{right.n_buckets} (rebucket one side to match)")
    if not set(lc) <= set(on):
        return (f"join keys {on} do not cover the layout columns {lc} — "
                f"rows joining across buckets cannot be aligned")
    return None


def collision_renames(cols_per_table: list[list[str]],
                      on: list[str]) -> dict[tuple[int, str], str]:
    """Output name of every column of an aligned join, keyed by (table
    position, lowercased column): table k's non-key column c becomes
    `{c}_r{k}` iff it collides with the joined output of tables 0..k-1
    (earlier renames included). Names compare case-insensitively, like
    Spark's default resolution, so `lang` and `Lang` collide too."""
    on_lower = {c.lower() for c in on}
    ren: dict[tuple[int, str], str] = {}
    acc_lower: set[str] = set()
    for k, cols in enumerate(cols_per_table):
        for c in cols:
            cl = c.lower()
            name = c
            if k and cl not in on_lower and cl in acc_lower:
                name = f"{c}_r{k}"
            ren[(k, cl)] = name
            acc_lower.add(name.lower())
    return ren


def colocated_join_many(
    tables: list[SnapshotTable],
    on: list[str] | None = None,
    how: str = "inner",
) -> DataFrame:
    """Bucket-aligned equi-join across 2..N co-located tables.

    Every table must be pairwise bucket-aligned on `on` (defaults to the
    first table's layout columns); raises with the first misalignment
    reason otherwise. `how` is "inner" or "left". Colliding non-join
    columns are renamed by `collision_renames`. Spark's broadcast
    threshold picks the join strategy (module docstring).

    Pinned by tests/test_colocated.py: zero "Exchange hashpartitioning"
    nodes on compacted sides under the default threshold, and result
    equality with the naive join.

    Reference parity: none (engine-added scale feature).
    """
    if len(tables) < 2:
        raise ValueError("colocated_join_many needs at least 2 tables")
    if how not in ("inner", "left"):
        raise ValueError(f"how must be inner or left, got {how!r}")
    snaps = [t.current() for t in tables]
    on = list(on) if on is not None else snaps[0].layout_cols()
    for i, s in enumerate(snaps[1:], start=1):
        reason = alignment(snaps[0], s, on)
        if reason is not None:
            raise ValueError(f"table {i} not bucket-aligned: {reason}")
    reads = [t.read(snapshot=s) for t, s in zip(tables, snaps)]
    ren = collision_renames([r.columns for r in reads], on)
    acc = reads[0]
    for k, r in enumerate(reads[1:], start=1):
        acc = acc.join(r.toDF(*[ren[(k, c.lower())] for c in r.columns]),
                       on, how)
    return acc
