"""Bucket-aligned (storage-partitioned) joins between co-located tables.

Two SnapshotTables are CO-LOCATED when they hash the same layout columns
into the same number of buckets (`Snapshot.layout_cols()`, `n_buckets`):
bucket b of each holds exactly the same key space, so an equi-join on
those columns never needs to move a row between buckets. A naive
`left.read().join(right.read())` still shuffles BOTH sides — Catalyst
cannot see the parquet layout through the engine's manifest — which at
100 TB is the single largest avoidable exchange class (e.g. a CDC table
joined with its derived chunk table on every downstream read).

`colocated_join_many` plans the join the way Iceberg's storage-partitioned
join does, with one read→rename→join fold over 2..N tables and two plans:

- whole-table: when every non-first table fits the broadcast size gate
  in total (on-disk bytes from the manifest's file listing times
  `BROADCAST_EXPANSION` ≤ `BROADCAST_BYTES_LIMIT`), one fold over the
  whole tables with every right side broadcast — shuffle-free, one scan
  per table;
- per-bucket: otherwise (or when `buckets=` is given), one fold per
  common bucket over the single-bucket reads, unioned. Each right bucket
  is broadcast when it alone fits the gate; an over-limit bucket falls
  back to a plain shuffled join for that bucket alone — correct, and
  still bounded to one bucket's key space. Delta-carrying buckets add
  only their own MOR reduce, still bucket-local.

Non-join columns colliding with the joined output so far are renamed
`{col}_r{k}` (k = table position) by `collision_renames`. Plain SQL over
the group views (`EngineGroup.sql`) is Spark's own shuffled plan; this
module is the one explicit shuffle-free join.

Scale envelope — explicit, not silent:

- The per-bucket plan holds one join tree per bucket, so the driver caps
  it at `MAX_PLAN_BUCKETS` and raises past that, telling the caller to
  batch by bucket ranges — exactly how `rewrite_buckets` runs table-wide
  maintenance (a rolling background pass), and what a pruned lookup does
  naturally (its bucket set is already small). The whole-table plan
  builds no per-bucket trees, so the cap does not apply to it.
- Hot-bucket skew: an aligned join has NO shuffle to salt, so a bucket
  holding half the table gets its parallelism from FILE-level splits —
  the writer's `target_file_rows` prop and hot-bucket salt fan-out
  (`write_buckets(salt_factor=)`) decide how many scan tasks the hot
  bucket-pair fans across. Keep hot buckets multi-file (both knobs are
  already exercised by the skew bench) and the pair never serializes
  into one straggler task; on the shuffled (over-broadcast-limit)
  fallback, AQE's skew-join split applies as usual. Pinned by
  tests/test_colocated.py::test_hot_bucket_pair_parallelizes_by_file_splits.
- On a real Iceberg deployment this module disappears into
  `spark.sql.sources.v2.bucketing.enabled` (SPJ); the engine-level
  contract (which joins are alignable) is identical.

Reference parity: none (engine-added scale feature; the reference joins
nothing — it migrates table-by-table).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_migration_service_spark.tables.lake import Snapshot, SnapshotTable

# Broadcast OOM risk scales with DECOMPRESSED in-memory size, but
# bucket_bytes_estimate reads COMPRESSED on-disk parquet bytes (the only
# number available without a footer parse or Spark job). Text-heavy
# buckets commonly expand 5-20x when materialized, so the size gate
# multiplies the on-disk estimate by this conservative expansion factor
# before comparing against BROADCAST_BYTES_LIMIT — a 64MB limit admits
# buckets up to ~8MB on disk (round-4 advisor finding).
BROADCAST_EXPANSION = 8.0
BROADCAST_BYTES_LIMIT = 64 << 20
# per-bucket plans past this many bucket joins raise (run bucket ranges)
MAX_PLAN_BUCKETS = 256


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


def _populated(snap: Snapshot) -> set[int]:
    return set(snap.buckets) | {b for b, d in snap.deltas.items() if d}


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
    buckets: list[int] | None = None,
) -> DataFrame:
    """Bucket-aligned equi-join across 2..N co-located tables, shuffle-free.

    Every table must be pairwise bucket-aligned on `on` (defaults to the
    first table's layout columns); raises with the first misalignment
    reason otherwise. Plain-SQL joins over the group views
    (`EngineGroup.sql`) cannot use the layout — Catalyst cannot see the
    manifest through them — so they pay the exchanges. `how`: "inner"
    (common populated buckets) or "left" (all of the first table's
    populated buckets; right reads of unpopulated buckets are empty).
    Colliding non-join columns are renamed by `collision_renames`.

    `buckets` restricts the join to a bucket subset — the pruned-lookup
    composition (probe the keys, join only the hit buckets) and the
    batching lever once a per-bucket join exceeds `MAX_PLAN_BUCKETS`.

    Broadcast size gate: a right side is broadcast ONLY when its
    estimated IN-MEMORY footprint — compressed on-disk bytes (base +
    delta parquet, from the manifest's file listing, no Spark job) times
    `BROADCAST_EXPANSION` — is at most `BROADCAST_BYTES_LIMIT`; past the
    limit that bucket falls back to a plain shuffled join, the same
    size-gate discipline as operators/merge.maybe_broadcast_keys.

    Pinned by tests/test_colocated.py: zero "Exchange hashpartitioning"
    nodes on compacted sides, result equality with the naive shuffled
    join, and the oversized-bucket fallback (result-equal, un-hinted).

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

    def fits(k: int, bucket_ids) -> bool:
        return (sum(tables[k].bucket_bytes_estimate(snaps[k], b)
                    for b in bucket_ids)
                * BROADCAST_EXPANSION <= BROADCAST_BYTES_LIMIT)

    def fold(bucket: int | None) -> DataFrame:
        # bucket=None reads whole tables and runs only once every right
        # side fits the gate whole; the broadcast decision is the only
        # other difference between the two plans
        sel = None if bucket is None else [bucket]
        reads = [t.read(snapshot=s, buckets=sel)
                 for t, s in zip(tables, snaps)]
        ren = collision_renames([r.columns for r in reads], on)
        acc = reads[0]
        for k in range(1, len(reads)):
            r = reads[k].toDF(*[ren[(k, c.lower())]
                                for c in reads[k].columns])
            if bucket is None or fits(k, [bucket]):
                r = F.broadcast(r)
            acc = acc.join(r, on, how)
        return acc

    # Small-side fast path: when EVERY non-first table fits the broadcast
    # gate in TOTAL, the per-bucket split only adds plan overhead (one
    # join tree + one broadcast per bucket) — a single whole-table
    # broadcast join is equally shuffle-free and schedules as one scan
    # per table. Inner/left per-bucket unions and the whole-table join
    # agree exactly (bucket intersection is an optimization, not a
    # semantic), so results are identical.
    if buckets is None and all(
            fits(k, _populated(snaps[k])) for k in range(1, len(tables))):
        return fold(None)

    pops = [_populated(s) for s in snaps]
    todo = set(pops[0])
    if how == "inner":
        for p in pops[1:]:
            todo &= p
    if buckets is not None:
        todo &= set(buckets)
    todo = sorted(todo)
    if len(todo) > MAX_PLAN_BUCKETS:
        raise ValueError(
            f"{len(todo)} bucket joins exceed MAX_PLAN_BUCKETS="
            f"{MAX_PLAN_BUCKETS}; run in bucket ranges (pass buckets=)")
    parts = [fold(b) for b in todo]
    if not parts:
        # schema-correct empty result (e.g. empty tables)
        return fold(0).limit(0)
    return reduce(lambda a, b: a.unionByName(b), parts)
