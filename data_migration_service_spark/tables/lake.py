"""SnapshotTable — a minimal lakehouse table with Iceberg-style semantics.

The sandbox ships no Iceberg/Delta runtime jars, so the engine provides its
own snapshot-committed parquet table: atomic manifest commits, epoch-tagged
exactly-once writes, hash-bucket layout with copy-on-write at bucket
granularity, schema evolution (add / rename via name-lineage, no rewrite),
time travel, and snapshot expiry. The public surface mirrors what the engine
would call on a real Iceberg catalog, so swapping in `MERGE INTO` on a real
cluster is a sink-level change only.

Layout::

    root/
      _meta/HEAD                     # current snapshot id (atomic os.replace)
      _meta/snapshots/00000007.json  # immutable manifest, O(n_buckets)
      data/snap-000007/_schema.json  # physical write-schema of that commit
      data/snap-000007/_bucket=13/part-*.parquet

Scale notes (the design target is ~100 TB / ~16k buckets / ~6 GB per bucket):

- A manifest is O(n_buckets) JSON, read once by the driver per operation —
  no file listing of the whole table, ever. Executors only open the bucket
  directories the driver hands them.
- Copy-on-write rewrites ONLY buckets containing changed keys (the merge
  plans the affected-bucket set from the batch's key hashes). Unchanged
  buckets are carried forward by manifest reference, zero data movement.
- One hot bucket is still written in parallel: the writer repartitions by
  (bucket, salt) so a skewed bucket becomes several parquet files written by
  several tasks (north_rule: explicit skew handling).
- Deletes are tombstone rows (_deleted=true) retaining the key's last LSN,
  so an out-of-order lower-LSN event can never resurrect a deleted row —
  the cross-batch half of last-writer-wins. `read()` filters tombstones.

Reference parity: atomic chunk commit (DataMigrationService.java:156-160) ->
snapshot commit; TRUNCATE cleanup (DataCleanupService.java:64-106) ->
`truncate()`; Spring Batch JobRepository run bookkeeping -> manifest `props`
+ `summary` (epoch, lineage).
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass
from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_migration_service_spark.tables.metastore import (
    CommitConflict,
    LocalFsMetaStore,
    MetaStore,
)

BUCKET_COL = "_bucket"
DELETED_COL = "_deleted"
GEN_COL = "_gen"  # transient read-side column: delta-dir generation
META_COLS = (BUCKET_COL, DELETED_COL)


def dir_gen(dirname: str) -> int:
    """Write generation of a data dir, parsed from its name.

    MOR delta dirs are named ``delta-{parent_snapshot_id:010d}-{uuid}``
    (operators/merge._apply_mor), so the generation is the table's commit
    counter at append time — strictly monotone across sequential applies,
    and stable under delta-list pruning, branching and cloning because it
    lives in the immutable dir NAME, not in list position. Base dirs
    (``snap-*``) and legacy unnumbered delta dirs read as generation 0.

    Equal-LSN rows of one key are resolved by ``max_by(..., (lsn, gen))``:
    the later-applied delta wins, the MOR analogue of the copy-on-write
    tie-break that prefers the incoming batch (SIDE_COL). Without it, a
    rebuild that rewrites a key at its unchanged LSN (DerivedTable
    .redefine) or a reconcile tombstone colliding with a later legitimate
    event at the same LSN would be resolved by scan encounter order —
    nondeterministic across runs."""
    if dirname.startswith("delta-"):
        # require the new-format '-' separator after the counter: a legacy
        # single-segment dir named delta-<12-hex-uuid> whose hex happens to
        # be all digits must read as legacy generation 0, not as a huge
        # generation that beats every real delta at equal LSN
        head, sep, _ = dirname[6:].partition("-")
        if sep and head.isdigit():
            return int(head)
    return 0


def bucket_expr(key_cols: Iterable[str], n_buckets: int) -> F.Column:
    """Deterministic bucket id from the merge key (xxhash64, JVM-side)."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(n_buckets)).cast("int")


@dataclass
class Snapshot:
    snapshot_id: int
    parent: int | None
    schema_json: dict
    n_buckets: int
    key_cols: list[str]
    buckets: dict[int, str]          # bucket -> base data dir name holding it
    renames: dict[str, str]          # cumulative old-name -> new-name lineage
    props: dict[str, str]
    summary: dict[str, Any]
    # merge-on-read delta log: bucket -> ordered delta dir names. A read of a
    # bucket merges base + deltas by max LSN per key; compaction folds deltas
    # back into a new base dir and clears the list.
    deltas: dict[int, list[str]] = None  # type: ignore[assignment]
    # Layout transform (Iceberg bucket-partitioning analogue): the subset of
    # key_cols the bucket id hashes. None = the full merge key (legacy and
    # default). A table bucketed by a key PREFIX co-locates with any table
    # bucketed by the same prefix — e.g. a derived table (key = source key +
    # seq) bucketed by the SOURCE key shares bucket boundaries with its
    # source, enabling shuffle-free bucket-aligned joins
    # (tables/colocated.py). Immutable for a table's lifetime (rebucket
    # changes n_buckets, never the layout columns).
    bucket_cols: list[str] | None = None

    def __post_init__(self):
        if self.deltas is None:
            self.deltas = {}

    def schema(self) -> T.StructType:
        return T.StructType.fromJson(self.schema_json)

    def layout_cols(self) -> list[str]:
        """Columns the physical bucket id is hashed from."""
        return list(self.bucket_cols) if self.bucket_cols else list(self.key_cols)


class SnapshotTable:
    def __init__(self, spark: SparkSession, root: str,
                 meta_store: MetaStore | None = None):
        self.spark = spark
        self.root = root
        # ALL commit-critical metadata I/O goes through the store (see
        # tables/metastore.py): LocalFsMetaStore here, a conditional-PUT
        # object store / Iceberg catalog at 100 TB. Data files need no such
        # care — they are immutable, written under unique dir names, and
        # unreachable until a manifest referencing them commits.
        self.meta = meta_store or LocalFsMetaStore(root)
        self._datadir = os.path.join(root, "data")

    # ---------- catalog ----------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        key_cols: list[str],
        n_buckets: int = 64,
        props: dict[str, str] | None = None,
        lsn_col: str = "lsn",
        meta_store: MetaStore | None = None,
        bucket_cols: list[str] | None = None,
    ) -> "SnapshotTable":
        t = cls(spark, root, meta_store=meta_store)
        if bucket_cols is not None:
            bad = [c for c in bucket_cols if c not in key_cols]
            if bad or not bucket_cols:
                raise ValueError(
                    f"bucket_cols must be a non-empty subset of key_cols "
                    f"{list(key_cols)}; got {bucket_cols}")
        props = dict(props or {})
        props.setdefault("lsn_col", lsn_col)
        t.meta.ensure_layout()
        os.makedirs(t._datadir, exist_ok=True)
        if DELETED_COL not in schema.names:
            schema = T.StructType(
                list(schema.fields) + [T.StructField(DELETED_COL, T.BooleanType(), False)]
            )
        snap = Snapshot(
            snapshot_id=1,
            parent=None,
            schema_json=schema.jsonValue(),
            n_buckets=n_buckets,
            key_cols=list(key_cols),
            buckets={},
            renames={},
            props=props,
            summary={"operation": "create"},
            bucket_cols=list(bucket_cols) if bucket_cols else None,
        )
        t._write_snapshot(snap)
        return t

    @classmethod
    def exists(cls, root: str) -> bool:
        return os.path.exists(os.path.join(root, "_meta", "HEAD"))

    def current(self) -> Snapshot:
        sid = self.meta.read_head()
        if sid is None:
            raise FileNotFoundError(f"no table at {self.root} (missing HEAD)")
        return self.load_snapshot(sid)

    def load_snapshot(self, sid: int) -> Snapshot:
        d = self.meta.get_manifest(sid)
        d["buckets"] = {int(k): v for k, v in d["buckets"].items()}
        d["deltas"] = {int(k): v for k, v in d.get("deltas", {}).items()}
        return Snapshot(**d)

    def snapshots(self) -> list[int]:
        return self.meta.list_manifest_ids()

    def snapshot_as_of(self, ts: float) -> Snapshot:
        """Latest PUBLISHED snapshot committed at or before `ts` (epoch
        seconds) — Iceberg's timestamp time travel, resolved from the
        manifests' own `committed_at` stamps (object stores don't preserve
        file mtimes; the manifest is the only trustworthy clock).
        Manifests predating the stamp are skipped."""
        head = self.meta.read_head()
        best: Snapshot | None = None
        for sid in self.snapshots():
            if head is None or sid > head:
                continue
            s = self.load_snapshot(sid)
            at = s.summary.get("committed_at")
            if at is not None and at <= ts and (
                    best is None or sid > best.snapshot_id):
                best = s
        if best is None:
            raise ValueError(
                f"no published snapshot committed at or before {ts} "
                f"(oldest retained may have been expired)")
        return best

    def _write_snapshot(self, snap: Snapshot, publish: bool = True) -> None:
        """Atomic commit: manifest created create-if-absent (single-writer
        guard, the engine's analogue of the reference's table-level job lock,
        BatchJobParameterHolder.java:44-53 — raises CommitConflict when a
        concurrent committer won this id), then HEAD flipped. Both
        primitives are the meta store's (metastore.py): POSIX locally,
        conditional PUT + CAS on an object store.

        `publish=False` stages the manifest WITHOUT flipping HEAD
        (write-audit-publish): the winning committer holds the id, readers
        keep seeing the parent, and `publish()`/`discard_staged()` decide
        its fate after the audit."""
        import time

        # every manifest carries its commit wall-clock (Iceberg
        # timestamp-ms): timestamp time travel (snapshot_as_of) and
        # age-based retention (expire_snapshots older_than_seconds) read
        # it from the manifest itself, never from file mtimes — which an
        # object store does not preserve
        snap.summary.setdefault("committed_at", round(time.time(), 3))
        d = dict(snap.__dict__)
        d["buckets"] = {str(k): v for k, v in snap.buckets.items()}
        d["deltas"] = {str(k): v for k, v in snap.deltas.items()}
        self.meta.put_manifest(snap.snapshot_id, d)
        if publish:
            self.meta.swap_head(snap.snapshot_id)

    # ---------- write-audit-publish ----------

    def staged_snapshots(self) -> list[int]:
        """Manifest ids committed but never published (id > HEAD): a
        pending audit, or an orphan left by a committer that died between
        stage and publish/discard."""
        head = self.meta.read_head()
        return [i for i in self.meta.list_manifest_ids()
                if head is None or i > head]

    def publish(self, sid: int) -> Snapshot:
        """Flip HEAD to a staged snapshot — the audit passed. Metadata-only
        (the data files were already in place at stage time, just
        unreachable); the monotone HEAD swap makes a duplicate publish of
        an already-published id a no-op."""
        head = self.meta.read_head()
        if sid <= (head if head is not None else -1):
            return self.load_snapshot(sid)  # already published
        snap = self.load_snapshot(sid)  # raises if never staged
        if snap.parent != head:
            raise CommitConflict(
                f"cannot publish {sid}: parent {snap.parent} is not HEAD "
                f"{head} (stage chains publish in order)")
        self.meta.swap_head(sid)
        return snap

    def discard_staged(self, sid: int | None = None) -> list[int]:
        """Drop staged (unpublished) snapshots — the audit failed, or a
        crashed committer left an orphan blocking the id sequence. Deletes
        each staged manifest plus any data dirs ONLY it references; returns
        the ids discarded. With `sid=None` discards every staged id EXCEPT
        those a branch ref still names (a live branch is not an abandoned
        audit — use `drop_branch` for those)."""
        import shutil

        head = self.meta.read_head()
        staged = self.staged_snapshots()
        if sid is None:
            reffed = set(self.meta.list_refs().values())
            todo = [i for i in staged if i not in reffed]
        else:
            todo = [sid]
        if sid is not None and sid not in staged:
            raise ValueError(f"snapshot {sid} is not staged "
                             f"(staged: {staged}, HEAD: {head})")
        live: set[str] = set()
        keep_ids = [i for i in self.meta.list_manifest_ids()
                    if i not in todo]
        for i in keep_ids:
            s = self.load_snapshot(i)
            live.update(s.buckets.values())
            for ds in s.deltas.values():
                live.update(ds)
        for i in sorted(todo, reverse=True):
            s = self.load_snapshot(i)
            dirs = set(s.buckets.values())
            for ds in s.deltas.values():
                dirs.update(ds)
            for d in dirs - live:
                p = os.path.join(self._datadir, d)
                if os.path.isdir(p):
                    shutil.rmtree(p)
            self.meta.delete_manifest(i)
        return sorted(todo)

    # ---------- read ----------

    def _dir_schema(self, dirname: str) -> T.StructType:
        with open(os.path.join(self._datadir, dirname, "_schema.json")) as f:
            return T.StructType.fromJson(json.load(f))

    def _resolve_name(self, name: str, renames: dict[str, str]) -> str:
        seen = set()
        while name in renames and name not in seen:
            seen.add(name)
            name = renames[name]
        return name

    def read(
        self,
        snapshot: Snapshot | None = None,
        buckets: Iterable[int] | None = None,
        include_deleted: bool = False,
        reduce: bool = True,
        columns: Iterable[str] | None = None,
        with_gen: bool = False,
        keys: DataFrame | None = None,
    ) -> DataFrame:
        """Read the table (optionally one snapshot / a bucket subset).

        Bucket pruning: only the requested buckets' directories are handed to
        the scan. Schema evolution: each data directory (base or delta) is
        one parquet scan with that directory's physical write-schema (so
        parquet footer pruning still works), and the scans are
        `unionByName`ed; old column names are mapped through the rename
        lineage, widened columns are cast, and missing (later-added)
        columns are filled with NULL — the same name-lineage trick Iceberg
        does with field ids.

        Merge-on-read: if any requested bucket carries delta dirs, base and
        delta rows are reduced to one row per key by max LSN (one hash
        aggregate with map-side combine). A fully-compacted table skips the
        aggregate entirely. `reduce=False` (compaction's fast path) returns
        the RAW base+delta union — per-key duplicates included — so the
        caller can fuse the LWW reduce with its own downstream partitioning
        instead of paying a second exchange; it implies include_deleted
        semantics for correctness (a caller that drops duplicates itself
        must see tombstones to drop the keys they beat).

        `columns`: scan-level projection. Catalyst prunes columns through
        plain plans automatically, but the merge-on-read reduce wraps EVERY
        column into its `max_by(struct(...))` — so a consumer selecting two
        columns of a delta-carrying table would still scan all of them.
        Passing `columns` builds the reduce struct over just the requested
        set (merge keys, LSN and the tombstone flag are always included —
        the reduce is not correct without them), which narrows ReadSchema
        at the parquet scan. At a 100-column table read for a 2-column
        verification, that is the difference between scanning 2% and 100%
        of the bytes.

        Equal-LSN determinism: the reduce orders by ``(lsn, dir_gen)`` —
        a row appended in a later delta dir beats a row at the same LSN
        from the base or an earlier delta (see `dir_gen`). Raw reads
        (`reduce=False`) whose caller performs its own LWW (compaction,
        OPTIMIZE) pass ``with_gen=True`` to receive the `_gen` column and
        must order by the same pair.

        `keys`: a DataFrame of merge-key rows (the key columns, by name);
        only rows of those keys are returned. The semi-join is applied to
        the raw base+delta union, BELOW the merge-on-read reduce: LWW
        groups by the full merge key, so dropping other keys' rows first
        cannot change a probed key's winner, and the reduce then shuffles
        only the probed keys' rows instead of every row of the read
        buckets. This is also what makes a `prune_deltas` snapshot safe
        to read. A broadcast hint is the caller's choice
        (operators/merge.probe gates it on the key count).
        """
        snap = snapshot or self.current()
        want = set(buckets) if buckets is not None else None
        # dir -> its buckets, honoring pruning; one scan per dir, deltas
        # included, the LWW reduce below resolves base-vs-delta winners
        dir_buckets: dict[str, list[int]] = {}
        has_delta = False
        for b, d in snap.buckets.items():
            if want is None or b in want:
                dir_buckets.setdefault(d, []).append(b)
        for b, dirs in snap.deltas.items():
            if (want is None or b in want) and dirs:
                has_delta = True
                for d in dirs:
                    dir_buckets.setdefault(d, []).append(b)

        out_schema = snap.schema()
        if columns is not None:
            lsn_col = snap.props.get("lsn_col", "lsn")
            need = list(dict.fromkeys(
                [*snap.key_cols, lsn_col, DELETED_COL, *columns]))
            missing = [c for c in need if c not in out_schema.names]
            if missing:
                raise ValueError(f"unknown columns {missing} "
                                 f"(schema: {out_schema.names})")
            out_schema = T.StructType(
                [f for f in out_schema.fields if f.name in need])
        out_cols = [f.name for f in out_schema.fields]
        need_gen = (has_delta and reduce) or with_gen
        parts: list[DataFrame] = []
        for d, bs in sorted(dir_buckets.items()):
            phys = self._dir_schema(d)
            paths = [
                os.path.join(self._datadir, d, f"{BUCKET_COL}={b}") for b in sorted(bs)
            ]
            paths = [p for p in paths if os.path.exists(p)]
            if not paths:
                continue
            df = self.spark.read.schema(phys).parquet(*paths)
            # no cast, alias or projection that changes nothing: each one
            # built here is driver time paid per dir on every read
            sel = []
            phys_current = {self._resolve_name(f.name, snap.renames): f
                            for f in phys.fields}
            for f in out_schema.fields:
                pf = phys_current.get(f.name)
                if pf is None:  # added after this dir was written
                    sel.append(F.lit(None).cast(f.dataType).alias(f.name))
                elif pf.dataType != f.dataType:  # widened
                    sel.append(F.col(pf.name).cast(f.dataType).alias(f.name))
                elif pf.name != f.name:  # renamed
                    sel.append(F.col(pf.name).alias(f.name))
                else:
                    sel.append(f.name)
            if need_gen:
                sel.append(F.lit(dir_gen(d)).alias(GEN_COL))
            identity = all(isinstance(c, str) for c in sel) and sel == phys.names
            parts.append(df if identity else df.select(*sel))
        if not parts:
            read_schema = out_schema
            if need_gen:
                read_schema = T.StructType(
                    list(out_schema.fields)
                    + [T.StructField(GEN_COL, T.IntegerType(), False)])
            df = self.spark.createDataFrame([], read_schema)
        else:
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
        if keys is not None:
            df = df.join(keys, list(snap.key_cols), "left_semi")
        if has_delta and reduce:
            lsn_col = snap.props.get("lsn_col", "lsn")
            # carry GEN_COL through the winner struct when the caller asked
            # for it — previously a delta-carrying read silently dropped an
            # explicit with_gen=True request on the reduce path
            win_cols = out_cols + ([GEN_COL] if with_gen else [])
            winner = F.max_by(
                F.struct(*[F.col(c) for c in win_cols]),
                F.struct(F.col(lsn_col), F.col(GEN_COL)),
            ).alias("_w")
            df = df.groupBy(*snap.key_cols).agg(winner).select("_w.*")
        if not reduce:
            return df.withColumn(
                BUCKET_COL, bucket_expr(snap.layout_cols(), snap.n_buckets)
            )
        if include_deleted:
            # bucket id is derived, not stored: recomputing the key hash is
            # cheaper and safer than parquet partition-dir discovery
            return df.withColumn(
                BUCKET_COL, bucket_expr(snap.layout_cols(), snap.n_buckets)
            )
        return df.where(~F.col(DELETED_COL)).drop(DELETED_COL)

    # ---------- write ----------

    def write_buckets(
        self,
        df: DataFrame,
        affected: list[int],
        new_buckets_dir: str | None = None,
        salt_factor: int = 1,
        write_schema: T.StructType | None = None,
        sort: bool = True,
        pre_partitioned: bool = False,
    ) -> str:
        """Write `df` (which must carry BUCKET_COL and DELETED_COL) as the new
        content of `affected` buckets under one new snap dir; returns dir name.

        `salt_factor` > 1 splits each bucket into several writer tasks/files —
        explicit hot-bucket skew handling for the copy-on-write path.
        `pre_partitioned=True` asserts the caller already hash-distributed the
        frame by (bucket, salt) so this write adds NO extra exchange.
        """
        dirname = new_buckets_dir or f"snap-{uuid.uuid4().hex[:12]}"
        out = os.path.join(self._datadir, dirname)
        schema = write_schema or df.drop(BUCKET_COL).schema
        # Partition by (bucket, salt) WITHOUT a fixed partition count: AQE
        # coalesces the shuffle to the data size, so a small batch writes a
        # few files while a hot bucket still fans out across salt_factor
        # writer tasks. A fixed n_buckets*salt_factor count over-schedules
        # small batches and under-parallelizes huge ones.
        snap = self.current()
        if pre_partitioned:
            # caller guarantees df is already hash-distributed by
            # (bucket, key-salt) AND sorted within partitions leading with
            # BUCKET_COL (e.g. the window-dedup plan, whose one exchange
            # this write reuses) — adding a repartition here would pay a
            # second full shuffle for nothing
            part = df
        elif salt_factor > 1:
            keys = [c for c in snap.key_cols if c in df.columns]
            salt_src = keys or [c for c in df.columns if c != BUCKET_COL][:2]
            salt = F.pmod(F.xxhash64(*[F.col(c) for c in salt_src], F.lit("salt")),
                          F.lit(salt_factor))
            part = df.repartition(F.col(BUCKET_COL), salt)
        else:
            part = df.repartition(F.col(BUCKET_COL))
        # Key-sorted files: each writer task sorts its slice by the merge
        # key, so every parquet file carries ordered row-group min/max stats
        # on the key columns — point lookups and semi-join replays skip row
        # groups instead of scanning the whole bucket. Off via table prop
        # write_sort=none for pure-append throughput workloads.
        # Key-sorted files, LSM-style: callers writing LONG-LIVED files
        # (cow rewrite, compaction, rebucket) sort; the MOR delta append
        # passes sort=False — deltas are small, short-lived (folded at
        # compact_threshold) and write-hot, so paying ~10% sort cost there
        # buys nothing (measured A/B in BENCH.md).
        # The sort MUST lead with BUCKET_COL: the dynamic-partition writer
        # requires its output ordered by the partition column and inserts
        # its own (non-stable) sort when the child ordering doesn't already
        # satisfy that — which would scramble a keys-only secondary sort
        # whenever a task holds rows of several buckets (always true under
        # salting). Leading with BUCKET_COL makes the writer skip its sort.
        # write_sort prop: "keys" (default) sorts by the merge key;
        # "cols:a,b" = clustering keys — prepend arbitrary columns to the
        # sort so row-group min/max stats are tight on NON-key predicates
        # too (the Delta OPTIMIZE ZORDER use case; at 1-2 clustering
        # columns a lexicographic sort skips strictly better than a
        # space-filling curve). The merge key still follows, keeping
        # point-lookup pruning; "none" opts out entirely.
        sort_keys = [c for c in snap.key_cols if c in df.columns]
        ws = snap.props.get("write_sort", "keys")
        cluster = ([c.strip() for c in ws[5:].split(",")
                    if c.strip() and c.strip() in df.columns]
                   if ws.startswith("cols:") else [])
        # write_sort=zorder:a,b — Morton-interleaved clustering for scans
        # that filter on EITHER column (tables/zorder.py): the z-value
        # leads the in-task sort, the merge key still follows for point-
        # lookup pruning. Stats pass + interleave only on sorted writes
        # (cow/compaction) — MOR delta appends pass sort=False, so the
        # LSM rule "cluster at compaction, not on the apply hot path"
        # holds by construction. NOTE the stats pass re-executes `df`'s
        # plan once: cheap for compaction (a raw re-read), but a cow
        # merge would run its LWW aggregate twice — prefer zorder on
        # MOR + compaction tables, which is where long-lived files are
        # made anyway.
        zlead = []
        if sort and ws.startswith("zorder:"):
            from data_migration_service_spark.tables.zorder import zorder_key

            zcols = [c.strip() for c in ws[7:].split(",")
                     if c.strip() and c.strip() in df.columns]
            if zcols:
                zlead = [zorder_key(df, zcols)]
        if sort and ws != "none" and (sort_keys or cluster or zlead):
            part = part.sortWithinPartitions(BUCKET_COL, *zlead, *cluster,
                                             *sort_keys)
        w = part.write.mode("overwrite")
        # Target file size: a writer task owning a huge (bucket, salt)
        # slice would otherwise emit ONE parquet file of that size — at
        # 100 TB that breaks object-store part limits and caps read
        # parallelism at file count. `target_file_rows` rolls the writer
        # to a new file every N rows (Spark's maxRecordsPerFile); the
        # sort above still holds per file (rolling preserves task order).
        tfr = snap.props.get("target_file_rows")
        if tfr:
            w = w.option("maxRecordsPerFile", int(tfr))
        (w.partitionBy(BUCKET_COL).parquet(out))
        # parquet partitionBy drops BUCKET_COL from files; record the physical
        # file schema (without the partition col)
        phys = T.StructType([f for f in schema.fields if f.name != BUCKET_COL])
        with open(os.path.join(out, "_schema.json"), "w") as f:
            json.dump(phys.jsonValue(), f)
        return dirname

    def bucket_paths(self, dirname: str, buckets: Iterable[int]) -> list[str]:
        """Existing `_bucket=N` partition paths of one data dir."""
        paths = [
            os.path.join(self._datadir, dirname, f"{BUCKET_COL}={b}")
            for b in sorted(buckets)
        ]
        return [p for p in paths if os.path.exists(p)]

    # ---------- per-dir statistics sidecar (file skipping) ----------
    #
    # Delta dirs accumulate between compactions; a point lookup that has
    # already pruned to one bucket still opens base + EVERY delta dir of
    # that bucket. The `_stats.json` sidecar written next to a delta dir's
    # data records, per bucket: row count, LSN range, and a small Bloom
    # filter over the merge-key hashes — so the DRIVER can drop delta dirs
    # that cannot contain a probed key (or an LSN range) before any scan
    # is planned. The manifest itself stays O(n_buckets): blooms live in
    # the dirs (the Iceberg puffin-file pattern), read only for the
    # buckets an operation actually touches. A missing sidecar (old dirs,
    # cow bases) simply disables skipping for that dir — never wrong,
    # just unpruned.

    def write_dir_stats(self, dirname: str, stats: dict) -> None:
        """Persist a dir's stats sidecar. Called by the writer BEFORE the
        manifest referencing the dir commits — like the data files, the
        sidecar is immutable and unreachable until the commit."""
        with open(os.path.join(self._datadir, dirname, "_stats.json"), "w") as f:
            json.dump(stats, f)

    def load_dir_stats(self, dirname: str) -> dict | None:
        p = os.path.join(self._datadir, dirname, "_stats.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def prune_deltas(
        self,
        snap: Snapshot,
        buckets: Iterable[int],
        key_hashes: Iterable[tuple[int, int]] | None = None,
        lsn_min: int | None = None,
        lsn_max: int | None = None,
    ) -> Snapshot:
        """Return a copy of `snap` whose delta lists (for `buckets` only)
        drop dirs that provably contain none of the probed keys / none of
        the LSN interval — driver-side metadata, no Spark job.

        `key_hashes` are raw `(xxhash64(keys), xxhash64(keys,'bloom2'))`
        pairs (collected by `operators.merge.probe`); each
        dir's Bloom is tested at ITS OWN recorded bit width, so tables
        whose `bloom_bits` changed over time prune correctly. Bloom
        membership has no false negatives: a dir holding a probed key is
        never dropped, so a read of the pruned snapshot returns exactly
        the same rows FOR THE PROBED KEYS. Rows of other keys may lose
        their delta winners — callers MUST read the pruned snapshot
        with `read(keys=)`, as every targeted path does.
        """
        import copy

        pruned = copy.copy(snap)
        pruned.deltas = dict(snap.deltas)
        hashes = list(key_hashes) if key_hashes is not None else None
        cache: dict[str, dict | None] = {}
        for b in buckets:
            dirs = snap.deltas.get(b)
            if not dirs:
                continue
            keep = []
            for d in dirs:
                if d not in cache:
                    cache[d] = self.load_dir_stats(d)
                st = cache[d]
                bs = (st or {}).get("buckets", {}).get(str(b))
                if st is None or bs is None:
                    keep.append(d)  # no stats -> cannot skip
                    continue
                if lsn_min is not None and bs.get("lsn_max") is not None \
                        and bs["lsn_max"] < lsn_min:
                    continue
                if lsn_max is not None and bs.get("lsn_min") is not None \
                        and bs["lsn_min"] > lsn_max:
                    continue
                if hashes is not None and bs.get("bloom"):
                    m = st.get("bloom_bits", 0)
                    words = [int(w, 16) for w in bs["bloom"]]
                    if m and not any(
                        all(words[(h % m) // 64] >> ((h % m) % 64) & 1
                            for h in pair)
                        for pair in hashes
                    ):
                        continue
                keep.append(d)
            pruned.deltas[b] = keep
        return pruned

    def dir_lineage(self, dirname: str, lsn_col: str = "lsn") -> dict[int, dict]:
        """Per-bucket lineage of one data dir from parquet FOOTERS only:
        rows + LSN range per `_bucket=N` partition. Driver-side metadata
        reads — no data scan, no Spark job. This is how a single-pass merge
        discovers its affected-bucket set after the write."""
        import pyarrow.parquet as pq

        out: dict[int, dict] = {}
        base = os.path.join(self._datadir, dirname)
        for d in os.listdir(base):
            if not d.startswith(f"{BUCKET_COL}="):
                continue
            b = int(d.split("=", 1)[1])
            rows, lo, hi = 0, None, None
            for fn in os.listdir(os.path.join(base, d)):
                if not fn.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(os.path.join(base, d, fn)).metadata
                rows += md.num_rows
                idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
                if lsn_col in idx:
                    ci = idx[lsn_col]
                    for rg in range(md.num_row_groups):
                        st = md.row_group(rg).column(ci).statistics
                        if st is not None and st.has_min_max:
                            lo = st.min if lo is None else min(lo, st.min)
                            hi = st.max if hi is None else max(hi, st.max)
            if rows:
                out[b] = {"rows": rows, "lsn_min": lo, "lsn_max": hi}
        return out

    def _rebase_keep(
        self,
        base: Snapshot,
        cur: Snapshot,
        rewritten: dict[int, str],
        dropped: list[int],
        delta_append: dict[int, str] | None,
        schema: T.StructType | None,
        renames_update: dict[str, str] | None,
        props_update: dict[str, str] | None,
    ) -> dict[int, list[str]]:
        """Decide whether a commit derived from `base` may re-apply on top of
        `cur` (HEAD moved under us) — Iceberg-style optimistic retry with
        conflict detection. Raises CommitConflict when the concurrent commits
        invalidated our work; otherwise returns, per bucket we REWRITE, the
        delta dirs appended concurrently that the rebased snapshot must keep
        (our rewrite folded only `base`'s deltas, not theirs).

        The check diffs `base` against `cur` directly — what matters is
        whether the state we derived from still holds for the buckets we
        touch, not the path HEAD took to get here (a rollback that restored
        exactly our base state is genuinely safe to commit over).

        Safety matrix per bucket:
        - we REWRITE b: safe iff b's base dir is unchanged; concurrent delta
          appends are preserved (returned in the keep map) — LWW-by-LSN at
          read time makes a newer delta over our rewritten base correct,
          which is exactly what lets background compaction commute with
          streaming ingest;
        - we DROP b: safe only if b is completely untouched (a concurrent
          append we'd silently discard is data loss);
        - we APPEND a delta to b: safe over any concurrent rewrite (the
          append is strictly newer events), unsafe if b was dropped
          (appending would resurrect a truncated/deleted bucket).

        Structural changes (bucket count, merge key) and explicit
        schema/rename updates racing a concurrent schema change always
        conflict. An epoch-tagged commit conflicts if HEAD's epoch already
        reached ours — the exactly-once guard survives the retry loop.
        """
        if cur.n_buckets != base.n_buckets or cur.key_cols != base.key_cols:
            raise CommitConflict(
                f"cannot rebase: table layout changed (n_buckets "
                f"{base.n_buckets}->{cur.n_buckets}, key_cols "
                f"{base.key_cols}->{cur.key_cols})")
        if schema is not None and cur.schema_json != base.schema_json:
            raise CommitConflict(
                "cannot rebase: explicit schema update races a concurrent "
                "schema change")
        if renames_update and cur.renames != base.renames:
            raise CommitConflict(
                "cannot rebase: rename update races a concurrent rename")
        for k, v in (props_update or {}).items():
            # every exactly-once counter ("epoch" and any namespaced
            # "epoch.<writer_id>") survives the retry loop: a rebased
            # commit must not re-apply an epoch its writer already landed
            if k == "epoch" or k.startswith("epoch."):
                if int(cur.props.get(k, "-1")) >= int(v):
                    raise CommitConflict(
                        f"{k}={v} already committed by a concurrent writer "
                        f"(HEAD {k}={cur.props.get(k)})")
        keep: dict[int, list[str]] = {}
        for b in set(rewritten) | set(dropped):
            if cur.buckets.get(b) != base.buckets.get(b):
                raise CommitConflict(
                    f"cannot rebase: bucket {b} was rewritten/dropped by a "
                    f"concurrent commit")
            bd = base.deltas.get(b, [])
            cd = cur.deltas.get(b, [])
            if cd != bd:
                if cd[: len(bd)] != bd:
                    raise CommitConflict(
                        f"cannot rebase: bucket {b} delta log diverged "
                        f"(not an append extension of ours)")
                if b in dropped:
                    raise CommitConflict(
                        f"cannot rebase: bucket {b} received concurrent "
                        f"deltas but this commit drops it")
                keep[b] = cd[len(bd):]
        for b in (delta_append or {}):
            base_has = b in base.buckets or base.deltas.get(b)
            cur_has = b in cur.buckets or cur.deltas.get(b)
            if base_has and not cur_has:
                raise CommitConflict(
                    f"cannot rebase: bucket {b} was dropped concurrently; "
                    f"refusing to append into it")
        return keep

    def commit(
        self,
        operation: str,
        rewritten: dict[int, str],
        dropped_buckets: Iterable[int] = (),
        schema: T.StructType | None = None,
        renames_update: dict[str, str] | None = None,
        props_update: dict[str, str] | None = None,
        summary: dict[str, Any] | None = None,
        expected_parent: int | None = None,
        delta_append: dict[int, str] | None = None,
        publish: bool = True,
        max_retries: int = 0,
    ) -> Snapshot:
        """Commit a new snapshot: parent's bucket map + rewrites - drops.

        `publish=False` stages the snapshot without flipping HEAD
        (write-audit-publish): readers keep the parent until `publish()`.

        `delta_append` appends one delta dir per bucket (merge-on-read
        append). A bucket in `rewritten` had its full merged state rewritten
        (copy-on-write or compaction), so its delta list is cleared — except
        delta dirs appended by commits we rebased over, which are kept.

        `expected_parent` gives optimistic concurrency: commit fails if HEAD
        moved since the caller read it. With `max_retries` > 0 a conflicting
        commit is not immediately fatal: the committer re-validates against
        the new HEAD (`_rebase_keep`) and, when the concurrent commits
        touched disjoint state, re-applies on top of it — so two writers on
        disjoint buckets, or compaction racing delta appends, both succeed
        without recomputing anything. A real overlap still raises.
        """
        import time

        dropped = list(dropped_buckets)
        base: Snapshot | None = None
        if expected_parent is not None:
            try:
                base = self.load_snapshot(expected_parent)
            except FileNotFoundError:
                base = None  # expired: conflicts become non-rebasable
        attempts = 0
        while True:
            cur = self.current()
            keep: dict[int, list[str]] = {}
            if expected_parent is not None and cur.snapshot_id != expected_parent:
                if attempts >= max_retries or base is None:
                    raise CommitConflict(
                        f"concurrent commit: HEAD={cur.snapshot_id}, "
                        f"expected {expected_parent}"
                    )
                attempts += 1
                keep = self._rebase_keep(base, cur, rewritten, dropped,
                                         delta_append, schema,
                                         renames_update, props_update)
                expected_parent = cur.snapshot_id
            buckets = dict(cur.buckets)
            for b in dropped:
                buckets.pop(b, None)
            buckets.update(rewritten)
            deltas = {b: list(ds) for b, ds in cur.deltas.items()}
            for b in rewritten:
                deltas.pop(b, None)
                if keep.get(b):
                    deltas[b] = list(keep[b])
            for b in dropped:
                deltas.pop(b, None)
            for b, d in (delta_append or {}).items():
                deltas.setdefault(b, []).append(d)
            deltas = {b: ds for b, ds in deltas.items() if ds}
            snap = Snapshot(
                snapshot_id=cur.snapshot_id + 1,
                parent=cur.snapshot_id,
                schema_json=(schema or cur.schema()).jsonValue(),
                n_buckets=cur.n_buckets,
                key_cols=cur.key_cols,
                buckets=buckets,
                renames={**cur.renames, **(renames_update or {})},
                props={**cur.props, **(props_update or {})},
                summary={"operation": operation, **(summary or {})},
                deltas=deltas,
                bucket_cols=cur.bucket_cols,
            )
            try:
                self._write_snapshot(snap, publish=publish)
                return snap
            except CommitConflict:
                # lost the manifest-id race. Either HEAD moved (next loop
                # iteration re-reads and rebases) or a STAGED manifest
                # occupies the id while HEAD stands still — a pending audit
                # no retry can get past.
                attempts += 1
                if attempts > max_retries:
                    raise
                time.sleep(0.05)  # let a mid-flip winner finish its HEAD swap
                if self.meta.read_head() == cur.snapshot_id:
                    staged = [i for i in self.meta.list_manifest_ids()
                              if i > cur.snapshot_id]
                    raise CommitConflict(
                        f"snapshot {snap.snapshot_id} blocked by staged "
                        f"(unpublished) snapshots {staged}: publish or "
                        f"discard them first")

    # ---------- DDL (metadata-only, no rewrite) ----------

    def set_props(self, **props: str) -> Snapshot:
        """Metadata-only property commit (ALTER TABLE SET TBLPROPERTIES):
        layout knobs (`write_sort`, `target_file_rows`, `constraints`, ...)
        change for FUTURE writes; existing files keep their layout until
        the next rewrite (`operators.merge.rewrite_buckets` re-clusters)."""
        return self.commit("set-props", {},
                           props_update={k: str(v) for k, v in props.items()})

    def add_column(self, name: str, dtype: T.DataType) -> Snapshot:
        cur = self.current()
        schema = cur.schema()
        if name in schema.names:
            return cur
        if f"dropped.{name}" in cur.props:
            # name-lineage (not field-id) schema mapping: re-adding a
            # dropped name would resurface the old physical values still
            # sitting in pre-drop files. Same restriction as Delta Lake
            # without column mapping; pick a fresh name instead.
            raise ValueError(
                f"column name '{name}' was dropped at snapshot "
                f"{cur.props[f'dropped.{name}']} and cannot be re-added "
                f"(old files still hold its values); use a new name")
        fields = list(schema.fields)
        # engine meta cols stay last
        meta = [f for f in fields if f.name in META_COLS]
        data = [f for f in fields if f.name not in META_COLS]
        new = T.StructType(data + [T.StructField(name, dtype, True)] + meta)
        return self.commit("add_column", {}, schema=new,
                           summary={"column": name, "type": dtype.simpleString()})

    # value-preserving widenings (Iceberg's allowed type promotions),
    # keyed by DataType.simpleString() names
    _WIDEN_OK = {
        ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
        ("smallint", "int"), ("smallint", "bigint"),
        ("int", "bigint"),
        ("float", "double"),
        ("date", "timestamp"),
    }

    def widen_column(self, name: str, new_type: T.DataType) -> Snapshot:
        """Widen a column's type (int→long, float→double, …) — metadata-only
        commit, no rewrite: `read()` already casts each data dir's physical
        schema to the snapshot's logical schema, so files written before the
        widening keep their narrow physical type and widen at scan time
        (exactly Iceberg's type-promotion rule). Narrowing or any lossy
        change is refused — that needs a rewrite the caller must opt into."""
        cur = self.current()
        schema = cur.schema()
        if name not in schema.names:
            raise ValueError(f"no such column: {name}")
        old_t = schema[name].dataType
        if old_t == new_type:
            return cur
        pair = (old_t.simpleString(), new_type.simpleString())
        if pair not in self._WIDEN_OK:
            raise ValueError(
                f"refusing lossy type change {pair[0]} -> {pair[1]} for "
                f"'{name}' (allowed: {sorted(self._WIDEN_OK)})")
        fields = [
            T.StructField(f.name, new_type if f.name == name else f.dataType,
                          f.nullable)
            for f in schema.fields
        ]
        return self.commit(
            "widen_column", {}, schema=T.StructType(fields),
            summary={"column": name, "from": pair[0], "to": pair[1]},
        )

    def rename_column(self, old: str, new: str) -> Snapshot:
        cur = self.current()
        schema = cur.schema()
        if old not in schema.names:
            if new in schema.names:  # already applied
                return cur
            raise ValueError(f"no such column: {old}")
        fields = [
            T.StructField(new, f.dataType, f.nullable) if f.name == old else f
            for f in schema.fields
        ]
        return self.commit(
            "rename_column", {}, schema=T.StructType(fields),
            renames_update={old: new}, summary={"from": old, "to": new},
        )

    def drop_column(self, name: str) -> Snapshot:
        """Drop a data column — metadata-only, no rewrite. The values stay
        physically in already-written files (readers simply never project
        them) and disappear for real as compaction / copy-on-write rewrite
        those files with the current schema. Merge keys, the LSN column
        and engine meta columns are not droppable. The name is retired
        permanently (see add_column): name-lineage mapping cannot tell a
        re-added 'x' from the dropped one inside pre-drop files."""
        cur = self.current()
        schema = cur.schema()
        if name not in schema.names:
            if f"dropped.{name}" in cur.props:  # already applied
                return cur
            raise ValueError(f"no such column: {name}")
        protected = set(cur.key_cols) | set(META_COLS) \
            | {cur.props.get("lsn_col", "lsn")}
        if name in protected:
            raise ValueError(f"cannot drop '{name}': merge key, LSN or "
                             f"engine meta column")
        fields = [f for f in schema.fields if f.name != name]
        return self.commit(
            "drop_column", {}, schema=T.StructType(fields),
            props_update={f"dropped.{name}": str(cur.snapshot_id)},
            summary={"column": name},
        )

    # ---------- maintenance ----------

    def rebucket(self, new_n_buckets: int, salt_factor: int = 1) -> Snapshot:
        """Change the bucket count (layout evolution): full rewrite of the
        merged table into `new_n_buckets` hash buckets. The 100 TB concern
        this serves: a table created at 1k buckets that grew 100x has ~600 GB
        buckets — too coarse for bucket-granular copy-on-write and pruning.
        One rewrite re-spreads it; all snapshots after it prune on the new
        layout (old snapshots keep reading their own)."""
        cur = self.current()
        if new_n_buckets == cur.n_buckets:
            return cur
        df = self.read(snapshot=cur, include_deleted=True).drop(BUCKET_COL)
        df = df.withColumn(BUCKET_COL,
                           bucket_expr(cur.layout_cols(), new_n_buckets))
        dirname = self.write_buckets(df, list(range(new_n_buckets)),
                                     salt_factor=salt_factor,
                                     write_schema=cur.schema())
        lineage = self.dir_lineage(dirname, cur.props.get("lsn_col", "lsn"))
        snap = Snapshot(
            snapshot_id=cur.snapshot_id + 1,
            parent=cur.snapshot_id,
            schema_json=cur.schema_json,
            n_buckets=new_n_buckets,
            key_cols=cur.key_cols,
            buckets={b: dirname for b in lineage},
            renames=cur.renames,
            props=cur.props,
            summary={"operation": "rebucket", "from": cur.n_buckets,
                     "to": new_n_buckets},
            deltas={},
            bucket_cols=cur.bucket_cols,
        )
        self._write_snapshot(snap)
        return snap

    def truncate(self) -> Snapshot:
        """Atomic TRUNCATE (reference DataCleanupService.java:64-106): next
        snapshot simply references no buckets. Old data removed by expire.
        Drops delta-only buckets too — a freshly-MOR-written table keeps all
        its data in `deltas` with an empty base map."""
        cur = self.current()
        return self.commit(
            "truncate", {},
            dropped_buckets=sorted(set(cur.buckets) | set(cur.deltas)),
        )

    def rollback(self, sid: int) -> Snapshot:
        """Roll the table back to snapshot `sid` — METADATA ONLY, like
        Iceberg's rollback: a NEW snapshot is committed whose bucket/delta
        manifest, schema, and props (including the epoch tag) are the old
        snapshot's, so the ledger stays forward-only and auditable and no
        data moves. Replay resumes from that epoch: the exactly-once guard
        keys off the restored epoch tag, so re-applying later epochs is a
        normal forward replay, not a special path.

        The rolled-back-over snapshots' data dirs stay referenced by the
        retained manifests until `expire_snapshots` drops them — rollback
        never deletes anything."""
        cur = self.current()
        old = self.load_snapshot(sid)
        snap = Snapshot(
            snapshot_id=cur.snapshot_id + 1,
            parent=cur.snapshot_id,
            schema_json=old.schema_json,
            n_buckets=old.n_buckets,
            key_cols=old.key_cols,
            buckets=dict(old.buckets),
            renames=dict(old.renames),
            props=dict(old.props),
            summary={"operation": "rollback", "to_snapshot": sid},
            deltas={b: list(d) for b, d in old.deltas.items()},
            bucket_cols=old.bucket_cols,
        )
        self._write_snapshot(snap)
        return snap

    # ---------- tags (named refs) ----------

    def tag(self, name: str, sid: int | None = None) -> int:
        """Pin a PUBLISHED snapshot under an immutable name (Iceberg tag):
        `expire_snapshots` keeps a tagged snapshot and its data alive no
        matter how old it gets, and `read(snapshot=t.snapshot_for_tag(n))`
        reproduces exactly that state. This is how a training run records
        "the corpus I consumed": tag at kickoff, and the read stays
        byte-stable across any amount of later ingest/compaction/expiry.

        Tags are immutable (create-if-absent through the meta store — the
        same primitive as the commit lock, so two racing taggers of one
        name elect one winner on any store); retag = `drop_tag` + `tag`.
        Staged (unpublished) ids are refused: pin audits with WAP, not
        tags."""
        head = self.meta.read_head()
        sid = sid if sid is not None else head
        if sid is None or head is None or sid > head:
            raise ValueError(f"cannot tag unpublished snapshot {sid} "
                             f"(HEAD: {head})")
        if sid not in self.meta.list_manifest_ids():
            raise ValueError(f"snapshot {sid} does not exist")
        if name.startswith("branch."):
            raise ValueError("the 'branch.' ref namespace is reserved "
                             "for branches (create_branch)")
        self.meta.put_ref(name, sid)
        return sid

    def tags(self) -> dict[str, int]:
        return {n: s for n, s in self.meta.list_refs().items()
                if not n.startswith("branch.")}

    def drop_tag(self, name: str) -> None:
        self.meta.delete_ref(name)

    def snapshot_for_tag(self, name: str) -> Snapshot:
        sid = self.meta.get_ref(name)
        if sid is None:
            raise KeyError(f"no tag {name!r} (tags: {sorted(self.tags())})")
        return self.load_snapshot(sid)

    def expire_snapshots(self, keep_last: int = 2,
                         orphan_grace_seconds: float = 86400.0,
                         older_than_seconds: float | None = None) -> list[str]:
        """Drop manifests older than the newest `keep_last` PUBLISHED
        snapshots and delete data dirs no surviving snapshot references
        (Iceberg expire_snapshots). Staged (unpublished) ids are never
        expired — they are pending audits; use `discard_staged` for those.
        Tagged ids are never expired either — a tag is a promise that the
        read stays reproducible (drop the tag to release it).

        Two deletion classes, distinguished on purpose:
        - dirs referenced ONLY by the manifests being dropped: committed
          data whose last reader just expired — deleted immediately;
        - dirs referenced by NO manifest at all (orphans): either debris
          of a crashed writer, or — the dangerous case — a LIVE writer's
          output created between `write_buckets` and its `commit`. Deleted
          only when older than `orphan_grace_seconds` (Iceberg's
          remove-orphan-files rule); a fresh unreferenced dir is presumed
          in-flight and left alone, so maintenance can run concurrently
          with ingestion without eating an uncommitted epoch."""
        import shutil
        import time

        head = self.meta.read_head()
        ids = self.snapshots()
        published = [i for i in ids if head is not None and i <= head]
        keep = (set(published[-keep_last:])
                | {i for i in ids if i not in published}
                | {sid for sid in self.meta.list_refs().values()
                   if sid in ids})
        if older_than_seconds is not None:
            # age-based retention (Iceberg expireSnapshots olderThan):
            # only manifests whose committed_at is older than the cutoff
            # may go; `keep_last` still floors what survives
            cutoff = time.time() - older_than_seconds
            for i in published:
                at = self.load_snapshot(i).summary.get("committed_at")
                if at is None or at >= cutoff:
                    keep.add(i)
        live_dirs: set[str] = set()
        ever_referenced: set[str] = set()
        for sid in ids:
            s = self.load_snapshot(sid)
            dirs = set(s.buckets.values())
            for ds in s.deltas.values():
                dirs.update(ds)
            ever_referenced.update(dirs)
            if sid in keep:
                live_dirs.update(dirs)
        removed = []
        for sid in ids:
            if sid not in keep:
                self.meta.delete_manifest(sid)
        now = time.time()
        for d in os.listdir(self._datadir):
            if not d.startswith(("snap-", "delta-")) or d in live_dirs:
                continue
            p = os.path.join(self._datadir, d)
            if d not in ever_referenced:  # orphan: grace-gate the delete
                try:
                    if now - os.path.getmtime(p) < orphan_grace_seconds:
                        continue
                except OSError:
                    continue
            shutil.rmtree(p)
            removed.append(d)
        return removed

    def remove_unreferenced_bucket_dirs(self) -> list[str]:
        """Sub-dir GC below `expire_snapshots`'s granularity. Dir-level
        expiry keeps a data dir alive while ANY retained manifest maps ANY
        bucket into it — so `_bucket=N` subdirs that no manifest maps to
        that dir anymore (their buckets were since rewritten elsewhere)
        keep their bytes on storage. Space reclaim rarely cares (the next
        compaction folds the dir away); compliance erasure does: after a
        hard delete + history expiry, the erased rows' last physical copies
        sit in exactly these unreferenced subdirs. Removes every bucket
        subdir no manifest (published, staged, or branch-reachable) maps;
        returns the removed `dir/_bucket=N` relative paths. Metadata-driven
        fs walk only — no data is read."""
        import shutil

        live: dict[str, set[int]] = {}
        for sid in self.snapshots():
            s = self.load_snapshot(sid)
            for b, d in s.buckets.items():
                live.setdefault(d, set()).add(b)
            for b, ds in s.deltas.items():
                for d in ds:
                    live.setdefault(d, set()).add(b)
        removed: list[str] = []
        for d, buckets in live.items():
            base = os.path.join(self._datadir, d)
            if not os.path.isdir(base):
                continue
            for sub in os.listdir(base):
                if (sub.startswith(f"{BUCKET_COL}=")
                        and int(sub.split("=", 1)[1]) not in buckets):
                    shutil.rmtree(os.path.join(base, sub))
                    removed.append(f"{d}/{sub}")
        return removed

    def clone_to(self, dest_root: str, snapshot: Snapshot | None = None,
                 mode: str = "link",
                 meta_store: MetaStore | None = None) -> "SnapshotTable":
        """Fork the table (any published snapshot of it) into an INDEPENDENT
        table at `dest_root` — Delta clone / Iceberg register-table. Where a
        branch is a staged lineage that blocks main until settled, a clone
        has its own metadata, its own lineage, its own GC: rehearsal
        migrations, dev sandboxes, and corpus forks that outlive an audit
        all want this shape.

        `mode='link'` (default) hard-links every referenced data file —
        zero-copy, O(files) metadata ops. This is SAFE because data files
        are immutable by construction (writers create new dirs, never
        mutate): either table expiring/erasing its copy merely unlinks,
        while the other's link keeps the bytes alive. On an object store
        the same call maps to server-side copy (no hard links there);
        `mode='copy'` forces a byte copy anywhere. Cross-device links fall
        back to copy automatically.

        The clone's ledger restarts at snapshot 1 (parent None) carrying
        the source snapshot's schema/layout/renames/props verbatim —
        including the exactly-once epoch counters, so replaying an epoch
        the source already applied is still skipped on the clone (fork of
        a CDC target keeps its dedup guarantee). Tags/branches do NOT
        carry over: they are promises about the SOURCE's ledger."""
        import shutil

        if mode not in ("link", "copy"):
            raise ValueError(f"unknown clone mode: {mode}")
        if SnapshotTable.exists(dest_root):
            raise ValueError(f"destination already exists: {dest_root}")
        snap = snapshot or self.current()
        head = self.meta.read_head()
        if head is None or snap.snapshot_id > head:
            raise ValueError("cannot clone a staged (unpublished) snapshot")

        dest = SnapshotTable(self.spark, dest_root, meta_store=meta_store)
        dest.meta.ensure_layout()
        os.makedirs(dest._datadir, exist_ok=True)

        def _link_or_copy(src: str, dst: str) -> None:
            if mode == "copy":
                shutil.copy2(src, dst)
                return
            try:
                os.link(src, dst)
            except OSError:  # cross-device / fs without hard links
                shutil.copy2(src, dst)

        dirs = set(snap.buckets.values())
        for ds in snap.deltas.values():
            dirs.update(ds)
        for d in sorted(dirs):
            shutil.copytree(os.path.join(self._datadir, d),
                            os.path.join(dest._datadir, d),
                            copy_function=_link_or_copy)
        clone = Snapshot(
            snapshot_id=1,
            parent=None,
            schema_json=snap.schema_json,
            n_buckets=snap.n_buckets,
            key_cols=list(snap.key_cols),
            buckets=dict(snap.buckets),
            renames=dict(snap.renames),
            props=dict(snap.props),
            summary={"operation": "clone", "source": self.root,
                     "source_snapshot": snap.snapshot_id, "mode": mode},
            deltas={b: list(v) for b, v in snap.deltas.items()},
            bucket_cols=snap.bucket_cols,
        )
        dest._write_snapshot(clone)
        return dest

    # ---------- branches (named staged chains) ----------
    #
    # A branch is a NAMED STAGED CHAIN on top of HEAD — Iceberg's
    # audit-branch pattern (write to the branch, validate, fast_forward
    # main) — NOT a general fork: the table keeps one linear lineage, so
    # while a branch holds unpublished commits, main commits are blocked by
    # the same rule that blocks them during a single-snapshot WAP audit
    # ("publish or discard first"). What that buys without disturbing any
    # commit invariant: a MULTI-EPOCH replay (backfill, re-migration,
    # schema-evolution rehearsal) staged end-to-end through the ordinary
    # merge/compact/DDL machinery, readable and verifiable under its own
    # name while production readers stay pinned to HEAD — then published
    # atomically with ONE metadata flip, or dropped without a trace.
    #
    # Representation: refs `branch.<name>.<k>`, k = 0..tip — entry 0 is the
    # fork (a published id), entry k the k-th branch commit. Advancing the
    # branch = create-if-absent of entry k+1, the same single-winner
    # primitive as the commit lock, so racing branch writers elect exactly
    # one winner on either meta store. Every branch commit id being a ref
    # VALUE is what keeps `expire_snapshots` and `discard_staged(None)`
    # from eating a live branch.

    def _branch_entries(self, name: str) -> dict[int, int]:
        pre = f"branch.{name}."
        out: dict[int, int] = {}
        for ref, sid in self.meta.list_refs().items():
            if ref.startswith(pre) and ref[len(pre):].isdigit():
                out[int(ref[len(pre):])] = sid
        return out

    def create_branch(self, name: str, sid: int | None = None) -> int:
        """Open a branch at `sid` (default HEAD). The fork must be a
        published snapshot — audits of in-flight commits are WAP's job."""
        if not name or "." in name:
            raise ValueError(f"invalid branch name: {name!r} "
                             "(nonempty, no dots)")
        head = self.meta.read_head()
        sid = head if sid is None else sid
        if sid is None or head is None or sid > head:
            raise ValueError(f"cannot branch from unpublished snapshot "
                             f"{sid} (HEAD: {head})")
        if sid not in self.meta.list_manifest_ids():
            raise ValueError(f"snapshot {sid} does not exist")
        if self._branch_entries(name):
            raise CommitConflict(f"branch {name!r} already exists")
        self.meta.put_ref(f"branch.{name}.0", sid)
        return sid

    def branches(self) -> dict[str, int]:
        """All branches -> tip snapshot id."""
        tips: dict[str, tuple[int, int]] = {}
        for ref, sid in self.meta.list_refs().items():
            if not ref.startswith("branch."):
                continue
            nm, _, k = ref[len("branch."):].rpartition(".")
            if nm and k.isdigit() and (nm not in tips or int(k) > tips[nm][0]):
                tips[nm] = (int(k), sid)
        return {n: sid for n, (_, sid) in tips.items()}

    def branch_tip(self, name: str) -> int:
        es = self._branch_entries(name)
        if not es:
            raise KeyError(f"no branch {name!r} "
                           f"(branches: {sorted(self.branches())})")
        return es[max(es)]

    def snapshot_for_branch(self, name: str) -> Snapshot:
        return self.load_snapshot(self.branch_tip(name))

    def checkout(self, name: str) -> "SnapshotTable":
        """Writable view of the branch: `current()` resolves the branch tip
        and every `commit()` stages + advances the branch ref, so the whole
        merge/compact/DDL surface (cdc_apply, Engine, compaction) runs
        against the branch unchanged."""
        self.branch_tip(name)  # validate
        return _BranchView(self, name)

    def fast_forward(self, name: str) -> Snapshot:
        """Publish the branch: flip HEAD to its tip in one atomic metadata
        swap, iff HEAD is an ancestor of the tip (it always is unless the
        table was rolled back under the branch — the staged-lineage rule
        blocks ordinary main commits while the branch is open)."""
        head = self.meta.read_head()
        tip = self.branch_tip(name)
        if tip == head:
            return self.load_snapshot(tip)
        sid: int | None = tip
        while sid is not None and sid != head:
            sid = self.load_snapshot(sid).parent
        if sid != head:
            raise CommitConflict(
                f"cannot fast-forward {name!r}: tip {tip} does not descend "
                f"from HEAD {head}")
        self.meta.swap_head(tip)
        return self.load_snapshot(tip)

    def drop_branch(self, name: str, discard: bool = True) -> list[int]:
        """Delete the branch refs; with `discard`, also drop its
        unpublished manifests and any data dirs only they reference (the
        audit failed / the backfill was abandoned). Published ids (after a
        fast_forward) are never touched. Returns the ids discarded."""
        es = self._branch_entries(name)
        if not es:
            raise KeyError(f"no branch {name!r}")
        for k in sorted(es, reverse=True):
            self.meta.delete_ref(f"branch.{name}.{k}")
        dropped: list[int] = []
        if discard:
            head = self.meta.read_head()
            floor = head if head is not None else -1
            for sid in sorted({s for s in es.values() if s > floor},
                              reverse=True):
                if sid in self.staged_snapshots():
                    dropped += self.discard_staged(sid)
        return dropped


class _BranchView(SnapshotTable):
    """Writable view of one branch (see SnapshotTable.checkout)."""

    def __init__(self, table: SnapshotTable, name: str):
        super().__init__(table.spark, table.root, meta_store=table.meta)
        self.branch_name = name

    def current(self) -> Snapshot:
        return self.load_snapshot(self.branch_tip(self.branch_name))

    def commit(self, operation, rewritten, *args, **kw) -> Snapshot:
        kw["publish"] = False  # branch commits NEVER flip HEAD
        es = self._branch_entries(self.branch_name)
        if not es:
            raise KeyError(f"branch {self.branch_name!r} was dropped")
        k = max(es)
        snap = super().commit(operation, rewritten, *args, **kw)
        try:
            self.meta.put_ref(f"branch.{self.branch_name}.{k + 1}",
                              snap.snapshot_id)
        except CommitConflict:
            # a racing branch writer advanced past our entry; the staged
            # manifest we just created is unreachable junk — remove it and
            # surface the conflict (the caller's retry re-reads the tip)
            self.meta.delete_manifest(snap.snapshot_id)
            raise
        return snap

    def rollback(self, sid: int) -> Snapshot:
        raise NotImplementedError(
            "rollback targets main, not a branch view: drop the branch "
            "instead (its staged chain vanishes without a trace)")

    def rebucket(self, new_n_buckets: int, salt_factor: int = 1) -> Snapshot:
        raise NotImplementedError(
            "rebucket commits directly to main; run it outside the branch")
