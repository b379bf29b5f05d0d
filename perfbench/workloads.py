"""The benchmark workloads, driven only through the engine's public calls.

Each workload builds its inputs from the seed (`fixtures.cdc.gen_changes`),
sets up its tables untimed, warms every timed call type up, then runs a fixed
amount of timed work. Every timed call is checked against an expected answer
computed untimed from the generated log; a call that raises or answers wrong
counts as failed.
"""

from __future__ import annotations

import dataclasses
import glob
import os
import random
import statistics
import time
from collections import Counter
from dataclasses import dataclass, field

from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_migration_service_spark.api import Engine, EngineGroup
from data_migration_service_spark.config import EngineConfig
from data_migration_service_spark.fixtures.cdc import (
    default_registry,
    expected_final_state,
    gen_changes,
    to_raw_events,
)
from data_migration_service_spark.registry import resolve_batch
from data_migration_service_spark.streaming.replay import ReplayEngine
from data_migration_service_spark.tables.derived import DerivedTable
from data_migration_service_spark.tables.lake import SnapshotTable

SCHEMA = T.StructType([
    T.StructField("repo", T.StringType(), False),
    T.StructField("path", T.StringType(), False),
    T.StructField("commit", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
    T.StructField("content", T.StringType(), True),
    T.StructField("size_bytes", T.LongType(), True),
    T.StructField("lsn", T.LongType(), False),
])
KEYS = ["repo", "path"]

# bench.py --group-bench's chunking transform and join query
CHUNK_SQL = """
SELECT repo, path, lsn, CAST(chunk_id AS BIGINT) AS seq,
       substring(content, chunk_id * 64 + 1, 64) AS chunk_text
FROM (SELECT * FROM __source__
      WHERE content IS NOT NULL AND length(content) > 0)
LATERAL VIEW explode(
    sequence(0, CAST(floor((length(content) - 1) / 64) AS INT))
) t AS chunk_id
"""
GROUP_Q = ("SELECT a.repo, count(1) AS n_chunks, "
           "sum(length(b.chunk_text)) AS n_chars "
           "FROM repos a JOIN chunks b "
           "ON a.repo = b.repo AND a.path = b.path GROUP BY a.repo")

# Sizes per workload. `boot` events build the starting table; the tail is
# `epochs` epochs of `epoch` events. Calibrated so the timed work of one
# run takes about 20 s on a 4-CPU host (see NOTES.md). ingest_tail makes
# its `lookups` point lookups of `keys` keys in the traced run only.
SIZES = {
    "ingest_tail": dict(repos=300, buckets=16, boot=20_000, epoch=8_000,
                        epochs=4, compact=4, verifies=3, lookups=6, keys=16),
    "lookup_serve": dict(repos=300, buckets=16, boot=20_000, epoch=2_000,
                         epochs=3, compact=4, lookups=6, keys=16),
}
TOY = {
    "ingest_tail": dict(repos=20, buckets=4, boot=2_000, epoch=1_000,
                        epochs=3, compact=2, verifies=1, lookups=2, keys=8),
    "lookup_serve": dict(repos=20, buckets=4, boot=2_000, epoch=500,
                         epochs=2, compact=3, lookups=3, keys=8),
}
RUN_SECONDS = 20
CLK_TCK = os.sysconf("SC_CLK_TCK")

# The calibration (`Workload.cal_job`): two fixed Spark queries that do not
# touch the engine, run before and after each timed call. On a shared host
# the speed of the same code drifts by tens of percent from minute to minute
# (other guests, and their use of shared cores and memory); timed calls are
# reported scaled by CAL_REF_S over the run's median calibration, i.e. in
# seconds of the reference host. A change in the engine moves those
# seconds; a change in the neighbours moves the calls and the calibrations
# alike. CAL_REF_S is the calibration's median wall time on the reference
# host (4-vCPU Xeon VM, local[4]; see NOTES.md).
CAL_ROWS = 16_000_000
CAL_REF_S = 0.34


def scaled(sizes: dict, seconds: int) -> dict:
    """Scale the repeated parts of a plan with the run length (the sizes
    above are for RUN_SECONDS). Counts stay a pure function of the
    arguments, so a seed repeats its job and file counts exactly."""
    out = dict(sizes)
    f = seconds / RUN_SECONDS
    for k in ("epochs", "verifies", "lookups"):
        if k in out:
            out[k] = max(1, round(out[k] * f))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process under it:
    the Spark JVM and any Python workers it started. Reported beside each
    timed call's wall time; the kernel leaves time stolen by other guests
    of the host out of it."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        kids.setdefault(int(rest[1]), []).append(int(d))
        # utime, stime, and those of its reaped children
        ticks[int(d)] = sum(int(x) for x in rest[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(kids.get(pid, []))
    return total / CLK_TCK


def dir_bytes(path: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def snapshot_files(table: SnapshotTable) -> tuple[int, int]:
    """(parquet files referenced by HEAD, max delta dirs on one bucket)."""
    snap = table.current()
    n = 0
    for b in set(snap.buckets) | set(snap.deltas):
        dirs = ([snap.buckets[b]] if b in snap.buckets else []) + list(
            snap.deltas.get(b, []))
        for d in dirs:
            n += len(glob.glob(os.path.join(
                table.root, "data", d, f"_bucket={b}", "*.parquet")))
    depth = max((len(v) for v in snap.deltas.values()), default=0)
    return n, depth


def new_base_bytes(table: SnapshotTable, before: dict[int, str]) -> int:
    """Bytes of base files HEAD holds that `before` (bucket -> base dir) did
    not: what a compaction rewrote."""
    snap = table.current()
    total = 0
    for b, d in snap.buckets.items():
        if before.get(b) != d:
            total += dir_bytes(os.path.join(table.root, "data", d,
                                            f"_bucket={b}"))
    return total


@dataclass
class Run:
    """Timings and answer checks of one run. `ops` counts every checked
    operation; `failed` those that raised or answered wrong."""
    ops: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    # (kind, wall s, CPU s) of every timed call and calibration, in order;
    # kind is "epoch", "read", "cal" or (traced runs) "probe"
    samples: list[tuple[str, float, float]] = field(default_factory=list)
    epoch_s: list[float] = field(default_factory=list)
    epoch_events: int = 0
    read_s: list[float] = field(default_factory=list)
    call_s: list[float] = field(default_factory=list)
    consume_s: list[float] = field(default_factory=list)
    lookup_plan_s: list[float] = field(default_factory=list)
    lookup_exec_s: list[float] = field(default_factory=list)
    lookup_files: list[float] = field(default_factory=list)
    lookup_rows: int = 0
    epochs: list[dict] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)
    facts: dict = field(default_factory=dict)

    def cal_s(self) -> list[float]:
        return [w for k, w, _ in self.samples if k == "cal"]

    def scaled(self, kind: str) -> list[float]:
        """Wall seconds of each `kind` call in seconds of the reference
        host: scaled by CAL_REF_S over the run's median calibration."""
        f = CAL_REF_S / statistics.median(self.cal_s())
        return [wall * f for k, wall, _ in self.samples if k == kind]

    def check(self, ok: bool, what: str) -> None:
        self.ops += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


class Workload:
    """Shared set-up: the seeded event log, the bootstrapped table, the
    warm-up. Subclasses define `prepare` (more untimed set-up) and `timed`."""

    name = ""
    # spans that make up the workload's timed read call
    read_spans: tuple[str, ...] = ()

    def __init__(self, spark, work: str, seed: int, sizes: dict, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.sz = sizes
        self.tr = tracer
        self.run = Run()
        self.build_s: list[float] = []

    # ---- inputs ----

    def make_log(self) -> None:
        """Write the typed log, its wire form and the bootstrap snapshot.
        Schema v2 starts a third of the way into the tail, so early tail
        epochs mix v1 and v2 payloads."""
        sz = self.sz
        # one spare epoch past the timed ones, for traced-run probes
        n = sz["boot"] + sz["epoch"] * (sz["epochs"] + 1)
        self.n_events = n
        self.v2_at = sz["boot"] + (n - sz["boot"]) // 3 + 1
        ev = gen_changes(self.spark, n, n_repos=sz["repos"],
                         n_paths_per_repo=200, seed=self.seed,
                         schema_v2_at=self.v2_at, schema_v3_at=n + 1,
                         partitions=8)
        p = lambda name: os.path.join(self.work, name)  # noqa: E731
        ev.write.parquet(p("events"))
        self.events = self.spark.read.parquet(p("events"))
        to_raw_events(self.events).write.parquet(p("raw"))
        self.raw = self.spark.read.parquet(p("raw"))
        (expected_final_state(self.events.where(F.col("lsn") <= sz["boot"]))
         .withColumnRenamed("last_lsn", "lsn")
         .drop("ts").write.parquet(p("boot")))
        self.boot = self.spark.read.parquet(p("boot"))

    def registry(self):
        return default_registry(self.v2_at, self.n_events + 1)

    def engine(self, root: str, buckets: int, compact: int) -> Engine:
        SnapshotTable.create(self.spark, root, SCHEMA, KEYS, buckets)
        cfg = EngineConfig(table_path=root, n_buckets=buckets, salt_factor=2,
                           merge_mode="mor", compact_threshold=compact,
                           checkpoint_path=root + "_ck")
        return Engine(self.spark, cfg, registry=self.registry())

    def build(self, copies: int = 2) -> None:
        """Bootstrap the starting table `copies` times (set-up reports the
        median build) and keep the last."""
        sz = self.sz
        self.copies = []
        for i in range(copies):
            t0 = time.monotonic()
            eng = self.engine(os.path.join(self.work, f"table{i}"),
                              sz["buckets"], sz["compact"])
            st = eng.bootstrap(self.boot)
            self.build_s.append(time.monotonic() - t0)
            self.run.check(st.rows_inserted > 0, "bootstrap wrote no rows")
            self.copies.append(eng)
        self.eng = eng
        self.rep = ReplayEngine(self.spark, eng.table, eng.cfg,
                                registry=eng.registry)

    def epoch_bounds(self, i: int) -> tuple[int, int]:
        lo = self.sz["boot"] + i * self.sz["epoch"] + 1
        return lo, lo + self.sz["epoch"] - 1

    def last_lsn(self) -> int:
        """LSN of the last event the timed epochs apply."""
        return self.epoch_bounds(self.sz["epochs"] - 1)[1]

    def expected_at(self, hi: int):
        return expected_final_state(self.events.where(F.col("lsn") <= hi))

    # ---- warm-up ----

    def warm_up(self) -> None:
        """Untimed, on a throwaway build copy: one epoch of up to 2k events
        that also compacts (threshold 1), so the timed epochs find their
        code paths compiled. Read calls warm up right before their timed
        repetitions, at the state those read (see `timed`)."""
        eng0 = self.copies[0]
        cfg = dataclasses.replace(eng0.cfg, compact_threshold=1)
        lo, hi = self.epoch_bounds(0)
        hi = min(hi, lo + 1_999)
        (ReplayEngine(self.spark, eng0.table, cfg, registry=eng0.registry)
         .apply_batch(self.raw.where(F.col("lsn").between(lo, hi)), 1))
        self.cal_job()

    # ---- timed helpers ----

    def cal_job(self) -> None:
        """The calibration: two queries, planned afresh each time (re-running
        one DataFrame would reuse its shuffle output and skip the work)."""
        cores = self.spark.sparkContext.defaultParallelism
        # compute-bound, every core busy
        (self.spark.range(0, CAL_ROWS, 1, cores)
         .select(F.max(F.xxhash64("id"))).collect())
        # scheduling- and shuffle-bound, like the engine's small jobs
        (self.spark.range(0, CAL_ROWS // 8, 1, cores)
         .groupBy((F.col("id") % 1024).alias("k"))
         .agg(F.max(F.xxhash64("id"))).collect())

    def calibrate(self) -> None:
        """One timed calibration, recorded as a "cal" sample."""
        c0, t0 = tree_cpu_s(), time.monotonic()
        self.cal_job()
        self.run.samples.append(
            ("cal", time.monotonic() - t0, tree_cpu_s() - c0))

    def start_call(self) -> tuple[float, float]:
        """Calibrate unless the last sample was a calibration; return the
        start (CPU s, monotonic s) of the timed call."""
        if not self.run.samples or self.run.samples[-1][0] != "cal":
            self.calibrate()
        return tree_cpu_s(), time.monotonic()

    def end_call(self, kind: str, start: tuple[float, float]) -> float:
        """Record the timed call begun at `start`, calibrate after it and
        return its wall seconds."""
        wall = time.monotonic() - start[1]
        self.run.samples.append((kind, wall, tree_cpu_s() - start[0]))
        self.calibrate()
        return wall

    def apply_epoch(self, i: int) -> float:
        """Hand epoch i's raw batch to ReplayEngine.apply_batch; return its
        wall seconds."""
        lo, hi = self.epoch_bounds(i)
        batch = self.raw.where(F.col("lsn").between(lo, hi))
        before = dict(self.eng.table.current().buckets)
        start = self.start_call()
        with self.tr.span("apply_batch", "replay", epoch=i + 1):
            st = self.rep.apply_batch(batch, i + 1)
        dt = self.end_call("epoch", start)
        self.run.check(not st.skipped and st.rows_in_batch > 0,
                       f"epoch {i + 1} applied nothing")
        self.run.epoch_s.append(dt)
        self.run.epoch_events += hi - lo + 1
        self.run.epochs.append({
            "epoch": i + 1, "s": dt,
            "compacted": int(st.extra.get("compacted_buckets", 0)),
            "rows_in_batch": st.rows_in_batch,
            "rows_after_dedup": st.rows_after_dedup,
            "compact_bytes": new_base_bytes(self.eng.table, before),
        })
        return dt

    def decode_probe(self, reps: int = 3) -> None:
        """Traced run only: the registry decode of one epoch's raw batch,
        alone, to a noop sink."""
        lo, hi = self.epoch_bounds(0)
        batch = self.raw.where(F.col("lsn").between(lo, hi))
        to = int(self.eng.table.current().props.get("schema_version", "1"))
        xs = []
        for _ in range(reps):
            t0 = time.monotonic()
            with self.tr.span("resolve_batch", "registry"):
                (resolve_batch(batch, self.eng.registry, to_version=to)
                 .write.format("noop").mode("overwrite").save())
            xs.append(time.monotonic() - t0)
        self.run.layer["registry.decode_s_p50"] = statistics.median(xs)

    def choose_key_sets(self, n_sets: int) -> None:
        """Fixed small key sets chosen by seed: live keys, keys deleted by
        the end of the timed epochs, and keys the log never names. Every
        event of every probed key is collected, so the expected rows at any
        LSN are computed in Python (`expected_rows`)."""
        sz = self.sz
        last = (self.events.where(F.col("lsn") <= self.last_lsn())
                .groupBy(*KEYS).agg(F.max_by("op", "lsn").alias("op"))
                .orderBy(*KEYS).collect())
        live = [(r.repo, r.path) for r in last if r.op != "delete"]
        dead = [(r.repo, r.path) for r in last if r.op == "delete"]
        rng = random.Random(self.seed)
        n_dead = min(2, len(dead))
        self.key_sets = [
            rng.sample(live, sz["keys"] - n_dead - 2) + rng.sample(dead, n_dead)
            + [(f"repo_absent_{n}", f"none/{j}.py") for j in range(2)]
            for n in range(n_sets)]
        schema = "repo string, path string"
        self.key_dfs = [self.spark.createDataFrame(ks, schema)
                        for ks in self.key_sets]
        probed = self.spark.createDataFrame(
            sorted({k for ks in self.key_sets for k in ks}), schema)
        self.key_events: dict[tuple, list] = {}
        for r in (self.events.join(F.broadcast(probed), KEYS)
                  .select(*KEYS, "lsn", "op", "content").collect()):
            self.key_events.setdefault((r.repo, r.path), []).append(
                (r.lsn, r.op, r.content))

    def expected_rows(self, keys: list[tuple], hi: int) -> Counter:
        out = Counter()
        for k in keys:
            evs = [e for e in self.key_events.get(k, []) if e[0] <= hi]
            if evs:
                lsn, op, content = max(evs)
                if op != "delete":
                    out[(k[0], k[1], lsn, content)] += 1
        return out

    def lookup(self, n: int, hi: int, kind: str = "read") -> float | None:
        """Engine.lookup of key set n plus collect, checked against the
        log up to LSN `hi` and recorded as a `kind` sample. Returns its
        wall seconds, None if it raised."""
        s = n % len(self.key_sets)
        keys, kdf = self.key_sets[s], self.key_dfs[s]
        start = self.start_call()
        try:
            with self.tr.span("lookup", "api", query=n):
                df = self.eng.lookup(kdf)
            t1 = time.monotonic()
            with self.tr.span("lookup_collect", "lake", query=n):
                rows = df.collect()
            t2 = time.monotonic()
        except Exception as e:  # a raising call is a failed operation
            self.end_call(kind, start)
            self.run.errors.append(repr(e))
            self.run.check(False, f"lookup {n} raised")
            return None
        dt = self.end_call(kind, start)
        got = Counter((r.repo, r.path, r.lsn, r.content) for r in rows)
        self.run.check(got == self.expected_rows(keys, hi),
                       f"lookup {n} (key set {s}) returned wrong rows")
        self.run.lookup_plan_s.append(t1 - start[1])
        self.run.lookup_exec_s.append(t2 - t1)
        if self.tr.enabled:
            self.run.lookup_files.append(len(df.inputFiles()) / len(keys))
            self.run.lookup_rows += len(rows)
        return dt

    def lookup_probe(self) -> None:
        """Traced run only: point lookups on the final table."""
        self.choose_key_sets(self.sz["lookups"])
        self.eng.lookup(self.key_dfs[0]).collect()  # warm-up, untimed
        for n in range(self.sz["lookups"]):
            self.lookup(n, self.last_lsn(), kind="probe")

    def finish_facts(self, live_rows: int) -> None:
        files, depth = snapshot_files(self.eng.table)
        self.run.facts.update(
            live_rows=live_rows,
            stored_bytes=dir_bytes(self.eng.table.root),
            data_files=files, delta_dirs_max=depth)

    # ---- the run ----

    def setup(self) -> None:
        """Untimed set-up; `setup_parts` keeps the seconds of each step."""
        self.setup_parts = {}
        for step in (self.make_log, self.build, self.prepare, self.warm_up):
            t0 = time.monotonic()
            step()
            self.setup_parts[step.__name__] = round(time.monotonic() - t0, 3)

    def prepare(self) -> None:
        """Further untimed set-up on the built table (default: none)."""

    def timed(self) -> None:
        raise NotImplementedError

    def traced_extras(self) -> None:
        """Traced run only: layer probes that are not part of the timed
        work: the registry decode and the point lookups."""
        self.decode_probe()
        self.lookup_probe()


class IngestTail(Workload):
    """Large epochs of the wire-format tail onto a bootstrapped table, then
    repeated full verification of the final state."""

    name = "ingest_tail"
    read_spans = ("verify",)

    def prepare(self) -> None:
        self.expected = self.expected_at(self.last_lsn())
        self.expected.write.parquet(os.path.join(self.work, "expected"))
        self.expected = self.spark.read.parquet(
            os.path.join(self.work, "expected"))
        self.live_rows = self.expected.count()

    def timed(self) -> None:
        for i in range(self.sz["epochs"]):
            self.apply_epoch(i)
        res = self.eng.verify(self.expected)  # warm-up, untimed
        self.run.check(res.consistent, "warm-up verify inconsistent")
        for k in range(self.sz["verifies"]):
            start = self.start_call()
            try:
                with self.tr.span("verify", "verify", query=k):
                    res = self.eng.verify(self.expected)
                t2 = time.monotonic()
                ok = (res.consistent and res.target_rows == self.live_rows)
            except Exception as e:  # a raising call is a failed operation
                t2, ok = time.monotonic(), False
                self.run.errors.append(repr(e))
            self.run.consume_s.append(time.monotonic() - t2)
            dt = self.end_call("read", start)
            self.run.check(ok, f"verify {k} inconsistent")
            self.run.read_s.append(dt)
            self.run.call_s.append(t2 - start[1])
        self.finish_facts(self.live_rows)

    def read_probe(self) -> dict:
        df = self.eng.table.read(columns=["content"])
        return {"files_per_op": len(df.inputFiles()),
                "rows_returned": self.live_rows}


class LookupServe(Workload):
    """Point lookups of fixed small key sets, with one small epoch applied
    after every few lookups, so delta dirs pile up between compactions."""

    name = "lookup_serve"
    read_spans = ("lookup", "lookup_collect")

    def prepare(self) -> None:
        self.choose_key_sets(self.sz["lookups"])

    def warm_up(self) -> None:
        super().warm_up()
        self.eng.lookup(self.key_dfs[0]).collect()

    def timed(self) -> None:
        sz = self.sz
        every = max(1, sz["lookups"] // (sz["epochs"] + 1))
        applied, hi = 0, sz["boot"]
        for n in range(sz["lookups"]):
            dt = self.lookup(n, hi)
            if dt is not None:
                self.run.read_s.append(dt)
                self.run.call_s.append(self.run.lookup_plan_s[-1])
                self.run.consume_s.append(self.run.lookup_exec_s[-1])
            if (n + 1) % every == 0 and applied < sz["epochs"]:
                self.apply_epoch(applied)
                hi = self.epoch_bounds(applied)[1]
                applied += 1
        self.finish_facts(self.expected_at(hi).count())

    def read_probe(self) -> dict:
        return {"files_per_op": statistics.median(self.run.lookup_files)
                * self.sz["keys"],
                "rows_returned": self.run.lookup_rows
                / len(self.run.lookup_files)}

    def traced_extras(self) -> None:
        self.decode_probe()
        self.group_probe()

    def group_probe(self) -> None:
        """Traced run only: the group-read layers. A co-located chunk table
        (the chunking SQL of bench.py --group-bench) over the final table,
        one spare epoch of apply + sync, then the join query through
        EngineGroup.sql, routed and with aligned="off"; the two answers
        must be equal as multisets."""
        root = os.path.join(self.work, "chunks")
        d = DerivedTable.create(self.spark, root, self.eng.table, CHUNK_SQL,
                                seq_col="seq")
        with self.tr.span("sync_bootstrap", "derived"):
            d.sync(self.eng.table)
        i = self.sz["epochs"]
        lo, hi = self.epoch_bounds(i)
        t0 = time.monotonic()
        with self.tr.span("apply_batch_spare", "replay", epoch=i + 1):
            self.rep.apply_batch(
                self.raw.where(F.col("lsn").between(lo, hi)), i + 1)
        t1 = time.monotonic()
        with self.tr.span("sync", "derived", epoch=i + 1):
            st = d.sync(self.eng.table)
        t2 = time.monotonic()
        self.run.check(not st.get("skipped"), "spare-epoch sync skipped")
        self.run.layer["derived.sync_share"] = (t2 - t1) / (t2 - t0)
        group = EngineGroup(self.spark, {
            "repos": self.eng.cfg,
            "chunks": EngineConfig(table_path=root,
                                   n_buckets=self.sz["buckets"],
                                   merge_mode="mor")})
        group.sql(GROUP_Q).collect()  # warm-up, untimed
        routed, naive = [], []
        for k in range(2):
            t0 = time.monotonic()
            with self.tr.span("sql", "sql_route", query=k):
                df = group.sql(GROUP_Q)
            with self.tr.span("collect", "colocated", query=k):
                got = Counter(tuple(r) for r in df.collect())
            routed.append(time.monotonic() - t0)
            t0 = time.monotonic()
            with self.tr.span("sql_naive", "spark", query=k):
                want = Counter(tuple(r) for r in
                               group.sql(GROUP_Q, aligned="off").collect())
            naive.append(time.monotonic() - t0)
            self.run.check(bool(got) and got == want,
                           f"routed group query {k} != aligned='off' result")
        try:
            group.sql(GROUP_Q, aligned="require")
            self.run.layer["sql_route.routed"] = 1
        except ValueError:
            self.run.layer["sql_route.routed"] = 0
        self.run.layer["sql_route.naive_over_routed"] = (
            statistics.median(naive) / statistics.median(routed))
        lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
        # shuffles on the merge key (a join's, or a MOR reduce's); the
        # GROUP BY's exchange hashes on repo alone
        self.run.layer["colocated.key_exchanges"] = sum(
            1 for ln in lines if "Exchange hashpartitioning" in ln
            and "path" in ln)
        self.run.layer["colocated.broadcasts"] = sum(
            ln.count("BroadcastExchange") for ln in lines)


WORKLOADS = {w.name: w for w in (IngestTail, LookupServe)}
