"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The headline metric is the engine's core job: CDC apply throughput
(change-events/sec) of a deterministic synthetic event log (seed=42, scaled
to the sf dir) replayed through the epoch-tagged SnapshotTable merge path —
the sandbox analogue of BASELINE.json's 10^10-event replay target. Analytics
queries from `__spark_entry__.queries()` are timed to a no-op sink (full
execution, no driver collect bottleneck) except tiny-result ones.

`--replay-only --master local[N]` runs just the CDC replay at a chosen
parallelism — used by tools/bench_scaling.py to evidence the N→4N scaling
efficiency criterion (BASELINE.md) with two fresh JVMs on identical input.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    return float(base.replace("sf", "")) if base.startswith("sf") else 0.1


def run_replay(spark, n_events: int, n_epochs: int, salt_factor: int,
               n_buckets: int, content_blocks: int = 8,
               verify: bool = False, events_path: str | None = None,
               zipf_s: float | None = None, hot_frac: float = 0.0,
               task_stats: bool = False,
               compact_threshold: int | None = None) -> dict:
    """Generate a seed-stable event log, then replay it through the engine in
    `n_epochs` epoch-tagged merges. Returns timings + row counts. Generation
    is materialized to parquet first so the measured window is pure apply.

    `verify=True` extends the timed window with the metric's OTHER half
    (BASELINE.json: throughput "to exact final-table-state match (sha256 per
    row)"): re-derive the expected final state from the log and assert
    per-row sha256(content) equality against the engine-materialized table.
    The verification plan hashes EARLY — sha256 map-side over the raw log,
    LWW via max_by over (key, lsn, hash) — so the shuffle carries 32-byte
    fingerprints, never KB-sized contents; at 100 TB that is the only
    verification plan that works, and it is the one timed here."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from data_migration_service_spark.config import EngineConfig
    from data_migration_service_spark.fixtures.cdc import gen_changes
    from data_migration_service_spark.operators.merge import cdc_apply
    from data_migration_service_spark.tables.lake import SnapshotTable

    # bench tables live in RAM (like the shuffle dirs): the sandbox's single
    # disk is the one resource a real cluster scales per-node, so it must
    # not be the measured bottleneck
    bench_root = "/dev/shm" if os.path.isdir("/dev/shm") else None
    root = tempfile.mkdtemp(prefix="dms_bench_", dir=bench_root)
    try:
        # `events_path` shares one pre-generated log across runs/JVMs (the
        # scaling protocol replays the IDENTICAL input at every level, and
        # generation is untimed either way). Level-independent partition
        # count so the file layout is byte-identical no matter which level
        # generated it first.
        ev_path = events_path or os.path.join(root, "events")
        if not (events_path and os.path.exists(
                os.path.join(ev_path, "_SUCCESS"))):
            n_parts = max(16, spark.sparkContext.defaultParallelism,
                          n_events // 250_000)
            ev = gen_changes(spark, n_events,
                             n_repos=max(50, n_events // 5_000),
                             n_paths_per_repo=200, partitions=n_parts,
                             content_blocks=content_blocks,
                             zipf_s=zipf_s if zipf_s is not None else 1.2)
            if hot_frac > 0:
                # Extreme-skew variant (north_rule: explicit skew
                # handling): a deterministic `hot_frac` share of ALL
                # events collapses onto ONE merge key — the
                # single-hot-partition shape that breaks unsalted
                # writers. Op semantics stay valid (LWW upserts).
                hot = (F.pmod(F.xxhash64("lsn", F.lit("hotpick")),
                              F.lit(10_000))
                       < int(hot_frac * 10_000))
                ev = (ev.withColumn(
                          "repo", F.when(hot, F.lit("repo_hot"))
                                   .otherwise(F.col("repo")))
                        .withColumn(
                          "path", F.when(hot, F.lit("hot/file.py"))
                                   .otherwise(F.col("path")))
                        .withColumn(
                          "op", F.when(hot, F.lit("update"))
                                 .otherwise(F.col("op"))))
            ev.write.mode("overwrite").parquet(ev_path)
        # Size input splits to the cluster: a few-hundred-MB log under the
        # stock 128MB maxPartitionBytes (+ small-file packing) collapses to
        # 2-3 map splits, starving every level above 2 cores — the scan
        # must fan out to >= ~4 tasks/core at ANY input size, exactly as a
        # real 100 TB scan would by sheer file count.
        ev_bytes = sum(
            os.path.getsize(os.path.join(ev_path, f))
            for f in os.listdir(ev_path) if f.endswith(".parquet"))
        split = min(128 * 1024**2,
                    max(4 * 1024**2,
                        ev_bytes // (4 * spark.sparkContext.defaultParallelism)))
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
        spark.conf.set("spark.sql.files.openCostInBytes", str(1024**2))
        events = spark.read.parquet(ev_path)

        schema = T.StructType([
            T.StructField("repo", T.StringType(), False),
            T.StructField("path", T.StringType(), False),
            T.StructField("commit", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
            T.StructField("content", T.StringType(), True),
            T.StructField("size_bytes", T.LongType(), True),
            T.StructField("lsn", T.LongType(), False),
        ])
        # untimed JIT warm-up: one small apply+compact on a throwaway table
        # first-compiles the whole-stage-codegen, aggregate, and parquet
        # writer paths (~10s of one-time JVM cost that would otherwise be
        # billed to the first epoch)
        warm = SnapshotTable.create(spark, os.path.join(root, "warm"),
                                    schema, ["repo", "path"], 8)
        warm_cfg = EngineConfig(table_path=os.path.join(root, "warm"),
                                n_buckets=8, salt_factor=2, merge_mode="mor",
                                compact_threshold=1)
        warm_ev = gen_changes(spark, 20_000, n_repos=20, n_paths_per_repo=50)
        cdc_apply(warm, warm_ev, warm_cfg, epoch=0, collect_stats=False)

        table = SnapshotTable.create(spark, os.path.join(root, "repos"),
                                     schema, ["repo", "path"], n_buckets)
        # merge-on-read: apply is O(batch); the threshold folds deltas into
        # the base once during the run, so the measured window includes one
        # amortized compaction (honest steady-state cost)
        cfg = EngineConfig(table_path=os.path.join(root, "repos"),
                           n_buckets=n_buckets, salt_factor=salt_factor,
                           merge_mode="mor",
                           compact_threshold=compact_threshold or n_epochs)

        step = max(n_events // n_epochs, 1)
        salts = []
        epoch_sec = []
        t0 = time.monotonic()
        for e in range(n_epochs):
            te = time.monotonic()
            lo = e * step + 1
            hi = (e + 1) * step if e < n_epochs - 1 else n_events
            st = cdc_apply(table, events.where(F.col("lsn").between(lo, hi)),
                           cfg, epoch=e, collect_stats=False)
            salts.append(st.extra.get("salt_factor"))
            # per-epoch breakdown (round-4 verdict item 5): one noisy
            # epoch must be visible AS one noisy epoch, not masquerade as
            # an engine-throughput regression in the total
            epoch_sec.append(round(time.monotonic() - te, 3))
        apply_sec = time.monotonic() - t0
        out = {
            "n_events": n_events,
            "n_epochs": n_epochs,
            "apply_sec": round(apply_sec, 3),
            "events_per_sec": round(n_events / apply_sec, 1),
            "salt_factors": salts,
            "epoch_sec": epoch_sec,
        }
        if task_stats:
            out["task_stats"] = _task_duration_stats(spark)
        if verify:
            # timed sha256 final-state verification (hash-early plan):
            # 1. fingerprint every event map-side (sha256 over content);
            # 2. LWW per key with max_by ordered by lsn — partial agg
            #    collapses hot keys before a fingerprint-only shuffle;
            # 3. fingerprint the materialized table, full-outer join, and
            #    require zero mismatches / zero missing rows.
            t1 = time.monotonic()
            exp = (
                events.select(
                    "repo", "path", "lsn", "op",
                    F.sha2(F.coalesce("content", F.lit("\x00")), 256).alias("h"),
                )
                .groupBy("repo", "path")
                .agg(F.max_by(F.struct("op", "h"), "lsn").alias("last"))
                .where(F.col("last.op") != "delete")
                .select("repo", "path", F.col("last.h").alias("src_hash"))
            )
            got = table.read().select(
                "repo", "path",
                F.sha2(F.coalesce("content", F.lit("\x00")), 256).alias("tgt_hash"),
            )
            diff = exp.join(got, ["repo", "path"], "full_outer")
            agg = diff.agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum((~F.col("src_hash").eqNullSafe(F.col("tgt_hash")))
                      .cast("long")).alias("bad"),
            ).collect()[0]
            verify_sec = time.monotonic() - t1
            if int(agg["bad"] or 0) != 0:
                raise AssertionError(
                    f"sha256 final-state mismatch: {agg['bad']} of {agg['rows']} rows")
            out["verify_sec"] = round(verify_sec, 3)
            out["apply_verify_sec"] = round(apply_sec + verify_sec, 3)
            out["final_rows"] = int(agg["rows"])
            out["events_per_sec"] = round(n_events / (apply_sec + verify_sec), 1)
        else:
            out["final_rows"] = table.read().count()
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


def run_group_bench(spark, n_events: int, n_epochs: int = 2,
                    reps: int = 3) -> dict:
    """EngineGroup multi-table scenario (round-4 verdict item 6): one CDC
    source table plus a co-located derived chunk table, replayed epoch by
    epoch (apply + derived sync per epoch — the group sweep shape), then
    one per-repo aggregate over the chunk join read back two ways: the
    alignment-checked join (`EngineGroup.colocated_join_many` + `groupBy`)
    and plain SQL over the group views (`EngineGroup.sql`). Both leave
    the join strategy to Spark's broadcast threshold;
    `aligned_join_exchange_free` reports whether the first plan's join
    paid a hash exchange. Each read runs `reps` times, alternating which
    goes first; the medians and every rep are reported, and the two
    answers must agree.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from data_migration_service_spark.api import EngineGroup
    from data_migration_service_spark.config import EngineConfig
    from data_migration_service_spark.fixtures.cdc import gen_changes
    from data_migration_service_spark.operators.merge import cdc_apply, compact
    from data_migration_service_spark.tables.derived import DerivedTable
    from data_migration_service_spark.tables.lake import SnapshotTable

    bench_root = "/dev/shm" if os.path.isdir("/dev/shm") else None
    root = tempfile.mkdtemp(prefix="dms_gbench_", dir=bench_root)
    try:
        n_parts = max(16, spark.sparkContext.defaultParallelism)
        ev_path = os.path.join(root, "events")
        gen_changes(spark, n_events, n_repos=max(50, n_events // 5_000),
                    n_paths_per_repo=200, partitions=n_parts,
                    content_blocks=8).write.parquet(ev_path)
        events = spark.read.parquet(ev_path)

        schema = T.StructType([
            T.StructField("repo", T.StringType(), False),
            T.StructField("path", T.StringType(), False),
            T.StructField("commit", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
            T.StructField("content", T.StringType(), True),
            T.StructField("size_bytes", T.LongType(), True),
            T.StructField("lsn", T.LongType(), False),
        ])
        table = SnapshotTable.create(spark, os.path.join(root, "repos"),
                                     schema, ["repo", "path"], 32)
        cfg = EngineConfig(table_path=os.path.join(root, "repos"),
                           n_buckets=32, salt_factor=2, merge_mode="mor",
                           compact_threshold=n_epochs)
        chunk_sql = """
SELECT repo, path, lsn, CAST(chunk_id AS BIGINT) AS seq,
       substring(content, chunk_id * 64 + 1, 64) AS chunk_text
FROM (SELECT * FROM __source__
      WHERE content IS NOT NULL AND length(content) > 0)
LATERAL VIEW explode(
    sequence(0, CAST(floor((length(content) - 1) / 64) AS INT))
) t AS chunk_id
"""
        d = DerivedTable.create(spark, os.path.join(root, "chunks"), table,
                                chunk_sql, seq_col="seq")

        step = max(n_events // n_epochs, 1)
        t0 = time.monotonic()
        for e in range(n_epochs):
            lo = e * step + 1
            hi = (e + 1) * step if e < n_epochs - 1 else n_events
            cdc_apply(table, events.where(F.col("lsn").between(lo, hi)),
                      cfg, epoch=e, collect_stats=False)
            d.sync(table)
        compact(table, cfg)
        d.compact()
        replay_sec = time.monotonic() - t0

        group = EngineGroup(spark, {
            "repos": cfg,
            "chunks": EngineConfig(table_path=os.path.join(root, "chunks"),
                                   n_buckets=32, merge_mode="mor"),
        })
        q = ("SELECT a.repo, count(1) AS n_chunks, "
             "sum(length(b.chunk_text)) AS n_chars "
             "FROM repos a JOIN chunks b "
             "ON a.repo = b.repo AND a.path = b.path GROUP BY a.repo")
        reads = {
            "aligned": lambda: group.colocated_join_many(
                ["repos", "chunks"]).groupBy("repo").agg(
                    F.count(F.lit(1)).alias("n_chunks"),
                    F.sum(F.length("chunk_text")).alias("n_chars")),
            "naive": lambda: group.sql(q),
        }
        walls: dict[str, list[float]] = {k: [] for k in reads}
        for r in range(max(reps, 1)):
            for name in (list(reads) if r % 2 == 0 else list(reads)[::-1]):
                t1 = time.monotonic()
                _force(reads[name]())
                walls[name].append(round(time.monotonic() - t1, 3))
        aligned, naive = reads["aligned"](), reads["naive"]()
        plan = aligned._jdf.queryExecution().executedPlan().toString()
        # the aggregate pays one exchange; the join must pay none
        exchange_free_join = plan.count("Exchange hashpartitioning") <= 1
        rows = sorted(map(tuple, aligned.collect()))
        if rows != sorted(map(tuple, naive.collect())):
            raise AssertionError("aligned and naive group reads differ")
        return {
            "n_events": n_events,
            "n_epochs": n_epochs,
            "group_replay_sec": round(replay_sec, 3),
            "aligned_join_sec": round(statistics.median(walls["aligned"]), 3),
            "naive_join_sec": round(statistics.median(walls["naive"]), 3),
            "aligned_join_reps": walls["aligned"],
            "naive_join_reps": walls["naive"],
            "aligned_join_exchange_free": exchange_free_join,
            "result_rows": len(rows),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _task_duration_stats(spark, top_n: int = 3) -> list[dict] | None:
    """Per-task duration quantiles of the heaviest completed stages, via
    the UI REST API (requires DMS_SPARK_UI=true). The skew evidence the
    bench rows cite: a balanced salted apply shows max/median near 1 on
    its big stages; an unsalted hot key shows one straggler task holding
    the stage's whole runtime."""
    import urllib.request

    try:
        base = spark.sparkContext.uiWebUrl
        if not base:
            return None
        with urllib.request.urlopen(f"{base}/api/v1/applications",
                                    timeout=10) as r:
            app_id = json.load(r)[0]["id"]
        url = (f"{base}/api/v1/applications/{app_id}/stages"
               f"?status=complete&withSummaries=true"
               f"&quantiles=0.0,0.5,1.0")
        with urllib.request.urlopen(url, timeout=30) as r:
            stages = json.load(r)
        stages.sort(key=lambda st: st.get("executorRunTime", 0),
                    reverse=True)
        out = []
        for st in stages[:top_n]:
            dist = (st.get("taskMetricsDistributions") or {})
            dur = dist.get("duration") or dist.get("executorRunTime")
            if not dur:
                continue
            mn, med, mx = dur[0], dur[1], dur[2]
            out.append({
                "stage": st["stageId"],
                "num_tasks": st.get("numCompleteTasks"),
                "task_ms_min": round(mn, 1),
                "task_ms_median": round(med, 1),
                "task_ms_max": round(mx, 1),
                "max_over_median": (round(mx / med, 2) if med else None),
            })
        return out or None
    except Exception as e:  # stats are evidence, never a bench failure
        return [{"error": str(e)}]


def _force(df) -> int:
    """Fully execute a DataFrame without driver materialization cost."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--master", default=None)
    ap.add_argument("--replay-only", action="store_true")
    ap.add_argument("--events", type=int, default=None)
    ap.add_argument("--epochs", type=int, default=2)
    ap.add_argument("--content-blocks", type=int, default=8)
    ap.add_argument("--events-path", default=None,
                    help="persistent dir for the generated event log; "
                         "reused if it already exists (scaling protocol: "
                         "identical input at every level)")
    ap.add_argument("--reps", type=int, default=3,
                    help="repeat the replay, report the best (host-noise "
                         "guard; per-epoch times of every rep are kept); "
                         "with --group-bench, repeat each group read")
    ap.add_argument("--compact-threshold", type=int, default=None,
                    help="delta dirs before folding (default: n_epochs = "
                         "one amortized compaction per run; sustained "
                         "many-epoch rows use a lower value for periodic "
                         "maintenance)")
    ap.add_argument("--group-bench", action="store_true",
                    help="run the EngineGroup multi-table scenario "
                         "(co-located replay + colocated_join_many vs "
                         "plain-SQL join read) instead of the standard "
                         "suite")
    ap.add_argument("--verify", action="store_true",
                    help="time apply + sha256 final-state verification "
                         "(the full north-rule metric window)")
    ap.add_argument("--zipf-s", type=float, default=None,
                    help="key-skew exponent of the generated log "
                         "(default 1.2; 1.5+ = heavy repo skew)")
    ap.add_argument("--hot-frac", type=float, default=0.0,
                    help="fraction of ALL events remapped to ONE merge "
                         "key (extreme-skew variant)")
    ap.add_argument("--salt-factor", type=int, default=2,
                    help="writer fan-out per bucket; 0 = per-batch auto "
                         "probe from the key histogram")
    ap.add_argument("--task-stats", action="store_true",
                    help="report per-task duration quantiles of the "
                         "heaviest stages (needs DMS_SPARK_UI=true)")
    args = ap.parse_args()
    if args.task_stats:
        os.environ["DMS_SPARK_UI"] = "true"

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = args.master or f"local[{cpus}]"
    sf = _sf_of(sf_dir)
    # 20M*sf (2M at the driver's sf0.1): per BENCH.md's fixed-cost analysis,
    # 500k-event runs spent ~30% of wall on per-epoch scheduling, reporting
    # the harness floor rather than engine throughput — and the 10^10-event
    # criterion implies batches far larger than either.
    n_events = args.events or max(int(20_000_000 * sf), 10_000)

    from data_migration_service_spark.session import get_spark

    spark = get_spark(app_name="dms-bench", master=master)
    try:
        if args.group_bench:
            g = run_group_bench(spark, n_events, n_epochs=args.epochs,
                                reps=args.reps)
            print(json.dumps({
                "metric": "group_replay_aligned_join_wall",
                "value": round(g["group_replay_sec"]
                               + g["aligned_join_sec"], 3),
                "unit": "sec", "sf": sf, "master": master, "group": g,
            }))
            return 0
        t_key = "apply_verify_sec" if args.verify else "apply_sec"
        reps = [run_replay(spark, n_events, args.epochs,
                           salt_factor=args.salt_factor, n_buckets=64,
                           content_blocks=args.content_blocks,
                           verify=args.verify, events_path=args.events_path,
                           zipf_s=args.zipf_s, hot_frac=args.hot_frac,
                           task_stats=args.task_stats,
                           compact_threshold=args.compact_threshold)
                for _ in range(max(args.reps, 1))]
        replay = min(reps, key=lambda r: r[t_key])
        if len(reps) > 1:
            replay = dict(replay, all_apply_sec=[r[t_key] for r in reps])
        queries: dict[str, float] = {}
        queries["cdc_replay"] = replay["apply_sec"]

        if not args.replay_only:
            import __spark_entry__ as entry

            qs = entry.queries()
            # headline analytics set: shuffles/joins/windows/UDF families
            bench_qs = [
                "lww_dedup", "pricing_summary", "region_revenue",
                "salted_hot_agg", "hash_diff_status_counts",
                "row_hash_canonical", "dedup_exact", "token_count",
                "quality_score", "simhash", "minhash_lsh_pairs",
                "minhash_lsh_pairs_fast", "embedding_topk",
                "embedding_near_dup_lsh", "semi_join_replay",
                "recheck_values", "scd2_history", "asof_lookup",
                "range_count_windows", "stream_enrich",
                "top_events_per_type", "hll_distinct_bound",
                "funnel_steps", "cohort_retention",
                "tf_idf_top_terms", "dedup_clusters", "redact_pii",
                "pack_offsets", "minhash_incremental",
                "embedding_incremental", "patch_final_state",
                "repetition_stats", "duplicate_spans",
                "remove_duplicate_spans", "rare_token_stats",
                "source_overlap", "budget_select",
                "mixture_sample", "corpus_shuffle", "corpus_build",
                "semantic_dedup", "cube_doc_stats", "pivot_lang_counts",
                "merge_upsert", "embedding_sq_topk", "embedding_pq_topk",
                "embedding_ivfpq_topk", "chunk_documents",
                "derived_chunks",
            ]
            for name in bench_qs:
                t0 = time.monotonic()
                df = qs[name](spark, sf_dir)
                _force(df)
                queries[name] = round(time.monotonic() - t0, 3)

        total = round(sum(queries.values()), 3)
        out = {
            "metric": "cdc_replay_plus_headline_queries_wall",
            "value": total,
            "unit": "sec",
            "queries": queries,
            "sf": sf,
            "master": master,
            "cdc": replay,
        }
        print(json.dumps(out))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
