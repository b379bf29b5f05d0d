"""Verification — distributed hash-diff validation of target vs source.

Spark rebuild of the reference's DataVerificationService:

- stage 1 count check per partition group (java:176-183: count(*) per tenant
  in both DBs) -> one groupBy per side + full-outer join on the group key
- stage 2 row-hash diff (java:219-252: per-row MD5 maps diffed in Java)
  -> a single full-outer join on the merge key over sha256 fingerprints,
  classifying MISSING_IN_TARGET / MISSING_IN_SOURCE / MISMATCH / OK.
  The reference only reports source-driven mismatches (target orphans are
  caught by the count check alone); the full-outer formulation reports both
  directions explicitly — strictly stronger, same cost.
- stage 3 raw-value double-check (java:254-279,293-312: the emoji/MD5-
  encoding false-positive workaround — re-fetch flagged rows and compare
  raw column values) -> `recheck_values`: semi-join both sides to the
  flagged keys, full-outer join, per-column null-safe compare. With sha2
  over UTF-8 on both sides it can no longer *clear* a hash mismatch, but it
  pinpoints WHICH columns differ per key — the per-field diff the reference
  logs at java:301-306.
- mismatch report capped at `cfg.mismatch_report_cap` (java:45-46: first
  100 + "..more" marker).

`verify_state` runs stages 1 and 2 as one pass plus detail on failure. One
action aggregates the stage-2 join by key and then globally: status counts,
rows per side, keys present on one side only and keys repeated on either
side. When all are 0 (the tables agree), that action is the whole
verification; the count check per group follows from it when the group
columns are key columns. Only a non-zero count runs the capped report, the
per-group counts and, for a repeated key, exact side counts. The per-group
counts are the reference's first stage: here they explain a failure rather
than gate the diff.

No nested thread pools (java:51,81,135: 4x4 executors) — Spark executors
parallelize the join; the pass does the same shuffles whatever the
table/tenant count.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_migration_service_spark.functions.hashing import content_sha256, row_sha256

OK = "OK"
MISMATCH = "MISMATCH"
MISSING_IN_TARGET = "MISSING_IN_TARGET"
MISSING_IN_SOURCE = "MISSING_IN_SOURCE"


@dataclass
class VerifyResult:
    consistent: bool
    source_rows: int
    target_rows: int
    n_mismatch: int
    n_missing_in_target: int
    n_missing_in_source: int
    report: list[dict] = field(default_factory=list)  # capped
    more: bool = False
    count_by_group: list[dict] = field(default_factory=list)
    extra: dict[str, Any] = field(default_factory=dict)


def count_check(
    source: DataFrame, target: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Per-group row-count comparison (the cheap gate before hash diff)."""
    s = source.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("src_rows"))
    t = target.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("tgt_rows"))
    return (
        s.join(t, group_cols, "full_outer")
        .select(
            *group_cols,
            F.coalesce("src_rows", F.lit(0)).alias("src_rows"),
            F.coalesce("tgt_rows", F.lit(0)).alias("tgt_rows"),
        )
        .withColumn("count_ok", F.col("src_rows") == F.col("tgt_rows"))
    )


def _classify(s: DataFrame, t: DataFrame, key_cols: list[str]) -> DataFrame:
    """Full-outer join of (keys, src_hash, ...) with (keys, tgt_hash, ...)
    on the key, each output row classified into `status`."""
    status = (
        F.when(F.col("tgt_hash").isNull() & F.col("src_hash").isNotNull(),
               F.lit(MISSING_IN_TARGET))
        .when(F.col("src_hash").isNull() & F.col("tgt_hash").isNotNull(),
              F.lit(MISSING_IN_SOURCE))
        .when(F.col("src_hash") != F.col("tgt_hash"), F.lit(MISMATCH))
        .otherwise(F.lit(OK))
    )
    return s.join(t, key_cols, "full_outer").withColumn("status", status)


def hash_diff(
    source: DataFrame,
    target: DataFrame,
    key_cols: list[str],
    hash_col_source,
    hash_col_target,
) -> DataFrame:
    """Full-outer fingerprint join -> (keys..., src_hash, tgt_hash, status)."""
    return _classify(
        source.select(*key_cols, hash_col_source.alias("src_hash")),
        target.select(*key_cols, hash_col_target.alias("tgt_hash")),
        key_cols,
    )


def _count_if(cond: Column) -> Column:
    return F.sum(cond.cast("long"))


def verify_state(
    source: DataFrame,
    target: DataFrame,
    key_cols: list[str],
    content_col: str = "content",
    group_cols: list[str] | None = None,
    report_cap: int = 100,
) -> VerifyResult:
    """Full verification: counts, per-row content sha256, capped report.

    `source` is the expected final state (the oracle side), `target` the
    engine-materialized table. The per-row invariant is sha256(content)
    (BASELINE.json input_hint).

    One action answers the common case: the `hash_diff` join, with a
    literal side flag per row, grouped by key and summed. It yields the
    status counts (the same join rows and rules as `hash_diff`), the rows
    of each side, the join rows without a partner and the keys with more
    than one join row (a key repeated on either side). When all of these
    are 0, every key sits once on each side with equal content, so the
    report is empty, and so are the per-group counts when `group_cols` are
    key columns; the call returns there. Otherwise the detail queries run:
    the capped report (only for a non-OK status), `count_check`, and, when
    a key repeats (the side flags then count join rows, not rows), exact
    side counts. A repeated key makes the result inconsistent, with the
    number of such keys in `extra["duplicate_keys"]`.
    """
    group_cols = group_cols or [key_cols[0]]
    h = content_sha256(content_col)
    joined = _classify(
        source.select(*key_cols, h.alias("src_hash"), F.lit(1).alias("_s")),
        target.select(*key_cols, h.alias("tgt_hash"), F.lit(1).alias("_t")),
        key_cols,
    )
    status = F.col("status")
    per_key = joined.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("rows"),
        _count_if(status == MISMATCH).alias("mm"),
        _count_if(status == MISSING_IN_TARGET).alias("mt"),
        _count_if(status == MISSING_IN_SOURCE).alias("ms"),
        F.sum("_s").alias("sr"),
        F.sum("_t").alias("tr"),
        _count_if(F.col("_s").isNull() | F.col("_t").isNull()).alias("alone"),
    )
    agg = per_key.agg(
        *[F.sum(c).alias(c) for c in ("mm", "mt", "ms", "sr", "tr", "alone")],
        _count_if(F.col("rows") > 1).alias("dup"),
    ).collect()[0]
    n_mm, n_mt, n_ms, src_rows, tgt_rows, alone, dup = (
        int(agg[c] or 0) for c in ("mm", "mt", "ms", "sr", "tr", "alone", "dup"))
    n_bad = n_mm + n_mt + n_ms
    res = VerifyResult(
        consistent=True, source_rows=src_rows, target_rows=tgt_rows,
        n_mismatch=n_mm, n_missing_in_target=n_mt, n_missing_in_source=n_ms,
    )
    if n_bad == 0 and alone == 0 and dup == 0 and set(group_cols) <= set(key_cols):
        return res
    if dup:
        res.source_rows, res.target_rows = source.count(), target.count()
        res.extra["duplicate_keys"] = dup
    if n_bad:
        report_rows = (
            hash_diff(source, target, key_cols, h, h)
            .where(F.col("status") != OK)
            .orderBy(*key_cols)
            .limit(report_cap + 1)
            .collect()
        )
        res.report = [r.asDict() for r in report_rows[:report_cap]]
        res.more = len(report_rows) > report_cap
    counts = count_check(source, target, group_cols)
    res.count_by_group = [r.asDict() for r in counts.where(~F.col("count_ok"))
                          .limit(report_cap).collect()]
    res.consistent = (n_bad == 0 and dup == 0
                      and res.source_rows == res.target_rows)
    return res


def recheck_values(
    source: DataFrame,
    target: DataFrame,
    key_cols: list[str],
    flagged_keys: DataFrame,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Raw-value double-check of hash-flagged keys (reference J2:
    DataVerificationService.java:254-279,293-312).

    The reference re-fetches rows whose MD5 fingerprints disagreed and
    compares raw values column-by-column, because its two JDBC sources could
    MD5 the same logical value differently (emoji/encoding). Spark-side both
    fingerprints come from one sha2-over-UTF-8 implementation, so a hash
    mismatch is real — what this stage adds is the per-field diagnosis: for
    each flagged key, WHICH columns differ (and whether the row is missing
    on a side entirely, every compared column then reported).

    Scale shape: `flagged_keys` is a verification report (report-cap sized),
    so both semi-joins prune the big tables down to the flagged rows before
    the full-outer compare — never a second full-table pass.

    Returns (keys..., diff_cols csv, n_diffs, confirmed) — one row per
    flagged key; `confirmed=false` means the raw values actually agree (the
    false-positive case the reference built this stage for).
    """
    cols = sorted(
        compare_cols
        or [c for c in source.columns
            if c in target.columns and c not in key_cols]
    )
    keys = flagged_keys.select(*key_cols).distinct()
    s = (
        source.join(keys, key_cols, "left_semi")
        .select(*key_cols, *[F.col(c).alias(f"_s_{c}") for c in cols])
    )
    t = (
        target.join(keys, key_cols, "left_semi")
        .select(*key_cols, *[F.col(c).alias(f"_t_{c}") for c in cols])
    )
    j = keys.join(s, key_cols, "left").join(t, key_cols, "left")
    diffs = F.array_compact(
        F.array(*[
            F.when(~F.col(f"_s_{c}").eqNullSafe(F.col(f"_t_{c}")), F.lit(c))
            for c in cols
        ])
    )
    return j.select(
        *key_cols,
        F.concat_ws(",", diffs).alias("diff_cols"),
        F.size(diffs).alias("n_diffs"),
        (F.size(diffs) > 0).alias("confirmed"),
    )


def sample_filter(key_cols: list[str], denominator: int,
                  salt: str = "verify") -> F.Column:
    """Deterministic ~1/denominator membership predicate over the KEY.

    Membership is a pure function of the key — `sha256(salt ':' k1 ':' k2…)`
    first 8 hex chars compared against a fixed hex threshold (lexicographic
    == numeric order on fixed-width lowercase hex) — so BOTH sides of a
    verification select exactly the same logical rows regardless of
    partitioning, cluster size, or engine (the identical expression runs in
    ANSI SQL). Hashing the key (never the payload) is what keeps missing /
    divergent rows inside the sample detectable: a corrupted or dropped row
    cannot hash itself out of its own sample membership."""
    h = F.substring(
        F.sha2(F.concat_ws(
            ":", F.lit(salt), *[F.col(c).cast("string") for c in key_cols],
        ), 256), 1, 8)
    return h < F.lit(format(int(16 ** 8 / max(denominator, 1)), "08x"))


def verify_sample(
    source: DataFrame,
    target: DataFrame,
    key_cols: list[str],
    content_col: str = "content",
    denominator: int = 100,
    salt: str = "verify",
    group_cols: list[str] | None = None,
    report_cap: int = 100,
) -> VerifyResult:
    """Sampled verification — the continuous, every-epoch canary at 100 TB.

    A full per-row hash diff over 10^10 rows is a once-in-a-while job; this
    runs the SAME verification (counts + per-row sha256 + capped report)
    over a deterministic 1/`denominator` key-sample of both sides. The
    sample predicate is a sha2 expression, so it is NOT a parquet
    row-group filter — but it evaluates map-side inside the scan stage
    (whole-stage codegen Filter, no extra shuffle), and only the surviving
    ~1/N of rows pays the join/aggregate cost that dominates verification.
    Because membership depends only on the key, a row missing from one
    side is still missing from that side's sample — sampling reduces
    detection probability to the sample rate per bad row, never to zero
    for systematic corruption. Alternate `salt` per epoch to walk different
    1% slices across epochs (100 epochs with rotating salt ≈ full
    coverage). `extra` records the sampling parameters for the report."""
    pred = sample_filter(key_cols, denominator, salt)
    res = verify_state(
        source.where(pred), target.where(pred), key_cols,
        content_col=content_col, group_cols=group_cols,
        report_cap=report_cap,
    )
    res.extra["sampled"] = True
    res.extra["denominator"] = denominator
    res.extra["salt"] = salt
    return res


def verify_row_hashes(
    source: DataFrame,
    target: DataFrame,
    key_cols: list[str],
    exclude: tuple[str, ...] = (),
    report_cap: int = 100,
) -> DataFrame:
    """Whole-row fingerprint diff (reference's md5-over-all-columns mode,
    DBSqlGenerator.java:21-58) with tenant-style exclusions. Returns the
    classified diff DataFrame; callers aggregate/cap as needed."""
    cols = [c for c in source.columns if c in target.columns
            and c not in key_cols and c not in exclude]
    return hash_diff(
        source, target, key_cols,
        row_sha256(source, cols), row_sha256(target, cols),
    )


# ---------- hierarchical (Merkle-style) verification ----------


def key_bucket(key_cols: list[str], n_buckets: int,
               salt: str = "vbucket") -> F.Column:
    """Deterministic verification bucket of a row's KEY: first 8 hex chars
    of sha256(salt ':' k1 ':' k2 …) parsed to a long, mod `n_buckets`.

    Pure function of the key and engine-portable (the identical expression
    runs in ANSI SQL), so the same logical row lands in the same bucket on
    both sides of a verification regardless of partitioning, cluster size,
    or engine — the property every stage of `verify_hierarchical` rests on.
    """
    h = F.substring(
        F.sha2(F.concat_ws(
            ":", F.lit(salt), *[F.col(c).cast("string") for c in key_cols],
        ), 256), 1, 8)
    return F.pmod(F.conv(h, 16, 10).cast("long"), F.lit(n_buckets))


def bucket_signatures(
    df: DataFrame,
    key_cols: list[str],
    hash_col,
    n_buckets: int = 1024,
    salt: str = "vbucket",
) -> DataFrame:
    """Per-bucket verification signature: (bucket, n_rows, hash_sum,
    hash_xor) — the Merkle level above `hash_diff`'s row level.

    The row hash's first 8 hex chars become a 32-bit value combined with
    the two cheapest order-independent, partial-aggregable reductions
    (sum and xor). Either alone is forgeable by accident (xor cancels
    duplicate pairs, sum is robust to neither reorder nor offset trades
    but collides on swapped deltas); together with the row count the
    signature detects any single-row difference and any realistic
    multi-row corruption. One scan, map-side combine, and the shuffle
    carries `n_buckets` rows — not the table.

    hash_sum stays inside a long for < 2^31 rows per bucket (32-bit terms);
    size `n_buckets` so buckets stay under that (at 10^10 rows and the
    default 1024 buckets: ~10^7 rows/bucket — 4 orders of headroom).
    """
    h32 = F.conv(F.substring(hash_col, 1, 8), 16, 10).cast("long")
    return (
        df.select(
            key_bucket(key_cols, n_buckets, salt).alias("bucket"),
            h32.alias("_h32"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("_h32").alias("hash_sum"),
            F.bit_xor("_h32").alias("hash_xor"),
        )
    )


def _bucket_compare(src_sigs: DataFrame, tgt_sigs: DataFrame) -> DataFrame:
    """Full-outer join of the two signature sets: (bucket, src_rows,
    tgt_rows, dirty) for every bucket of either side, 0 rows for a side
    missing the bucket entirely."""
    s = src_sigs.select("bucket", F.col("n_rows").alias("_sn"),
                        F.col("hash_sum").alias("_ss"),
                        F.col("hash_xor").alias("_sx"))
    t = tgt_sigs.select("bucket", F.col("n_rows").alias("_tn"),
                        F.col("hash_sum").alias("_ts"),
                        F.col("hash_xor").alias("_tx"))
    dirty = (
        ~F.col("_sn").eqNullSafe(F.col("_tn"))
        | ~F.col("_ss").eqNullSafe(F.col("_ts"))
        | ~F.col("_sx").eqNullSafe(F.col("_tx"))
    )
    return s.join(t, "bucket", "full_outer").select(
        "bucket",
        F.coalesce("_sn", F.lit(0)).alias("src_rows"),
        F.coalesce("_tn", F.lit(0)).alias("tgt_rows"),
        dirty.alias("dirty"),
    )


def bucket_diff(src_sigs: DataFrame, tgt_sigs: DataFrame) -> DataFrame:
    """Dirty buckets: full-outer join of the two signature sets (≤ n_buckets
    rows per side — driver-trivial) keeping buckets whose signature differs.
    Output: (bucket, src_rows, tgt_rows) with 0 for a side missing the
    bucket entirely."""
    return (_bucket_compare(src_sigs, tgt_sigs)
            .where(F.col("dirty")).drop("dirty"))


def verify_hierarchical(
    source: DataFrame,
    target: DataFrame,
    key_cols: list[str],
    content_col: str = "content",
    n_buckets: int = 1024,
    salt: str = "vbucket",
    group_cols: list[str] | None = None,
    report_cap: int = 100,
) -> VerifyResult:
    """Merkle-style two-level verification — the 100 TB shape of
    `verify_state`.

    `verify_state` shuffles BOTH full tables into one row-level full-outer
    join: correct, but at 10^10 rows the verification itself costs a
    table-sized shuffle even when the tables are identical — the common
    case for a continuously-verified pipeline. This variant makes the
    identical-table case (and the few-bad-buckets case) cheap:

    1. per side: one scan -> per-bucket (count, hash_sum, hash_xor)
       signature; the shuffle carries n_buckets rows, not the table;
    2. signature compare (full-outer join of 2×n_buckets rows), collected
       to the driver -> dirty bucket set, and each side's row count (the
       sum of its bucket counts);
    3. clean verification exits here — two scans, ZERO row-level shuffle;
       otherwise the row-level `hash_diff` runs ONLY over rows whose key
       falls in a dirty bucket. The bucket predicate is a pure key
       expression evaluated map-side inside the scan stage; on a
       bucket-partitioned layout it prunes partitions outright.

    Detection: any single-row difference flips its bucket's signature
    (count, sum, or xor differs), so recall vs `verify_state` is exact for
    the realistic corruption classes; the constructed blind spot (a
    multi-row in-bucket edit preserving count, 32-bit sum AND xor
    simultaneously) is adversarial, not accidental — run full
    `verify_state` when the threat model includes an adversary. A dirty
    bucket always makes the result inconsistent, even when the drill-down
    classifies no row as bad (a key repeated on both sides).

    Returns the same `VerifyResult`, with `extra` recording
    n_buckets / dirty bucket ids / rows drilled, so callers can see the
    work actually done."""
    src_h = source.withColumn("_vh", content_sha256(content_col))
    tgt_h = target.withColumn("_vh", content_sha256(content_col))
    # every bucket's signature compare (≤ 2×n_buckets rows): the dirty set
    # and, summed, the exact row count of each side (n_rows counts every
    # row, NULL content included)
    buckets = _bucket_compare(
        bucket_signatures(src_h, key_cols, F.col("_vh"), n_buckets, salt),
        bucket_signatures(tgt_h, key_cols, F.col("_vh"), n_buckets, salt),
    ).collect()
    dirty_ids = sorted(r["bucket"] for r in buckets if r["dirty"])
    n_src = sum(r["src_rows"] for r in buckets)
    n_tgt = sum(r["tgt_rows"] for r in buckets)

    counts = count_check(source, target, group_cols or key_cols[:1])
    count_rows = counts.where(~F.col("count_ok")).limit(report_cap).collect()

    if not dirty_ids:
        return VerifyResult(
            consistent=n_src == n_tgt and not count_rows,
            source_rows=n_src, target_rows=n_tgt,
            n_mismatch=0, n_missing_in_target=0, n_missing_in_source=0,
            report=[], more=False,
            count_by_group=[r.asDict() for r in count_rows],
            extra={"n_buckets": n_buckets, "dirty_buckets": [],
                   "rows_drilled": 0},
        )

    in_dirty = key_bucket(key_cols, n_buckets, salt).isin(
        *[int(b) for b in dirty_ids])
    diff = hash_diff(
        src_h.where(in_dirty), tgt_h.where(in_dirty), key_cols,
        F.col("_vh"), F.col("_vh"),
    )
    agg = diff.groupBy("status").agg(F.count(F.lit(1)).alias("n")).collect()
    by_status = {r["status"]: r["n"] for r in agg}
    bad = diff.where(F.col("status") != OK)
    report = [r.asDict() for r in
              bad.select(*key_cols, "status").limit(report_cap + 1).collect()]
    more = len(report) > report_cap
    n_mm = by_status.get(MISMATCH, 0)
    n_mt = by_status.get(MISSING_IN_TARGET, 0)
    n_ms = by_status.get(MISSING_IN_SOURCE, 0)
    # the signatures are a function of each side's row multiset, so a
    # dirty bucket is a difference even when no join row is classified
    # bad (a key repeated on both sides, one copy each way)
    return VerifyResult(
        consistent=False,
        source_rows=n_src, target_rows=n_tgt,
        n_mismatch=n_mm, n_missing_in_target=n_mt, n_missing_in_source=n_ms,
        report=report[:report_cap], more=more,
        count_by_group=[r.asDict() for r in count_rows],
        extra={"n_buckets": n_buckets,
               "dirty_buckets": [int(b) for b in dirty_ids],
               "rows_drilled": int(sum(by_status.values()))},
    )
