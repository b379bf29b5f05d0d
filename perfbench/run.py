"""Benchmark runner for the CDC engine.

    python3 perfbench/run.py --workload ingest_tail --seed 1 --seconds 20 --trace 0

Runs one workload (`ingest_tail` or `lookup_serve`; `all` runs each in turn
in one process and prints the metrics of the last) and prints a report,
then, as the last line of standard output, one JSON object: {"correct",
"attempted", "failed", "metrics"}. `--trace 0` reports the end-to-end metrics; `--trace 1` runs the
same work with a span and a Spark job group around every call and reports
the per-layer metrics instead, writing the spans and a per-layer table under
`.perfbench_work/trace/`. `--toy` shrinks every size for a quick self-check.

The runner pins the host from outside the engine (driver heap, local[N],
Spark local dirs) and keeps everything it writes inside the checkout.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
HEAP = "2g"
CORES = min(4, len(os.sched_getaffinity(0)))
TRACE_LAYERS = ("replay", "derived", "registry", "api", "lake", "verify",
                "sql_route", "colocated", "spark")


def process_age() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def source_id() -> str:
    """git SHA of the checkout, or a hash of the engine sources when the
    checkout is not a git repository."""
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        ref = open(head).read().strip()
        if ref.startswith("ref: "):
            p = os.path.join(ROOT, ".git", ref[5:])
            if os.path.exists(p):
                return "git:" + open(p).read().strip()
        else:
            return "git:" + ref
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(
            ROOT, "data_migration_service_spark", "**", "*.py"),
            recursive=True)):
        h.update(open(p, "rb").read())
    return "src-sha256:" + h.hexdigest()[:16]


def pin_host(run_dir: str, trace: bool) -> None:
    """Environment the engine's session factory reads, set before the JVM
    starts: fixed heap, local dirs and temp dirs inside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["DMS_SPARK_UI"] = "true" if trace else "false"
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    tempfile.tempdir = tmp


def host_facts(spark, seed: int) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    return {
        "nproc": os.cpu_count(), "cores_used": CORES,
        "ram_gb": round(mem_kb / 1024**2, 1), "heap": HEAP,
        "source": source_id(),
        "java": spark._jvm.System.getProperty("java.version"),
        "spark": spark.version, "seed": seed,
    }


def steal_s() -> float:
    """Seconds the host ran other guests while this machine's CPUs wanted
    to run, summed over CPUs (the `steal` column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def end_to_end(w) -> dict:
    """Timed calls in seconds of the reference host, scaled by the run's
    calibrations (see `workloads.CAL_REF_S`); their raw wall times are
    `wall_times`. Set-up is wall time: scaled, it spread more than raw."""
    r = w.run
    return {
        "setup_s": (w.setup_wall_s, "s"),
        "epoch_s_p50": (statistics.median(r.scaled("epoch")), "s"),
        "ingest_events_per_s": (r.epoch_events / sum(r.scaled("epoch")),
                                "1/s"),
        "read_s_p50": (statistics.median(r.scaled("read")), "s"),
        "stored_bytes_per_row": (r.facts["stored_bytes"]
                                 / r.facts["live_rows"], "bytes"),
    }


def wall_times(w) -> dict:
    """The end-to-end times as measured, before scaling."""
    r = w.run
    return {"setup_s": w.setup_wall_s,
            "epoch_s_p50": statistics.median(r.epoch_s),
            "ingest_events_per_s": r.epoch_events / sum(r.epoch_s),
            "read_s_p50": statistics.median(r.read_s),
            "calibration_s_p50": statistics.median(r.cal_s())}


def per_layer(w, tr, probe: dict, gc_s: float) -> dict:
    r = w.run
    spans = tr.spans
    named = lambda *names: [s for s in spans if s["name"] in names]  # noqa: E731
    total = lambda xs, k: sum(s[k] for s in xs)  # noqa: E731
    ep = named("apply_batch")
    reads = named(*w.read_spans)
    looks = named("lookup", "lookup_collect")
    sync = named("sync")
    n_ep, n_ops = len(ep), len(r.read_s)
    plain = [e["s"] for e in r.epochs if not e["compacted"]]
    total_self = total(spans, "self_s")
    layer = tr.by_layer()
    out = {
        "spark.jobs": (total(spans, "jobs"), "count"),
        "spark.tasks": (total(spans, "tasks"), "count"),
        "spark.gc_s": (gc_s, "s"),
        "replay.jobs_per_epoch": (total(ep, "jobs") / n_ep, "count"),
        "replay.driver_cpu_s_per_epoch": (
            total(ep, "driver_cpu_s") / n_ep, "s"),
        "replay.plain_epoch_s_p50": (
            statistics.median(plain) if plain else 0.0, "s"),
        "replay.compact_epochs": (
            sum(1 for e in r.epochs if e["compacted"]), "count"),
        "registry.decode_s_p50": (r.layer["registry.decode_s_p50"], "s"),
        "merge.tasks_per_epoch": (total(ep, "tasks") / n_ep, "count"),
        "merge.dedup_ratio": (
            sum(e["rows_after_dedup"] for e in r.epochs)
            / sum(e["rows_in_batch"] for e in r.epochs), "ratio"),
        "merge.shuffle_write_bytes_per_epoch": (
            total(ep, "shuffle_write_bytes") / n_ep, "bytes"),
        "merge.compact_bytes_rewritten": (
            sum(e["compact_bytes"] for e in r.epochs), "bytes"),
        "lake.bytes_written_per_event": (
            total(ep, "output_bytes") / r.epoch_events, "bytes"),
        "lake.data_files": (r.facts["data_files"], "count"),
        "lake.delta_dirs_max": (r.facts["delta_dirs_max"], "count"),
        "lake.read_files_per_op": (probe["files_per_op"], "count"),
        "lake.read_rows_scanned_per_row_returned": (
            total(reads, "input_records")
            / max(1, probe["rows_returned"] * n_ops), "ratio"),
        "api.read_call_s_p50": (statistics.median(r.call_s), "s"),
        "api.read_consume_s_p50": (statistics.median(r.consume_s), "s"),
        "api.read_jobs_per_op": (total(reads, "jobs") / n_ops, "count"),
        "api.read_shuffle_bytes_per_op": (
            total(reads, "shuffle_write_bytes") / n_ops, "bytes"),
        "api.lookup_plan_s_p50": (statistics.median(r.lookup_plan_s), "s"),
        "api.lookup_exec_s_p50": (statistics.median(r.lookup_exec_s), "s"),
        "api.lookup_jobs": (total(looks, "jobs") / len(r.lookup_plan_s),
                            "count"),
        "lake.lookup_files_per_key": (
            statistics.median(r.lookup_files), "count"),
        "lake.lookup_rows_scanned_per_row_returned": (
            total(looks, "input_records") / max(1, r.lookup_rows), "ratio"),
        "derived.sync_share": (r.layer.get("derived.sync_share", 0.0),
                               "ratio"),
        "derived.jobs_per_sync": (
            total(sync, "jobs") / len(sync) if sync else 0, "count"),
    }
    for name, unit in (("sql_route.routed", "count"),
                       ("sql_route.naive_over_routed", "ratio"),
                       ("colocated.key_exchanges", "count"),
                       ("colocated.broadcasts", "count")):
        out[name] = (r.layer.get(name, 0), unit)
    for name in TRACE_LAYERS:
        out[f"{name}.self_share"] = (
            layer.get(name, {}).get("self_s", 0.0) / total_self, "ratio")
    return out


def run_one(spark, name: str, a, facts: dict, t_start: float,
            run_dir: str) -> tuple[dict, object]:
    """Set up and run one workload. `t_start` (monotonic) is where its
    set-up time starts: process start for the first workload."""
    from perfbench.spans import Tracer
    from perfbench.workloads import SIZES, TOY, WORKLOADS, scaled

    trace, seed = bool(a.trace), a.seed
    tr = Tracer(spark, name, trace)
    sizes = scaled((TOY if a.toy else SIZES)[name], a.seconds)
    w = WORKLOADS[name](spark, os.path.join(run_dir, name), seed, sizes, tr)
    w.setup()
    # one build counts in set-up; the repeats only give its median
    w.setup_wall_s = (time.monotonic() - t_start
                      + statistics.median(w.build_s) - sum(w.build_s))
    st0, t0 = steal_s(), time.monotonic()
    w.timed()
    w.run.facts.update(timed_wall_s=time.monotonic() - t0,
                       timed_steal_s=steal_s() - st0)
    if not trace:
        return end_to_end(w), w
    w.traced_extras()
    probe = w.read_probe()
    metrics = per_layer(w, tr, probe, tr.attach_spark_metrics())
    e2e = end_to_end(w)
    out_dir = os.path.join(WORK, "trace", f"{name}-seed{seed}")
    header = dict(facts)
    header.update(traced_e2e={k: round(v[0], 4) for k, v in e2e.items()})
    base = os.path.join(WORK, "results", f"{name}-seed{seed}-trace0.json")
    ref = json.load(open(base)) if os.path.exists(base) else {}
    if ref.get("sizes") == w.sz:
        ref = ref["metrics"]
        header["tracing_overhead"] = {
            k: round(e2e[k][0] / ref[k]["value"] - 1, 4)
            for k in ("epoch_s_p50", "read_s_p50", "ingest_events_per_s")}
    w.layer_table = tr.write(out_dir, header)
    return metrics, w


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true",
                    help="tiny sizes: a self-check of the answer checks")
    a = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "data_migration_service_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    names = list(WORKLOADS) if a.workload == "all" else [a.workload]
    if any(n not in WORKLOADS for n in names):
        print(f"unknown workload {a.workload!r}; one of {list(WORKLOADS)} "
              f"or all", file=sys.stderr)
        return 2

    t_start = time.monotonic() - process_age()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    pin_host(run_dir, bool(a.trace))
    from pyspark import SparkContext

    from data_migration_service_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench", master=f"local[{CORES}]",
        extra_conf={"spark.ui.showConsoleProgress": "false",
                    "spark.ui.retainedJobs": "100000",
                    "spark.ui.retainedStages": "100000"})
    attempted = failed = 0
    metrics: dict = {}
    try:
        facts = host_facts(spark, a.seed)
        for name in names:
            m, w = run_one(spark, name, a, facts, t_start, run_dir)
            t_start = time.monotonic()
            attempted += w.run.ops
            failed += w.run.failed
            metrics = m
            report(name, facts, m, w)
            if not a.toy:
                save(name, a.seed, a.trace, facts, m, w)
    finally:
        gw = SparkContext._gateway
        spark.stop()
        if gw is not None:
            gw.shutdown()
            gw.proc.terminate()
            gw.proc.wait(timeout=60)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def report(name: str, facts: dict, metrics: dict, w) -> None:
    r = w.run
    print(f"== {name}  " + "  ".join(f"{k}={v}" for k, v in facts.items()))
    print(f"   sizes {w.sz}")
    print(f"   setup steps (s) {w.setup_parts}  builds (s) "
          f"{[round(x, 3) for x in w.build_s]}")
    print(f"   epochs_s {[round(x, 3) for x in r.epoch_s]}  "
          f"reads_s {[round(x, 3) for x in r.read_s]}")
    print("   calls (kind, wall s, CPU s): " + " ".join(
        f"{k}:{wall:.3f}/{cpu:.2f}" for k, wall, cpu in r.samples))
    print(f"   timed phase: {r.facts['timed_wall_s']:.3f} s wall, "
          f"{r.facts['timed_steal_s']:.3f} s stolen by other guests")
    for k, v in wall_times(w).items():
        print(f"   {'(wall) ' + k:<42} {v:>16.6g}")
    for k, (v, u) in metrics.items():
        print(f"   {k:<42} {v:>16.6g} {u}")
    print(f"   {'failed_ops_ratio':<42} {r.failed / r.ops:>16.6g} ratio "
          f"({r.failed} of {r.ops})")
    for e in r.errors:
        print(f"   FAILED: {e}")
    if getattr(w, "layer_table", None):
        print(w.layer_table)


def save(name, seed, trace, facts, metrics, w) -> None:
    d = os.path.join(WORK, "results")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{name}-seed{seed}-trace{trace}.json"), "w") as f:
        json.dump({"host": facts, "sizes": w.sz,
                   "metrics": {k: {"value": v, "unit": u}
                               for k, (v, u) in metrics.items()},
                   "wall": wall_times(w),
                   "epoch_s": w.run.epoch_s, "read_s": w.run.read_s,
                   "samples": w.run.samples,
                   "epochs": w.run.epochs, "facts": w.run.facts,
                   "attempted": w.run.ops, "failed": w.run.failed,
                   "errors": w.run.errors}, f, indent=1)


if __name__ == "__main__":
    sys.exit(main())
