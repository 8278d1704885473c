"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload archive_queries --seed 1 --seconds 10 --trace 0

Run from the repository root. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the lines before it
are a readable report (every metric with its unit and sample count, and
the output checks). ``--trace 1`` reports the per-layer metrics instead
of the end-to-end ones and writes spans and layer numbers under
``.perfbench/``. See README.md for the metric definitions.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("archive_queries", "curation", "backfill", "stream_dedup")
PKG = "gh_archive_clickhouse_spark"

# Per-layer metrics reported by a traced run (BENCHMARK.json ``per_layer``).
# A layer a workload never reaches reads 0.
CURATION_WALLS = ("qx32", "qx57")
OPERATOR_FUNCS = (
    "operators.dedup.connected_components",
    "operators.dedup.minhash_signatures",
    "operators.dedup.shingle_sets",
    "operators.dedup.lsh_candidate_pairs_between",
    "operators.dedup.cross_split_candidates",
    "operators.dedup.dedup_survivors",
    "operators.similarity.near_duplicate_pairs",
)


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _pin_environment(work: str) -> int:
    """One Spark driver process on local[nproc]; temp files, spill and the
    warehouse under the run's work dir; no durable materialize dir."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    for var in ("SPARK_GRAFT_MATERIALIZE_DIR", "SPARK_GRAFT_MASTER"):
        os.environ.pop(var, None)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    import tempfile

    tempfile.tempdir = tmp
    return cpus


def _spark_conf(work: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    conf = {
        # -Xms: the whole (default 1g) heap from the start, so GC does not
        # depend on how the heap happened to grow
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Xms1g -Djava.io.tmpdir={tmp}",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the fingerprint hashes every column, map-typed ones included
        "spark.sql.legacy.allowHashOnMapType": "true",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # keep every job and stage in the status store for the counters
        conf.update(
            {
                "spark.ui.retainedJobs": "1000000",
                "spark.ui.retainedStages": "1000000",
                "spark.ui.retainedTasks": "1000000",
            }
        )
    return conf


def _generate(workload: str, seed: int, work: str) -> dict:
    import inputs
    import workloads as wl

    data = os.path.join(work, "data")
    if workload in ("archive_queries", "curation"):
        inputs.write_tables(seed, data)
        return {"sf_dir": data}
    if workload == "backfill":
        gen = inputs.hour_files(seed, data, wl.BACKFILL_HOURS, wl.BACKFILL_PER_HOUR)
        return {"hours_dir": data, "gen": gen}
    docs = inputs.documents(seed, wl.STREAM_DOCS)
    os.makedirs(data)
    docs_path = os.path.join(data, "documents.parquet")
    docs.to_parquet(docs_path, index=False)
    inputs.epoch_files(docs, seed, wl.STREAM_EPOCHS, os.path.join(data, "epochs"))
    # the warm-up stream runs other documents, at the same epoch size
    warm_docs = wl.STREAM_DOCS * wl.STREAM_WARM_EPOCHS // wl.STREAM_EPOCHS
    warm = inputs.documents(seed + 1_000_003, warm_docs)
    inputs.epoch_files(warm, seed, wl.STREAM_WARM_EPOCHS, os.path.join(data, "warm"))
    return {
        "docs_path": docs_path,
        "src": os.path.join(data, "epochs"),
        "warm_src": os.path.join(data, "warm"),
    }


def _run_workload(run, workload: str, inp: dict) -> None:
    import workloads as wl

    if workload == "archive_queries":
        wl.archive_queries(run, inp["sf_dir"])
    elif workload == "curation":
        wl.curation(run, inp["sf_dir"])
    elif workload == "backfill":
        wl.backfill(run, inp["hours_dir"], inp["gen"])
    else:
        wl.stream_dedup(run, inp["docs_path"], inp["src"], inp["warm_src"])


def _end_to_end(run, setup_s: float) -> dict[str, tuple[float, str, int]]:
    good = [o for o in run.ops if o["ok"]]
    return {
        "setup_s": (setup_s, "s", 1),
        "pass_s": (run.pass_s(), "s", len(good)),
    }


COUNTERS = (
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("task_s", "s"), ("driver_gap_s", "s"), ("shuffle_bytes", "B"),
    ("spill_bytes", "B"), ("input_bytes", "B"), ("output_bytes", "B"),
    ("plan_nodes", "count"), ("exchanges", "count"),
)


def _per_layer(run, tracer, session_s: dict) -> dict[str, tuple[float, str]]:
    """Per-layer numbers of a traced run. Spark counters are means per
    timed operation over all of them; span times are per traced
    operation (every other pass or repetition is traced)."""
    from benchstats import median

    ops = [o for o in run.ops if o["ok"]]
    n_ops = max(1, len(ops))
    n_traced = max(1, sum(1 for o in ops if o["traced"]))
    st = tracer.self_times()

    def span(name: str, field: str) -> float:
        return st.get(name, {}).get(field, 0.0) / n_traced

    def med(key: str, rows=ops) -> float:
        return median([o[key] for o in rows if key in o])

    out: dict[str, tuple[float, str]] = {}
    for key, unit in COUNTERS:
        out[f"spark.{key}"] = (sum(o.get(key, 0) for o in ops) / n_ops, unit)
    out["plans.builder_s"] = (med("builder_s"), "s")
    out["plans.action_s"] = (med("action_s"), "s")
    out["plans.common.materialize.calls"] = (span("plans.common.materialize", "calls"), "count")
    out["plans.common.snapshot_result.s"] = (span("plans.common.snapshot_result", "s"), "s")
    for q in CURATION_WALLS:
        out[f"plans.{q}.wall_s"] = (
            median([o["wall"] for o in ops if o["name"].startswith(q + "_")]), "s")
    for fn in OPERATOR_FUNCS:
        out[f"{fn}.calls"] = (span(fn, "calls"), "count")
        out[f"{fn}.s"] = (span(fn, "self_s"), "s")

    traced = [o for o in ops if o["traced"]]
    out["sources.gharchive.fetch_s"] = (med("fetch_s", traced), "s")
    out["sources.ndjson.parse_s"] = (med("parse_s", traced), "s")
    out["sources.sinks.write_events_s"] = (med("write_events_s", traced), "s")
    out["sources.sinks.compact_s"] = (med("compact_s"), "s")
    out["sources.sinks.files_written"] = (med("files_written"), "count")
    out["sources.sinks.bytes_written"] = (med("bytes_written"), "B")
    out["sources.ndjson.rows_kept_frac"] = (med("rows_kept_frac"), "ratio")

    batches = [b for o in ops for b in o.get("batches", [])]
    out["streaming.dedup_stream.sink_s"] = (median([b["sink_s"] for b in batches]), "s")
    out["streaming.trigger_overhead_s"] = (
        median([b["trigger_s"] - b["sink_s"] for b in batches]), "s")
    for kind in ("major", "minor"):
        out[f"streaming.dedup_stream.fold_{kind}.count"] = (
            sum(o["folds"][kind] for o in ops if "folds" in o) / n_ops, "count")
    out["streaming.dedup_stream.fold_cluster_labels.s"] = (
        span("streaming.dedup_stream.fold_cluster_labels", "s"), "s")
    out["streaming.inter_trigger_s"] = (
        median([g for o in ops for g in o.get("inter_trigger_s", [])]), "s")
    out["streaming.state_bytes"] = (med("state_bytes"), "B")

    out["session.get_spark_s"] = (session_s["get_spark_s"], "s")
    out["session.warm_s"] = (session_s["warm_s"], "s")
    out["session.peak_rss_mb"] = (session_s["peak_rss_mb"], "MB")

    # tracing overhead: traced minus untraced operation walls, per
    # operation name, relative to the untraced
    rel = []
    for name in {o["name"] for o in ops}:
        tw = [o["wall"] for o in ops if o["name"] == name and o["traced"]]
        uw = [o["wall"] for o in ops if o["name"] == name and not o["traced"]]
        if tw and uw:
            rel.append(median(tw) / median(uw) - 1.0)
    out["trace.overhead_frac"] = (median(rel), "ratio")
    out["counters.unstable_pairs"] = (float(len(run.notes.get("unstable", []))), "count")
    return out


def _counter_steadiness(run) -> None:
    """(operation, counter) pairs whose value differs between timed
    passes of the same operation."""
    by: dict[tuple[str, str], set] = {}
    for o in run.ops:
        if not o["ok"]:
            continue
        for c in ("jobs", "stages", "tasks", "plan_nodes", "exchanges"):
            if c in o:
                by.setdefault((o["name"], c), set()).add(o[c])
    run.notes["unstable"] = sorted(
        f"{op}:{c}={sorted(v)}" for (op, c), v in by.items() if len(v) > 1
    )
    run.notes["exact"] = sorted(f"{op}:{c}" for (op, c), v in by.items() if len(v) == 1)


def _peak_rss_bytes(spark) -> int:
    """Peak resident memory of this process plus the Spark JVM."""
    import resource

    total = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss * 1024
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1]) * 1024
    return total


def _stop(spark) -> None:
    """Stop Spark and wait until its JVM (and with it the Python
    workers it forked) has exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = _args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PKG, "session.py")):
        print(f"run from the repository root: ./{PKG} not found", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    out_dir = os.path.join(root, ".perfbench")
    work = os.path.join(out_dir, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        cpus = _pin_environment(work)
        t = time.perf_counter()
        inp = _generate(args.workload, args.seed, work)
        gen_s = time.perf_counter() - t

        from gh_archive_clickhouse_spark.session import get_spark

        import workloads as wl
        from tracing import SparkCounters, Tracer

        tracer = Tracer()
        if args.trace:
            tracer.install()
        t_spark = time.perf_counter()
        spark = get_spark(
            app_name="perfbench",
            master=f"local[{cpus}]",
            extra_conf=_spark_conf(work, bool(args.trace)),
        )
        spark.sparkContext.setLogLevel("ERROR")
        get_spark_s = time.perf_counter() - t_spark
        # process start to a live session, input generation excluded
        boot_s = time.perf_counter() - T_START - gen_s
        counters = SparkCounters(spark) if args.trace else None
        run = wl.Run(spark, work, args.seed, args.seconds, bool(args.trace),
                     tracer, counters)
        t_work = time.perf_counter()
        _run_workload(run, args.workload, inp)
        work_s = time.perf_counter() - t_work
        setup_s = boot_s + run.warm_s
        if args.trace:
            _counter_steadiness(run)
        peak_rss = _peak_rss_bytes(spark)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    lines = [f"workload {args.workload} seed {args.seed} cpus {cpus}: input generation "
             f"{gen_s:.2f} s (not in setup_s), boot {boot_s:.2f} s, workload {work_s:.2f} s "
             f"(warm-up {run.warm_s:.2f} s, timed {run.busy_s:.2f} s), "
             f"total {time.perf_counter() - T_START:.2f} s"]
    e2e = _end_to_end(run, setup_s)
    for name, (v, unit, n, note) in run.report.items():
        val = "n/a" if v is None else f"{v:.6g}"
        lines.append(f"  {name:<28} {val:>12} {unit:<6} n={n} {note}")
    for name, (v, unit, n) in e2e.items():
        lines.append(f"  {name:<28} {v:>12.6g} {unit:<6} n={n}")
    lines.append(f"  {'peak_rss_mb':<28} {peak_rss / 2**20:>12.6g} MB     n=1")
    failed, attempted = run.failed, run.attempted
    lines.append(f"  {'failed_frac':<28} {failed / max(1, attempted):>12.6g} ratio  "
                 f"n={attempted}")
    for c in run.checks:
        lines.append(f"  check {c['name']}: {'ok' if c['ok'] else 'FAILED ' + c['detail']}")
    for o in run.ops:
        if not o["ok"]:
            lines.append(f"  op {o['name']} FAILED {o.get('error', 'output check')}")
    for name, why in sorted(run.notes.get("spark_only", {}).items()):
        lines.append(f"  checked only against Spark: {name} ({why})")

    if args.trace:
        session_s = {"get_spark_s": get_spark_s, "warm_s": run.warm_s,
                     "peak_rss_mb": peak_rss / 2**20}
        layers = _per_layer(run, tracer, session_s)
        metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in layers.items()}
        dest = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
        os.makedirs(dest, exist_ok=True)
        tracer.write(os.path.join(dest, "spans.jsonl"))
        st = tracer.self_times()
        busy = max(run.busy_s, 1e-9)
        with open(os.path.join(dest, "layers.json"), "w") as fh:
            json.dump({
                "per_layer": layers,
                "functions": {k: {**v, "share_of_wall": v["self_s"] / busy}
                              for k, v in sorted(st.items())},
                "functions_over_1pct": sorted(
                    k for k, v in st.items() if v["self_s"] / busy >= 0.01),
                "trace_overhead_frac": layers["trace.overhead_frac"][0],
                "exact_counters": run.notes.get("exact", []),
                "unstable_counters": run.notes.get("unstable", []),
                "ops": [{k: v for k, v in o.items() if k != "batches"} for o in run.ops],
                "end_to_end": {k: v[0] for k, v in e2e.items()},
            }, fh, indent=1, default=str)
        lines.append(f"  trace written to {os.path.relpath(dest, root)}/")
        lines.append(f"  trace overhead {layers['trace.overhead_frac'][0]:+.3f} of op wall")
        for u in run.notes.get("unstable", []):
            lines.append(f"  counter differs between passes: {u}")
    else:
        metrics = {k: {"value": float(v), "unit": u} for k, (v, u, _) in e2e.items()}
    print("\n".join(lines))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
