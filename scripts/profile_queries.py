"""Isolated min-of-N profile of named registry queries, layer by layer.

Usage:
    python scripts/profile_queries.py --queries qx9_lsh_candidates,qx57_split_leakage_cut \
        --sf-dir /root/testdata/sf0.1 --runs 4 \
        [--plans-dir plans/r17 --suffix before] [--out prof.json] [--jobs]

Per query: one warm-up invocation (codegen compile), then N timed ones.
Each timed invocation builds the query and runs its result frame's own
executed plan over every row (``queryExecution().toRdd().count()``:
the noop sink's work, with the final adaptive plan left on the frame).
One JSON line per query:

- ``min`` and ``samples``: the walls in seconds;
- the last timed run's Spark counters from the status store
  (``perfbench/tracing.SparkCounters``): jobs, stages, tasks,
  ``task_s``, ``driver_gap_s``, shuffle, spill, input and output
  bytes. The store sees every thread's jobs, stream-execution threads
  included, with the UI off;
- ``plan_nodes`` and ``exchanges`` of that run's executed plan
  (``perfbench/tracing.plan_stats``);
- ``py4j_calls``: the py4j round-trips of that run, build and action,
  from every thread (``gh_archive_clickhouse_spark.profile.py4j_calls``).
  A call that waits on no job costs 25-80 µs of driver time that no
  counter above sees.

``--plans-dir`` writes ``explain("formatted")`` of the result frame to
``<plans-dir>/<query>_<suffix>.txt`` before the timed runs. ``--jobs``
also prints the last run's jobs: id, milliseconds, stages, tasks, job
group and description. ``--out`` writes every record to one JSON file.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "perfbench"))

from tracing import SparkCounters, plan_stats  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def _run(spark, builder, sf_dir: str):
    """One invocation: build, then execute the result's own plan."""
    df = builder(spark, sf_dir)
    df._jdf.queryExecution().toRdd().count()
    return df


def _dump_plan(df, path: str) -> None:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    with open(path, "w") as f:
        f.write(buf.getvalue())


def _print_jobs(store, first: int, last: int) -> None:
    """One line per job id in ``[first, last]``."""
    def opt(o, default):
        return o.get() if o.isDefined() else default

    for j in range(first, last + 1):
        jd = store.job(j)
        s, e = opt(jd.submissionTime(), None), opt(jd.completionTime(), None)
        ms = e.getTime() - s.getTime() if s is not None and e is not None else -1
        print(
            f"  job {j:>5} {ms:>7} ms  stages={jd.stageIds().size():>3} "
            f"tasks={jd.numTasks():>5}  group={opt(jd.jobGroup(), '-')}  "
            f"{' '.join(opt(jd.description(), jd.name()).split())[:100]}",
            flush=True,
        )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--queries", required=True)
    ap.add_argument("--runs", type=int, default=4)
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--out", default=None)
    ap.add_argument("--jobs", action="store_true")
    args = ap.parse_args()

    from gh_archive_clickhouse_spark.plans.common import read
    from gh_archive_clickhouse_spark.plans.registry import QUERIES
    from gh_archive_clickhouse_spark.profile import py4j_calls
    from gh_archive_clickhouse_spark.session import get_spark

    # The status store keeps 1000 jobs and stages by default; a long
    # profile session would evict a heavy query's stages mid-read.
    spark = get_spark(
        app_name="profile",
        extra_conf={
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    for t in TABLES:
        with contextlib.suppress(Exception):
            read(spark, args.sf_dir, t).count()
    for warm in ("qt1_pricing_summary", "qt2_regional_revenue"):
        if warm in QUERIES:
            _run(spark, QUERIES[warm].builder, args.sf_dir)
    counters = SparkCounters(spark)

    names = [n.strip() for n in args.queries.split(",") if n.strip()]
    results = {}
    for name in names:
        builder = QUERIES[name].builder
        if args.plans_dir:
            os.makedirs(args.plans_dir, exist_ok=True)
            _dump_plan(
                builder(spark, args.sf_dir),
                os.path.join(args.plans_dir, f"{name}_{args.suffix}.txt"),
            )
        _run(spark, builder, args.sf_dir)  # warm-up
        samples = []
        for _ in range(args.runs):
            counters.skip()
            first_job = counters.last + 1
            with py4j_calls() as calls:
                e0, t0 = time.time(), time.perf_counter()
                df = _run(spark, builder, args.sf_dir)
                t1 = time.perf_counter()
            samples.append(round(t1 - t0, 3))
        # counters of the last (steady-state) run
        rec = {"min": min(samples), "samples": samples}
        rec.update(counters.collect((t0, t1), e0))
        rec.update(plan_stats(df))
        rec["py4j_calls"] = calls.n
        results[name] = rec
        print(json.dumps({name: rec}), flush=True)
        if args.jobs:
            _print_jobs(counters.store, first_job, counters.last)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(results, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
