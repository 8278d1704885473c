#!/usr/bin/env python3
"""Benchmark harness: times every declared query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "total_query_wall_sec", "value": N, "unit": "sec",
   "batch_total": N_b, "stream_total": N_s,
   "queries": {name: sec, ...}, "sf": 0.1}

``value`` = batch_total + stream_total. The split matters for reading
rounds against each other: stream_total is dominated by stream-startup
machinery (checkpoint dirs, state-store commits, memory-sink
round-trips), not engine throughput, and the round-2/3 comparison
showed the combined number carries >=15% environment variance on
byte-identical code — keep regressions analyses on batch_total.

Each query is materialized with the `noop` sink (full execution, no
driver-side collect) — the number measures the engine, not pandas
conversion. Each query runs $SPARK_GRAFT_BENCH_RUNS times (default 2)
and reports the fastest: the first run pays one-time whole-stage-
codegen compilation, which at target scale amortizes to zero, so
steady-state is the honest per-query number.

CALIBRATION: twice in three rounds the whole suite inflated uniformly
(+43% in r7, +12-15% in r6 soaks) on byte-identical code — a noisy /
contended container, not plan regressions, but indistinguishable from
them in raw wall-clock. The harness therefore times a PINNED probe —
a fixed lineitem scan-aggregate that never changes as the registry
grows — immediately before the first timed query and again after the
last (median of 3 runs each), and emits both: ``cal_first`` /
``cal_last`` / ``cal_sec`` (their mean) plus ``value_norm``
(= value / cal_sec). A uniform environment shift moves the probe by
the same factor as every query, so calibration-normalized times
(query_sec / cal_sec) are comparable across rounds and machines;
only normalized deltas count as regressions. The full per-query map
of raw AND normalized times is written to ``bench_report.json`` at
the repo root (the stdout JSON line must stay under the driver's
2000-char snapshot, which two 137-entry maps would blow).

The harness also ACTS on the calibration instead of leaving the
analysis to the reader:

* ``cal_drift`` = max(cal_first, cal_last)/min(...) — the within-run
  environment drift; ``cal_noisy`` flags a run whose drift exceeds
  1.25x (the r8 driver run hit 1.9x), meaning even normalized
  per-query numbers carry position-dependent skew that round.
* ``regressions_norm`` — before overwriting ``bench_report.json``,
  a comparison BASE is chosen (``select_baseline``): the on-disk
  prior report when it matches the SF and is NOT cal_noisy, else
  the newest committed solo snapshot (``BENCH_LOCAL_r*.json``),
  else the noisy on-disk report with ``prev_noisy`` stamped —
  ``bench_report.json`` is untracked, so "whatever ran last in this
  container" can be a contended driver run that manufactures
  phantom flags (the r10 qm7 / r10-driver qx38/qx39/qx63 lessons).
  Against that base, every non-streaming, not-declared-changed
  query whose normalized time grew >25% (and by >0.5 probe units,
  so sub-100ms jitter can't qualify) is listed
  {name: [prev_norm, cur_norm]}. Streaming queries are excluded
  (their startup jitter is >=15% on identical code — the batch_norm
  policy); queries in the registry's _CHANGED list are excluded
  because their code intentionally changed. RAW-DELTA EXONERATION:
  a candidate whose RAW time moved <=10% vs the base cannot be a
  regression regardless of normalization (a genuine plan regression
  does more work; more work takes more raw time at constant
  environment speed) — it is demoted to ``cal_only_flags``. The
  rule disarms when this run's probe is >10% faster than the
  base's, where flat raw could hide a regression paid for by the
  environment speedup.
* ``lat_sec`` — a SECOND probe for the environment component the
  scan-aggregate can't see: per-JOB scheduling latency. The r9
  driver run proved the gap — seven sub-1.7s queries inflated
  1.4-3.9x normalized while the scan probe moved only 8%, because
  small queries at sf0.1 are job-count-dominated (each Spark job
  carries a fixed scheduler/round-trip cost that contended
  environments inflate independently of scan throughput), and all
  seven were byte-identical code that the solo run timed flat. The
  latency probe is the median of 5 one-task noop jobs (no data
  read), taken first-and-last like the scan probe. A candidate
  regression must now show >25% growth under BOTH normalizations
  (raw/cal_sec AND raw/lat_sec) to be listed in
  ``regressions_norm``; candidates the latency gate exonerates go
  to ``cal_only_flags`` (stdout line AND report file — visible, but
  not alarmed on). A genuine plan regression (more work per query) grows
  under both; an environment latency shift grows only under cal.
  Until a prior report carries ``queries_lat_norm`` the gate falls
  back to cal-only (previous behavior). Documented tradeoff
  (advisor-adjudicated r10): the exoneration has no absolute-delta
  floor, so a genuine regression coinciding with a real
  scheduler-latency rise is demoted rather than alarmed — the
  demotion stays VISIBLE in ``cal_only_flags`` (stdout + report),
  and the raw-delta rule above keeps the opposite failure mode
  (flat-raw phantoms) out of the alarm list.
* ``wave_sec`` — a THIRD probe (r11): one 64-task zero-input noop
  job, the per-TASK dispatch cost neither sibling sees (the scan
  probe is IO/CPU-bound; the latency probe dispatches one task per
  job). The r11 qt35 triage isolated this class — a contended
  container inflated per-task dispatch, multiplying through a
  6-exchange/32-partition query while both other probes stayed
  flat. Wired into the gate in r12 (BENCH_LOCAL_r11 is the first
  committed base carrying ``queries_wave_norm``): a candidate whose
  wave-normalized time stayed flat is demoted to
  ``cal_only_flags``, and a wave speedup >10% disarms the raw rule
  exactly like its siblings. Legacy bases without wave history fall
  back to the r11 behavior automatically.

Normalization form: mean-of-probes, not position-interpolated. Tested
on the two calibrated r8 runs (driver ``bench_report.json`` vs solo
``BENCH_LOCAL_r08.json``, 140 common queries): interpolating the
probe linearly by query position improved the MEDIAN cross-run
agreement slightly (15.7% -> 14.2% rel diff) but worsened the MEAN
(17.4% -> 19.3%) — within-run drift is not linear in position, so
the extra model buys nothing reliable and would break continuity
with earlier rounds' numbers. Mean-cal stays; ``cal_noisy`` carries
the "this run drifted" signal instead.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gh_archive_clickhouse_spark.session import get_spark
from gh_archive_clickhouse_spark.plans.registry import QUERIES


def _calibrate(spark, sf_dir: str) -> float:
    """The pinned environment probe: a frozen scan-aggregate over
    lineitem (group by the 6 flag/status cells, sum/count three
    columns) through the same noop sink as the timed queries. Median
    of 3 runs — the probe is cheap (~0.3-1 s at sf0.1), so the median
    kills one-off scheduler hiccups without costing meaningful wall
    time. MUST NOT change across rounds: its whole value is being the
    same work in every round's environment."""
    from pyspark.sql import functions as F

    from gh_archive_clickhouse_spark.plans.common import read as _read

    def _run() -> float:
        t0 = time.perf_counter()
        (
            _read(spark, sf_dir, "lineitem")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum("l_quantity"),
                F.sum("l_extendedprice"),
                F.avg("l_discount"),
                F.count(F.lit(1)),
            )
            .write.mode("overwrite")
            .format("noop")
            .save()
        )
        return time.perf_counter() - t0

    _run()  # untimed: this plan's one-time codegen compile
    samples = [_run() for _ in range(3)]
    return sorted(samples)[1]


def _latency_probe(spark) -> float:
    """Per-job scheduling-latency probe: a one-task, zero-input noop
    job (no scan, no shuffle) — pure job submit/schedule/commit
    round-trip. Median of 5; one untimed warm-up first. Like the scan
    probe this MUST NOT change across rounds."""

    def _run() -> float:
        t0 = time.perf_counter()
        (
            spark.range(0, 1, 1, 1)
            .write.mode("overwrite")
            .format("noop")
            .save()
        )
        return time.perf_counter() - t0

    _run()
    samples = [_run() for _ in range(5)]
    return sorted(samples)[2]


def _wave_probe(spark) -> float:
    """Per-TASK dispatch probe: one zero-input noop job of 64 trivial
    tasks — the environment component neither sibling sees (the scan
    probe is IO/CPU-bound, the latency probe dispatches ONE task per
    job). The r11 qt35 triage isolated exactly this class: a
    contended container inflated per-task dispatch, which a
    6-exchange/32-partition query multiplies ~200x while both other
    probes stayed flat. Median of 5, warm-up first; MUST NOT change
    across rounds. Measurement-only for now — it joins the gate once
    committed history carries it (the prev_* fallbacks make that
    automatic for the lat probe's pattern)."""

    def _run() -> float:
        t0 = time.perf_counter()
        (
            spark.range(0, 64, 1, 64)
            .write.mode("overwrite")
            .format("noop")
            .save()
        )
        return time.perf_counter() - t0

    _run()
    samples = [_run() for _ in range(5)]
    return sorted(samples)[2]


def _wave_probe_safe(spark) -> float:
    try:
        return _wave_probe(spark)
    except Exception:
        return 0.0


def _latency_probe_safe(spark) -> float:
    try:
        return _latency_probe(spark)
    except Exception:
        return 0.0


def _calibrate_safe(spark, sf_dir: str) -> float:
    """A fixture dir without lineitem (or any probe failure) must not
    abort the bench — every query the dir CAN run still gets timed
    (matching the try/except warm-up); 0.0 marks 'no calibration' and
    the normalized fields are omitted downstream."""
    try:
        return _calibrate(spark, sf_dir)
    except Exception:
        return 0.0


def flag_regressions(
    timings: dict[str, float],
    prev_norm: dict[str, float],
    prev_lat_norm: dict[str, float],
    cal_sec: float,
    lat_sec: float,
    streaming: set[str],
    changed: tuple[str, ...] | set[str],
    prev_raw: dict[str, float] | None = None,
    prev_cal_sec: float | None = None,
    prev_lat_sec: float | None = None,
    prev_wave_norm: dict[str, float] | None = None,
    wave_sec: float = 0.0,
    prev_wave_sec: float | None = None,
) -> tuple[dict[str, list], dict[str, list]]:
    """The round-over-round regression gate as a pure function (unit-
    tested in tests/test_bench_gate.py). Returns
    ``(regressions_norm, cal_only_flags)``:

    - a query lands in ``regressions_norm`` when its cal-normalized
      time grew >25% AND by >0.5 probe units AND (when both runs
      carry a latency normalization) its lat-normalized time ALSO
      grew >25% — the dual gate from the module docstring;
    - RAW-DELTA EXONERATION (the r10 phantom lesson: qx38 1.15→1.17 s
      and qx63 1.52→1.51 s were "regressions" purely because the
      noisy base's WITHIN-RUN drift skewed individual normalized
      values — the mean probes of the two runs were equal): a
      candidate whose RAW wall-clock moved <=10% vs the base cannot
      be a regression regardless of what either normalization says —
      a genuine plan regression does more work, and more work takes
      more raw time AT CONSTANT ENVIRONMENT SPEED. That caveat is the
      rule's arming condition: when the current environment is
      materially FASTER than the base's under EITHER probe (scan OR
      per-job latency ratio < 0.9 — small queries are job-count-
      dominated, so a latency speedup can pay for extra jobs exactly
      as a scan speedup pays for extra scan work), flat raw time
      could hide a genuine regression, so the rule disarms and the
      latency gate decides. Disarmed + flat raw + NO latency history
      demotes rather than alarms: positive flat-raw evidence with no
      probe to confirm the growth direction must not produce the very
      phantom alarm the rule exists to kill;
    - WAVE GATE (r12 — the qt35 mechanism from the r11 triage): a
      contended container can inflate per-TASK dispatch, which a
      multi-exchange/32-partition query multiplies ~200x while the
      scan probe (IO/CPU-bound) and the 1-task latency probe (one
      dispatch per job) both stay flat — the one environment class
      the other two probes cannot exonerate. The 64-task wave probe
      inflates by the same per-task factor, so when both runs carry a
      wave normalization and the candidate's wave-normalized time
      grew <=25%, it is demoted to ``cal_only_flags``. Same
      documented tradeoff as the latency gate: a genuine regression
      coinciding with a real dispatch-cost rise is demoted, visibly;
    - a cal-flagged query any exoneration clears lands in
      ``cal_only_flags`` instead (report-file visibility, no alarm);
    - streaming-tagged and declared-changed queries never flag.
    """
    regressions_norm: dict[str, list] = {}
    cal_only_flags: dict[str, list] = {}
    prev_raw = prev_raw or {}
    prev_wave_norm = prev_wave_norm or {}
    if not cal_sec or not prev_norm:
        return regressions_norm, cal_only_flags
    # the environment probes as (this run, base run, base per-query
    # norms): the scan probe anchors the primary gate; the per-job
    # latency and per-task dispatch probes each drive an exoneration
    # channel below and a raw-rule disarm channel here
    probes = (
        (cal_sec, prev_cal_sec, None),
        (lat_sec, prev_lat_sec, prev_lat_norm),
        (wave_sec, prev_wave_sec, prev_wave_norm),
    )
    # the raw rule's arming condition (see docstring): disarmed when
    # this run's environment is >10% faster than the base's under
    # any probe (scan, per-job latency, or per-task dispatch);
    # unknown base probes = armed (the plain rule)
    raw_rule_armed = not any(
        prev and prev > 0 and cur_probe and cur_probe < 0.9 * prev
        for cur_probe, prev, _ in probes
    )
    for name, t in timings.items():
        if name in streaming or name in changed:
            continue
        p = prev_norm.get(name)
        if not p or p <= 0:
            continue
        cur = t / cal_sec
        if cur / p > 1.25 and cur - p > 0.5:
            # raw-delta exoneration (see docstring): flat raw time
            # means the "growth" lives entirely in the normalization
            # base, not in the query
            pr = prev_raw.get(name)
            # t <= 1.10 * pr, not t / pr <= 1.10: the quotient of an
            # exactly 10% movement can round above 1.10
            raw_flat = bool(pr and pr > 0 and t <= 1.10 * pr)
            if raw_rule_armed and raw_flat:
                cal_only_flags[name] = [p, cur]
                continue
            # the latency gate (see module docstring): a genuine
            # regression also grows under per-job-latency
            # normalization; a scheduler-contended environment
            # inflates small queries under cal only
            # the latency/wave gates (see docstring): a genuine
            # regression does more work and grows under EVERY
            # normalization; an environment shift in per-job latency
            # or per-task dispatch grows only under the probes blind
            # to it — ONE flat secondary normalization exonerates
            exonerated = False
            confirmed = 0
            for probe_sec, _, prev_map in probes[1:]:
                pn = (prev_map or {}).get(name)
                if not (probe_sec and pn and pn > 0):
                    continue  # no history under this probe
                if (t / probe_sec) / pn <= 1.25:
                    exonerated = True
                    break
                confirmed += 1
            if exonerated:
                cal_only_flags[name] = [p, cur]
                continue
            if confirmed == 0 and raw_flat:
                # disarmed raw rule + no probe history: flat raw is
                # unconfirmed either way — visible, never alarmed
                cal_only_flags[name] = [p, cur]
                continue
            # keep the UNROUNDED prev: a sub-0.005 prev would round
            # to 0.0 and divide-by-zero in the display sort
            regressions_norm[name] = [p, cur]
    return regressions_norm, cal_only_flags


def select_baseline(
    on_disk: dict | None,
    snapshots: list[tuple[int, dict]],
    sf: float | None,
) -> tuple[dict, str | None]:
    """Choose the comparison BASE for the regression gate (pure
    function, unit-tested). ``on_disk`` is the parsed prior
    ``bench_report.json`` (or None); ``snapshots`` are the COMMITTED
    solo runs ``[(round, parsed BENCH_LOCAL_r{N}.json), ...]``.

    The r10 lesson: ``bench_report.json`` is untracked, so whatever
    run last executed in the container is the on-disk base — for the
    r10 solo run that was the DRIVER's contended r9 run (cal_noisy,
    1.5x within-run drift), which manufactured phantom regressions on
    byte-identical code. Preference order:

    1. the on-disk report, when it matches ``sf`` and is NOT
       cal_noisy (freshest clean base — usually last round's run on
       this very machine);
    2. the newest committed CLEAN snapshot matching ``sf`` (a noisy
       snapshot's per-query norms carry the drift skew that
       manufactures phantoms, so a slightly older clean base beats a
       fresher noisy one — cross-round environment shift is exactly
       what normalization absorbs; within-run drift is what it
       can't). "Clean" requires the snapshot to POSITIVELY declare
       ``cal_noisy: false`` — legacy snapshots predating the field
       (r8 and older) must not masquerade as clean;
    3. the newest committed snapshot matching ``sf`` even though
       noisy (a known, reviewed artifact beats an unknown noisy run;
       its noise is stamped via ``prev_noisy``);
    4. the on-disk report even though noisy (better a stamped noisy
       gate than none);
    5. no base — the gate disables itself.

    Returns ``(base_report, provenance)`` where provenance is
    ``"bench_report.json"`` / ``"BENCH_LOCAL_r{N}.json"`` / None.
    """

    def _usable(rep: dict | None) -> bool:
        return (
            isinstance(rep, dict)
            and rep.get("sf") == sf
            and bool(rep.get("queries_norm"))
        )

    if _usable(on_disk) and not on_disk.get("cal_noisy"):
        return on_disk, "bench_report.json"
    ordered = sorted(snapshots, key=lambda x: -x[0])
    for rnd, rep in ordered:
        if _usable(rep) and rep.get("cal_noisy") is False:
            return rep, f"BENCH_LOCAL_r{rnd:02d}.json"
    for rnd, rep in ordered:
        if _usable(rep):
            return rep, f"BENCH_LOCAL_r{rnd:02d}.json"
    if _usable(on_disk):
        return on_disk, "bench_report.json"
    return {}, None


def base_noisiness(base: dict) -> bool | None:
    """The ``prev_noisy`` provenance stamp for a selected base (pure,
    unit-tested). Tri-state: True/False when the base positively
    carries ``cal_noisy``; None when it predates the field (r8-era
    snapshots) — unknown cleanliness must be stamped as unknown
    (null), never reported as a clean (False) base. An empty base
    (gate disabled) stamps False: nothing was compared, so there is
    no noisy-base hazard to flag."""
    flag = base.get("cal_noisy") if base else False
    if isinstance(flag, bool):
        return flag
    return None


def _committed_snapshot_names(repo_dir: str) -> list[str]:
    """Candidate ``BENCH_LOCAL_r*.json`` snapshot FILENAMES, filtered
    to files COMMITTED at HEAD when git is available (``ls-tree``,
    not ``ls-files`` — the index would admit a staged-but-uncommitted
    file, review pass). The selector's tiers promise "committed solo
    runs" — a stray untracked or merely-staged file matching the name
    pattern must not silently become the gate's base (that would
    recreate, under a different filename, exactly the
    untracked-baseline hazard ``select_baseline`` exists to close).
    Falls back to the bare directory listing when git is unavailable
    or errors (the gate still beats having no base at all — the
    fallback's weaker provenance is the documented tier-3/4 story).
    Note the CONTENT still comes from the working tree: a locally
    edited committed snapshot is read as edited — provenance
    filtering is by name, which is the hazard observed in practice.
    """
    try:
        import subprocess

        out = subprocess.run(
            ["git", "-C", repo_dir, "ls-tree", "--name-only", "HEAD"],
            capture_output=True,
            text=True,
            timeout=10,
        )
        if out.returncode == 0:
            # ls-tree path arguments are literal, not globs — filter
            # the top-level listing by the snapshot name pattern here
            return [
                ln.strip()
                for ln in out.stdout.splitlines()
                if re.fullmatch(
                    r"BENCH_LOCAL_r(\d+)\.json", ln.strip()
                )
            ]
    except Exception:
        pass
    return [
        f
        for f in os.listdir(repo_dir)
        if re.fullmatch(r"BENCH_LOCAL_r(\d+)\.json", f)
    ]


def _worst_by_ratio(
    flags: dict[str, list], nd: int, keep: int = 8
) -> dict[str, list]:
    """The display form of a flag map: worst `keep` entries by
    growth ratio, values rounded to `nd` decimals. The sort runs on
    the stored UNROUNDED values (a rounded-to-0.0 prev would divide
    by zero) — the single definition every emission site shares."""
    return {
        k: [round(v[0], nd), round(v[1], nd)]
        for k, v in sorted(
            flags.items(), key=lambda kv: -(kv[1][1] / kv[1][0])
        )[:keep]
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_spark(app_name="bench")
    # Warm the JVM/session and every input table (page cache + parquet
    # footer parsing) so timings measure the engine, not cold I/O —
    # the steady state a resident deployment runs in.
    from gh_archive_clickhouse_spark.plans.common import read as _read

    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        try:
            _read(spark, sf_dir, t).count()
        except Exception:
            pass
    # Untimed warm-up QUERY: one representative join+agg pipeline to
    # JIT the whole-stage-codegen/compiler paths before any timed run
    # (proven round-2/3 hazard: the first queries of a cold JVM run
    # ~2x slow, which masqueraded as per-query regressions).
    for warm in ("qt1_pricing_summary", "qt2_regional_revenue"):
        if warm in QUERIES:
            try:
                QUERIES[warm].builder(spark, sf_dir).write.mode(
                    "overwrite"
                ).format("noop").save()
            except Exception:
                pass

    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))
    # Environment probe: immediately before the first timed query and
    # again after the last, so a drift DURING the run shows up as
    # cal_first != cal_last rather than silently skewing half the map.
    cal_first = _calibrate_safe(spark, sf_dir)
    lat_first = _latency_probe_safe(spark)
    wave_first = _wave_probe_safe(spark)
    timings: dict[str, float] = {}
    for name, q in QUERIES.items():
        best = float("inf")
        # Streaming queries run the whole stream (checkpoint, state
        # store, memory sink) inside the builder. They get the SAME
        # min-of-N treatment as batch queries: the r4→r5 comparison
        # showed single-run stream numbers swing ±45% on byte-identical
        # code (fresh-checkpoint/state-store startup jitter), which
        # would eventually mask a real regression; min-of-two is the
        # repeatable machinery cost.
        for _ in range(runs):
            t0 = time.perf_counter()
            q.builder(spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
    cal_last = _calibrate_safe(spark, sf_dir)
    lat_last = _latency_probe_safe(spark)
    wave_last = _wave_probe_safe(spark)
    cal_sec = (
        (cal_first + cal_last) / 2 if cal_first and cal_last else 0.0
    )
    lat_sec = (
        (lat_first + lat_last) / 2 if lat_first and lat_last else 0.0
    )
    wave_sec = (
        (wave_first + wave_last) / 2 if wave_first and wave_last else 0.0
    )
    cal_drift = (
        round(max(cal_first, cal_last) / min(cal_first, cal_last), 3)
        if cal_first and cal_last
        else 0.0
    )

    report_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_report.json"
    )
    # Round-over-round normalized regression check (see module
    # docstring): the comparison base is chosen by ``select_baseline``
    # — the on-disk prior report when it's clean, else the newest
    # committed solo snapshot (BENCH_LOCAL_r*.json), else the noisy
    # on-disk report with provenance stamped. Cross-SF bases are
    # rejected inside the selector: the probe scales ~linearly with SF
    # while join/window-heavy queries scale superlinearly, so a
    # cross-SF comparison would flag phantom regressions (and the
    # latency normalization divides the same SF-dependent raw time).
    try:
        with open(report_path) as f:
            on_disk_report = json.load(f)
    except (OSError, json.JSONDecodeError):
        on_disk_report = None
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    snapshots: list[tuple[int, dict]] = []
    for fname in _committed_snapshot_names(repo_dir):
        m_snap = re.fullmatch(r"BENCH_LOCAL_r(\d+)\.json", fname)
        if not m_snap:
            continue
        try:
            with open(os.path.join(repo_dir, fname)) as f:
                snapshots.append((int(m_snap.group(1)), json.load(f)))
        except (OSError, json.JSONDecodeError, ValueError):
            continue
    base, base_name = select_baseline(on_disk_report, snapshots, sf)
    prev_norm = base.get("queries_norm") or {}
    prev_lat_norm = base.get("queries_lat_norm") or {}
    prev_raw = base.get("queries") or {}
    prev_noisy = base_noisiness(base)
    try:
        from gh_archive_clickhouse_spark.plans.registry import (
            _CHANGED as _changed_queries,
        )
    except ImportError:  # registry layout change must not kill bench
        _changed_queries = ()
    regressions_norm, cal_only_flags = flag_regressions(
        timings,
        prev_norm,
        prev_lat_norm,
        cal_sec,
        lat_sec,
        {n for n in timings if "streaming" in QUERIES[n].tags},
        _changed_queries,
        prev_raw=prev_raw,
        prev_cal_sec=base.get("cal_sec"),
        prev_lat_sec=base.get("lat_sec"),
        prev_wave_norm=base.get("queries_wave_norm") or {},
        wave_sec=wave_sec,
        prev_wave_sec=base.get("wave_sec"),
    )

    # The driver snapshots only the LAST 2000 chars of stdout; full
    # registry names blow that budget and decapitate the JSON line
    # (BENCH_r01 "parsed": null). Key by the short qNN prefix, falling
    # back to the full name only on prefix collisions (qt3/qt6/qt11
    # variants), and emit with compact separators.
    prefix_counts: dict[str, int] = {}
    for name in timings:
        p = name.split("_", 1)[0]
        prefix_counts[p] = prefix_counts.get(p, 0) + 1
    short = {
        (name.split("_", 1)[0]
         if prefix_counts[name.split("_", 1)[0]] == 1 else name): t
        for name, t in timings.items()
    }
    total = round(sum(timings.values()), 3)
    stream_total = round(
        sum(
            t for n, t in timings.items()
            if "streaming" in QUERIES[n].tags
        ),
        3,
    )
    def _render(
        qmap: dict[str, float], omitted: int = 0, flag_keep: int = 8
    ) -> str:
        payload = {
            "metric": "total_query_wall_sec",
            "value": total,
            "unit": "sec",
            "batch_total": round(total - stream_total, 3),
            "stream_total": stream_total,
            # calibration probe (see module docstring): normalized
            # per-query time = raw / cal_sec; full map in
            # bench_report.json. batch_norm is the regression signal —
            # the probe is batch-shaped, so stream-startup jitter
            # (>=15% on identical code) must not ride value_norm into
            # a "normalized regression".
            "cal_first": round(cal_first, 3),
            "cal_last": round(cal_last, 3),
            "cal_sec": round(cal_sec, 3),
            "lat_sec": round(lat_sec, 3),
            "wave_sec": round(wave_sec, 3),
            "queries": qmap,
            "sf": sf,
        }
        if cal_sec:
            payload["value_norm"] = round(total / cal_sec, 2)
            payload["batch_norm"] = round(
                (total - stream_total) / cal_sec, 2
            )
            payload["cal_drift"] = cal_drift
            payload["cal_noisy"] = cal_drift > 1.25
            # the harness-computed regression signal (worst 8 by
            # ratio; normally empty) plus the latency-exonerated
            # candidates — the demotion must be VISIBLE in the driver
            # snapshot, not only in the report file. Anything the
            # top-8 cut drops is counted, never silently truncated
            # (the queries_omitted convention below).
            payload["regressions_norm"] = _worst_by_ratio(
                regressions_norm, 2, keep=flag_keep
            )
            payload["cal_only_flags"] = _worst_by_ratio(
                cal_only_flags, 2, keep=flag_keep
            )
            for fname, full in (
                ("regressions_omitted", regressions_norm),
                ("cal_only_omitted", cal_only_flags),
            ):
                if len(full) > flag_keep:
                    payload[fname] = len(full) - flag_keep
            if regressions_norm or cal_only_flags:
                # which file the gate compared against — a flag is
                # only as good as its base (the r9->r10 lesson)
                payload["prev_base"] = base_name
                if prev_noisy is not False:
                    # the comparison BASE was itself a cal_noisy run
                    # (a contended driver run as baseline manufactures
                    # phantom alarms) or predates the cal_noisy field
                    # (null = unknown cleanliness) — stamp either way;
                    # only a POSITIVELY clean base goes unstamped
                    payload["prev_noisy"] = prev_noisy
        if omitted:
            # sibling field, NOT a fake entry inside the timing map
            payload["queries_omitted"] = omitted
        return json.dumps(payload, separators=(",", ":"))

    # Full report (raw + calibration-normalized per query) to a file:
    # the stdout line's 2000-char budget cannot carry two full maps.
    try:
        with open(report_path, "w") as f:
            json.dump(
                {
                    "sf": sf,
                    "cal_first": round(cal_first, 4),
                    "cal_last": round(cal_last, 4),
                    "cal_sec": round(cal_sec, 4),
                    "lat_first": round(lat_first, 4),
                    "lat_last": round(lat_last, 4),
                    "lat_sec": round(lat_sec, 4),
                    "wave_first": round(wave_first, 4),
                    "wave_last": round(wave_last, 4),
                    "wave_sec": round(wave_sec, 4),
                    "cal_drift": cal_drift,
                    "cal_noisy": cal_drift > 1.25,
                    "regressions_norm": _worst_by_ratio(
                        regressions_norm, 3, keep=len(regressions_norm)
                    ),
                    "cal_only_flags": _worst_by_ratio(
                        cal_only_flags, 3, keep=len(cal_only_flags)
                    ),
                    "prev_noisy": prev_noisy,
                    "prev_base": base_name,
                    "value": total,
                    "batch_total": round(total - stream_total, 3),
                    "value_norm": (
                        round(total / cal_sec, 3) if cal_sec else None
                    ),
                    "batch_norm": (
                        round((total - stream_total) / cal_sec, 3)
                        if cal_sec
                        else None
                    ),
                    "queries": timings,
                    "queries_norm": {
                        n: round(t / cal_sec, 3)
                        for n, t in timings.items()
                    }
                    if cal_sec
                    else {},
                    "queries_lat_norm": {
                        n: round(t / lat_sec, 3)
                        for n, t in timings.items()
                    }
                    if lat_sec
                    else {},
                    # per-query wave normalization: recorded so a
                    # future round can wire the dispatch probe into
                    # the gate the way lat_norm was wired in r10 —
                    # the gate's prev_* fallbacks make that
                    # backward-compatible automatically
                    "queries_wave_norm": {
                        n: round(t / wave_sec, 3)
                        for n, t in timings.items()
                    }
                    if wave_sec
                    else {},
                },
                f,
                indent=1,
            )
    except OSError:
        pass  # read-only checkout: the stdout line still carries cal

    line = _render(short)
    # Keep the one-line JSON inside the driver's 2000-char stdout
    # snapshot as the registry grows: first shave timing precision to
    # 2 dp, then keep only the slowest queries (totals above are
    # computed from the FULL set either way) with an explicit count of
    # what was dropped — never silently truncate mid-JSON.
    flag_keep = 8
    if len(line) > 1900:
        line = _render({k: round(v, 2) for k, v in short.items()})
    if len(line) > 1900 and (regressions_norm or cal_only_flags):
        # Two 8-entry flag maps cost ~600 chars — at 141 queries that
        # budget evicted 60 per-query timings from the r13 driver
        # snapshot. Per-query raw history has more adjudication value
        # than flag entries 5-8 (the report file carries the full
        # maps either way), so shrink the flag maps to their worst 4
        # (+ explicit omitted counts) BEFORE dropping any timings.
        flag_keep = 4
        line = _render(
            {k: round(v, 2) for k, v in short.items()},
            flag_keep=flag_keep,
        )
    n_keep = len(short)
    while len(line) > 1900 and n_keep > 10:
        n_keep = max(10, n_keep - 10)
        slowest = {
            k: round(v, 2)
            for k, v in sorted(short.items(), key=lambda kv: -kv[1])[
                :n_keep
            ]
        }
        line = _render(
            slowest, omitted=len(short) - n_keep, flag_keep=flag_keep
        )
    print(line)


if __name__ == "__main__":
    main()
