"""Properties of the size-tiered epoch fold (_compact_old_epochs).

The consolidated ``epoch=-1`` partition of a streaming-maintained
table (LSH signature index, IVF-PQ index, MV partials) is the whole
historical corpus; the fold must therefore (a) never rewrite it just
because new epochs arrived — minor folds are pure file renames and
the major rewrite is gated on a size tier — and (b) when the major
rewrite does run, write in parallel (one task per cluster / size
bucket), never ``repartition(1)``.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import functions as F

from tests.conftest import cached_rdd_ids, wait_rdds_gone

from gh_archive_clickhouse_spark.streaming.dedup_stream import (
    FOLD_MANIFEST,
    _compact_old_epochs,
)

SCHEMA = "doc_id long, epoch int"
CLUSTER_SCHEMA = "vec_id long, epoch int, cluster_id int"


def _write_epoch(spark, path, epoch, lo, hi, cluster_mod=None):
    df = spark.range(lo, hi).select(F.col("id").alias("doc_id"))
    if cluster_mod is not None:
        df = df.select(
            F.col("doc_id").alias("vec_id"),
            (F.col("doc_id") % cluster_mod).cast("int").alias("cluster_id"),
        )
    part_cols = ["epoch"] + (["cluster_id"] if cluster_mod else [])
    (
        df.withColumn("epoch", F.lit(epoch))
        .repartition(2)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*part_cols)
        .parquet(path)
    )


def _cons_files(path):
    cons = Path(path) / "epoch=-1"
    return sorted(
        str(f.relative_to(cons)) for f in cons.rglob("*.parquet")
    )


def test_minor_fold_is_rename_only_and_tier_gates_major(spark, tmp_path):
    """After a large consolidation exists, small incoming epochs fold
    as pure renames — the consolidation is NOT rewritten (same file
    names survive, manifest untouched) and no rows are lost."""
    path = str(tmp_path / "t")
    # Bootstrap: 6 fat epochs -> first fold is the bootstrap major.
    for e in range(6):
        _write_epoch(spark, path, e, e * 1000, e * 1000 + 1000)
    kind = _compact_old_epochs(
        spark, path, SCHEMA, current_epoch=6, dedup_cols=["doc_id"],
        keep_epochs=2,
    )
    assert kind == "major"
    manifest_before = json.loads(
        (Path(path) / FOLD_MANIFEST).read_text()
    )
    files_before = set(_cons_files(path))
    assert files_before == set(manifest_before["major_files"])

    # Two small epochs (5 rows each vs 6000 consolidated): the fold
    # must be minor — renames only, tier not met.
    _write_epoch(spark, path, 7, 100000, 100005)
    _write_epoch(spark, path, 8, 200000, 200005)
    small_files = {
        f.name
        for e in (7, 8)
        for f in (Path(path) / f"epoch={e}").glob("*.parquet")
    }
    kind = _compact_old_epochs(
        spark, path, SCHEMA, current_epoch=9, dedup_cols=["doc_id"],
        keep_epochs=2,
    )
    assert kind == "minor"
    files_after = set(_cons_files(path))
    # the major generation's files were NOT rewritten…
    assert files_before <= files_after
    # …the small epochs' files were moved in BY NAME (rename, not
    # recompute)…
    assert small_files <= {Path(f).name for f in files_after}
    # …their epoch dirs are gone, and the manifest is untouched.
    assert not (Path(path) / "epoch=7").exists()
    assert json.loads(
        (Path(path) / FOLD_MANIFEST).read_text()
    ) == manifest_before
    # no rows lost, all now consolidated
    got = spark.read.schema(SCHEMA).parquet(path)
    assert got.count() == 6010
    assert got.filter(F.col("epoch") == -1).count() == 6010


def test_major_fold_fires_once_tier_met_and_dedups(spark, tmp_path):
    """Minor-appended bytes reaching 1/tier_factor of the major
    generation trigger the rewrite, which collapses planted
    crash-duplicate rows."""
    path = str(tmp_path / "t")
    for e in range(2):
        _write_epoch(spark, path, e, 0, 200)
    assert (
        _compact_old_epochs(
            spark, path, SCHEMA, 2, ["doc_id"], keep_epochs=2
        )
        == "major"
    )
    # duplicate doc_ids 0..199 arrive again (crash-replay shape) in
    # epochs comparable in size to the consolidation -> tier met.
    for e in (3, 4):
        _write_epoch(spark, path, e, 0, 200)
    kind = _compact_old_epochs(
        spark, path, SCHEMA, 5, ["doc_id"], keep_epochs=2, tier_factor=4
    )
    assert kind == "major"
    got = spark.read.schema(SCHEMA).parquet(path)
    assert got.count() == 200  # deduped


def test_major_fold_writes_clusters_in_parallel(spark, tmp_path):
    """With a cluster sublayout the major rewrite repartitions by
    cluster_id: >1 task (one file per cluster dir), sublayout
    preserved for probe pruning."""
    path = str(tmp_path / "t")
    for e in range(4):
        _write_epoch(
            spark, path, e, e * 100, e * 100 + 100, cluster_mod=4
        )
    kind = _compact_old_epochs(
        spark,
        path,
        CLUSTER_SCHEMA,
        4,
        ["vec_id"],
        keep_epochs=2,
        partition_cols=["epoch", "cluster_id"],
    )
    assert kind == "major"
    cons = Path(path) / "epoch=-1"
    cluster_dirs = sorted(
        d for d in cons.iterdir() if d.name.startswith("cluster_id=")
    )
    assert len(cluster_dirs) == 4
    # one task per cluster: exactly one data file each, so the 400
    # rows were written by 4 parallel tasks, not a single funnel
    for d in cluster_dirs:
        assert len(list(d.glob("*.parquet"))) == 1
    got = spark.read.schema(CLUSTER_SCHEMA).parquet(path)
    assert got.count() == 400


def test_major_fold_bucket_count_scales_with_bytes(spark, tmp_path):
    """Without a sublayout the rewrite hash-buckets on the dedup key
    into ceil(bytes/target) files — more than one for a consolidation
    bigger than the target file size."""
    path = str(tmp_path / "t")
    for e in range(4):
        _write_epoch(spark, path, e, e * 2000, e * 2000 + 2000)
    kind = _compact_old_epochs(
        spark,
        path,
        SCHEMA,
        4,
        ["doc_id"],
        keep_epochs=2,
        target_file_bytes=4096,
    )
    assert kind == "major"
    files = _cons_files(path)
    assert len(files) > 1, files
    got = spark.read.schema(SCHEMA).parquet(path)
    assert got.count() == 8000
    assert got.select("doc_id").distinct().count() == 8000


def test_incremental_dedup_sink_refreshes_labels_on_major_fold(
    spark, tmp_path
):
    """The cluster-labels table is a bounded-staleness MV of the pair
    log: it is refreshed exactly when the pair log's epoch fold runs
    its major rewrite (the amortized cadence), and the refreshed
    labels equal batch connected components over the full log."""
    from gh_archive_clickhouse_spark.operators.dedup import (
        connected_components,
    )
    from gh_archive_clickhouse_spark.streaming.dedup_stream import (
        LABELS_SCHEMA,
        PAIRS_SCHEMA,
        incremental_dedup_sink,
    )

    base = tmp_path / "dd"
    labels_path = base / "labels"
    sink = incremental_dedup_sink(
        str(base / "sigs"),
        str(base / "pairs"),
        str(labels_path),
        keep_epochs=2,
    )
    # doc pairs (2i, 2i+1) share a text of tokens UNIQUE to the pair
    # -> exact dups within a pair, zero shared shingles across pairs
    # (so LSH cannot bucket different pairs together).
    def batch(epoch):
        rows = [
            (
                epoch * 2 + j,
                " ".join(f"tok{k}q{epoch}" for k in range(6)),
            )
            for j in (0, 1)
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    majored = False
    for epoch in range(5):
        kinds = sink(batch(epoch), epoch)
        if not majored:
            if kinds["pairs"] == "major":
                majored = True
            else:
                # the MV is READABLE from batch 0 (the documented
                # survivors-cut recipe must never PATH_NOT_FOUND) but
                # stays EMPTY until the major fold — no per-batch CC
                assert (
                    spark.read.schema(LABELS_SCHEMA)
                    .parquet(str(labels_path))
                    .count()
                    == 0
                )
    assert majored, "pair log never major-folded in 5 epochs"
    got = {
        (r.doc_id, r.cluster_rep)
        for r in spark.read.schema(LABELS_SCHEMA)
        .parquet(str(labels_path))
        .collect()
    }
    pairs = (
        spark.read.schema(PAIRS_SCHEMA)
        .parquet(str(base / "pairs"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    expect = {
        (r.doc_id, r.cluster_rep)
        for r in connected_components(pairs).collect()
    }
    # labels may lag batches that arrived AFTER the major fold; they
    # must still be a subset-consistent CC snapshot — recompute at the
    # fold point by replay: simplest exact check is that every labeled
    # doc's rep is its pair-partner min (pairs are (2i, 2i+1) cliques)
    assert got, "labels table empty after major fold"
    for doc_id, rep in got:
        assert rep == (doc_id // 2) * 2
    assert got <= expect


def test_major_fold_releases_its_checkpoint(spark, tmp_path):
    """The major rewrite's lineage-break localCheckpoint is dead the
    moment the overwrite commits; a long-lived ingest stream folds for
    its whole lifetime, so the blocks must be released AT THE FOLD,
    not left for the ContextCleaner — block-manager storage is
    byte-identical before and after the fold."""
    path = str(tmp_path / "t")
    for e in range(4):
        _write_epoch(spark, path, e, e * 100, e * 100 + 100)
    before = cached_rdd_ids(spark)
    kind = _compact_old_epochs(
        spark, path, SCHEMA, 4, ["doc_id"], keep_epochs=2
    )
    assert kind == "major"
    assert wait_rdds_gone(spark, cached_rdd_ids(spark) - before)
    # and the fold's output is intact
    assert spark.read.schema(SCHEMA).parquet(path).count() == 400


def test_fold_cluster_labels_releases_its_snapshot(
    spark, tmp_path, monkeypatch
):
    """The label refresh's result checkpoint is released once the
    labels table is written (consumers read the TABLE, never the
    frame). CC's per-round lazy materializes are session-scoped by
    design (measured minor, adjudicated r10) — so the assertion
    targets the refresh's OWN snapshot: the release hook fired,
    reported success, and that specific RDD left the block manager."""
    from gh_archive_clickhouse_spark import checkpoints
    from gh_archive_clickhouse_spark.streaming import dedup_stream

    released = []
    real = checkpoints.release_checkpoint

    def _spy(df):
        rid = checkpoints.checkpoint_rdd_handle(df).id()
        ok = real(df)
        released.append((rid, ok))
        return ok

    monkeypatch.setattr(checkpoints, "release_checkpoint", _spy)
    pairs_path = str(tmp_path / "pairs")
    spark.createDataFrame(
        [(1, 2, 0), (2, 3, 0)], "doc_a long, doc_b long, epoch int"
    ).write.partitionBy("epoch").parquet(pairs_path)
    labels_path = str(tmp_path / "labels")
    dedup_stream.fold_cluster_labels(spark, pairs_path, labels_path)

    assert [ok for _, ok in released] == [True]
    assert wait_rdds_gone(spark, {released[0][0]})
    got = {
        (r.doc_id, r.cluster_rep)
        for r in spark.read.parquet(labels_path).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1)}


def test_storage_stays_flat_across_many_folds(spark, tmp_path):
    """The long-lived-service property (the reference runs for months:
    cmd/gh-archived/main.go:214-281): driving the FULL dedup sink
    through many micro-batches spanning several major folds and label
    refreshes leaves a FLAT block-manager storage envelope — r11's
    release tests pin ONE fold's equality; a per-fold leak of even one
    checkpoint would still pass those and sink a resident stream.

    Two-part envelope: (a) in flight, extra storage above baseline is
    bounded by CC's cleaner-lagged lazy materializes (measured ~4-5
    RDDs per refresh, transient — adjudicated self-limiting in r11),
    never cumulative in fold count; (b) after each major fold, one
    GC nudge returns storage EXACTLY to baseline — a genuine leak
    (blocks pinned by a live reference, the pre-r10 result-snapshot
    class) survives GC and fails here deterministically."""
    import gc

    from tests.conftest import wait_until
    from gh_archive_clickhouse_spark.streaming.dedup_stream import (
        incremental_dedup_sink,
    )

    base = tmp_path / "flat"
    sink = incremental_dedup_sink(
        str(base / "sigs"),
        str(base / "pairs"),
        str(base / "labels"),
        keep_epochs=2,
    )

    def batch(epoch):
        rows = [
            (
                epoch * 2 + j,
                " ".join(f"tok{k}q{epoch}" for k in range(6)),
            )
            for j in (0, 1)
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def extra_now():
        return len(cached_rdd_ids(spark) - baseline)

    def reclaimed():
        # CC's lazy materializes are session-scoped localCheckpoints
        # whose frames are dropped at fold return: a python GC plus a
        # JVM GC hands them to the ContextCleaner. Anything still
        # held after that is a real leak.
        for _ in range(10):
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            if wait_until(lambda: extra_now() == 0, timeout_s=3):
                return True
        return extra_now() == 0

    baseline = cached_rdd_ids(spark)
    majors = 0
    for epoch in range(10):
        kinds = sink(batch(epoch), epoch)
        # in-flight cap: transient cleaner lag, never fold-cumulative
        # (measured ceiling 10 across 11 folds; 16 = gross-blowup trip)
        assert extra_now() <= 16, f"storage blowup at epoch {epoch}"
        if kinds["pairs"] == "major":
            majors += 1
            assert reclaimed(), (
                f"storage above baseline survives GC after major fold "
                f"#{majors} (epoch {epoch}) — a pinned checkpoint leak"
            )
    assert majors >= 3, f"only {majors} major folds in 10 epochs"
    # the stream's output is intact after all that folding: every doc
    # labeled with its pair-partner min (pairs are (2i, 2i+1) cliques)
    from gh_archive_clickhouse_spark.streaming.dedup_stream import (
        LABELS_SCHEMA,
    )

    got = {
        (r.doc_id, r.cluster_rep)
        for r in spark.read.schema(LABELS_SCHEMA)
        .parquet(str(base / "labels"))
        .collect()
    }
    assert got, "labels table empty after the final major fold"
    for doc_id, rep in got:
        assert rep == (doc_id // 2) * 2


def test_fold_manifest_commit_is_crash_atomic(spark, tmp_path):
    """The manifest commits via write-to-temp + os.replace: after a
    major fold no temp file remains and the manifest is complete
    JSON; a torn manifest (the failure the atomic commit prevents —
    planted here directly) degrades to an early major fold that
    REPAIRS the manifest, and a leftover temp from a crash between
    write and replace is inert."""
    path = str(tmp_path / "t")
    for e in range(2):
        _write_epoch(spark, path, e, 0, 500)
    assert (
        _compact_old_epochs(
            spark, path, SCHEMA, 2, ["doc_id"], keep_epochs=2
        )
        == "major"
    )
    manifest = Path(path) / FOLD_MANIFEST
    tmp = manifest.with_name(manifest.name + ".tmp")
    assert json.loads(manifest.read_text())["major_files"]
    assert not tmp.exists()
    # Torn manifest on disk (what a crash mid-write would have left
    # under a non-atomic scheme): the loader treats it as "no major
    # generation", so the next fold majors early and rewrites a
    # complete manifest — and a stale temp file is simply replaced.
    manifest.write_text('{"major_files": ["torn')
    tmp.write_text("leftover from a crash")
    for e in (3, 4):
        _write_epoch(spark, path, e, 0, 500)
    kind = _compact_old_epochs(
        spark, path, SCHEMA, 5, ["doc_id"], keep_epochs=2
    )
    assert kind == "major"
    repaired = json.loads(manifest.read_text())
    assert set(repaired["major_files"]) == set(_cons_files(path))
    assert not tmp.exists()
    got = spark.read.schema(SCHEMA).parquet(path)
    assert got.count() == 500  # crash-replay duplicates collapsed


def test_file_count_trigger_caps_minor_pile(spark, tmp_path):
    """The byte tier alone would let a huge consolidation sit behind
    an unbounded pile of tiny minor files; the max_minor_files
    trigger forces the major rewrite once the pile exceeds the cap."""
    path = str(tmp_path / "t")
    for e in range(2):
        _write_epoch(spark, path, e, e * 3000, e * 3000 + 3000)
    assert (
        _compact_old_epochs(
            spark, path, SCHEMA, 2, ["doc_id"], keep_epochs=2
        )
        == "major"
    )
    # tiny epochs: bytes never reach the tier, but the file pile does
    kinds = []
    e = 3
    for _ in range(4):
        _write_epoch(spark, path, e, 100000 + e * 10, 100000 + e * 10 + 5)
        _write_epoch(
            spark, path, e + 1, 200000 + e * 10, 200000 + e * 10 + 5
        )
        kinds.append(
            _compact_old_epochs(
                spark, path, SCHEMA, e + 2, ["doc_id"],
                keep_epochs=2, tier_factor=4, max_minor_files=5,
            )
        )
        e += 2
    assert "major" in kinds, kinds
    # after the forced major, the pile is gone (manifest covers all)
    import json
    from gh_archive_clickhouse_spark.streaming.dedup_stream import (
        _consolidated_file_bytes,
    )

    major_names = set(
        json.loads((Path(path) / FOLD_MANIFEST).read_text())[
            "major_files"
        ]
    )
    last_kind = kinds[-1]
    _mb, _nb, minor_n = _consolidated_file_bytes(
        Path(path) / "epoch=-1", major_names
    )
    if last_kind == "major":
        assert minor_n == 0
    else:
        assert minor_n <= 5 + 2  # bounded pile between majors
    got = spark.read.schema(SCHEMA).parquet(path)
    assert got.count() == 6000 + 8 * 5


def test_fold_invariants_under_random_epoch_schedules(spark, tmp_path_factory):
    """Randomized long-horizon schedules (epoch sizes, duplicate-id
    replays, enough steps to cross minor AND major triggers): at every
    step the fold must preserve the exact doc_id SET (row count may
    exceed it between major folds — replays collapse only at the
    dedup'ing rewrite, which consumers tolerate), keep the directory
    count bounded by O(keep_epochs), report "none" exactly when fewer
    than keep_epochs committed epochs await folding, and leave the
    last major rewrite's files byte-identical through minor folds
    (rename-only — the O(N²) rewrite regression this module exists to
    prevent)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    KEEP, TIER, MAXMINOR = 2, 2, 4

    @given(
        steps=st.lists(
            st.tuples(st.integers(1, 25), st.booleans()),
            min_size=6,
            max_size=10,
        )
    )
    @settings(
        max_examples=3,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def run(steps):
        path = str(tmp_path_factory.mktemp("fold_sched"))
        written: set[int] = set()
        total_rows = 0
        prev_range = (0, 0)
        next_id = 0
        for epoch, (n, replay) in enumerate(steps):
            if replay and prev_range[1] > prev_range[0]:
                lo, hi = prev_range
            else:
                lo, hi = next_id, next_id + n
                next_id = hi
            _write_epoch(spark, path, epoch, lo, hi)
            written.update(range(lo, hi))
            total_rows += hi - lo
            prev_range = (lo, hi)

            old = [
                d
                for d in Path(path).iterdir()
                if d.name.startswith("epoch=")
                and d.name not in (f"epoch={epoch}", "epoch=-1")
            ]
            manifest = Path(path) / FOLD_MANIFEST
            pre_major = {}
            if manifest.exists():
                cons = Path(path) / "epoch=-1"
                names = set(
                    json.loads(manifest.read_text())["major_files"]
                )
                pre_major = {
                    f: (cons / f).stat().st_size
                    for f in names
                    if (cons / f).exists()
                }

            kind = _compact_old_epochs(
                spark,
                path,
                SCHEMA,
                epoch,
                dedup_cols=["doc_id"],
                keep_epochs=KEEP,
                tier_factor=TIER,
                max_minor_files=MAXMINOR,
            )

            assert (kind == "none") == (len(old) < KEEP)
            if kind == "minor":
                cons = Path(path) / "epoch=-1"
                for f, size in pre_major.items():
                    assert (cons / f).stat().st_size == size, f
            rows = [
                r.doc_id
                for r in spark.read.schema(SCHEMA).parquet(path).collect()
            ]
            assert set(rows) == written
            assert len(written) <= len(rows) <= total_rows
            n_dirs = sum(
                1
                for d in Path(path).iterdir()
                if d.name.startswith("epoch=")
            )
            assert n_dirs <= KEEP + 2

    run()


# ---- hard-kill crash recovery -------------------------------------

# Subprocess driver for test_sigkill_mid_fold_recovers_from_checkpoint.
# Mode "crash": run the dedup-sink stream and SIGKILL OURSELVES from
# inside the first major fold — at the worst possible instant, after
# the consolidated partition was rewritten but before the atomic
# manifest commit (the exact window the fold's safety argument claims
# to survive). Mode "resume": restart the SAME stream from its
# checkpoint, close the books, and write the survivor ids out.
_KILL_DRIVER = r"""
import os
import signal
import sys

mode, base = sys.argv[1], sys.argv[2]
from pyspark.sql import SparkSession, functions as F

spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

from gh_archive_clickhouse_spark.streaming import dedup_stream
from gh_archive_clickhouse_spark.streaming.dedup_stream import (
    LABELS_SCHEMA,
    fold_cluster_labels,
    incremental_dedup_sink,
)

if mode == "crash":
    _real_replace = os.replace

    def _kill_at_manifest_commit(src, dst):
        if "_fold_manifest" in str(dst):
            with open(f"{base}/killed_at", "w") as f:
                f.write(str(dst))
            os.kill(os.getpid(), signal.SIGKILL)
        return _real_replace(src, dst)

    os.replace = _kill_at_manifest_commit

src = f"{base}/docs"
schema = spark.read.parquet(src).schema
stream = (
    spark.readStream.schema(schema)
    .option("maxFilesPerTrigger", 1)
    .parquet(src)
)
sink = incremental_dedup_sink(
    f"{base}/sigs", f"{base}/pairs", f"{base}/labels", keep_epochs=2
)
q = (
    stream.writeStream.foreachBatch(sink)
    .trigger(availableNow=True)
    .option("checkpointLocation", f"{base}/ckpt")
    .start()
)
q.awaitTermination()
if mode == "crash":
    sys.exit(3)  # the kill hook never fired - fail loudly

fold_cluster_labels(spark, f"{base}/pairs", f"{base}/labels")
drops = (
    spark.read.schema(LABELS_SCHEMA)
    .parquet(f"{base}/labels")
    .filter(F.col("doc_id") != F.col("cluster_rep"))
    .select("doc_id")
)
(
    spark.read.parquet(src)
    .select("doc_id")
    .join(drops, "doc_id", "left_anti")
    .write.mode("overwrite")
    .parquet(f"{base}/survivors")
)
print("RESUME_DONE")
"""


def test_sigkill_mid_fold_recovers_from_checkpoint(spark, tmp_path):
    """END-TO-END crash recovery, not just the manifest file op
    (test_fold_manifest_commit_is_crash_atomic covers that): a driver
    SIGKILL'd from INSIDE the first major fold — consolidated
    partition already rewritten, manifest commit not yet executed,
    stream epoch not yet committed — must, on restart from the SAME
    checkpoint, replay the in-flight epoch, re-run the folds (the
    stale manifest only makes the next major fold run early), collapse
    any crash duplicates via dedup_cols, and end with EXACTLY the
    batch pipeline's survivor set."""
    import os
    import subprocess
    import sys

    from gh_archive_clickhouse_spark.operators.dedup import (
        dedup_survivors,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from gh_archive_clickhouse_spark.plans.common import read
    from tests.conftest import SF_DIR

    base = tmp_path / "kill"
    base.mkdir()
    docs = read(spark, SF_DIR, "documents").select("doc_id", "text")
    # 6 single-file arrivals -> 6 epochs; keep_epochs=2 reaches the
    # first (bootstrap-major) fold at epoch 2, mid-stream.
    for i in range(6):
        docs.filter(F.col("doc_id") % 6 == i).coalesce(1).write.mode(
            "append"
        ).parquet(str(base / "docs"))

    script = base / "driver.py"
    script.write_text(_KILL_DRIVER)
    env = dict(os.environ, PYTHONPATH=str(Path(__file__).parents[1]))

    crash = subprocess.run(
        [sys.executable, str(script), "crash", str(base)],
        cwd=str(base),
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert crash.returncode == -9, (
        f"expected SIGKILL from inside the fold, got rc="
        f"{crash.returncode}\n{crash.stdout[-2000:]}\n"
        f"{crash.stderr[-2000:]}"
    )
    assert (base / "killed_at").exists()  # died at the manifest commit

    resume = subprocess.run(
        [sys.executable, str(script), "resume", str(base)],
        cwd=str(base),
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert resume.returncode == 0 and "RESUME_DONE" in resume.stdout, (
        f"{resume.stdout[-2000:]}\n{resume.stderr[-2000:]}"
    )

    # every epoch committed exactly once after the resume
    commits = {
        p.name
        for p in (base / "ckpt" / "commits").iterdir()
        if p.name.isdigit()
    }
    assert commits == {str(i) for i in range(6)}

    got = {
        r.doc_id
        for r in spark.read.parquet(str(base / "survivors")).collect()
    }
    expect = {
        r.doc_id
        for r in dedup_survivors(
            docs.select("doc_id"),
            lsh_candidate_pairs(minhash_signatures(docs)),
        ).collect()
    }
    assert got == expect and got
