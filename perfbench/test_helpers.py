"""Self-tests for the benchmark's pure helpers and input generators.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import pytest

from benchstats import (
    driver_gap,
    interval_union,
    percentile,
    tail,
    tail_percentile,
)


def test_tail_needs_eleven_samples():
    assert tail_percentile(10) is None
    assert tail(list(range(10))) == (None, None)
    assert tail_percentile(11) == 9


@pytest.mark.parametrize("n", [11, 20, 37, 100, 1000])
def test_tail_leaves_at_least_ten_samples_beyond(n):
    p = tail_percentile(n)
    xs = [float(i) for i in range(n)]
    assert sum(x > percentile(xs, p) for x in xs) >= 10
    # the next percentile up would leave fewer than ten
    assert sum(x > percentile(xs, p + 1) for x in xs) < 10


def test_tail_of_a_hundred_is_p90():
    assert tail_percentile(100) == 90
    assert tail([float(i) for i in range(100)]) == (pytest.approx(89.1), 90)


def test_interval_union_merges_overlaps_and_skips_empty():
    assert interval_union([]) == 0.0
    assert interval_union([(0, 1), (2, 3)]) == 2.0
    assert interval_union([(0, 2), (1, 3), (3, 4)]) == 4.0
    assert interval_union([(5, 6), (0, 10)]) == 10.0
    assert interval_union([(1, 1), (2, 1)]) == 0.0


def test_driver_gap_is_wall_minus_job_union():
    # wall 10 s, jobs cover [1,3] and [2,5] and [8,9] -> busy 5 s
    assert driver_gap((0, 10), [(1, 3), (2, 5), (8, 9)]) == pytest.approx(5.0)
    # jobs reaching outside the wall are clipped to it
    assert driver_gap((0, 10), [(-5, 2), (9, 20)]) == pytest.approx(7.0)
    assert driver_gap((0, 10), []) == pytest.approx(10.0)


@pytest.fixture(scope="module")
def spark():
    pyspark = pytest.importorskip("pyspark")
    del pyspark
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-selftest")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "3")
        .config("spark.sql.legacy.allowHashOnMapType", "true")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_fingerprint_is_invariant_to_partitioning_and_order(spark):
    from benchstats import fingerprint

    rows = [
        (i, float(i) / 3, f"s{i % 7}", None if i % 5 else [i, i + 1], {"k": str(i)})
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "id long, x double, s string, a array<long>, m map<string,string>"
    )
    base = fingerprint(df)
    assert base[0] == 200
    assert fingerprint(df.repartition(7)) == base
    assert fingerprint(df.coalesce(1)) == base
    assert fingerprint(df.orderBy(df.x.desc())) == base
    changed = df.withColumn("s", df.s.substr(1, 1))
    assert fingerprint(changed) != base


def test_fingerprint_of_empty_frame(spark):
    from benchstats import fingerprint

    df = spark.createDataFrame([], "id long")
    assert fingerprint(df) == (0, "0")


def test_inputs_are_a_function_of_the_seed(tmp_path):
    import inputs

    a, b, c = (tmp_path / n for n in "abc")
    stats = inputs.hour_files(7, str(a), hours=3, per_hour=50)
    assert inputs.hour_files(7, str(b), hours=3, per_hour=50) == stats
    for f in sorted(p.name for p in a.iterdir()):
        assert (a / f).read_bytes() == (b / f).read_bytes()
    assert inputs.hour_files(8, str(c), hours=3, per_hour=50)["distinct_keys"] == stats["distinct_keys"]
    # the carried-over lines are duplicates, the malformed ones invalid
    assert stats["valid"] > stats["distinct_keys"]
    assert stats["lines"] - stats["valid"] == 2 * 3
    t1, t2 = inputs.tables(3), inputs.tables(3)
    for name in t1:
        assert t1[name].equals(t2[name]), name
    d1, d2 = inputs.documents(1, 100), inputs.documents(2, 100)
    assert (d1.text.str.endswith(" dup") == d2.text.str.endswith(" dup")).all()
