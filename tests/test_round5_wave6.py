"""Sixth-wave operators: triangle counting, radius self-join, trip
segmentation, cohort retention.

Each test validates against an INDEPENDENT in-python brute force (not the
DuckDB twin — the driver's oracle gate already covers that), so a shared
formula bug in engine+twin cannot hide here.
"""

import datetime
import math
import random

from pyspark.sql import functions as F


# ------------------------------------------------------------- triangles
def _brute_triangles(n, coeffs):
    edges = set()
    for x in range(n):
        for a2, a1, a0 in coeffs:
            d = (a2 * x * x + a1 * x + a0) % n
            if d != x:
                edges.add((min(x, d), max(x, d)))
    tri = [0] * n
    es = sorted(edges)
    eset = set(es)
    for i, (a, b) in enumerate(es):
        for (c, d) in es[i + 1:]:
            if c != a:
                break
            # wedge (b, d) at a with b < d; closes iff (b, d) is an edge
            if (b, d) in eset:
                for v in (a, b, d):
                    tri[v] += 1
    return tri


def test_triangle_counts_match_bruteforce(spark):
    from geocode_spark.operators.graph import LINK_COEFFS, triangle_counts

    n = 60
    docs = spark.range(n).select(F.col("id").alias("doc_id"))
    got = {
        r.doc_id: r.triangles
        for r in triangle_counts(docs).collect()
    }
    want = _brute_triangles(n, LINK_COEFFS)
    assert len(got) == n
    assert got == {i: want[i] for i in range(n)}
    # effect size: the fixture graph must actually contain triangles,
    # otherwise the gate is vacuous
    assert sum(want) > 0


# ------------------------------------------------------------ radius join
def test_radius_join_matches_bruteforce(spark):
    from geocode_spark.operators.spatial import radius_join

    # deterministic scatter: includes same-cell, adjacent-cell, and
    # far-apart pairs for a 500 m grid
    pts = [
        (f"p{i:03d}",
         380000.0 + (i * 137) % 2500 + i * 0.25,
         4400000.0 + (i * 211) % 2500 + i * 0.125)
        for i in range(120)
    ]
    df = spark.createDataFrame(pts, ["primary_key", "x", "y"])
    out = radius_join(df, radius_m=500.0).collect()
    got = {(r.pk_a, r.pk_b): r.dist_sq_mm2 for r in out}
    assert len(got) == len(out), "pair emitted more than once"

    r2 = (500 * 1000) ** 2
    want = {}
    quant = [(pk, round(x * 1000), round(y * 1000)) for pk, x, y in pts]
    for i, (pa, xa, ya) in enumerate(quant):
        for pb, xb, yb in quant[i + 1:]:
            d2 = (xa - xb) ** 2 + (ya - yb) ** 2
            if d2 <= r2:
                key = (pa, pb) if pa < pb else (pb, pa)
                want[key] = d2
    assert got == want
    assert len(want) > 50  # effect size: the scatter genuinely pairs up

    # wide scatter: 400 points over 25 km, so the grid kernel's cells far
    # outnumber its cogroup buckets and many cells share one bucket's
    # merge walk
    rng = random.Random(6)
    pts = [
        (f"w{i:03d}", 380000.0 + rng.uniform(0, 25000),
         4400000.0 + rng.uniform(0, 25000))
        for i in range(400)
    ]
    n_buckets = max(4 * spark.sparkContext.defaultParallelism, 16)
    cells = {(round(x * 1000) // 500_000, round(y * 1000) // 500_000)
             for _, x, y in pts}
    assert len(cells) >= 4 * n_buckets
    df = spark.createDataFrame(pts, ["primary_key", "x", "y"])
    out = radius_join(df, radius_m=500.0).collect()
    got = {(r.pk_a, r.pk_b): r.dist_sq_mm2 for r in out}
    assert len(got) == len(out), "pair emitted more than once"
    quant = [(pk, round(x * 1000), round(y * 1000)) for pk, x, y in pts]
    want = {}
    for i, (pa, xa, ya) in enumerate(quant):
        for pb, xb, yb in quant[i + 1:]:
            d2 = (xa - xb) ** 2 + (ya - yb) ** 2
            if d2 <= r2:
                want[(pa, pb)] = d2
    assert got == want
    assert len(want) > 50


# --------------------------------------------------------- trip segments
def test_track_segments_split_and_length(spark):
    from geocode_spark.operators.spatial import track_segments

    # one track: 3 tight points, a 700 m jump, 2 tight points;
    # gap 600 m => two segments
    rows = [
        ("t1", 0, 0, 0),
        ("t1", 1, 100_000, 0),        # step 100 m
        ("t1", 2, 100_000, 50_000),   # step 50 m
        ("t1", 3, 800_000, 50_000),   # step 700 m -> split
        ("t1", 4, 800_000, 80_000),   # step 30 m
        ("t2", 0, 5_000_000, 5_000_000),  # single-point track
    ]
    df = spark.createDataFrame(rows, ["track_id", "seq", "x", "y"])
    out = {
        (r.track_id, r.seg_idx): (r.n_points, r.len_mm)
        for r in track_segments(df, gap_mm=600_000).collect()
    }
    assert out == {
        ("t1", 1): (3, 150_000),
        ("t1", 2): (2, 30_000),
        ("t2", 1): (1, 0),
    }


def test_track_segments_floor_sqrt_is_exact(spark):
    from geocode_spark.operators.spatial import track_segments

    # non-square step distance: len = floor(sqrt(2) * 100000)
    rows = [("t", 0, 0, 0), ("t", 1, 100_000, 100_000)]
    df = spark.createDataFrame(rows, ["track_id", "seq", "x", "y"])
    (row,) = track_segments(df, gap_mm=600_000).collect()
    assert row.len_mm == math.floor(math.sqrt(2) * 100_000)


# ------------------------------------------------------- cohort retention
def test_cohort_retention_known_triangle(spark):
    from geocode_spark.operators.temporal import cohort_retention

    base = datetime.datetime(2024, 1, 1)
    wk = datetime.timedelta(days=7)

    def ev(i, uid, weeks):
        return (i, base + weeks * wk, uid, "view", 1.0, "{}")

    rows = [
        # user 1: weeks 0, 1, 3   user 2: weeks 0, 1   user 3: week 2 only
        ev(0, 1, 0), ev(1, 1, 1), ev(2, 1, 3),
        ev(3, 2, 0), ev(4, 2, 1),
        ev(5, 3, 2),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    got = {
        (r.cohort_week, r.week_offset): r.n_users
        for r in cohort_retention(df, stagger_mod=0).collect()
    }
    weeks = sorted({k[0] for k in got})
    assert len(weeks) == 2  # cohorts: week 0 (users 1, 2) and week 2 (user 3)
    c0, c2 = weeks
    assert c2 - c0 == 2
    assert got == {
        (c0, 0): 2, (c0, 1): 2, (c0, 3): 1,
        (c2, 0): 1,
    }


def test_cohort_retention_offset0_counts_whole_cohort(spark, sf_dir):
    """Every user is active in its own cohort week, so the offset-0 rows
    partition the user set exactly."""
    from geocode_spark.operators.temporal import cohort_retention

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = cohort_retention(ev).collect()
    n_users = ev.select("user_id").distinct().count()
    assert sum(r.n_users for r in out if r.week_offset == 0) == n_users
    assert all(r.week_offset >= 0 for r in out)
    # stagger fans the fixture into multiple cohorts (non-vacuous gate)
    assert len({r.cohort_week for r in out}) > 1
