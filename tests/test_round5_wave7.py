"""Seventh-wave operators: map-match snap, OD matrix, RAKE keyphrases,
Zipf rank-frequency slope — validated against in-python brute force
(independent of the DuckDB twins the driver gate uses)."""

import math
import random

from pyspark.sql import functions as F


# -------------------------------------------------------------- map match
def _seg_dist2(px, py, ax, ay, bx, by):
    dx, dy = bx - ax, by - ay
    len2 = dx * dx + dy * dy
    dot = (px - ax) * dx + (py - ay) * dy
    pa2 = (px - ax) ** 2 + (py - ay) ** 2
    pb2 = (px - bx) ** 2 + (py - by) ** 2
    if len2 == 0 or dot <= 0:
        return float(pa2)
    if dot >= len2:
        return float(pb2)
    return float(pa2) - float(dot) * float(dot) / float(len2)


def test_map_match_matches_bruteforce(spark):
    from geocode_spark.operators.spatial import map_match

    pts = [
        ("a", 380100.0, 4400100.0),   # near seg 1's interior
        ("b", 380950.0, 4400000.0),   # near seg 1's endpoint
        ("c", 382500.0, 4402500.0),   # nearest seg lives in adjacent cell
        ("d", 399999.0, 4439999.0),   # > 1 km from everything: unmatched
    ]
    segs = [
        (1, 380000.0, 4400000.0, 381000.0, 4400000.0),
        (2, 382000.0, 4403000.0, 383000.0, 4403000.0),
        (3, 380000.0, 4402000.0, 380000.0, 4403000.0),
    ]
    pdf = spark.createDataFrame(pts, ["primary_key", "x", "y"])
    sdf = spark.createDataFrame(segs, ["cand_id", "x0", "y0", "x1", "y1"])
    got = {
        r.primary_key: (r.cand_id, r.dist_mm)
        for r in map_match(pdf, sdf, radius_m=1000.0).collect()
    }
    r2 = (1000 * 1000) ** 2
    want = _bruteforce_snap(pts, segs, r2)
    assert "d" not in want and "d" not in got  # beyond-radius point omitted
    assert got == want
    assert set(got) == {"a", "b", "c"}

    # wide scatter: 400 points and 300 segments over 25 km, so the grid
    # kernel's cells far outnumber its cogroup buckets and many cells share
    # one bucket's merge walk
    rng = random.Random(7)
    pts = [
        (f"w{i:03d}", 380000.0 + rng.uniform(0, 25000),
         4400000.0 + rng.uniform(0, 25000))
        for i in range(400)
    ]
    segs = []
    for cid in range(300):
        x0 = 380000.0 + rng.uniform(0, 25000)
        y0 = 4400000.0 + rng.uniform(0, 25000)
        segs.append((cid, x0, y0, x0 + rng.uniform(-1500, 1500),
                     y0 + rng.uniform(-1500, 1500)))
    n_buckets = max(4 * spark.sparkContext.defaultParallelism, 16)
    cells = {(round(x * 1000) // 1_000_000, round(y * 1000) // 1_000_000)
             for _, x, y in pts}
    assert len(cells) >= 4 * n_buckets
    pdf = spark.createDataFrame(pts, ["primary_key", "x", "y"])
    sdf = spark.createDataFrame(segs, ["cand_id", "x0", "y0", "x1", "y1"])
    got = {
        r.primary_key: (r.cand_id, r.dist_mm)
        for r in map_match(pdf, sdf, radius_m=1000.0).collect()
    }
    assert got == _bruteforce_snap(pts, segs, r2)
    assert 100 < len(got) < len(pts)  # effect size: matches and misses


def _bruteforce_snap(pts, segs, r2):
    want = {}
    for pk, x, y in pts:
        px, py = round(x * 1000), round(y * 1000)
        best = None
        for cid, x0, y0, x1, y1 in segs:
            d2 = _seg_dist2(px, py, round(x0 * 1000), round(y0 * 1000),
                            round(x1 * 1000), round(y1 * 1000))
            if d2 <= r2 and (best is None or (d2, cid) < best):
                best = (d2, cid)
        if best is not None:
            want[pk] = (best[1], math.floor(math.sqrt(best[0])))
    return want


# -------------------------------------------------------------- OD matrix
def test_od_matrix_splits_trips(spark):
    from geocode_spark.operators.spatial import od_matrix

    rows = [
        # trip 1: cell (0,0) -> (0,0); then a 700 m jump starts trip 2:
        # cell (0,0) -> (2,0)
        ("t", 0, 100_000, 100_000),
        ("t", 1, 200_000, 100_000),
        ("t", 2, 900_000, 100_000),    # jump > 600 m -> new trip
        ("t", 3, 2_500_000, 100_000),  # jump > 600 m -> third trip
        ("t", 4, 2_600_000, 100_000),
    ]
    df = spark.createDataFrame(rows, ["track_id", "seq", "x", "y"])
    got = {
        (r.o_cx, r.o_cy, r.d_cx, r.d_cy): r.n_trips
        for r in od_matrix(df, gap_mm=600_000).collect()
    }
    assert got == {
        (0, 0, 0, 0): 2,  # trip 1 (0.1->0.2 km) and trip 2 (0.9 km alone)
        (2, 0, 2, 0): 1,  # trip 3 (2.5 -> 2.6 km)
    }


# ---------------------------------------------------------------- RAKE
def test_rake_scores_by_hand(spark):
    from geocode_spark.textops.corpusops import rake_keyphrases

    # stopwords used: "the", "and" — phrases: "red deep learning",
    # "deep learning", "red"
    docs = [
        (0, "red deep learning and the deep learning and red", "en", "s", 1),
    ]
    df = spark.createDataFrame(
        docs, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    out = {
        r.phrase: (r.score_micro, r.rank)
        for r in rake_keyphrases(df, k=10).collect()
    }
    # phrase corpus: ["red deep learning", "deep learning", "red"]
    # freq: red 2, deep 2, learning 2
    # deg:  red 3+1=4, deep 3+2=5, learning 3+2=5
    # score(word) micro: red 2_000_000, deep 2_500_000, learning 2_500_000
    assert out == {
        "red deep learning": (7_000_000, 1),
        "deep learning": (5_000_000, 2),
        "red": (2_000_000, 3),
    }


def test_rake_ranks_are_dense_per_doc(spark, sf_dir):
    from geocode_spark.textops.corpusops import RAKE_TOPK, rake_keyphrases

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = rake_keyphrases(docs).groupBy("doc_id").agg(
        F.count("*").alias("n"), F.max("rank").alias("mx")
    ).collect()
    assert all(r.n == r.mx <= RAKE_TOPK for r in out)
    assert len(out) > 0


# ---------------------------------------------------------------- Zipf
def test_zipf_slope_matches_python_leastsquares(spark):
    from geocode_spark.textops.corpusops import zipf_slope

    # freq by construction: aaa x8, bbb x4, ccc x2, ddd x1
    text = " ".join(["aaa"] * 8 + ["bbb"] * 4 + ["ccc"] * 2 + ["ddd"])
    df = spark.createDataFrame(
        [(0, text, "en", "s1", len(text))],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    (row,) = zipf_slope(df).collect()
    freqs = [8, 4, 2, 1]
    pts = [
        (math.floor(math.log(r + 1) * 1000), math.floor(math.log(f) * 1000))
        for r, f in enumerate(freqs)
    ]
    n = len(pts)
    sx = sum(p[0] for p in pts)
    sy = sum(p[1] for p in pts)
    sxy = sum(p[0] * p[1] for p in pts)
    sxx = sum(p[0] * p[0] for p in pts)
    num, den = (n * sxy - sx * sy) * 1000, n * sxx - sx * sx
    # truncation toward zero (Spark div == DuckDB // semantics)
    want = -(-num // den) if (num < 0) != (den < 0) else num // den
    assert row.n_terms == 4
    assert row.slope_milli == want
    assert row.slope_milli < 0  # a decaying rank-frequency curve


def test_zipf_slope_fixture_sources_decay(spark, sf_dir):
    from geocode_spark.textops.corpusops import zipf_slope

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = zipf_slope(docs).collect()
    assert len(out) > 1
    assert all(r.slope_milli < 0 for r in out)
