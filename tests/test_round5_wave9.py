"""Ninth-wave operators: concave ray-cast PIP, proper segment crossings,
asymmetric containment pairs — validated against in-python brute force /
hand-constructed geometry."""

import random

from pyspark.sql import functions as F


# ---------------------------------------------------------- ray-cast PIP
def _raycast(px, py, ring):
    n = len(ring)
    cross = 0
    for i in range(n):
        xi, yi = ring[i]
        xj, yj = ring[(i + 1) % n]
        if (yi > py) != (yj > py):
            if yj > yi:
                if (px - xi) * (yj - yi) < (py - yi) * (xj - xi):
                    cross += 1
            else:
                if (px - xi) * (yj - yi) > (py - yi) * (xj - xi):
                    cross += 1
    return cross % 2 == 1


def test_pip_raycast_concave_ring(spark):
    from geocode_spark.operators.spatial import pip_raycast

    # concave "L" ring in milli units around (380.02km, 4400.02km)-ish;
    # the notch point is inside the bbox but OUTSIDE the ring — the case
    # a convex test gets wrong.
    ox, oy = 380_020_000, 4_400_020_000
    ring = [
        (ox, oy), (ox + 4_000_000, oy), (ox + 4_000_000, oy + 1_500_000),
        (ox + 1_500_000, oy + 1_500_000), (ox + 1_500_000, oy + 4_000_000),
        (ox, oy + 4_000_000),
    ]
    regions = spark.createDataFrame(
        [("L", [v[0] for v in ring], [v[1] for v in ring])],
        "gid string, xs array<bigint>, ys array<bigint>",
    )
    pts = [
        ("in_leg_x", 382_020.0, 4_400_720.0),   # inside the horizontal leg
        ("in_leg_y", 380_720.0, 4_402_020.0),   # inside the vertical leg
        ("in_notch", 383_020.0, 4_403_020.0),   # bbox yes, ring NO —
                                                # the case a convex test
                                                # gets wrong
        ("outside", 390_020.0, 4_410_020.0),    # fully outside the bbox
    ]
    pdf = spark.createDataFrame(pts, ["primary_key", "x", "y"])
    got = {r.primary_key for r in pip_raycast(pdf, regions).collect()}
    want = {
        pk for pk, x, y in pts
        if _raycast(round(x * 1000), round(y * 1000), ring)
    }
    assert got == want == {"in_leg_x", "in_leg_y"}


def test_pip_raycast_star_regions_nonvacuous(spark, sf_dir):
    import __spark_entry__ as entrymod
    from geocode_spark.operators.spatial import (
        PIP_CELL_MM,
        pip_raycast,
        synthetic_regions,
    )

    pts = entrymod._success_points(spark, sf_dir)
    regions = synthetic_regions(pts)
    out = pip_raycast(pts, regions)
    n_in = out.count()
    assert n_in > 0
    # sanity: strictly fewer than the bbox-candidate count (the star is
    # concave, so some bbox points must fall outside the ring)
    assert n_in < pts.count()

    # wide scatter: 400 points over 25 km against their multi-region star
    # corpus, checked pair for pair against the brute-force ray cast; the
    # grid kernel's cells far outnumber its cogroup buckets, so many cells
    # share one bucket's merge walk
    rng = random.Random(9)
    pts = [
        (f"w{i:03d}", 380000.0 + rng.uniform(0, 25000),
         4400000.0 + rng.uniform(0, 25000))
        for i in range(400)
    ]
    n_buckets = max(4 * spark.sparkContext.defaultParallelism, 16)
    cells = {(round(x * 1000) // PIP_CELL_MM, round(y * 1000) // PIP_CELL_MM)
             for _, x, y in pts}
    assert len(cells) >= 4 * n_buckets
    pdf = spark.createDataFrame(pts, ["primary_key", "x", "y"])
    regions = synthetic_regions(pdf)
    rings = {
        r.gid: list(zip(r.xs, r.ys)) for r in regions.collect()
    }
    got = {(r.primary_key, r.gid)
           for r in pip_raycast(pdf, regions).collect()}
    want = {
        (pk, gid) for pk, x, y in pts for gid, ring in rings.items()
        if _raycast(round(x * 1000), round(y * 1000), ring)
    }
    assert got == want
    assert len(rings) > 10 and len(want) > 20  # effect size


# ------------------------------------------------------ segment crossings
def test_segment_crossings_cases(spark):
    from geocode_spark.operators.spatial import segment_crossings

    segs = [
        # 1 x 2: a proper X crossing
        (1, 380000.0, 4400000.0, 380002.0, 4400002.0),
        (2, 380000.0, 4400002.0, 380002.0, 4400000.0),
        # 3 touches 1 at an endpoint: NOT a proper crossing
        (3, 380002.0, 4400002.0, 380004.0, 4400000.0),
        # 4 is parallel to 1, offset: no crossing
        (4, 380000.0, 4400001.0, 380002.0, 4400003.0),
        # 5 is collinear with 1, overlapping: excluded by design
        (5, 380001.0, 4400001.0, 380003.0, 4400003.0),
        # 6 crosses 4 properly (far from the others)
        (6, 380000.0, 4400003.0, 380002.0, 4400001.0),
    ]
    df = spark.createDataFrame(segs, ["cand_id", "x0", "y0", "x1", "y1"])
    got = {(r.cand_a, r.cand_b) for r in segment_crossings(df).collect()}
    # by hand (coordinates relative to 380000/4400000; lines y=x, y=2-x,
    # y=4-x, y=x+1, y=x, y=3-x for segments 1..6):
    #  proper crossings, strictly interior to both segments:
    #   (1,2) at (1,1); (2,4) at (0.5,1.5); (4,6) at (1,2);
    #   (1,6) at (1.5,1.5); (5,6) at (1.5,1.5).
    #  excluded by design:
    #   (2,5): 2 passes through 5's ENDPOINT (1,1) -> orientation zero;
    #   (1,3): endpoint contact at (2,2);
    #   (1,4)/(1,5)/(2,3)/(2,6)/(3,6)/(4,5): parallel or collinear;
    #   (3,4): lines meet at x=1.5, outside 3's x-range [2,4].
    assert got == {(1, 2), (2, 4), (4, 6), (1, 6), (5, 6)}


# ------------------------------------------------------ containment pairs
def test_containment_asymmetry(spark):
    from geocode_spark.textops.dedup import containment_pairs

    small = "alpha beta gamma delta epsilon zeta"
    big = small + " eta theta iota kappa lambda mu nu xi omicron pi rho"
    docs = spark.createDataFrame(
        [(1, small, "en", "s", len(small)), (2, big, "en", "s", len(big))],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    out = {(r.id_src, r.id_dst): r.containment_permille
           for r in containment_pairs(docs).collect()}
    # every 3-shingle of `small` occurs in `big` -> containment 1000
    assert out.get((1, 2)) == 1000
    # big is NOT contained in small
    assert (2, 1) not in out


def test_containment_jaccard_blindspot(spark):
    """The pair above is invisible to the Jaccard operator at the same
    threshold — the reason containment exists."""
    from geocode_spark.textops.dedup import ngram_jaccard_pairs

    small = "alpha beta gamma delta epsilon zeta"
    big = small + " eta theta iota kappa lambda mu nu xi omicron pi rho"
    docs = spark.createDataFrame(
        [(1, small, "en", "s", len(small)), (2, big, "en", "s", len(big))],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    assert ngram_jaccard_pairs(docs, 0.8).count() == 0
