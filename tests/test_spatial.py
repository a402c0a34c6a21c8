"""kNN + point-in-polygon goldens (FIXTURES.md §4-5): engine results
must equal brute-force numpy references row-for-row."""

from collections import Counter

import numpy as np
import pytest

from vtshaver_spark.operators.knn import caption_landmark_join, knn_join_broadcast
from vtshaver_spark.operators.pip import pip_rect_join
from synthetic import landmarks_df, polygons_df, _u


@pytest.fixture(scope="module")
def points(spark):
    rows = [
        (f"img_{i:04d}", -180.0 + 360.0 * _u(f"pt/{i}/lon"), -80.0 + 160.0 * _u(f"pt/{i}/lat"))
        for i in range(300)
    ]
    return spark.createDataFrame(rows, "image_id string, lon double, lat double").cache()


@pytest.fixture(scope="module")
def landmarks(spark):
    return landmarks_df(spark, n=60).cache()


def brute_knn(points_rows, lm_rows, k=3):
    golden = {}
    for pid, plon, plat in points_rows:
        d = sorted(
            (( (plon - lon) ** 2 + (plat - lat) ** 2), lid)
            for lid, lon, lat in lm_rows
        )
        golden[pid] = [lid for _, lid in d[:k]]
    return golden


def test_knn_broadcast_matches_bruteforce(spark, points, landmarks):
    pts = [(r["image_id"], r["lon"], r["lat"]) for r in points.collect()]
    lms = [(r["landmark_id"], r["lon"], r["lat"]) for r in landmarks.collect()]
    golden = brute_knn(pts, lms, k=3)
    out = knn_join_broadcast(points, landmarks, k=3).collect()
    got = {}
    for r in sorted(out, key=lambda r: (r["image_id"], r["rank"])):
        got.setdefault(r["image_id"], []).append(r["landmark_id"])
    assert got == golden


def test_knn_broadcast_grid_matches_bruteforce(spark, points):
    """m >= 64 activates the grid-candidate selection path (r6): the
    result must stay row-identical to brute force — including points
    OUTSIDE the landmark bbox and clustered points (margin-check
    fallback rows), and k past the padded candidate window."""
    lms = landmarks_df(spark, n=200).cache()
    # clustered + out-of-bbox probes on top of the uniform fixture
    extra = [
        ("img_edge_n", 0.0, 89.5), ("img_edge_s", 0.0, -89.9),
        ("img_edge_w", -179.99, 0.0), ("img_edge_e", 179.99, 0.0),
        ("img_clust_1", -122.41, 37.77), ("img_clust_2", -122.4100001, 37.7700001),
    ]
    pts_df = points.union(
        spark.createDataFrame(extra, "image_id string, lon double, lat double")
    )
    pts = [(r["image_id"], r["lon"], r["lat"]) for r in pts_df.collect()]
    lm_rows = [(r["landmark_id"], r["lon"], r["lat"]) for r in lms.collect()]
    for k in (3, 15):  # 15 > kpad window of the k=3 case
        golden = brute_knn(pts, lm_rows, k=k)
        out = knn_join_broadcast(pts_df, lms, k=k).collect()
        got = {}
        for r in sorted(out, key=lambda r: (r["image_id"], r["rank"])):
            got.setdefault(r["image_id"], []).append(r["landmark_id"])
        assert got == golden


def test_knn_grid_builder_exactness_invariants():
    """The grid builder must put >= kpad candidates in every cell and
    keep the searched-region bounds consistent with the ring."""
    from vtshaver_spark.operators.knn import _build_lm_grid

    rng = np.random.RandomState(7)
    lon = rng.uniform(-170, 170, size=500)
    lat = rng.uniform(-75, 75, size=500)
    kpad = 11
    grid = _build_lm_grid(lon, lat, kpad)
    assert grid is not None
    cand, sx0, sx1, sy0, sy1, meta = grid
    m = lon.size
    real = (cand < m).sum(axis=1)
    assert (real >= kpad).all()
    # the kernel's exactness guarantee: every landmark strictly inside
    # the guard-shrunk searched region of a cell IS in its candidate
    # list (so any non-candidate is at least `margin` away)
    guard = 1e-9
    for c in range(cand.shape[0]):
        members = set(cand[c][cand[c] < m].tolist())
        for i in range(m):
            if (sx0[c] + guard < lon[i] < sx1[c] - guard
                    and sy0[c] + guard < lat[i] < sy1[c] - guard):
                assert i in members, (c, i)


def test_knn_broadcast_bad_k_and_few_landmarks(spark, points, landmarks):
    """k < 1 is refused before any job runs; fewer than k landmarks
    give one row per landmark, and none give no rows with the same
    output schema."""
    for k in (0, -1):
        with pytest.raises(ValueError, match="k must be >= 1"):
            knn_join_broadcast(points, landmarks, k=k)
    two = landmarks.orderBy("landmark_id").limit(2)
    out = knn_join_broadcast(points, two, k=5)
    assert out.count() == 2 * points.count()
    assert {r["rank"] for r in out.select("rank").collect()} == {1, 2}
    empty = knn_join_broadcast(points, landmarks.limit(0), k=3)
    assert empty.collect() == []
    assert empty.schema.simpleString() == out.schema.simpleString()


def test_knn_broadcast_plan_map_only(spark, points, landmarks):
    # the kNN kernel must be a shuffle-free map stage (Arrow kernel)
    plan = knn_join_broadcast(points, landmarks, k=3)._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan or "MapInPandas" in plan
    assert "Exchange" not in plan


def test_pip_rect_matches_numpy(spark, points):
    rects = polygons_df(spark, n=30)
    out = pip_rect_join(points, rects).select("image_id", "polygon_id").collect()
    got = {(r["image_id"], r["polygon_id"]) for r in out}
    golden = set()
    rect_rows = rects.collect()
    for p in points.collect():
        for rr in rect_rows:
            if rr["ring"] is not None:
                continue
            if (
                rr["lon_min"] <= p["lon"] < rr["lon_max"]
                and rr["lat_min"] <= p["lat"] < rr["lat_max"]
            ):
                golden.add((p["image_id"], rr["polygon_id"]))
    # the concave ring polygon is excluded from the rect join side
    got = {g for g in got if g[1] <= 30}
    assert got == golden


def test_pip_rect_plan_is_hash_join(spark, points):
    """The cell-cover rewrite must plan a BroadcastHashJoin on the
    cell keys — the former inequality-only condition forced a
    BroadcastNestedLoopJoin whose cost is linear in the rect count."""
    rects = polygons_df(spark, n=12)
    plan = (
        pip_rect_join(points, rects)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_caption_landmark_join(spark, landmarks):
    imgs = spark.createDataFrame(
        [
            ("i1", "a photo near landmark_7 at dusk"),
            ("i2", "a photo near landmark_17 "),
            ("i3", "no landmarks here"),
        ],
        "image_id string, caption string",
    )
    out = caption_landmark_join(imgs, landmarks).select("image_id", "landmark_id").collect()
    assert {(r["image_id"], r["landmark_id"]) for r in out} == {("i1", 7), ("i2", 17)}


def test_caption_landmark_join_plans_without_jobs(spark, landmarks):
    """Building the plan launches no Spark job, the name probe is a
    broadcast hash join, and a name said twice in one caption still
    gives one row per (image row, landmark)."""
    imgs = spark.createDataFrame(
        [
            ("i1", "landmark_7 then landmark_7 and landmark_70"),
            ("i1", "landmark_7 then landmark_7 and landmark_70"),
            ("i2", "landmark_ 7 landmark_77x"),
        ],
        "image_id string, caption string",
    )
    sc = spark.sparkContext
    sc.setJobGroup("caption-plan", "caption_landmark_join plan")
    try:
        out = caption_landmark_join(imgs, landmarks)
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("caption-plan") == []
    assert "BroadcastHashJoin" in plan
    got = Counter((r["image_id"], r["landmark_id"]) for r in out.collect())
    assert got == Counter({("i1", 7): 2})


def _chevrons_df(spark, n=10):
    """Concave chevron quads as a (polygon_id, rings) DataFrame plus
    the same rings as a (polygon_id, ring) list for cross-checking."""
    rows, listing = [], []
    for k in range(n):
        cx = -170.0 + (k * 7919 % 3200) / 10.0
        cy = -75.0 + (k * 4271 % 1300) / 10.0
        w = 6.0 + (k * 131 % 70) / 10.0
        h = 8.0 + (k * 173 % 90) / 10.0
        ring = [
            [cx, cy], [cx + w, cy + h], [cx + 2.0 * w, cy],
            [cx + w, cy + 0.4 * h], [cx, cy],
        ]
        rows.append((k + 1, [ring]))
        listing.append((k + 1, ring))
    df = spark.createDataFrame(
        rows, "polygon_id long, rings array<array<array<double>>>"
    )
    return df, listing


def _even_odd(x, y, ring):
    """Textbook even-odd crossing test of one closed ring."""
    inside = False
    for (ax, ay), (bx, by) in zip(ring, ring[1:]):
        if (ay > y) != (by > y) and x < ax + (y - ay) * (bx - ax) / (by - ay):
            inside = not inside
    return inside


def test_pip_cell_join_matches_generic(spark, points):
    """The cell-keyed BHJ general-polygon path (DataFrame polygon side)
    must agree with a brute-force pure-Python even-odd test of every
    point against every concave polygon."""
    from vtshaver_spark.operators.pip import pip_cell_join

    polys, listing = _chevrons_df(spark, n=10)
    fast = {
        (r["image_id"], r["polygon_id"])
        for r in pip_cell_join(points, polys, cell_zoom=4)
        .select("image_id", "polygon_id").collect()
    }
    generic = {
        (p["image_id"], pid)
        for p in points.collect()
        for pid, ring in listing
        if _even_odd(p["lon"], p["lat"], ring)
    }
    assert fast == generic and len(fast) > 0


def test_pip_cell_join_concavity_and_holes(spark):
    """bbox-hit-but-outside (the chevron notch) must be rejected by
    the exact verify, and a hole ring must exclude interior points
    (even-odd across rings)."""
    from vtshaver_spark.operators.pip import pip_cell_join

    donut = [
        [[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0], [0.0, 0.0]],
        [[4.0, 4.0], [6.0, 4.0], [6.0, 6.0], [4.0, 6.0], [4.0, 4.0]],
    ]
    chev = [[[20.0, 0.0], [26.0, 10.0], [32.0, 0.0], [26.0, 4.0], [20.0, 0.0]]]
    polys = spark.createDataFrame(
        [(1, donut), (2, chev)],
        "polygon_id long, rings array<array<array<double>>>",
    )
    pts = spark.createDataFrame(
        [
            ("in_fill", 2.0, 2.0),        # donut fill
            ("in_hole", 5.0, 5.0),        # inside the hole -> excluded
            ("chev_wing", 22.5, 3.0),     # inside chevron left wing
            ("chev_notch", 26.0, 1.0),    # in bbox, under the notch -> out
            ("outside", 50.0, 50.0),
        ],
        "image_id string, lon double, lat double",
    )
    got = {
        (r["image_id"], r["polygon_id"])
        for r in pip_cell_join(pts, polys, cell_zoom=4)
        .select("image_id", "polygon_id").collect()
    }
    assert got == {("in_fill", 1), ("chev_wing", 2)}


def test_pip_cell_join_column_params(spark):
    """A points side without lon/lat fails loudly up front, naming the
    missing columns, instead of deep in the join."""
    from vtshaver_spark.operators.pip import pip_cell_join

    polys = spark.createDataFrame(
        [(1, [[[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0],
               [0.0, 0.0]]])],
        "polygon_id long, rings array<array<array<double>>>",
    )
    pts = spark.createDataFrame(
        [("a", 2.0, 2.0), ("b", 50.0, 50.0)],
        "pid string, x_deg double, y_deg double",
    )
    with pytest.raises(ValueError, match=r"missing \['lon', 'lat'\]"):
        pip_cell_join(pts, polys, cell_zoom=4)


def test_pip_cell_join_plan_is_hash_join(spark, points):
    """Plan contract: BroadcastHashJoin on the packed single-long cell
    key (LongHashedRelation fast path), never a nested-loop join; the
    point side is map-only up to the join."""
    from vtshaver_spark.operators.pip import pip_cell_join

    polys, _ = _chevrons_df(spark, n=6)
    plan = (
        pip_cell_join(points, polys, cell_zoom=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan
