"""J3 filter-and-refine tile join + A4/A6 + zonal A5 + kNN J6 (oracled)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_hadoop_spark.config import BUFFER_DEG_Z13, ZONAL_BINS
from osm_hadoop_spark.functions.geometry import parse_wkt_batch
from osm_hadoop_spark.functions.spatial import (
    point_polyline_dist_sq,
    polyline_box_dist_sq,
    polyline_box_intersects,
)
from osm_hadoop_spark.functions.tiles import (
    tile_bounds,
    tile_for_point,
    tiles_for_envelope_flat,
    unpack_tile,
)
from osm_hadoop_spark.operators.knn import knn_join
from osm_hadoop_spark.operators.tile_join import (
    assign_tiles,
    or_composite_bitsets,
    rasterize_tile_bitsets,
    tile_counts,
)
from osm_hadoop_spark.operators.zonal import (
    pixels_to_cells,
    zonal_histogram,
    zonal_histogram_text,
)
from osm_hadoop_spark.sources.fixtures import gen_raster_tiles, gen_ways_tagged


@pytest.fixture(scope="module")
def ways_arrays(spark):
    pdf = gen_ways_tagged(spark, n=60).toPandas()
    xs_l, ys_l = [], []
    for w in pdf["geometry_wkt"]:
        xs, ys, _ = parse_wkt_batch([w])
        xs_l.append(xs.tolist())
        ys_l.append(ys.tolist())
    pdf = pdf.assign(xs=xs_l, ys=ys_l)
    return spark.createDataFrame(
        pdf[["way_id", "highway", "xs", "ys"]],
        "way_id long, highway string, xs array<double>, ys array<double>",
    ).cache()


def brute_force_tiles(pdf, zoom, tms, buffer_deg):
    """Oracle: candidate enumeration + exact refine, one way at a time."""
    out = set()
    for _, r in pdf.iterrows():
        xs = np.asarray(r["xs"]); ys = np.asarray(r["ys"])
        cand, _ = tiles_for_envelope_flat(
            np.array([xs.min() - buffer_deg]), np.array([ys.min() - buffer_deg]),
            np.array([xs.max() + buffer_deg]), np.array([ys.max() + buffer_deg]),
            zoom, tms=tms,
        )
        bxmin, bymin, bxmax, bymax = tile_bounds(cand, tms=tms)
        n = cand.shape[0]
        counts = np.full(n, xs.shape[0], dtype=np.int64)
        fx = np.tile(xs, n); fy = np.tile(ys, n)
        if buffer_deg > 0:
            keep = polyline_box_dist_sq(fx, fy, counts, bxmin, bymin, bxmax, bymax) <= buffer_deg**2
        else:
            keep = polyline_box_intersects(fx, fy, counts, bxmin, bymin, bxmax, bymax)
        for t in cand[keep]:
            out.add((int(r["way_id"]), int(t)))
    return out


def test_assign_tiles_matches_oracle_z16(spark, ways_arrays):
    got = {(r["way_id"], r["tile_id"]) for r in assign_tiles(ways_arrays, 16, tms=True).collect()}
    expected = brute_force_tiles(ways_arrays.toPandas(), 16, True, 0.0)
    assert got == expected
    assert len(got) > len(ways_arrays.toPandas())  # multi-tile ways exist


def test_assign_tiles_buffered_z13(spark, ways_arrays):
    got = {(r["way_id"], r["tile_id"])
           for r in assign_tiles(ways_arrays, 13, tms=True, buffer_deg=BUFFER_DEG_Z13).collect()}
    expected = brute_force_tiles(ways_arrays.toPandas(), 13, True, BUFFER_DEG_Z13)
    assert got == expected
    unbuffered = {(r["way_id"], r["tile_id"])
                  for r in assign_tiles(ways_arrays, 13, tms=True).collect()}
    assert unbuffered <= got  # buffering only adds tiles


def test_refine_prunes_candidates(spark, ways_arrays):
    cover = assign_tiles(ways_arrays, 14, tms=True, refine=False).count()
    refined = assign_tiles(ways_arrays, 14, tms=True, refine=True).count()
    assert refined <= cover


def test_tile_counts_salted_equals_plain(spark, ways_arrays):
    assigned = assign_tiles(ways_arrays, 16, tms=True).cache()
    plain = {(r["tile_id"], r["n_ways"]) for r in tile_counts(assigned).collect()}
    salted = {(r["tile_id"], r["n_ways"]) for r in tile_counts(assigned, salted=True).collect()}
    assert plain == salted


def test_bitset_burn_and_or_composite(spark):
    # two ways crossing one z13 tile; composite must equal elementwise OR
    ways = spark.createDataFrame(
        [(1, [10.0, 10.02], [45.0, 45.0]), (2, [10.0, 10.0], [44.99, 45.02])],
        "way_id long, xs array<double>, ys array<double>",
    )
    per_way = rasterize_tile_bitsets(ways, 13, BUFFER_DEG_Z13).cache()
    rows = per_way.collect()
    assert len(rows) >= 2
    by_tile = {}
    for r in rows:
        arr = np.frombuffer(r["bitset"], dtype=np.uint8)
        assert arr.shape[0] == 256 * 256 // 8
        assert arr.any()  # buffered way must set pixels in its tiles
        by_tile.setdefault(r["tile_id"], []).append(arr)
    comp = {r["tile_id"]: np.frombuffer(r["bitset"], dtype=np.uint8)
            for r in or_composite_bitsets(per_way).collect()}
    for t, arrs in by_tile.items():
        assert (comp[t] == np.bitwise_or.reduce(np.stack(arrs), axis=0)).all()
    comp2 = {r["tile_id"]: np.frombuffer(r["bitset"], dtype=np.uint8)
             for r in or_composite_bitsets(per_way, salted=False).collect()}
    assert set(comp) == set(comp2)
    for t in comp:
        assert (comp[t] == comp2[t]).all()


def test_burn_kernel_bounded_memory_long_way_dense_tile():
    # one 4000-vertex way zigzagging across a dense z13 tile: round 1's
    # np.tile all-pairs product would allocate 65536 px * 4000 vtx * 8 B
    # (~2 GB); the chunked kernel must stay bounded (verdict item 4)
    import tracemalloc

    import pandas as pd

    from osm_hadoop_spark.functions.spatial import point_polyline_dist_sq
    from osm_hadoop_spark.functions.tiles import tile_bounds
    from osm_hadoop_spark.functions.tiles import tile_for_point
    from osm_hadoop_spark.operators.tile_join import burn_batch_bitsets

    tile_id = int(tile_for_point(np.array([10.0]), np.array([45.0]), 13, tms=True)[0])
    bxmin, bymin, bxmax, bymax = tile_bounds(np.array([tile_id]), tms=True)
    n = 4000
    xs = np.linspace(bxmin[0], bxmax[0], n)
    ys = np.where(np.arange(n) % 2 == 0, bymin[0], bymax[0])  # dense zigzag
    pdf = pd.DataFrame({"tile_id": [tile_id], "xs": [xs], "ys": [ys]})
    tracemalloc.start()
    out = burn_batch_bitsets(pdf, True, BUFFER_DEG_Z13, 256)
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert peak < 256 * 1024 * 1024, f"burn kernel peaked at {peak/2**20:.0f} MB"
    mask = np.unpackbits(np.frombuffer(out["bitset"].iloc[0], dtype=np.uint8))
    assert mask.sum() > 60000  # zigzag + buffer covers nearly the whole tile

    # equivalence vs the direct all-pairs distance formulation (small way)
    m = 37
    xs2 = np.linspace(bxmin[0], bxmax[0], m)
    ys2 = bymin[0] + (bymax[0] - bymin[0]) * (0.2 + 0.6 * (np.arange(m) % 3) / 2.0)
    pdf2 = pd.DataFrame({"tile_id": [tile_id], "xs": [xs2], "ys": [ys2]})
    out2 = burn_batch_bitsets(pdf2, True, BUFFER_DEG_Z13, 256)
    got = np.unpackbits(np.frombuffer(out2["bitset"].iloc[0], dtype=np.uint8)).reshape(256, 256)
    psx = (bxmax[0] - bxmin[0]) / 256
    psy = (bymax[0] - bymin[0]) / 256
    cx = bxmin[0] + (np.arange(256) + 0.5) * psx
    cy = bymax[0] - (np.arange(256) + 0.5) * psy
    gx, gy = np.meshgrid(cx, cy)
    rep = gx.size
    d2 = point_polyline_dist_sq(
        gx.ravel(), gy.ravel(),
        np.tile(xs2, rep), np.tile(ys2, rep),
        np.full(rep, m, dtype=np.int64),
    ).reshape(256, 256)
    want = (d2 <= BUFFER_DEG_Z13 * BUFFER_DEG_Z13).astype(np.uint8)
    assert (got == want).all()


def test_polyline_polygon_intersects_kernel():
    from osm_hadoop_spark.functions.spatial import polyline_polygon_intersects

    # unit square ring (0,0)-(1,0)-(1,1)-(0,1); concave L-ring for case 4
    sq = ([0.0, 1.0, 1.0, 0.0], [0.0, 0.0, 1.0, 1.0])
    lx = [0.0, 2.0, 2.0, 1.2, 1.2, 0.0]
    ly = [0.0, 0.0, 2.0, 2.0, 0.4, 0.4]
    cases = [
        # (way_xs, way_ys, poly, expected)
        ([0.2, 0.8], [0.2, 0.8], sq, True),            # fully inside
        ([-0.5, 1.5], [0.5, 0.5], sq, True),           # crosses, no vertex in
        ([2.0, 3.0], [2.0, 3.0], sq, False),           # fully outside
        ([-1.0, -1.0], [-1.0, 2.0], sq, False),        # passes beside
        ([0.1, 0.9], [1.5, 1.5], (lx, ly), False),     # inside L bbox, in notch
        ([0.5, 0.5], [0.1, 0.2], (lx, ly), True),      # inside L arm
    ]
    wx = np.concatenate([np.array(c[0]) for c in cases])
    wy = np.concatenate([np.array(c[1]) for c in cases])
    wc = np.array([len(c[0]) for c in cases], dtype=np.int64)
    px = np.concatenate([np.array(c[2][0]) for c in cases])
    py = np.concatenate([np.array(c[2][1]) for c in cases])
    pc = np.array([len(c[2][0]) for c in cases], dtype=np.int64)
    got = polyline_polygon_intersects(wx, wy, wc, px, py, pc)
    assert got.tolist() == [c[3] for c in cases]


def test_way_polygon_join_operator(spark):
    from osm_hadoop_spark.operators.polygon_join import way_polygon_join

    ways = spark.createDataFrame(
        [(1, [0.2, 0.8], [0.2, 0.8]),      # inside poly 10
         (2, [-0.5, 1.5], [0.5, 0.5]),     # crosses poly 10
         (3, [5.0, 6.0], [5.0, 6.0])],     # outside both
        "way_id long, xs array<double>, ys array<double>",
    )
    polys = spark.createDataFrame(
        [(10, [0.0, 1.0, 1.0, 0.0], [0.0, 0.0, 1.0, 1.0]),
         (20, [3.0, 4.0, 3.5], [3.0, 3.0, 4.0])],
        "boundary_id long, pxs array<double>, pys array<double>",
    )
    got = {(r["way_id"], r["boundary_id"])
           for r in way_polygon_join(ways, polys).collect()}
    assert got == {(1, 10), (2, 10)}


# ---------------------------------------------------------------------------
# A5 zonal
# ---------------------------------------------------------------------------

def zonal_oracle(pdf, zoom, quirk):
    out = {}
    for _, r in pdf.iterrows():
        w, h = r["width"], r["height"]
        vals = np.asarray(r["pixels"], dtype=np.int32).reshape(h, w)
        for row in range(h):
            for col in range(w):
                if quirk:
                    x = r["origin_x"] + (col + 1) * r["pixel_size_x"]
                    y = r["origin_y"] - row * r["pixel_size_y"]
                else:
                    x = r["origin_x"] + (col + 0.5) * r["pixel_size_x"]
                    y = r["origin_y"] - (row + 0.5) * r["pixel_size_y"]
                t = int(tile_for_point(np.array([x]), np.array([y]), zoom)[0])
                key = (t, int(vals[row, col]))
                out[key] = out.get(key, 0) + 1
    return out


@pytest.mark.parametrize("quirk", [True, False])
def test_zonal_histogram_matches_oracle(spark, quirk):
    rt = gen_raster_tiles(spark)
    got = {(r["tile_id"], r["val"]): r["cnt"]
           for r in zonal_histogram(rt, zoom=14, reference_quirk=quirk).collect()}
    expected = zonal_oracle(rt.toPandas(), 14, quirk)
    assert got == expected
    assert max(v for (_, v), _c in zip(got.keys(), got.values())) < ZONAL_BINS


def test_zonal_quirk_differs_from_centers(spark):
    """The E14 x-offset quirk must be observable (different tiling near edges)."""
    rt = gen_raster_tiles(spark)
    a = zonal_histogram(rt, reference_quirk=True)
    b = zonal_histogram(rt, reference_quirk=False)
    assert a.exceptAll(b).count() > 0


def test_zonal_text_shape(spark):
    rt = gen_raster_tiles(spark)
    row = zonal_histogram_text(zonal_histogram(rt)).first()
    v, c = row["bin_text"].split(":")
    assert int(v) >= 0 and int(c) > 0


# ---------------------------------------------------------------------------
# J6 kNN
# ---------------------------------------------------------------------------

def test_knn_matches_brute_force(spark, ways_arrays):
    rng = np.random.default_rng(11)
    pts = [(int(i), float(lon), float(lat)) for i, (lon, lat) in enumerate(
        zip(rng.uniform(-12, 12, 25), rng.uniform(-10, 10, 25)))]
    points = spark.createDataFrame(pts, "point_id long, lon double, lat double")
    got = knn_join(points, ways_arrays.withColumnRenamed("way_id", "feature_id"), k=3)
    got_map = {}
    for r in got.collect():
        got_map.setdefault(r["point_id"], []).append((r["rank"], r["feature_id"], r["dist"]))

    fpdf = ways_arrays.toPandas()
    for pid, lon, lat in pts:
        dists = []
        for _, fr in fpdf.iterrows():
            xs = np.asarray(fr["xs"]); ys = np.asarray(fr["ys"])
            d = float(np.sqrt(point_polyline_dist_sq(
                np.array([lon]), np.array([lat]), xs, ys,
                np.array([xs.shape[0]]))[0]))
            dists.append((d, int(fr["way_id"])))
        expected = sorted(dists)[:3]
        got_sorted = sorted(got_map[pid])
        assert len(got_sorted) == 3
        for rank, (exp_d, exp_f) in enumerate(expected, start=1):
            g = got_sorted[rank - 1]
            assert g[1] == exp_f, (pid, rank, g, expected)
            assert abs(g[2] - exp_d) < 1e-12


def test_knn_fewer_features_than_k(spark):
    points = spark.createDataFrame([(1, 0.0, 0.0)], "point_id long, lon double, lat double")
    features = spark.createDataFrame(
        [(7, [1.0, 2.0], [1.0, 1.0]), (8, [5.0, 6.0], [5.0, 5.0])],
        "feature_id long, xs array<double>, ys array<double>",
    )
    rows = knn_join(points, features, k=5).collect()
    assert sorted(r["feature_id"] for r in rows) == [7, 8]


def test_jvm_cover_equals_arrow(spark, ways_arrays):
    """cover_impl='jvm' must emit the identical pair set as the Arrow
    kernel, including buffered covers and tms y-flip."""
    for z, buf, tms in [(5, 0.0, False), (7, 0.25, False), (6, 0.0, True)]:
        a = assign_tiles(ways_arrays, zoom=z, tms=tms, buffer_deg=buf, refine=False)
        b = assign_tiles(ways_arrays, zoom=z, tms=tms, buffer_deg=buf,
                         refine=False, cover_impl="jvm")
        ra = sorted((r["way_id"], r["tile_id"]) for r in a.collect())
        rb = sorted((r["way_id"], r["tile_id"]) for r in b.collect())
        assert ra == rb and len(ra) > 0, (z, buf, tms)


def test_jvm_refine_equals_arrow(spark, ways_arrays):
    """cover_impl='jvm' with refine=True (the zero-Python flagship path)
    must emit the identical surviving pair set as the Arrow separating-axis
    kernel at every zoom/orientation in use, and must be strictly smaller
    than its own unrefined cover (the refine actually rejects)."""
    for z, tms in [(16, True), (14, False), (10, False)]:
        a = assign_tiles(ways_arrays, zoom=z, tms=tms, refine=True)
        b = assign_tiles(ways_arrays, zoom=z, tms=tms, refine=True, cover_impl="jvm")
        ra = sorted((r["way_id"], r["tile_id"]) for r in a.collect())
        rb = sorted((r["way_id"], r["tile_id"]) for r in b.collect())
        assert ra == rb and len(ra) > 0, (z, tms)
    cover = assign_tiles(ways_arrays, zoom=14, tms=False, refine=False,
                         cover_impl="jvm").count()
    refined = assign_tiles(ways_arrays, zoom=14, tms=False, refine=True,
                           cover_impl="jvm").count()
    assert refined < cover


def test_jvm_refine_boundary_touch_equals_arrow(spark):
    """Regression (round 5, found by the sf0.01 oracle sweep): a segment
    whose min-x vertex lies EXACTLY on a tile boundary forward-maps into
    the right-hand tile, yet the inclusive refine also accepts the
    left-hand tile it merely touches — which is a candidate only via the
    way-ENVELOPE cover. The segment-explode cover must clip to the
    envelope cover and conditionally extend one tile to reproduce the
    oracle/Arrow accept set exactly (11.25 = 544/1024*360-180, a z10
    column boundary)."""
    df = spark.createDataFrame(
        [(1, [11.25, 11.6, 11.0], [10.1, 10.3, 10.9])],
        "way_id long, xs array<double>, ys array<double>",
    )
    for z in (10, 12, 14):
        a = sorted(r["tile_id"] for r in
                   assign_tiles(df, zoom=z, tms=False, refine=True).collect())
        b = sorted(r["tile_id"] for r in
                   assign_tiles(df, zoom=z, tms=False, refine=True,
                                cover_impl="jvm").collect())
        assert a == b and len(a) > 0, z


def test_jvm_refine_randomized_boundary_biased_parity(spark):
    """Randomized jvm==arrow pair-set parity with coordinates biased onto
    exact tile boundaries and dyadic grids (the populations where the
    round-5 boundary-touch bug lived), across zooms and buffers."""
    rng = np.random.default_rng(7)
    zooms = [3, 7, 12]

    def coord(lo, hi, z):
        kind = rng.integers(0, 3)
        if kind == 0:
            return float(rng.uniform(lo, hi))
        if kind == 1:  # dyadic 1/64 grid
            return float(np.floor(rng.uniform(lo, hi) * 64) / 64.0)
        n = 1 << z  # exact tile x-boundary
        c = int(rng.integers(0, n + 1))
        return float(c / n * 360.0 - 180.0) if hi > 90 else float(
            max(lo, min(hi, c / n * 170.0 - 85.0)))

    rows = []
    for i in range(120):
        z = zooms[i % 3]
        npts = int(rng.integers(1, 6))
        cx, cy = rng.uniform(-170, 170), rng.uniform(-75, 75)
        xs = [min(179.9, max(-179.9, cx + coord(-1, 1, z))) for _ in range(npts)]
        ys = [min(84.0, max(-84.0, cy + coord(-1, 1, z))) for _ in range(npts)]
        rows.append((i, xs, ys))
    df = spark.createDataFrame(rows, "way_id long, xs array<double>, ys array<double>")
    for z in zooms:
        for buf in (0.0, 0.05):
            a = sorted((r["way_id"], r["tile_id"]) for r in
                       assign_tiles(df, zoom=z, tms=False, buffer_deg=buf,
                                    refine=True).collect())
            b = sorted((r["way_id"], r["tile_id"]) for r in
                       assign_tiles(df, zoom=z, tms=False, buffer_deg=buf,
                                    refine=True, cover_impl="jvm").collect())
            assert a == b and len(a) > 0, (z, buf)


def test_jvm_buffered_refine_equals_arrow(spark, ways_arrays):
    """Round 5: cover_impl='jvm' now covers the buffered (distance) refine
    too — exact segment-box distance + vertex-clamp kernels in codegen,
    mirroring the Arrow polyline_box_dist_sq accept set op-for-op."""
    for z, buf in [(13, 0.008333), (11, 0.05), (9, 0.25)]:
        a = assign_tiles(ways_arrays, zoom=z, tms=True, buffer_deg=buf, refine=True)
        b = assign_tiles(ways_arrays, zoom=z, tms=True, buffer_deg=buf, refine=True,
                         cover_impl="jvm")
        ra = sorted((r["way_id"], r["tile_id"]) for r in a.collect())
        rb = sorted((r["way_id"], r["tile_id"]) for r in b.collect())
        assert ra == rb and len(ra) > 0, (z, buf)


def test_jvm_refine_single_vertex_point_in_box(spark):
    """Single-vertex 'lines' degrade to point-in-box on both impls."""
    df = spark.createDataFrame(
        [(1, [10.0], [20.0]), (2, [-179.9], [-84.0])],
        "way_id long, xs array<double>, ys array<double>",
    )
    for impl in ("arrow", "jvm"):
        got = sorted(
            (r["way_id"], r["tile_id"])
            for r in assign_tiles(df, zoom=9, tms=False, refine=True,
                                  cover_impl=impl).collect()
        )
        assert len(got) == 2, impl
        if impl == "arrow":
            base = got
    assert got == base


@pytest.mark.parametrize("refine", [True, False])
@pytest.mark.parametrize("buffer_deg", [0.0, 0.01])
def test_empty_way_covers_no_tile_on_both_kernels(spark, refine, buffer_deg):
    """A zero-vertex way emits no pair and does not fail the batch, on both
    kernels; the normal way next to it keeps its pairs."""
    df = spark.createDataFrame(
        [(1, [], []), (2, [10.0, 10.3], [20.0, 20.2])],
        "way_id long, xs array<double>, ys array<double>",
    )
    got = {}
    for impl in ("arrow", "jvm"):
        got[impl] = sorted(
            (r["way_id"], r["tile_id"])
            for r in assign_tiles(df, zoom=12, tms=False, refine=refine,
                                  buffer_deg=buffer_deg, cover_impl=impl).collect()
        )
    assert got["arrow"] == got["jvm"]
    assert {w for w, _ in got["arrow"]} == {2}


def test_max_cells_guard_dropping_a_whole_batch(spark):
    """A batch whose every way exceeds the cell cap emits nothing, on both
    kernels, instead of failing the task."""
    df = spark.createDataFrame(
        [(1, [-170.0, 170.0], [-80.0, 80.0])],
        "way_id long, xs array<double>, ys array<double>",
    ).coalesce(1)
    for impl in ("arrow", "jvm"):
        got = assign_tiles(df, zoom=12, tms=False, max_cells_per_geom=16,
                           cover_impl=impl).collect()
        assert got == [], impl


def test_jvm_ytile_scan_matches_numpy(spark):
    """ulp-parity methodology (module docstring of __spark_entry__): every
    latitude the driver derivations can produce must get the same y-tile
    from the JVM ln-form as from numpy arcsinh, at every zoom used."""
    import numpy as np

    from osm_hadoop_spark.functions.tiles import _ytile
    from osm_hadoop_spark.functions.tiles_sql import sql_ytile as ytile_col

    # derived-lat domains: nodes ((k*7)%160-80), local ways (+ m/64 jitter),
    # zone lattices (x4 +2), plus the mercator clip boundary
    lats = sorted({float((k * 7) % 160 - 80) + m / 64.0 for k in range(200) for m in range(16)}
                  | {4.0 * ((k * 7) % 160 - 80) / 8.0 for k in range(200)}
                  | {-85.05112877980659, 85.05112877980659, 0.0, -90.0, 90.0})
    df = spark.createDataFrame([(v,) for v in lats], "lat double")
    for z in (5, 7, 10, 13, 14, 16):
        got = [r["yt"] for r in
               df.select(ytile_col(F.col("lat"), z).alias("yt")).orderBy("lat").collect()]
        want = _ytile(np.array(sorted(lats)), z).tolist()
        assert got == want, z
