"""End-to-end spatial-join correctness on the synthetic page corpus:
extraction invariant + cover/explode/join/refine vs an independent
brute-force oracle, plus kNN and the antimeridian/pole special regions.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from s2geography_spark.core import sphere
from s2geography_spark.core.geog import from_wkb
from s2geography_spark.operators.spatial_join import knn_join, spatial_join
from s2geography_spark.sources.pages import (extract_mentions, extract_text,
                                             gazetteer_df, gazetteer_lnglat,
                                             pages_df)
from s2geography_spark.sources.regions import (region_corners, regions_df,
                                               special_regions_df)

N_PAGES = 2000


@pytest.fixture(scope="module")
def pages(spark):
    return pages_df(spark, N_PAGES).cache()


@pytest.fixture(scope="module")
def mentions(spark, pages):
    return extract_mentions(pages, gazetteer_df(spark)).cache()


def test_extract_text_byte_identical(spark, pages):
    # BASELINE.json input_hint invariant: per-url byte-identical text
    bad = pages.where(extract_text(F.col("html")) != F.col("text")).count()
    assert bad == 0
    # and deterministic across regeneration
    again = pages_df(spark, N_PAGES)
    diff = pages.select("url", "text").exceptAll(again.select("url", "text")).count()
    assert diff == 0


def test_mention_extraction_golden(spark, mentions):
    # page_id % 6 mentions per page; city k = (id*31 + j*17) % 240
    total = mentions.count()
    expected = sum(i % 6 for i in range(N_PAGES))
    assert total == expected
    row = (mentions.where(F.col("url").endswith("/p/5")).orderBy("mention_idx")
           .collect())
    assert [r.city for r in row] == ["City155", "City172", "City189",
                                     "City206", "City223"]
    lng, lat = gazetteer_lnglat(np.array([155]))
    assert row[0].lng == lng[0] and row[0].lat == lat[0]


def brute_force_pairs(mentions_rows, n_regions=24):
    rs = np.arange(n_regions)
    lng0, lat0, lng1, lat1 = region_corners(rs)
    out = set()
    for m in mentions_rows:
        hit = (m.lng > lng0) & (m.lng < lng1) & (m.lat > lat0) & (m.lat < lat1)
        for r in rs[hit]:
            out.add((m.url, m.mention_idx, int(r)))
    return out


def test_spatial_join_matches_brute_force(spark, mentions):
    regions = regions_df(spark, 24)
    joined = spatial_join(mentions, regions, predicate="contains")
    got = {(r.url, r.mention_idx, r.region_id)
           for r in joined.select("url", "mention_idx", "region_id").collect()}
    expected = brute_force_pairs(mentions.collect(), 24)
    assert got == expected
    assert len(got) > 0  # non-trivial


def test_spatial_join_shuffle_path_matches(spark, mentions):
    """The salted shuffle plan against brute force.  refine_mode is pinned:
    on this small dim 'auto' resolves to subdivided_broadcast, which has
    no exchange and drops the salt."""
    regions = regions_df(spark, 24)
    joined = spatial_join(mentions, regions, predicate="contains",
                          broadcast=False, salt=4, refine_mode="subdivided")
    got = {(r.url, r.mention_idx, r.region_id)
           for r in joined.select("url", "mention_idx", "region_id").collect()}
    assert got == brute_force_pairs(mentions.collect(), 24)


def test_spatial_join_intersects_predicate(spark, mentions):
    regions = regions_df(spark, 24)
    joined = spatial_join(mentions, regions, predicate="intersects")
    got = {(r.url, r.mention_idx, r.region_id)
           for r in joined.select("url", "mention_idx", "region_id").collect()}
    # for interior points intersects == contains
    assert got == brute_force_pairs(mentions.collect(), 24)


def test_spatial_join_rejects_unknown_modes(spark):
    """An unknown refine_mode or predicate raises instead of silently
    running some other plan or predicate."""
    pts = spark.createDataFrame([(0, 10.0, 10.0)],
                                "pid long, lng double, lat double")
    regions = regions_df(spark, 4)
    for mode in ("rows", "index", "cogroup", "subdivided_auto", "nope"):
        with pytest.raises(ValueError, match="'auto', 'subdivided' or "
                                             "'subdivided_broadcast'"):
            spatial_join(pts, regions, broadcast=False, refine_mode=mode)
    for predicate in ("within", "covers", "CONTAINS"):
        with pytest.raises(ValueError, match="'contains' or 'intersects'"):
            spatial_join(pts, regions, predicate=predicate)


def test_special_regions_join(spark):
    # points near the antimeridian and the pole; join through the same path
    pts = spark.createDataFrame(
        [(0, 179.9, 0.0), (1, -179.9, 1.0), (2, 0.0, 89.0),
         (3, 0.0, 0.0), (4, 150.0, -40.0)],
        "pid long, lng double, lat double")
    specials = special_regions_df(spark)
    joined = spatial_join(pts, specials, predicate="contains")
    got = {(r.pid, r.region_id) for r in joined.select("pid", "region_id").collect()}
    assert (0, 1000) in got and (1, 1000) in got   # antimeridian polygon
    assert (2, 1001) in got                         # pole polygon
    assert not any(p in got for p in [(3, 1000), (3, 1001), (4, 1001)])


def test_knn_matches_brute_force(spark, mentions):
    regions = regions_df(spark, 16)
    sample = mentions.limit(200).cache()
    res = knn_join(sample.withColumn("pid", F.concat_ws("#", "url", "mention_idx")),
                   regions.select("region_id", "geog"), k=3, point_id="pid")
    got = {}
    for r in res.select("pid", "knn_rank", "region_id", "distance_m").collect():
        got.setdefault(r.pid, []).append((r.knn_rank, r.region_id, r.distance_m))

    # brute force with the numpy kernels
    reg_rows = regions.select("region_id", "geog").collect()
    geogs = [(r.region_id, from_wkb(bytes(r.geog))) for r in reg_rows]
    for m in sample.collect():
        pid = f"{m.url}#{m.mention_idx}"
        p = sphere.lnglat_to_xyz(np.array([[m.lng, m.lat]]))
        dists = []
        for rid, g in geogs:
            ra, rb = g.ring_edges_xyz()
            inside = sphere.contains_points(p, ra, rb, model="closed")[0]
            if inside:
                d = 0.0
            else:
                d = float(sphere.point_arc_distance(
                    p[0], ra, rb).min() * sphere.EARTH_RADIUS_METERS)
            dists.append((d, rid))
        dists.sort()
        expect = [rid for _, rid in dists[:3]]
        mine = [rid for _, rid, _ in sorted(got[pid])]
        assert mine == expect, (pid, mine, dists[:4])
        for (rank, rid, dm), (ed, erid) in zip(sorted(got[pid]), dists[:3]):
            assert dm == pytest.approx(ed, abs=1e-6)


def test_choose_salt(spark):
    from s2geography_spark.operators.spatial_join import choose_salt
    # uniform points -> no salting
    uniform = spark.range(5000).select(
        (F.pmod(F.col("id") * 37, F.lit(1440)) / 4.0 - 180.0).alias("lng"),
        (F.pmod(F.col("id") * 23, F.lit(640)) / 4.0 - 80.0).alias("lat"))
    assert choose_salt(uniform, sample_fraction=1.0) == 1
    # 80% of points in one city cell -> salt > 1
    hot = spark.range(5000).select(
        F.when(F.col("id") % 5 != 0, F.lit(2.35)).otherwise(
            F.pmod(F.col("id") * 37, F.lit(1440)) / 4.0 - 180.0).alias("lng"),
        F.when(F.col("id") % 5 != 0, F.lit(48.85)).otherwise(
            F.pmod(F.col("id") * 23, F.lit(640)) / 4.0 - 80.0).alias("lat"))
    s = choose_salt(hot, sample_fraction=1.0)
    assert s > 4


def test_knn_covering_matches_brute_force(spark, mentions):
    from s2geography_spark.operators.spatial_join import knn_join_covering
    regions = regions_df(spark, 16)
    sample = (mentions.limit(120)
              .withColumn("pid", F.concat_ws("#", "url", "mention_idx"))
              .select("pid", "lng", "lat").cache())
    fast = knn_join_covering(sample, regions.select("region_id", "geog"),
                             k=3, point_id="pid", init_radius_m=300_000.0)
    slow = knn_join(sample, regions.select("region_id", "geog"),
                    k=3, point_id="pid")
    got = {(r.pid, r.knn_rank): r.region_id for r in fast.collect()}
    exp = {(r.pid, r.knn_rank): r.region_id
           for r in slow.select("pid", "knn_rank", "region_id").collect()}
    assert got == exp


def test_boundary_band_broadcast_matches_shuffle(spark):
    """Round-3 fix: points planted within ~1 um .. 1 km of region edges get
    identical join rows on the driver-built broadcast plan, the salted
    shuffle plan, and the direct float64 semi-open point-in-polygon kernel
    (the two plans share one parity refine, so the kernel is the check)."""
    from s2geography_spark.core import cellid as C
    n_regions = 12
    rs = np.arange(n_regions)
    lng0, lat0, lng1, lat1 = region_corners(rs)
    rows = []
    pid = 0
    # offsets in degrees: ~1 um .. ~1 km, both sides of each edge
    for off in (1e-11, 1e-9, 1e-7, 1e-5, 1e-2):
        for sign in (+off, -off):
            for i in range(n_regions):
                midx = (lng0[i] + lng1[i]) / 2.0
                midy = (lat0[i] + lat1[i]) / 2.0
                rows += [
                    (pid + 0, float(midx), float(lat0[i] + sign)),  # bottom
                    (pid + 1, float(midx), float(lat1[i] - sign)),  # top
                    (pid + 2, float(lng0[i] + sign), float(midy)),  # left
                    (pid + 3, float(lng1[i] - sign), float(midy)),  # right
                ]
                pid += 4
    pts = spark.createDataFrame(rows, "pid long, lng double, lat double")
    regions = regions_df(spark, n_regions, covering_level=6)
    bcast = spatial_join(pts, regions, predicate="contains", level=6,
                         broadcast=True)
    shuf = spatial_join(pts, regions, predicate="contains", level=6,
                        broadcast=False, refine_mode="subdivided")
    got_b = {(r.pid, r.region_id) for r in bcast.collect()}
    got_s = {(r.pid, r.region_id) for r in shuf.collect()}
    assert got_b == got_s
    xyz = np.stack(C.lnglat_to_xyz(np.array([r[1] for r in rows]),
                                   np.array([r[2] for r in rows])), axis=-1)
    ref = set()
    for reg in regions.select("region_id", "geog").collect():
        ra, rb = from_wkb(bytes(reg.geog)).ring_edges_xyz()
        inside = sphere.contains_points(xyz, ra, rb, model="semi_open")
        ref |= {(r[0], reg.region_id) for r, hit in zip(rows, inside) if hit}
    assert got_b == ref
    # sanity: the inside-offset points actually joined
    assert len(got_b) > len(rows) / 3


def test_interior_shortcut_hole_inside_one_cell(spark):
    """Round-4 ADVICE (medium): a hole ring strictly inside one covering
    cell left no corner/crossing evidence, so the cell was flagged interior
    and points in the hole joined without the PIP refine.  Both join paths
    must exclude the hole point and keep a nearby shell point."""
    from s2geography_spark.core.geog import from_wkt, to_wkb
    from s2geography_spark.functions.geo import s2_coveringcellids

    # 10-degree shell; 0.02-degree hole well inside a level-8 cell (~0.6 deg)
    wkt = ("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), "
           "(5.01 5.01, 5.01 5.03, 5.03 5.03, 5.03 5.01, 5.01 5.01))")
    wkb = to_wkb(from_wkt(wkt))
    regions = spark.createDataFrame([(1, bytearray(wkb))],
                                    "region_id long, geog binary")
    regions = regions.withColumn("covering", s2_coveringcellids("geog"))
    pts = spark.createDataFrame(
        [(0, 5.02, 5.02),    # inside the hole -> NOT contained
         (1, 5.2, 5.2),      # in the shell, same neighborhood -> contained
         (2, 2.0, 2.0)],     # deep interior -> contained
        "pid long, lng double, lat double")
    for kwargs in ({}, {"broadcast": False}, {"broadcast": False, "salt": 2}):
        got = {r.pid for r in
               spatial_join(pts, regions, predicate="contains", **kwargs)
               .select("pid").collect()}
        assert got == {1, 2}, kwargs


def test_interior_flags_vertex_in_cell():
    """Unit check of the vertex-evidence rule on the per-cell state
    builder: a cell holding a hole ring must not be flagged full; a clean
    interior cell still is."""
    from s2geography_spark.core import cellid as C
    from s2geography_spark.core.geog import from_wkt
    from s2geography_spark.operators.spatial_join import _subdivide_region

    g = from_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), "
                 "(5.01 5.01, 5.01 5.03, 5.03 5.03, 5.03 5.01, 5.01 5.01))")
    ra, rb = g.ring_edges_xyz()
    hole_cell = C.from_lnglat(np.array([5.02]), np.array([5.02]), lev=8)
    clean_cell = C.from_lnglat(np.array([2.0]), np.array([2.0]), lev=10)
    cells = _subdivide_region(
        np.concatenate([hole_cell, clean_cell]).astype(np.uint64), ra, rb)
    assert [bool(full) for full, _, _, _ in cells] == [False, True]


def test_prepared_regions_exploded_guard(spark):
    """VERDICT r4 #5: the broadcast guard must bound the POST-explosion
    cell count, not just input rows/bytes: PreparedRegions builds at the
    exact cell count and raises DimTooLargeError one cell below it."""
    from s2geography_spark.core.geog import from_wkt, to_wkb
    from s2geography_spark.operators.spatial_join import (DimTooLargeError,
                                                          PreparedRegions)

    wkb = to_wkb(from_wkt("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"))
    regions = spark.createDataFrame([(1, bytearray(wkb))],
                                    "region_id long, geog binary")
    from s2geography_spark.functions.geo import s2_coveringcellids
    regions = regions.withColumn("covering", s2_coveringcellids("geog"))
    ncells = regions.select(F.sum(F.size("covering"))).collect()[0][0]
    prep = PreparedRegions(spark, regions, "geog", "region_id", "covering",
                           max_cells=ncells)
    assert prep.state_cells == ncells
    with pytest.raises(DimTooLargeError, match="exploded covering cells"):
        PreparedRegions(spark, regions, "geog", "region_id", "covering",
                        max_cells=ncells - 1)
    # the broadcast state table is bounded too: a byte budget the WKB fits
    # but the packed per-cell state does not raises the same error type
    assert prep.state_bytes > len(wkb)
    with pytest.raises(DimTooLargeError, match="subdivided state"):
        PreparedRegions(spark, regions, "geog", "region_id", "covering",
                        max_bytes=len(wkb))


@pytest.mark.parametrize("dim", ["level8", "special"])
def test_dim_builders_agree(spark, dim):
    """The driver builder (prepare_regions) and the distributed builder
    (prepare_regions_subdivided) emit the identical per-cell state table,
    so the broadcast and shuffle plans refine against the same bytes."""
    from s2geography_spark.operators.spatial_join import (
        prepare_regions, prepare_regions_subdivided)
    regions = regions_df(spark, 24, covering_level=8) if dim == "level8" \
        else special_regions_df(spark)
    cols = ["region_id", "_ck", "_full", "_state",
            "_xmin", "_ymin", "_xmax", "_ymax"]
    drv = prepare_regions(spark, regions).exploded.select(*cols).collect()
    dist = prepare_regions_subdivided(spark, regions).exploded \
        .select(*cols).collect()
    assert sorted(map(tuple, drv)) == sorted(map(tuple, dist))
    assert len(drv) == sum(len(r.covering) for r in
                           regions.select("covering").collect())
    assert any(r._full for r in drv) and any(r._state for r in drv)


def test_subdivided_matches_brute_force(spark, mentions):
    """The subdivided-cell parity refine (round-5 shuffle path) must produce
    exactly the brute-force pairs on the corpus, and exactly the direct
    winding kernel's pairs on the antimeridian/pole special regions."""
    from s2geography_spark.core import cellid as C

    regions = regions_df(spark, 24)
    sub = spatial_join(mentions, regions, predicate="contains",
                       broadcast=False, refine_mode="subdivided")
    key = ["url", "mention_idx", "region_id"]
    a = {tuple(r) for r in sub.select(*key).collect()}
    assert a == brute_force_pairs(mentions.collect(), 24) and len(a) > 0

    rows = [(0, 179.9, 0.0), (1, -179.9, 1.0), (2, 0.0, 89.0),
            (3, 0.0, 0.0), (4, 150.0, -40.0), (5, 177.0, 3.0)]
    pts = spark.createDataFrame(rows, "pid long, lng double, lat double")
    specials = special_regions_df(spark)
    got = {(r.pid, r.region_id) for r in
           spatial_join(pts, specials, predicate="contains", broadcast=False,
                        refine_mode="subdivided")
           .select("pid", "region_id").collect()}
    xyz = np.stack(C.lnglat_to_xyz(np.array([r[1] for r in rows]),
                                   np.array([r[2] for r in rows])), axis=-1)
    ref = set()
    for reg in specials.select("region_id", "geog").collect():
        ra, rb = from_wkb(bytes(reg.geog)).ring_edges_xyz()
        inside = sphere.contains_points(xyz, ra, rb, model="semi_open")
        ref |= {(r[0], reg.region_id) for r, hit in zip(rows, inside) if hit}
    assert got == ref
    assert (0, 1000) in got and (2, 1001) in got


def test_subdivided_broadcast_mode(spark, mentions):
    """subdivided_broadcast (state-table broadcast, map-only fact side)
    must produce exactly the shuffle-path pairs; oversized state raises."""
    regions = regions_df(spark, 24)
    key = ["url", "mention_idx", "region_id"]
    a = {tuple(r) for r in
         spatial_join(mentions, regions, predicate="contains",
                      broadcast=False, refine_mode="subdivided_broadcast")
         .select(*key).collect()}
    b = {tuple(r) for r in
         spatial_join(mentions, regions, predicate="contains",
                      broadcast=False, refine_mode="subdivided")
         .select(*key).collect()}
    assert a == b and len(a) > 0


def test_subdivided_fuzz_random_holed_polygons(spark):
    """Randomized robustness: 12 random convex-ish polygons with random
    rectangular holes, 440 random points — the subdivided parity refine
    and the direct contains kernel must agree on every (point, region)
    pair."""
    from s2geography_spark.core import ops as _ops
    from s2geography_spark.core.geog import Geog, from_wkb, to_wkb
    from s2geography_spark.functions.geo import s2_coveringcellids

    rng = np.random.default_rng(77)
    rows = []
    geogs = {}
    for rid in range(12):
        cx = float(rng.uniform(-150, 150))
        cy = float(rng.uniform(-60, 60))
        rads = rng.uniform(2.0, 6.0, 9)
        angs = np.sort(rng.uniform(0, 2 * np.pi, 9))
        shell = np.stack([cx + rads * np.cos(angs),
                          cy + rads * np.sin(angs)], axis=1)
        shell = np.vstack([shell, shell[:1]])
        hw = float(rng.uniform(0.2, 0.8))
        hole = np.array([[cx - hw, cy - hw], [cx - hw, cy + hw],
                         [cx + hw, cy + hw], [cx + hw, cy - hw],
                         [cx - hw, cy - hw]])
        g = Geog(polys=[[shell, hole[::-1]]])
        geogs[rid] = from_wkb(to_wkb(g))
        rows.append((rid, bytearray(to_wkb(g))))
    regions = spark.createDataFrame(rows, "region_id long, geog binary") \
        .withColumn("covering", s2_coveringcellids("geog"))

    pts = [(i, float(rng.uniform(-160, 160)), float(rng.uniform(-70, 70)))
           for i in range(200)]
    # plus points clustered around each region center (boundary pressure)
    i = 200
    for rid in range(12):
        g = geogs[rid]
        cx, cy = float(g.polys[0][0][:, 0].mean()), float(g.polys[0][0][:, 1].mean())
        for _ in range(20):
            pts.append((i, cx + float(rng.uniform(-7, 7)),
                        cy + float(rng.uniform(-7, 7))))
            i += 1
    pdf = spark.createDataFrame(pts, "pid long, lng double, lat double")

    sub = {(r.pid, r.region_id) for r in
           spatial_join(pdf, regions, predicate="contains", broadcast=False,
                        refine_mode="subdivided").select("pid", "region_id")
           .collect()}
    # verify against the direct kernel
    direct = set()
    for pid, lng, lat in pts:
        p = from_wkb(bytes(
            b"\x01\x01\x00\x00\x00") + np.array([lng, lat]).tobytes())
        for rid, g in geogs.items():
            if _ops.s2_contains(g, p):
                direct.add((pid, rid))
    assert sub == direct


def test_leaf_only_cell_center_join(spark, mentions):
    """coords='leaf' (CELL_CENTER corpus): the fact side carries only the
    8-byte leaf id; results must equal a lnglat join over the
    reconstructed cell centers (exact quantization semantics)."""
    from s2geography_spark.core import cellid as C
    from s2geography_spark.operators.spatial_join import leaf_cell_udf

    regions = regions_df(spark, 24)
    pts = mentions.select("url", "mention_idx", "lng", "lat") \
        .withColumn("leaf", leaf_cell_udf(F.col("lng"), F.col("lat")))
    rows = pts.collect()
    # reconstruct the quantized coordinates the leaf-only join sees
    ids = np.array([r.leaf for r in rows], dtype=np.int64).view(np.uint64)
    qlng, qlat = C.to_lnglat(ids)
    quant = spark.createDataFrame(
        [(r.url, r.mention_idx, float(ln), float(la), int(r.leaf))
         for r, ln, la in zip(rows, qlng, qlat)],
        "url string, mention_idx int, lng double, lat double, leaf long")

    key = ["url", "mention_idx", "region_id"]
    got = {tuple(r) for r in
           spatial_join(pts.drop("lng", "lat"), regions,
                        predicate="contains", broadcast=False,
                        refine_mode="subdivided", leaf_col="leaf",
                        coords="leaf").select(*key).collect()}
    exp = {tuple(r) for r in
           spatial_join(quant, regions, predicate="contains",
                        broadcast=False, refine_mode="subdivided",
                        leaf_col="leaf").select(*key).collect()}
    assert got == exp and len(got) > 0
    # salted variant agrees too
    got_s = {tuple(r) for r in
             spatial_join(pts.drop("lng", "lat"), regions,
                          predicate="contains", broadcast=False, salt=3,
                          refine_mode="subdivided", leaf_col="leaf",
                          coords="leaf").select(*key).collect()}
    assert got_s == exp


def test_prepared_subdivided_regions(spark, mentions):
    """prepare_regions_subdivided: the prepared-dim shuffle join must
    produce exactly the inline subdivided join's pairs in every resolved
    mode, reuse must not rebuild state, and unknown refine modes /
    oversized explicit broadcasts must raise."""
    from s2geography_spark.operators.spatial_join import (
        prepare_regions_subdivided, spatial_join)

    regions = regions_df(spark, 24)
    prep = prepare_regions_subdivided(spark, regions)
    assert prep.state_cells > 0 and prep.fits_broadcast
    key = ["url", "mention_idx", "region_id"]
    exp = {tuple(r) for r in
           spatial_join(mentions, regions, predicate="contains",
                        broadcast=False, refine_mode="subdivided")
           .select(*key).collect()}
    # auto (resolves to subdivided_broadcast from prepared stats, no job),
    # forced shuffle, and forced broadcast all agree; the prep is reused
    # across all three joins
    for mode in ("auto", "subdivided", "subdivided_broadcast"):
        got = {tuple(r) for r in
               spatial_join(mentions, prep, predicate="contains",
                            broadcast=False, refine_mode=mode)
               .select(*key).collect()}
        assert got == exp and len(got) > 0, mode
    # prefilter=False path also consumes the prep
    got_nf = {tuple(r) for r in
              spatial_join(mentions, prep, predicate="contains",
                           broadcast=False, refine_mode="subdivided",
                           prefilter=False).select(*key).collect()}
    assert got_nf == exp
    with pytest.raises(ValueError, match="refine_mode must be"):
        spatial_join(mentions, prep, broadcast=False, refine_mode="rows")
    # explicit broadcast of an over-guard state raises at join time
    prep.fits_broadcast = False
    with pytest.raises(ValueError, match="too large to broadcast"):
        spatial_join(mentions, prep, broadcast=False,
                     refine_mode="subdivided_broadcast")
    # ...while auto falls back to the shuffling form
    got_fb = {tuple(r) for r in
              spatial_join(mentions, prep, predicate="contains",
                           broadcast=False, refine_mode="auto")
              .select(*key).collect()}
    assert got_fb == exp


def test_spatial_count_matches_join_rollup(spark, mentions):
    """spatial_count (aggregate pushdown: full-cell mass via per-cell
    counts, boundary band via parity refine) must equal the join-then-
    rollup counts exactly, on the corpus and on antimeridian/pole
    regions."""
    from s2geography_spark.core import ops
    from s2geography_spark.core.geog import from_wkb
    from s2geography_spark.operators.spatial_join import (
        prepare_regions_subdivided, spatial_count)

    regions = regions_df(spark, 24, covering_level=8)
    exp = {(r.region_id, r["count"]) for r in
           spatial_join(mentions, regions, predicate="contains", level=8)
           .groupBy("region_id").count().collect()}
    got = {(r.region_id, r.n) for r in
           spatial_count(mentions, regions, level=8).collect()}
    assert got == exp and len(got) > 0
    # prepared-dim reuse gives the identical result
    prep = prepare_regions_subdivided(spark, regions)
    got_p = {(r.region_id, r.n) for r in
             spatial_count(mentions, prep, level=8).collect()}
    assert got_p == exp
    # non-broadcastable state falls back to the shuffle-join boundary term
    prep.fits_broadcast = False
    got_s = {(r.region_id, r.n) for r in
             spatial_count(mentions, prep, level=8).collect()}
    assert got_s == exp

    # special regions at a fixed level (antimeridian + pole)
    rows = special_regions_df(spark).collect()
    fixed = spark.createDataFrame(
        [(r.region_id, r.name, bytearray(r.geog),
          [int(c) for c in ops.s2_covering_fixed_level(
              from_wkb(bytes(r.geog)), 6)]) for r in rows],
        "region_id long, name string, geog binary, covering array<long>")
    pts = spark.createDataFrame(
        [(0, 179.9, 0.0), (1, -179.9, 1.0), (2, 0.0, 89.0),
         (3, 0.0, 0.0), (4, 150.0, -40.0), (5, 177.0, 3.0)],
        "pid long, lng double, lat double")
    exp_s = {(r.region_id, r["count"]) for r in
             spatial_join(pts, fixed, predicate="contains", broadcast=False,
                          refine_mode="subdivided", level=6)
             .groupBy("region_id").count().collect()}
    got_sp = {(r.region_id, r.n) for r in
              spatial_count(pts, fixed, level=6).collect()}
    assert got_sp == exp_s and len(got_sp) > 0
