"""Geometry unit fixtures (SURVEY §5 item 4) — WKT-string semantics.

These mirror the reference's geometry handling: m-value scrub regexes
(datum/oracle_stgeom/table.py:33-34), MULTI-cast on write
(datum/postgis/table.py:246-254), EMPTY for null geometry
(datum/oracle_stgeom/table.py:320-322), Force2D intent
(datum/postgis/table.py:181-187), and reprojection plumbing
(datum/oracle_stgeom/util.py:5-19 — dead code there, real here).
"""

import pytest
from pyspark.sql import functions as F

from datum_spark.functions import geometry as G


def _one(spark, col_expr, value):
    df = spark.createDataFrame([(value,)], "wkt string")
    return df.select(col_expr.alias("out")).collect()[0]["out"]


def test_scrub_m_values(spark):
    wkt = "LINESTRING M (0 0 1.#QNAN000, 1 1 1.#QNAN000)"
    out = _one(spark, G.scrub_m_values(F.col("wkt")), wkt)
    assert out == "LINESTRING (0 0, 1 1)"


def test_scrub_m_keeps_plain(spark):
    wkt = "LINESTRING (0 0, 1 1)"
    assert _one(spark, G.scrub_m_values(F.col("wkt")), wkt) == wkt


def test_force_2d(spark):
    wkt = "POINT Z (1.5 2.5 NaN)"
    assert _one(spark, G.force_2d(F.col("wkt")), wkt) == "POINT (1.5 2.5)"


def test_multi_cast_promotes_single(spark):
    out = _one(spark, G.multi_cast(F.col("wkt"), "MULTIPOINT"), "POINT (1 2)")
    assert out == "MULTIPOINT ((1 2))"


def test_multi_cast_keeps_multi(spark):
    wkt = "MULTIPOINT ((1 2), (3 4))"
    assert _one(spark, G.multi_cast(F.col("wkt"), "MULTIPOINT"), wkt) == wkt


def test_multi_cast_nontarget_noop(spark):
    wkt = "POINT (1 2)"
    assert _one(spark, G.multi_cast(F.col("wkt"), "POINT"), wkt) == wkt


def test_empty_wkt():
    assert G.empty_wkt("multilinestring") == "MULTILINESTRING EMPTY"


def test_wkt_geom_type(spark):
    assert _one(spark, G.wkt_geom_type(F.col("wkt")),
                " MultiPolygon (((0 0, 1 0, 1 1, 0 0)))") == "MULTIPOLYGON"


def test_reproject_plumbing_with_fake_transform(spark):
    """The distributed reprojection path, with a deterministic fake
    coordinate function standing in for pyproj (not in this runtime)."""
    def make_fn():
        return lambda x, y: (x + 100.0, y - 50.0)

    df = spark.createDataFrame(
        [("POINT (1 2)",), ("LINESTRING (0 0, 10 20)",), (None,)],
        "wkt string")
    out = [r["out"] for r in
           df.select(G._reproject_with(F.col("wkt"), make_fn).alias("out"))
             .collect()]
    assert out[0] == "POINT (101.00000000 -48.00000000)"
    assert out[1] == "LINESTRING (100.00000000 -50.00000000, 110.00000000 -30.00000000)"
    assert out[2] is None


def test_reproject_unsupported_pair_gated():
    if G._HAVE_PYPROJ:
        pytest.skip("pyproj present; gate not exercised")
    with pytest.raises(NotImplementedError):
        # EPSG:27700 (British National Grid) is outside the built-in tables
        G.reproject_wkt(F.col("x"), 27700, 3857)


# ---------------------------------------------------------------------------
# Built-in LCC transform (EPSG:2272 ↔ 4326, projection.py)

def test_lcc_projection_anchors():
    """Parameter-definition anchors: the false origin (λ0, φ0) maps to
    exactly (FE, FN) = (1968500 ftUS, 0)."""
    from datum_spark.functions.projection import builtin_transform

    fwd = builtin_transform(4326, 2272)
    x, y = fwd(-77.75, 39.0 + 20.0 / 60.0)
    assert abs(float(x) - 1968500.0) < 1e-6
    assert abs(float(y) - 0.0) < 1e-6


def test_lcc_round_trip_identity():
    import numpy as np
    from datum_spark.functions.projection import builtin_transform

    fwd = builtin_transform(4326, 2272)
    inv = builtin_transform(2272, 4326)
    lons = np.array([-75.1652, -77.75, -80.2, -74.7])
    lats = np.array([39.9526, 39.3333, 40.9, 39.95])
    lon2, lat2 = inv(*fwd(lons, lats))
    assert np.allclose(lon2, lons, atol=1e-9)
    assert np.allclose(lat2, lats, atol=1e-9)


def test_lcc_scale_unity_on_standard_parallel():
    """Conformal property: scale factor is exactly 1 on a standard
    parallel — projected distance along lat1 equals the ellipsoidal
    parallel arc length."""
    import numpy as np
    from datum_spark.functions.projection import (
        _A, _E2, _FT_US, builtin_transform)

    lat1 = 40.0 + 58.0 / 60.0
    dlam = 0.001  # degrees
    fwd = builtin_transform(4326, 2272)
    x1, y1 = fwd(-77.75, lat1)
    x2, y2 = fwd(-77.75 + dlam, lat1)
    proj_m = float(np.hypot(x2 - x1, y2 - y1)) * _FT_US
    phi = np.radians(lat1)
    arc_m = (_A / np.sqrt(1 - _E2 * np.sin(phi) ** 2) * np.cos(phi)
             * np.radians(dlam))
    assert abs(proj_m / arc_m - 1.0) < 1e-7


def test_lcc_orientation_sanity():
    """Philadelphia (east of λ0, north of φ0) lands east of FE / north of
    FN, in the zone's plausible coordinate range."""
    from datum_spark.functions.projection import builtin_transform

    fwd = builtin_transform(4326, 2272)
    x, y = fwd(-75.1652, 39.9526)
    assert 1968500 < float(x) < 2.9e6
    assert 0 < float(y) < 4.0e5


def test_reproject_wkt_builtin_end_to_end(spark):
    """reproject_wkt without pyproj: built-in LCC drives the distributed
    WKT plumbing; 2272 → 4326 on a Philadelphia point round-trips."""
    df = spark.createDataFrame([("POINT (2694000 234000)",)], "wkt string")
    out = (df.select(G.reproject_wkt(F.col("wkt"), 2272, 4326).alias("o"))
             .collect()[0]["o"])
    lon, lat = map(float, out[len("POINT ("):-1].split())
    assert -76.0 < lon < -74.5 and 39.5 < lat < 40.5


def test_st_transform_sql_gateway(spark):
    """st_transform through the SQL surface (the reference's
    ``ST_Transform`` splice path) matches the Column-API reprojection
    bit-for-bit — same transform, same 8-decimal formatting — and
    per-row SRID pairs resolve independently."""
    from datum_spark.functions.geometry_sql import (
        register_geometry_sql_functions)

    register_geometry_sql_functions(spark)
    df = spark.createDataFrame(
        [("POINT (2694000 234000)",)], "wkt string")
    want = (df.select(G.reproject_wkt(F.col("wkt"), 2272, 4326)
                      .alias("o")).collect()[0]["o"])
    [r] = spark.sql(
        "SELECT st_transform('POINT (2694000 234000)', 2272, 4326) AS o, "
        "st_transform('POINT (1 2)', 4326, 4326) AS same, "
        "st_transform(NULL, 2272, 4326) AS nul").collect()
    assert r["o"] == want
    assert r["same"] == "POINT (1 2)" and r["nul"] is None
    # round-trip through the gateway stays in Philadelphia
    [rt] = spark.sql(
        f"SELECT st_x(st_transform('{want}', 4326, 2272)) AS x").collect()
    assert abs(rt["x"] - 2694000) < 1.0


def test_write_applies_geometry_prep(tmp_db):
    tmp_db.create_table("seg", [{"name": "shape", "type": "geom"},
                                {"name": "nm", "type": "text"}])
    # register MULTI geom type + srid like a real feature class
    t = tmp_db.table("seg")
    t._store_props({**t._props, "geom_type": "MULTILINESTRING", "srid": 2272})
    t = tmp_db.table("seg")  # fresh handle re-reads props
    t.write([
        {"nm": "plain", "shape": "LINESTRING (0 0, 1 1)"},
        {"nm": "multi", "shape": "MULTILINESTRING ((0 0, 1 1))"},
        {"nm": "measured", "shape": "LINESTRING M (0 0 1.#QNAN000, 1 1 1.#QNAN000)"},
        {"nm": "missing", "shape": None},
    ])
    rows = {r["nm"]: r["shape"] for r in t.read(fields=["nm", "shape"])}
    assert rows["plain"] == "MULTILINESTRING ((0 0, 1 1))"
    assert rows["multi"] == "MULTILINESTRING ((0 0, 1 1))"
    assert rows["measured"] == "MULTILINESTRING ((0 0, 1 1))"
    assert rows["missing"] == "MULTILINESTRING EMPTY"


def test_st_functions_in_sql_gateway(tmp_db):
    """PostGIS-style ST_* callable from execute(): SQL scalar UDFs on WKT."""
    tmp_db.create_table("geo", [{"name": "shape", "type": "geom"}])
    tmp_db["geo"].write([{"shape": "POINT (2.5 -3.5)"},
                         {"shape": "LINESTRING (0 0, 1 1, 2 0)"},
                         {"shape": "POLYGON EMPTY"}])
    rows = tmp_db.execute("""
        SELECT ST_AsText(shape) AS t, ST_GeometryType(shape) AS gt,
               ST_X(shape) AS x, ST_Y(shape) AS y,
               ST_IsEmpty(shape) AS e, ST_NPoints(shape) AS np,
               ST_Multi(shape) AS m
        FROM geo ORDER BY t""")
    by_type = {r["gt"]: r for r in rows}
    pt = by_type["POINT"]
    assert (pt["x"], pt["y"]) == (2.5, -3.5)
    assert pt["m"] == "MULTIPOINT ((2.5 -3.5))"
    ls = by_type["LINESTRING"]
    assert ls["np"] == 3 and ls["x"] is None
    assert ls["m"] == "MULTILINESTRING ((0 0, 1 1, 2 0))"
    pg = by_type["POLYGON"]
    assert pg["e"] is True and pg["m"] == "POLYGON EMPTY"


def test_read_to_srid_applies_builtin_transform(tmp_db):
    """The reference's read(to_srid=...) — broken there (SURVEY §1.4#1) —
    works here end-to-end via the built-in 2272→4326 transform."""
    tmp_db.create_table("pts", [{"name": "shape", "type": "geom"},
                                {"name": "nm", "type": "text"}])
    t = tmp_db.table("pts")
    t._store_props({**t._props, "geom_type": "POINT", "srid": 2272})
    t = tmp_db.table("pts")
    t.write([{"nm": "phl", "shape": "POINT (2694000 234000)"}])
    row = t.read(fields=["nm", "shape"], to_srid=4326)[0]
    lon, lat = map(float, row["shape"][len("POINT ("):-1].split())
    assert -76.0 < lon < -74.5 and 39.5 < lat < 40.5


# ---------------------------------------------------------------------------
# Built-in Transverse Mercator (UTM), Web Mercator, and hub composition

def test_utm_round_trip_identity():
    import numpy as np
    from datum_spark.functions.projection import builtin_transform

    fwd = builtin_transform(4326, 32618)  # WGS84 / UTM 18N
    inv = builtin_transform(32618, 4326)
    lons = np.array([-75.0, -77.0365, -72.1, -76.5])
    lats = np.array([0.0, 38.8977, 43.2, 61.0])
    lon2, lat2 = inv(*fwd(lons, lats))
    assert np.allclose(lon2, lons, atol=1e-9)
    assert np.allclose(lat2, lats, atol=1e-9)


def test_utm_anchors():
    """Definition anchors: central meridian maps to FE=500000 with
    northing k0 × meridian arc; the southern-hemisphere twin adds FN=1e7;
    the NAD83 code shares zone geometry."""
    import numpy as np
    from datum_spark.functions.projection import builtin_transform

    fwd = builtin_transform(4326, 32618)  # zone 18: lon0 = -75
    x, y = fwd(-75.0, 0.0)
    assert abs(float(x) - 500000.0) < 1e-6 and abs(float(y)) < 1e-6
    xs, ys = builtin_transform(4326, 32718)(-75.0, 0.0)
    assert abs(float(ys) - 10000000.0) < 1e-6
    xn, yn = builtin_transform(4326, 26918)(-75.0, 40.0)
    x2, y2 = fwd(-75.0, 40.0)
    assert abs(float(xn) - float(x2)) < 1e-9
    assert abs(float(yn) - float(y2)) < 1e-9


def test_utm_meridian_arc_vs_numerical_integration():
    """Independent check of the Snyder series: northing on the central
    meridian equals k0 × the meridian arc, integrated numerically from
    the ellipsoid definition (no shared coefficients)."""
    import numpy as np
    from datum_spark.functions.projection import (
        _A, _E2, builtin_transform)

    lat = 40.0
    phi = np.linspace(0.0, np.radians(lat), 200001)
    integrand = _A * (1 - _E2) / (1 - _E2 * np.sin(phi) ** 2) ** 1.5
    arc = float(np.trapz(integrand, phi))
    _, y = builtin_transform(4326, 32618)(-75.0, lat)
    assert abs(float(y) - 0.9996 * arc) < 1e-3  # sub-mm agreement


def test_web_mercator_known_values():
    from datum_spark.functions.projection import builtin_transform

    fwd = builtin_transform(4326, 3857)
    x, y = fwd(180.0, 0.0)
    assert abs(float(x) - 20037508.342789244) < 1e-6
    assert abs(float(y)) < 1e-9
    inv = builtin_transform(3857, 4326)
    lon, lat = inv(-8238310.24, 4970071.58)  # NYC-ish
    assert -74.1 < float(lon) < -73.9 and 40.6 < float(lat) < 40.8


def test_composed_projected_to_projected():
    """2272 → 3857 routes through 4326; verified against the explicit
    two-step route."""
    import numpy as np
    from datum_spark.functions.projection import builtin_transform

    direct = builtin_transform(2272, 3857)
    assert direct is not None
    x, y = direct(2694000.0, 234000.0)   # Philadelphia City Hall-ish
    lon, lat = builtin_transform(2272, 4326)(2694000.0, 234000.0)
    x2, y2 = builtin_transform(4326, 3857)(lon, lat)
    assert np.allclose([x, y], [x2, y2])
    assert -8.39e6 < float(x) < -8.35e6 and 4.85e6 < float(y) < 4.88e6


def test_identity_srid_transform():
    from datum_spark.functions.projection import builtin_transform

    fn = builtin_transform(4326, 4326)
    assert fn(1.5, 2.5) == (1.5, 2.5)


def test_st_measures_in_sql_gateway(tmp_db):
    """Cartesian ST_* measures: distance/dwithin/length/area/envelope/
    makepoint as pure SQL expressions over WKT."""
    tmp_db.create_table("m", [{"name": "shape", "type": "geom"}])
    tmp_db["m"].write([{"shape": "POINT (0 0)"}])
    [r] = tmp_db.execute("""
        SELECT ST_Distance('POINT (0 0)', 'POINT (3 4)') AS d,
               ST_DWithin('POINT (0 0)', 'POINT (3 4)', 5.0) AS w1,
               ST_DWithin('POINT (0 0)', 'POINT (3 4)', 4.9) AS w0,
               ST_Length('LINESTRING (0 0, 3 4, 3 0)') AS len,
               ST_Area('POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))') AS area,
               ST_Perimeter('POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))') AS per,
               ST_Envelope('LINESTRING (1 2, 5 0, 3 4)') AS env,
               ST_MakePoint(2.5, -1.0) AS mp
        FROM m""")
    assert r["d"] == 5.0
    assert r["w1"] is True and r["w0"] is False
    assert r["len"] == 9.0
    assert r["area"] == 12.0
    assert r["per"] == 14.0
    assert r["env"] == "POLYGON ((1.0 0.0, 5.0 0.0, 5.0 4.0, 1.0 4.0, 1.0 0.0))"
    assert r["mp"] == "POINT (2.5 -1.0)"


def test_st_area_rings(tmp_db):
    """Ring-aware area (round 7): holes subtract, MULTIPOLYGON parts
    sum, non-area types are 0 (PostGIS semantics)."""
    tmp_db.create_table("ar", [{"name": "shape", "type": "geom"}])
    tmp_db["ar"].write([{"shape": "POINT (0 0)"}])
    [r] = tmp_db.execute("""
        SELECT ST_Area('POLYGON ((10 10, 50 10, 50 50, 10 50, 10 10),
                                 (20 20, 30 20, 30 30, 20 30, 20 20))')
                 AS holed,
               ST_Area('MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)),
                                      ((10 10, 13 10, 13 12, 10 12,
                                        10 10)))') AS multi,
               ST_Area('LINESTRING (1 1, 2 3)') AS line
        FROM ar""")
    assert r["holed"] == 1500.0       # 40x40 outer minus 10x10 hole
    assert r["multi"] == 10.0         # 4 + 6
    assert r["line"] == 0.0


def test_st_measures_null_and_empty(tmp_db):
    tmp_db.create_table("m2", [{"name": "shape", "type": "geom"}])
    tmp_db["m2"].write([{"shape": "POLYGON EMPTY"}])
    [r] = tmp_db.execute("""
        SELECT ST_Length(shape) AS len, ST_Area(shape) AS area,
               ST_Envelope(shape) AS env, ST_Distance(shape, shape) AS d
        FROM m2""")
    assert r["len"] == 0.0 and r["area"] == 0.0
    assert r["env"] is None
    assert r["d"] is None  # non-POINT input → NULL, not an error


def test_st_functions_in_read_where(tmp_db):
    """ST_* usable directly in Table.read(where=...) without a prior
    execute() — the reference's PostGIS-function-in-where pattern."""
    tmp_db.create_table("pts", [{"name": "shape", "type": "geom"},
                                {"name": "nm", "type": "text"}])
    tmp_db["pts"].write([{"nm": "near", "shape": "POINT (1 1)"},
                         {"nm": "far", "shape": "POINT (100 100)"}])
    rows = tmp_db["pts"].read(
        fields=["nm"],
        where="ST_DWithin(shape, 'POINT (0 0)', 5.0)")
    assert [r["nm"] for r in rows] == ["near"]


def test_polygon_predicates_in_read_where(tmp_db):
    """The round-7 predicates spliced into where= fragments — the exact
    pattern the reference delegates to PostGIS
    (/root/reference/datum/postgis/table.py:157-158 passes the SQL
    through verbatim)."""
    tmp_db.create_table("parcels", [{"name": "shape", "type": "geom"},
                                    {"name": "nm", "type": "text"}])
    tmp_db["parcels"].write([
        {"nm": "inside", "shape": "POINT (25 25)"},
        {"nm": "in_hole", "shape": "POINT (45 45)"},
        {"nm": "outside", "shape": "POINT (200 200)"},
        {"nm": "overlap", "shape":
         "POLYGON ((70 70, 130 70, 130 130, 70 130, 70 70))"},
    ])
    zone = ("POLYGON ((0 0, 100 0, 100 100, 0 100, 0 0), "
            "(40 40, 60 40, 60 60, 40 60, 40 40))")
    got = sorted(r["nm"] for r in tmp_db["parcels"].read(
        fields=["nm"], where=f"ST_Within(shape, '{zone}')"))
    assert got == ["inside"]
    got = sorted(r["nm"] for r in tmp_db["parcels"].read(
        fields=["nm"], where=f"ST_Intersects(shape, '{zone}')"))
    assert got == ["inside", "overlap"]


def test_st_centroid(tmp_db):
    tmp_db.create_table("c1", [{"name": "shape", "type": "geom"}])
    tmp_db["c1"].write([{"shape": "POINT (0 0)"}])
    [r] = tmp_db.execute("""
        SELECT ST_Centroid('MULTIPOINT ((0 0), (4 0), (2 6))') AS mc,
               ST_Centroid('POINT (3.5 -1)') AS pc,
               ST_Centroid('LINESTRING (0 0, 1 1)') AS lc
        FROM c1""")
    assert r["mc"] == "POINT (2.0 2.0)"
    assert r["pc"] == "POINT (3.5 -1.0)"
    # round 7: line centroids are length-weighted now, not NULL
    assert r["lc"] == "POINT (0.5 0.5)"


def test_st_centroid_polygon_and_line(tmp_db):
    """Round 7: area-weighted polygon centroid (holes subtract, parts
    sum) and length-weighted line centroid — PostGIS semantics."""
    tmp_db.create_table("c2", [{"name": "shape", "type": "geom"}])
    tmp_db["c2"].write([{"shape": "POINT (0 0)"}])
    [r] = tmp_db.execute("""
        SELECT ST_Centroid('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))') AS sq,
               ST_Centroid('POLYGON ((0 0, 6 0, 0 6, 0 0))') AS tri,
               ST_Centroid('POLYGON ((0 0, 12 0, 12 6, 0 6, 0 0),
                                     (1 1, 3 1, 3 5, 1 5, 1 1))') AS holed,
               ST_Centroid('MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)),
                                          ((10 0, 14 0, 14 4, 10 4,
                                            10 0)))') AS mp,
               ST_Centroid('LINESTRING (0 0, 10 0, 10 5)') AS ln,
               ST_Centroid('POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))') AS ccw,
               ST_Centroid('POLYGON ((0 0, 0 1, 1 1, 1 0, 0 0))') AS cw
        FROM c2""")
    assert r["sq"] == "POINT (2.0 2.0)"
    assert r["tri"] == "POINT (2.0 2.0)"
    # 12x6 rect (area 72, c=(6,3)) minus 2x4 hole (area 8, c=(2,3)):
    # x = (72*6 - 8*2)/64 = 6.5, y = 3
    assert r["holed"] == "POINT (6.5 3.0)"
    # 2x2 (area 4, c=(1,1)) + 4x4 (area 16, c=(12,2)):
    # x = (4*1 + 16*12)/20 = 9.8, y = (4*1 + 16*2)/20 = 1.8
    assert r["mp"] == "POINT (9.8 1.8)"
    # segments: len 10 mid (5,0) + len 5 mid (10,2.5):
    # x = (50 + 50)/15 = 6.666..., y = 12.5/15 = 0.8333...
    x, y = r["ln"].replace("POINT (", "").rstrip(")").split()
    assert abs(float(x) - 100.0 / 15) < 1e-9
    assert abs(float(y) - 12.5 / 15) < 1e-9
    # winding must not matter (sign-normalized shoelace)
    assert r["ccw"] == r["cw"] == "POINT (0.5 0.5)"


def test_linearize_circularstring_semicircle():
    """Half circle (0,0)→(1,1)→(2,0): chords lie on the r=1 circle centered
    (1,0) and endpoints are exact."""
    import math

    from datum_spark.functions.geometry import linearize_circularstring

    out = linearize_circularstring("CIRCULARSTRING (0 0, 1 1, 2 0)")
    assert out.startswith("LINESTRING (")
    pts = [tuple(map(float, p.split()))
           for p in out[len("LINESTRING ("):-1].split(",")]
    assert pts[0] == (0.0, 0.0) and pts[-1] == (2.0, 0.0)
    assert len(pts) >= 10          # pi sweep at <=11.25deg per chord
    for x, y in pts:
        assert abs(math.hypot(x - 1.0, y) - 1.0) < 1e-9
    assert any(y > 0.9 for _, y in pts)  # passes through the top, not below


def test_linearize_circularstring_collinear_and_empty():
    from datum_spark.functions.geometry import linearize_circularstring

    assert linearize_circularstring(
        "CIRCULARSTRING (0 0, 1 1, 2 2)") == "LINESTRING (0 0, 2 2)"
    assert linearize_circularstring(
        "CIRCULARSTRING EMPTY") == "LINESTRING EMPTY"


def test_curve_write_linearizes_and_gates(tmp_db):
    """Write path parity with reference ST_CurveToLine
    (datum/postgis/table.py:189-191): CIRCULARSTRING becomes a LINESTRING
    on disk; unsupported curve types fail with a clear error."""
    import pytest as _pytest

    tmp_db.create_table("curves", [{"name": "shape", "type": "geom"}])
    tmp_db["curves"].write([{"shape": "CIRCULARSTRING (0 0, 1 1, 2 0)"},
                            {"shape": "POINT (5 5)"}])
    got = sorted(r["shape"].split(" ")[0]
                 for r in tmp_db["curves"].read())
    assert got == ["LINESTRING", "POINT"]

    tmp_db.create_table("curves2", [{"name": "shape", "type": "geom"}])
    with _pytest.raises(Exception, match="(?i)curve.*not.*supported"):
        tmp_db["curves2"].write(
            [{"shape": "COMPOUNDCURVE (CIRCULARSTRING (0 0, 1 1, 2 0))"}])


def test_radius_join_equals_bruteforce(spark):
    """Grid cell join == brute-force cross join + distance filter on a
    random-ish lattice (closed boundary; pairs meeting in a neighbor
    cell are found exactly once)."""
    from datum_spark.operators.spatial import radius_join
    L = [(i, float(i * 7 % 23), float(i * 13 % 19)) for i in range(60)]
    R = [(j, float(j * 5 % 23) + 0.25, float(j * 11 % 19) - 0.5)
         for j in range(40)]
    ldf = spark.createDataFrame(L, "lid long, lx double, ly double")
    rdf = spark.createDataFrame(R, "rid long, rx double, ry double")
    got = sorted((r["lid"], r["rid"], round(r["dist"], 9)) for r in
                 radius_join(ldf, rdf, "lx", "ly", "rx", "ry", 2.0).collect())
    brute = sorted(
        (a[0], b[0], round(((a[1]-b[1])**2 + (a[2]-b[2])**2) ** 0.5, 9))
        for a in L for b in R
        if (a[1]-b[1])**2 + (a[2]-b[2])**2 <= 4.0)
    assert got == brute and got


def test_nearest_neighbor_join_picks_closest(spark):
    from datum_spark.operators.spatial import nearest_neighbor_join
    ldf = spark.createDataFrame([(1, 0.0, 0.0), (2, 50.0, 50.0)],
                                "lid long, lx double, ly double")
    rdf = spark.createDataFrame([(10, 0.5, 0.0), (11, 0.0, 0.2),
                                 (12, 9.0, 9.0)],
                                "rid long, rx double, ry double")
    out = {r["lid"]: (r["rid"], round(r["dist"], 3)) for r in
           nearest_neighbor_join(ldf, rdf, "lx", "ly", "rx", "ry",
                                 "lid", 5.0).collect()}
    assert out[1] == (11, 0.2)     # nearest of the two in range
    assert 2 not in out            # nothing within max_radius


# ---------------------------------------------------------------------------
# polygon predicates (round 7): ST_Contains / ST_Within / ST_Intersects

_P_HOLED = ("POLYGON ((10 10, 50 10, 50 50, 10 50, 10 10), "
            "(20 20, 30 20, 30 30, 20 30, 20 20))")
_P_MULTI = ("MULTIPOLYGON (((0 60, 20 60, 20 80, 0 80, 0 60)), "
            "((40 60, 70 60, 70 85, 40 85, 40 60)))")
_P_UNIT = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"


def test_polygon_predicates(spark):
    """Hand-computed truth table: holes, multipolygon parts, star-of-
    david edge crossings, shared-edge touches, on-line points, nulls.
    (Boundary semantics are the documented half-open ray cast, not full
    DE-9IM — the cases here avoid undefined corners.)"""
    from datum_spark.functions.geometry_sql import (
        register_geometry_sql_functions,
    )

    register_geometry_sql_functions(spark)
    cases = [
        (f"st_contains('{_P_HOLED}', 'POINT (40 40)')", True),
        (f"st_contains('{_P_HOLED}', 'POINT (25 25)')", False),  # hole
        (f"st_contains('{_P_HOLED}', 'POINT (5 5)')", False),
        (f"st_within('POINT (40 40)', '{_P_HOLED}')", True),
        (f"st_contains('{_P_MULTI}', 'POINT (45 62)')", True),
        (f"st_contains('{_P_MULTI}', 'POINT (30 62)')", False),  # between
        (f"st_contains('POLYGON ((0 0, 100 0, 100 100, 0 100, 0 0))', "
         f"'{_P_HOLED}')", True),
        (f"st_contains('{_P_HOLED}', "
         f"'POLYGON ((0 0, 100 0, 100 100, 0 100, 0 0))')", False),
        (f"st_contains('{_P_UNIT}', '{_P_UNIT}')", True),       # self
        (f"st_intersects('{_P_UNIT}', "
         f"'POLYGON ((5 5, 15 5, 15 15, 5 15, 5 5))')", True),
        (f"st_intersects('{_P_UNIT}', "
         f"'POLYGON ((20 20, 25 20, 25 25, 20 25, 20 20))')", False),
        (f"st_intersects('POINT (3 3)', '{_P_UNIT}')", True),
        ("st_intersects('POINT (3 3)', 'POINT (3 3)')", True),
        ("st_intersects('POINT (3 3)', 'POINT (4 3)')", False),
        ("st_intersects('POINT (5 0)', 'LINESTRING (0 0, 10 0)')", True),
        ("st_intersects('POINT (5 1)', 'LINESTRING (0 0, 10 0)')", False),
        ("st_intersects('LINESTRING (0 0, 10 10)', "
         "'LINESTRING (0 10, 10 0)')", True),
        ("st_intersects('LINESTRING (0 0, 10 10)', "
         "'LINESTRING (20 20, 30 30)')", False),
        ("st_intersects('LINESTRING (0 5, 20 5)', "
         "'POLYGON ((5 0, 15 0, 15 10, 5 10, 5 0))')", True),
        (f"st_contains('{_P_HOLED}', cast(NULL as string))", None),
        (f"st_contains('{_P_HOLED}', 'POLYGON EMPTY')", False),
        # shared-edge touch: intersects yes, contains no
        (f"st_intersects('{_P_UNIT}', "
         f"'POLYGON ((10 0, 20 0, 20 10, 10 10, 10 0))')", True),
        (f"st_contains('{_P_UNIT}', "
         f"'POLYGON ((10 0, 20 0, 20 10, 10 10, 10 0))')", False),
        # star-of-david: edges cross, no vertex inside either
        ("st_intersects('POLYGON ((0 4, 12 4, 6 -6, 0 4))', "
         "'POLYGON ((0 -2, 12 -2, 6 8, 0 -2))')", True),
        # polygon inside the HOLE: disjoint
        (f"st_intersects('{_P_HOLED}', "
         f"'POLYGON ((22 22, 28 22, 28 28, 22 28, 22 22))')", False),
        (f"st_contains('{_P_HOLED}', "
         f"'POLYGON ((22 22, 28 22, 28 28, 22 28, 22 22))')", False),
        # multipoint: ALL points must be inside for contains, ANY for
        # intersects
        (f"st_contains('{_P_HOLED}', 'MULTIPOINT ((40 40), (15 15))')",
         True),
        (f"st_contains('{_P_HOLED}', 'MULTIPOINT ((40 40), (25 25))')",
         False),
        (f"st_intersects('MULTIPOINT ((5 5), (40 40))', '{_P_HOLED}')",
         True),
    ]
    exprs = ", ".join(f"({e}) AS c{i}" for i, (e, _) in enumerate(cases))
    row = spark.sql(f"SELECT {exprs}").collect()[0]
    bad = [(cases[i][0], row[i], cases[i][1])
           for i in range(len(cases)) if row[i] != cases[i][1]]
    assert not bad, bad


def test_point_in_polygon_join_equals_bruteforce(spark):
    """Grid-prefiltered join == per-pair st__pip cross join, for several
    cell sizes (the grid is a pure prefilter, never semantics)."""
    from pyspark.sql import functions as F

    from datum_spark.functions.geometry_sql import (
        register_geometry_sql_functions,
    )
    from datum_spark.operators.spatial import point_in_polygon_join

    register_geometry_sql_functions(spark)
    pts = spark.createDataFrame(
        [(i, float(i * 7 % 95), float(i * 13 % 91)) for i in range(300)],
        "pid long, px double, py double")
    polys = spark.createDataFrame(
        [(1, _P_HOLED), (2, _P_MULTI),
         (3, "POLYGON ((60 0, 90 30, 60 60, 30 30, 60 0))")],
        "poly_id int, wkt string")
    brute = sorted((r["pid"], r["poly_id"]) for r in
                   pts.crossJoin(polys)
                      .filter(F.expr("st__pip(px, py, wkt)")).collect())
    assert brute                                   # fixture non-trivial
    for cell in (7.0, 30.0, 1000.0):
        got = sorted((r["pid"], r["poly_id"]) for r in
                     point_in_polygon_join(pts, polys, "px", "py", "wkt",
                                           cell_size=cell).collect())
        assert got == brute, f"cell_size={cell}"


def test_st_length_perimeter_ring_aware(tmp_db):
    """Round 7: length/perimeter fold segments PER RING — no phantom
    segment between a polygon's hole rings or a MULTI geometry's parts;
    PostGIS includes interior-ring boundaries in the perimeter."""
    tmp_db.create_table("lp", [{"name": "shape", "type": "geom"}])
    tmp_db["lp"].write([{"shape": "POINT (0 0)"}])
    [r] = tmp_db.execute("""
        SELECT ST_Perimeter('POLYGON ((10 10, 50 10, 50 50, 10 50,
                                       10 10),
                                      (20 20, 30 20, 30 30, 20 30,
                                       20 20))') AS holed,
               ST_Length('MULTILINESTRING ((0 0, 3 4), (100 0,
                                            103 4))') AS ml,
               ST_Length('LINESTRING (0 0, 3 4, 3 0)') AS l
        FROM lp""")
    assert r["holed"] == 160.0 + 40.0     # outer + hole boundary
    assert r["ml"] == 10.0                # 5 + 5, no inter-part jump
    assert r["l"] == 9.0


def test_polygon_predicates_malformed_input(spark):
    """Garbage / vertex-free WKT never crashes and never satisfies a
    predicate vacuously (round-7 guard: forall over an empty vertex
    list must not make st_contains true)."""
    from datum_spark.functions.geometry_sql import (
        register_geometry_sql_functions,
    )

    register_geometry_sql_functions(spark)
    sq = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
    [r] = spark.sql(f"""
        SELECT st_contains('{sq}', 'oops') AS c1,
               st_contains('garbage', 'POINT (1 1)') AS c2,
               st_intersects('{sq}', '') AS i1,
               st_within('', '{sq}') AS w1,
               st_area('not wkt') AS ar,
               st_centroid('POLYGON ((zz))') AS ce
    """).collect()
    assert r["c1"] is False and r["c2"] is False
    assert r["i1"] is False and r["w1"] is False
    assert r["ar"] == 0.0 and r["ce"] is None


def test_simplify_wkt(spark):
    """SQL st_simplify, Douglas–Peucker: near-collinear vertices drop at
    tolerance, shape-defining corners survive; rings stay closed; points
    pass through."""
    from datum_spark.functions.geometry_sql import (
        register_geometry_sql_functions)

    register_geometry_sql_functions(spark)

    rows = [
        # a line with one 0.1-deviation midpoint: gone at tol 0.5
        ("LINESTRING (0 0, 5 0.1, 10 0, 10 10)",),
        # square ring with a midpoint on each edge: midpoints drop
        ("POLYGON ((0 0, 5 0.1, 10 0, 10 10, 0 10, 0 0))",),
        ("POINT (3 4)",),
        (None,),
    ]
    df = spark.createDataFrame(rows, "wkt string")
    out = [r["o"] for r in
           df.selectExpr("st_simplify(wkt, 0.5) AS o").collect()]
    assert out[0] == "LINESTRING (0 0, 10 0, 10 10)"
    assert out[1] == "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
    assert out[2] == "POINT (3 4)" and out[3] is None
    # tolerance 0 keeps everything
    keep = [r["o"] for r in
            df.limit(1).selectExpr("st_simplify(wkt, 0.0) AS o").collect()]
    assert keep[0] == "LINESTRING (0 0, 5 0.1, 10 0, 10 10)"
    # a ring that would collapse below a triangle is kept whole
    tiny = spark.createDataFrame(
        [("POLYGON ((0 0, 1 0, 1 1, 0 0))",)], "wkt string")
    [r] = tiny.selectExpr("st_simplify(wkt, 100.0) AS o").collect()
    assert r["o"] == "POLYGON ((0 0, 1 0, 1 1, 0 0))"


def test_coordinate_roundtrip_formatting():
    """Kept vertices must serialize round-trip (Douglas–Peucker never
    MOVES a vertex; the old ``{x:g}`` collapsed 1234567.25/1234568.75
    to the same 6-digit text and emitted scientific notation)."""
    from datum_spark.functions.geometry import _num, _simplify_one

    for v in (1234567.25, 1234568.75, -122.419416, 37.7749295,
              1e16 + 2.0, 0.0000001234, -0.0, 3.0, 2.5e-7):
        s = _num(v)
        assert float(s) == v, (v, s)
        assert "e" not in s and "E" not in s, s
    assert _num(10.0) == "10" and _num(2.5) == "2.5"
    # kept vertices bit-identical through simplify
    w = ("LINESTRING (1234567.25 0.5, 1234568.75 100.125, "
         "1234567.5 200.0625)")
    assert _simplify_one(w, 0.0001) == ("LINESTRING (1234567.25 0.5, "
                                        "1234568.75 100.125, "
                                        "1234567.5 200.0625)")
    # lon/lat precision survives (the -122.419416 -> -122.419 bug)
    w2 = "LINESTRING (-122.419416 37.7749295, -122.5 37.9, -122.3 38.1)"
    assert "-122.419416 37.7749295" in _simplify_one(w2, 1e-9)


def test_convex_hull_wkt(spark):
    """SQL st_convexhull: monotone-chain hull, PostGIS degenerate cases."""
    from datum_spark.functions.geometry import _hull_one
    from datum_spark.functions.geometry_sql import (
        register_geometry_sql_functions)

    register_geometry_sql_functions(spark)

    rows = [
        # square + interior point: hull is the square
        ("MULTIPOINT ((0 0), (4 0), (4 4), (0 4), (2 2))",),
        ("POINT (1 2)",),
        ("LINESTRING (0 0, 2 2, 5 5)",),          # collinear
        ("POLYGON ((0 0, 3 1, 6 0, 3 8, 0 0))",),  # already convex-ish
    ]
    df = spark.createDataFrame(rows, "wkt string")
    out = [r["o"] for r in
           df.selectExpr("st_convexhull(wkt) AS o").collect()]
    assert out[0] == "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
    assert out[1] == "POINT (1 2)"
    assert out[2] == "LINESTRING (0 0, 5 5)"
    # hull of a hull is itself (idempotence), and every input vertex is
    # inside-or-on it — checked via the SQL predicate pack
    h = out[3]
    [r] = spark.sql(
        f"SELECT st_contains('{h}', 'MULTIPOINT ((0 0), (3 1), (6 0), "
        f"(3 8))') AS all_in").collect()
    # boundary vertices: contains is half-open, so check intersects too
    assert _hull_one(h) == h


def test_simplify_and_hull_in_sql_gateway(tmp_db):
    """st_simplify / st_convexhull callable from execute() and
    read(where=) like every other ST_* function."""
    tmp_db.create_table("sg", [{"name": "shape", "type": "geom"}])
    tmp_db["sg"].write([
        {"shape": "LINESTRING (0 0, 5 0.1, 10 0, 10 10)"}])
    [r] = tmp_db.execute("""
        SELECT st_simplify(shape, 0.5) AS s,
               st_convexhull('MULTIPOINT ((0 0), (4 0), (4 4), (0 4),
                                          (2 2))') AS h
        FROM sg""")
    assert r["s"] == "LINESTRING (0 0, 10 0, 10 10)"
    assert r["h"] == "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
    rows = tmp_db["sg"].read(
        where="ST_NPoints(st_simplify(shape, 0.5)) = 3")
    assert len(rows) == 1


def test_overlay_in_database_gateway(tmp_db):
    """Constructive geometry + DE-9IM through the datum-style API —
    the exact splice surface the reference delegated to PostGIS:
    execute() statements and read(where=) fragments."""
    tmp_db.create_table("pz", [{"name": "shape", "type": "geom"},
                               {"name": "zone", "type": "text"}])
    tmp_db["pz"].write([
        {"zone": "a", "shape": "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"},
        {"zone": "b", "shape": "POLYGON ((40 40, 50 40, 50 50, 40 50, 40 40))"},
    ])
    clip = "POLYGON ((5 5, 15 5, 15 15, 5 15, 5 5))"
    [r] = tmp_db.execute(f"""
        SELECT SUM(st_area(st_intersection(shape, '{clip}'))) AS zoned,
               SUM(st_area(st_buffer(shape, -1.0))) AS eroded
        FROM pz""")
    assert r["zoned"] == 25.0 and r["eroded"] == 64.0 + 64.0
    # where= fragment with a named predicate + overlay composition
    rows = tmp_db["pz"].read(
        where=f"st_overlaps(shape, '{clip}') "
              f"AND st_area(st_intersection(shape, '{clip}')) > 10")
    assert [x["zone"] for x in rows] == ["a"]


def test_de9im_named_predicates_truth_table(spark):
    """ST_Touches / ST_Crosses / ST_Overlaps / ST_Disjoint across the
    dimension matrix: area/area (shared edge, shared corner, overlap,
    containment, equality, disjoint), line/area (cross, boundary-touch,
    within), line/line (X-cross, endpoint-touch, collinear partial
    overlap), point/* and multipoint straddles."""
    from datum_spark.functions.geometry_sql import (
        register_geometry_sql_functions)

    register_geometry_sql_functions(spark)
    sq = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
    cases = [
        # (a, b, touches, crosses, overlaps, disjoint)
        (sq, "POLYGON ((10 0, 20 0, 20 10, 10 10, 10 0))",
         True, False, False, False),                 # shared edge
        (sq, "POLYGON ((10 10, 20 10, 20 20, 10 20, 10 10))",
         True, False, False, False),                 # shared corner
        (sq, "POLYGON ((5 5, 15 5, 15 15, 5 15, 5 5))",
         False, False, True, False),                 # proper overlap
        (sq, "POLYGON ((20 20, 30 20, 30 30, 20 30, 20 20))",
         False, False, False, True),                 # disjoint
        (sq, "POLYGON ((2 2, 8 2, 8 8, 2 8, 2 2))",
         False, False, False, False),                # a contains b
        (sq, sq, False, False, False, False),        # equal
        (sq, "POLYGON ((8 10, 12 14, 4 16, 8 10))",
         True, False, False, False),                 # vertex-on-edge touch
        ("LINESTRING (5 -5, 5 15)", sq, False, True, False, False),
        ("LINESTRING (0 -5, 0 15)", sq, True, False, False, False),
        ("LINESTRING (-5 -5, -5 15)", sq, False, False, False, True),
        ("LINESTRING (2 2, 8 8)", sq, False, False, False, False),
        ("LINESTRING (0 0, 10 0)", "LINESTRING (5 0, 15 0)",
         False, False, True, False),                 # collinear partial
        ("LINESTRING (0 0, 10 10)", "LINESTRING (0 10, 10 0)",
         False, True, False, False),                 # X crossing
        ("LINESTRING (0 0, 5 5)", "LINESTRING (5 5, 10 0)",
         True, False, False, False),                 # endpoint touch
        ("POINT (5 5)", sq, False, False, False, False),
        ("POINT (0 5)", sq, True, False, False, False),
        ("POINT (20 20)", sq, False, False, False, True),
        ("MULTIPOINT ((5 5), (20 20))", sq, False, True, False, False),
        ("MULTIPOINT ((1 1), (2 2))", "MULTIPOINT ((2 2), (3 3))",
         False, False, True, False),
        ("POINT (1 1)", "POINT (1 1)", False, False, False, False),
    ]
    vals = ", ".join(f"({i}, '{a}', '{b}')"
                     for i, (a, b, *_) in enumerate(cases))
    rows = spark.sql(f"""
        SELECT i, st_touches(a, b) AS t, st_crosses(a, b) AS c,
               st_overlaps(a, b) AS o, st_disjoint(a, b) AS d,
               st_touches(b, a) AS ts, st_overlaps(b, a) AS os
        FROM VALUES {vals} AS t(i, a, b) ORDER BY i""").collect()
    for r, (a, b, t, c, o, d) in zip(rows, cases):
        got = (r["t"], r["c"], r["o"], r["d"])
        assert got == (t, c, o, d), (a, b, got, (t, c, o, d))
        # touches/overlaps are symmetric
        assert r["ts"] == t and r["os"] == o, (a, b)
    # NULL propagation
    [n] = spark.sql(
        "SELECT st_touches(NULL, 'POINT (1 1)') AS a, "
        "st_disjoint('POINT (1 1)', NULL) AS b").collect()
    assert n["a"] is None and n["b"] is None


def test_polygon_overlay_join_matches_bruteforce(spark):
    """Grid-prefiltered overlay join == all-pairs clipping over three
    cell sizes (the canonical-cell dedup must keep each intersecting
    pair exactly once), with exact interval-arithmetic truth for the
    rectangle fixtures."""
    from datum_spark.operators.spatial import polygon_overlay_join

    import random as _r
    rng = _r.Random(5)
    lrects, rrects = [], []
    for i in range(25):
        x1, y1 = rng.randint(0, 40), rng.randint(0, 40)
        w, h = rng.randint(2, 15), rng.randint(2, 15)
        lrects.append((i, x1, y1, x1 + w, y1 + h))
    for j in range(12):
        x1, y1 = rng.randint(0, 40), rng.randint(0, 40)
        w, h = rng.randint(5, 25), rng.randint(5, 25)
        rrects.append((j, x1, y1, x1 + w, y1 + h))

    def wkt(x1, y1, x2, y2):
        return (f"POLYGON (({x1} {y1}, {x2} {y1}, {x2} {y2}, "
                f"{x1} {y2}, {x1} {y1}))")

    left = spark.createDataFrame(
        [(i, wkt(*r)) for i, *r in lrects], "lid int, lw string")
    right = spark.createDataFrame(
        [(j, wkt(*r)) for j, *r in rrects], "rid int, rw string")
    want = {}
    for i, ax1, ay1, ax2, ay2 in lrects:
        for j, bx1, by1, bx2, by2 in rrects:
            iw = max(0, min(ax2, bx2) - max(ax1, bx1))
            ih = max(0, min(ay2, by2) - max(ay1, by1))
            if iw * ih > 0:
                want[(i, j)] = float(iw * ih)
    for cs in (4.0, 11.0, 60.0):
        got = {(r["lid"], r["rid"]): r["inter_area"]
               for r in polygon_overlay_join(left, right, "lw", "rw",
                                             cell_size=cs).collect()}
        assert got == want, cs


def test_dissolve_group_union(spark):
    """dissolve == grouped ST_Union: overlapping rect chains merge to
    one polygon per group with the inclusion-exclusion area; the
    two-stage salted fold (pre_fold) must give identical areas."""
    from datum_spark.functions.clipping import multipoly_area, parse_wkt
    from datum_spark.operators.spatial import dissolve

    rows = []
    for g in range(6):
        x0 = g * 40
        # three overlapping 10x10 squares stepping by 5: union area 200
        for i in range(3):
            x1 = x0 + i * 5
            rows.append((g, f"POLYGON (({x1} 0, {x1+10} 0, {x1+10} 10, "
                            f"{x1} 10, {x1} 0))"))
        # plus a disjoint square far north: +16
        rows.append((g, f"POLYGON (({x0} 50, {x0+4} 50, {x0+4} 54, "
                        f"{x0} 54, {x0} 50))"))
    df = spark.createDataFrame(rows, "g int, wkt string")
    for pf in (1, 3):
        got = {r["g"]: r["geom"]
               for r in dissolve(df, ["g"], "wkt", pre_fold=pf).collect()}
        assert len(got) == 6
        for g, w in got.items():
            assert abs(multipoly_area(parse_wkt(w)[1]) - 216.0) < 1e-9, \
                (pf, g)
            assert w.startswith("MULTIPOLYGON")   # two disjoint parts


def test_de9im_predicates_cross_validated_against_clipper(spark):
    """The Catalyst predicate pack vs the independently-fuzzed Martinez
    clipper as ground truth, over random integer rect/triangle pairs
    (shared edges and vertex-on-edge touches abound): interiors
    intersect iff area(A∩B) > 0; touches = meets with zero-area
    intersection; disjoint = no contact at all."""
    import random as _r

    from datum_spark.functions.clipping import (INTERSECTION, boolean_op,
                                                multipoly_area, parse_wkt)
    from datum_spark.functions.geometry_sql import (
        register_geometry_sql_functions)

    register_geometry_sql_functions(spark)
    rng = _r.Random(17)

    def rect():
        x1, y1 = rng.randint(0, 12), rng.randint(0, 12)
        w, h = rng.randint(1, 10), rng.randint(1, 10)
        return (f"POLYGON (({x1} {y1}, {x1+w} {y1}, {x1+w} {y1+h}, "
                f"{x1} {y1+h}, {x1} {y1}))")

    def tri():
        while True:
            p = [(rng.randint(0, 15), rng.randint(0, 15))
                 for _ in range(3)]
            cr = ((p[1][0]-p[0][0])*(p[2][1]-p[0][1])
                  - (p[1][1]-p[0][1])*(p[2][0]-p[0][0]))
            if cr != 0:
                return ("POLYGON ((" + ", ".join(f"{x} {y}" for x, y in
                                                 p + [p[0]]) + "))")

    cases = [(i, rect() if rng.random() < 0.6 else tri(),
              rect() if rng.random() < 0.6 else tri())
             for i in range(120)]
    vals = ", ".join(f"({i}, '{a}', '{b}')" for i, a, b in cases)
    rows = {r["i"]: r for r in spark.sql(f"""
        SELECT i, st_intersects(a, b) AS ix, st_touches(a, b) AS t,
               st_overlaps(a, b) AS o, st_disjoint(a, b) AS d,
               st_contains(a, b) AS cab, st_contains(b, a) AS cba
        FROM VALUES {vals} AS t(i, a, b)""").collect()}

    def segs(mp):
        return [(ring[k], ring[k + 1]) for poly in mp for ring in poly
                for k in range(len(ring) - 1)]

    def contact(ma, mb):
        # any boundary contact: shared point between boundary segments
        from datum_spark.functions.clipping import _seg_intersection
        for sa in segs(ma):
            for sb in segs(mb):
                if _seg_intersection(sa[0], sa[1], sb[0], sb[1]):
                    return True
        return False

    bad = []
    for i, a, b in cases:
        ma, mb = parse_wkt(a)[1], parse_wkt(b)[1]
        inter_area = multipoly_area(boolean_op(ma, mb, INTERSECTION))
        meets = inter_area > 0 or contact(ma, mb)
        r = rows[i]
        if r["ix"] != meets:
            bad.append((i, "intersects", a, b, r["ix"], meets))
        if r["d"] != (not meets):
            bad.append((i, "disjoint", a, b))
        want_touch = meets and inter_area == 0
        if r["t"] != want_touch:
            bad.append((i, "touches", a, b, r["t"], want_touch))
        want_overlap = (inter_area > 0 and not r["cab"] and not r["cba"])
        if r["o"] != want_overlap:
            bad.append((i, "overlaps", a, b, r["o"], want_overlap))
    assert not bad, bad[:4]


def test_general_st_distance(spark):
    """ST_Distance beyond point/point: point-polygon (outside edge,
    outside corner, inside), polygon-polygon (axis gap, diagonal gap,
    contained, touching), line-polygon — exact values; the point/point
    fast path keeps its historical behavior; st_dwithin inherits."""
    from datum_spark.functions.geometry_sql import (
        register_geometry_sql_functions)

    register_geometry_sql_functions(spark)
    sq = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
    [r] = spark.sql(f"""
      SELECT st_distance('POINT (0 0)', 'POINT (3 4)') AS pp,
             st_distance('POINT (13 10)', '{sq}') AS edge,
             st_distance('POINT (13 14)', '{sq}') AS corner,
             st_distance('POINT (5 5)', '{sq}') AS inside,
             st_distance('{sq}',
               'POLYGON ((13 0, 20 0, 20 10, 13 10, 13 0))') AS gap,
             st_distance('{sq}',
               'POLYGON ((14 13, 20 13, 20 20, 14 20, 14 13))') AS diag,
             st_distance('{sq}',
               'POLYGON ((10 0, 20 0, 20 10, 10 10, 10 0))') AS touch,
             st_distance('{sq}',
               'POLYGON ((2 2, 4 2, 4 4, 2 4, 2 2))') AS contained,
             st_distance('LINESTRING (12 -5, 12 15)', '{sq}') AS line,
             st_dwithin('{sq}',
               'POLYGON ((13 0, 20 0, 20 10, 13 10, 13 0))', 3.0) AS w1,
             st_dwithin('{sq}',
               'POLYGON ((13 0, 20 0, 20 10, 13 10, 13 0))', 2.9) AS w0,
             st_distance('POLYGON EMPTY', '{sq}') AS emp
      """).collect()
    assert r["pp"] == 5.0 and r["edge"] == 3.0
    assert abs(r["corner"] - 5.0) < 1e-12
    assert r["inside"] == 0.0 and r["gap"] == 3.0
    assert abs(r["diag"] - 5.0) < 1e-12
    assert r["touch"] == 0.0 and r["contained"] == 0.0
    assert r["line"] == 2.0
    assert r["w1"] is True and r["w0"] is False and r["emp"] is None


def test_st_asgeojson(spark):
    """RFC 7946 export for every geometry type: valid JSON, correct
    nesting depth, ring/part structure preserved, EMPTY and NULL
    handled."""
    import json as _json

    from datum_spark.functions.geometry_sql import (
        register_geometry_sql_functions)

    register_geometry_sql_functions(spark)
    [r] = spark.sql("""
      SELECT st_asgeojson('POINT (1.5 2)') AS p,
             st_asgeojson('MULTIPOINT ((1 2), (3 4))') AS mp,
             st_asgeojson('LINESTRING (0 0, 5 5)') AS l,
             st_asgeojson('MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))') AS ml,
             st_asgeojson('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0),
                           (1 1, 2 1, 2 2, 1 2, 1 1))') AS pg,
             st_asgeojson('MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)),
                           ((5 5, 6 5, 6 6, 5 5)))') AS mpg,
             st_asgeojson('POLYGON EMPTY') AS emp,
             st_asgeojson(NULL) AS nul""").collect()
    assert _json.loads(r["p"]) == {"type": "Point",
                                   "coordinates": [1.5, 2.0]}
    assert _json.loads(r["mp"])["coordinates"] == [[1, 2], [3, 4]]
    assert _json.loads(r["l"])["type"] == "LineString"
    assert _json.loads(r["ml"])["coordinates"][1] == [[2, 2], [3, 3]]
    pg = _json.loads(r["pg"])
    assert len(pg["coordinates"]) == 2          # exterior + hole
    assert pg["coordinates"][0][0] == [0, 0]
    mpg = _json.loads(r["mpg"])
    assert len(mpg["coordinates"]) == 2 and \
        mpg["coordinates"][1][0][0] == [5, 5]
    assert _json.loads(r["emp"]) == {"type": "Polygon", "coordinates": []}
    assert r["nul"] is None


def test_accessor_pack(spark):
    """Structural accessors: part/ring/vertex access, reversal (area
    invariant under ring reversal), boundary extraction."""
    from datum_spark.functions.geometry_sql import (
        register_geometry_sql_functions)

    register_geometry_sql_functions(spark)
    mp = ("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), "
          "((5 5, 6 5, 6 6, 5 5), (5.2 5.2, 5.4 5.2, 5.4 5.4, 5.2 5.2)))")
    pg = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))"
    ls = "LINESTRING (0 0, 5 5, 9 1)"
    [r] = spark.sql(f"""
      SELECT st_numgeometries('{mp}') AS n_mp,
             st_numgeometries('{pg}') AS n_pg,
             st_geometryn('{mp}', 2) AS g2,
             st_geometryn('{mp}', 3) AS oob,
             st_numinteriorrings('{pg}') AS nir,
             st_exteriorring('{pg}') AS ext,
             st_interiorringn('{pg}', 1) AS ir1,
             st_pointn('{ls}', 2) AS pn,
             st_startpoint('{ls}') AS sp,
             st_endpoint('{ls}') AS ep,
             st_reverse('{ls}') AS revl,
             st_area(st_reverse('{mp}')) AS reva,
             st_boundary('{pg}') AS bdy,
             st_boundary('{ls}') AS lbdy,
             st_boundary('POINT (1 1)') AS pbdy""").collect()
    assert r["n_mp"] == 2 and r["n_pg"] == 1
    assert r["g2"] == ("POLYGON ((5 5, 6 5, 6 6, 5 5), "
                       "(5.2 5.2, 5.4 5.2, 5.4 5.4, 5.2 5.2))")
    assert r["oob"] is None and r["nir"] == 1
    assert r["ext"] == "LINESTRING (0 0, 4 0, 4 4, 0 4, 0 0)"
    assert r["ir1"] == "LINESTRING (1 1, 2 1, 2 2, 1 2, 1 1)"
    assert r["pn"] == "POINT (5.0 5.0)"
    assert r["sp"] == "POINT (0.0 0.0)" and r["ep"] == "POINT (9.0 1.0)"
    assert r["revl"] == "LINESTRING (9.0 1.0, 5.0 5.0, 0.0 0.0)"
    assert abs(r["reva"] - 0.98) < 1e-9     # reversal preserves area
    assert r["bdy"].startswith("MULTILINESTRING") and \
        r["bdy"].count("(") == 3
    assert r["lbdy"] == "MULTIPOINT ((0.0 0.0), (9.0 1.0))"
    assert r["pbdy"] == "GEOMETRYCOLLECTION EMPTY"


def test_bbox_extent_collect_functions(spark):
    from datum_spark.functions.geometry_sql import (
        register_geometry_sql_functions)

    register_geometry_sql_functions(spark)
    row = spark.sql("""
SELECT st_xmin('POLYGON ((1 2, 9 2, 9 8, 1 8, 1 2))') AS x1,
       st_ymin('POLYGON ((1 2, 9 2, 9 8, 1 8, 1 2))') AS y1,
       st_xmax('LINESTRING (3 -4, 7 12)') AS x2,
       st_ymax('LINESTRING (3 -4, 7 12)') AS y2,
       st_xmin('POLYGON EMPTY') AS e1,
       st_xmin(NULL) AS e2,
       st_makeenvelope(0.0D, 0.0D, 4.0D, 3.0D) AS env,
       st_area(st_makeenvelope(0.0D, 0.0D, 4.0D, 3.0D)) AS env_area,
       st_collect(array('POINT (1 2)', 'POINT (3 4)')) AS mp,
       st_collect(array('POINT (1 2)', 'LINESTRING (0 0, 1 1)')) AS gc,
       st_collect(array()) AS empty_gc
""").collect()[0]
    assert (row.x1, row.y1, row.x2, row.y2) == (1.0, 2.0, 7.0, 12.0)
    assert row.e1 is None and row.e2 is None
    assert row.env == ("POLYGON ((0.0 0.0, 4.0 0.0, 4.0 3.0, "
                       "0.0 3.0, 0.0 0.0))")
    assert row.env_area == 12.0
    assert row.mp == "MULTIPOINT ((1 2), (3 4))"
    assert row.gc == ("GEOMETRYCOLLECTION (POINT (1 2), "
                      "LINESTRING (0 0, 1 1))")
    assert row.empty_gc == "GEOMETRYCOLLECTION EMPTY"


def test_geohash_known_vectors(spark):
    """Canonical geohash test vectors (public reference points) plus
    clamping and NULL propagation."""
    from datum_spark.functions.geometry_sql import (
        register_geometry_sql_functions)

    register_geometry_sql_functions(spark)
    row = spark.sql("""
SELECT st_geohash('POINT (-5.603 42.605)', 5) AS ezs,
       st_geohash('POINT (10.40744 57.64911)', 11) AS jutland,
       st_geohash('POINT (-74.0060 40.7128)', 8) AS nyc,
       st_geohash('POINT (0 0)', 1) AS origin,
       st_geohash('POINT (1 1)', 99) AS clamped,
       st_geohash(NULL, 5) AS n1,
       st_geohash('POINT (1 1)', NULL) AS n2,
       st_geohash('POLYGON EMPTY', 5) AS n3
""").collect()[0]
    assert row.ezs == "ezs42"
    assert row.jutland == "u4pruydqqvj"
    assert row.nyc == "dr5regw3"
    assert row.origin == "s"
    assert len(row.clamped) == 20
    assert row.n1 is None and row.n2 is None and row.n3 is None
    # prefix property: higher precision extends, never rewrites
    rows = spark.sql("""
SELECT st_geohash('POINT (13.3777 52.5163)', p) AS h
FROM VALUES (2), (4), (6), (8) AS t(p) ORDER BY length(h)
""").collect()
    hashes = [r.h for r in rows]
    for a, b in zip(hashes, hashes[1:]):
        assert b.startswith(a)


def test_linear_referencing_pack(spark):
    from datum_spark.functions.geometry_sql import (
        register_geometry_sql_functions)

    register_geometry_sql_functions(spark)
    row = spark.sql("""
SELECT st_lineinterpolatepoint('LINESTRING (0 0, 3 0, 3 4)', 0.5) AS mid,
       st_lineinterpolatepoint('LINESTRING (0 0, 3 0, 3 4)', -1.0) AS lo,
       st_lineinterpolatepoint('LINESTRING (0 0, 3 0, 3 4)', 2.0) AS hi,
       st_linelocatepoint('LINESTRING (0 0, 3 0, 3 4)',
                          'POINT (1 1)') AS loc,
       st_linesubstring('LINESTRING (0 0, 3 0, 3 4)',
                        1.0/7, 5.0/7) AS sub,
       st_length(st_linesubstring('LINESTRING (0 0, 3 0, 3 4)',
                 1.0/7, 5.0/7)) AS sub_len,
       st_linesubstring('LINESTRING (0 0, 3 0, 3 4)', 0.7, 0.2) AS rev,
       st_azimuth('POINT (0 0)', 'POINT (1 1)') AS ne,
       st_closestpoint('LINESTRING (0 0, 10 0)', 'POINT (3 4)') AS cp,
       st_shortestline('POINT (3 4)', 'LINESTRING (0 0, 10 0)') AS sl,
       st_lineinterpolatepoint('LINESTRING EMPTY', 0.5) AS e1,
       st_linelocatepoint('POINT (1 1)', 'POINT (0 0)') AS e2
""").collect()[0]
    import math

    assert row.mid == "POINT (3.0 0.5)"
    assert row.lo == "POINT (0.0 0.0)" and row.hi == "POINT (3.0 4.0)"
    assert row.loc == pytest.approx(1.0 / 7)
    assert row.sub_len == pytest.approx(4.0, abs=1e-5)
    assert row.rev == "LINESTRING EMPTY"
    assert row.ne == pytest.approx(math.pi / 4)
    assert row.cp == "POINT (3.0 0.0)"
    # A-side point first: the shortest line starts on geometry A
    assert row.sl == "LINESTRING (3.0 4.0, 3.0 0.0)"
    assert row.e1 is None and row.e2 is None


def test_snaptogrid(spark):
    from datum_spark.functions.geometry_sql import (
        register_geometry_sql_functions)

    register_geometry_sql_functions(spark)
    row = spark.sql("""
SELECT st_snaptogrid('LINESTRING (1.2 0.6, 3.9 2.1)', 0.5D) AS a,
       st_snaptogrid('POINT (107.3 -22.8)', 5.0D) AS b,
       st_snaptogrid('POINT (1 2)', 0.0D) AS zero,
       st_snaptogrid(NULL, 1.0D) AS n
""").collect()[0]
    assert row.a == "LINESTRING (1 0.5, 4 2)"
    assert row.b == "POINT (105 -25)"
    assert row.zero == "POINT (1 2)"          # size<=0: unchanged
    assert row.n is None


def test_linear_ref_roundtrip_and_distance_consistency(spark):
    """Property checks tying the pack together: locating an
    interpolated point recovers the fraction (monotone polylines), and
    st_shortestline's length equals the general st_distance for
    non-crossing pairs."""
    from datum_spark.functions.geometry_sql import (
        register_geometry_sql_functions)

    register_geometry_sql_functions(spark)
    rows = spark.sql("""
WITH f AS (SELECT explode(sequence(1, 19)) AS i),
lines AS (
  SELECT i, CAST(i AS DOUBLE) / 20 AS frac,
         concat('LINESTRING (0 0, ', 1 + i % 5, ' ', i % 3, ', ',
                3 + i % 7, ' ', 5 + i % 4, ')') AS w
  FROM f)
SELECT i, frac,
       st_linelocatepoint(w, st_lineinterpolatepoint(w, frac)) AS back,
       abs(st_length(st_shortestline(w, 'POINT (20 -5)'))
           - st_distance(w, 'POINT (20 -5)')) AS ddiff
FROM lines""").collect()
    for r in rows:
        assert r.back == pytest.approx(r.frac, abs=1e-9), r.i
        assert r.ddiff < 1e-9, r.i


def test_round8_pack_in_database_gateway(tmp_db):
    """Validity, geohash, extent, and linear referencing through the
    datum-style API (execute / read(where=)), the reference's
    delegation surface."""
    tmp_db.create_table("geo", [{"name": "shape", "type": "geom"},
                                {"name": "tag", "type": "text"}])
    tmp_db["geo"].write([
        {"tag": "ok", "shape": "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"},
        {"tag": "bow", "shape": "POLYGON ((0 0, 2 2, 2 0, 0 2, 0 0))"},
    ])
    [r] = tmp_db.execute("""
        SELECT SUM(CASE WHEN st_isvalid(shape) THEN 1 ELSE 0 END) AS ok,
               SUM(st_area(st_makevalid(shape))) AS area,
               MIN(st_isvalidreason(shape)) AS why,
               MAX(st_geohash(st_makepoint(st_xmin(shape),
                                           st_ymin(shape)), 6)) AS gh,
               MAX(st_azimuth('POINT (0 0)', 'POINT (1 0)')) AS az
        FROM geo""")
    assert r["ok"] == 1 and r["area"] == 16.0 + 2.0
    assert r["why"] == "Valid Geometry"
    assert len(r["gh"]) == 6
    assert abs(r["az"] - 1.5707963267948966) < 1e-12
    rows = tmp_db["geo"].read(where="NOT st_isvalid(shape)")
    assert [x["tag"] for x in rows] == ["bow"]
