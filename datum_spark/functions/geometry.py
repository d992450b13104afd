"""WKT geometry expressions (distributed column ops, not driver loops).

The reference treats geometry as WKT text at every API boundary
(``datum/postgis/table.py:54-59,181``, ``datum/oracle_stgeom/table.py:202-208``)
and even *stores* it as text in DDL (``datum/postgis/database.py:83-88``).
This module reproduces its geometry post-processing as Spark column
expressions so they run executor-side instead of in a single-threaded
driver loop (the reference's per-row loops:
``datum/oracle_stgeom/table.py:289-297,307-313``):

- m-value scrub       (ref regexes at ``datum/oracle_stgeom/table.py:33-34``)
- Force2D / NaN scrub (ref ``datum/postgis/table.py:181-187`` — fixed per
  SURVEY §1.4#8: explicit, not substring-accident)
- MULTI cast          (ref ``datum/postgis/table.py:241-254``)
- EMPTY for null geom (ref ``datum/oracle_stgeom/table.py:320-322``)
- reprojection        (ref ``datum/oracle_stgeom/util.py:5-19`` — fixed per
  SURVEY §1.4#1: the reference's ``partial`` import bug made it dead code)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

try:  # pyproj is not in the runtime image; reprojection gates on it.
    import pyproj  # type: ignore

    _HAVE_PYPROJ = True
except ImportError:
    _HAVE_PYPROJ = False


def scrub_m_values(col: Column) -> Column:
    """Strip the measure dimension marker and QNAN m-values from WKT.

    Reference behavior: ``to_remove = [' M(?= )', ' 1.#QNAN000']`` applied
    per-row in the driver (``datum/oracle_stgeom/table.py:33-34,289-297``).
    Here: two JVM-side regexp_replace calls.
    """
    out = F.regexp_replace(col, r" M(?= )", "")
    return F.regexp_replace(out, r" 1\.#QNAN000", "")


def force_2d(col: Column) -> Column:
    """Drop NaN Z coordinates: ``x y NaN`` -> ``x y`` and strip Z markers.

    Reference intent (``datum/postgis/table.py:181-187``): 3-D/measured
    geometries whose Z is NaN are forced to 2-D before write.
    """
    out = F.regexp_replace(col, r"(?i)(-?\d+(?:\.\d+)?\s+-?\d+(?:\.\d+)?)\s+NaN", r"$1")
    return F.regexp_replace(out, r"\b(POINT|LINESTRING|POLYGON|MULTIPOINT|"
                                 r"MULTILINESTRING|MULTIPOLYGON)\s+Z\b", r"$1")


def wkt_geom_type(col: Column) -> Column:
    """Leading WKT token, e.g. ``MULTILINESTRING`` (upper-cased)."""
    return F.upper(F.regexp_extract(F.trim(col), r"^([A-Za-z]+)", 1))


def multi_cast(col: Column, target_geom_type: str) -> Column:
    """Promote single geometries to MULTI when the table type is MULTI*.

    Reference decision (``datum/postgis/table.py:241-254``): if the table's
    registered geometry type is MULTI but a row's WKT is single-part, wrap
    it (PostGIS used ``ST_Multi``).  On WKT text: ``POINT (1 2)`` ->
    ``MULTIPOINT ((1 2))``.
    """
    target = target_geom_type.upper()
    if not target.startswith("MULTI"):
        return col
    single = target[len("MULTI"):]
    is_single = wkt_geom_type(col) == F.lit(single)
    body = F.trim(F.regexp_replace(col, r"^\s*[A-Za-z]+\s*", ""))
    wrapped = F.concat(F.lit(target + " ("), body, F.lit(")"))
    return F.when(col.isNull(), col).when(is_single, wrapped).otherwise(col)


def empty_wkt(geom_type: str) -> str:
    """WKT EMPTY literal for null geometries on write
    (reference: ``datum/oracle_stgeom/table.py:320-322``)."""
    return f"{geom_type.upper()} EMPTY"


# ---------------------------------------------------------------------------
# Curve linearization — the reference wraps curve WKT in ST_CurveToLine
# before insert (datum/postgis/table.py:189-191: "Convert curve geometries
# (these aren't supported by PostGIS)"); a Parquet warehouse has no PostGIS
# to delegate to, so CIRCULARSTRING is chord-linearized here.

_MAX_SEG_ANGLE = 3.141592653589793 / 16  # ≤11.25° per chord ≈ ST_CurveToLine default


def _arc_points(p0, p1, p2, max_seg_angle=_MAX_SEG_ANGLE):
    """Points along the circular arc from p0 through p1 to p2 (inclusive).
    Collinear triples degenerate to the straight segment [p0, p2]."""
    import math

    (x0, y0), (x1, y1), (x2, y2) = p0, p1, p2
    d = 2.0 * (x0 * (y1 - y2) + x1 * (y2 - y0) + x2 * (y0 - y1))
    if abs(d) < 1e-12 * max(abs(x0), abs(y0), abs(x1), abs(y1), 1.0):
        return [p0, p2]
    ux = ((x0 * x0 + y0 * y0) * (y1 - y2) + (x1 * x1 + y1 * y1) * (y2 - y0)
          + (x2 * x2 + y2 * y2) * (y0 - y1)) / d
    uy = ((x0 * x0 + y0 * y0) * (x2 - x1) + (x1 * x1 + y1 * y1) * (x0 - x2)
          + (x2 * x2 + y2 * y2) * (x1 - x0)) / d
    r = math.hypot(x0 - ux, y0 - uy)
    a0 = math.atan2(y0 - uy, x0 - ux)
    a1 = math.atan2(y1 - uy, x1 - ux)
    a2 = math.atan2(y2 - uy, x2 - ux)
    two_pi = 2.0 * math.pi
    # sweep from a0 to a2 in the direction that passes through a1
    ccw1, ccw2 = (a1 - a0) % two_pi, (a2 - a0) % two_pi
    if ccw1 <= ccw2:            # counter-clockwise passes through p1
        sweep = ccw2 if ccw2 else two_pi
    else:                       # clockwise
        sweep = -((a0 - a2) % two_pi or two_pi)
    n = max(2, int(abs(sweep) / max_seg_angle) + 1)
    pts = [(ux + r * math.cos(a0 + sweep * i / n),
            uy + r * math.sin(a0 + sweep * i / n)) for i in range(1, n)]
    return [p0] + pts + [p2]


def linearize_circularstring(wkt: str,
                             max_seg_angle: float = _MAX_SEG_ANGLE) -> str:
    """``CIRCULARSTRING (...)`` → chord-approximated ``LINESTRING (...)``
    (arcs defined by consecutive point triples, SQL/MM semantics)."""
    body = wkt.strip()[len("CIRCULARSTRING"):].strip()
    if body.upper() == "EMPTY":
        return "LINESTRING EMPTY"
    inner = body[body.index("(") + 1: body.rindex(")")]
    pts = [tuple(float(v) for v in p.split()[:2])
           for p in inner.split(",") if p.strip()]
    if len(pts) < 3 or len(pts) % 2 == 0:
        raise ValueError(f"invalid CIRCULARSTRING ({len(pts)} points); "
                         "need an odd count >= 3")
    out = [pts[0]]
    for i in range(0, len(pts) - 2, 2):
        out.extend(_arc_points(pts[i], pts[i + 1], pts[i + 2],
                               max_seg_angle)[1:])
    coords = ", ".join(f"{_num(x)} {_num(y)}" for x, y in out)
    return f"LINESTRING ({coords})"


def is_curve_wkt(wkt: str) -> bool:
    """Whether :func:`curve_to_line` acts on this WKT (linearizes or
    rejects it): a CIRCULARSTRING or any ``*CURVE*`` type."""
    head = wkt.lstrip()[:16].upper()
    return head.startswith("CIRCULARSTRING") or "CURVE" in head


def curve_to_line(col: Column) -> Column:
    """ST_CurveToLine analog over a WKT column: CIRCULARSTRING is
    chord-linearized; COMPOUNDCURVE / CURVEPOLYGON / MULTICURVE raise a
    clear error (no silent write of WKT a reader can't parse); everything
    else passes through unchanged.

    Arrow-batched pandas UDF (string parse + trig is not expressible as
    JVM column ops) — the cost is one Arrow round-trip of the geometry
    column on write, vs the reference's per-row DRIVER loop for the same
    normalization family.
    """
    @F.pandas_udf("string")
    def _f(s: pd.Series) -> pd.Series:
        def one(w):
            if w is None or not is_curve_wkt(w):
                return w
            head = w.lstrip()[:16].upper()
            if head.startswith("CIRCULARSTRING"):
                return linearize_circularstring(w)
            raise NotImplementedError(
                f"curve geometry {head.split()[0].split('(')[0]} is not "
                "supported on write: only CIRCULARSTRING is "
                "linearized (reference delegated to PostGIS "
                "ST_CurveToLine, datum/postgis/table.py:189-191)")
        return s.map(one)
    return _f(col)


# ---------------------------------------------------------------------------
# Reprojection — vectorized executor-side, replacing the reference's
# single-threaded driver loop (datum/oracle_stgeom/table.py:307-313).

_COORD_RE = r"(-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)\s+(-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)"


def reproject_wkt(col: Column, from_srid: int, to_srid: int) -> Column:
    """Reproject every coordinate pair of a WKT column.

    Implemented as an Arrow-batched pandas UDF wrapping a coordinate
    transform (built once per executor, reused across batches).  Transform
    resolution order:

    1. ``pyproj`` (any SRID pair) when installed;
    2. the built-in LCC math in :mod:`.projection` for datum's SRIDs of
       record (2272 ↔ 4326) — no external deps;
    3. otherwise ``NotImplementedError`` at plan-build time.
    """
    if from_srid == to_srid:
        return col
    if _HAVE_PYPROJ:
        def make_fn():
            transformer = pyproj.Transformer.from_crs(
                f"EPSG:{from_srid}", f"EPSG:{to_srid}", always_xy=True
            )
            return transformer.transform

        return _reproject_with(col, make_fn)

    from .projection import builtin_transform

    if builtin_transform(from_srid, to_srid) is not None:
        def make_builtin():
            return builtin_transform(from_srid, to_srid)

        return _reproject_with(col, make_builtin)
    raise NotImplementedError(
        f"no transform for EPSG:{from_srid} -> EPSG:{to_srid}: pyproj is "
        "not installed and the pair is outside the built-in projections "
        "(LCC state-plane zones, UTM, Web Mercator, composed via 4326); "
        "use _reproject_with(col, fn) with a custom coordinate fn"
    )


def _reproject_with(col: Column, make_fn) -> Column:
    """Shared plumbing: apply ``fn(x, y) -> (x', y')`` to every WKT coord
    pair, vectorized via a pandas UDF.  ``make_fn`` is called once per
    executor process so per-batch setup cost is amortized.
    """
    import re as _re

    from pyspark.sql.functions import pandas_udf

    coord_re = _re.compile(_COORD_RE)

    @pandas_udf("string")
    def _reproject(s: pd.Series) -> pd.Series:
        fn = make_fn()

        def one(wkt):
            if wkt is None:
                return None

            def repl(m):
                x, y = fn(float(m.group(1)), float(m.group(2)))
                return f"{x:.8f} {y:.8f}"

            return coord_re.sub(repl, wkt)

        return s.map(one)

    return _reproject(col)


# ---------------------------------------------------------------------------
# Vertex-reduction ops (round 7): ST_Simplify / ST_ConvexHull.
#
# The reference's PostGIS users call these for export/preview payloads
# (shrink a parcel boundary before shipping GeoJSON).  Per-geometry
# map functions → Arrow-batched pandas UDFs with NumPy inside, the same
# posture as reprojection above: embarrassingly parallel, no shuffle.


def _parse_rings(wkt: str):
    """[(ring_coords_text, [(x, y), ...]), ...] for every parenthesized
    ring of ``wkt`` (innermost parens), plus the header text."""
    import re as _re

    rings = _re.findall(r"\(([^()]+)\)", wkt)
    out = []
    for body in rings:
        pts = [(float(a), float(b))
               for a, b in _re.findall(_COORD_RE, body)]
        out.append((body, pts))
    return out


def _num(x: float) -> str:
    """Round-trip decimal text for a coordinate: shortest repr that
    parses back to the exact same float, positional notation always
    (WKT consumers don't all accept ``1.23e+06``), integral values
    without the trailing ``.0``.  Fixes the round-7 ``{x:g}`` bug: 6
    significant digits collapsed distinct vertices (~46 m error at
    lon/lat precision) and emitted scientific notation for state-plane
    coordinates — ST_Simplify/ST_ConvexHull must never move a KEPT
    vertex."""
    s = repr(float(x))
    if "e" in s or "E" in s:
        from decimal import Decimal

        s = format(Decimal(s), "f")
    if s.endswith(".0"):
        s = s[:-2]
    return s


def _fmt(pts) -> str:
    return ", ".join(f"{_num(x)} {_num(y)}" for x, y in pts)


def _dp_simplify(pts, tol: float):
    """Douglas–Peucker with an explicit stack (no recursion limits).
    Keeps first/last; a CLOSED ring keeps its closure."""
    import numpy as np

    if len(pts) < 3:
        return pts
    closed = pts[0] == pts[-1]
    core = pts[:-1] if closed else pts
    if len(core) < 3:
        return pts
    arr = np.asarray(core, dtype="float64")
    keep = np.zeros(len(arr), dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, len(arr) - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        seg = arr[j] - arr[i]
        rel = arr[i + 1:j] - arr[i]
        norm = float(np.hypot(*seg))
        if norm == 0.0:                      # degenerate segment
            d = np.hypot(rel[:, 0], rel[:, 1])
        else:
            d = np.abs(seg[0] * rel[:, 1] - seg[1] * rel[:, 0]) / norm
        k = int(np.argmax(d))
        if d[k] > tol:
            m = i + 1 + k
            keep[m] = True
            stack.append((i, m))
            stack.append((m, j))
    out = [tuple(p) for p in arr[keep]]
    if closed:
        # a ring must stay a ring: at least a triangle + closure
        if len(out) < 3:
            return pts
        out = out + [out[0]]
    return out


def _simplify_one(wkt, tol: float):
    """Per-geometry ST_Simplify core (shared by the Column API and the
    SQL-gateway registration)."""
    import re as _re

    if wkt is None or "EMPTY" in wkt.upper():
        return wkt
    head = wkt.strip().split("(", 1)[0].strip().upper()
    if head in ("POINT", "MULTIPOINT"):
        return wkt

    def repl(m):
        pts = [(float(a), float(b))
               for a, b in _re.findall(_COORD_RE, m.group(1))]
        return "(" + _fmt(_dp_simplify(pts, tol)) + ")"

    return _re.sub(r"\(([^()]+)\)", repl, wkt)


def _hull_one(wkt):
    """Per-geometry ST_ConvexHull core (monotone chain, CCW)."""
    def cross(o, a, b):
        return ((a[0] - o[0]) * (b[1] - o[1])
                - (a[1] - o[1]) * (b[0] - o[0]))

    if wkt is None or "EMPTY" in wkt.upper():
        return wkt
    pts = sorted({p for _, ring in _parse_rings(wkt) for p in ring})
    if not pts:
        return None
    if len(pts) == 1:
        return f"POINT ({_fmt(pts)})"
    lower: list = []
    for p in pts:
        while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
            lower.pop()
        lower.append(p)
    upper: list = []
    for p in reversed(pts):
        while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
            upper.pop()
        upper.append(p)
    hull = lower[:-1] + upper[:-1]
    if len(hull) < 3:                        # collinear input
        return f"LINESTRING ({_fmt([pts[0], pts[-1]])})"
    return f"POLYGON (({_fmt(hull + [hull[0]])}))"


def simplify_wkt(col: Column, tolerance: float) -> Column:
    """ST_Simplify: Douglas-Peucker each ring of each geometry to
    ``tolerance`` (same planar unit as the coordinates).  Ring
    endpoints are preserved; a closed ring that would collapse below a
    triangle is returned unsimplified (the conservative choice for
    parcel exports).  POINT/MULTIPOINT pass through untouched.
    Arrow-batched pandas UDF — map-only, no shuffle."""
    from pyspark.sql.functions import pandas_udf

    tol = float(tolerance)

    @pandas_udf("string")
    def _simplify(s: pd.Series) -> pd.Series:
        return s.map(lambda w: _simplify_one(w, tol))

    return _simplify(col)


def convex_hull_wkt(col: Column) -> Column:
    """ST_ConvexHull: monotone-chain hull over ALL vertices of the
    geometry, as POLYGON WKT (CCW, closed).  Degenerate inputs follow
    PostGIS: a single point -> POINT, collinear sets -> LINESTRING."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _hull(s: pd.Series) -> pd.Series:
        return s.map(_hull_one)

    return _hull(col)


def _transform_one(wkt, from_srid: int, to_srid: int, cache: dict):
    """Per-geometry ST_Transform core: reproject every coordinate pair.
    ``cache`` memoizes the (from, to) -> fn resolution per batch."""
    import re as _re

    if wkt is None or from_srid == to_srid:
        return wkt
    key = (int(from_srid), int(to_srid))
    fn = cache.get(key)
    if fn is None:
        if _HAVE_PYPROJ:
            fn = pyproj.Transformer.from_crs(
                f"EPSG:{key[0]}", f"EPSG:{key[1]}",
                always_xy=True).transform
        else:
            from .projection import builtin_transform

            fn = builtin_transform(*key)
        if fn is None:
            raise NotImplementedError(
                f"no transform for EPSG:{key[0]} -> EPSG:{key[1]} "
                "(pyproj not installed; pair outside the built-in "
                "LCC/TM/UTM/WebMercator projections)")
        cache[key] = fn

    def repl(m):
        x, y = fn(float(m.group(1)), float(m.group(2)))
        return f"{x:.8f} {y:.8f}"

    return _re.sub(_COORD_RE, repl, wkt)


def _snaptogrid_one(wkt, size: float):
    """ST_SnapToGrid: every coordinate rounded to the nearest multiple
    of ``size`` (origin 0,0).  Structure-preserving text rewrite; the
    round-trip ``repr`` formatting keeps kept precision exact.  Snapped
    geometry may degenerate (PostGIS keeps duplicates too — follow with
    st_makevalid for strict OGC output)."""
    import re as _re

    if wkt is None or size is None or size <= 0:
        return wkt

    from .clipping import _fmt_num

    def repl(m):
        x = round(float(m.group(1)) / size) * size
        y = round(float(m.group(2)) / size) * size
        return f"{_fmt_num(x)} {_fmt_num(y)}"

    return _re.sub(_COORD_RE, repl, wkt)


# every name register_vertex_ops registers (it calls register_overlay_ops)
VECTOR_OPS = frozenset({
    "st_simplify", "st_convexhull", "st_transform", "st_snaptogrid",
    "st_intersection", "st_union", "st_difference", "st_symdifference",
    "st_buffer", "st_isvalid", "st_isvalidreason", "st_makevalid"})


def register_vertex_ops(spark) -> None:
    """Register st_simplify(wkt, tol) / st_convexhull(wkt) /
    st_transform(wkt, from_srid, to_srid) as SQL functions
    (pandas-UDF-backed — the only gateway ST_* that leave the JVM:
    vertex reduction needs a stack, reprojection needs trig; still
    Arrow-batched, never per-row Python).  st_transform covers the
    reference's ``ST_Transform`` splices in ``where=``/``execute``
    (``datum/postgis/table.py:54-59``), same math as ``read(to_srid=)``."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _st_simplify(wkt: pd.Series, tol: pd.Series) -> pd.Series:
        return pd.Series([_simplify_one(w, float(t))
                          for w, t in zip(wkt, tol)])

    @pandas_udf("string")
    def _st_convexhull(wkt: pd.Series) -> pd.Series:
        return wkt.map(_hull_one)

    @pandas_udf("string")
    def _st_transform(wkt: pd.Series, from_srid: pd.Series,
                      to_srid: pd.Series) -> pd.Series:
        cache: dict = {}
        return pd.Series([_transform_one(w, f, t, cache)
                          for w, f, t in zip(wkt, from_srid, to_srid)])

    @pandas_udf("string")
    def _st_snaptogrid(wkt: pd.Series, size: pd.Series) -> pd.Series:
        return pd.Series([_snaptogrid_one(w, float(s))
                          if s is not None else None
                          for w, s in zip(wkt, size)])

    spark.udf.register("st_simplify", _st_simplify)
    spark.udf.register("st_convexhull", _st_convexhull)
    spark.udf.register("st_transform", _st_transform)
    spark.udf.register("st_snaptogrid", _st_snaptogrid)
    register_overlay_ops(spark)


def register_overlay_ops(spark) -> None:
    """Register the constructive geometry pack: st_intersection /
    st_union / st_difference / st_symdifference / st_buffer — the last
    PostGIS-delegation surface the reference's spatial-ETL users splice
    into ``where=``/``create_view`` SQL
    (``datum/postgis/table.py:157-158``, ``database.py:108-111``).

    Backed by the Martinez–Rueda sweep in :mod:`.clipping` as
    Arrow-batched pandas UDFs: per-geometry compute, embarrassingly
    parallel, zero shuffle — the same posture as st_simplify.  Polygon
    overlay output is POLYGON/MULTIPOLYGON WKT ('POLYGON EMPTY' when
    empty); st_buffer takes points/lines/polygons (negative distance =
    polygon erosion) with PostGIS's default 8 quad segments."""
    from pyspark.sql.functions import pandas_udf

    from .clipping import buffer_wkt, overlay_wkt

    def _make(op):
        @pandas_udf("string")
        def _f(a: pd.Series, b: pd.Series) -> pd.Series:
            return pd.Series([overlay_wkt(x, y, op)
                              for x, y in zip(a, b)])
        return _f

    @pandas_udf("string")
    def _st_buffer(w: pd.Series, d: pd.Series) -> pd.Series:
        return pd.Series([buffer_wkt(x, float(r)) if r is not None else None
                          for x, r in zip(w, d)])

    from .clipping import is_valid_wkt, make_valid_wkt

    @pandas_udf("boolean")
    def _st_isvalid(w: pd.Series) -> pd.Series:
        return pd.Series([is_valid_wkt(x)[0] for x in w], dtype="object")

    @pandas_udf("string")
    def _st_isvalidreason(w: pd.Series) -> pd.Series:
        return pd.Series(["Valid Geometry" if ok else reason
                          for ok, reason in (is_valid_wkt(x) for x in w)])

    @pandas_udf("string")
    def _st_makevalid(w: pd.Series) -> pd.Series:
        return w.map(make_valid_wkt, na_action="ignore")

    spark.udf.register("st_intersection", _make("intersection"))
    spark.udf.register("st_union", _make("union"))
    spark.udf.register("st_difference", _make("difference"))
    spark.udf.register("st_symdifference", _make("symdifference"))
    spark.udf.register("st_buffer", _st_buffer)
    spark.udf.register("st_isvalid", _st_isvalid)
    spark.udf.register("st_isvalidreason", _st_isvalidreason)
    spark.udf.register("st_makevalid", _st_makevalid)
