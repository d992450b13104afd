"""On-demand registration of the ST_*/text SQL pack.

The gateway (``where=``, ``execute``/``sql``, views) registers only the
pack functions a statement calls, plus the helpers their bodies call.
Each test runs on ``spark.newSession()``, whose temporary functions are
isolated: the session-scoped ``spark`` already holds the whole pack and
would hide a missing helper.
"""

import datum_spark
from datum_spark.functions.geometry_sql import (
    _FUNCTIONS, _calls, _registered, register_geometry_sql_functions)

_PTS = [{"nm": "a", "shape": "POINT (0 0)"},
        {"nm": "b", "shape": "POINT (3 4)"},
        {"nm": "c", "shape": "POINT (6 0)"},
        {"nm": "d", "shape": "LINESTRING (2 2, 9 9)"}]


def _user_functions(session) -> set[str]:
    return {r[0].split(".")[-1].lower()
            for r in session.sql("SHOW USER FUNCTIONS").collect()}


def _points_db(session, path):
    db = datum_spark.connect(str(path), spark=session)
    db.create_table("pts", [{"name": "nm", "type": "text"},
                            {"name": "shape", "type": "geom"}])
    db["pts"].write(_PTS)
    return db


def test_bodies_call_only_earlier_pack_names():
    """Registration follows ``_FUNCTIONS`` order, so every pack name a
    body calls must be defined before it (and must exist)."""
    seen: set[str] = set()
    for name, (_sig, _ret, body) in _FUNCTIONS.items():
        called = {n for n in _calls(body) if n.startswith("st_")} - {name}
        assert called <= seen, (name, called - seen)
        seen.add(name)


def test_call_scan_matches_names_before_paren():
    assert _calls("SELECT ST_X (g), st__pip(a, b, c), Normalize_Text(t),"
                  " token_count(t), st_y AS y FROM v") == {
        "st_x", "st__pip", "normalize_text", "token_count"}


def test_plain_statements_register_nothing(spark, smoke_db):
    s = spark.newSession()
    db = datum_spark.connect(smoke_db.url, spark=s)
    assert db["orders"].read(fields=["o_orderkey"], where="o_orderkey < 10",
                             sort="o_orderkey", limit=3)
    assert db.execute("SELECT COUNT(*) AS n FROM orders "
                      "WHERE o_orderkey < 10")[0]["n"] > 0
    assert _user_functions(s) == set()
    assert _registered(s) == set()


def test_where_registers_exactly_its_closure(spark, tmp_path):
    where = "ST_DWithin(shape, 'POINT (0 0)', 5.0)"
    register_geometry_sql_functions(spark)
    want = sorted(r["nm"] for r in _points_db(spark, tmp_path / "full")
                  ["pts"].read(fields=["nm"], where=where))
    assert want == ["a", "b", "d"]

    s = spark.newSession()
    got = sorted(r["nm"] for r in _points_db(s, tmp_path / "fresh")
                 ["pts"].read(fields=["nm"], where=where))
    assert got == want
    closure = {"st_dwithin", "st_distance", "st_geometrytype",
               "st_intersects"}
    assert _registered(s) == closure
    assert _user_functions(s) == closure


def test_execute_registers_helpers_and_text_pack(spark, tmp_path):
    stmt = ("SELECT nm, ST_Touches(shape, 'POINT (9 9)') AS t, "
            "st_x(st_centroid(shape)) AS cx, "
            "normalize_text(concat(nm, '  x ')) AS n, "
            "token_count(concat(nm, ' y z')) AS tc FROM pts ORDER BY nm")
    register_geometry_sql_functions(spark)
    want = _points_db(spark, tmp_path / "full").execute(stmt)

    s = spark.newSession()
    got = _points_db(s, tmp_path / "fresh").execute(stmt)
    assert got == want
    assert [r["t"] for r in got] == [False, False, False, True]
    assert [r["cx"] for r in got][:3] == [0.0, 3.0, 6.0]
    assert got[0]["n"] == "a x" and got[0]["tc"] == 3
    assert {"st_touches", "st_x", "st_centroid", "normalize_text",
            "token_count"} <= _registered(s)
    assert _registered(s) == _user_functions(s)


def test_persisted_view_registers_on_restore(spark, tmp_path):
    db = _points_db(spark, tmp_path)
    db.create_view("ys", "SELECT nm, ST_Y(shape) AS y FROM pts "
                         "WHERE nm < 'd'")
    db.close()

    s = spark.newSession()
    fresh = datum_spark.connect(str(tmp_path), spark=s)
    assert fresh.execute("SELECT nm, y FROM ys ORDER BY nm") == [
        {"nm": "a", "y": 0.0}, {"nm": "b", "y": 4.0}, {"nm": "c", "y": 0.0}]
    assert _registered(s) == {"st_y"}


def test_register_geometry_sql_functions_registers_whole_pack(spark):
    from datum_spark.functions.geometry import VECTOR_OPS

    s = spark.newSession()
    register_geometry_sql_functions(s)
    want = set(_FUNCTIONS) | VECTOR_OPS
    assert _registered(s) == want
    assert _user_functions(s) == want
    # raw Spark SQL sees the pack once registered
    row = s.sql("SELECT st_x('POINT (1 2)') AS x, st_npoints(st_simplify("
                "'LINESTRING (0 0, 1 0.001, 2 0)', 0.1)) AS n").collect()[0]
    assert (row["x"], row["n"]) == (1.0, 2)

