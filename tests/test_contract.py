"""Driver-contract hygiene: properties of queries()/oracle_sql() that the
diff harness silently depends on."""

import re

import __spark_entry__ as entry


def test_every_oracle_has_a_query():
    qs, os_ = entry.queries(), entry.oracle_sql()
    assert set(os_) <= set(qs), set(os_) - set(qs)


def test_oracle_sql_has_no_line_comments():
    # the harness collapses whitespace (" ".join(sql.split())), so a `--`
    # comment would swallow the rest of the statement
    for name, sql in entry.oracle_sql().items():
        assert "--" not in sql, f"{name}: line comment would break collapse"


def test_query_names_are_well_formed():
    for name in entry.queries():
        assert re.fullmatch(r"[qx]\d{2,3}_[a-z0-9_]+", name), name


def test_all_callables():
    assert all(callable(fn) for fn in entry.queries().values())


def test_public_exports_resolve():
    """Every name a package exports is an attribute of it, so deleting an
    operator cannot leave a stale ``__all__`` entry behind."""
    import datum_spark.functions
    import datum_spark.operators

    for pkg in (datum_spark.operators, datum_spark.functions):
        missing = [n for n in pkg.__all__ if not hasattr(pkg, n)]
        assert not missing, (pkg.__name__, missing)


def test_bench_stdout_line_fits_driver_tail():
    """The driver parses the LAST ~2000 chars of bench stdout; the line
    must fit whole at any query count, never eliding error entries."""
    import json as _json
    import sys as _sys

    _sys.path.insert(0, ".")
    from bench import MAX_LINE, build_stdout_line

    # current real query set
    short = {k.split("_", 1)[0]: 0.25 for k in entry.queries()}
    line = build_stdout_line(short, 99.9, 0.1, 1.0, 2.0, 1)
    assert len(line) <= MAX_LINE
    assert _json.loads(line)["metric"] == "t2_suite_seconds"

    # pathological: 400 queries incl. an error — line still fits, error kept
    big = {f"x{i}": float(i % 7) + 0.1 for i in range(400)}
    big["x399"] = -1.0
    line = build_stdout_line(big, 99.9, 0.1, 1.0, 2.0, 1)
    assert len(line) <= MAX_LINE
    parsed = _json.loads(line)
    assert parsed["queries"]["x399"] == -1.0
    assert parsed["queries_elided"] == 400 - len(parsed["queries"])
    # elided set is exactly the fastest tail
    kept_min = min(v for v in parsed["queries"].values() if v >= 0)
    dropped = [v for k, v in big.items()
               if k not in parsed["queries"] and v >= 0]
    assert all(v <= kept_min for v in dropped)

    # all-error pathological case: elision must STOP at error entries even
    # if the line stays oversized, rather than popping them too
    errs = {f"averyveryverylongquerynamethatpadstheline{i:04d}": -1.0
            for i in range(400)}
    line = build_stdout_line(errs, 99.9, 0.1, 1.0, 2.0, 1)
    parsed = _json.loads(line)
    assert all(v == -1.0 for v in parsed["queries"].values())
    assert len(parsed["queries"]) == 400   # every error entry survived
