"""The benchmark's workloads: what each operation calls, and how its output
is checked.

A workload is a list of operations making up one pass.  ``run.py`` runs a
warm-up pass, then timed passes, each in a seed-shuffled order, with one
client in a closed loop.  Every operation takes the tracer (``None`` in an
untraced run): untraced it makes the user's call; traced it makes the same
call split at the layer boundaries the program itself crosses (for example
``Table.query`` then ``.collect()`` in place of ``Table.read``).  ``check``
returns ``None`` when the output is right and a message otherwise.
"""

from __future__ import annotations

import contextlib
import importlib.util
import itertools
import os
import random
import shutil
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any, Callable

import pyarrow.parquet as pq

import datagen

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Scale factor per workload.  Every run pays a JVM start and a cold
# warm-up, so the scales keep one run, warm-up included, near a minute on
# a 4-core machine; at sf0.01 each query is bound by per-job overhead.
QUERY_SF = 0.01
PIPELINE_SF = 0.01
CRUD_SF = 0.1
EVAL_DOCS = 100

# Nominal length of one timed pass on a 4-core machine.  A run times
# ``--seconds / pass_s`` passes (at least one), a count that depends on
# the argument alone, so a faster program measures the same work.
QUERY_PASS_S = 18.0
CRUD_PASS_S = 6.0


def _load_normalize():
    """``normalize`` from the repo's differential runner, imported by path
    so a ``tests`` package elsewhere on ``sys.path`` cannot shadow it."""
    path = os.path.join(_ROOT, "tests", "diff_runner.py")
    spec = importlib.util.spec_from_file_location("_diff_runner", path)
    if spec is None or not os.path.exists(path):
        raise ImportError(f"missing {path}")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.normalize


normalize = _load_normalize()


@dataclass
class Op:
    kind: str                                # e.g. "q10_star_join", "read"
    run: Callable[[Any], Any]                # tracer or None -> result
    check: Callable[[Any], str | None]       # result -> None or a mismatch
    group: str = "other"                     # "read", "write" or "other"
    clear_caches: bool = False
    user_bytes: int = 0                      # bytes of row values written
    docs: int = 0                            # documents a pipeline run reads


@dataclass
class Workload:
    pass_ops: Callable[[], list[Op]]   # the operations of one fresh pass
    pass_s: float                       # nominal length of one pass
    crud: "Crud | None" = None          # datum_crud's warehouse and model
    pipeline: "Pipeline | None" = None  # query_mix's corpus pipeline


@dataclass
class Context:
    spark: Any
    seed: int
    workdir: str
    data_dir: str = field(init=False)

    def __post_init__(self):
        self.data_dir = os.path.join(self.workdir, "data")


def _span(tr, name: str):
    return tr.span(name) if tr is not None else contextlib.nullcontext()


def _duckdb(data_dir: str) -> Any:
    import duckdb

    con = duckdb.connect()
    for t in datagen.TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _oracle_check(oracles, name: str):
    def check(result):
        cols, rows = result
        got = normalize(cols, [tuple(r) for r in rows])
        expected = oracles.result()[name]
        if got[0] != expected[0]:
            return f"columns {got[0]} != {expected[0]}"
        if got[1] != expected[1]:
            return f"{len(got[1])} rows differ from the oracle's " \
                   f"{len(expected[1])}"
        return None
    return check


# ---------------------------------------------------------------------------
# query_mix: oracle-bearing entries of ``__spark_entry__``

# oracle-bearing embedding entries: similarity search (x06, x08) and
# k-means with its driver-side Lloyd finish (x108)
VECTOR_ENTRIES = ["x06_embedding_dups", "x08_cosine_topk",
                  "x108_kmeans_verified"]


def _oracles(data_dir: str, sql: dict[str, str]) -> dict:
    con = _duckdb(data_dir)
    try:
        out = {}
        for name, text in sql.items():
            res = con.execute(text)
            out[name] = normalize([d[0] for d in res.description],
                                  res.fetchall())
        return out
    finally:
        con.close()


def _entry_ops(ctx: Context, layers: dict[str, str]) -> list[Op]:
    """One op per ``__spark_entry__`` entry (name -> layer of its plan
    function), checked against its DuckDB oracle.  The oracles run once,
    on a thread of their own, while Spark warms up."""
    import __spark_entry__ as entry

    plans, oracles = entry.queries(), entry.oracle_sql()
    pool = ThreadPoolExecutor(1)
    expected = pool.submit(_oracles, ctx.data_dir,
                           {n: oracles[n] for n in layers})
    pool.shutdown(wait=False)
    ops = []
    for name, layer in layers.items():
        def run(tr, fn=plans[name], layer=layer):
            with _span(tr, layer + ".plan"):
                df = fn(ctx.spark, ctx.data_dir)
            with _span(tr, "driver.collect"):
                rows = df.collect()
            return df.columns, rows

        ops.append(Op(name, run, _oracle_check(expected, name),
                      group="read", clear_caches=True))
    return ops


class Pipeline:
    """``build_training_corpus`` over the generated documents: 8 shards,
    with an eval split of ``EVAL_DOCS`` documents drawn from the seed
    held out of the corpus and used for decontamination."""

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.docs_dir = os.path.join(ctx.workdir, "pipeline")
        n = datagen.generate(self.docs_dir, ctx.seed, PIPELINE_SF,
                             ("documents",))["documents"]
        self.eval_ids = sorted(random.Random(ctx.seed).sample(range(n),
                                                              EVAL_DOCS))
        self.corpus_docs = n - EVAL_DOCS
        self.runs = itertools.count()
        self.reports: list[dict] = []

    def op(self) -> Op:
        from pyspark.sql import functions as F

        from datum_spark.pipelines import build_training_corpus
        from datum_spark.tierb import load

        out = os.path.join(self.ctx.workdir, f"shards-{next(self.runs)}")

        def run(tr):
            with _span(tr, "pipelines.build_training_corpus"):
                docs = load(self.ctx.spark, self.docs_dir, "documents")
                is_eval = F.col("doc_id").isin(self.eval_ids)
                _, report = build_training_corpus(
                    docs.filter(~is_eval), docs.filter(is_eval), out,
                    n_shards=8, contamination_ngram=5)
            return report

        return Op("pipeline", run, lambda report: self.check(out, report),
                  clear_caches=True, docs=self.corpus_docs)

    def check(self, out: str, report: dict) -> str | None:
        """Read the shards back: their rows and tokens must equal the
        report's, every ``doc_id`` must be unique and none may be an eval
        document.  The pipeline is deterministic, so every run's report
        must equal the first."""
        try:
            shards = pq.read_table(out).to_pydict()
        finally:
            shutil.rmtree(out, ignore_errors=True)
        ids = shards["doc_id"]
        if len(ids) != report["rows"] or report["rows"] != \
                report["rows_mixed"]:
            return (f"{len(ids)} rows on disk, report says {report['rows']}"
                    f" written and {report['rows_mixed']} mixed")
        if sum(shards["__n_tokens"]) != report["tokens"]:
            return f"tokens on disk differ from the report's " \
                   f"{report['tokens']}"
        if len(set(ids)) != len(ids):
            return "a doc_id appears twice in the shards"
        if set(ids) & set(self.eval_ids):
            return "an eval document reached the shards"
        if len(set(shards["shard"])) < 2:
            return "the corpus went to a single shard"
        self.reports.append(report)
        if report != self.reports[0]:
            return f"report {report} differs from the first {self.reports[0]}"
        return None


def query_mix(ctx: Context) -> Workload:
    """q01-q32, three embedding entries and one corpus pipeline run."""
    import __spark_entry__ as entry

    datagen.generate(ctx.data_dir, ctx.seed, QUERY_SF)
    layers = {n: "tierb" for n in sorted(entry.oracle_sql()) if n[0] == "q"}
    layers.update((n, "extensions") for n in VECTOR_ENTRIES)
    ops = _entry_ops(ctx, layers)
    pipeline = Pipeline(ctx)
    return Workload(lambda: ops + [pipeline.op()], pass_s=QUERY_PASS_S,
                    pipeline=pipeline)


# ---------------------------------------------------------------------------
# datum_crud: the datum API against a temporary file:// warehouse

LINEITEM_FIELDS = ["l_orderkey", "l_linenumber", "l_quantity",
                   "l_extendedprice", "l_discount", "l_returnflag"]
_WRITTEN_KEY = 1_000_000_000        # l_orderkey of rows the run appends
_PHL = (-75.6, -74.6, 39.6, 40.4)   # lon/lat box around the 2272 extent


def _value_bytes(row: dict) -> int:
    """Bytes of a row's values as the user supplied them: 8 per number,
    the UTF-8 length of each string."""
    return sum(len(v.encode()) if isinstance(v, str) else 8
               for v in row.values() if v is not None)


class Crud:
    """State shared by the datum_crud operations: the warehouse, the
    shadow model of every written row, and the DuckDB oracle."""

    def __init__(self, ctx: Context):
        import duckdb

        import datum_spark

        self.ctx = ctx
        self.rng = random.Random(ctx.seed)
        self.wh = os.path.join(ctx.workdir, "warehouse")
        li_dir = os.path.join(self.wh, "lineitem.parquet")
        counts = datagen.generate(li_dir, ctx.seed, CRUD_SF, ("lineitem",))
        self.base_rows = counts["lineitem"]
        # eight numbers and a timestamp, 8 bytes each, two one-letter flags
        self.base_bytes = self.base_rows * (9 * 8 + 2)
        self.db = datum_spark.connect("file://" + self.wh, spark=ctx.spark)
        self.db.create_table("facilities", [
            {"name": "name", "type": "text"},
            {"name": "kind", "type": "text"},
            {"name": "budget", "type": "num"},
            {"name": "shape", "type": "geom"}])
        fac = self.db.table("facilities")
        fac._store_props({**fac._props, "geom_type": "POINT", "srid": 2272})
        self.lineitem = self.db.table("lineitem")
        self.facilities = self.db.table("facilities")
        self.appended: list[dict] = []
        self.lines_drawn = 0
        self.points: dict[int, dict] = {}
        self.next_id = 1
        self.views = 0
        seed_rows = [self._point(self._new_id()) for _ in range(500)]
        self.facilities.write(seed_rows)
        self.points.update((r["id"], r) for r in seed_rows)
        self.duck = duckdb.connect()

    # -- row generators ---------------------------------------------------

    def _new_id(self) -> int:
        self.next_id += 1
        return self.next_id - 1

    def _point(self, pid: int) -> dict:
        r = self.rng
        return {"id": pid, "name": f"facility {pid}-{r.randrange(1000)}",
                "kind": r.choice(["library", "pool", "school", "station"]),
                "budget": round(r.uniform(1e4, 1e6), 2),
                "shape": f"POINT ({r.uniform(2.66e6, 2.75e6):.2f} "
                         f"{r.uniform(2.05e5, 3.10e5):.2f})"}

    def _line(self) -> dict:
        r = self.rng
        self.lines_drawn += 1
        return {"l_orderkey": _WRITTEN_KEY + self.lines_drawn,
                "l_partkey": r.randrange(20_000),
                "l_suppkey": r.randrange(1000),
                "l_linenumber": r.randint(1, 7),
                "l_quantity": float(r.randint(1, 50)),
                "l_extendedprice": round(r.uniform(900, 105_000), 2),
                "l_discount": r.randint(0, 10) / 100,
                "l_tax": r.randint(0, 8) / 100,
                "l_returnflag": r.choice("ANR"),
                "l_linestatus": r.choice("FO"),
                "l_shipdate": None}

    # -- oracle -----------------------------------------------------------

    def _duck(self, sql: str):
        scan = os.path.join(self.wh, "lineitem.parquet", "**", "*.parquet")
        res = self.duck.execute(
            sql.replace("lineitem", f"read_parquet('{scan}')"))
        return [d[0] for d in res.description], res.fetchall()

    def _matches_duck(self, sql: str, rows: list[dict], cols) -> str | None:
        want = normalize(*self._duck(sql))
        got = normalize(cols, [tuple(r[c] for c in cols) for r in rows])
        return None if got == want else f"differs from DuckDB for: {sql}"

    # -- operations -------------------------------------------------------

    def _read(self, table, tr, **kw) -> list[dict]:
        if tr is None:
            return table.read(**kw)
        with tr.span("table.query"):
            df = table.query(**kw)
        with tr.span("driver.collect"):
            return [row.asDict() for row in df.collect()]

    def read_lineitem(self) -> Op:
        r = self.rng
        lo = r.randint(1, 40)
        where = (f"l_quantity BETWEEN {lo} AND {lo + r.randint(2, 10)} "
                 f"AND l_returnflag = '{r.choice('ANR')}' "
                 f"AND l_discount <= {r.randint(2, 10) / 100}")
        first = r.choice(["l_extendedprice DESC", "l_quantity", "l_orderkey",
                          "l_discount DESC"])
        rest = [f for f in LINEITEM_FIELDS if f != first.split()[0]]
        sort = [first] + rest
        sql = (f"SELECT {', '.join(LINEITEM_FIELDS)} FROM lineitem "
               f"WHERE {where} ORDER BY {', '.join(sort)} LIMIT 500")

        def run(tr):
            return self._read(self.lineitem, tr, fields=LINEITEM_FIELDS,
                              where=where, sort=sort, limit=500)

        return Op("read", run,
                  lambda rows: self._matches_duck(sql, rows, LINEITEM_FIELDS),
                  group="read")

    def read_points(self) -> Op:
        floor = round(self.rng.uniform(1e4, 9e5), 2)

        def run(tr):
            return self._read(self.facilities, tr, fields=["id", "name"],
                              to_srid=4326, where=f"budget > {floor}")

        def check(rows):
            want = {i for i, p in self.points.items() if p["budget"] > floor}
            if {r["id"] for r in rows} != want or len(rows) != len(want):
                return "to_srid read returned the wrong rows"
            for row in rows:
                lon, lat = map(float, row["shape"][7:-1].split())
                if not (_PHL[0] < lon < _PHL[1] and _PHL[2] < lat < _PHL[3]):
                    return f"point {row['id']} reprojected to {lon}, {lat}"
            return None

        return Op("read_srid", run, check, group="read")

    def count(self) -> Op:
        def run(tr):
            if tr is None:
                return self.lineitem.count
            with tr.span("table.df"):
                df = self.lineitem.df()
            with tr.span("driver.collect"):
                return df.count()

        def check(n):
            want = self.base_rows + len(self.appended)
            return None if n == want else f"count {n} != {want}"

        return Op("count", run, check)

    def execute(self) -> Op:
        sql = (f"SELECT l_returnflag, COUNT(*) AS n, "
               f"ROUND(SUM(l_quantity), 2) AS q FROM lineitem "
               f"WHERE l_discount >= {self.rng.randint(0, 9) / 100} "
               f"GROUP BY l_returnflag")

        def run(tr):
            with _span(tr, "database.execute"):
                return self.db.execute(sql)

        return Op("execute", run,
                  lambda rows: self._matches_duck(sql, rows,
                                                  ["l_returnflag", "n", "q"]))

    def create_view(self) -> Op:
        self.views += 1
        name = f"big_lines_{self.views}"
        body = (f"SELECT l_orderkey, l_quantity FROM lineitem "
                f"WHERE l_quantity > {self.rng.randint(1, 49)}")

        def run(tr):
            with _span(tr, "database.create_view"):
                self.db.create_view(name, body)

        def check(_):
            got = self.db.execute(f"SELECT COUNT(*) AS n FROM {name}")
            want = self._duck(f"SELECT COUNT(*) AS n FROM ({body})")[1]
            return None if got[0]["n"] == want[0][0] else \
                f"view {name} has {got[0]['n']} rows, DuckDB {want[0][0]}"

        return Op("create_view", run, check)

    # Rows are drawn when the op is made, and enter the model once the
    # call has returned, so neither is inside the timed call.

    def write_lines(self) -> Op:
        rows = [self._line() for _ in range(200)]

        def run(tr):
            with _span(tr, "table.write"):
                self.lineitem.write(rows)

        return Op("write", run, lambda _: self.appended.extend(rows),
                  group="write", user_bytes=sum(map(_value_bytes, rows)))

    def upsert_points(self) -> Op:
        old = self.rng.sample(sorted(self.points), 25)
        rows = ([self._point(i) for i in old]
                + [self._point(self._new_id()) for _ in range(25)])

        def run(tr):
            with _span(tr, "table.upsert"):
                self.facilities.upsert(rows, "id")

        return Op("upsert", run,
                  lambda _: self.points.update((r["id"], r) for r in rows),
                  group="write", user_bytes=sum(map(_value_bytes, rows)))

    # -- end of run -------------------------------------------------------

    def final_check(self) -> list[str]:
        """Read every written row back through the API and compare it
        with the shadow model."""
        errors = []
        got = self.lineitem.read(fields=LINEITEM_FIELDS,
                                 where=f"l_orderkey >= {_WRITTEN_KEY}")
        want = [{f: r[f] for f in LINEITEM_FIELDS} for r in self.appended]
        if normalize(LINEITEM_FIELDS, [tuple(r.values()) for r in got]) != \
                normalize(LINEITEM_FIELDS, [tuple(r.values()) for r in want]):
            errors.append("appended lineitem rows differ from the model")
        pts = {r["id"]: r for r in self.facilities.read()}
        if sorted(pts) != sorted(self.points):
            errors.append("facilities ids differ from the model")
        else:
            for i, want_row in self.points.items():
                row = pts[i]
                xy = [float(v) for v in row["shape"][7:-1].split()]
                want_xy = [float(v) for v in want_row["shape"][7:-1].split()]
                if any(row[k] != want_row[k]
                       for k in ("name", "kind", "budget")) or \
                        max(abs(a - b) for a, b in zip(xy, want_xy)) > 1e-6:
                    errors.append(f"facility {i} differs from the model")
                    break
        return errors

    def storage(self) -> dict:
        """Files and bytes on disk of the mutated tables, against the bytes
        of the live rows' values."""
        files = size = 0
        for name in ("lineitem", "facilities"):
            for base, _, names in os.walk(
                    os.path.join(self.wh, f"{name}.parquet")):
                files += sum(n.endswith(".parquet") for n in names)
                size += sum(os.path.getsize(os.path.join(base, n))
                            for n in names)
        live = (self.base_bytes + sum(map(_value_bytes, self.appended))
                + sum(map(_value_bytes, self.points.values())))
        return {"files": files, "bytes_on_disk": size,
                "bytes_per_user_byte": size / live}


def datum_crud(ctx: Context) -> Workload:
    """Each pass draws fresh predicates and rows from the seeded
    generator: five lineitem reads, two reprojecting reads, a count, two
    executes, a create_view, two appends and an upsert."""
    crud = Crud(ctx)
    make = ([crud.read_lineitem] * 5 + [crud.read_points] * 2
            + [crud.count, crud.execute, crud.execute, crud.create_view,
               crud.write_lines, crud.write_lines, crud.upsert_points])
    return Workload(lambda: [f() for f in make], pass_s=CRUD_PASS_S,
                    crud=crud)

