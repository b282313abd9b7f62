"""The benchmark's four workloads, built only from the engine's public
functions: the catalog (``__spark_entry__.queries``), the remote-scan
builders in ``sources.arrow_http``, the ``dd_arrow_dsv2`` shim and
``operators.storage``.

Each workload holds a list of operations. An operation's ``build``
makes the DataFrame (or does nothing, for a write) and its ``execute``
forces it; the harness times the two together. ``fixtures`` is the
per-session set-up the harness repeats to time set-up; ``check`` is
the correctness pass, run once before the timed loop, which also warms
the JVM and the Python workers.
"""

from __future__ import annotations

import glob
import os
import random
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import duckdb


# threads of the correctness pass (cold planning and the DuckDB oracles
# overlap on them)
CHECK_THREADS = 4


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Op:
    name: str
    build: Callable[[], object]
    execute: Callable[[object], None] = noop_write
    half: str = "read"  # write_layout splits its ops into "write" and "read"
    path: str | None = None  # remote client: dd_read_arrow or dd_arrow_dsv2


@dataclass
class Ctx:
    root: str  # checkout root, holding the engine's package
    data: str  # generated parquet directory
    paths: dict[str, str]  # table -> parquet file
    work: str  # scratch directory for written outputs
    seed: int
    tracer_ref: list  # [Tracer or None], read by the fleet handler


def _norm(cols, rows):
    from tools.check_parity import norm_rows

    return norm_rows(list(cols), [tuple(r) for r in rows])


def _same(sdf, con, sql: str) -> str | None:
    """Spark result vs DuckDB result, order-insensitive."""
    s = _norm(sdf.columns, sdf.collect())
    rel = con.sql(sql)
    d = _norm(rel.columns, rel.fetchall())
    if [c.lower() for c in s[0]] != [c.lower() for c in d[0]]:
        return f"columns {s[0]} vs {d[0]}"
    if s[1] != d[1]:
        return f"rows {s[1][:3]} vs {d[1][:3]}"
    return None


def _duck(paths: dict[str, str]):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t, p in paths.items():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


class Workload:
    name = ""

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.ops: list[Op] = []

    def fixtures(self, spark) -> None:
        import __spark_entry__ as E

        E._prepare(spark, self.ctx.data)

    def bind(self, spark) -> None:
        """Create the operations against the session the loop uses."""

    def check(self, spark) -> dict[str, str]:
        return {}

    def after_op(self, spark, op: Op) -> None:
        spark.catalog.clearCache()

    def close(self) -> None:
        pass


# ------------------------------------------------------ catalog sets
def _catalog_sets() -> tuple[list[str], list[str]]:
    from bench import BENCH_QUERIES as B

    lo, hi = B.index("dedup_exact"), B.index("cross_source_contamination")
    relational = B[:lo] + ["layout_zorder"]
    llm = B[lo : hi + 1]
    if len(relational) != 31 or len(llm) != 22:
        raise RuntimeError("bench.py's headline set changed shape")
    return relational, llm


class CatalogWorkload(Workload):
    names: list[str] = []

    def bind(self, spark) -> None:
        import __spark_entry__ as E

        qs = E.queries()
        d = self.ctx.data
        self.ops = [
            Op(n, (lambda f=qs[n]: f(spark, d))) for n in self.names
        ]

    def check(self, spark) -> dict[str, str]:
        from tools.bench_report import BRUTE_FORCE_ORACLES
        from tools.check_parity import run_parity

        # Cold Spark planning and codegen run one query at a time per
        # thread, and the brute-force DuckDB oracles are quadratic in
        # the corpus: check on CHECK_THREADS threads, the slow oracles
        # spread over them first, so both overlap. No two entries
        # share staged views or session settings.
        slow = sorted(set(self.names) & BRUTE_FORCE_ORACLES)
        rest = [n for n in self.names if n not in BRUTE_FORCE_ORACLES]
        order = slow + rest
        groups = [set(order[i::CHECK_THREADS]) for i in range(CHECK_THREADS)]
        groups = [g for g in groups if g]
        with ThreadPoolExecutor(len(groups)) as ex:
            runs = list(ex.map(lambda g: run_parity(
                spark, self.ctx.data, only=g, verbose=False), groups))
        return {name: why for _, _, fails in runs for name, why in fails}


class Relational(CatalogWorkload):
    name = "relational"

    def __init__(self, ctx: Ctx) -> None:
        super().__init__(ctx)
        self.names = _catalog_sets()[0]


class LlmPipeline(CatalogWorkload):
    name = "llm_pipeline"
    # pipelines that checkpoint: let the JVM release their blocks
    # between operations, as bench.py does
    _GC_AFTER = ("dedup_components", "dedup_canonical_corpus")

    def __init__(self, ctx: Ctx) -> None:
        super().__init__(ctx)
        self.names = _catalog_sets()[1]

    def after_op(self, spark, op: Op) -> None:
        spark.catalog.clearCache()
        if op.name in self._GC_AFTER:
            spark.sparkContext._jvm.System.gc()


# ------------------------------------------------------- remote scan
_WIDE_FP = (
    "SELECT count(*) AS n, sum(l_orderkey) AS okey, sum(l_linenumber) AS ln,"
    " CAST(sum(round(l_extendedprice * 100)) AS BIGINT) AS cents FROM lineitem"
)


class RemoteScan(Workload):
    name = "remote_scan"

    def __init__(self, ctx: Ctx) -> None:
        super().__init__(ctx)
        from probe import traced_fleet

        self.qty = random.Random(ctx.seed).randint(20, 30)
        self.fleet = traced_fleet(
            {t: ctx.paths[t] for t in ("lineitem", "orders")}, ctx.tracer_ref
        ).start()
        self.jar = os.path.join(
            ctx.root, "dazzleduck_sql_duckdb_spark", "jars", "dd_arrow_shim.jar"
        )

    def fixtures(self, spark) -> None:
        from dazzleduck_sql_duckdb_spark.sources import arrow_http

        super().fixtures(spark)
        arrow_http.register(spark)
        spark.sql(f"ADD JAR {self.jar}")

    def close(self) -> None:
        self.fleet.stop()

    def _agg(self, df):
        from pyspark.sql import functions as F

        return df.filter(F.col("l_quantity") < self.qty).groupBy(
            "l_returnflag").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("l_extendedprice") * 100))
            .cast("long").alias("cents"),
        )

    def _agg_sql(self) -> str:
        return (
            "SELECT l_returnflag, count(*) AS n,"
            " CAST(sum(round(l_extendedprice * 100)) AS BIGINT) AS cents"
            f" FROM lineitem WHERE l_quantity < {self.qty} GROUP BY 1"
        )

    def _pushed_sql(self) -> str:
        return (
            "SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS qty"
            f" FROM lineitem WHERE l_quantity < {self.qty} GROUP BY 1"
        )

    def bind(self, spark) -> None:
        from pyspark.sql import functions as F

        from dazzleduck_sql_duckdb_spark.sources.arrow_http import (
            dd_read_arrow, dd_read_arrow_agg, dd_read_arrow_narrow, dd_splits,
        )

        url = self.fleet.url
        cols = ["l_returnflag", "l_quantity", "l_extendedprice"]
        push = {
            "aggs": {"n": "count(*)", "qty": "sum(l_quantity)"},
            "group_by": ["l_returnflag"],
            "where": f"l_quantity < {self.qty}",
        }

        def dsv2():
            return (
                spark.read.format("dd_arrow_dsv2")
                .option("url", url).option("path", "lineitem").load()
            )

        R, S = "dd_read_arrow", "dd_arrow_dsv2"
        self.ops = [
            Op("wide_stream", lambda: dd_read_arrow(
                spark, url, source_table="lineitem"), path=R),
            Op("wide_split", lambda: dd_read_arrow(
                spark, url, source_table="lineitem", split=True), path=R),
            Op("projected_filtered", lambda: self._agg(dd_read_arrow(
                spark, url, source_table="lineitem", select=cols)), path=R),
            Op("narrow", lambda: dd_read_arrow_narrow(
                spark, url, self._agg, source_table="lineitem"), path=R),
            Op("agg_single", lambda: dd_read_arrow_agg(
                spark, url, source_table="lineitem", **push), path=R),
            Op("agg_split", lambda: dd_read_arrow_agg(
                spark, url, source_table="lineitem", split=True, **push),
               path=R),
            Op("dsv2_scan", dsv2, path=S),
            Op("dsv2_agg", lambda: dsv2()
               .filter(F.col("l_quantity") < self.qty)
               .groupBy("l_returnflag")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum("l_quantity").alias("qty")), path=S),
            Op("splits_plan", lambda: dd_splits(
                spark, url, source_table="lineitem"), path=R),
        ]

    def check(self, spark) -> dict[str, str]:
        from pyspark.sql import functions as F

        con = _duck({"lineitem": self.ctx.paths["lineitem"]})

        def wide_fp(df):
            return df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("l_orderkey").alias("okey"),
                F.sum("l_linenumber").alias("ln"),
                F.sum(F.round(F.col("l_extendedprice") * 100))
                .cast("long").alias("cents"),
            )

        expect = {
            "wide_stream": (wide_fp, _WIDE_FP),
            "wide_split": (wide_fp, _WIDE_FP),
            "projected_filtered": (None, self._agg_sql()),
            "narrow": (None, self._agg_sql()),
            "agg_single": (None, self._pushed_sql()),
            "agg_split": (None, self._pushed_sql()),
            "dsv2_scan": (wide_fp, _WIDE_FP),
            "dsv2_agg": (None, self._pushed_sql()),
        }
        def check_one(op) -> str | None:
            cur = con.cursor()  # one DuckDB cursor per thread
            try:
                df = op.build()
                if op.name == "splits_plan":
                    # every row of the base relation lands in exactly
                    # one split: the split queries' counts must sum to it
                    total = cur.sql("SELECT count(*) FROM lineitem").fetchone()[0]
                    got = sum(
                        cur.sql(f"SELECT count(*) FROM ({r['query']})").fetchone()[0]
                        for r in df.collect()
                    )
                    return None if got == total else f"split rows {got} != {total}"
                fp, sql = expect[op.name]
                return _same(fp(df) if fp else df, cur, sql)
            except Exception as e:  # noqa: BLE001 - reported as a failed op
                return f"{type(e).__name__}: {e}"

        # cold planning dominates this pass: overlap it on threads. The
        # shim's ops stay on this thread, the only one whose context
        # class loader ADD JAR extended.
        with ThreadPoolExecutor(CHECK_THREADS - 1) as ex:
            futs = {op.name: ex.submit(check_one, op)
                    for op in self.ops if op.path != "dd_arrow_dsv2"}
            errs = {op.name: check_one(op)
                    for op in self.ops if op.path == "dd_arrow_dsv2"}
            errs.update({n: f.result() for n, f in futs.items()})
        spark.catalog.clearCache()
        return {n: e for n, e in errs.items() if e}


# ------------------------------------------------------ write + layout
_Z_COLS = ["l_quantity", "l_extendedprice"]
_Z_MINS, _Z_MAXS = [1.0, 900.0], [50.0, 105000.0]


def _fingerprint(con, source: str, cols: list[tuple[str, str]]) -> tuple:
    """Row count and an order-insensitive checksum over ``cols``."""
    exprs = ", ".join(
        f"CAST(epoch_us({c}) AS VARCHAR)" if "TIMESTAMP" in t
        else f"CAST({c} AS VARCHAR)"
        for c, t in cols
    )
    return con.sql(f"SELECT count(*), sum(hash({exprs})) FROM {source}").fetchone()


def parquet_files(path: str) -> list[str]:
    return glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)


class WriteLayout(Workload):
    name = "write_layout"

    def __init__(self, ctx: Ctx) -> None:
        super().__init__(ctx)
        # seeded range literals of fixed width, so the work a readback
        # does varies little from seed to seed
        rng = random.Random(ctx.seed)
        q0 = rng.randint(1, 40)
        self.qty = (q0, q0 + 10)
        p0 = rng.randint(900, 90000)
        self.price = (p0, p0 + 10000)
        d0 = rng.randint(1, 24)
        self.days = (f"2024-01-{d0:02d}", f"2024-01-{d0 + 5:02d}")
        out = os.path.join(ctx.work, "written")
        d = self.dirs = {k: os.path.join(out, k) for k in (
            "zordered", "orders_bkt", "customer_bkt", "events_part",
            "events_compact")}
        self.sources = ("lineitem", "orders", "customer", "events")
        # write operation -> [(source table, directory it writes)]
        self.written = {
            "write_zordered": [("lineitem", d["zordered"])],
            "write_bucketed": [("orders", d["orders_bkt"]),
                               ("customer", d["customer_bkt"])],
            "write_partitioned": [("events", d["events_part"])],
            "compact_parquet": [("events", d["events_compact"])],
        }

    def fixtures(self, spark) -> None:
        super().fixtures(spark)
        # the bucketed readback must take the exchange-free sort-merge
        # join, not broadcast the small side
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    def bind(self, spark) -> None:
        from pyspark.sql import functions as F

        from dazzleduck_sql_duckdb_spark.operators import storage

        d = self.dirs

        def write_bucketed():
            for src, tbl, col in (("orders", "orders_bkt", "o_custkey"),
                                  ("customer", "customer_bkt", "c_custkey")):
                spark.sql(f"DROP TABLE IF EXISTS {tbl}")
                storage.write_bucketed(
                    spark.table(src), tbl, bucket_cols=col, n_buckets=8,
                    sort_cols=col, path=d[tbl])

        def write_op(name, fn):
            return Op(name, lambda: None, lambda _: fn(), half="write")

        def z_range(col, lo, hi):
            return lambda: (
                spark.read.parquet(d["zordered"])
                .filter(F.col(col).between(lo, hi))
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum("l_orderkey").alias("okey"))
            )

        self.ops = [
            write_op("write_zordered", lambda: storage.write_zordered(
                spark.table("lineitem"), d["zordered"], zorder_cols=_Z_COLS,
                mins=_Z_MINS, maxs=_Z_MAXS, n_files=8)),
            write_op("write_bucketed", write_bucketed),
            write_op("write_partitioned", lambda: storage.write_partitioned(
                spark.table("events").withColumn("day", F.to_date("ts")),
                d["events_part"], partition_cols="day")),
            write_op("compact_parquet", lambda: storage.compact_parquet(
                spark, d["events_part"], d["events_compact"], target_mb=64)),
            Op("read_z_quantity", z_range("l_quantity", *self.qty)),
            Op("read_z_price", z_range("l_extendedprice", *self.price)),
            Op("read_bucketed_join", lambda: (
                spark.table("orders_bkt")
                .join(spark.table("customer_bkt"),
                      F.col("o_custkey") == F.col("c_custkey"))
                .groupBy("c_mktsegment")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum(F.round(F.col("o_totalprice") * 100))
                     .cast("long").alias("cents")))),
            Op("read_events_pruned", lambda: (
                spark.read.parquet(d["events_part"])
                .filter(F.col("day").between(*self.days))
                .groupBy("event_type")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum(F.round(F.col("value") * 100))
                     .cast("long").alias("cents")))),
        ]

    def _oracles(self) -> dict[str, str]:
        (q0, q1), (p0, p1), (d0, d1) = self.qty, self.price, self.days
        z = "SELECT count(*) AS n, sum(l_orderkey) AS okey FROM lineitem WHERE "
        return {
            "read_z_quantity": z + f"l_quantity BETWEEN {q0} AND {q1}",
            "read_z_price": z + f"l_extendedprice BETWEEN {p0} AND {p1}",
            "read_bucketed_join": (
                "SELECT c_mktsegment, count(*) AS n,"
                " CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS cents"
                " FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1"),
            "read_events_pruned": (
                "SELECT event_type, count(*) AS n,"
                " CAST(sum(round(value * 100)) AS BIGINT) AS cents FROM events"
                f" WHERE CAST(ts AS DATE) BETWEEN DATE '{d0}' AND DATE '{d1}'"
                " GROUP BY 1"),
        }

    def check(self, spark) -> dict[str, str]:
        con = _duck({t: self.ctx.paths[t] for t in self.sources})
        oracles = self._oracles()
        bad: dict[str, str] = {}
        for op in self.ops:  # writes first: the readbacks read them
            try:
                df = op.build()
                op.execute(df)
                if op.half == "write":
                    err = None
                    for src, path in self.written[op.name]:
                        cols = con.sql(f"DESCRIBE {src}").fetchall()
                        cols = [(c[0], c[1]) for c in cols]
                        out = (f"(SELECT * FROM read_parquet('{path}/**/*.parquet',"
                               " hive_partitioning = false))")
                        a = _fingerprint(con, src, cols)
                        b = _fingerprint(con, out, cols)
                        if a != b:
                            err = f"{path}: {b} != source {a}"
                            break
                else:
                    err = _same(df, con, oracles[op.name])
            except Exception as e:  # noqa: BLE001 - reported as a failed op
                err = f"{type(e).__name__}: {e}"
            if err:
                bad[op.name] = err
            self.after_op(spark, op)
        return bad

    def written_bytes(self) -> tuple[int, int]:
        files = [f for p in self.dirs.values() for f in parquet_files(p)]
        return sum(os.path.getsize(f) for f in files), len(files)

    def source_bytes(self) -> int:
        return sum(os.path.getsize(self.ctx.paths[t]) for t in self.sources)


WORKLOADS = {
    w.name: w for w in (Relational, RemoteScan, LlmPipeline, WriteLayout)
}
