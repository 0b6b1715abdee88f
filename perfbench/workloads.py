"""The benchmark's three workloads and the checks of their outputs.

Each workload generates its inputs from the seed in `prepare`, then
exposes a list of operations.  `run` executes one operation the way the
timed loop does.  `warmup` executes it once, untimed by the loop, and
returns a function that compares what it produced with a DuckDB oracle
over the same generated input.  Every call into a layer of the package
runs inside a `tracer.span` named after the layer.

The comparison returns None on a match and a description of the
difference otherwise; an operation that raises propagates the
exception to the caller, which counts it as failed.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import shutil
from dataclasses import dataclass

import duckdb

import datagen

# Rows are chosen so that a whole invocation (a fresh JVM's start, the
# warm-up pass, the timed seconds) stays near 25 s on four otherwise
# idle cores; other guests on the host can double that.
# analytic_sql keeps one row per relational shape: scan and aggregate,
# rollup, the 6-way and 5-way joins, outer join, window, group-having
# semi join, exists/not-exists, as-of join, sessions.
ANALYTIC_ROWS = [
    "agg_pricing_summary",
    "agg_rollup",
    "join_region_volume",
    "join_outer_order_counts",
    "window_running_total",
    "q9_profit_by_nation_year",
    "q18_large_orders",
    "q21_sole_late_supplier",
    "asof_join_events",
    "events_sessionize",
]

# iterative_curation keeps the checkpointed graph loops (label
# propagation, BFS), the shingle and the embedding dedup paths, and the
# count-gated budget selection: rows whose time is mostly driver-side
# query construction and job dispatch.
ITERATIVE_ROWS = [
    "graph_communities_labelprop",
    "graph_bfs_distances",
    "ngram_jaccard_pairs",
    "semantic_dedup",
    "quality_budget_select",
]

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: str  # scratch directory of this invocation, inside the checkout
    seed: int
    corrupt: str | None = None  # operation whose checked output is altered


# -- output comparison, as tools/driver_sim.py does it ---------------------


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        v = round(v, 9)
        return int(v) if v.is_integer() else v
    return v


def _value_hash(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
    return h.hexdigest()[:16]


def _by_sorted_columns(cols: list[str], rows) -> tuple[list[str], list[tuple]]:
    order = sorted(cols)
    idx = [cols.index(c) for c in order]
    return order, [tuple(_norm(r[i]) for i in idx) for r in rows]


def compare(spark_cols, spark_rows, con, sql: str, corrupt: bool) -> str | None:
    """None when Spark's rows equal the oracle's: same row count, same
    sorted column names, same order-insensitive value hash."""
    if corrupt and spark_rows:
        spark_rows = spark_rows[1:]
    cur = con.execute(sql)
    ocols = [d[0] for d in cur.description]
    scols, srows = _by_sorted_columns(list(spark_cols), spark_rows)
    dcols, drows = _by_sorted_columns(ocols, cur.fetchall())
    if scols != dcols:
        return f"columns {scols} != oracle {dcols}"
    if len(srows) != len(drows) or _value_hash(srows) != _value_hash(drows):
        return f"{len(srows)} rows, oracle {len(drows)}, value hashes differ"
    return None


def _duckdb(data_dir: str, names, work: str):
    con = duckdb.connect(
        config={
            "autoinstall_known_extensions": "false",
            "temp_directory": os.path.join(work, "duckdb.tmp"),
            "threads": str(len(os.sched_getaffinity(0))),
        }
    )
    for t in names:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _free(ctx: Ctx) -> None:
    from etl_addresses_spark.ckpt import free_all_persistent_rdds

    with ctx.tracer.span("ckpt.free") as sp:
        n = free_all_persistent_rdds(ctx.spark)
        if sp is not None:
            sp.attrs["blocks_freed"] = n
    ctx.spark.catalog.clearCache()


# -- registry workloads -----------------------------------------------------


class RegistryWorkload:
    """Registry rows over generated tables at scale factor `sf`; one
    operation is one row: build the DataFrame, run it into the noop
    sink, free its cached and checkpointed blocks."""

    def __init__(self, name: str, rows: list[str], sf: float):
        self.name, self.sf = name, sf
        self.ops = list(rows)  # shuffled by the seed in `prepare`

    def prepare(self, ctx: Ctx) -> dict:
        from etl_addresses_spark import registry
        from etl_addresses_spark.sources.tables import load_table

        self._data = os.path.join(ctx.work, "tables")
        nbytes = datagen.write(datagen.tables(ctx.seed, self.sf), self._data)
        # Table warm-up: read every footer once so no row pays for it.
        with ctx.tracer.span("sources.load_table"):
            for t in TABLE_NAMES:
                load_table(ctx.spark, self._data, t).schema
        self._queries, self._oracles = registry.queries(), registry.oracle_sql()
        self._con = _duckdb(self._data, TABLE_NAMES, ctx.work)
        random.Random(ctx.seed).shuffle(self.ops)
        return {"sf": self.sf, "input_bytes": nbytes}

    def _build(self, ctx: Ctx, op: str):
        with ctx.tracer.span("plans.build", op=op):
            return self._queries[op](ctx.spark, self._data)

    def run(self, ctx: Ctx, op: str) -> None:
        df = self._build(ctx, op)
        with ctx.tracer.span("plans.action", op=op):
            df.write.format("noop").mode("overwrite").save()
        _free(ctx)

    def warmup(self, ctx: Ctx, op: str):
        """The timed path once, then a collect of the same DataFrame for
        the check; the caller times only the first part."""
        df = self._build(ctx, op)
        with ctx.tracer.span("plans.action", op=op):
            df.write.format("noop").mode("overwrite").save()

        def verify():
            rows = df.collect()
            _free(ctx)
            corrupt = ctx.corrupt == op
            if op not in self._oracles:  # no oracle: the row count is the check
                return None if len(rows) - corrupt > 0 else "no rows"
            return compare(df.columns, rows, self._con, self._oracles[op], corrupt)

        return verify

    def between_passes(self, ctx: Ctx) -> None:
        pass


# -- the reference pipeline ---------------------------------------------------


class FlagshipWorkload:
    """The reference pipeline: NDJSON streets and house numbers in,
    `engine.infer` then `engine.transform`, objects, relations and logs
    out.  One operation is one run of both steps."""

    name = "flagship_pipeline"

    def __init__(self, n_streets: int, n_house_numbers: int):
        self.n_streets, self.n_house_numbers = n_streets, n_house_numbers
        self.ops = ["pipeline"]

    def prepare(self, ctx: Ctx) -> dict:
        from etl_addresses_spark.config import DATASET_HOUSE_NUMBERS, DATASET_STREETS
        from etl_addresses_spark.sources import fixtures, ndjson

        geo = os.path.join(ctx.work, "geo")
        datagen.write(
            datagen.geo_tables(ctx.seed, self.n_streets, self.n_house_numbers), geo
        )
        self._base = os.path.join(ctx.work, "input")
        with ctx.tracer.span("sources.fixtures"):
            streets = fixtures.streets_df(ctx.spark, geo)
            house_numbers = fixtures.house_numbers_df(ctx.spark, geo)
        with ctx.tracer.span("sources.write_ndjson"):
            for df, ds in ((streets, DATASET_STREETS), (house_numbers, DATASET_HOUSE_NUMBERS)):
                ndjson.write_ndjson(df, ndjson.objects_path(self._base, ds, "transform"))
        self._out = os.path.join(ctx.work, "output")
        self._con = _duckdb(geo, ["supplier", "customer"], ctx.work)
        nbytes = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(self._base)
            for f in fs
        )
        return {
            "streets": self.n_streets,
            "house_numbers": self.n_house_numbers,
            "input_bytes": nbytes,
        }

    def _dirs(self) -> tuple[dict, dict]:
        infer_dir = os.path.join(self._out, "step0_infer")
        transform_dir = os.path.join(self._out, "step1_transform")
        return (
            {"base": self._base, "current": infer_dir, "previous": None},
            {"base": self._base, "current": transform_dir, "previous": infer_dir},
        )

    def run(self, ctx: Ctx, op: str) -> None:
        from etl_addresses_spark import engine

        infer_dirs, transform_dirs = self._dirs()
        with ctx.tracer.span("engine.infer"):
            engine.infer(ctx.spark, infer_dirs)
        with ctx.tracer.span("engine.transform"):
            engine.transform(ctx.spark, transform_dirs)
        _free(ctx)

    def warmup(self, ctx: Ctx, op: str):
        self.run(ctx, op)
        return lambda: self._verify(ctx, op)

    def _verify(self, ctx: Ctx, op: str) -> str | None:
        from etl_addresses_spark.engine import INFERRED_DIRNAME
        from etl_addresses_spark.operators.spatial_join import inferred_flat
        from etl_addresses_spark.plans.flagship import ORACLE_SQL
        from etl_addresses_spark.sources.ndjson import INFERRED_SCHEMA

        infer_dirs, transform_dirs = self._dirs()
        inferred = inferred_flat(
            ctx.spark.read.schema(INFERRED_SCHEMA).json(
                os.path.join(infer_dirs["current"], INFERRED_DIRNAME)
            )
        )
        # The oracle join is quadratic in DuckDB, so it runs once; the
        # record counts then follow the projections of the transform
        # oracles (plans/transform.py): an object and two relations per
        # matched address, a log per address.
        self._con.execute(f"CREATE OR REPLACE TEMP TABLE oracle AS {ORACLE_SQL}")
        corrupt = ctx.corrupt == op
        bad = compare(
            inferred.columns, inferred.collect(), self._con, "SELECT * FROM oracle", corrupt
        )
        if bad:
            return f"inferred: {bad}"
        matched, total = self._con.execute(
            "SELECT count(streetId), count(*) FROM oracle"
        ).fetchone()
        for kind, want in (("objects", matched), ("relations", 2 * matched), ("logs", total)):
            got = _count_lines(os.path.join(transform_dirs["current"], kind))
            if got != want:
                return f"{kind}: {got} records, oracle {want}"
        return None

    def between_passes(self, ctx: Ctx) -> None:
        shutil.rmtree(self._out, ignore_errors=True)


def _count_lines(path: str) -> int:
    n = 0
    for f in sorted(os.listdir(path)):
        if f.startswith("part-"):
            with open(os.path.join(path, f), "rb") as fh:
                n += sum(1 for line in fh if line.strip())
    return n


def make(name: str, scale: float = 1.0):
    """The workload `name`, its input sizes multiplied by `scale`."""
    if name == "flagship_pipeline":
        return FlagshipWorkload(
            n_streets=max(50, int(500 * scale)), n_house_numbers=int(40_000 * scale)
        )
    if name == "analytic_sql":
        return RegistryWorkload(name, ANALYTIC_ROWS, sf=0.01 * scale)
    if name == "iterative_curation":
        return RegistryWorkload(name, ITERATIVE_ROWS, sf=0.001 * scale)
    raise KeyError(name)


WORKLOADS = ["flagship_pipeline", "analytic_sql", "iterative_curation"]
