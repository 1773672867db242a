"""The benchmark workloads. Each drives the engine only through its
public functions, wrapping every layer call in a span (see spans.py).

A workload is a closed loop with one client. ``generate`` writes the
seeded inputs (never timed), ``prepare`` builds the workload's state,
``step`` runs one iteration and returns its timed read and write
samples, ``check_warmup`` and ``check`` verify outputs and return
(checks attempted, failure messages), and ``report`` adds the
workload's own metrics.
"""

from __future__ import annotations

import math
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen

# Engine layers. Importing them fails in a checkout without the engine,
# which is what makes the benchmark exit non-zero there.
from pyspark.sql import Observation
from pyspark.sql import functions as F

from retail_datawarehouse_spark.dims.date_dim import build_dim_date
from retail_datawarehouse_spark.dims.extracted import (
    q_dim_customer,
    q_dim_product,
    q_dim_shipping,
)
from retail_datawarehouse_spark.dims.scd2 import build_scd2, scd2_merge_batch
from retail_datawarehouse_spark.etl.clean import FINAL_COLUMNS, clean_pipeline
from retail_datawarehouse_spark.facts.sales import build_fact_sales
from retail_datawarehouse_spark.facts.snapshot import (
    append_snapshot_month,
    build_monthly_snapshot,
)
from retail_datawarehouse_spark.operators.ann_index import (
    append_to_ivf_index,
    delete_from_ivf_index,
    open_ivf_index,
    query_ivf_index,
    store_ivf_index,
)
from retail_datawarehouse_spark.operators.similarity import N_QUERIES, TOP_K
from retail_datawarehouse_spark.queries.catalog import (
    q51_sales_by_hour,
    q52_top10_products,
    q53_sales_by_shipping_tier,
    q54_rising_spend_customers,
    q55_snapshot_lifetime_read,
)
from retail_datawarehouse_spark.registry import REGISTRY
from retail_datawarehouse_spark.sources.readers import load_table, read_retail_csv
from retail_datawarehouse_spark.sources.writers import write_parquet_table

DASHBOARD = (
    q51_sales_by_hour,
    q52_top10_products,
    q53_sales_by_shipping_tier,
    q54_rising_spend_customers,
    q55_snapshot_lifetime_read,
)


@dataclass
class Sample:
    kind: str  # "read" or "write"
    seconds: float
    ok: bool = True


@dataclass
class Context:
    spark: object
    tracer: object
    seed: int
    work_dir: str  # scratch for this run's outputs
    inputs: dict = field(default_factory=dict)


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, Spark's marker files excluded."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


def _timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


class WarehouseLoad:
    """One nightly cycle per iteration: the write path loads the
    warehouse from the raw CSV and the source tables, the read path
    refreshes the dashboard (the five reference queries) ``refreshes``
    times."""

    name = "warehouse_load"
    scale = 0.005  # TPC-H scale factor of the source tables
    # Dashboard refreshes per nightly load, each a read sample, so the
    # read path's median is not one refresh that a burst of host load
    # can double. The warm-up iteration refreshes once.
    refreshes = 2
    # Tables whose read-back the warm-up load verifies: the cleaned CSV,
    # both facts (the snapshot with its appended month) and the merged
    # SCD2 dimension; the dims feeding the fact are checked through it.
    verified_tables = ("sales_clean", "fact_sales", "fact_snapshot", "dim_customer_scd2_merged")

    def generate(self, ctx: Context) -> None:
        ctx.inputs.update(gen.generate(ctx.seed, self.scale, os.path.join(ctx.work_dir, "in")))
        with open(ctx.inputs["csv"], "rb") as f:
            ctx.inputs["csv_lines"] = sum(1 for _ in f) - 1
        ctx.inputs["csv_bytes"] = os.path.getsize(ctx.inputs["csv"])
        meta = pq.read_metadata(os.path.join(ctx.inputs["sf_dir"], "customer.parquet"))
        self.n_customers = meta.num_rows

    def prepare(self, ctx: Context) -> None:
        self.iteration = 0
        self.last_out = None
        self.last_results: dict[str, list] = {}
        self.written: dict[str, str] = {}
        # The first (warm-up) load records each written plan's row count
        # and checksum as it writes; check_warmup reads the tables back.
        self.verify = True
        self.observed = {}

    # --- write path -------------------------------------------------

    def _write(self, ctx, df, table, span, partition_by=None, path=None):
        tr = ctx.tracer
        path = path or os.path.join(self.out, table)
        with tr.span(f"{span}.exec"):
            if self.verify and table in self.verified_tables:
                cols = sorted(df.columns)
                written = Observation()
                df = df.observe(written, *checksum_columns(cols))
                self.observed[table] = (written, path, cols)
            with tr.span("sources.write_parquet_table") as w:
                write_parquet_table(df, path, partition_by=partition_by)
                if tr.enabled:
                    with tr.bookkeeping():
                        w["bytes"], w["files"] = dir_stats(path)
        self.written[table] = path

    def load(self, ctx: Context) -> None:
        spark, tr, sf = ctx.spark, ctx.tracer, ctx.inputs["sf_dir"]
        with tr.span("sources.read_retail_csv"):
            raw = read_retail_csv(spark, ctx.inputs["csv"])
        with tr.span("etl.clean_pipeline"):
            clean = clean_pipeline(raw, FINAL_COLUMNS)
        self._write(ctx, clean, "sales_clean", "etl.clean_pipeline")

        with tr.span("sources.load_table"):
            orders = load_table(spark, sf, "orders")
            lineitem = load_table(spark, sf, "lineitem")
            customer = load_table(spark, sf, "customer")
        for fn, table in (
            (q_dim_customer, "dim_customer"),
            (q_dim_product, "dim_product"),
            (q_dim_shipping, "dim_shipping"),
        ):
            with tr.span(f"dims.{fn.__name__}"):
                dim = fn(spark, sf)
            self._write(ctx, dim, table, f"dims.{fn.__name__}")
        with tr.span("dims.build_dim_date"):
            dim_date = build_dim_date(spark, orders.select(F.col("o_orderdate").alias("d")))
        self._write(ctx, dim_date, "dim_date", "dims.build_dim_date")
        with tr.span("dims.build_scd2"):
            versions = build_scd2(
                orders, "o_custkey", "o_orderdate", ["o_orderdate", "o_orderkey"]
            ).select(
                F.col("o_custkey").alias("natural_key"),
                F.col("o_orderkey").alias("version_id"),
                F.col("o_orderpriority").alias("attr_value"),
                F.date_format("effective_date", "yyyy-MM-dd").alias("effective_date"),
                F.date_format("end_date", "yyyy-MM-dd").alias("end_date"),
                "is_current",
                "version_seq",
            )
        self._write(ctx, versions, "dim_customer_scd2", "dims.build_scd2")

        read = spark.read.parquet
        with tr.span("facts.build_fact_sales"):
            fact = build_fact_sales(
                lineitem,
                orders,
                read(self.written["dim_product"]),
                read(self.written["dim_customer"]),
                read(self.written["dim_shipping"]),
            )
        self._write(ctx, fact, "fact_sales", "facts.build_fact_sales", ["month_key"])

        # The snapshot is built up to the month before the newest one,
        # which the incremental step then appends.
        new_month = gen.ORDER_LAST_MONTH
        with tr.span("facts.build_monthly_snapshot"):
            snap = build_monthly_snapshot(
                orders.filter(F.col("o_orderdate") < F.lit(new_month).cast("date")), customer
            ).withColumn("month_key", F.date_format("month_start", "MMyyyy"))
        self._write(ctx, snap, "fact_snapshot", "facts.build_monthly_snapshot", ["month_key"])

        prior = read(self.written["fact_snapshot"]).drop("month_key")
        with tr.span("facts.append_snapshot_month"):
            grown = append_snapshot_month(
                prior, gen.ORDER_PRIOR_MONTH, orders, customer, new_month
            )
            new_rows = grown.filter(F.col("month_start") == F.lit(new_month).cast("date"))
        self._write(
            ctx,
            new_rows,
            "fact_snapshot_new_month",
            "facts.append_snapshot_month",
            path=os.path.join(
                self.written["fact_snapshot"], f"month_key={gen.ORDER_LAST_MONTH_KEY}"
            ),
        )

        changes = self._scd2_changes(ctx)
        with tr.span("dims.scd2_merge_batch"):
            merged = scd2_merge_batch(read(self.written["dim_customer_scd2"]), changes)
        self._write(ctx, merged, "dim_customer_scd2_merged", "dims.scd2_merge_batch")

    def _scd2_changes(self, ctx: Context):
        """About 1% of customers change priority, plus a few new keys."""
        rng = np.random.default_rng([ctx.seed, 10, self.iteration])
        n_cust = self.n_customers
        keys = rng.choice(n_cust, size=max(1, n_cust // 100), replace=False).tolist()
        keys += [n_cust + i for i in range(max(1, n_cust // 1000))]
        attrs = rng.choice(gen.PRIORITIES, size=len(keys)).tolist()
        rows = [(int(k), -int(k) - 1, a, "1998-09-15") for k, a in zip(keys, attrs)]
        return ctx.spark.createDataFrame(
            rows, "natural_key long, version_id long, attr_value string, effective_date string"
        )

    # --- read path --------------------------------------------------

    def refresh(self, ctx: Context, k: int) -> None:
        tr, sf = ctx.tracer, ctx.inputs["sf_dir"]
        rng = np.random.default_rng([ctx.seed, 11, self.iteration, k])
        for i in rng.permutation(len(DASHBOARD)):
            fn = DASHBOARD[i]
            with tr.span(f"queries.{fn.__name__}"):
                df = fn(ctx.spark, sf)
            with tr.span(f"queries.{fn.__name__}.exec") as a:
                rows = df.collect()
                a["rows"] = len(rows)
            self.last_results[fn.__name__] = rows

    def step(self, ctx: Context) -> list[Sample]:
        self.out = os.path.join(ctx.work_dir, "out", f"load{self.iteration}")
        w = _timed(lambda: self.load(ctx))
        n = 1 if self.iteration == 0 else self.refreshes
        reads = [Sample("read", _timed(lambda: self.refresh(ctx, k))) for k in range(n)]
        if self.last_out:
            shutil.rmtree(self.last_out, ignore_errors=True)
        self.last_out = self.out
        self.iteration += 1
        return [Sample("write", w)] + reads

    # --- checks -----------------------------------------------------

    def check_warmup(self, ctx: Context) -> tuple[int, list[str]]:
        """Each table the warm-up load wrote, read back, has the row
        count and checksum of the plan that wrote it."""
        failures = []
        for table, (obs, path, cols) in self.observed.items():
            back = ctx.spark.read.parquet(path)
            if table == "fact_snapshot":
                # The incremental step wrote one more month into it.
                back = back.filter(F.col("month_key") != gen.ORDER_LAST_MONTH_KEY)
            want = obs.get
            if table == "sales_clean":
                self.keep_ratio = want["n"] / ctx.inputs["csv_lines"]
            got = back.select(*cols).agg(*checksum_columns(cols)).first().asDict()
            if {k: int(v or 0) for k, v in got.items()} != {k: int(v or 0) for k, v in want.items()}:
                failures.append(f"{table}: read-back count/checksum differs from the written plan")
        self.verify = False
        return len(self.observed), failures

    def check(self, ctx: Context) -> tuple[int, list[str]]:
        """The last refresh's results equal their DuckDB oracles."""
        failures = []
        con = oracle_connection(ctx.inputs["sf_dir"])
        for name, rows in self.last_results.items():
            want = con.execute(REGISTRY[name].oracle)
            got = canonical_rows([r.asDict() for r in rows])
            exp = canonical_rows(
                [dict(zip([d[0] for d in want.description], t)) for t in want.fetchall()]
            )
            if got != exp:
                failures.append(f"{name}: result differs from its DuckDB oracle")
        con.close()
        return len(self.last_results), failures

    def report(self, ctx: Context) -> dict[str, tuple[float, str]]:
        size, _ = dir_stats(self.last_out)
        return {
            "warehouse_bytes_ratio": (size / ctx.inputs["csv_bytes"], "ratio"),
            "etl.clean_pipeline.keep_ratio": (self.keep_ratio, "ratio"),
        }


class VectorServe:
    """Setup stores one IVF-PQ index; each iteration serves one query
    wave (the read path) and then one write batch (append, delete,
    refresh: the write path).

    The traffic follows the engine's own stored-index suite
    (``q_ann_topk_suite`` in ``operators/similarity.py``): a wave is
    ``N_QUERIES`` queries for the top ``TOP_K``, and a write deletes
    one seventeenth of the stored corpus, the share that suite deletes.
    Each write appends as many vectors as it deletes, so the live set
    keeps its size while tombstones accumulate. The corpus is half the
    suite's 2,000 vectors, because the index build is in every run's
    set-up."""

    name = "vector_serve"
    corpus = 1000
    wave_queries = N_QUERIES
    write_batch = corpus // 17
    rerank = 64
    max_iterations = 16  # the deletes of 16 batches fit in the corpus

    def generate(self, ctx: Context) -> None:
        d = os.path.join(ctx.work_dir, "in", "vectors")
        os.makedirs(d, exist_ok=True)
        n, q, b = self.corpus, self.wave_queries, self.write_batch
        n_waves = self.max_iterations
        vecs = gen.make_embeddings(ctx.seed, n + n_waves * (q + b))
        self.base = vecs[:n]
        self.queries = vecs[n : n + n_waves * q].reshape(n_waves, q, -1)
        self.appends = vecs[n + n_waves * q :].reshape(n_waves, b, -1)
        rng = np.random.default_rng([ctx.seed, 4])
        self.deletes = rng.permutation(n)[: n_waves * b].reshape(n_waves, b)
        # ids: base 0..n-1, appended n.., queries far above both.
        self.append_ids = n + np.arange(n_waves * b).reshape(n_waves, b)
        q_ids = 10_000_000 + np.arange(n_waves * q).reshape(n_waves, q)

        def emb_table(ids, arr, group):
            return pa.table(
                {
                    "id": pa.array(ids.reshape(-1), pa.int64()),
                    "emb": pa.array(list(arr.reshape(len(ids.reshape(-1)), -1)), pa.list_(pa.float32())),
                    "batch": pa.array(group.reshape(-1), pa.int64()),
                }
            )

        waves = np.repeat(np.arange(n_waves), q).reshape(n_waves, q)
        batches = np.repeat(np.arange(n_waves), b).reshape(n_waves, b)
        paths = {
            "corpus": (np.arange(n), self.base, np.zeros(n, np.int64)),
            "queries": (q_ids, self.queries, waves),
            "appends": (self.append_ids, self.appends, batches),
        }
        for name, (ids, arr, group) in paths.items():
            ctx.inputs[name] = os.path.join(d, f"{name}.parquet")
            pq.write_table(emb_table(ids, arr, group), ctx.inputs[name])
        self.query_ids = q_ids

    def prepare(self, ctx: Context) -> None:
        spark, tr = ctx.spark, ctx.tracer
        self.iteration = 0
        self.recalls: list[float] = []
        self.index = os.path.join(ctx.work_dir, "index")
        corpus = spark.read.parquet(ctx.inputs["corpus"]).select("id", "emb")
        with tr.span("operators.store_ivf_index"):
            store_ivf_index(corpus, self.index, pq=True)
        with tr.span("operators.open_ivf_index"):
            self.handle = open_ivf_index(spark, self.index)
        self.nprobe = max(1, self.handle.centroids.count() // 8)
        self.live = np.ones(self.corpus + self.append_ids.size, dtype=bool)
        self.live[self.corpus :] = False

    def _frame(self, ctx, name, batch_filter):
        return ctx.spark.read.parquet(ctx.inputs[name]).filter(batch_filter).select("id", "emb")

    def _query(self, queries):
        return query_ivf_index(
            queries, self.index, nprobe=self.nprobe, pq=True, rerank=self.rerank, handle=self.handle
        )

    def wave(self, ctx: Context) -> list:
        tr = ctx.tracer
        queries = self._frame(ctx, "queries", F.col("batch") == self.iteration)
        with tr.span("operators.query_ivf_index"):
            df = self._query(queries)
        with tr.span("operators.query_ivf_index.exec") as a:
            rows = df.collect()
            a["rows"] = len(rows)
        return rows

    def _served(self, rows) -> tuple[dict[int, set[int]], bool]:
        """Candidates per query, and whether every one is live."""
        served: dict[int, set[int]] = {}
        for r in rows:
            served.setdefault(r.query_id, set()).add(r.candidate_id)
        ids = {c for s in served.values() for c in s}
        return served, all(0 <= c < len(self.live) and self.live[c] for c in ids)

    def _check_wave(self, rows) -> bool:
        """No dead id served, ``TOP_K`` results per query, and recall
        against exact search over the live set."""
        i = self.iteration
        served, ok = self._served(rows)
        live_ids = np.flatnonzero(self.live)
        vecs = np.concatenate([self.base, self.appends.reshape(-1, self.base.shape[1])])[live_ids]
        vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        q = self.queries[i] / np.linalg.norm(self.queries[i], axis=1, keepdims=True)
        exact = live_ids[np.argsort(-(q @ vecs.T), axis=1)[:, :TOP_K]]
        for qid, want in zip(self.query_ids[i].tolist(), exact):
            got = served.get(qid, set())
            ok &= len(got) == TOP_K
            self.recalls.append(len(got & set(want.tolist())) / TOP_K)
        return bool(ok)

    def write(self, ctx: Context) -> None:
        tr, i = ctx.tracer, self.iteration
        with tr.span("operators.append_to_ivf_index"):
            append_to_ivf_index(self._frame(ctx, "appends", F.col("batch") == i), self.index)
        ids = ctx.spark.createDataFrame([(int(x),) for x in self.deletes[i]], "id long")
        with tr.span("operators.delete_from_ivf_index"):
            delete_from_ivf_index(ids, self.index)
        with tr.span("operators.IvfIndexHandle.refresh"):
            self.handle = self.handle.refresh(ctx.spark)
        self.live[self.append_ids[i]] = True
        self.live[self.deletes[i]] = False

    def step(self, ctx: Context) -> list[Sample]:
        if self.iteration >= self.max_iterations:
            raise RuntimeError("vector_serve ran out of generated batches")
        rows = []
        r = _timed(lambda: rows.extend(self.wave(ctx)))
        ok = self._check_wave(rows)
        w = _timed(lambda: self.write(ctx))
        self.iteration += 1
        return [Sample("read", r, ok), Sample("write", w)]

    def check_warmup(self, ctx: Context) -> tuple[int, list[str]]:
        return 0, []

    def check(self, ctx: Context) -> tuple[int, list[str]]:
        """Every vector appended during the run, used as a query, finds
        itself, and no dead id is served."""
        appended = self._frame(ctx, "appends", F.col("batch") < self.iteration)
        served, ok = self._served(self._query(appended).collect())
        ids = self.append_ids[: self.iteration].reshape(-1).tolist()
        ok &= all(a in served.get(a, ()) for a in ids)
        return 1, [] if ok else ["appended vectors not found, or a dead id served"]

    def report(self, ctx: Context) -> dict[str, tuple[float, str]]:
        recall = sum(self.recalls) / len(self.recalls) if self.recalls else float("nan")
        return {
            f"ann_recall_at_{TOP_K}": (recall, "ratio"),
            "ann_tombstone_share": (self.iteration * self.write_batch / self.corpus, "ratio"),
        }


WORKLOADS = {w.name: w for w in (WarehouseLoad, VectorServe)}


# --- output checks ---------------------------------------------------


def oracle_connection(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for name in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    if isinstance(v, float):
        return repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def canonical_rows(rows: list[dict]) -> list[tuple]:
    """Rows as sorted tuples of (column, value) pairs, columns by name:
    an order-insensitive, bit-exact comparison key."""
    return sorted(tuple((k, _cell(r[k])) for k in sorted(r)) for r in rows)


def checksum_columns(cols: list[str]):
    """Row count and the sum of per-row xxhash64 over ``cols``: an
    order-insensitive checksum, usable in ``observe`` and ``agg``."""
    return (
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    )
