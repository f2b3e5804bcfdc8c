"""The three workloads. Each is a closed loop with one client: the next
operation starts only after the previous one returned.

``run.py`` drives a workload object through ``setup`` (generate the
inputs from the seed, initialise tables), ``warm`` (one untimed
operation after the set-ups, and again on a new session), repeated
``step`` calls (one timed operation plus the work that
follows it) until the time is up and ``round_done`` is true,
``finish`` (work after the window), and ``check`` (correctness,
never timed). ``ops`` holds the latency of every primary operation.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks, gen, stats

WAREHOUSE_QUERIES = (
    "q01_pricing_summary",
    "q03_topk_revenue",
    "q05_region_volume",
    "q17_window_topk_per_group",
    "q21_cube",
    "q35_tumbling_window",
    "q38_asof_join",
    "q232_market_share",
    "q43_haversine",
)
CURATION_QUERIES = (
    "q60_exact_dedup",
    "q62_minhash_lsh",
    "q64_dedup_clusters",
    "q88_semantic_dedup",
    "q76_ivf_kmeans_topk",
    "q133_copurchase_pagerank",
)

# Input sizes, below those of the traffic the benchmark stands for (a
# 500,000-ride month, the sf0.1 catalog, an sf0.1 orders table) so that
# a run fits the run budget; README.md compares the two and gives the
# share of each operation that is fixed per-job cost.
ETL_ROWS = 50_000
# loads per round
ETL_ROUND = 2
WAREHOUSE_SCALE = 1.0
ORDERS_ROWS = 10_000
ORDERS_LAYOUT_FILES = 8
COMMIT_BATCH = 200
# commits per cycle (see gen.CommitStream)
CYCLE = len(gen.CommitStream.KINDS)
# versions the final vacuum keeps; the replica bootstraps from the
# older and replays the last commit
KEEP_VERSIONS = 2


class Workload:
    name = ""

    def __init__(self, seed: int, tracer) -> None:
        self.seed = seed
        self.tracer = tracer
        self.spark = None
        self.ops: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)
        print(f"[perfbench] FAILED: {what}", file=sys.stderr)

    def attempt(self, what: str, fn, *args):
        """Run one operation; an exception counts as a failed
        operation and returns None."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:  # noqa: BLE001 - the loop must keep running
            traceback.print_exc(file=sys.stderr)
            self.fail(what)
            return None

    def timed(self, span_name: str, fn, *args):
        """(seconds, result, span) of one engine call inside a span."""
        with self.tracer.span(span_name) as span:
            t0 = time.perf_counter()
            out = fn(*args)
            dt = time.perf_counter() - t0
        return dt, out, span

    def round_done(self) -> bool:
        return True

    def finish(self) -> None:
        pass

    def summary(self) -> dict:
        return {}


class WarehouseQueries(Workload):
    """Analyst traffic: the warehouse catalog queries in seeded
    round-robin order. Each round is a fresh permutation of the set,
    and a run ends on a round boundary, so every query runs equally
    often whatever the seed. One operation = building the query
    (including any work it does eagerly while building) and
    collecting its result to the driver, as an analyst's client
    does. The last result of each query is checked against its
    DuckDB oracle after the run. Traced runs also call each curation
    query once after the window, so the curation operators get
    per-layer numbers; their results are oracle-checked too."""

    name = "warehouse_queries"

    def setup(self, spark, work_dir: str) -> None:
        from citybikedatawarehouse_spark.plans.catalog import ORACLES, QUERIES

        self.spark = spark
        self.QUERIES, self.ORACLES = QUERIES, ORACLES
        self.data = os.path.join(work_dir, "data")
        self.rows = gen.write_warehouse(self.data, self.seed, WAREHOUSE_SCALE)
        self.order = np.random.default_rng([self.seed, 4])
        self.pending: list[str] = []
        self.results: dict = {}
        self.by_query: dict[str, list[float]] = {}
        self.passes: list[float] = []
        self._pass = 0.0

    def _run(self, name: str) -> float:
        # a query that leaves relations cached must not serve its next
        # run from that cache
        self.spark.catalog.clearCache()
        with self.tracer.span(f"plans.{name}"):
            t0 = time.perf_counter()
            with self.tracer.span(f"plans.{name}.build"):
                df = self.QUERIES[name](self.spark, self.data)
            with self.tracer.span(f"plans.{name}.serve"):
                self.results[name] = df.toPandas()
            return time.perf_counter() - t0

    def warm(self) -> None:
        self._run(WAREHOUSE_QUERIES[0])

    def step(self) -> None:
        if not self.pending:
            self.pending = [WAREHOUSE_QUERIES[i] for i in self.order.permutation(len(WAREHOUSE_QUERIES))]
        name = self.pending.pop()
        dt = self.attempt(name, self._run, name)
        if dt is None:
            return
        self.ops.append(dt)
        self.by_query.setdefault(name, []).append(dt)
        self._pass += dt
        if not self.pending:
            self.passes.append(self._pass)
            self._pass = 0.0

    def round_done(self) -> bool:
        return not self.pending

    def _check_one(self, name: str) -> None:
        from citybikedatawarehouse_spark.schemas import TESTDATA_TABLES

        self.attempted += 1
        if name not in self.results:
            self.fail(f"{name}: no result")
            return
        why = checks.oracle_mismatch(self.results[name], self.ORACLES[name], self.data, TESTDATA_TABLES)
        if why:
            self.fail(f"{name} oracle check: {why}")

    def finish(self) -> None:
        if not self.tracer.enabled:
            return
        for name in CURATION_QUERIES:
            self.attempt(name, self._run, name)

    def check(self) -> None:
        for name in WAREHOUSE_QUERIES:
            self._check_one(name)
        for name in CURATION_QUERIES:
            if name in self.results:
                self._check_one(name)

    def summary(self) -> dict:
        out = {
            "input_rows": self.rows,
            "query_p50_s": {q: stats.median(v) for q, v in self.by_query.items()},
        }
        if self.passes:
            out["pass_p50_s"] = stats.median(self.passes)
            out["passes"] = len(self.passes)
        return out


class EtlLoad(Workload):
    """Repeated full loads of one seeded ride CSV into the star schema
    on parquet. One operation = ``run_citibike_etl`` from the CSV to
    the five written tables."""

    name = "etl_load"

    def setup(self, spark, work_dir: str) -> None:
        from citybikedatawarehouse_spark.etl import run_citibike_etl

        self.spark = spark
        self.run_etl = run_citibike_etl
        self.csv = os.path.join(work_dir, "rides.csv")
        self.out = os.path.join(work_dir, "warehouse")
        self.expected = gen.write_ride_csv(self.csv, self.seed, ETL_ROWS)
        self.loads = 0

    def _load(self) -> float:
        # the pipeline leaves its ride scan cached; every load must
        # read the CSV, not the previous load's cache
        self.spark.catalog.clearCache()
        dt, _, _ = self.timed("etl.run_citibike_etl", self.run_etl, self.spark, self.csv, self.out)
        return dt

    def warm(self) -> None:
        self._load()

    def step(self) -> None:
        self.loads += 1
        dt = self.attempt("etl load", self._load)
        if dt is not None:
            self.ops.append(dt)

    def round_done(self) -> bool:
        return self.loads % ETL_ROUND == 0

    def finish(self) -> None:
        """In traced runs, each builder the pipeline composes, run
        alone to a noop sink from an uncached CSV read."""
        if not self.tracer.enabled:
            return
        from citybikedatawarehouse_spark.operators.dims import build_date_dim, build_station_dim
        from citybikedatawarehouse_spark.operators.fact import build_ride_fact
        from citybikedatawarehouse_spark.sources.readers import read_ride_csv

        def noop(df) -> None:
            df.write.format("noop").mode("overwrite").save()

        def rides():
            return read_ride_csv(self.spark, self.csv)

        self.spark.catalog.clearCache()
        for _ in range(3):
            self.timed("sources.readers.read_ride_csv", lambda: noop(rides()))
            self.timed("operators.dims.build_date_dim", lambda: noop(build_date_dim(rides())))
            self.timed("operators.dims.build_station_dim", lambda: noop(build_station_dim(rides())))
            self.timed(
                "operators.fact.build_ride_fact",
                lambda: noop(build_ride_fact(rides(), keep_partition_cols=True)),
            )

    def check(self) -> None:
        from pyspark.sql import functions as F

        exp = self.expected

        def read(table):
            return self.spark.read.parquet(os.path.join(self.out, table))

        want = {
            "member_dimension": exp["n_member_types"],
            "rideable_dimension": exp["n_rideable_types"],
            "station_dimension": exp["n_station_rows"],
            "date_dimension": exp["n_timestamps"],
            "ride_fact": exp["n_fact_rows"],
        }
        for table, n in want.items():
            self.attempted += 1
            got = read(table).count()
            if got != n:
                self.fail(f"etl {table}: {got} rows, expected {n}")
        # the pinned rides, found through their unique start instants
        pins = {p["started_at"]: p for p in exp["pinned"]}
        rows = (
            read("date_dimension")
            .where(F.date_format("date", "yyyy-MM-dd HH:mm:ss.SSS").isin(list(pins)))
            .select(
                F.date_format("date", "yyyy-MM-dd HH:mm:ss.SSS").alias("started_at"),
                F.col("id").alias("start_date_id"),
            )
            .join(read("ride_fact"), "start_date_id")
            .select("started_at", "trip_duration", "distance", "speed")
            .collect()
        )
        found: dict[str, list] = {}
        for r in rows:
            found.setdefault(r["started_at"], []).append(r)
        for started, pin in pins.items():
            self.attempted += 1
            got = found.get(started, [])
            ok = (
                len(got) == 1
                and got[0]["trip_duration"] == pin["trip_duration"]
                and checks.close(got[0]["distance"], pin["distance"])
                and checks.close(got[0]["speed"], pin["speed"])
            )
            if not ok:
                self.fail(f"etl pinned ride at {started}: {got} != {pin}")

    def summary(self) -> dict:
        out = {"csv_rows": ETL_ROWS, "csv_bytes": os.path.getsize(self.csv)}
        if self.ops:
            out["load_rows_per_s"] = ETL_ROWS / stats.median(self.ops)
        return out


class CommitCycle(Workload):
    """A seeded stream of commits on an orders-shaped file-list table.
    Each cycle is four merges of different shapes and a delete
    (``gen.CommitStream``). Every commit is followed by a
    merge-on-read aggregate (read-after-write) that must match the
    reference model. ``fl_optimize`` runs before the cycle's delete
    and ``fl_compact`` after it. A run ends on a cycle boundary.
    After the run the table is vacuumed to its last ``KEEP_VERSIONS``
    versions and a fresh replica catches up through the change feed.
    One operation = one merge or delete commit."""

    name = "commit_cycle"

    def setup(self, spark, work_dir: str) -> None:
        from citybikedatawarehouse_spark.operators import table_format as tf
        from citybikedatawarehouse_spark.streaming.changes_feed import replicate_changes

        self.spark = spark
        self.tf = tf
        self.replicate = replicate_changes
        self.root = os.path.join(work_dir, "orders")
        self.replica = os.path.join(work_dir, "replica")
        self.batches = os.path.join(work_dir, "batches")
        os.makedirs(self.batches)
        self.stream = gen.CommitStream(self.seed, ORDERS_ROWS, COMMIT_BATCH)
        self.model = gen.OrdersModel()
        initial = self.stream.initial()
        self.model.apply(gen.Op("merge", rows=initial))
        path = os.path.join(self.batches, "initial.parquet")
        pq.write_table(initial, path)
        tf.fl_init(
            spark,
            self.root,
            spark.read.parquet(path),
            key="o_orderkey",
            zorder_by=("o_orderkey",),
            layout_files=ORDERS_LAYOUT_FILES,
        )
        self.user_bytes = 0
        self.new_bytes = 0
        self.reads: list[float] = []
        self.space: list[float] = []
        self.maintenance: dict[str, list[float]] = {}
        self.rewritten: list[float] = []
        self.by_kind: dict[str, list[float]] = {}
        self.catchup_s = None
        self.warmups = 0
        self.seen = stats.tree_files(self.root)

    def _account(self) -> None:
        now = stats.tree_files(self.root)
        self.new_bytes += sum(size for p, size in now.items() if p not in self.seen)
        self.seen = now

    def _referenced_bytes(self) -> int:
        total = sum(os.path.getsize(p) for p in self.tf.fl_manifest(self.root)["path"])
        for d in self.tf.fl_table_props(self.root).get("delete_dirs") or []:
            total += sum(stats.tree_files(d).values())
        return total

    def _commit(self, op: gen.Op, name: str) -> tuple[float, float | None]:
        """(seconds, share of files a merge rewrote) of one commit."""
        path = os.path.join(self.batches, f"{name}.parquet")
        tf = self.tf
        if op.kind == "merge":
            pq.write_table(op.rows, path)
            dt, out, span = self.timed(
                "operators.table_format.fl_merge_upsert",
                lambda: tf.fl_merge_upsert(self.spark, self.root, self.spark.read.parquet(path), "o_orderkey"),
            )
            ratio = out[2] / max(1, out[3])
            if span is not None:
                span.attrs["files_rewritten_ratio"] = ratio
            return dt, ratio
        pq.write_table(pa.table({"o_orderkey": op.keys}), path)
        dt, _, _ = self.timed(
            "operators.table_format.fl_delete",
            lambda: tf.fl_delete(self.spark, self.root, self.spark.read.parquet(path)),
        )
        return dt, None

    def _read(self) -> tuple:
        from pyspark.sql import functions as F

        row = (
            self.tf.fl_read_mor(self.spark, self.root)
            .agg(F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("total"))
            .collect()[0]
        )
        return row["n"], row["total"]

    def _check_read(self, got: tuple, what: str) -> None:
        """The read-after-write aggregate must match the model."""
        self.attempted += 1
        n, total = got
        want_n = len(self.model.rows)
        want_total = sum(r[3] for r in self.model.rows.values())
        if n != want_n or not checks.close(total, want_total):
            self.fail(f"read after {what}: ({n}, {total}) != ({want_n}, {want_total})")

    def _maintain(self, name: str, fn, *args):
        self.attempted += 1
        before = set(self.tf.fl_manifest(self.root)["path"])
        dt, out, span = self.timed(f"operators.table_format.{name}", fn, self.spark, self.root, *args)
        self.maintenance.setdefault(name, []).append(dt)
        if span is not None:
            after = set(self.tf.fl_manifest(self.root)["path"])
            span.attrs["files_removed"] = len(out) if name == "fl_vacuum" else len(before - after)
        return out

    def _cycle_step(self) -> None:
        kind = gen.CommitStream.KINDS[self.stream.i % CYCLE]
        op = self.stream.next()
        dt, ratio = self._commit(op, f"op{self.stream.i:05d}")
        if ratio is not None:
            self.rewritten.append(ratio)
        self.by_kind.setdefault(kind, []).append(dt)
        self.model.apply(op)
        self.user_bytes += op.user_bytes
        self.ops.append(dt)
        self._account()

        dt, got, span = self.timed("operators.table_format.fl_read_mor", self._read)
        self.reads.append(dt)
        if span is not None:
            span.attrs["files_read"] = len(self.tf.fl_manifest(self.root))
        self._check_read(got, f"commit {self.stream.i}")

        # maintenance: bin-pack the small files the cycle's appends left,
        # then fold the cycle's delete
        if self.stream.i % CYCLE == CYCLE - 1:
            self._maintain("fl_optimize", self.tf.fl_optimize, ORDERS_ROWS // ORDERS_LAYOUT_FILES // 2)
            self._account()
        elif self.stream.i % CYCLE == 0:
            before = self._referenced_bytes()
            self._maintain("fl_compact", self.tf.fl_compact)
            self.space.append(before / self._referenced_bytes())
            self._account()

    def step(self) -> None:
        self.attempt(f"commit {self.stream.i + 1}", self._cycle_step)

    def round_done(self) -> bool:
        return self.stream.i % CYCLE == 0

    def warm(self) -> None:
        """Two commits from outside the stream, each read back, so the
        window starts on a cycle boundary and holds whole cycles."""
        for op in self.stream.warmup():
            self.warmups += 1
            self._commit(op, f"warmup{self.warmups}")
            self.model.apply(op)
            self._check_read(self._read(), "warm-up commit")
        self.seen = stats.tree_files(self.root)

    def _catch_up(self) -> None:
        # force: the retention horizon would otherwise keep every
        # version of a run this short
        self._maintain("fl_vacuum", self.tf.fl_vacuum, KEEP_VERSIONS, 168.0, True)
        self.catchup_s, n, span = self.timed(
            "streaming.changes_feed.replicate_changes",
            self.replicate,
            self.spark,
            self.root,
            self.replica,
        )
        if span is not None:
            span.attrs["batches"] = n

    def finish(self) -> None:
        self.attempt("vacuum and replica catch-up", self._catch_up)

    def _matches_model(self, root: str, what: str) -> None:
        self.attempted += 1
        got = pa.Table.from_pandas(self.tf.fl_read_mor(self.spark, root).toPandas(), preserve_index=False)
        if gen.table_digest(got.select(gen.ORDER_SCHEMA.names)) != gen.table_digest(self.model.table()):
            self.fail(f"{what} differs from the reference model ({got.num_rows} rows vs {len(self.model.rows)})")

    def check(self) -> None:
        self._matches_model(self.root, "final snapshot")
        self._matches_model(self.replica, "replica")

    def summary(self) -> dict:
        out = {
            "table_rows": ORDERS_ROWS,
            "commit_batch_rows": COMMIT_BATCH,
            "commits": self.stream.i,
            "write_amp": self.new_bytes / max(1, self.user_bytes),
            "replica_catchup_s": self.catchup_s,
            "commit_p50_s_by_kind": {k: stats.median(v) for k, v in self.by_kind.items()},
        }
        for key, vals in (
            ("snapshot_read_p50_s", self.reads),
            ("space_amp", self.space),
            ("files_rewritten_ratio", self.rewritten),
            *((f"{k}_p50_s", v) for k, v in self.maintenance.items()),
        ):
            if vals:
                out[key] = stats.median(vals)
        return out


WORKLOADS = {w.name: w for w in (EtlLoad, WarehouseQueries, CommitCycle)}
