"""The citibike star-schema ETL pipeline — the engine's flagship
end-to-end flow, equivalent in capability to the reference's
`write_csv_to_database` (/root/reference/src/check_and_create_db_v4.py:
139-298) re-designed for Spark:

  * one lazy logical plan per output table, each reading the CSV
    itself with only the columns it needs (no shared cached scan:
    nothing stays persisted after the call);
  * the four dimensions are built and written concurrently, one
    driver thread each, so their Spark jobs overlap instead of
    queueing behind each other's driver time (the reference writes
    its tables one after another); the fact, in a fifth thread, is
    written once every dimension has landed, so a load that fails
    part-way never leaves fact rows whose keys are not yet written;
  * dimension dedup = distributed hash aggregate;
  * the fact build is join-free in 'derive' key mode;
  * outputs are columnar Parquet, fact partitioned by (year, month)
    for partition pruning at scale.

Ingestion note (SURVEY.md section 2.3 op 24): timestamps parse
leniently; rows the reference would crash on (no fractional seconds)
are kept, and the audit counts are returned.
"""

from __future__ import annotations

from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from citybikedatawarehouse_spark.operators.dims import (
    build_date_dim,
    build_member_dim,
    build_rideable_dim,
    build_station_dim,
)
from citybikedatawarehouse_spark.operators.fact import build_ride_fact
from citybikedatawarehouse_spark.sources.readers import read_ride_csv
from citybikedatawarehouse_spark.sources.writers import write_parquet

_DIMENSIONS = {
    "member": ("member_dimension", build_member_dim),
    "rideable": ("rideable_dimension", build_rideable_dim),
    "station": ("station_dimension", build_station_dim),
    "date": ("date_dimension", build_date_dim),
}


@dataclass
class EtlResult:
    tables: dict[str, DataFrame] = field(default_factory=dict)

    def row_counts(self) -> dict[str, int]:
        return {k: v.count() for k, v in self.tables.items()}


def run_citibike_etl(
    spark: SparkSession,
    csv_path: str,
    out_dir: str | None = None,
    key_mode: str = "sha2",
    fact_strategy: str = "derive",
    partition_fact: bool = True,
    strict: bool = False,
) -> EtlResult:
    """CSV -> member/rideable/station/date dims + ride_fact.

    With ``out_dir`` set, writes each table as Parquet (fact
    partitioned by year/month unless disabled); always returns the
    DataFrames for further composition. ``strict=True`` passes the
    reference's fail-fast timestamp-parse contract through to the
    reader (see read_ride_csv): the pipeline dies on the first
    unparseable timestamp instead of null-auditing it.

    Each table is built and written in its own driver thread. The four
    dimension threads run side by side; the fact thread waits for all
    of them, so the fact is written after the dimensions it references
    (and not at all if one of them fails), and then has the executors
    to itself. The threads inherit the caller's job group, local
    properties and tags, so every job of the load is attributed to the
    caller's group. The call returns (or raises the first table's
    error) only after all five threads have finished: no write
    outlives it.

    ``key_mode='uuid'`` keys are random, so the fact cannot derive its
    foreign keys and must join (``fact_strategy='join'``). A uuid
    depends on the task and row order that produced it, so a dimension
    re-evaluated inside the fact's plan is not guaranteed to reproduce
    the keys it wrote. With ``out_dir`` set, the joining fact therefore
    joins the dimensions as written, and those written dimensions are
    what is returned: the written fact's keys resolve against the
    written dimensions by construction.
    """
    if key_mode == "uuid" and fact_strategy == "derive":
        raise ValueError(
            "key_mode='uuid' needs fact_strategy='join': derived keys are "
            "sha2 and would match no uuid dimension key"
        )
    joined = fact_strategy == "join"

    def rides() -> DataFrame:
        return read_ride_csv(spark, csv_path, strict=strict)

    def load_dim(name: str, build) -> DataFrame:
        df = build(rides(), key_mode)
        if out_dir:
            path = f"{out_dir}/{name}"
            write_parquet(df, path)
            if joined:
                # the plan's schema: no footer-inference job per table
                df = spark.read.schema(df.schema).parquet(path)
        return df

    def load_fact(dims: dict[str, Future]) -> DataFrame:
        df = build_ride_fact(
            rides(),
            strategy=fact_strategy,
            # every dimension lands before the fact, whatever the strategy
            dims={k: f.result() for k, f in dims.items()},
            keep_partition_cols=partition_fact,
        )
        if out_dir:
            write_parquet(
                df,
                f"{out_dir}/ride_fact",
                partition_by=("year", "month") if partition_fact else (),
            )
        return df

    # one thread per table; each target is wrapped separately so every
    # thread gets its own copy of the caller's local properties (Spark
    # SQL sets its execution id there while a query runs)
    with ThreadPoolExecutor(max_workers=len(_DIMENSIONS) + 1) as pool:
        dims = {
            key: pool.submit(inheritable_thread_target(spark)(load_dim), name, build)
            for key, (name, build) in _DIMENSIONS.items()
        }
        fact = pool.submit(inheritable_thread_target(spark)(load_fact), dims)
    tables = {name: dims[key].result() for key, (name, _) in _DIMENSIONS.items()}
    tables["ride_fact"] = fact.result()
    return EtlResult(tables=tables)
