"""ride_fact builder.

Re-expresses the reference fact assembly (/root/reference/src/
check_and_create_db_v4.py:238-295: six left joins + measures + dedup)
with two strategies:

  * derive (default): dimension keys are deterministic sha2 of the
    natural key, so the fact computes them directly — ZERO joins,
    zero shuffles for the enrichment step. At 100 TB this turns the
    most expensive part of the reference pipeline into a map-only
    stage.
  * join: behavioral parity mode — broadcast left joins against the
    four dimensions (dims are small: 2-280 rows in the reference
    data; even at 100 TB of rides, stations/members/rideables stay
    broadcast-size, only the date dim can grow and it joins on the
    timestamp key).

Measures (SURVEY.md section 2.3 ops 26-29):
  trip_duration: seconds ended-started (fraction kept, INT at write)
  distance:      haversine km of start->end coords
  speed:         km/h with null/NaN/inf -> 0 coercion
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from citybikedatawarehouse_spark.functions.geo import haversine_km
from citybikedatawarehouse_spark.functions.keys import surrogate_key
from citybikedatawarehouse_spark.functions.measures import (
    duration_seconds,
    speed_kmh,
)

_FACT_COLS = (
    "member_type_id",
    "rideable_type_id",
    "start_station_id",
    "end_station_id",
    "start_date_id",
    "end_date_id",
    "trip_duration",
    "distance",
    "speed",
)


def _with_measures(rides: DataFrame) -> DataFrame:
    dur = duration_seconds("started_at", "ended_at")
    dist = haversine_km("start_lat", "start_lng", "end_lat", "end_lng")
    # one projection: speed takes the fractional duration, the column
    # keeps its INT cast
    return rides.withColumns(
        {
            "trip_duration": dur.cast("int"),
            "distance": dist,
            "speed": speed_kmh(dist, dur),
        }
    )


def build_ride_fact(
    rides: DataFrame,
    strategy: str = "derive",
    dims: dict[str, DataFrame] | None = None,
    dedup: bool = True,
    keep_partition_cols: bool = False,
) -> DataFrame:
    """Assemble ride_fact. ``dims`` is required for strategy='join'
    (keys 'member', 'rideable', 'station', 'date', as built with
    uuid or sha2 keys — the join resolves whatever ids they carry).

    ``keep_partition_cols`` appends (year, month) of started_at for
    partitioned Parquet writes — the 100 TB layout (partition pruning
    on time predicates); the reference's unpartitioned heap table has
    no equivalent.
    """
    enriched = _with_measures(rides)
    if strategy == "derive":
        fact = enriched.select(
            surrogate_key("member_casual").alias("member_type_id"),
            surrogate_key("rideable_type").alias("rideable_type_id"),
            surrogate_key("start_station_name", "start_lat", "start_lng").alias(
                "start_station_id"
            ),
            F.when(
                F.col("end_station_name").isNull()
                & F.col("end_lat").isNull()
                & F.col("end_lng").isNull(),
                F.lit(None).cast("string"),
            )
            .otherwise(
                surrogate_key("end_station_name", "end_lat", "end_lng")
            )
            .alias("end_station_id"),
            surrogate_key("started_at").alias("start_date_id"),
            surrogate_key("ended_at").alias("end_date_id"),
            "trip_duration",
            "distance",
            "speed",
            "started_at",
        )
    elif strategy == "join":
        if not dims:
            raise ValueError("strategy='join' requires dims")
        # the raw CSV station codes collide with the fact's FK names
        enriched = enriched.drop("start_station_id", "end_station_id")
        member = dims["member"].select(
            F.col("id").alias("member_type_id"), F.col("type").alias("__m_type")
        )
        rideable = dims["rideable"].select(
            F.col("id").alias("rideable_type_id"), F.col("type").alias("__r_type")
        )
        station_s = dims["station"].select(
            F.col("id").alias("start_station_id"),
            F.col("name").alias("__ss_name"),
            F.col("latitude").alias("__ss_lat"),
            F.col("longitude").alias("__ss_lng"),
        )
        station_e = dims["station"].select(
            F.col("id").alias("end_station_id"),
            F.col("name").alias("__es_name"),
            F.col("latitude").alias("__es_lat"),
            F.col("longitude").alias("__es_lng"),
        )
        date_s = dims["date"].select(
            F.col("id").alias("start_date_id"), F.col("date").alias("__sd")
        )
        date_e = dims["date"].select(
            F.col("id").alias("end_date_id"), F.col("date").alias("__ed")
        )
        fact = (
            enriched.join(
                F.broadcast(member),
                enriched.member_casual == member.__m_type,
                "left",
            )
            .join(
                F.broadcast(rideable),
                enriched.rideable_type == rideable.__r_type,
                "left",
            )
            .join(
                F.broadcast(station_s),
                (enriched.start_station_name.eqNullSafe(station_s.__ss_name))
                & (enriched.start_lat.eqNullSafe(station_s.__ss_lat))
                & (enriched.start_lng.eqNullSafe(station_s.__ss_lng)),
                "left",
            )
            .join(
                F.broadcast(station_e),
                (enriched.end_station_name.eqNullSafe(station_e.__es_name))
                & (enriched.end_lat.eqNullSafe(station_e.__es_lat))
                & (enriched.end_lng.eqNullSafe(station_e.__es_lng)),
                "left",
            )
            .join(date_s, enriched.started_at == date_s.__sd, "left")
            .join(date_e, enriched.ended_at == date_e.__ed, "left")
            .select(*_FACT_COLS, "started_at")
        )
    else:
        raise ValueError(f"unknown strategy: {strategy}")

    if dedup:
        # the reference dedups the assembled fact (v4:293) because its
        # 6-FK composite grain can collide; same observable semantics
        fact = fact.dropDuplicates(list(_FACT_COLS))
    partition_cols = (
        [F.year("started_at").alias("year"), F.month("started_at").alias("month")]
        if keep_partition_cols
        else []
    )
    return fact.select(*_FACT_COLS, *partition_cols)
