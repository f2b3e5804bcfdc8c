"""Golden tests for the citibike star-schema ETL (SURVEY.md section 5
item 2): reference-shaped fixture CSV through the full pipeline,
asserting dimension cardinalities, fact counts, hand-computed
measures, null/zero edge semantics, ISO weeks, key determinism, and
derive-vs-join strategy equivalence."""

from __future__ import annotations

import math

import pytest

from citybikedatawarehouse_spark.etl import run_citibike_etl
from citybikedatawarehouse_spark.operators.fact import build_ride_fact
from citybikedatawarehouse_spark.sources.readers import (
    read_ride_csv,
    timestamp_parse_audit,
)
from tests.citibike_fixture import PINNED, write_fixture


@pytest.fixture(scope="module")
def fixture(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("citibike") / "rides.csv")
    expected = write_fixture(path)
    return path, expected


@pytest.fixture(scope="module")
def etl(spark, fixture):
    path, expected = fixture
    return run_citibike_etl(spark, path, out_dir=None), expected


def _haversine(lat1, lng1, lat2, lng2):
    r = 6371.0
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dp, dl = math.radians(lat2 - lat1), math.radians(lng2 - lng1)
    a = math.sin(dp / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2
    return 2 * r * math.asin(math.sqrt(a))


def test_dimension_cardinalities(etl):
    result, expected = etl
    assert result.tables["member_dimension"].count() == expected["n_member_types"]
    assert result.tables["rideable_dimension"].count() == expected["n_rideable_types"]
    assert result.tables["station_dimension"].count() == expected["n_station_rows"]
    assert result.tables["date_dimension"].count() == expected["n_timestamps"]


def test_fact_count_and_schema(etl):
    result, expected = etl
    fact = result.tables["ride_fact"]
    assert fact.count() == expected["n_rows"]
    assert set(fact.columns) == {
        "member_type_id",
        "rideable_type_id",
        "start_station_id",
        "end_station_id",
        "start_date_id",
        "end_date_id",
        "trip_duration",
        "distance",
        "speed",
        "year",
        "month",
    }


def test_pinned_measures(spark, fixture):
    """Hand-computed duration/haversine/speed on the pinned row."""
    path, _ = fixture
    rides = read_ride_csv(spark, path)
    fact = build_ride_fact(rides, keep_partition_cols=False, dedup=False)
    # identify the pinned row via its unique start timestamp key
    from citybikedatawarehouse_spark.functions.keys import surrogate_key
    from pyspark.sql import functions as F

    key = (
        rides.filter(F.col("ride_id") == PINNED["ride_id"])
        .select(surrogate_key("started_at").alias("k"))
        .collect()[0]["k"]
    )
    row = fact.filter(F.col("start_date_id") == key).collect()[0]

    dur = 20 * 60 + 30.25  # 08:00:00.500 -> 08:20:30.750
    assert row["trip_duration"] == int(dur)
    s, e = PINNED["start"], PINNED["end"]
    dist = _haversine(s[1], s[2], e[1], e[2])
    assert row["distance"] == pytest.approx(dist, abs=1e-9)
    assert row["speed"] == pytest.approx(dist / (dur / 3600.0), abs=1e-9)


def test_zero_duration_speed_is_zero(spark, fixture):
    path, _ = fixture
    rides = read_ride_csv(spark, path)
    from pyspark.sql import functions as F

    fact = build_ride_fact(rides, dedup=False)
    joined = (
        rides.filter(F.col("ride_id") == "ridezero00000002")
        .select(F.col("started_at"))
        .collect()
    )
    assert joined  # row survived lenient parse
    zero = fact.filter(F.col("trip_duration") == 0).collect()
    assert zero and all(r["speed"] == 0.0 for r in zero)


def test_null_end_semantics(spark, fixture):
    """Fully-null end -> null end_station_id, null distance, speed 0
    (the reference's fillna/replace coercion, v4:280)."""
    path, _ = fixture
    from pyspark.sql import functions as F

    rides = read_ride_csv(spark, path)
    fact = build_ride_fact(rides, dedup=False)
    null_end = fact.filter(F.col("distance").isNull()).collect()
    assert len(null_end) == 1
    assert null_end[0]["end_station_id"] is None
    assert null_end[0]["speed"] == 0.0


def test_iso_week(etl):
    """2024-12-30 is ISO week 1 (of 2025) — pandas isocalendar parity."""
    result, _ = etl
    from pyspark.sql import functions as F

    row = (
        result.tables["date_dimension"]
        .filter(F.col("date") == "2024-12-30 08:00:00.100")
        .collect()
    )
    assert row and row[0]["week"] == 1 and row[0]["year"] == 2024


def test_lenient_parse_audit(spark, tmp_path):
    """A malformed timestamp nulls (and is counted), instead of the
    reference's hard crash."""
    import csv as csvmod

    from tests.citibike_fixture import HEADER

    path = str(tmp_path / "bad.csv")
    with open(path, "w", newline="") as f:
        w = csvmod.writer(f, delimiter=";")
        w.writerow(HEADER)
        w.writerow(
            ["r1", "classic_bike", "not-a-timestamp", "2025-01-01 10:00:00",
             "A", "S1", "B", "S2", "40.7", "-74.0", "40.71", "-74.01", "member"]
        )
    raw = read_ride_csv(spark, path, parse_timestamps=False)
    audit = timestamp_parse_audit(raw)
    assert audit == {"started_at": 1, "ended_at": 0}
    parsed = read_ride_csv(spark, path)
    assert parsed.count() == 1  # row kept


def test_strict_parse_mode(spark, tmp_path):
    """strict=True restores the reference's fail-fast contract
    (check_and_create_db_v4.py:184): an unparseable timestamp raises
    at execution time with the offending value in the message, while
    the lenient default keeps the row. Fraction-less rows — the 97
    rows the reference's '%f' format crashes on — parse fine in BOTH
    modes here (the documented strictly-dominating deviation): strict
    only rejects values no supported rendering can parse."""
    import csv as csvmod

    import pytest

    from tests.citibike_fixture import HEADER

    # file 1: genuinely unparseable value -> strict raises, lenient keeps
    bad = str(tmp_path / "bad_strict.csv")
    with open(bad, "w", newline="") as f:
        w = csvmod.writer(f, delimiter=";")
        w.writerow(HEADER)
        w.writerow(
            ["r1", "classic_bike", "not-a-timestamp", "2025-01-01 10:00:00",
             "A", "S1", "B", "S2", "40.7", "-74.0", "40.71", "-74.01",
             "member"]
        )
    assert read_ride_csv(spark, bad).count() == 1  # lenient twin
    # NB: collect(), not count() — the guard lives in the parse
    # expression, and Catalyst column-prunes it out of a bare count
    with pytest.raises(Exception, match="not-a-timestamp"):
        read_ride_csv(spark, bad, strict=True).collect()

    # file 2: fraction-less + fractional mix -> both modes keep both
    mixed = str(tmp_path / "mixed_strict.csv")
    with open(mixed, "w", newline="") as f:
        w = csvmod.writer(f, delimiter=";")
        w.writerow(HEADER)
        w.writerow(
            ["r2", "classic_bike", "2025-01-01 09:00:00",
             "2025-01-01 10:00:00.250", "A", "S1", "B", "S2",
             "40.7", "-74.0", "40.71", "-74.01", "member"]
        )
        w.writerow(
            ["r3", "electric_bike", "2025-01-01 09:30:00.125",
             "2025-01-01 09:45:00", "A", "S1", "B", "S2",
             "40.7", "-74.0", "40.71", "-74.01", "casual"]
        )
    strict_rows = read_ride_csv(spark, mixed, strict=True).collect()
    assert len(strict_rows) == 2
    assert all(
        r["started_at"] is not None and r["ended_at"] is not None
        for r in strict_rows
    )


def test_key_determinism_and_uuid_mode(spark, fixture):
    path, _ = fixture
    result1 = run_citibike_etl(spark, path)
    result2 = run_citibike_etl(spark, path)
    ids1 = sorted(r["id"] for r in result1.tables["member_dimension"].collect())
    ids2 = sorted(r["id"] for r in result2.tables["member_dimension"].collect())
    assert ids1 == ids2  # sha2 keys reproducible

    uuid_res = run_citibike_etl(spark, path, key_mode="uuid", fact_strategy="join")
    uuid_ids = [r["id"] for r in uuid_res.tables["member_dimension"].collect()]
    assert len(uuid_ids) == len(ids1) and set(uuid_ids) != set(ids1)

    # derived fact keys are sha2: they could never match a uuid key
    with pytest.raises(ValueError, match="uuid"):
        run_citibike_etl(spark, path, key_mode="uuid")


def test_uuid_join_written_keys_resolve(spark, fixture, tmp_path):
    """A uuid depends on the task that drew it, so the fact must join
    the dimensions as written, not re-evaluate them: the returned
    dimensions are the written ones, the fact reads them, and all six
    FKs of the written fact resolve against the written dimensions."""
    from citybikedatawarehouse_spark.operators.validation import (
        citibike_star_checks,
    )

    path, expected = fixture
    out = str(tmp_path / "warehouse")
    result = run_citibike_etl(
        spark, path, out_dir=out, key_mode="uuid", fact_strategy="join"
    )
    for name, df in result.tables.items():
        if name != "ride_fact":
            assert all(f"/{name}/" in f for f in df.inputFiles()), name
            assert any(f"/{name}/" in f for f in result.tables["ride_fact"].inputFiles())
    written = {name: spark.read.parquet(f"{out}/{name}") for name in result.tables}
    assert written["ride_fact"].count() == expected["n_rows"]
    ids = [r["id"] for r in written["member_dimension"].collect()]
    assert all(len(i) == 36 for i in ids)  # uuid, not sha2 hex
    report = citibike_star_checks(written).collect()
    bad = {r["constraint_name"]: r["violations"] for r in report if r["violations"]}
    assert bad == {}, f"unexpected violations: {bad}"


def test_join_strategy_matches_derive(spark, fixture):
    """The broadcast-join fact build (reference parity path) must
    produce exactly the derive-mode output when dims use sha2 keys."""
    path, _ = fixture
    from citybikedatawarehouse_spark.operators.dims import (
        build_date_dim,
        build_member_dim,
        build_rideable_dim,
        build_station_dim,
    )

    rides = read_ride_csv(spark, path)
    dims = {
        "member": build_member_dim(rides),
        "rideable": build_rideable_dim(rides),
        "station": build_station_dim(rides),
        "date": build_date_dim(rides),
    }
    derive = build_ride_fact(rides, strategy="derive")
    join = build_ride_fact(rides, strategy="join", dims=dims)
    rows_d = sorted(map(str, derive.collect()))
    rows_j = sorted(map(str, join.collect()))
    assert rows_d == rows_j


def test_parquet_write_partitioned(spark, fixture, tmp_path):
    import os

    path, _ = fixture
    out = str(tmp_path / "warehouse")
    result = run_citibike_etl(spark, path, out_dir=out)
    assert os.path.isdir(f"{out}/ride_fact")
    parts = [p for p in os.listdir(f"{out}/ride_fact") if p.startswith("year=")]
    assert parts  # partitioned layout materialized
    # each written table holds exactly the rows of the returned one
    assert len(result.tables) == 5
    for name, df in result.tables.items():
        written = spark.read.parquet(f"{out}/{name}").select(*df.columns)
        assert sorted(map(repr, written.collect())) == sorted(
            map(repr, df.collect())
        ), name


def test_load_jobs_attributed_and_cache_free(spark, fixture, tmp_path):
    """Every job of a load runs under the caller's job group, even
    though the five tables are written from their own threads; the
    job count is pinned (a change in it is a regression signal); and
    the load leaves nothing persisted."""
    path, _ = fixture
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    spark.catalog.clearCache()
    persisted = set(sc._jsc.getPersistentRDDs().keySet())
    ungrouped = set(tracker.getJobIdsForGroup(None))
    group = "test-etl-attribution"
    sc.setJobGroup(group, "etl load")
    try:
        run_citibike_etl(spark, path, out_dir=str(tmp_path / "warehouse"))
    finally:
        sc._jsc.clearJobGroup()
    assert len(tracker.getJobIdsForGroup(group)) == 10
    assert not set(tracker.getJobIdsForGroup(None)) - ungrouped
    assert set(sc._jsc.getPersistentRDDs().keySet()) == persisted
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _write_bad_timestamp_csv(path):
    """Two rides, the second with an unparseable start timestamp."""
    import csv as csvmod

    from tests.citibike_fixture import HEADER

    with open(path, "w", newline="") as f:
        w = csvmod.writer(f, delimiter=";")
        w.writerow(HEADER)
        w.writerow(
            ["r1", "classic_bike", "2025-01-01 09:00:00",
             "2025-01-01 10:00:00", "A", "S1", "B", "S2",
             "40.7", "-74.0", "40.71", "-74.01", "member"]
        )
        w.writerow(
            ["r2", "electric_bike", "garbage-ts", "2025-01-01 11:00:00",
             "A", "S1", "B", "S2", "40.7", "-74.0", "40.71", "-74.01",
             "casual"]
        )


def test_etl_strict_mode_passthrough(spark, tmp_path):
    """strict=True on the pipeline surfaces the reader's fail-fast
    contract end-to-end: a bad timestamp kills the ETL; the default
    lenient run completes on the same file."""
    path = str(tmp_path / "etl_bad.csv")
    _write_bad_timestamp_csv(path)
    lenient = run_citibike_etl(spark, path)
    assert lenient.tables["ride_fact"].count() == 2  # rows kept
    with pytest.raises(Exception, match="garbage-ts"):
        run_citibike_etl(spark, path, strict=True).tables[
            "ride_fact"
        ].collect()


def test_etl_strict_mode_write_fails_cleanly(spark, tmp_path):
    """With an output directory, a strict load raises the bad value's
    error, and only after every sibling table write has stopped."""
    path = str(tmp_path / "etl_bad.csv")
    _write_bad_timestamp_csv(path)
    with pytest.raises(Exception, match="garbage-ts"):
        run_citibike_etl(spark, path, out_dir=str(tmp_path / "wh"), strict=True)
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []


def test_fact_written_after_dimensions(spark, fixture, tmp_path, monkeypatch):
    """The four dimension writes run side by side; the fact's write
    starts only after all of them have finished."""
    import os
    import time

    from citybikedatawarehouse_spark import etl
    from citybikedatawarehouse_spark.sources.writers import write_parquet

    spans = {}

    def timed_write(df, path, **kwargs):
        start = time.monotonic()
        write_parquet(df, path, **kwargs)
        spans[os.path.basename(path)] = (start, time.monotonic())

    monkeypatch.setattr(etl, "write_parquet", timed_write)
    path, _ = fixture
    run_citibike_etl(spark, path, out_dir=str(tmp_path / "wh"))
    fact_start, _ = spans.pop("ride_fact")
    assert len(spans) == 4
    assert all(end <= fact_start for _, end in spans.values())
