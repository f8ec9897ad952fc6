"""Golden tests for the flagship query on a hand-computable trips fixture.

Covers every edge case the reference's filters exercise (FIXTURES.md §1):
header row, short row, non-int VendorID, blank line, trip_distance <= 0,
zero duration → ±Infinity skipped, negative duration → negative speed
INCLUDED, and a file whose empty weekdays contribute 0.0 while the file
still counts in the denominator (Sample.cs:154-199, 226-233)."""

from __future__ import annotations

import pytest

from durablefunctions_mapreduce_dotnet_spark.operators.flagship import (
    flagship_trips,
    global_avg_by_dow,
    trips_records,
)
from durablefunctions_mapreduce_dotnet_spark.sources.trips import (
    list_csv_files,
    read_trips_csv_faithful,
)

HEADER = (
    "VendorID,tpep_pickup_datetime,tpep_dropoff_datetime,passenger_count,trip_distance,"
    "RatecodeID,store_and_fwd_flag,PULocationID,DOLocationID,payment_type,fare_amount,"
    "extra,mta_tax,tip_amount,tolls_amount,improvement_surcharge,total_amount"
)


def row(vendor, pickup, dropoff, distance):
    return f"{vendor},{pickup},{dropoff},1,{distance},1,N,1,2,1,10,0,0.5,1,0,0.3,12"


# 2017-01-01 is a Sunday (dow 0); 01-02 Monday (1); 01-03 Tuesday (2).
FILE1 = [
    HEADER,
    row(1, "2017-01-01 00:00:00", "2017-01-01 01:00:00", 10),  # Sun, speed 10
    row(2, "2017-01-01 10:00:00", "2017-01-01 10:30:00", 5),  # Sun, speed 10
    row(1, "2017-01-02 00:00:00", "2017-01-02 02:00:00", 30),  # Mon, speed 15
]
FILE2 = [
    HEADER,
    "1,2,3",  # short row -> skipped
    row("abc", "2017-01-01 00:00:00", "2017-01-01 01:00:00", 10),  # non-int vendor -> skipped
    "",  # blank line -> skipped
    row(1, "2017-01-03 00:00:00", "2017-01-03 01:00:00", 0),  # distance 0 -> skipped
    row(1, "2017-01-03 00:00:00", "2017-01-03 01:00:00", -3),  # negative distance -> skipped
    row(1, "2017-01-03 00:00:00", "2017-01-03 00:00:00", 5),  # zero duration -> Inf -> skipped
    row(1, "2017-01-03 02:00:00", "2017-01-03 01:00:00", 7),  # negative duration -> speed -7 INCLUDED
    row(1, "2017-01-03 00:00:00", "2017-01-03 01:00:00", 21),  # Tue, speed 21
]
FILE3 = [
    HEADER,
    row(1, "2017-01-02 00:00:00", "2017-01-02 00:15:00", 3),  # Mon, speed 12
]

# per-file day averages: f1 {Sun:10, Mon:15}, f2 {Tue:(-7+21)/2=7}, f3 {Mon:12}
EXPECTED_FAITHFUL = {
    0: 10 / 3,  # (10+0+0)/3
    1: (15 + 0 + 12) / 3,  # 9.0
    2: 7 / 3,
    3: 0.0,
    4: 0.0,
    5: 0.0,
    6: 0.0,
}
EXPECTED_GLOBAL = {0: 10.0, 1: 13.5, 2: 7.0}


@pytest.fixture(scope="module")
def trips_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("trips")
    for i, lines in enumerate([FILE1, FILE2, FILE3], 1):
        (d / f"trips-{i:02d}.csv").write_text("\n".join(lines) + "\n")
    return str(d)


def test_faithful_golden(spark, trips_dir):
    trips = read_trips_csv_faithful(spark, trips_dir + "/trips-*.csv")
    result = {r["dow"]: r["avg_speed"] for r in flagship_trips(trips).collect()}
    assert set(result) == set(range(7))
    for dow, want in EXPECTED_FAITHFUL.items():
        assert result[dow] == pytest.approx(want, abs=1e-9), f"dow {dow}"


def test_global_differs_from_faithful(spark, trips_dir):
    trips = read_trips_csv_faithful(spark, trips_dir + "/trips-*.csv")
    got = {r["dow"]: r["avg_speed"] for r in global_avg_by_dow(trips_records(trips)).collect()}
    assert got == pytest.approx(EXPECTED_GLOBAL)
    # the two semantics must disagree where weights differ (Sample.cs:196-233)
    assert got[1] != pytest.approx(EXPECTED_FAITHFUL[1])


def test_validity_filter_counts(spark, trips_dir):
    trips = read_trips_csv_faithful(spark, trips_dir + "/trips-*.csv")
    # 3 + 8 + 1 data lines, minus 3 headers... rows passing F1 only:
    # file1: 3, file2: short/non-int/blank dropped -> 5 of 8, file3: 1
    assert trips.count() == 9
    # after F2 (distance>0) and F3 (finite): file1 3, file2 2, file3 1
    assert trips_records(trips).count() == 6


def test_partition_invariance_of_faithful(spark, trips_dir):
    """Re-partitioning must not change the answer (the reference's racy
    reducer breaks this; ours must not) — Sample.cs:218-224."""
    trips = read_trips_csv_faithful(spark, trips_dir + "/trips-*.csv")
    a = flagship_trips(trips).collect()
    b = flagship_trips(trips.repartition(13)).collect()
    assert [(r["dow"], r["avg_speed"]) for r in a] == [(r["dow"], r["avg_speed"]) for r in b]


def test_result_string_faithful_is_byte_exact_dotnet_format(spark):
    """VERDICT r2 #5: the faithful variant must render Sample.cs:225-233's
    LITERAL template — stray space in "Tue :", lowercase "wed", full-
    precision .NET double rendering — byte-for-byte."""
    from durablefunctions_mapreduce_dotnet_spark.operators.flagship import (
        flagship_events,
    )
    from durablefunctions_mapreduce_dotnet_spark.queries.flagship_q import (
        dotnet_double_str,
        q_flagship_result_string_faithful,
    )
    from durablefunctions_mapreduce_dotnet_spark.sources.readers import read_table
    from .conftest import SF_DIR

    vals = {
        r["dow"]: r["avg_speed"]
        for r in flagship_events(read_table(spark, SF_DIR, "events")).collect()
    }
    # the reference's format string, verbatim (Sample.cs:225)
    template = "Sun: {0}, Mon: {1}, Tue : {2}, wed: {3}, Thu: {4}, Fri: {5}, Sat: {6}"
    expected = template.format(*[dotnet_double_str(vals[d]) for d in range(7)])
    got = q_flagship_result_string_faithful(spark, SF_DIR).collect()[0]["result"]
    assert got == expected


def test_dotnet_double_str_rules():
    from durablefunctions_mapreduce_dotnet_spark.queries.flagship_q import (
        dotnet_double_str,
    )

    assert dotnet_double_str(23.0) == "23"          # no trailing .0
    assert dotnet_double_str(0.0) == "0"
    assert dotnet_double_str(12.3456) == "12.3456"  # shortest round-trip
    assert dotnet_double_str(0.1 + 0.2) == "0.30000000000000004"
    assert dotnet_double_str(1.5e-5) == "1.5E-05"   # uppercase exponent


def _by_dow(df):
    return [(r["dow"], r["avg_speed"]) for r in df.collect()]


def test_every_listed_file_counts_like_the_oracle(spark, tmp_path):
    """The listing universe is every file the path matches (Sample.cs:119),
    as in the DuckDB oracle's ``read_text``: a valid Sunday trip at 10 mph
    in a.csv, a valid Monday trip at 20 mph in ``sp ace.csv`` (its
    URI-encoded name must match between listing and scan), header-only
    b.csv and 0-byte c.csv make 4 files in the denominator."""
    import duckdb

    from durablefunctions_mapreduce_dotnet_spark.queries.flagship_q import (
        _CSV_FAITHFUL_SQL,
        _TRIPS_GLOB,
    )

    (tmp_path / "a.csv").write_text(
        HEADER + "\n" + row(1, "2017-01-01 00:00:00", "2017-01-01 01:00:00", 10) + "\n"
    )
    (tmp_path / "b.csv").write_text(HEADER + "\n")
    (tmp_path / "c.csv").write_text("")
    (tmp_path / "sp ace.csv").write_text(
        HEADER + "\n" + row(1, "2017-01-02 00:00:00", "2017-01-02 01:00:00", 20) + "\n"
    )
    glob = str(tmp_path / "*.csv")
    got = _by_dow(
        flagship_trips(read_trips_csv_faithful(spark, glob), files=list_csv_files(spark, glob))
    )
    assert got == [(0, 2.5), (1, 5.0)] + [(d, 0.0) for d in range(2, 7)]
    oracle = duckdb.connect().execute(_CSV_FAITHFUL_SQL.replace(_TRIPS_GLOB, glob)).df()
    assert got == list(zip(oracle["dow"].tolist(), oracle["avg_speed"].tolist()))


def test_header_only_listed_files_give_seven_zero_rows(spark, tmp_path):
    for name in ("x.csv", "y.csv"):
        (tmp_path / name).write_text(HEADER + "\n")
    glob = str(tmp_path / "*.csv")
    got = _by_dow(
        flagship_trips(read_trips_csv_faithful(spark, glob), files=list_csv_files(spark, glob))
    )
    assert got == [(d, 0.0) for d in range(7)]


def test_empty_trips_without_listing_give_no_rows(spark, tmp_path):
    (tmp_path / "x.csv").write_text(HEADER + "\n")
    trips = read_trips_csv_faithful(spark, str(tmp_path / "*.csv"))
    assert flagship_trips(trips).collect() == []


def test_output_is_ordered_by_dow(spark, trips_dir):
    trips = read_trips_csv_faithful(spark, trips_dir + "/trips-*.csv")
    assert [d for d, _ in _by_dow(flagship_trips(trips.repartition(5)))] == list(range(7))
