"""GTFS operators vs an independent pandas oracle (mirrors the reference's
synthetic in-memory feed, tests/conftest.py:136-258: calendar +
calendar_dates add/remove branches, frequencies headway expansion, extended
>24:00:00 times, blank-time filter path)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from city2graph_spark.operators.transport import (
    build_active_dates,
    frequency_multipliers,
    get_od_pairs,
    load_gtfs,
    service_counts,
    time_to_seconds,
    travel_summary_graph,
)

START, END = "20240101", "20240107"  # Mon Jan 1 2024 … Sun Jan 7


@pytest.fixture(scope="module")
def feed(spark):
    cal = spark.createDataFrame(
        [("S1", "1", "1", "1", "1", "1", "0", "0", START, END),
         ("S2", "0", "0", "0", "0", "0", "1", "1", START, END)],
        "service_id string, monday string, tuesday string, wednesday string, "
        "thursday string, friday string, saturday string, sunday string, "
        "start_date string, end_date string")
    cal_dates = spark.createDataFrame(
        [("S2", "20240103", "1"),   # add Wednesday
         ("S1", "20240102", "2")],  # remove Tuesday
        "service_id string, date string, exception_type string")
    trips = spark.createDataFrame(
        [("T1", "R1", "S1"), ("T2", "R1", "S2"), ("T3", "R2", "S1")],
        "trip_id string, route_id string, service_id string")
    stop_times = spark.createDataFrame(
        [("T1", "A", "1", "08:00:00", "08:00:30"),
         ("T1", "B", "2", "08:10:00", "08:11:00"),
         ("T1", "C", "3", "08:20:00", "08:21:00"),
         ("T2", "B", "1", "23:50:00", "23:55:00"),
         ("T2", "C", "2", "24:10:00", "24:12:00"),   # extended time
         ("T3", "C", "1", "09:00:00", "09:01:00"),
         ("T3", "A", "2", "", "09:30:00"),           # blank arrival
         ("T3", "D", "3", "09:40:00", "09:41:00")],
        "trip_id string, stop_id string, stop_sequence string, "
        "arrival_time string, departure_time string")
    freqs = spark.createDataFrame(
        [("T1", "07:00:00", "08:00:00", "600")],     # multiplier 6
        "trip_id string, start_time string, end_time string, headway_secs string")
    stops = spark.createDataFrame(
        [("A", "A st", "0.0", "0.0"), ("B", "B st", "0.1", "0.1"),
         ("C", "C st", "0.2", "0.2"), ("D", "D st", "0.3", "0.3")],
        "stop_id string, stop_name string, stop_lat string, stop_lon string")
    return dict(calendar=cal, calendar_dates=cal_dates, trips=trips,
                stop_times=stop_times, frequencies=freqs, stops=stops)


def test_load_gtfs_reads_all_varchar_members(spark, tmp_path):
    """``.txt`` wins over ``.csv``, absent members are absent from the
    dict, and every column is a string named by the header row."""
    (tmp_path / "stops.txt").write_text(
        "stop_id,stop_lat,stop_lon\n007,51.5,-0.12\n8,51.6,-0.13\n")
    (tmp_path / "stops.csv").write_text("stop_id,ignored\nX,1\n")
    (tmp_path / "trips.csv").write_text(
        "trip_id,route_id,service_id\nT1,R1,S1\n")
    (tmp_path / "shapes.txt").write_text("shape_id\nSH1\n")
    got = load_gtfs(spark, str(tmp_path))
    assert set(got) == {"stops", "trips"}
    stops, trips = got["stops"], got["trips"]
    assert stops.columns == ["stop_id", "stop_lat", "stop_lon"]
    assert trips.columns == ["trip_id", "route_id", "service_id"]
    for df in (stops, trips):
        assert {t for _, t in df.dtypes} == {"string"}
    assert [tuple(r) for r in stops.orderBy("stop_id").collect()] == [
        ("007", "51.5", "-0.12"), ("8", "51.6", "-0.13")]
    assert [tuple(r) for r in trips.collect()] == [("T1", "R1", "S1")]


def test_time_to_seconds(spark):
    df = spark.createDataFrame(
        [("08:00:00",), ("24:10:00",), ("",), ("nan",), (None,), ("3600",)],
        "t string")
    got = [r.s for r in df.select(time_to_seconds(F.col("t")).alias("s")).collect()]
    assert got == [28800, 87000, None, None, None, None]


def test_active_dates_and_counts(feed):
    ad = build_active_dates(feed["calendar"], feed["calendar_dates"], START, END)
    got = {(r.service_id, str(r.active_date)) for r in ad.collect()}
    # S1: Mon-Fri Jan 1..5 minus removed Jan 2 → 1,3,4,5
    # S2: Sat+Sun Jan 6,7 plus added Jan 3
    assert got == {("S1", "2024-01-01"), ("S1", "2024-01-03"),
                   ("S1", "2024-01-04"), ("S1", "2024-01-05"),
                   ("S2", "2024-01-03"), ("S2", "2024-01-06"),
                   ("S2", "2024-01-07")}
    sc = {r.service_id: r.sc for r in service_counts(ad).collect()}
    assert sc == {"S1": 4, "S2": 3}


def test_frequency_multipliers(feed):
    fm = {r.trip_id: r.multiplier
          for r in frequency_multipliers(feed["trips"], feed["frequencies"]).collect()}
    assert fm == {"T1": 6, "T2": 1, "T3": 1}


def test_travel_summary_graph(feed):
    edges = travel_summary_graph(
        feed["stop_times"], feed["trips"], feed["stops"],
        feed["calendar"], feed["calendar_dates"], feed["frequencies"],
        start_date=START, end_date=END).collect()
    got = {(r.from_stop_id, r.to_stop_id): (r.travel_time_sec, r.frequency)
           for r in edges}
    # T1 legs A→B (570s dep 08:00:30 arr 08:10:00... dep_sec=30+8*3600=28830,
    # next arr=29400 → 570), B→C (541s? dep 08:11:00=29460, arr 08:20:00=29
    # 29400+... let's rely on arithmetic below), sc = 4 days × mult 6 = 24
    assert got[("A", "B")] == (570.0, 24)
    # (B,C) combines T1 (540s × sc 24) with T2's midnight-crossing leg
    # (dep 23:55:00=86100, arr 24:10:00=87000 → 900s × sc 3):
    assert got[("B", "C")] == ((540.0 * 24 + 900.0 * 3) / 27.0, 27)
    # T3's C→A leg has a blank departure at A? arrival at A is blank → leg
    # C→A dropped; A→D survives (dep 09:30:00, arr 09:40:00 → 600s, sc=4)
    assert got[("A", "D")] == (600.0, 4)
    assert ("C", "A") not in got


def test_travel_summary_weighted_merge(feed):
    got = {(r.from_stop_id, r.to_stop_id): (r.travel_time_sec, r.frequency)
           for r in travel_summary_graph(
               feed["stop_times"], feed["trips"], None,
               feed["calendar"], feed["calendar_dates"], feed["frequencies"],
               start_date=START, end_date=END).collect()}
    tt, fr = got[("B", "C")]
    assert fr == 27  # 24 (T1) + 3 (T2)
    assert abs(tt - (540.0 * 24 + 900.0 * 3) / 27.0) < 1e-9


def test_od_pairs_expansion(feed):
    od = get_od_pairs(feed["stop_times"], feed["trips"],
                      feed["calendar"], feed["calendar_dates"],
                      start_date=START, end_date=END)
    rows = od.collect()
    # T1 has 2 legs × 4 active days, T2 1 leg × 3 days, T3 1 valid leg
    # (A→D) × 4 days + C→A leg dropped (blank arrival time at A)
    by_trip = {}
    for r in rows:
        by_trip[r.trip_id] = by_trip.get(r.trip_id, 0) + 1
    assert by_trip == {"T1": 8, "T2": 3, "T3": 4}
    t2 = [r for r in rows if r.trip_id == "T2"][0]
    assert t2.travel_time_sec == 900.0
    # extended-time arrival lands on the next calendar day
    assert (t2.arrival_ts - t2.departure_ts) == 900
