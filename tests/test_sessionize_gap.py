"""Batch sessionize against its DuckDB oracle on sub-second gaps."""

from datetime import datetime, timedelta

import duckdb

import __spark_entry__ as E
from osm_inertial_flow_partitioner_spark.operators.sessionize import sessionize

T0 = datetime(2024, 1, 1)

#: (user_id, seconds after T0). Each user's second event sits within one
#: second of the 30-min gap; the fractions are exact in binary, so the
#: oracle's floating-point epoch differences are exact too.
EVENTS = [
    (1, 0.25), (1, 1800.75), (1, 3600.5),  # 1800.5 s: new; 1799.75 s: same
    (2, 0.5), (2, 1801.25),                # 1800.75 s, whole seconds 1801
    (3, 0.75), (3, 1800.5),                # 1799.75 s, whole seconds 1800
    (4, 10.0), (4, 1810.0),                # exactly 30 min: same session
]


def test_sessionize_sub_second_gap_matches_oracle(spark):
    rows = [
        (eid, T0 + timedelta(seconds=s), user)
        for eid, (user, s) in enumerate(EVENTS)
    ]
    events = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    got = {
        (r["user_id"], r["event_id"]): r["session_id"]
        for r in sessionize(events, gap_minutes=30).collect()
    }

    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE events (event_id BIGINT, ts TIMESTAMP, user_id BIGINT)")
        con.executemany("INSERT INTO events VALUES (?, ?, ?)", rows)
        oracle = {
            (user, eid): sid
            for user, eid, _, sid in con.sql(E.oracle_sql()["events_sessionize"]).fetchall()
        }
    finally:
        con.close()

    assert got == oracle
    # a gap of 30 min plus half a second opens a session
    assert got[(1, 1)] == 1 and got[(1, 2)] == 1
    assert got[(3, 6)] == 0 and got[(4, 8)] == 0
