"""Goldens for the r5 gap operators: group_info_filter, docker events,
journal field conversion — semantics hand-derived from the Go sources
(no reference tests exist for these plugins)."""

import pyspark.sql.functions as F
from test_plan_quality import python_nodes

from loongcollector_spark.operators.base import FIELDS, fget
from loongcollector_spark.operators.filters import GroupInfoFilter
from loongcollector_spark.operators.journal import (
    PRIORITY_CONVERSION_MAP,
    SYSLOG_FACILITY_STRING,
    DockerEventLogs,
    JournalEntryLogs,
)


def _groups(spark):
    rows = [
        (1, {"app": "app-web", "env": "prod"}, {"source": "s2"}),
        (2, {"app": "app-web", "env": "dev"}, {"source": "s2"}),
        (3, {"app": "other"}, {"source": "s2"}),
        (4, {"app": "app-web", "env": "prod"}, {"source": "s0"}),
        (5, {"env": "prod"}, {"source": "s2"}),  # app missing → "" no match
    ]
    return spark.createDataFrame(
        rows, "gid long, tags map<string,string>, metas map<string,string>"
    )


def test_group_info_filter_all_conditions_anded(spark):
    out = GroupInfoFilter(
        tags={"app": ("app-", False), "env": ("^prod$", False)},
        metas={"source": ("s[01]", True)},
    ).apply(_groups(spark))
    assert [r["gid"] for r in out.orderBy("gid").collect()] == [1]


def test_group_info_filter_reverse_only(spark):
    # reverse=True keeps groups whose value does NOT match
    out = GroupInfoFilter(tags={"env": ("prod", True)}).apply(_groups(spark))
    # gid 2 (dev) and gid 3 (env missing → "" doesn't match 'prod')
    assert [r["gid"] for r in out.orderBy("gid").collect()] == [2, 3]


def test_group_info_filter_missing_key_matches_empty(spark):
    # pattern matching the empty string keeps groups missing the key
    out = GroupInfoFilter(tags={"app": ("^$|app-web", False)}).apply(_groups(spark))
    assert [r["gid"] for r in out.orderBy("gid").collect()] == [1, 2, 4, 5]


def test_docker_event_fields_and_attributes(spark):
    df = spark.createDataFrame(
        [(1, 1700000000123456789, "start", "container", "abc123",
          {"name": "web", "image": "nginx:1"})],
        "i long, time_nano long, action string, type string, actor_id string, "
        "attributes map<string,string>",
    )
    out = DockerEventLogs().apply(df).collect()[0]
    assert out["event_time_ns"] == 1700000000123456789
    m = out[FIELDS]
    assert m["_time_nano_"] == "1700000000123456789"
    assert m["_action_"] == "start"
    assert m["_type_"] == "container"
    assert m["_id_"] == "abc123"
    assert m["name"] == "web" and m["image"] == "nginx:1"

    ignored = DockerEventLogs(ignore_attributes=True).apply(df).collect()[0][FIELDS]
    assert set(ignored.keys()) == {"_time_nano_", "_action_", "_type_", "_id_"}


def test_journal_priority_facility_mapping(spark):
    rows = [
        (1, {"MESSAGE": "m", "PRIORITY": "3", "SYSLOG_FACILITY": "4"}, 1700000000000001, 42),
        (2, {"MESSAGE": "m", "PRIORITY": "8", "SYSLOG_FACILITY": "99"}, 1700000000000002, 43),
        (3, {"MESSAGE": "m"}, 1700000000000003, 44),  # keys absent: untouched
    ]
    df = spark.createDataFrame(
        rows, "i long, fields map<string,string>, realtime_ts long, monotonic_ts long"
    )
    out = {
        r["i"]: r
        for r in JournalEntryLogs(
            parse_priority=True, parse_syslog_facility=True, use_journal_event_time=True
        )
        .apply(df)
        .collect()
    }
    assert out[1][FIELDS]["PRIORITY"] == "error"
    assert out[1][FIELDS]["SYSLOG_FACILITY"] == "auth"
    # Go map-miss zero value: unknown numbers become ""
    assert out[2][FIELDS]["PRIORITY"] == ""
    assert out[2][FIELDS]["SYSLOG_FACILITY"] == ""
    assert "PRIORITY" not in out[3][FIELDS]
    assert out[1][FIELDS]["_realtime_timestamp_"] == "1700000000000001"
    assert out[1][FIELDS]["_monotonic_timestamp_"] == "42"
    assert out[1]["event_time_ns"] == 1700000000000001000
    # full table parity with the Go maps
    assert len(PRIORITY_CONVERSION_MAP) == 8
    assert len(SYSLOG_FACILITY_STRING) == 24


def test_journal_no_parse_flags_passthrough(spark):
    df = spark.createDataFrame(
        [(1, {"PRIORITY": "3"}, 10, 20)],
        "i long, fields map<string,string>, realtime_ts long, monotonic_ts long",
    )
    out = JournalEntryLogs().apply(df).collect()[0]
    assert out[FIELDS]["PRIORITY"] == "3"  # numeric retained
    assert out["event_time_ns"] is None  # UseJournalEventTime=False → agent clock


def test_group_info_filter_is_pushdown_filter(spark):
    """The interceptor compiles to a plain Filter over the group frame —
    no shuffle, no Python."""
    plan = (
        GroupInfoFilter(tags={"a": ("x", False)})
        .apply(_groups(spark))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert not python_nodes(plan)
