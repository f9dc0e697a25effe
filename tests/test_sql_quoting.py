"""Caller strings that reach Spark-SQL text: quoting, QuerySpec and
constraint builders on hostile input.

Tag values, tag keys, parameter names and stream ids carry quotes,
backslashes, LIKE wildcards, backticks, dots, ``${...}`` and non-ASCII
text. ``evaluate`` is compared with the DuckDB ``oracle_sql`` twin on a
tiny in-memory table; ``evaluate_events`` and ``tag_values`` against
rows written out by hand.
"""

from __future__ import annotations

from collections import Counter
from datetime import datetime, timedelta, timezone

import duckdb
import pandas as pd
import pytest
from pyspark.errors import ParseException

from conftest import normalize
from ts_data_pipeline_spark.operators import constraints as C
from ts_data_pipeline_spark.plans import queryspec as qs
from ts_data_pipeline_spark.sqltext import sql_ident, sql_str

#: Tag values for Equal/NotEqual filters.
HOSTILE_TAGS = [
    "o'neil", "back\\slash", "50%_off", "tick`tock", "zürich", "日本",
    "${env:HOME}", "plain",
]
#: LIKE patterns: every backslash escapes ``%``, ``_`` or ``\``, the only
#: escapes both engines accept.
HOSTILE_PATTERNS = ["o'%", "%\\\\%", "50\\%%", "%\\_%", "%`%", "zü%", "日%"]
HOSTILE_PARAMS = ["o'neil", "we`ird", "naïve café", "cpu.load"]

_PV_DDL = (
    "stream_id string, ts timestamp, parameter_id string, "
    "num_value double, str_value string, tags map<string,string>"
)
_T0 = datetime(2024, 1, 1)


def _pv_rows():
    return [
        (
            str(i % 3),
            _T0 + timedelta(minutes=10 * i),
            HOSTILE_PARAMS[i % 4],
            float(i % 7),
            HOSTILE_TAGS[(3 * i) % 8],
            {"k": HOSTILE_TAGS[i % 8], "k'ey": HOSTILE_TAGS[(i // 2) % 8]},
        )
        for i in range(48)
    ]


def _utc(rows):
    return [(r[0], r[1].replace(tzinfo=timezone.utc), *r[2:]) for r in rows]


def test_quoting_reads_back_exactly(spark):
    vals = HOSTILE_TAGS + ["\\d", "a\\\\b", "it\\'s", "x$", "\\${x}", "a\nb"]
    names = [f"c{i}`{v}".replace("${", "$") for i, v in enumerate(vals)]
    df = spark.range(1).selectExpr(
        *[f"{sql_str(v)} AS {sql_ident(n)}" for v, n in zip(vals, names)]
    )
    assert df.columns == names
    assert list(df.first()) == vals
    with pytest.raises(ValueError, match="substitution"):
        sql_ident("${env:HOME}")


def _specs():
    NA, SA, TF = qs.NumericAggregation, qs.StringAggregation, qs.TagFilter
    window = dict(from_ts="2024-01-01 00:00:00", to_ts="2024-01-01 08:00:00")
    return [
        qs.QuerySpec(
            numeric_aggregations=[NA("o'neil", "Sum"), NA("we`ird", "Count")],
            tag_filters=[TF("k'ey", "Equal", "o'neil")],
            group_by_time=qs.GroupByTime("1 hour", "Linear"),
            orderings=[qs.Ordering("bucket", "Desc")],
            paging=qs.Paging(0, 6),
            **window,
        ),
        qs.QuerySpec(
            numeric_aggregations=[
                NA("naïve café", "First"), NA("naïve café", "Last"),
                NA("cpu.load", "Spread"),
            ],
            string_aggregations=[SA("o'neil", "Last")],
            tag_filters=[TF("k", "NotEqual", ["back\\slash", "${env:HOME}", "日本"])],
            group_by_tags=["k'ey"],
            **window,
        ),
        qs.QuerySpec(
            numeric_aggregations=[NA("cpu.load", "Count"), NA("o'neil", "Min")],
            tag_filters=[TF("k", "Like", ["o'%", "日%", "50\\%%"])],
            group_by_time=qs.GroupByTime("1 hour", "Previous"),
            group_by_tags=["k"],
            orderings=[qs.Ordering("bucket", "Desc"), qs.Ordering("tag_k")],
            paging=qs.Paging(1, 5),
            **window,
        ),
        qs.QuerySpec(
            numeric_aggregations=[NA(p, "Sum") for p in HOSTILE_PARAMS],
            tag_filters=[TF("k", "NotLike", ["%\\\\%", "z%", "%`%"])],
            group_by_time=qs.GroupByTime("2 hours"),
            stream_ids=["1", "x'y", "2"],
            **window,
        ),
        qs.QuerySpec(
            numeric_aggregations=[NA("o'neil", "CountDistinct"), NA("naïve café", "Count")],
            tag_filters=[TF("k", "Like", "%\\_%")],
        ),
        qs.QuerySpec(
            numeric_aggregations=[NA("naïve café", "None"), NA("cpu.load", "None")],
            string_aggregations=[SA("naïve café", "None")],
            tag_filters=[TF("k", "Equal", "${env:HOME}")],
            group_by_tags=["k'ey"],
            from_ts="2024-01-01 00:00:00",
        ),
    ]


def test_hostile_strings_evaluate_matches_oracle(spark):
    rows = _pv_rows()
    pv = spark.createDataFrame(_utc(rows), _PV_DDL)
    pdf = pd.DataFrame(
        [(*r[:5], r[5]["k"], r[5]["k'ey"]) for r in rows],
        columns=["stream_id", "ts", "parameter_id", "num_value", "str_value",
                 "tag_k", "tag_k'ey"],
    )
    con = duckdb.connect()
    con.register("pv_rows", pdf)
    for spec in _specs():
        got = normalize(qs.evaluate(pv, spec).toPandas())
        want = normalize(con.execute(qs.oracle_sql(spec, "SELECT * FROM pv_rows")).df())
        assert len(want) > 0, spec
        assert list(got.columns) == list(want.columns), spec
        pd.testing.assert_frame_equal(
            got, want, check_dtype=False, check_exact=False, rtol=0, atol=1e-9,
            obj=str(spec),
        )
    con.close()


def test_malformed_duration_fails_at_build(spark):
    pv = spark.createDataFrame(_utc(_pv_rows()), _PV_DDL)
    spec = qs.QuerySpec(
        numeric_aggregations=[qs.NumericAggregation("o'neil", "Sum")],
        group_by_time=qs.GroupByTime("1 hour"),
        from_ts="2024-01-01 00:00:00",
        to_ts="2024-01-01 08:00:00",
    )
    finals = qs.evaluate(pv, spec)
    spec.group_by_time = qs.GroupByTime("1 hour', INTERVAL '1 hour", "Null")
    with pytest.raises(ParseException, match="INVALID_TYPED_LITERAL"):
        qs.interpolate_finals(finals, spec)


def test_hostile_strings_evaluate_events(spark):
    ddl = (
        "stream_id string, ts timestamp, event_id string, "
        "level string, value string, tags map<string,string>"
    )
    evt = "o'neil evt"

    def at(h, m):
        return datetime(2024, 1, 1, h, m, tzinfo=timezone.utc)

    events = spark.createDataFrame(
        [
            ("s'1", at(0, 10), evt, "Error", "v'1", {"k": "zürich"}),
            ("s'1", at(0, 20), evt, "Error", "v\\2", {"k": "日本"}),
            ("s'1", at(0, 30), evt, "Debug", "v3", {"k": "zürich"}),
            ("s'1", at(2, 10), evt, "Error", "v`4", {"k": "zürich"}),
            ("s2", at(0, 40), evt, "Error", "x", {"k": "zürich"}),
            ("s'1", at(0, 40), "other", "Error", "x", {"k": "zürich"}),
            ("s'1", at(0, 50), evt, "Error", "y", {"k": "plain"}),
        ],
        ddl,
    )
    spec = qs.EventQuerySpec(
        event_ids=[evt],
        aggregation="Last",
        interval="1 hour",
        interpolation="Previous",
        from_ts="2024-01-01 00:00:00",
        to_ts="2024-01-01 04:00:00",
        stream_ids=["s'1"],
        include_levels=["Error", "Warn'ing"],
        exclude_levels=["Deb\\ug"],
        tag_filters=[qs.TagFilter("k", "Like", ["zü%", "日%"])],
        group_by_tags=["k"],
    )
    got = {
        (r.bucket.hour, r.event_id, r.tag_k): (r.event_value, r.event_count)
        for r in qs.evaluate_events(events, spec).collect()
    }
    assert got == {
        (0, evt, "zürich"): ("v'1", 1),
        (1, evt, "zürich"): ("v'1", 0),
        (2, evt, "zürich"): ("v`4", 1),
        (3, evt, "zürich"): ("v`4", 0),
        (0, evt, "日本"): ("v\\2", 1),
        (1, evt, "日本"): ("v\\2", 0),
        (2, evt, "日本"): ("v\\2", 0),
        (3, evt, "日本"): ("v\\2", 0),
    }


def test_hostile_strings_tag_values(spark):
    rows = _pv_rows()
    pv = spark.createDataFrame(_utc(rows), _PV_DDL)
    got = {
        r.tag_value: (r.n_rows, r.n_streams)
        for r in qs.tag_values(
            pv,
            "k'ey",
            stream_ids=["0", "1", "x'y"],
            tag_filters=[qs.TagFilter("k", "NotLike", ["o'%", "%\\\\%"])],
        ).collect()
    }
    keep = [
        r for r in rows
        if r[0] in ("0", "1")
        and not r[5]["k"].startswith("o'") and "\\" not in r[5]["k"]
    ]
    n_rows = Counter(r[5]["k'ey"] for r in keep)
    streams = {v: {r[0] for r in keep if r[5]["k'ey"] == v} for v in n_rows}
    assert got == {v: (n, len(streams[v])) for v, n in n_rows.items()}
    assert {"${env:HOME}", "back\\slash"} <= set(got)


def test_constraints_quote_regex_and_set_values(spark):
    df = spark.createDataFrame(
        [("123", "o'neil"), ("456", "x"), ("ddd", "o'neil")], "code string, name string"
    )
    checks = [C.matches("code", r"^\d+$"), C.in_set("name", ["o'neil", "back\\slash"])]
    got = {r.check: r.violations for r in C.run_checks(df, checks).collect()}
    assert got == {"regex_code": 1, "enum_name": 1}
