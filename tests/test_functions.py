"""Unit tests for the scalar function modules against hand-computed
values and the reference's documented semantics."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from etl_addresses_spark.config import EARTH_RADIUS_KM, MS_THRESHOLD
from etl_addresses_spark.functions.dates import (
    fuzzy_date_earliest,
    fuzzy_date_latest,
    fuzzy_earliest_ms,
    fuzzy_latest_ms,
)
from etl_addresses_spark.functions.geo import (
    crosstrack_m_rounded,
    explode_segments,
    haversine_km,
)
from etl_addresses_spark.functions.ids import full_id, internal_id


def _one(spark, cols: dict):
    row = spark.range(1).select(
        *[c.alias(k) for k, c in cols.items()]
    ).first()
    return row


def test_fuzzy_dates_year_month_day(spark):
    df = spark.createDataFrame(
        [("1854",), ("1854-03",), ("1854-03-02",), (None,)], ["d"]
    )
    rows = df.select(
        F.col("d"),
        fuzzy_date_earliest(F.col("d")).cast("string").alias("lo"),
        fuzzy_date_latest(F.col("d")).cast("string").alias("hi"),
    ).collect()
    got = {r.d: (r.lo, r.hi) for r in rows}
    assert got["1854"] == ("1854-01-01 00:00:00", "1854-12-31 00:00:00")
    assert got["1854-03"] == ("1854-03-01 00:00:00", "1854-03-31 00:00:00")
    assert got["1854-03-02"] == ("1854-03-02 00:00:00", "1854-03-02 00:00:00")
    assert got[None] == (None, None)


def test_fuzzy_ms_epoch_parity(spark):
    # JS: new Date("1970-01-02").getTime() == 86400000
    r = _one(
        spark,
        {
            "lo": fuzzy_earliest_ms(F.lit("1970-01-02")),
            "hi": fuzzy_latest_ms(F.lit("1970")),
        },
    )
    assert r.lo == 86400000
    assert r.hi == 364 * 24 * 3600 * 1000  # 1970-12-31 00:00 UTC


def test_ms_threshold_is_flat_years():
    # addresses.js:47 — flat 365-day years, not calendar years
    assert MS_THRESHOLD == 15 * 365 * 24 * 60 * 60 * 1000 == 473040000000


def test_ids_qualify_and_strip(spark):
    df = spark.createDataFrame([("abc",), ("ds2/xyz",)], ["id"])
    rows = df.select(
        full_id("ds1", F.col("id")).alias("full"),
        internal_id(F.col("id")).alias("internal"),
    ).collect()
    assert rows[0].full == "ds1/abc" and rows[0].internal == "abc"
    # already-qualified: no double prefix; internal strips the first
    # path segment (split('/')[1] parity, addresses.js:31)
    assert rows[1].full == "ds2/xyz" and rows[1].internal == "xyz"


def test_haversine_known_distance(spark):
    # equator: 1 degree of longitude = R * pi/180 km
    r = _one(
        spark,
        {
            "km": haversine_km(F.lit(0.0), F.lit(0.0), F.lit(0.0), F.lit(1.0)),
        },
    )
    assert abs(r.km - EARTH_RADIUS_KM * math.pi / 180) < 1e-9


def test_crosstrack_perpendicular_offset(spark):
    # point due north of a west-east segment on the equator:
    # cross-track distance == meridian arc of the latitude offset.
    lat_off = 0.0002  # ~22.26 m
    r = _one(
        spark,
        {
            "m": crosstrack_m_rounded(
                F.lit(0.0),
                F.lit(0.0),
                F.lit(0.0),
                F.lit(0.01),
                F.lit(lat_off),
                F.lit(0.005),
            )
        },
    )
    expected = EARTH_RADIUS_KM * 1000 * math.radians(lat_off)
    assert r.m == round(expected)  # 22 m


def test_crosstrack_sign_absolute(spark):
    # south of the segment must give the same (absolute) distance
    r = _one(
        spark,
        {
            "n": crosstrack_m_rounded(
                F.lit(0.0), F.lit(0.0), F.lit(0.0), F.lit(0.01),
                F.lit(0.0002), F.lit(0.005),
            ),
            "s": crosstrack_m_rounded(
                F.lit(0.0), F.lit(0.0), F.lit(0.0), F.lit(0.01),
                F.lit(-0.0002), F.lit(0.005),
            ),
        },
    )
    assert r.n == r.s


def test_explode_segments_multivertex(spark):
    df = spark.createDataFrame(
        [
            (
                "s1",
                {
                    "type": "LineString",
                    "coordinates": [[0.0, 0.0], [1.0, 0.0], [1.0, 1.0]],
                },
            )
        ],
        "id string, geometry struct<type:string, coordinates:array<array<double>>>",
    )
    segs = explode_segments(df).select(
        "id", "seg_index", "seg_lon1", "seg_lat1", "seg_lon2", "seg_lat2"
    ).collect()
    assert len(segs) == 2
    assert (segs[0].seg_lon1, segs[0].seg_lat1) == (0.0, 0.0)
    assert (segs[0].seg_lon2, segs[0].seg_lat2) == (1.0, 0.0)
    assert (segs[1].seg_lon1, segs[1].seg_lat1) == (1.0, 0.0)
    assert (segs[1].seg_lon2, segs[1].seg_lat2) == (1.0, 1.0)
    # a 2-vertex line yields exactly one segment; <2 vertices yields none
    df2 = spark.createDataFrame(
        [("a", {"type": "LineString", "coordinates": [[0.0, 0.0], [1.0, 1.0]]}),
         ("b", {"type": "LineString", "coordinates": [[5.0, 5.0]]})],
        "id string, geometry struct<type:string, coordinates:array<array<double>>>",
    )
    out = explode_segments(df2)
    assert out.count() == 1 and out.first().id == "a"


def test_fuzzy_dates_malformed_input_yields_null(spark):
    # Spark 4 runs ANSI mode, where to_timestamp would RAISE on garbage;
    # the reference's Date.parse yields NaN (predicate false).  Our
    # try_to_timestamp must degrade to NULL, never fail the job.
    from pyspark.sql import functions as F

    from etl_addresses_spark.functions.dates import (
        fuzzy_date_earliest,
        fuzzy_date_latest,
    )

    df = spark.createDataFrame(
        [("1854",), ("not-a-date",), ("1854-13-99",), (None,)], ["d"]
    )
    rows = df.select(
        fuzzy_date_earliest(F.col("d")).alias("lo"),
        fuzzy_date_latest(F.col("d")).alias("hi"),
    ).collect()
    assert rows[0].lo is not None and rows[0].hi is not None
    assert rows[1].lo is None and rows[1].hi is None
    assert rows[2].lo is None and rows[2].hi is None
    assert rows[3].lo is None and rows[3].hi is None


def test_matched_name_null_number_propagates(spark):
    # the matched-record name is concat(number, ' ', street): a NULL
    # house number must yield a NULL name (matches the oracle's ||),
    # not concat_ws's silent skip
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("12", "Elm St"), (None, "Oak St")], ["number", "streetName"]
    )
    out = df.select(
        F.concat(F.col("number"), F.lit(" "), F.col("streetName")).alias("name")
    ).collect()
    assert out[0].name == "12 Elm St"
    assert out[1].name is None


def test_vector_kernels_match_duckdb_twins_exactly(spark, ddb):
    """Every Spark vector kernel and its DuckDB twin give the SAME
    value row for row, with no rounding: the fold contract the
    similarity rows' oracle hashes rest on, checked directly instead
    of through their 1e-9-rounded hashes."""
    from conftest import SF_ORACLE

    from etl_addresses_spark.functions.vector import (
        dot,
        dot_sql,
        sq8_int_dot,
        sq8_int_dot_sql,
        sq_l2,
        sq_l2_sql,
    )
    from etl_addresses_spark.operators.similarity import (
        EMB_DIM,
        SQ8_SQL_CTES,
        sq8_codes,
    )
    from etl_addresses_spark.sources.tables import load_table

    e = load_table(spark, SF_ORACLE, "embeddings")
    v, w = F.col("embedding"), F.reverse(F.col("embedding"))
    spark_rows = e.select(
        "vec_id",
        dot(v, w).alias("dot"),
        dot(v, v).alias("self_dot"),
        sq_l2(v, w).alias("sq_l2"),
        sq_l2(v, w, EMB_DIM).alias("sq_l2_unrolled"),
    ).collect()
    duck_rows = ddb.sql(
        f"""SELECT vec_id,
          {dot_sql('embedding', 'other')} AS dot,
          {dot_sql('embedding', 'embedding')} AS self_dot,
          {sq_l2_sql('embedding', 'other')} AS sq_l2
        FROM (SELECT vec_id, embedding, list_reverse(embedding) AS other
              FROM embeddings)"""
    ).fetchall()
    duck = {r[0]: r[1:] for r in duck_rows}
    assert len(spark_rows) == len(duck) > 0
    for r in spark_rows:
        d_dot, d_self, d_sq = duck[r.vec_id]
        assert (r.dot, r.self_dot, r.sq_l2, r.sq_l2_unrolled) == (
            d_dot,
            d_self,
            d_sq,
            d_sq,
        ), r.vec_id

    spark_int = dict(
        sq8_codes(e)
        .select("vec_id", sq8_int_dot(F.col("qe"), F.reverse(F.col("qe"))))
        .collect()
    )
    duck_int = dict(
        ddb.sql(
            f"""WITH {SQ8_SQL_CTES}
            SELECT vec_id, {sq8_int_dot_sql('qe', 'list_reverse(qe)')}
            FROM qv"""
        ).fetchall()
    )
    assert spark_int == duck_int and len(spark_int) > 0
