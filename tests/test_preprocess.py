"""Golden-fixture tests for the AIS preprocess chain (SURVEY §5 item 2)."""

from __future__ import annotations

import math

from streaming_data_pipeline_capstone_spark.plans.preprocess import (
    kinematic_aggs,
    preprocess_from_envelope,
    preprocess_positions,
)
from streaming_data_pipeline_capstone_spark.schemas import AIS_WIRE_SCHEMA
from streaming_data_pipeline_capstone_spark.sources.readers import read_csv_pipe


def _wire_row(
    ts="2021-04-05 10:00:00Z",
    mmsi=229906000,
    position="POINT(110.5 15.25)",
    sog=12.5,
    cog=90.0,
    mtype=1,
    heading=90.0,
    rot=4.733,
):
    return (
        ts, mmsi, position, 0.0, sog, cog, mtype, "src", 1, 0, 0,
        "VESSEL", "Cargo", 30, heading, rot, 0,
    )


def _wire_df(spark, rows):
    return spark.createDataFrame(rows, AIS_WIRE_SCHEMA)


def test_preprocess_happy_path(spark):
    df = preprocess_positions(_wire_df(spark, [_wire_row()]))
    row = df.collect()[0]
    assert row.mmsi == 229906000
    assert row.longitude == 110.5 and row.latitude == 15.25
    assert row.timestamp_utc.hour == 10
    # ECEF at (lon=110.5, lat=15.25, h=124): N = a/sqrt(1-e2 sin^2)
    a, inv_f = 6378137.0, 298.257223563
    f = 1 / inv_f
    e2 = f * (2 - f)
    lat, lon = math.radians(15.25), math.radians(110.5)
    n = a / math.sqrt(1 - e2 * math.sin(lat) ** 2)
    assert abs(row.cartesian_x - (n + 124) * math.cos(lat) * math.cos(lon)) < 1e-6
    assert abs(row.cartesian_y - (n + 124) * math.cos(lat) * math.sin(lon)) < 1e-6


def test_preprocess_bbox_strict(spark):
    rows = [
        _wire_row(position="POINT(105.0 15.0)"),  # lon == corner → excluded (strict)
        _wire_row(position="POINT(105.1 15.0)"),  # inside
        _wire_row(position="POINT(124.0 15.0)"),  # outside
        _wire_row(position="POINT(110.0 7.0)"),  # lat == corner → excluded
        _wire_row(position="POINT(110.0 23.1)"),  # outside
    ]
    df = preprocess_positions(_wire_df(spark, rows))
    assert df.count() == 1
    assert df.collect()[0].longitude == 105.1


def test_preprocess_sentinels_and_mtype(spark):
    rows = [
        _wire_row(heading=511.0, rot=-128.0),
        _wire_row(mtype=5),  # static/voyage message → dropped
    ]
    df = preprocess_positions(_wire_df(spark, rows))
    out = df.collect()
    assert len(out) == 1
    assert out[0].true_heading is None and out[0].rate_of_turn is None


def test_rot_decode_sign_preserved(spark):
    rows = [_wire_row(rot=4.733), _wire_row(rot=-4.733)]
    df = preprocess_positions(_wire_df(spark, rows), decode_rot=True)
    vals = sorted(r.rate_of_turn for r in df.collect())
    assert abs(vals[0] + 1.0) < 1e-12 and abs(vals[1] - 1.0) < 1e-12


def test_envelope_decode_permissive_nulls(spark):
    import json

    good = dict(zip(
        [f.name for f in AIS_WIRE_SCHEMA.fields], _wire_row(), strict=True
    ))
    env = spark.createDataFrame(
        [(json.dumps(good),), ("{not json at all",)], "value string"
    )
    df = preprocess_from_envelope(env)
    # malformed row decodes to all-null struct → fails bbox filter → dropped
    assert df.count() == 1


def test_kinematic_aggs_windows(spark):
    # 3 msgs for one vessel inside 10:00-10:02, sliding 2min/1min windows
    rows = [
        _wire_row(ts="2021-04-05 10:00:10Z", sog=10.0),
        _wire_row(ts="2021-04-05 10:00:50Z", sog=20.0),
        _wire_row(ts="2021-04-05 10:01:30Z", sog=30.0),
    ]
    agg = kinematic_aggs(preprocess_positions(_wire_df(spark, rows)))
    out = {
        (r.window.start.minute, r.window.end.minute): r.avg_speed_over_ground
        for r in agg.collect()
    }
    # windows: [09:59,10:01) avg(10,20)=15; [10:00,10:02) avg(10,20,30)=20;
    # [10:01,10:03) avg(30)=30
    assert out[(59, 1)] == 15.0
    assert out[(0, 2)] == 20.0
    assert out[(1, 3)] == 30.0


def _plan_nodes(plan):
    """(nodeName, own expressions) of a JVM logical plan, root first."""
    out, todo = [], [plan]
    while todo:
        node = todo.pop()
        out.append((node.nodeName(), node.simpleString(10_000)))
        kids = node.children()
        todo.extend(kids.apply(i) for i in reversed(range(kids.size())))
    return out


def _assert_parse_once(plan):
    nodes = _plan_nodes(plan)
    assert sum(s.count("from_json(") for _, s in nodes) == 1
    parse_nodes = [i for i, (_, s) in enumerate(nodes) if "regexp_replace(" in s]
    assert len(parse_nodes) == 1, [nodes[i][0] for i in parse_nodes]
    (at,) = parse_nodes
    assert nodes[at][0] == "Generate"
    for name, s in nodes[:at]:
        if name in ("Filter", "Project"):
            assert "position#" not in s, s


def test_preprocess_parses_each_value_once(spark, tmp_path):
    """Entry point B's optimized plan holds one from_json and one WKT parse.

    Both sit in a Generate (``inline``/``explode`` of a one-element array),
    so filter pushdown and CollapseProject cannot copy them into the bbox
    Filter and the ECEF Project above (30 ``regexp_replace`` nodes spread
    over Filter and Project without the barrier). The streaming plan is
    the one a micro-batch actually ran."""
    batch = spark.createDataFrame([("{}",)], "value string")
    _assert_parse_once(preprocess_from_envelope(batch)._jdf.queryExecution().optimizedPlan())

    (tmp_path / "in").mkdir()
    (tmp_path / "in" / "part.txt").write_text("{}\n")
    stream = spark.readStream.format("text").load(str(tmp_path / "in"))
    q = (
        preprocess_from_envelope(stream)
        .writeStream.format("memory")
        .queryName("preprocess_parse_once")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
        _assert_parse_once(q._jsq.streamingQuery().lastExecution().optimizedPlan())
    finally:
        q.stop()


def test_scalar_wkt_extract_parses_each_value_once(spark, sf_smoke):
    """``scalar_wkt_extract`` reads longitude and latitude from one parse:
    every ``regexp_replace`` of its optimized plan sits in one Generate
    (without the barrier the Project holds one copy per coordinate)."""
    from streaming_data_pipeline_capstone_spark.queries.scalars import scalar_wkt_extract

    nodes = _plan_nodes(scalar_wkt_extract(spark, sf_smoke)._jdf.queryExecution().optimizedPlan())
    parse_nodes = [name for name, s in nodes if "regexp_replace(" in s]
    assert parse_nodes == ["Generate"], parse_nodes


def test_preprocess_malformed_positions_dropped(spark):
    """The parse barrier keeps the drop semantics: a null or malformed
    position yields a null [lon, lat] that the bbox filter drops; extra
    whitespace still parses."""
    positions = {
        1: None,
        2: "POINT()",
        3: "POINT(1)",
        4: "POINT(a b)",
        5: "POINT(110.5   15.25)",
        6: "POINT( 111.0 16.0 )",
        7: "POINT(130.0 15.0)",  # outside the bbox
        8: "POINT(110.0 15.0 3.0)",
        9: "POINT(110.5 15.25)",
    }
    wire = _wire_df(spark, [_wire_row(mmsi=m, position=p) for m, p in positions.items()])
    expected = [(5, 110.5, 15.25), (6, 111.0, 16.0), (9, 110.5, 15.25)]
    got = sorted(
        (r.mmsi, r.longitude, r.latitude) for r in preprocess_positions(wire).collect()
    )
    assert got == expected

    import json

    names = [f.name for f in AIS_WIRE_SCHEMA.fields]
    env = spark.createDataFrame(
        [(json.dumps(dict(zip(names, r, strict=True))),) for r in wire.collect()],
        "value string",
    )
    got = sorted(
        (r.mmsi, r.longitude, r.latitude) for r in preprocess_from_envelope(env).collect()
    )
    assert got == expected


def test_read_csv_pipe_feeds_preprocess(spark, tmp_path):
    """S3: the reference's headerless pipe-delimited AIS rows, read with the
    wire schema, go through the preprocess chain like any other source."""
    rows = [
        _wire_row(mmsi=1),
        _wire_row(mmsi=2, position="POINT(111.0 16.0)", heading=511.0),
        _wire_row(mmsi=3, mtype=5),  # static/voyage message → dropped
        _wire_row(mmsi=4, position="POINT(130.0 15.0)"),  # outside the bbox
    ]
    (tmp_path / "ais.csv").write_text(
        "".join("|".join(str(v) for v in r) + "\n" for r in rows)
    )
    wire = read_csv_pipe(spark, str(tmp_path / "ais.csv"), AIS_WIRE_SCHEMA)
    assert wire.count() == 4
    got = sorted(
        (r.mmsi, str(r.timestamp_utc), r.longitude, r.latitude, r.true_heading)
        for r in preprocess_positions(wire).collect()
    )
    assert got == [
        (1, "2021-04-05 10:00:00", 110.5, 15.25, 90.0),
        (2, "2021-04-05 10:00:00", 111.0, 16.0, None),
    ]
