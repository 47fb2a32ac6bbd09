"""Rollup storage + router + flows-native graph handler tests
(SURVEY §2.4 A3, §2.9 T5/T7, §4 routing, §3.1)."""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from akvorado_spark.plans.rollup import FlowStore
from akvorado_spark.query.graph import GraphRequest, graph_line
from akvorado_spark.schema.definition import flows_schema
from akvorado_spark.sources.fixtures import flows_df

START = datetime(2024, 1, 1, tzinfo=timezone.utc)
END = datetime(2024, 1, 1, 6, tzinfo=timezone.utc)


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("flowstore"))
    s = FlowStore(spark, root)
    df = flows_schema().ingest(flows_df(spark, n=20_000))
    s.write_main(df)
    s.build_rollups()
    return s


def test_rollup_preserves_sums(store):
    main = store.read(store.resolutions[0])
    roll = store.read(store.resolutions[3])  # 1h
    for col in ("Bytes", "Packets"):
        assert (
            main.agg(F.sum(col)).collect()[0][0] == roll.agg(F.sum(col)).collect()[0][0]
        )
    assert roll.agg(F.sum("Flows")).collect()[0][0] == main.count()
    assert roll.count() < main.count()


def test_rollup_matches_direct_aggregation(store):
    """l3bps per (1h bucket, SrcAS) from the rollup == from the main table."""
    main = store.read(store.resolutions[0])
    roll = store.read(store.resolutions[3])

    def agg(df):
        return {
            (r["b"], r["SrcAS"]): r["v"]
            for r in df.groupBy(
                F.date_trunc("hour", "TimeReceived").alias("b"), "SrcAS"
            )
            .agg(F.sum(F.col("Bytes") * F.col("SamplingRate") * 8).alias("v"))
            .collect()
        }

    assert agg(main) == agg(roll)


def test_router_picks_coarsest_covering(store):
    res, snapped = store.best_table(START, END, target_interval_s=7200)
    assert res.interval_s == 3600 and snapped == 7200
    res, snapped = store.best_table(START, END, target_interval_s=90)
    assert res.interval_s == 60 and snapped == 60
    res, snapped = store.best_table(START, END, target_interval_s=30)
    assert res.interval_s == 0  # finer than any rollup → main
    res, _ = store.best_table(START, END, target_interval_s=7200, require_main=True)
    assert res.interval_s == 0


def test_graph_line_fps_conserved(store):
    out = graph_line(
        store,
        GraphRequest(start=START, end=END, dimensions=("ExporterName",), units="fps",
                     points=72, limit=3),
    ).collect()
    main = store.read(store.resolutions[0])
    n = main.filter(
        (F.col("TimeReceived") >= F.lit(START)) & (F.col("TimeReceived") < F.lit(END))
    ).count()
    assert sum(r["sum_w"] for r in out) == n
    assert {r["axis"] for r in out} == {1}


def test_graph_line_bidirectional_and_truncate(store):
    out = graph_line(
        store,
        GraphRequest(
            start=START, end=END, dimensions=("SrcAddr",), units="l3bps",
            points=24, limit=5, truncate_v4=24, truncate_v6=48, bidirectional=True,
        ),
    )
    rows = out.collect()
    assert {r["axis"] for r in rows} == {1, 2}
    import ipaddress

    for r in rows:
        addr = r["SrcAddr"]
        assert isinstance(addr, str)
        if addr == "Other":
            continue
        a = ipaddress.ip_address(addr)
        if a.version == 4:
            assert int(a) % 256 == 0  # /24 truncation zeroed the last octet
        else:
            assert int(a) % (1 << 80) == 0  # /48 truncation


def test_graph_line_bidirectional_paired_dims(store):
    """Dimensions containing a reverse pair (SrcAS, DstAS) — the
    reversed axis swaps them to (DstAS, SrcAS), which crashed the old
    sequential rename with AMBIGUOUS_REFERENCE (ADVICE r3).  The
    reversed axis must fold against axis 1's top tuple set."""
    out = graph_line(
        store,
        GraphRequest(
            start=START, end=END, dimensions=("SrcAS", "DstAS"), units="l3bps",
            points=24, limit=3, bidirectional=True,
        ),
    ).collect()
    ax1 = [r for r in out if r["axis"] == 1]
    ax2 = [r for r in out if r["axis"] == 2]
    assert ax1 and ax2
    kept1 = {
        (r["SrcAS"], r["DstAS"])
        for r in ax1
        if "Other" not in (str(r["SrcAS"]), str(r["DstAS"]))
    }
    kept2 = {
        (r["SrcAS"], r["DstAS"])
        for r in ax2
        if "Other" not in (str(r["SrcAS"]), str(r["DstAS"]))
    }
    assert len(kept1) <= 3
    # shared rows CTE: the reversed axis charts exactly axis 1's series set
    assert kept2 <= kept1


def test_graph_line_previous_period_overlays(store):
    mid = datetime(2024, 1, 1, 3, tzinfo=timezone.utc)
    out = graph_line(
        store,
        GraphRequest(start=mid, end=END, dimensions=("ExporterName",), units="pps",
                     points=36, limit=2, previous_period="hour"),
    ).collect()
    axes = {r["axis"] for r in out}
    assert axes == {1, 3}
    lo = int(mid.timestamp() * 1e6)
    hi = int(END.timestamp() * 1e6)
    for r in out:
        assert lo <= r["bucket"] < hi  # previous period shifted onto main axis


def test_ttl_expiry(spark, tmp_path):
    s = FlowStore(spark, str(tmp_path))
    df = flows_schema().ingest(flows_df(spark, n=2000))
    s.write_main(df)
    s.build_rollups()
    now = START + timedelta(days=16)  # raw TTL is 15 d
    dropped = s.expire(now=now)
    assert any(d.startswith("flows/") for d in dropped)
    assert not any(d.startswith("flows_3600s/") for d in dropped)  # 1 y TTL


def test_routed_oracle_schema_config():
    """The oracle suite's configured schema keeps exactly the derived
    frame's columns; the rollup grouping contract survives the config."""
    from akvorado_spark.oracle.rollup_queries import routed_schema

    sch = routed_schema()
    stored = {c.name for c in sch.stored()}
    assert stored == {
        "TimeReceived", "SamplingRate", "ExporterAddress", "ExporterName",
        "SrcAS", "DstAS", "InIfName", "OutIfName", "EType", "Proto",
        "ForwardingStatus", "Bytes", "Packets",
    }
    assert set(sch.rollup_keys()) == stored - {"Bytes", "Packets"}
    # primary keys are not disableable — the config surface must reject it
    with pytest.raises(ValueError):
        sch.configure(disable=("TimeReceived",))


def test_router_skips_rollup_not_covering_range_start(spark, tmp_path):
    """Retention fallback: a coarse rollup whose oldest retained
    partition is after the range start must be skipped in favor of the
    coarsest finer table that still covers the start (reference
    getBestTable's oldest-data probe, console/clickhouse.go:283-335)."""
    import os
    import shutil

    root = str(tmp_path / "st")
    s = FlowStore(spark, root)
    df = flows_schema().ingest(flows_df(spark, n=4_000))
    # the fixture's late rows dip before midnight — trim so day 1 is
    # the genuine oldest partition
    df = df.filter(F.col("TimeReceived") >= F.lit(datetime(2024, 1, 1, tzinfo=timezone.utc)))
    day2 = df.withColumn("TimeReceived", F.col("TimeReceived") + F.expr("INTERVAL 1 DAY"))
    s.write_main(df.unionByName(day2))
    s.build_rollups()
    # simulate the 1h table's TTL having expired day 1
    shutil.rmtree(os.path.join(s.path(s.resolutions[3]), "part_date=2024-01-01"))

    end = datetime(2024, 1, 2, 12, tzinfo=timezone.utc)
    # start a full bucket after day 1's data begins: the 1h table (its
    # day-1 partition TTL'd) does NOT cover, the 5m table does
    mid1 = datetime(2024, 1, 1, 12, tzinfo=timezone.utc)
    res, snapped = s.best_table(mid1, end, target_interval_s=7200)
    assert res.interval_s == 300 and snapped == 7200
    # a range starting well into day 2 routes to the 1h table again
    res2, _ = s.best_table(datetime(2024, 1, 2, 6, tzinfo=timezone.utc), end, 7200)
    assert res2.interval_s == 3600
    # reference semantics: a start AT/BEFORE the oldest data means no
    # table covers; fall back to the table reaching back furthest —
    # the raw table here (all share day-1 oldest, main's slack is
    # smallest; clickhouse_test.go "only flows table, out of range")
    res3, _ = s.best_table(datetime(2024, 1, 1, tzinfo=timezone.utc), end, 7200)
    assert res3.interval_s == 0

def test_main_table_has_bloom_filters_on_addresses(spark, tmp_path):
    """The written parquet must carry bloom filters for the address /
    ASN point-lookup columns (the skip-index analog).

    Parquet only materializes a bloom when a column chunk falls back
    from dictionary encoding (a full dictionary answers point lookups
    exactly, so a bloom would be redundant) — the fixture's repetitive
    addresses stay dictionary-encoded and correctly skip the filter,
    so the test forces cluster-scale cardinality on SrcAddr (unique
    16-byte values per row) and asserts the bloom payload through the
    artifact: the same rows written with blooms on vs off differ by a
    real per-file payload."""
    import glob
    import os

    from akvorado_spark.plans.rollup import FlowStore
    from akvorado_spark.schema.definition import flows_schema
    from akvorado_spark.sources.fixtures import flows_df

    rows = (
        flows_schema()
        .ingest(flows_df(spark, n=4_000))
        .withColumn(
            "SrcAddr",
            F.substring(
                F.sha2(F.monotonically_increasing_id().cast("string"), 256).cast(
                    "binary"
                ),
                1,
                16,
            ),
        )
        .cache()
    )

    def total_size(store):
        store.write_main(rows)
        files = glob.glob(f"{store.path(store.resolutions[0])}/part_date=*/*.parquet")
        assert files
        return sum(os.path.getsize(f) for f in files)

    with_bloom = total_size(FlowStore(spark, str(tmp_path / "wb")))
    without = total_size(FlowStore(spark, str(tmp_path / "nb"), bloom_columns=()))
    rows.unpersist()
    assert with_bloom > without + 32 * 1024


def test_graph_line_axes_share_series(store):
    """The reverse axis folds against axis 1's top set (the
    reference's shared rows CTE) and the previous-period axes chart a
    single dimensionless total series (the reference strips dimensions
    when shifting)."""
    out = graph_line(
        store,
        GraphRequest(
            start=START, end=END, dimensions=("SrcAS",), units="l3bps",
            points=24, limit=2, bidirectional=True, previous_period="hour",
        ),
    ).collect()
    by_axis = {}
    for r in out:
        by_axis.setdefault(r["axis"], set()).add(r["SrcAS"])
    assert set(by_axis) == {1, 2, 3, 4}
    # the reverse axis folds against axis 1's shared top set
    assert by_axis[2] <= by_axis[1]
    # the previous-period axes chart ONE total series (the reference
    # strips dimensions when shifting, console/line.go:81-86)
    assert by_axis[3] == {""} and by_axis[4] == {""}


def test_console_request_builds_as_one_statement(spark, store):
    """A line or sankey request is one SQL statement over a known-schema
    scan: building one sends a few py4j commands, where the DataFrame
    chains sent 3 110 (4-axis line) and 910 (sankey), and the same
    request built twice plans the same operator tree."""
    from akvorado_spark import telemetry
    from akvorado_spark.query.graph import graph_sankey

    line = GraphRequest(
        start=START, end=END, dimensions=("SrcAS",), filter="InIfBoundary = external",
        points=24, limit=3, bidirectional=True, previous_period="hour",
    )
    sankey = GraphRequest(
        start=START, end=END, dimensions=("SrcAS", "DstAS"), filter="Proto = 6",
    )
    for build, bound in (
        (lambda: graph_line(store, line), 311),
        (lambda: graph_sankey(store, sankey), 91),
    ):
        first = build()
        with telemetry.py4j_commands(spark) as n:
            again = build()
        assert n[0] <= bound
        assert telemetry.plan_structure_hash(first) == telemetry.plan_structure_hash(again)
    # the frames passed to spark.sql leave no temp view behind
    assert not [t for t in spark.catalog.listTables() if t.name.startswith("_pyspark_")]


def test_graph_line_reversed_axis_swaps_pct_units(store):
    """A reversed axis measures the opposite direction: inl2% on the
    reverse axis must equal outl2% computed directly (reference
    reverseUnits, console/graph.go:30-40).  With an empty filter and a
    self-reversing dimension the reverse population equals the direct
    one, and a limit above the cardinality means nothing folds — so
    axis 2 of an inl2% request must match axis 1 of an outl2% request
    value-for-value."""
    req_in = GraphRequest(
        start=START, end=END, dimensions=("ExporterName",), units="inl2%",
        points=4, limit=50, bidirectional=True,
    )
    req_out = GraphRequest(
        start=START, end=END, dimensions=("ExporterName",), units="outl2%",
        points=4, limit=50,
    )
    ax2 = {
        (r["bucket"], r["ExporterName"]): r["sum_w"]
        for r in graph_line(store, req_in).collect()
        if r["axis"] == 2
    }
    ax1_out = {
        (r["bucket"], r["ExporterName"]): r["sum_w"]
        for r in graph_line(store, req_out).collect()
    }
    assert ax2 and set(ax2) == set(ax1_out)
    for k, v in ax2.items():
        assert abs(v - ax1_out[k]) < 1e-9, k


def test_graph_line_unaligned_range_never_splits_rollup_buckets(store):
    """An unaligned request start must not split stored rollup buckets
    (each rollup row carries its whole bucket's sum): the handler
    truncates the range to the table resolution (reference forRange,
    console/clickhouse.go:234-249), so every emitted bucket lies on a
    table-resolution boundary and the routed totals equal a direct
    raw-table aggregation over the aligned range."""
    from akvorado_spark.query.graph import align_range

    ragged_start = START + timedelta(minutes=7, seconds=23)
    ragged_end = END - timedelta(minutes=3, seconds=41)
    req = GraphRequest(
        start=ragged_start, end=ragged_end, dimensions=("ExporterName",),
        units="l3bps", points=4, limit=50,
    )
    out = graph_line(store, req).collect()
    assert out
    # which table/interval served it
    target = max(int((ragged_end - ragged_start).total_seconds() // 4), 1)
    res, interval_s = store.best_table(ragged_start, ragged_end, target)
    assert res.interval_s > 0  # the request really routed to a rollup
    a_start, a_end = align_range(ragged_start, ragged_end, res.interval_s, interval_s)
    lo, hi = int(a_start.timestamp() * 1e6), int(a_end.timestamp() * 1e6)
    for r in out:
        assert r["bucket"] % (res.interval_s * 1_000_000) == 0
        assert lo <= r["bucket"] < hi
    # routed totals == raw-table aggregation over the SAME aligned range
    raw = store.read(store.resolutions[0])
    got_total = sum(r["sum_w"] for r in out)
    want_total = (
        raw.filter(
            (F.col("TimeReceived") >= F.lit(a_start))
            & (F.col("TimeReceived") < F.lit(a_end))
        )
        .agg(F.sum(F.col("Bytes") * F.col("SamplingRate") * 8))
        .first()[0]
    )
    assert got_total == want_total


def test_flowstore_uri_root_round_trip(spark, tmp_path):
    """URI-style roots (hdfs://, s3a://, file://) must go through the
    Hadoop FileSystem API — an os.path check is always False there and
    silently read an existing table as empty (ADVICE r3: rollup.py).
    file:// exercises that code path against the local FS."""
    root = "file://" + str(tmp_path / "uristore")
    s = FlowStore(spark, root)
    # absent table: still composes as an empty typed frame
    assert s.read(s.resolutions[0]).count() == 0
    assert s.oldest(s.resolutions[0]) is None
    df = flows_schema().ingest(flows_df(spark, n=500))
    s.write_main(df)
    s.build_rollups()
    # the same data read back through the URI root — NOT silently empty
    assert s.read(s.resolutions[0]).count() == 500
    assert s.oldest(s.resolutions[0]) is not None
    # start a clear bucket after the data begins so the rollup covers
    res, _ = s.best_table(START + timedelta(days=1), END + timedelta(days=1), 7200)
    assert res.interval_s == 3600  # router sees the rollup through the URI
    # TTL expiry deletes partitions through the Hadoop FS as well
    dropped = s.expire(now=datetime(2030, 1, 1, tzinfo=timezone.utc))
    assert dropped
    assert s.read(s.resolutions[0]).count() == 0


def test_align_range_naive_datetimes_are_utc(spark):
    """Naive datetimes are UTC instants (like _us); align_range must not
    reinterpret them in the host TZ (ADVICE r3: graph.py align_range).
    Forces a non-UTC process TZ so datetime.timestamp()'s local-time
    reading would actually shift the result."""
    import os
    import time

    from akvorado_spark.query.graph import align_range

    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        naive = datetime(2024, 1, 1, 3, 7, 23)
        aware = naive.replace(tzinfo=timezone.utc)
        s1, e1 = align_range(naive, naive + timedelta(hours=2), 3600, 3600)
        s2, e2 = align_range(aware, aware + timedelta(hours=2), 3600, 3600)
        assert (s1, e1) == (s2, e2)
        assert s1 == datetime(2024, 1, 1, 3, tzinfo=timezone.utc)
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()


def test_truncation_skips_non_truncatable_ip_dims(store):
    """Reference graph_test.go 'no truncatable dimensions': only
    Src/DstAddr (+NAT) carry ConsoleTruncateIP — an ExporterAddress
    dimension passes through a truncating request untouched (still
    display-rendered)."""
    out = graph_line(
        store,
        GraphRequest(
            start=START, end=END, dimensions=("ExporterAddress",), units="l3bps",
            points=24, limit=5, truncate_v4=16, truncate_v6=40,
        ),
    ).collect()
    import ipaddress

    addrs = {r["ExporterAddress"] for r in out if r["ExporterAddress"] != "Other"}
    assert addrs  # rendered strings, not binary
    for a in addrs:
        ip = ipaddress.ip_address(a)
        assert int(ip) % 256 != 0  # /16 truncation did NOT zero the tail


def test_graph_line_filter_on_alias_column(store):
    """Alias (computed-on-read) columns are filterable: view() must run
    before the user filter (code-review finding — PacketSizeBucket is
    enabled by default, not stored, and validate_filter accepts it)."""
    out = graph_line(
        store,
        GraphRequest(
            start=START, end=END, dimensions=("ExporterName",), units="l3bps",
            points=24, limit=3, filter="PacketSize > 0 AND Proto = 'tcp'",
        ),
    ).collect()
    assert out


def test_graph_alias_dimension_folds_as_a_string(store):
    """An alias (computed-on-read) dimension is not stored in any table;
    its declared string type still lets it fold as it is."""
    from akvorado_spark.query.graph import graph_sankey

    req = GraphRequest(start=START, end=END, dimensions=("PacketSizeBucket",),
                       units="l3bps", points=24, limit=2)
    for out in (graph_line(store, req).collect(), graph_sankey(store, req).collect()):
        assert out and all(isinstance(r["PacketSizeBucket"], str) for r in out)
        assert "Other" in {r["PacketSizeBucket"] for r in out}


def test_graph_line_previous_period_bool_derives_from_span(store):
    """previous_period=True is the reference API: the shift derives
    from the range span (a 6h range → nearest period = day)."""
    out = graph_line(
        store,
        GraphRequest(start=START, end=END, dimensions=("ExporterName",),
                     units="pps", points=24, limit=2, previous_period=True),
    ).collect()
    assert {r["axis"] for r in out} == {1, 3}


def test_last_ranking_uses_range_final_bucket(store):
    """limit_type='last' ranks over the ARITHMETIC final interval of
    the requested range (reference line_test.go 'limitType by last':
    TimeReceived >= end - interval), even when that interval is empty —
    everything folds to 'Other' then, on BOTH engines (the oracle used
    to rank over the last bucket WITH data)."""
    from akvorado_spark.query.line import LineRequest, compile_line, oracle_line_sql
    import duckdb

    main = store.read(store.resolutions[0]).drop("part_date")
    df = main.select("TimeReceived", "ExporterName", "Bytes", "SamplingRate")
    # range extends 2h past the data's end → final 30min bucket is empty
    end = END + timedelta(hours=2)
    req = LineRequest(
        time_col="TimeReceived", dimensions=("ExporterName",), weight_sql=None,
        interval_s=1800, limit=2, limit_type="last",
        agg_sql="SUM(Bytes * SamplingRate * 8)", base_cols=("Bytes", "SamplingRate"),
        start_us=int(START.timestamp() * 1e6), end_us=int(end.timestamp() * 1e6),
    )
    got = {(r["bucket"], r["ExporterName"], r["sum_w"])
           for r in compile_line(df, req).collect()}
    assert got and all(name == "Other" for _, name, _ in got)
    con = duckdb.connect()
    con.register("flows_px", df.toPandas())
    want = {(r[0], r[1], r[2]) for r in
            con.execute(oracle_line_sql("flows_px", req)).fetchall()}
    assert got == want
