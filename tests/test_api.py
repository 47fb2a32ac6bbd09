"""Auxiliary API endpoints (SURVEY §3.4): filter validation,
table-interval routing, saved filters."""

from __future__ import annotations

from datetime import datetime, timezone

import pytest

from akvorado_spark.filtering import flow_filter_schema
from akvorado_spark.filtering.parser import FilterError
from akvorado_spark.query.api import SavedFilters, table_interval, validate_filter

SCHEMA = flow_filter_schema()


def test_validate_filter():
    ok = validate_filter("InIfBoundary = external AND SrcAS = AS65001", SCHEMA)
    assert ok.ok and "65001" in ok.parsed
    assert validate_filter("", SCHEMA).ok

    bad = validate_filter("SrcAddr ><> 1.2.3.4", SCHEMA)
    assert not bad.ok and bad.message

    unknown = validate_filter("NoSuchColumn = 3", SCHEMA)
    assert not unknown.ok


@pytest.fixture(scope="module")
def rolled_store(spark, tmp_path_factory):
    from akvorado_spark.plans.rollup import FlowStore
    from akvorado_spark.schema.definition import flows_schema
    from akvorado_spark.sources.fixtures import flows_df

    store = FlowStore(spark, str(tmp_path_factory.mktemp("ti_store")))
    store.write_main(flows_schema().ingest(flows_df(spark, n=2000)))
    store.build_rollups()
    return store


def test_table_interval_routing(rolled_store):
    store = rolled_store
    # start a clear resolution bucket after the data begins (reference
    # coverage rule: start > oldest + resolution)
    start = datetime(2024, 1, 2, tzinfo=timezone.utc)
    end = datetime(2024, 1, 3, tzinfo=timezone.utc)

    # 24h / 24 points → 3600 s target → 1h rollup serves it
    r = table_interval(store, start, end, points=24)
    assert r["resolution_s"] == 3600 and r["interval_s"] == 3600 and not r["main_table"]

    # MainOnly filter forces the main table (P10)
    r = table_interval(store, start, end, points=24,
                       filter_text="SrcPort = 443", schema=SCHEMA)
    assert r["main_table"]

    # MainOnly dimension does too
    r = table_interval(store, start, end, points=24, dimensions=("SrcAddr",))
    assert r["main_table"]

    # 2000 points → 43 s target → raw resolution required
    r = table_interval(store, start, end, points=2000)
    assert r["main_table"]


def test_table_interval_filter_routes_like_graph_line(rolled_store):
    """With no ``schema``, the filter still counts: it compiles with
    the flows filter schema, as graph_line's does, so a MainOnly filter
    reports the main table graph_line reads."""
    from akvorado_spark.query.graph import GraphRequest, _route

    start = datetime(2024, 1, 2, tzinfo=timezone.utc)
    end = datetime(2024, 1, 3, tzinfo=timezone.utc)
    r = table_interval(rolled_store, start, end, points=24, filter_text="SrcPort = 443")
    assert r["main_table"]
    req = GraphRequest(start=start, end=end, dimensions=(), filter="SrcPort = 443", points=24)
    _, _, res, interval_s, *_ = _route(rolled_store, req, req.points)
    assert (r["table"], r["interval_s"]) == (res.table_name, interval_s)


def test_saved_filters_crud(tmp_path):
    db = SavedFilters(str(tmp_path / "filters.db"))
    a = db.create("alice", "external https", "InIfBoundary = external AND DstPort = 443",
                  schema=SCHEMA)
    b = db.create("bob", "shared asn", "SrcAS = AS65001", shared=True, schema=SCHEMA)
    db.create("bob", "private", "DstPort = 22")

    alice_sees = db.list("alice")
    assert [f["id"] for f in alice_sees] == [a, b]  # own + shared

    assert not db.delete(b, "alice")  # not the owner
    assert db.delete(a, "alice")
    assert [f["id"] for f in db.list("alice")] == [b]

    with pytest.raises(FilterError):
        db.create("alice", "broken", "SrcAddr ><> nope", schema=SCHEMA)


def test_complete_cached(spark):
    from akvorado_spark.query.cache import ResultCache
    from akvorado_spark.query.complete import complete_asn, complete_cached
    from akvorado_spark.schema.definition import flows_schema
    from akvorado_spark.sources.fixtures import flows_df

    flows = flows_schema().ingest(flows_df(spark, n=500))
    cache = ResultCache(ttl_s=60)
    first = complete_cached(cache, complete_asn, flows, "Gl", limit=5)
    second = complete_cached(cache, complete_asn, flows, "Gl", limit=5)
    assert first == second and cache.hits == 1
    complete_cached(cache, complete_asn, flows, "Ac", limit=5)  # different prefix
    assert cache.misses == 2


def test_queries_survive_empty_corpus(spark, tmp_path):
    """Zero-row inputs (nothing ingested yet, TTL dropped everything,
    a filter matched nothing upstream) must compose through the query
    registry, not crash — the scalar-collect / fold / spine paths are
    where empty frames bite.  A full-registry sweep ran offline; this
    pins the representatives with driver-side collects and the
    empty-store read path."""
    import __spark_entry__ as entrymod

    src = "/root/testdata/sf0.001"
    dst = str(tmp_path / "empty_sf")
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        spark.read.parquet(f"{src}/{t}.parquet").limit(0).write.mode(
            "overwrite"
        ).parquet(f"{dst}/{t}.parquet")

    queries = entrymod.queries()
    for name in (
        "graph_line_suite",      # bounds collect + fill spine
        "rollup_route_suite",    # empty-store read + router
        "dedup_pipeline_suite",  # components fixpoint on zero pairs
        "widget_flow_rate",      # scalar aggregate
        "widget_last_flow",      # max-timestamp probe
        "series_stats",          # p95/last formulas
        "sankey_bidir",          # scalar range CTE
        "complete_suite",        # dictionary-only completion branches
    ):
        df = queries[name](spark, dst)
        assert df.count() >= 0, name  # evaluates without raising


def test_points_validated_at_api_boundary(spark, tmp_path):
    """Reference console/line.go:24: points is min=5,max=2000 on every
    graph / table-interval input (line_test.go 'too many points')."""
    from akvorado_spark.plans.rollup import FlowStore
    from akvorado_spark.query.api import validate_points
    from akvorado_spark.schema.definition import flows_schema
    from akvorado_spark.sources.fixtures import flows_df

    validate_points(5)
    validate_points(2000)
    for bad in (0, 4, 86400):
        with pytest.raises(ValueError):
            validate_points(bad)

    store = FlowStore(spark, str(tmp_path / "pv_store"))
    store.write_main(flows_schema().ingest(flows_df(spark, n=200)))
    with pytest.raises(ValueError):
        table_interval(
            store,
            datetime(2024, 1, 2, tzinfo=timezone.utc),
            datetime(2024, 1, 3, tzinfo=timezone.utc),
            points=86400,
        )


def test_limit_validated_at_api_boundary():
    """Reference console/graph.go:22 (min=1) + line.go:236 /
    sankey.go:167 (DimensionsLimit cap, default 50)."""
    from akvorado_spark.query.api import validate_limit

    validate_limit(1)
    validate_limit(50)
    with pytest.raises(ValueError):
        validate_limit(0)
    with pytest.raises(ValueError, match="beyond maximum"):
        validate_limit(51)
    validate_limit(100, dimensions_limit=200)  # config raises the cap


def test_top_percent_folds_null_to_unknown(spark):
    """NULL selector values fold into 'Unknown' like empty strings
    (code-review finding: NULL survived as its own group)."""
    from pyspark.sql import functions as F

    from akvorado_spark.query.widgets import top_percent

    df = spark.createDataFrame(
        [("a", 10), (None, 5), ("", 5)], "sel string, Bytes long"
    ).withColumn("SamplingRate", F.lit(1).cast("long"))
    out = {r["Name"]: r["Percent"] for r in top_percent(df, "sel").collect()}
    assert set(out) == {"a", "Unknown"}
    assert out["Unknown"] == pytest.approx(50.0)


def test_complete_communities_absent_columns_graceful(spark):
    """Neither community column on the frame (rollup tables — both are
    MainOnly): empty completion, not IndexError."""
    from akvorado_spark.query.complete import complete_communities

    df = spark.createDataFrame([(1,)], "x long")
    assert complete_communities(df, side="Dst").collect() == []
