"""A repeated console request reuses the classes Spark generated for it.

The console answers the same dashboard requests over and over.  Spark
compiles a class per whole-stage-codegen stage (and per projection or
predicate it generates), and its codegen cache should hand each one back
on the repeat.  With Spark's defaults it did not: the class source
carried the stage id AQE renumbers between runs, and the 100-entry cache
was smaller than one console round's working set.  ``get_spark`` fixes
both; this sends console requests until they have compiled more than 100
classes, then sends the same set again and expects no compile at all."""

from __future__ import annotations

from datetime import datetime, timezone

from akvorado_spark import telemetry

# above Spark's default spark.sql.codegen.cache.maxEntries
WORKING_SET = 100


def test_resent_console_requests_compile_nothing(spark, tmp_path):
    from akvorado_spark.plans.rollup import FlowStore
    from akvorado_spark.query import complete, widgets
    from akvorado_spark.query.graph import GraphRequest, graph_line, graph_sankey
    from akvorado_spark.schema.definition import flows_schema
    from akvorado_spark.sources.fixtures import flows_df

    store = FlowStore(spark, str(tmp_path / "store"))
    store.write_main(flows_schema().ingest(flows_df(spark, n=2000)))
    store.build_rollups()
    # time bounds are inlined into the generated scan filters: bounds no
    # other test uses keep earlier tests' classes from serving this set
    start = datetime(2024, 1, 1, 0, 55, tzinfo=timezone.utc)
    end = datetime(2024, 1, 1, 5, 5, tzinfo=timezone.utc)

    def main():
        return store.read(store.resolutions[0]).drop("part_date")

    candidates = [
        lambda: graph_line(store, GraphRequest(
            start, end, ("SrcAS",), points=50, filter="InIfBoundary = external",
            bidirectional=True, previous_period=True)),
        lambda: graph_line(store, GraphRequest(
            start, end, ("SrcAddr",), points=25, filter="DstPort = 443",
            truncate_v4=24, truncate_v6=48)),
        lambda: graph_sankey(store, GraphRequest(start, end, ("SrcAS", "DstAS"))),
        lambda: widgets.top_percent(main(), "DstAS"),
        lambda: complete.complete_asn(main(), "65"),
        lambda: graph_line(store, GraphRequest(
            start, end, ("ExporterName", "InIfProvider"), points=50, units="pps",
            filter="Proto = 6")),
        lambda: graph_sankey(store, GraphRequest(
            start, end, ("ExporterName", "DstPort"), filter="InIfBoundary = external")),
        lambda: widgets.last_flow(main(), tiebreak=("SrcAddr", "DstAddr", "Bytes")),
        lambda: complete.complete_port(main(), "ht"),
    ]
    sent, compiled = [], 0
    for request in candidates:
        with telemetry.codegen_compiles(spark) as c:
            request().collect()
        assert c[0] is not None
        sent.append(request)
        compiled += c[0]["compiles"]
        if compiled > WORKING_SET:
            break
    assert compiled > WORKING_SET, compiled

    with telemetry.codegen_compiles(spark) as again:
        for request in sent:
            request().collect()
    assert again[0] == {"compiles": 0, "compile_ms": 0.0}, (len(sent), again[0])
