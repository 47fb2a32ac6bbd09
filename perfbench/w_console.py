"""The ``console`` workload: closed-loop dashboard requests from one
client against an 8-day FlowStore.

Set-up bulk-loads the store with one ``FlowStore.write_main`` and one
``build_rollups`` (the wire-shaped flows go through ``wire_to_flows``
and the enrichment first), then sends every request once as a warm-up.
A round sends the seeded request sequence once; each request builds its
DataFrame through the console functions (``graph_line``,
``graph_sankey``, the widgets, the completions) and collects it.  No
``ResultCache``: a cache hit would measure a dict lookup.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from statistics import geometric_mean, median

import numpy as np
import pandas as pd

from perfbench import checks, flowgen
from perfbench.common import cpu_s, now, rounds_for, steal_s
from perfbench.trace import spark_counters

SHAPE = flowgen.StoreShape()
END = datetime(2024, 3, 17, tzinfo=timezone.utc)
# requests end two hours before the store's newest data
NOW = END - timedelta(hours=2)
LAST_DAY = (END - timedelta(days=1)).date()
KINDS = ("line", "sankey", "widget", "complete")
# nominal length of a round on 4 cores; a run of S seconds times
# S // ROUND_S rounds, at least one
ROUND_S = 12


@dataclass(frozen=True)
class Request:
    kind: str
    name: str
    params: dict = field(default_factory=dict)
    # hand-written DuckDB predicates for the direct and reversed filter
    where: str = "TRUE"
    rwhere: str = "TRUE"
    # resolution (s) of the table the router should pick; 0 = main
    table_s: int | None = None


def requests(seed: int) -> list[Request]:
    """The request sequence.  Its shape is fixed; the seed picks the
    exporter, the remote AS and the completion prefixes, each among a
    few values of the same kind."""
    rng = np.random.default_rng([seed, 3])
    exporter = int(rng.integers(0, flowgen.N_EXPORTERS))
    ename = flowgen.metadata_pdf()["ExporterName"][exporter]
    port = 443
    # remote ASes of the fixture's networks, each behind one prefix
    asn = int(rng.choice([65520, 65521, 65530, 65540]))
    h = timedelta(hours=1)
    d = timedelta(days=1)

    def line(name, span, dims, points, table_s, flt="", where="TRUE", rwhere="TRUE", **kw):
        return Request("line", name, dict(start=NOW - span, end=NOW, dimensions=dims,
                                          points=points, filter=flt, **kw),
                       where, rwhere, table_s)

    return [
        line("l1h_srcas_bidir_prev", h, ("SrcAS",), 60, 60, f"ExporterName = '{ename}'",
             f"ExporterName = '{ename}'", f"ExporterName = '{ename}'",
             bidirectional=True, previous_period=True),
        line("l6h_exporter_provider", 6 * h, ("ExporterName", "InIfProvider"), 72, 300,
             "InIfBoundary = external", "InIfBoundary = 'external'"),
        line("l24h_srcaddr_port", d, ("SrcAddr",), 48, 0, f"DstPort = {port}",
             f"DstPort = {port}", truncate_v4=24, truncate_v6=48),
        line("l7d_proto_asn", 7 * d, ("Proto",), 168, 3600, f"SrcAS = {asn}",
             f"SrcAS = {asn}", units="pps"),
        Request("sankey", "s24h_as_as", dict(start=NOW - d, end=NOW,
                                             dimensions=("SrcAS", "DstAS"),
                                             filter="Proto = 6"),
                "Proto = 6", table_s=3600),
        Request("widget", "flow_rate"),
        Request("widget", "top_percent", dict(selector="DstAS"),
                where="InIfBoundary = 'external'"),
        Request("widget", "widget_graph", dict(interval_s=3600)),
        Request("widget", "last_flow"),
        Request("complete", "complete_asn",
                dict(prefix=str(rng.choice(["goo", "net", "cl", "am", "fa", "mi", "ak"])))),
        Request("complete", "complete_port",
                dict(prefix=str(rng.choice(["ht", "dom", "ss", "nt"])))),
        Request("complete", "complete_exporter",
                dict(prefix=str(rng.choice(["rou", "out", "ter", "router"])))),
    ]


class Console:
    """The store and the frames the widgets and completions read."""

    def __init__(self, spark, root: str, tracer):
        from akvorado_spark.plans.rollup import FlowStore

        self.spark = spark
        self.store = FlowStore(spark, root)
        self.tracer = tracer
        if tracer.enabled:
            tracer.wrap(self.store, "best_table", "plans.route")

    def bulk_load(self, flows: pd.DataFrame, engine) -> None:
        from pyspark.sql import types as T

        from akvorado_spark.sources.wire import WIRE_SCHEMA
        from akvorado_spark.streaming.ingest import enrich
        from akvorado_spark.streaming.wire_bridge import wire_to_flows

        pdf = flowgen.wire_frame(flows)
        schema = T.StructType([f for f in WIRE_SCHEMA.fields if f.name in pdf.columns])
        wire = self.spark.createDataFrame(pdf[[f.name for f in schema.fields]], schema)
        enriched = self.store.schema.ingest(
            enrich(wire_to_flows(wire, interfaces=engine.interfaces), engine.cfg))
        self.store.write_main(enriched)
        self.store.build_rollups()

    def recent_main(self):
        from pyspark.sql import functions as F

        main = self.store.read(self.store.resolutions[0])
        return main.filter(F.col("part_date") >= F.lit(LAST_DAY)).drop("part_date")

    def frame(self, req: Request):
        """The request's DataFrame, built through the console functions."""
        from pyspark.sql import functions as F

        from akvorado_spark.query import complete, widgets
        from akvorado_spark.query.graph import GraphRequest, graph_line, graph_sankey

        if req.kind == "line":
            return graph_line(self.store, GraphRequest(**req.params))
        if req.kind == "sankey":
            return graph_sankey(self.store, GraphRequest(**req.params))
        if req.name == "flow_rate":
            return widgets.flow_rate(self.recent_main())
        if req.name == "top_percent":
            return widgets.top_percent(
                self.recent_main().filter(F.col("InIfBoundary") == "external"),
                req.params["selector"])
        if req.name == "widget_graph":
            hourly = self.store.read(self.store.resolutions[-1])
            return widgets.widget_graph(hourly.drop("part_date"), req.params["interval_s"])
        if req.name == "last_flow":
            return widgets.last_flow(self.recent_main(), tiebreak=(
                "ExporterAddress", "SrcAddr", "DstAddr", "SrcPort", "DstPort", "Bytes"))
        if req.name == "complete_asn":
            return complete.complete_asn(self.recent_main(), req.params["prefix"])
        if req.name == "complete_port":
            return complete.complete_port(self.recent_main(), req.params["prefix"])
        return complete.complete_exporter(self.recent_main(), req.params["prefix"])

    def send(self, req: Request):
        """One request: build, then collect.  Returns (rows, wall
        seconds, CPU seconds)."""
        tr = self.tracer
        c0 = cpu_s()
        with tr.span("console.request", kind=req.kind, request=req.name):
            t0 = now()
            if tr.enabled and req.params.get("filter") is not None:
                from akvorado_spark.filtering import compile_filter, flow_filter_schema

                with tr.span("filtering.compile"):
                    compile_filter(req.params["filter"], flow_filter_schema()).reverse()
            with tr.span("query.build"):
                df = self.frame(req)
            with tr.span("query.exec") as ex:
                rows = df.collect()
            elapsed = now() - t0
            if tr.enabled:
                ex.update(_phases(df))
        return rows, elapsed, cpu_s() - c0


def _phases(df) -> dict:
    """Catalyst phase times of an executed DataFrame, in ms."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        out[f"phase_{kv._1()}_ms"] = float(kv._2().durationMs())
    return out


def run(spark, work, seed: int, seconds: float, tracer, ops, report):
    from perfbench.w_ingest import Engine

    t0 = now()
    flows = flowgen.store_flows(seed, SHAPE)
    reqs = requests(seed)
    report["generate_s"] = now() - t0

    # set-up: bulk load, then the request sequence once as a warm-up
    t0, c0 = now(), cpu_s()
    console = Console(spark, work.sub("store"), tracer)
    console.bulk_load(flows, Engine(spark, networks=False))
    load_s = now() - t0
    for req in reqs:
        console.send(req)
    report["setup_wall_s"], setup_cpu = now() - t0, cpu_s() - c0

    latency = {k: [] for k in KINDS}
    cpu = {k: [] for k in KINDS}
    passes, pass_cpu, steal = [], [], []
    answers = None
    n_rounds = rounds_for(seconds, ROUND_S)
    for r in range(n_rounds):
        with tracer.span("round", round=r):
            t1, c1, s1 = now(), cpu_s(), steal_s()
            answers = []
            for req in reqs:
                rows, s, c = console.send(req)
                latency[req.kind].append(s)
                cpu[req.kind].append(c)
                answers.append(rows)
            passes.append(now() - t1)
            pass_cpu.append(cpu_s() - c1)
            steal.append(steal_s() - s1)
        ops.ok(len(reqs))

    t0 = now()
    checks.console_answers(console, reqs, answers, flows)
    report["check_s"] = now() - t0
    kind_p50 = {k: 1000.0 * median(v) for k, v in latency.items()}
    kind_cpu = {k: 1000.0 * median(v) for k, v in cpu.items()}
    pass_s = median(passes)
    report.update({
        "rounds": n_rounds,
        "flows": len(flows),
        "bulk_load_s": load_s,
        "pass_s": pass_s,
        "op_p50_ms": geometric_mean(kind_p50.values()),
        "requests_per_s": len(reqs) / pass_s,
        **{f"{k}_p50_ms": v for k, v in kind_p50.items()},
        **{f"{k}_cpu_p50_ms": v for k, v in kind_cpu.items()},
        "steal_s": median(steal),
    })
    return {"setup_s": setup_cpu, "pass_cpu_s": median(pass_cpu)}


def layer_metrics(tracer, report) -> dict:
    """Per-layer figures of the console workload, per round (set-up and
    warm-up spans excluded)."""
    rounds = report["rounds"]
    self_ms = tracer.self_ms()
    timed = tracer.timed()

    def total(name, key=None):
        return sum(self_ms[s["id"]] if key is None else s.get(key, 0)
                   for s in timed if s["name"] == name) / rounds

    def every(key):
        return sum(s.get(key, 0) for s in timed) / rounds

    builds = [s for s in timed if s["name"] == "query.build"]
    return {
        "filtering.compile_ms": total("filtering.compile"),
        "plans.route_ms": total("plans.route"),
        "query.build_ms": total("query.build"),
        "query.py4j_calls": sum(s["py4j"] for s in builds) / rounds,
        "spark.analysis_ms": total("query.exec", "phase_analysis_ms"),
        "spark.optimization_ms": total("query.exec", "phase_optimization_ms"),
        "spark.planning_ms": total("query.exec", "phase_planning_ms"),
        "query.exec_ms": total("query.exec"),
        **spark_counters(every),
    }
