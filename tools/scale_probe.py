"""Measured plan-shape evidence for SCALE.md.

Runs the headline queries in the engine's own session (``get_spark``)
and reads per-stage executor metrics (shuffle read/write bytes, input
bytes, disk spill, tasks) from Spark's status store, attributing stages
to a query by diffing ``telemetry.stage_snapshot`` across its two runs.
The point: SCALE.md's shuffle-inventory claims stop being prose — this
prints the observed numbers.

Usage: python tools/scale_probe.py [sf_dir] [query ...]
Writes a markdown table to stdout (and optionally SCALE_METRICS.md
with --write).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from akvorado_spark import telemetry  # noqa: E402

HEADLINE = [
    "graph_line_suite",
    "units_line_suite",
    "sankey_bidir",
    "lpm_networks",
    "lpm_rib",
    "rollup_route_suite",
    "topk_weighted_exact",
    "dedup_exact_docs",
    "dedup_pipeline_suite",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_suite",
    "embed_neardup_pairs",
    "events_sessionize",
    "events_ops_suite",
    "lmdata_suite",
    "rate_limit_compensated",
    "text_stats",
    "docs_chunking",
    "exporters_table",
    "complete_suite",
    "widget_exporters",
    "graph_line_bidir",
    "graph_line_prev_period",
    "vocab_suite",
    "text_id_suite",
    "multimodal_decode_meta",
]


def fmt_bytes(n: float) -> str:
    for unit in ("B", "KB", "MB", "GB"):
        if n < 1024 or unit == "GB":
            return f"{n:.0f}{unit}" if unit == "B" else f"{n:.1f}{unit}"
        n /= 1024
    return f"{n:.1f}GB"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("-") else "/root/testdata/sf0.1"
    write = "--write" in sys.argv
    only = [a for a in sys.argv[2:] if not a.startswith("-")]

    from akvorado_spark.session import get_spark

    spark = get_spark("scale_probe")

    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    names = only or [n for n in HEADLINE if n in queries]

    # warmup (not attributed)
    spark.range(64).repartition(32).mapInPandas(lambda it: it, "id long").count()
    queries["flt_dsl_suite"](spark, sf_dir).count()

    seen = telemetry.stage_snapshot(spark)
    if seen is None:
        print("# the status store cannot be read on this Spark", file=sys.stderr)
        return 1
    rows = []
    for name in names:
        t0 = time.time()
        try:
            queries[name](spark, sf_dir).count()
            # min-of-2 warm time alongside the metrics (BENCH_NOTES.md)
            t1 = time.time()
            queries[name](spark, sf_dir).count()
            dt = min(t1 - t0, time.time() - t1)
        except Exception as exc:  # noqa: BLE001
            print(f"# {name}: ERROR {exc}", file=sys.stderr)
            continue
        finally:
            cur = telemetry.stage_snapshot(spark, seen) or seen
            new = telemetry.new_stages(seen, cur)
            seen = cur
        # a stage that ran no task was skipped: its shuffle output was
        # reused from an earlier job of the same query
        ran = [st for st in new if st["tasks"]]
        rows.append(
            {
                "query": name,
                "stages": len(ran),
                "shuffle_stages": sum(1 for st in ran if st["shuffle_write_bytes"]),
                "input": sum(st["input_bytes"] for st in ran),
                "sh_write": sum(st["shuffle_write_bytes"] for st in ran),
                "sh_read": sum(st["shuffle_read_bytes"] for st in ran),
                "spill": sum(st["spill_disk_bytes"] for st in ran),
                "tasks": sum(st["tasks"] for st in ran),
                "sec": round(dt, 2),
            }
        )
        print(f"# {name}: done", file=sys.stderr)

    lines = [
        "| query | stages | shuffle-writing stages | tasks | input | shuffle write | shuffle read | disk spill | sec (min of 2) |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        lines.append(
            f"| {r['query']} | {r['stages']} | {r['shuffle_stages']} | {r['tasks']} "
            f"| {fmt_bytes(r['input'])} | {fmt_bytes(r['sh_write'])} "
            f"| {fmt_bytes(r['sh_read'])} | {fmt_bytes(r['spill'])} | {r['sec']} |"
        )
    table = "\n".join(lines)
    print(table)
    if write:
        with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALE_METRICS.md"), "w") as f:
            f.write(
                f"# SCALE_METRICS — measured per-query execution metrics (sf_dir={sf_dir})\n\n"
                "Produced by `python tools/scale_probe.py <sf_dir> --write`: per-stage\n"
                "executor metrics from Spark's status store, attributed to queries by\n"
                "status-store snapshot diff.  Evidence for the shuffle-inventory\n"
                "claims in SCALE.md — shuffle volumes should track the *derived*\n"
                "frames (aggregates, candidate sets), never the input scan volume, and\n"
                "spill should be 0 at this scale.\n\n" + table + "\n"
            )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
