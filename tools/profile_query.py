"""Per-query profiling: where does the wall time go?

For each query (or the $SPARK_GRAFT_BENCH_QUERIES subset) this measures,
after the same warmup bench.py performs:

  build_s   — constructing the DataFrame (Python query-builder time:
              driver-side collects, codebook derivation)
  build_jobs — Spark jobs that first build ran (``telemetry.spark_jobs``;
              a build that only plans reads 0)
  build_py4j — py4j commands sent by that first build, and
  rebuild_py4j — by a warm rebuild (the first rerun's fn() call);
              counted by ``telemetry.py4j_commands`` (proxy deletes
              excepted)
  first_s   — first .count() on that frame (analysis + optimization +
              execution, AQE replanning included)
  build_compiles — classes Spark's code generator compiled over that
              build and first count, and
  rebuild_compiles — over the first rerun (``telemetry.codegen_compiles``;
              the warmup already ran the query, so both read ~0 unless
              the codegen cache missed)
  rerun_s   — a fresh fn() + .count(), min over N (exactly what
              bench.py times per repeat)
  cached_s  — .count() on the SAME DataFrame object again (analysis/
              optimization cached by the Dataset's QueryExecution;
              execution + AQE only)
  stages_per_run — stages the reruns added to the status store, per
              run (``telemetry.stage_snapshot`` diff)

rerun_s - cached_s ≈ per-invocation plan overhead (Python build +
analysis + optimize); cached_s ≈ pure execution.  Both matter at 100 TB
— execution dominates there — but at bench SF the overhead share tells
us which queries are paying for plan size rather than data.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from akvorado_spark import telemetry  # noqa: E402
from bench import warm_up  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as entrymod
    from akvorado_spark.session import get_spark

    spark = get_spark("profile")
    only = {
        q for q in os.environ.get("SPARK_GRAFT_BENCH_QUERIES", "").split(",") if q
    }
    # the warmup bench.py performs, over the profiled queries only
    warm_up(spark, sf_dir, {}, only)

    repeat = int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "3"))
    rows = []
    with telemetry.py4j_commands(spark) as py4j:
        for name, fn in entrymod.queries().items():
            if only and name not in only:
                continue
            spark.sparkContext.setJobDescription(f"profile:{name}")
            try:
                with telemetry.codegen_compiles(spark) as build_compiles:
                    with telemetry.spark_jobs(spark) as build_jobs:
                        t0, c0 = time.time(), py4j[0]
                        df = fn(spark, sf_dir)
                        build_s, build_py4j = time.time() - t0, py4j[0] - c0
                    t0 = time.time()
                    df.count()
                    first_s = time.time() - t0
                cached = None
                for _ in range(2):
                    t0 = time.time()
                    df.count()
                    dt = time.time() - t0
                    cached = dt if cached is None else min(cached, dt)
                rerun = None
                st0 = telemetry.stage_snapshot(spark)
                rebuild_py4j = rebuild_compiles = None
                for _ in range(repeat):
                    with telemetry.codegen_compiles(spark) as compiles:
                        t0, c0 = time.time(), py4j[0]
                        rdf = fn(spark, sf_dir)
                        if rebuild_py4j is None:
                            rebuild_py4j = py4j[0] - c0
                        rdf.count()
                        dt = time.time() - t0
                    if rerun is None:
                        rebuild_compiles = compiles[0]
                    rerun = dt if rerun is None else min(rerun, dt)
                st1 = telemetry.stage_snapshot(spark, st0)
                stages = (
                    len(telemetry.new_stages(st0, st1)) // repeat
                    if st0 is not None and st1 is not None
                    else -1
                )
            except Exception as exc:  # noqa: BLE001
                print(f"{name}: ERROR {type(exc).__name__}: {exc}", file=sys.stderr)
                continue
            finally:
                try:
                    jmap = spark.sparkContext._jsc.getPersistentRDDs()
                    for rid in list(jmap.keys()):
                        jmap[rid].unpersist()
                except Exception:
                    pass
            rows.append(
                {
                    "name": name,
                    "build": round(build_s, 3),
                    "build_jobs": build_jobs[0],
                    "build_py4j": build_py4j,
                    "rebuild_py4j": rebuild_py4j,
                    "build_compiles": (build_compiles[0] or {}).get("compiles"),
                    "rebuild_compiles": (rebuild_compiles or {}).get("compiles"),
                    "first": round(first_s, 3),
                    "cached": round(cached, 3),
                    "rerun": round(rerun, 3),
                    "overhead": round(max(rerun - cached, 0.0), 3),
                    "stages_per_run": stages,
                }
            )
            print(json.dumps(rows[-1]), flush=True)

    rows.sort(key=lambda r: -r["rerun"])
    print("\n== sorted by rerun (bench-equivalent) ==")
    tot_r = sum(r["rerun"] for r in rows)
    tot_c = sum(r["cached"] for r in rows)
    tot_o = sum(r["overhead"] for r in rows)
    for r in rows:
        print(
            f"{r['name']:28s} rerun={r['rerun']:7.3f} cached={r['cached']:7.3f} "
            f"overhead={r['overhead']:7.3f} build={r['build']:6.3f} stages={r['stages_per_run']}"
            f" py4j={r['build_py4j']}/{r['rebuild_py4j']} build_jobs={r['build_jobs']}"
            f" compiles={r['build_compiles']}/{r['rebuild_compiles']}"
        )
    print(f"{'TOTAL':28s} rerun={tot_r:7.3f} cached={tot_c:7.3f} overhead={tot_o:7.3f}")


if __name__ == "__main__":
    main()
