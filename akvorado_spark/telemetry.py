"""Query-cost reads shared by ``bench.py`` and the profiling tools.

Four measurements, each read without launching a Spark job:

- ``py4j_commands``: the py4j commands the driver sends while a block
  runs — the cost of building a query in Python;
- ``codegen_compiles``: the classes Spark's code generator compiled
  while a block ran (whole stages, projections, predicates), and the
  ms spent compiling them;
- ``stage_snapshot``: per-stage executor counters from Spark's status
  store, diffed across a query to attribute its stages and bytes;
- ``plan_structure_hash``: a fingerprint of the physical plan's
  operator tree, stable across runs of the same code.

The status store, the codegen counters and the gateway client are
reached through private py4j handles, so every read here is best
effort: a Spark release that moves them degrades a measurement to
``None``, never into the caller.
"""

from __future__ import annotations

import hashlib
import re
from contextlib import contextmanager

# status-store StageData accessor -> snapshot field
STAGE_FIELDS = {
    "shuffleWriteBytes": "shuffle_write_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "inputBytes": "input_bytes",
    "diskBytesSpilled": "spill_disk_bytes",
    "numCompleteTasks": "tasks",
}


@contextmanager
def py4j_commands(spark):
    """Count the py4j commands sent while the block runs; read ``n[0]``
    from the yielded list.  Proxy deletes (``m\\nd\\n``) are not
    counted: py4j sends them whenever the collector frees proxies of
    earlier work, so they are not the block's construction cost.  The
    client's ``send_command`` is restored on exit, also on error."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    n = [0]

    def counting_send(command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            n[0] += 1
        return send(command, *args, **kwargs)

    client.send_command = counting_send
    try:
        yield n
    finally:
        client.send_command = send


def _codegen_totals(spark) -> tuple[int, int] | None:
    """(classes compiled, compile ns) since the JVM started, or None."""
    try:
        jvm = spark.sparkContext._jvm
        metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
        generator = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        return (
            int(metrics.METRIC_COMPILATION_TIME().getCount()),
            int(generator.compileTime()),
        )
    except Exception:  # noqa: BLE001 — reflection drift must not sink the caller
        return None


@contextmanager
def codegen_compiles(spark):
    """Count the generated classes Spark compiles while the block runs;
    read ``c[0]`` from the yielded list after the block:
    ``{"compiles": int, "compile_ms": float}``.  A class served from
    Spark's codegen cache is not compiled, so on a repeated plan this
    reads 0.  The counters are JVM-wide: compiles of another thread's
    queries in the same window are counted too.  ``c[0]`` stays None
    when the counters cannot be read (a Spark release that moved
    them), as ``stage_snapshot`` does."""
    box = [None]
    start = _codegen_totals(spark)
    try:
        yield box
    finally:
        end = _codegen_totals(spark) if start is not None else None
        if end is not None:
            box[0] = {
                "compiles": end[0] - start[0],
                "compile_ms": round((end[1] - start[1]) / 1e6, 3),
            }


def stage_snapshot(spark, known: dict | None = None) -> dict | None:
    """(stageId, attemptId) → {field: int} over ``STAGE_FIELDS`` for
    every stage the status store holds, skipped stages included (their
    counters are 0).  The store is read through py4j, so the UI server
    can stay off.

    ``known`` is an earlier snapshot: its stages keep their earlier
    record and only new stages are read, which keeps a per-query diff
    at a few commands per retained stage.

    The ``stageList$default$N`` reflection encodes Scala default-argument
    mangling that can shift across Spark releases, so any failure
    returns ``None`` instead of raising."""
    known = known or {}
    try:
        store = spark.sparkContext._jsc.sc().statusStore()
        empty = spark.sparkContext._jvm.java.util.ArrayList()
        sl = store.stageList(
            empty,
            *[getattr(store, f"stageList$default${i}")() for i in range(2, 6)],
        )
        out = {}
        for i in range(sl.size()):
            st = sl.apply(i)
            key = (st.stageId(), st.attemptId())
            out[key] = known.get(key) or {
                field: int(getattr(st, acc)()) for acc, field in STAGE_FIELDS.items()
            }
        return out
    except Exception:  # noqa: BLE001 — reflection drift must not sink the caller
        return None


def new_stages(before: dict, after: dict) -> list[dict]:
    """Records of the stages in ``after`` that ``before`` did not hold."""
    return [rec for key, rec in after.items() if key not in before]


# node head: tree art (": +- " etc.) then an optional whole-stage-
# codegen marker "*(3) " then the operator name
_TREE_HEAD = re.compile(r"^[\s:+\-]*(?:\*\(\d+\)\s*)?([A-Za-z][\w$.]*)")
# structural keywords worth keeping from the node's argument text:
# partitioning kinds, join types, build sides — NOT ids, stats, paths
_STRUCT_KEYS = re.compile(
    r"\b(hashpartitioning|rangepartitioning|SinglePartition|"
    r"RoundRobinPartitioning|BuildLeft|BuildRight|Inner|LeftOuter|"
    r"RightOuter|FullOuter|LeftSemi|LeftAnti|Cross|ExistenceJoin)\b"
)


def canonical_plan_structure(plan_str: str) -> str:
    """Canonicalize a physical-plan toString into its STRUCTURE only:
    per node, tree depth + operator name + structural keywords (join
    type, build side, partitioning kind).  Expression ids, statistics,
    file paths, partition counts, and AQE stage numbering are all
    stripped — so the result is stable across runs of the SAME code
    while any real operator-tree change (new exchange, join strategy
    flip, added stage) changes it.  This is the signal bench_diff needs
    to tell a genuine plan change from AQE stage-count jitter, which
    the {stages, shuffle_bytes} fingerprint alone cannot (VERDICT r12
    #1: flt_dsl_suite false-flagged on a 96→90 stage wobble)."""
    lines = []
    for raw in plan_str.splitlines():
        m = _TREE_HEAD.match(raw)
        if not m:
            continue
        keys = _STRUCT_KEYS.findall(raw)
        lines.append(
            f"{m.start(1)}|{m.group(1)}" + ("|" + ",".join(keys) if keys else "")
        )
    return "\n".join(lines)


def plan_structure_hash(df) -> str | None:
    """12-hex md5 of the canonical plan structure, computed BEFORE the
    query executes (the AQE initial plan — deterministic given code +
    input stats, unlike the runtime-reoptimized final plan).  Best
    effort: any py4j failure degrades to None (no structure hash for
    that query), never into the bench loop."""
    try:
        s = df._jdf.queryExecution().executedPlan().toString()
        return hashlib.md5(canonical_plan_structure(s).encode()).hexdigest()[:12]
    except Exception:  # noqa: BLE001 — diagnostics must not sink bench
        return None
