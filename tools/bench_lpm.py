"""LPM lookup cost vs ROUTE-TABLE size (J3/J4 scale evidence).

Mirrors the reference's bench posture — cost as a function of corpus
size, not one point (outlet/networks/bench_test.go:62-108) — using
the real-world IPv4 prefix-length distribution published at
bgp.potaroo.net (the same table the reference's route generator
embeds, outlet/routing/provider/bmp/prefixes_test.go:24-30).

For each route-table size n, generates n routes with that length mix,
joins a fixed 1M-address flow frame through ``lpm_join``'s broadcast
cascade, and reports first-run and min-of-2 warm wall times plus the
expanded block-key count (the size that is actually broadcast).

Usage: python tools/bench_lpm.py [n ...]   (default 10000 100000 1000000)
Prints one JSON line per n on stdout.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

# bgp.potaroo.net/as2.0/bgp-prefix-vector.txt (index = prefix length)
PREFIX_SIZE_DISTRIBUTION = [
    0, 0, 0, 0, 0, 0, 0, 0, 16,
    14, 41, 92, 298, 581, 1210, 2161, 13854,
    8369, 13785, 25080, 45910, 53311, 114177, 108013, 632625,
    793, 0, 0, 0, 0, 0, 0, 0,
]

V4_PREFIX = b"\x00" * 10 + b"\xff\xff"


def gen_routes(n: int, seed: int = 0):
    """(lo bytes16, mapped plen, asn) rows with the potaroo length mix."""
    rng = np.random.default_rng(seed)
    dist = np.asarray(PREFIX_SIZE_DISTRIBUTION, dtype=np.float64)
    lens = rng.choice(33, size=n, p=dist / dist.sum())
    addrs = rng.integers(0, 2**32, size=n, dtype=np.uint64).astype(np.uint32)
    masks = np.where(lens == 0, 0, (0xFFFFFFFF << (32 - lens)) & 0xFFFFFFFF)
    nets = addrs & masks.astype(np.uint32)
    seen = set()
    rows = []
    for net, ln in zip(nets.tolist(), lens.tolist()):
        key = (net, ln)
        if key in seen:
            continue
        seen.add(key)
        rows.append(
            (V4_PREFIX + int(net).to_bytes(4, "big"), 96 + int(ln),
             65000 + (net % 1000))
        )
    return rows


def main(sizes: list[int]) -> int:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from akvorado_spark.operators.lpm import lpm_join

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "8g")
        .appName("bench_lpm")
        .getOrCreate()
    )
    # fixed 1M-address probe frame, deterministic, generated JVM-side
    flows = (
        spark.range(1_000_000)
        .select(
            F.unhex(
                F.concat(
                    F.lit("00000000000000000000ffff"),
                    F.lpad(F.hex(F.abs(F.xxhash64("id")) % F.lit(2**32)), 8, "0"),
                )
            ).alias("addr")
        )
        .localCheckpoint()
    )

    from akvorado_spark.operators.lpm import lpm_prepare, lpm_probe

    for n in sizes:
        rows = gen_routes(n)
        routes = spark.createDataFrame(rows, "lo binary, plen int, dst_as long")
        plens = sorted({r[1] for r in rows})

        # one-shot (prepare + probe every time — the non-streaming path)
        t0 = time.monotonic()
        out = lpm_join(flows, routes, "addr", attrs=["dst_as"], plens=plens)
        hit = out.agg(
            F.count(F.lit(1)).alias("rows"), F.count("dst_as").alias("hits")
        ).collect()[0]
        oneshot = time.monotonic() - t0

        # streaming path: prepare once (persisted), probe per batch
        t0 = time.monotonic()
        prepared = lpm_prepare(routes, attrs=["dst_as"], plens=plens).persist()
        lpm_probe(flows.limit(1), prepared, "addr").count()  # materialize
        prep_s = time.monotonic() - t0
        probes = []
        for _ in range(3):
            t0 = time.monotonic()
            lpm_probe(flows, prepared, "addr").agg(F.count("dst_as")).collect()
            probes.append(time.monotonic() - t0)
        prepared.unpersist()

        blocks = sum(2 ** ((8 - (p % 8)) % 8) for _, p, _ in rows)
        print(
            json.dumps(
                {
                    "routes": len(rows),
                    "flows": 1_000_000,
                    "block_keys": blocks,
                    "oneshot_s": round(oneshot, 2),
                    "prepare_s": round(prep_s, 2),
                    "probe_s": round(min(probes), 2),
                    "hit_rate": round(hit["hits"] / hit["rows"], 4),
                }
            ),
            flush=True,
        )
    return 0


if __name__ == "__main__":
    ns = [int(a) for a in sys.argv[1:]] or [10_000, 100_000, 1_000_000]
    raise SystemExit(main(ns))
