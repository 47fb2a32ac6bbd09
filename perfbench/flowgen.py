"""Seeded inputs of the ingest and console workloads.

The flows themselves come from the engine's own flow fixture,
``akvorado_spark.sources.fixtures.flows_pdf``: its exporters, sampling
rates, host pool, protocol, port and size mix.  This module only
re-times them into the workloads' micro-batches and days, and encodes
them with the engine's NetFlow v9 encoder (``nf_encode.demo_packets``).
The engine receives only what this module writes: RawFlow parquet files
for the ingest stream, and a wire-shaped frame for the console store's
bulk load.  The generator keeps the flows it encoded, so the benchmark
can check the store against totals computed here, outside the engine.

    python3 perfbench/flowgen.py --seed N --out DIR

writes every input of seed ``N`` under ``DIR``.
"""

from __future__ import annotations

import os
import sys
from dataclasses import dataclass

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from akvorado_spark.functions.ip import ip_bytes  # noqa: E402
from akvorado_spark.sources import fixtures  # noqa: E402

N_EXPORTERS = len(fixtures.EXPORTERS)
N_IFACES = 8  # the fixture's interfaces are Gi0/0/0-7 on every exporter


def _ifindex(names: pd.Series) -> np.ndarray:
    return names.str.rsplit("/", n=1).str[-1].astype(np.int64).to_numpy()


def fixture_flows(seed, n: int, ts: np.ndarray) -> pd.DataFrame:
    """``n`` flows of the engine's fixture, drawn with ``seed``, carrying
    the epoch-second timestamps ``ts`` instead of the fixture's own."""
    f = fixtures.flows_pdf(n, seed)
    f["ts"] = ts.astype(np.int64)
    f["exporter"] = f["ExporterName"].str.removeprefix("router").astype(np.int64) - 1
    f["InIf"] = _ifindex(f["InIfName"])
    f["OutIf"] = _ifindex(f["OutIfName"])
    return f


def wire_frame(f: pd.DataFrame) -> pd.DataFrame:
    """The decoded-wire shape (``sources.wire.WIRE_SCHEMA`` subset) of the
    flows, as the NetFlow decoder would emit them."""
    return pd.DataFrame({
        "TimeReceived": f["ts"].to_numpy(),
        "ExporterAddress": f["ExporterAddress"].to_numpy(),
        "SamplingRate": f["SamplingRate"].to_numpy(),
        "InIf": f["InIf"].to_numpy(),
        "OutIf": f["OutIf"].to_numpy(),
        "SrcAddr": f["SrcAddr"].to_numpy(),
        "DstAddr": f["DstAddr"].to_numpy(),
        "EType": f["EType"].to_numpy(),
        "Proto": f["Proto"].to_numpy(),
        "SrcPort": f["SrcPort"].to_numpy(),
        "DstPort": f["DstPort"].to_numpy(),
        "SrcAS": f["SrcAS"].astype(np.int64).to_numpy(),
        "DstAS": f["DstAS"].astype(np.int64).to_numpy(),
        "SrcNetMask": f["SrcNetMask"].astype(np.int32).to_numpy(),
        "DstNetMask": f["DstNetMask"].astype(np.int32).to_numpy(),
        "ForwardingStatus": f["ForwardingStatus"].to_numpy(),
        "FlowDirection": (f["FlowDirection"] == "egress").astype(np.int32).to_numpy(),
        "Bytes": f["Bytes"].to_numpy(),
        "Packets": f["Packets"].to_numpy(),
    })


def interfaces_pdf() -> pd.DataFrame:
    """The (exporter, ifindex) metadata snapshot for ``wire_to_flows``,
    named as the fixture names its interfaces."""
    rows = []
    for e in fixtures.EXPORTERS:
        for i in range(N_IFACES):
            provider = fixtures.PROVIDERS[i % 5]
            rows.append((
                ip_bytes(e), i, f"Gi0/0/{i}",
                f"{'Transit' if i % 2 else 'Cust'}: {provider}",
                [1000, 10000, 100000][i % 3], provider,
            ))
    return pd.DataFrame(rows, columns=["ExporterAddress", "IfIndex", "Name",
                                       "Description", "Speed", "Provider"])


def metadata_pdf() -> pd.DataFrame:
    """Per-exporter attributes for the enrichment's metadata join, as the
    fixture assigns them."""
    idx = range(N_EXPORTERS)
    return pd.DataFrame({
        "ExporterAddress": [ip_bytes(fixtures.EXPORTERS[e]) for e in idx],
        "ExporterName": [f"router{e + 1}" for e in idx],
        "ExporterGroup": [("east", "west")[e % 2] for e in idx],
        "ExporterSite": [("sfo1", "nyc1", "ams1", "tyo1")[e % 4] for e in idx],
        "ExporterRegion": ["us-west" if e % 2 else "us-east" for e in idx],
        "ExporterTenant": ["acme"] * N_EXPORTERS,
    })


# --- ingest stream ---------------------------------------------------------


@dataclass(frozen=True)
class StreamShape:
    batches: int = 2
    flows_per_batch: int = 4000
    batch_span_s: int = 1200  # each batch covers 20 minutes of the day
    late_share: float = 0.02
    day: str = "2024-03-10"


def stream_flows(seed: int, shape: StreamShape) -> list[pd.DataFrame]:
    """Per micro-batch, the flows the exporters send.  Batch ``b`` covers
    ``[day + b·span, day + (b+1)·span)`` with ten datagram clocks;
    ``late_share`` of the rows carry a clock 5 or 40 minutes older, so
    batch 0's late rows fall before midnight, into the previous day."""
    rng = np.random.default_rng([seed, 1])
    day0 = int(pd.Timestamp(shape.day, tz="UTC").timestamp())
    n = shape.batches * shape.flows_per_batch
    batch = np.repeat(np.arange(shape.batches), shape.flows_per_batch)
    t0 = day0 + batch * shape.batch_span_s
    ts = t0 + rng.integers(0, 10, size=n) * (shape.batch_span_s // 10)
    late = rng.random(n) < shape.late_share
    ts[late] = t0[late] - rng.choice((300, 2400), size=int(late.sum()))
    f = fixture_flows([seed, 1], n, ts)
    f["batch"] = batch
    return [f[f["batch"] == b].reset_index(drop=True) for b in range(shape.batches)]


RAW_COLUMNS = ["time_received", "payload", "source_address", "decoder",
               "timestamp_source", "decapsulation", "use_source_address",
               "rate_limit"]


def encode_exporter_batch(f: pd.DataFrame, exporter: int, sequence: int):
    """One exporter's share of a micro-batch as RawFlow rows: per
    datagram clock, the template datagram (exporters re-send templates)
    and then the data datagrams."""
    from akvorado_spark.sources.nf_encode import demo_packets

    address = fixtures.EXPORTERS[exporter]
    src_addr = ip_bytes(address)[12:]
    rate = int(f["SamplingRate"].iloc[0])
    start_ts = int(f["ts"].min()) - 3600
    rows = []
    for t, grp in f.groupby("ts", sort=True):
        pkts = demo_packets(grp, sequence, rate, start_ts, int(t))
        sequence += len(pkts)
        rows.extend((pd.Timestamp(int(t), unit="s", tz="UTC"), p) for p in pkts)
    return [(ts, p, src_addr, "netflow", "input", "none", False, 0)
            for ts, p in rows], sequence


def write_stream(batches: list[pd.DataFrame], root: str) -> list[list[str]]:
    """Write each micro-batch as one RawFlow parquet file per exporter
    under ``root``.  File modification times follow batch order, so the
    file source (``maxFilesPerTrigger`` = 8) drains exactly one
    micro-batch per trigger.  Returns the files of each batch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("time_received", pa.timestamp("us", tz="UTC")), ("payload", pa.binary()),
        ("source_address", pa.binary()), ("decoder", pa.string()),
        ("timestamp_source", pa.string()), ("decapsulation", pa.string()),
        ("use_source_address", pa.bool_()), ("rate_limit", pa.int64()),
    ])
    os.makedirs(root, exist_ok=True)
    seq = [0] * N_EXPORTERS
    mtime = 1_700_000_000
    files = []
    for b, f in enumerate(batches):
        names = []
        for e in range(N_EXPORTERS):
            rows, seq[e] = encode_exporter_batch(f[f["exporter"] == e], e, seq[e])
            pdf = pd.DataFrame(rows, columns=RAW_COLUMNS)
            path = os.path.join(root, f"b{b:03d}-e{e}.parquet")
            pq.write_table(pa.Table.from_pandas(pdf, schema=schema, preserve_index=False), path)
            mtime += 10
            os.utime(path, (mtime, mtime))
            names.append(path)
        files.append(names)
    return files


# --- console store ---------------------------------------------------------


@dataclass(frozen=True)
class StoreShape:
    days: int = 8
    flows: int = 10_000
    end_day: str = "2024-03-17"


def store_flows(seed: int, shape: StoreShape) -> pd.DataFrame:
    """``shape.flows`` flows spread uniformly over ``shape.days`` days,
    for the console store."""
    rng = np.random.default_rng([seed, 2])
    end = int(pd.Timestamp(shape.end_day, tz="UTC").timestamp())
    ts = np.sort(rng.integers(end - shape.days * 86400, end, size=shape.flows))
    return fixture_flows([seed, 2], shape.flows, ts)


def main(argv=None) -> int:
    """Write every input of a seed under ``--out``: the ingest stream and
    warm-up batch as RawFlow files, and the console store's flows as one
    wire-shaped parquet file."""
    import argparse

    from perfbench import w_console, w_ingest

    ap = argparse.ArgumentParser(description=main.__doc__)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    batches, _ = w_ingest.generate(os.path.join(args.out, "ingest"), args.seed)
    store = wire_frame(store_flows(args.seed, w_console.SHAPE))
    os.makedirs(os.path.join(args.out, "console"), exist_ok=True)
    store.to_parquet(os.path.join(args.out, "console", "store_flows.parquet"))
    print(f"ingest: {sum(len(b) for b in batches)} flows in {len(batches)} micro-batches; "
          f"console: {len(store)} flows")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
