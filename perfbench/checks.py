"""Correctness checks, computed apart from the engine.

Each check runs after timing, on what the timed ops produced: the
ingest store is read back with DuckDB and compared with totals pandas
computes from the flows the generator encoded; console answers are
compared with hand-written DuckDB SQL over the store's parquet.  A failed check
raises :class:`CheckFailed`, which makes the run report
``"correct": false``.
"""

from __future__ import annotations

import ipaddress
import os

import duckdb
import pandas as pd


class CheckFailed(AssertionError):
    pass


def require(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def _read(path: str) -> str:
    """A partitioned parquet table as a DuckDB table expression."""
    return f"read_parquet('{os.path.join(path, '**', '*.parquet')}', hive_partitioning = true)"


# --- ingest ----------------------------------------------------------------


def store_totals(store) -> dict:
    """(table, exporter hex, hour) -> (Bytes, Packets, flows) of the main
    table and every rollup, read with DuckDB."""
    con = duckdb.connect()
    out = {}
    for res in store.resolutions:
        flows = "COUNT(*)" if res.interval_s == 0 else "SUM(Flows)"
        rows = con.execute(
            f"SELECT hex(ExporterAddress), epoch(date_trunc('hour', TimeReceived))::BIGINT,"
            f" SUM(Bytes)::BIGINT, SUM(Packets)::BIGINT, {flows}::BIGINT"
            f" FROM {_read(store.path(res))} GROUP BY 1, 2"
        ).fetchall()
        for e, h, b, p, n in rows:
            out[(res.table_name, e, h)] = (b, p, n)
    con.close()
    return out


def expected_totals(flows: pd.DataFrame, tables) -> dict:
    """The same totals, from the generator's flows."""
    g = flows.assign(exporter=flows["ExporterAddress"].map(lambda a: a.hex().upper()),
                     hour=flows["ts"] // 3600 * 3600).groupby(["exporter", "hour"]).agg(
        b=("Bytes", "sum"), p=("Packets", "sum"), n=("Bytes", "size"))
    out = {}
    for (e, h), row in g.iterrows():
        for t in tables:
            out[(t, e, int(h))] = (int(row.b), int(row.p), int(row.n))
    return out


def ingest_outputs(store, ingest, flows: pd.DataFrame, batches_ok: bool) -> None:
    require(batches_ok, "ingest: the stream did not drain one micro-batch per generated batch")
    got = store_totals(store)
    want = expected_totals(flows, [r.table_name for r in store.resolutions])
    missing = set(want) ^ set(got)
    require(not missing, f"ingest: (table, exporter, hour) keys differ: {sorted(missing)[:4]}")
    bad = [k for k in want if want[k] != got[k]]
    require(not bad, f"ingest: totals differ at {bad[:3]}: "
                     f"{[(want[k], got[k]) for k in bad[:3]]}")
    # exporters table: one row per (exporter, interface), newest time
    con = duckdb.connect()
    rows = con.execute(
        "SELECT hex(ExporterAddress), IfName, epoch(TimeReceived)::BIGINT"
        f" FROM read_parquet('{os.path.join(ingest.exporters_path, '*.parquet')}')"
    ).fetchall()
    con.close()
    sides = pd.concat([
        flows[["ExporterAddress", "InIfName", "ts"]].rename(columns={"InIfName": "IfName"}),
        flows[["ExporterAddress", "OutIfName", "ts"]].rename(columns={"OutIfName": "IfName"}),
    ])
    newest = sides.groupby(["ExporterAddress", "IfName"])["ts"].max()
    want_exp = {(e.hex().upper(), i): int(t) for (e, i), t in newest.items()}
    got_exp = {(e, n): t for e, n, t in rows}
    require(len(got_exp) == len(rows), "ingest: exporters table has duplicate keys")
    require(got_exp == want_exp, "ingest: exporters table differs from the flows sent: "
            f"{sorted(set(got_exp.items()) ^ set(want_exp.items()))[:3]}")


# --- console ---------------------------------------------------------------

UNIT_SQL = {
    "l3bps": "SUM(Bytes * SamplingRate * 8)",
    "pps": "SUM(Packets * SamplingRate)",
}


def _aligned(req, table_s: int, points: int):
    """Range and interval a request must cover, from the table resolution
    the request is expected to route to: both ends truncated to the
    table resolution, the interval the smallest multiple of it at or
    above range/points, the end snapped to whole intervals."""
    start = int(req.params["start"].timestamp())
    end = int(req.params["end"].timestamp())
    t = max(table_s, 1)
    target = max((end - start) // points, 1)
    interval = target if table_s == 0 else max(t, target // t * t)
    s = start // t * t
    e = end // t * t
    e = s + max((e - s) // interval * interval, interval)
    return s, e, interval


def _total(con, unit: str, where: str, s: int, e: int) -> int:
    v = con.execute(
        f"SELECT {UNIT_SQL[unit]} FROM main WHERE {where}"
        f" AND TimeReceived >= to_timestamp({s}) AND TimeReceived < to_timestamp({e})"
    ).fetchone()[0]
    return int(v or 0)


def _truncated(col: str, v4: int, v6: int) -> str:
    """SQL for the hex of a 16-byte address cut to its family's prefix:
    v4-mapped addresses keep 96 + ``v4`` bits, others ``v6`` bits."""
    assert v4 % 8 == 0 and v6 % 8 == 0
    h = f"hex({col})"
    return (f"CASE WHEN starts_with({h}, '00000000000000000000FFFF')"
            f" THEN rpad(left({h}, {(96 + v4) // 4}), 32, '0')"
            f" ELSE rpad(left({h}, {v6 // 4}), 32, '0') END")


def _display(hex16: str) -> str:
    """A 16-byte address as the console shows it."""
    a = ipaddress.IPv6Address(bytes.fromhex(hex16))
    return str(a.ipv4_mapped or a)


def _weights(con, unit: str, dims, where: str, s: int, e: int, trunc=None) -> dict:
    """Weight per group of ``dims``; with ``trunc`` = (v4, v6) bits, IP
    dimensions group by the truncated address."""
    ips = {"SrcAddr", "DstAddr"} if trunc else set()
    cols = ", ".join(_truncated(d, *trunc) if d in ips else f"CAST({d} AS VARCHAR)"
                     for d in dims)
    rows = con.execute(
        f"SELECT {cols}, {UNIT_SQL[unit]} FROM main WHERE {where}"
        f" AND TimeReceived >= to_timestamp({s}) AND TimeReceived < to_timestamp({e})"
        f" GROUP BY ALL"
    ).fetchall()
    return {tuple(_display(v) if d in ips else v for d, v in zip(dims, r[:-1])): int(r[-1])
            for r in rows}


def _line(con, req, rows) -> None:
    p = req.params
    unit = p.get("units", "l3bps")
    dims = p["dimensions"]
    s, e, interval = _aligned(req, req.table_s, p["points"])
    n_buckets = (e - s) // interval
    axes = {}
    for r in rows:
        axes.setdefault(r["axis"], []).append(r)
    want_axes = {1} | ({2} if p.get("bidirectional") else set())
    if p.get("previous_period"):
        want_axes |= {3} | ({4} if p.get("bidirectional") else set())
    require(set(axes) == want_axes, f"{req.name}: axes {sorted(axes)} != {sorted(want_axes)}")
    shift = 3600 if p.get("previous_period") else 0  # 1 h ranges shift by an hour
    for axis, arows in axes.items():
        where = req.rwhere if axis in (2, 4) else req.where
        lo, hi = (s - shift, e - shift) if axis >= 3 else (s, e)
        buckets = {r["bucket"] for r in arows}
        require(len(buckets) == n_buckets,
                f"{req.name} axis {axis}: {len(buckets)} buckets, want {n_buckets}")
        got = sum(int(r["sum_w"]) for r in arows)
        want = _total(con, unit, where, lo, hi)
        require(got == want, f"{req.name} axis {axis}: series sum {got} != total {want}")
    if not dims:
        return
    kept = {tuple(str(r[d]) for d in dims) for r in axes[1]} - {("Other",) * len(dims)}
    kept = {k for k in kept if "Other" not in k}
    limit = p.get("limit", 10)
    trunc = (p.get("truncate_v4", 32), p.get("truncate_v6", 128))
    w = _weights(con, unit, dims, req.where, s, e,
                 trunc if trunc != (32, 128) else None)
    require(len(kept) == min(limit, len(w)),
            f"{req.name}: {len(kept)} top series, want {min(limit, len(w))}")
    require(kept <= set(w), f"{req.name}: top series {sorted(kept - set(w))} not in the data")
    floor = min(w[k] for k in kept)
    rest = [v for k, v in w.items() if k not in kept]
    require(not rest or max(rest) <= floor,
            f"{req.name}: a series outside the top {limit} outweighs one inside")


def _sankey(con, req, rows) -> None:
    s, e, _ = _aligned(req, req.table_s, 20)
    got = sum(int(r["sum_w"]) for r in rows if r["axis"] == 1)
    want = _total(con, "l3bps", req.where, s, e)
    require(got == want, f"{req.name}: sankey total {got} != {want}")
    require(len(rows) > 0, f"{req.name}: no rows")


def _widget(con, req, rows) -> None:
    recent = f"part_date >= DATE '{_last_day()}'"
    if req.name == "flow_rate":
        n = con.execute(
            f"SELECT COUNT(*) FROM main WHERE {recent} AND TimeReceived >"
            f" (SELECT MAX(TimeReceived) FROM main WHERE {recent}) - INTERVAL 300 SECOND"
        ).fetchone()[0]
        require(rows[0]["rate"] == n / 300, f"flow_rate {rows[0]['rate']} != {n / 300}")
    elif req.name == "top_percent":
        sel = req.params["selector"]
        w = dict(con.execute(
            f"SELECT CAST({sel} AS VARCHAR), SUM(Bytes * SamplingRate) FROM main"
            f" WHERE {recent} AND {req.where} GROUP BY 1").fetchall())
        total = sum(w.values())
        top = sorted(w.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
        got = [(r["Name"], r["Percent"]) for r in rows]
        require([k for k, _ in got] == [k for k, _ in top],
                f"top_percent names {got} != {top}")
        for (_, pct), (_, v) in zip(got, top):
            require(abs(pct - v * 100 / total) <= 1e-9 * 100,
                    f"top_percent share {pct} != {v * 100 / total}")
    elif req.name == "widget_graph":
        bits = con.execute("SELECT SUM(Bytes * SamplingRate * 8) FROM hourly").fetchone()[0]
        got = sum(r["gbps"] for r in rows) * req.params["interval_s"] * 1e9
        require(abs(got - bits) <= 1e-9 * bits, f"widget_graph total {got} != {bits}")
    else:  # last_flow
        newest = con.execute(
            f"SELECT epoch_us(MAX(TimeReceived)) FROM main WHERE {recent}").fetchone()[0]
        got = rows[0]["TimeReceived"]
        got_us = int(got.timestamp() * 1_000_000)
        require(len(rows) == 1 and got_us == newest, f"last_flow {got} is not the newest flow")


def _complete(con, req, rows) -> None:
    from akvorado_spark.sources.dictionaries import ASNS, TCP_PORTS, UDP_PORTS

    prefix = req.params["prefix"].lower()
    recent = f"part_date >= DATE '{_last_day()}'"
    labels = [r["label"] for r in rows]
    require(len(labels) == len(set(labels)), f"{req.name}: duplicate labels {labels}")
    if req.name == "complete_exporter":
        want = [r[0] for r in con.execute(
            f"SELECT ExporterName FROM main WHERE {recent} AND"
            f" strpos(lower(ExporterName), '{prefix}') > 0 GROUP BY 1"
            f" ORDER BY MIN(strpos(lower(ExporterName), '{prefix}')), 1 LIMIT 20").fetchall()]
        require(labels == want, f"complete_exporter {labels} != {want}")
        return
    if req.name == "complete_asn":
        names = {a: n for a, n in ASNS if prefix in n.lower()}
        seen = {r[0] for r in con.execute(
            f"SELECT DISTINCT SrcAS FROM main WHERE {recent}").fetchall()}
        cand = {f"AS{a}" for a in names}
        seen_labels = {f"AS{a}" for a in names if a in seen}
    else:
        named = [(p, n) for p, n in TCP_PORTS + UDP_PORTS if prefix in n.lower()]
        cand = {str(p) for p, _ in named}
        seen = {(r[0], r[1]) for r in con.execute(
            f"SELECT DISTINCT DstPort, Proto FROM main WHERE {recent}"
            " AND Proto IN (6, 17)").fetchall()}
        tcp = {p for p, n in TCP_PORTS if prefix in n.lower()}
        udp = {p for p, n in UDP_PORTS if prefix in n.lower()}
        seen_labels = {str(p) for p, pr in seen if (pr == 6 and p in tcp) or (pr == 17 and p in udp)}
    require(set(labels) <= cand, f"{req.name}: {sorted(set(labels) - cand)} do not match")
    require(len(labels) == min(20, len(cand)), f"{req.name}: {len(labels)} labels, want "
                                               f"{min(20, len(cand))}")
    # candidates seen in recent flows rank first
    require(set(labels[:len(seen_labels)]) == seen_labels,
            f"{req.name}: flows-seen {sorted(seen_labels)} not ranked first in {labels}")


def _last_day() -> str:
    from perfbench.w_console import LAST_DAY

    return LAST_DAY.isoformat()


def console_answers(console, reqs, answers, flows: pd.DataFrame) -> None:
    """Check every distinct request's answer from the last round."""
    store = console.store
    con = duckdb.connect()
    con.execute(f"CREATE VIEW main AS SELECT * FROM {_read(store.path(store.resolutions[0]))}")
    con.execute(f"CREATE VIEW hourly AS SELECT * FROM {_read(store.path(store.resolutions[-1]))}")
    n = con.execute("SELECT COUNT(*) FROM main").fetchone()[0]
    require(n == len(flows), f"console: store holds {n} flows, generator made {len(flows)}")
    check = {"line": _line, "sankey": _sankey, "widget": _widget, "complete": _complete}
    for req, rows in zip(reqs, answers):
        check[req.kind](con, req, [r.asDict() for r in rows])
    con.close()
