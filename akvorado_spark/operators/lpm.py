"""Longest-prefix-match join.

Spark has no native LPM (the reference uses ip_trie dictionaries and a
bart trie: common/schema/root.go:107-185, outlet/networks/root.go:55-66,
outlet/routing/provider/bmp rib).  This operator re-expresses LPM as a
**per-byte-length cascade of broadcast hash equi-joins on binary
slices**:

    dimension side (tiny): each prefix is expanded to byte-aligned
        blocks — a /111 becomes two /112 keys — and, per block key,
        nested prefixes are pre-resolved longest-first per attribute
        (attribute inheritance collapses at build time);
    fact side: for each distinct key width B (bytes, longest→shortest):
        flows LEFT JOIN blocks[B] ON substring(ip, 1, B) = key
    each output attribute = COALESCE(attr@B1, attr@B2, …)

Why this shape:

- ``ip BETWEEN lo AND hi`` against a broadcast table is a
  nested-loop join — O(rows × prefixes).  The cascade is a handful of
  *hash* joins, each O(rows), all broadcast: the fact side never
  shuffles and the plan scales linearly at 100 TB.
- The fact-side key is a **binary slice** (``substring`` on the
  16-byte address) — no hex conversion, no masking arithmetic, a few
  ns per row inside whole-stage codegen.  All string work happens on
  the dimension side, which is dimension-sized.
- Grouping lengths by their byte ceiling cuts the join count (mapped
  v4 lengths 104..111 collapse into two joins); expansion fan-out is
  bounded by 2^7 per prefix and is ~2 in practice (only non-aligned
  lengths expand).
- The per-attribute COALESCE across widths (longest first) plus the
  build-time within-width resolution reproduces the reference's
  nested-prefix **attribute inheritance** exactly (a /24 with a NULL
  site inherits the site of its covering /16).

Prefix tables are dimension-sized (networks: thousands; RIB snapshot:
up to ~1M rows) — comfortably broadcast; ceil preserves length order,
so cross-width precedence is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _expand_to_bytes(
    pfx: DataFrame, B: int, prefix_lo: str, prefix_len: str, keep: list[str]
) -> DataFrame:
    """Expand prefixes with ceil(plen/8) == B into byte-aligned block
    keys of width B (dimension-side; hex string ops are fine here).
    ``keep`` are column *names* carried through unchanged."""
    p = pfx.filter(F.ceil(F.col(prefix_len) / 8) == B).filter(F.col(prefix_len) > 0)
    exp = p.select(
        *keep,
        F.expr(f"{prefix_len} AS __plen"),
        F.expr(f"substring(lower(hex({prefix_lo})), 1, {(B - 1) * 2}) AS __bh"),
        F.expr(f"CAST(conv(substring(hex({prefix_lo}), {(B - 1) * 2 + 1}, 2), 16, 10) AS INT) AS __lb"),
        F.expr(f"explode(sequence(0, CAST(pow(2, {B * 8} - {prefix_len}) AS BIGINT) - 1)) AS __i"),
    )
    key_col = F.expr("unhex(concat(__bh, lpad(hex(__lb + __i), 2, '0'))) AS __key")
    return exp.select(*keep, "__plen", key_col)


def _resolve_blocks(exp: DataFrame, attrs: list[str], group_keys: list[str]) -> DataFrame:
    """Per block key, pre-resolve nested prefixes: each attribute takes
    the value of the longest prefix that sets it (inheritance).  When
    the table carries a ``__prio`` column (``merge_networks`` assigns
    source order), equal-length ties resolve to the HIGHEST priority —
    the reference's "last configured database wins" trie-insert
    semantics (outlet/geoip/iter.go: databases walked in configuration
    order, later inserts replace)."""
    ranks = "'p', __plen" + (", 'pr', __prio" if "__prio" in exp.columns else "")
    # max_by instead of max(struct(rank, value))[v]: the rank NULLs out
    # where the attribute is unset (those rows are skipped), and the
    # value never has to be orderable — maps/structs ride through
    # (needed by the static-metadata interface maps).  A hash of the
    # value itself is the final tiebreaker so duplicate equal-length
    # (and equal-priority) prefixes setting the same attribute resolve
    # deterministically instead of by partition arrival order.
    aggs = [
        F.expr(
            f"max_by(`{a}`, CASE WHEN `{a}` IS NOT NULL THEN named_struct({ranks},"
            f" 'tb', xxhash64(to_json(named_struct('v', `{a}`)))) END) AS `{a}`"
        )
        for a in attrs
    ]
    return exp.groupBy(*group_keys).agg(*aggs)


class PreparedLPM:
    """Pre-resolved LPM block tables, reusable across probe calls.

    ``lpm_prepare`` does the dimension-side work — prefix expansion,
    nested-prefix resolution, exporter/fallback pass split — ONCE;
    each pass is a small keyed frame that ``lpm_probe`` broadcasts.
    A streaming enrichment caches this per RIB/networks snapshot and
    re-probes every micro-batch: measured at a full-Internet-sized
    table (1M routes, potaroo length mix, tools/bench_lpm.py) the
    prepare side is ~30 s once while the probe side is ~0.1 s per
    8M flows — the reference pays the same split as trie rebuild vs
    per-flow lookup (outlet/networks/root.go rebuild on update).
    """

    def __init__(self, passes, attrs):
        # each pass: (blocks frame with canonical cols, keyed, B);
        # B = byte width of the block key, 0 for the /0 default pass
        self.passes = passes
        self.attrs = attrs

    def persist(self, level=None):
        """Cache every pass table (call once per dimension snapshot);
        probes then rebuild only the broadcast, not the resolution."""
        from pyspark import StorageLevel

        level = level or StorageLevel.MEMORY_AND_DISK
        for blocks, _keyed, _b in self.passes:
            blocks.persist(level)
        return self

    def unpersist(self):
        for blocks, _keyed, _b in self.passes:
            blocks.unpersist()
        return self


def lpm_prepare(
    prefixes: DataFrame,
    attrs: list[str] | None = None,
    prefix_lo: str = "lo",
    prefix_len: str = "plen",
    exporter_keyed: bool = False,
    prefix_exporter: str = "exporter",
    plens: list[int] | None = None,
) -> PreparedLPM:
    """Dimension-side half of the LPM join: expand prefixes to
    byte-aligned block keys per width, resolve nested prefixes
    (inheritance), split exporter-specific vs global-fallback passes.

    prefixes columns: ``lo`` (16-byte network address), ``plen``
    (length in the 128-bit mapped space), attribute columns, and
    optionally an exporter key (rows with NULL exporter are global
    fallbacks, matched only where no exporter-specific prefix wins —
    reference outlet/routing default-agent fallback)."""
    if attrs is None:
        attrs = [
            c
            for c in prefixes.columns
            if c not in (prefix_lo, prefix_len, prefix_exporter, "hi", "prefix", "__prio")
        ]
    prefixes = prefixes.coalesce(1)
    if plens is None:
        # one tiny job over the dimension frame; pass plens= when the
        # lengths are known at plan time to stay fully lazy
        plens = [r[0] for r in prefixes.select(prefix_len).distinct().collect()]
    byte_widths = sorted({(int(L) + 7) // 8 for L in plens if int(L) > 0}, reverse=True)

    if exporter_keyed:
        outer = [
            (prefixes.filter(F.col(prefix_exporter).isNotNull()), True),
            (prefixes.filter(F.col(prefix_exporter).isNull()), False),
        ]
    else:
        outer = [(prefixes, False)]

    passes = []
    for pfx, keyed in outer:
        if keyed and prefix_exporter != "__e":
            pfx = pfx.withColumnRenamed(prefix_exporter, "__e")
        for B in byte_widths:
            keep = (
                (["__e"] if keyed else [])
                + (["__prio"] if "__prio" in pfx.columns else [])
                + list(attrs)
            )
            exp = _expand_to_bytes(pfx, B, prefix_lo, prefix_len, keep)
            group_keys = ["__key"] + (["__e"] if keyed else [])
            blocks = _resolve_blocks(exp, attrs, group_keys).select(
                "__key", *(["__e"] if keyed else []), *attrs
            )
            passes.append((blocks, keyed, B))
        if 0 in {int(L) for L in plens}:
            # default route (/0): matches everything, lowest precedence
            # within its pass — a 1-row broadcast of resolved attrs.
            # Same max_by-on-rank aggregation as _resolve_blocks: honors
            # the __prio source order on ties, skips NULL values, and
            # accepts non-orderable attrs (the static-metadata maps)
            zero = pfx.filter(F.col(prefix_len) == 0)
            zrank = (
                [F.col("__prio")] if "__prio" in pfx.columns else [F.lit(0)]
            )

            def _zagg(a):
                return F.max_by(
                    F.col(a), F.when(F.col(a).isNotNull(), F.struct(*zrank))
                ).alias(a)

            if keyed:
                zblocks = zero.groupBy("__e").agg(*[_zagg(a) for a in attrs])
            else:
                zblocks = zero.agg(*[_zagg(a) for a in attrs])
            passes.append((zblocks, keyed, 0))
    return PreparedLPM(passes, list(attrs))


def _probe_cond(ip_col: str, B: int, tag: int, exporter_col: str | None = None):
    """Join condition of one block pass: the ``B``-byte address prefix
    equals the block key (and the exporter matches, for keyed passes)."""
    cond = f"substring({ip_col}, 1, {B}) = __k{tag}"
    if exporter_col is not None:
        cond += f" AND {exporter_col} = __e{tag}"
    return F.expr(cond)


def lpm_probe(
    flows: DataFrame,
    prepared: PreparedLPM,
    ip_col: str,
    exporter_col: str | None = None,
    out_prefix: str = "",
) -> DataFrame:
    """Fact-side half: broadcast each prepared pass and coalesce the
    per-width matches longest-first.  Returns ``flows`` plus
    ``{out_prefix}{attr}`` columns.  Marginal cost is the hash joins
    only — whole-stage codegen, no shuffle on the flow side."""
    attrs = prepared.attrs
    out = flows
    matched: dict[str, list] = {a: [] for a in attrs}
    for tag, (blocks, keyed, B) in enumerate(prepared.passes):
        if keyed and exporter_col is None:
            raise ValueError("prepared passes are exporter-keyed; pass exporter_col=")
        b = blocks.select(
            *([F.expr(f"__key AS __k{tag}")] if B else []),
            *([F.expr(f"__e AS __e{tag}")] if keyed else []),
            *[F.expr(f"`{a}` AS `__{a}_{tag}`") for a in attrs],
        )
        if B:
            cond = _probe_cond(ip_col, B, tag, exporter_col if keyed else None)
            out = out.join(F.broadcast(b), cond, "left")
        elif keyed:
            out = out.join(
                F.broadcast(b), F.col(exporter_col) == F.col(f"__e{tag}"), "left"
            )
        else:
            out = out.join(F.broadcast(b))
        out = out.drop(f"__k{tag}", *([f"__e{tag}"] if keyed else []))
        for a in attrs:
            matched[a].append(f"`__{a}_{tag}`")

    npasses = len(prepared.passes)
    # empty prefix table (nothing configured yet): an LPM miss for
    # every row — NULL attrs, not a zero-arg coalesce crash
    out = out.withColumns(
        {
            out_prefix + a: F.expr(f"coalesce({', '.join(matched[a])})" if matched[a] else "NULL")
            for a in attrs
        }
    )
    out = out.drop(
        *[f"__{a}_{t}" for a in attrs for t in range(npasses)]
    )
    return out


def rib_lookup_join(
    flows: DataFrame,
    routes: DataFrame,
    ip_col: str,
    nh_col: str,
    attrs: list[str],
    prefix_lo: str = "lo",
    prefix_len: str = "plen",
    route_nh: str = "next_hop",
    route_seq: str = "seq",
    out_prefix: str = "",
    plens: list[int] | None = None,
) -> DataFrame:
    """Next-hop-preferred RIB lookup: the reference's
    rib.go LookupRoute picks the longest-matching prefix, then among
    its routes prefers the one whose next hop equals the flow's next
    hop, defaulting to the first-inserted route.

    Spark shape: the multi-route dimension table is pre-aggregated per
    prefix into one struct — the first-inserted route's attributes plus
    a next-hop → attributes map — so the per-flow work stays the same
    broadcast LPM cascade plus one ``element_at``/``coalesce``; no
    extra join, no shuffle on the fact side. ``routes`` columns:
    ``lo``/``plen``/``next_hop``/``seq`` + the attribute columns;
    ``seq`` is the RIB insertion order (rib.go route key order)."""
    attr_struct = F.struct(*[F.col(a) for a in attrs])
    per_nh = routes.groupBy(prefix_lo, prefix_len, route_nh).agg(
        F.min_by(attr_struct, F.col(route_seq)).alias("__attrs"),
        F.min(route_seq).alias("__seq"),
    )
    packed = per_nh.groupBy(prefix_lo, prefix_len).agg(
        F.min_by(F.col("__attrs"), F.col("__seq")).alias("__default"),
        F.map_from_entries(
            F.collect_list(
                F.when(
                    F.col(route_nh).isNotNull(),
                    F.struct(F.col(route_nh), F.col("__attrs")),
                )
            )
        ).alias("__by_nh"),
    ).withColumn("__route", F.struct("__default", "__by_nh"))
    out = lpm_join(
        flows,
        packed.select(prefix_lo, prefix_len, "__route"),
        ip_col,
        attrs=["__route"],
        prefix_lo=prefix_lo,
        prefix_len=prefix_len,
        plens=plens,
    )
    chosen = F.coalesce(
        F.element_at(F.col("__route.__by_nh"), F.col(nh_col)),
        F.col("__route.__default"),
    )
    out = out.withColumn("__chosen", chosen)
    for a in attrs:
        out = out.withColumn(out_prefix + a, F.col(f"__chosen.{a}"))
    return out.drop("__route", "__chosen")


def lpm_join(
    flows: DataFrame,
    prefixes: DataFrame,
    ip_col: str,
    attrs: list[str] | None = None,
    prefix_lo: str = "lo",
    prefix_len: str = "plen",
    exporter_col: str | None = None,
    prefix_exporter: str = "exporter",
    out_prefix: str = "",
    plens: list[int] | None = None,
) -> DataFrame:
    """One-shot LPM join: :func:`lpm_prepare` + :func:`lpm_probe`.
    Streaming callers that probe the same dimension snapshot every
    micro-batch should prepare once, ``.persist()`` it, and probe."""
    prepared = lpm_prepare(
        prefixes,
        attrs,
        prefix_lo,
        prefix_len,
        exporter_keyed=exporter_col is not None,
        prefix_exporter=prefix_exporter,
        plens=plens,
    )
    return lpm_probe(flows, prepared, ip_col, exporter_col, out_prefix)
