"""Flow schema registry.

A config-driven, static schema for the wide flow fact table — the
Spark re-expression of the reference's programmatic schema
(reference: common/schema/definition.go:244-538, types.go:27-72).

Key semantics carried over:

- **Direction symmetry**: every ``Src*`` column is auto-cloned to
  ``Dst*`` and every ``InIf*`` to ``OutIf*`` (reference
  definition.go:579-594); the generated reverse map drives filter /
  query direction swapping (helpers.go:49-70).
- **MainOnly** columns exist only in the full-resolution table and are
  dropped from rollups (definition.go:277-281 etc.).
- **Alias** columns are computed on read (a view layer);
  **GenerateFrom** columns are computed at ingest by the raw→main
  transform (definition.go:288-299, 323-343).
- **NotSortingKey / primary keys** drive rollup grouping keys
  (clickhouse.go:122-134, definition.go:246-257).

Spark-native choices: IPs are BinaryType(16) (see functions/ip.py),
UInt64 counters are LongType, enums are lowercase string labels,
LargeCommunities are an array of (asn, local1, local2) structs instead
of UInt128 packing.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from akvorado_spark.functions.arrays import array_compact
from akvorado_spark.functions.ip import register_sql_functions


@dataclass(frozen=True)
class FlowColumn:
    name: str
    dtype: T.DataType
    main_only: bool = False          # raw table only; dropped from rollups
    not_sorting_key: bool = False    # kept in rollups but not a grouping key
    primary: bool = False            # rollup primary key member
    alias: str | None = None         # computed-on-read (SQL expr over stored cols)
    generated: str | None = None     # computed-at-ingest (SQL expr)
    disabled: bool = False           # present in the registry, off by default
    materialized: bool = False       # alias flipped to computed-at-ingest + stored
    not_dimension: bool = False      # cannot be used as a console dimension
    truncatable_ip: bool = False     # subject to the console IP truncation
    ip_addr: bool = False            # binary IP column (display-rendered)


def _lc(name: str, **kw) -> FlowColumn:
    return FlowColumn(name, T.StringType(), **kw)


LARGE_COMMUNITY = T.ArrayType(
    T.StructType(
        [
            T.StructField("asn", T.LongType()),
            T.StructField("local1", T.LongType()),
            T.StructField("local2", T.LongType()),
        ]
    )
)

# Packet-size bucket boundaries (reference definition.go:409-428).
PACKET_SIZE_BOUNDARIES = [64, 128, 256, 512, 768, 1024, 1280, 1501, 2048, 3072, 4096, 8192,
                          10240, 16384, 32768, 65536]


def _packet_size_bucket_sql() -> str:
    conds = []
    prev = 0
    for b in PACKET_SIZE_BOUNDARIES:
        label = f"{prev}-{b - 1}"
        conds.append(f"WHEN PacketSize < {b} THEN '{label}'")
        prev = b
    return "CASE " + " ".join(conds) + f" ELSE '{prev}-Inf' END"


def _base_columns() -> list[FlowColumn]:
    """Directional columns are declared Src/InIf only; finalize() clones
    them to Dst/OutIf (reference definition.go:579-594)."""
    B = T.BinaryType()
    i32, i64, i16 = T.IntegerType(), T.LongType(), T.ShortType()
    return [
        FlowColumn("TimeReceived", T.TimestampType(), primary=True, not_dimension=True),
        # SamplingRate is a rollup PRIMARY KEY (reference definition.go:246-257):
        # rows with different rates never merge, so SUM(counter)*rate stays exact
        FlowColumn("SamplingRate", i64, primary=True, not_dimension=True),
        # NOT truncatable: only Src/DstAddr (+ NAT clones) carry
        # ConsoleTruncateIP in the reference (definition.go:280,442;
        # graph_test.go "no truncatable dimensions" pins ExporterAddress
        # passing through a truncating request untouched)
        FlowColumn("ExporterAddress", B, primary=True, ip_addr=True),
        _lc("ExporterName"),
        _lc("ExporterGroup"),
        _lc("ExporterRole"),
        _lc("ExporterSite"),
        _lc("ExporterRegion"),
        _lc("ExporterTenant"),
        # --- directional block (auto-cloned Src→Dst, InIf→OutIf) ---
        FlowColumn("SrcAddr", B, main_only=True, truncatable_ip=True, ip_addr=True),
        FlowColumn("SrcNetMask", i16, main_only=True, not_dimension=True),
        FlowColumn("SrcAS", i32, primary=True),
        FlowColumn(
            "SrcNetPrefix",
            T.StringType(),
            main_only=True,
            alias="__src_net_prefix__",  # the akvorado_net_prefix UDF
        ),
        _lc("SrcNetName"),
        _lc("SrcNetRole"),
        _lc("SrcNetSite"),
        _lc("SrcNetRegion"),
        _lc("SrcNetTenant"),
        _lc("SrcCountry"),
        _lc("SrcGeoState"),
        _lc("SrcGeoCity"),
        FlowColumn("SrcVlan", i32, disabled=True),
        FlowColumn("SrcPort", i32, main_only=True),
        # --- optional directional columns, disabled by default like the
        # reference's registry (definition.go:436-452): enable via
        # FlowSchema.configure(enable=...) ---
        FlowColumn("SrcAddrNAT", B, disabled=True, main_only=True, truncatable_ip=True, ip_addr=True),
        FlowColumn("SrcPortNAT", i32, disabled=True, main_only=True),
        FlowColumn("SrcMAC", i64, disabled=True),
        FlowColumn("InIfName", T.StringType(), primary=True),
        _lc("InIfDescription", not_sorting_key=True),
        FlowColumn("InIfSpeed", i32, not_sorting_key=True, not_dimension=True),
        _lc("InIfConnectivity"),
        _lc("InIfProvider"),
        _lc("InIfBoundary"),
        # --- destination-only routing attributes (reference 317-371) ---
        FlowColumn("DstASPath", T.ArrayType(i64), main_only=True, not_dimension=True),
        FlowColumn("Dst1stAS", i32, primary=False,
                   generated="try_element_at(__compacted_path__, 1)"),
        FlowColumn("Dst2ndAS", i32, generated="try_element_at(__compacted_path__, 2)"),
        FlowColumn("Dst3rdAS", i32, generated="try_element_at(__compacted_path__, 3)"),
        # source-side BGP communities exist in the registry but ship
        # disabled (reference definition.go:344-366: Disabled: true on
        # the Src pair only) — the enrichment fills them from the
        # source-address RIB lookup when enabled (enricher.go:155-160)
        FlowColumn("SrcCommunities", T.ArrayType(i64), main_only=True,
                   not_dimension=True, disabled=True),
        FlowColumn("DstCommunities", T.ArrayType(i64), main_only=True, not_dimension=True),
        FlowColumn("SrcLargeCommunities", LARGE_COMMUNITY, main_only=True,
                   not_dimension=True, disabled=True),
        FlowColumn("DstLargeCommunities", LARGE_COMMUNITY, main_only=True, not_dimension=True),
        # --- non-directional L3/L4 ---
        FlowColumn("EType", i32, primary=True),
        FlowColumn("Proto", i32, primary=True),
        FlowColumn("Bytes", i64, not_sorting_key=True, not_dimension=True),
        FlowColumn("Packets", i64, not_sorting_key=True, not_dimension=True),
        FlowColumn("PacketSize", i64, alias="Bytes DIV Packets", not_dimension=True),
        FlowColumn("PacketSizeBucket", T.StringType(), alias=_packet_size_bucket_sql()),
        FlowColumn("ForwardingStatus", i32, primary=True),
        _lc("FlowDirection"),
        FlowColumn("NextHop", T.BinaryType(), main_only=True, ip_addr=True),
        # --- optional L3/L4 + MPLS + VRF registry columns, disabled by
        # default (reference definition.go:453-537); the ICMP display
        # aliases use the type/code fallback form — dictionary-name
        # rendering is the render layer's icmp_lookup (J2), where the
        # reference's dictGetOrDefault also lives ---
        FlowColumn("IPTTL", i32, disabled=True),
        FlowColumn("IPTos", i32, disabled=True),
        FlowColumn("IPFragmentID", i64, disabled=True),
        FlowColumn("IPFragmentOffset", i32, disabled=True),
        FlowColumn("IPv6FlowLabel", i64, disabled=True),
        FlowColumn("TCPFlags", i32, disabled=True),
        FlowColumn("ICMPv4Type", i32, disabled=True),
        FlowColumn("ICMPv4Code", i32, disabled=True),
        FlowColumn("ICMPv6Type", i32, disabled=True),
        FlowColumn("ICMPv6Code", i32, disabled=True),
        FlowColumn(
            "ICMPv4",
            T.StringType(),
            disabled=True,
            alias="CASE WHEN Proto = 1 THEN CONCAT(CAST(ICMPv4Type AS STRING), "
            "'/', CAST(ICMPv4Code AS STRING)) ELSE '' END",
        ),
        FlowColumn(
            "ICMPv6",
            T.StringType(),
            disabled=True,
            alias="CASE WHEN Proto = 58 THEN CONCAT(CAST(ICMPv6Type AS STRING), "
            "'/', CAST(ICMPv6Code AS STRING)) ELSE '' END",
        ),
        FlowColumn("MPLSLabels", T.ArrayType(i64), disabled=True, main_only=True,
                   not_dimension=True),
        FlowColumn("MPLS1stLabel", i64, disabled=True, main_only=True,
                   alias="try_element_at(MPLSLabels, 1)"),
        FlowColumn("MPLS2ndLabel", i64, disabled=True, main_only=True,
                   alias="try_element_at(MPLSLabels, 2)"),
        FlowColumn("MPLS3rdLabel", i64, disabled=True, main_only=True,
                   alias="try_element_at(MPLSLabels, 3)"),
        FlowColumn("MPLS4thLabel", i64, disabled=True, main_only=True,
                   alias="try_element_at(MPLSLabels, 4)"),
        FlowColumn("IngressVRFID", i64, disabled=True),
        FlowColumn("EgressVRFID", i64, disabled=True),
    ]


_DIRECTIONAL_PREFIXES = (("Src", "Dst"), ("InIf", "OutIf"))


def _finalize(cols: list[FlowColumn]) -> list[FlowColumn]:
    """Clone Src*→Dst* and InIf*→OutIf* right after their source column,
    skipping names that already exist (reference definition.go:579-594)."""
    existing = {c.name for c in cols}
    out: list[FlowColumn] = []
    for c in cols:
        out.append(c)
        for a, b in _DIRECTIONAL_PREFIXES:
            if c.name.startswith(a):
                clone_name = b + c.name[len(a):]
                if clone_name not in existing:
                    alias = c.alias
                    if alias == "__src_net_prefix__":
                        alias = "__dst_net_prefix__"
                    out.append(replace(c, name=clone_name, alias=alias))
                    existing.add(clone_name)
    return out


@dataclass
class FlowSchema:
    columns: list[FlowColumn]

    # ---- lookups ---------------------------------------------------------
    def __post_init__(self) -> None:
        self.by_name = {c.name: c for c in self.columns}

    def enabled(self) -> list[FlowColumn]:
        return [c for c in self.columns if not c.disabled]

    def stored(self) -> list[FlowColumn]:
        """Columns physically stored in the main table (aliases
        excluded unless materialized)."""
        return [c for c in self.enabled() if c.alias is None or c.materialized]

    # ---- config surface (reference common/schema/config.go:54-104) -------
    def configure(
        self,
        enable: tuple[str, ...] = (),
        disable: tuple[str, ...] = (),
        materialize: tuple[str, ...] = (),
    ) -> "FlowSchema":
        """Apply the reference's column configuration: turn registry
        columns on/off and flip Alias columns to computed-at-ingest +
        stored ("Materialize", root.go:38-52).  Direction clones are
        independent columns — name both sides to configure both.
        Primary keys cannot be disabled (the rollup grouping contract
        would break — mirrors the reference's validation)."""
        for n in (*enable, *disable, *materialize):
            if n not in self.by_name:
                raise ValueError(f"unknown column {n!r}")
        cols = []
        for c in self.columns:
            if c.name in enable:
                c = replace(c, disabled=False)
            if c.name in disable:
                if c.primary:
                    raise ValueError(f"cannot disable primary key {c.name}")
                c = replace(c, disabled=True)
            if c.name in materialize:
                if c.alias is None:
                    raise ValueError(f"{c.name} is not an alias column")
                c = replace(c, materialized=True)
            cols.append(c)
        return FlowSchema(cols)

    def struct_type(self, main: bool = True) -> T.StructType:
        cols = self.stored() if main else self.rollup_columns()
        return T.StructType([T.StructField(c.name, c.dtype, True) for c in cols])

    def rollup_columns(self) -> list[FlowColumn]:
        return [c for c in self.stored() if not c.main_only]

    def rollup_keys(self) -> list[str]:
        """Grouping keys of the Summing rollups: all non-MainOnly stored
        dims except the summed counters (clickhouse.go:122-134)."""
        return [
            c.name
            for c in self.rollup_columns()
            if not c.not_sorting_key and c.name not in ("Bytes", "Packets")
        ]

    def primary_keys(self) -> list[str]:
        return [c.name for c in self.stored() if c.primary]

    # ---- direction symmetry ---------------------------------------------
    def reverse_name(self, name: str) -> str:
        for a, b in _DIRECTIONAL_PREFIXES:
            if name.startswith(a):
                cand = b + name[len(a):]
                return cand if cand in self.by_name else name
            if name.startswith(b):
                cand = a + name[len(b):]
                return cand if cand in self.by_name else name
        return name

    # ---- expression layers ----------------------------------------------
    _ALIAS_DEPS = {
        "__src_net_prefix__": {"SrcAddr", "SrcNetMask", "EType"},
        "__dst_net_prefix__": {"DstAddr", "DstNetMask", "EType"},
    }

    def _alias_refs(self, c: FlowColumn) -> set[str]:
        """The schema columns an alias reads."""
        import re

        if c.alias in self._ALIAS_DEPS:
            return self._ALIAS_DEPS[c.alias]
        words = set(re.findall(r"[A-Za-z_][A-Za-z0-9_]*", c.alias))
        return {w for w in words if w in self.by_name and w != c.name}

    def _alias_sql(self, c: FlowColumn) -> str:
        """The alias as SQL text; the prefix aliases call the UDF that
        ``register_sql_functions`` registers."""
        if c.alias == "__src_net_prefix__":
            return "akvorado_net_prefix(SrcAddr, SrcNetMask, EType)"
        if c.alias == "__dst_net_prefix__":
            return "akvorado_net_prefix(DstAddr, DstNetMask, EType)"
        return f"CAST(({c.alias}) AS {c.dtype.simpleString()})"

    def ingest(self, df: DataFrame) -> DataFrame:
        """Apply GenerateFrom columns — the raw→main transform of the
        reference's `_raw_consumer` MV (migrations_helpers.go:368-406):
        Dst1st/2nd/3rdAS from the consecutive-dedup'd AS path — plus
        any Materialized alias columns (root.go:38-52)."""
        df = df.withColumn("__compacted_path__", array_compact("DstASPath"))
        for c in self.enabled():
            if c.generated:
                df = df.withColumn(c.name, F.expr(c.generated).cast(c.dtype))
        df = df.drop("__compacted_path__")
        present = set(df.columns)
        for c in self.enabled():
            if c.materialized and c.alias is not None and c.name not in present:
                if self._alias_refs(c) <= present:
                    register_sql_functions(df.sparkSession)
                    df = df.withColumn(c.name, F.expr(self._alias_sql(c)))
                    present.add(c.name)
        return df

    def view_layers(
        self, present: set[str], needed: set[str] | None = None
    ) -> list[list[str]]:
        """The Alias (computed-on-read) columns a frame with columns
        ``present`` lacks, as SQL select items in layers: an item reads
        only ``present`` and the layers before its own.  Aliases whose
        dependencies are absent (e.g. MainOnly inputs on a rollup
        frame) are skipped — the rollup router guarantees queries
        touching them run on the main table.  ``needed`` keeps only the
        aliases it names and those they read."""
        if needed is not None:
            needed = set(needed)
            grow = needed
            while grow:
                grow = {
                    r
                    for n in grow
                    if (c := self.by_name.get(n)) is not None and c.alias is not None
                    for r in self._alias_refs(c)
                } - needed
                needed |= grow
        have = set(present)
        layers: list[list[str]] = []
        layer: set[str] = set()
        for c in self.enabled():
            if c.alias is None or c.name in have:
                continue
            if needed is not None and c.name not in needed:
                continue
            refs = self._alias_refs(c)
            if not refs <= have:
                continue
            if not layers or refs & layer:
                layers.append([])
                layer = set()
            layers[-1].append(f"{self._alias_sql(c)} AS `{c.name}`")
            layer.add(c.name)
            have.add(c.name)
        return layers

    def view(self, df: DataFrame) -> DataFrame:
        """Apply the Alias (computed-on-read) columns that the frame
        doesn't already carry — the reference's ALIAS column semantics
        (definition.go:288-299, types.go ClickHouseAlias).  Materialized
        aliases are already stored and skip naturally."""
        layers = self.view_layers(set(df.columns))
        if layers:
            register_sql_functions(df.sparkSession)
        for items in layers:
            df = df.selectExpr("*", *items)
        return df

    def view_sql(self, relation: str, present: set[str], needed: set[str]) -> str:
        """:meth:`view` as SQL text over ``relation`` (columns
        ``present``), adding only the ``needed`` aliases.  The caller
        registers the UDFs (``register_sql_functions``)."""
        sql = f"SELECT * FROM {relation}"
        for items in self.view_layers(present, needed):
            sql = f"SELECT *, {', '.join(items)} FROM ({sql})"
        return sql

    def main_only_names(self) -> set[str]:
        out = set()
        for c in self.enabled():
            if c.main_only:
                out.add(c.name)
            if c.alias in ("__src_net_prefix__", "__dst_net_prefix__"):
                out.add(c.name)  # prefix aliases read MainOnly mask/addr
        return out


def flows_schema() -> FlowSchema:
    return FlowSchema(_finalize(_base_columns()))
