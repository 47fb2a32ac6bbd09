"""Custom stateful streaming operators (SURVEY §2.9 T1 streaming form).

The batch ``operators/classify.rate_limit`` reproduces the reference's
token bucket over a closed window; this module is the *streaming*
form: ``applyInPandasWithState`` keyed by exporter, carrying the
bucket fill and the previous second's drop rate across micro-batches —
the exact state layout of the reference's ``perExporterRateLimiter``
(outlet/core/rate.go:14-25).

State per exporter: (current tick, tokens used this tick, total seen
this tick, drop rate of the previous tick).  Survivors' SamplingRate
is inflated by 1/(1-dropRate) like the reference (worker.go:78-99).

Scale: state is one tiny tuple per exporter (thousands), partitioned
by the grouping key; each micro-batch touches only the exporters it
contains.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = T.StructType(
    [
        T.StructField("tick", T.LongType()),
        T.StructField("used", T.LongType()),
        T.StructField("total", T.LongType()),
        T.StructField("drop_rate", T.DoubleType()),
    ]
)


def _output_schema(extra: T.StructType) -> T.StructType:
    return extra


def streaming_rate_limit(
    flows: DataFrame,
    limit_per_s: int,
    key: str = "ExporterAddress",
    time_col: str = "TimeReceived",
    sampling_col: str = "SamplingRate",
) -> DataFrame:
    """Per-exporter streaming rate limit with sampling compensation.

    Works on a streaming *or* batch grouped frame: rows beyond
    ``limit_per_s/5`` per 200 ms tick are dropped; survivors'
    SamplingRate is scaled by the previous tick's observed drop rate.
    """
    per_tick = max(limit_per_s // 5, 1)
    out_schema = flows.schema

    def fn(
        key_val, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            tick, used, total, drop_rate = state.get
        else:
            tick, used, total, drop_rate = -1, 0, 0, 0.0
        for pdf in pdfs:
            pdf = pdf.sort_values(time_col, kind="stable")
            tcol = pdf[time_col]
            if tcol.dtype.kind in "iu":
                # integer time = epoch SECONDS (the wire schema's
                # TimeReceived); astype(datetime64[ns]) would read the
                # int64 as NANOSECONDS and collapse whole batches into
                # one 200 ms tick
                ticks = (tcol.astype("int64") * 5).to_numpy()
            else:
                ns = tcol.astype("datetime64[ns]").astype("int64")
                ticks = (ns // 200_000_000).to_numpy()
            keep, factors = [], []
            for i, t in enumerate(ticks):
                if t != tick:
                    # tick rollover: publish the finished tick's drop rate
                    drop_rate = ((total - used) / total) if total > used else 0.0
                    tick, used, total = t, 0, 0
                total += 1
                if used < per_tick:
                    used += 1
                    keep.append(i)
                    factors.append(drop_rate)  # rate in effect *at this row*
            kept = pdf.iloc[keep].copy()
            if factors:
                import numpy as np

                f = np.asarray(factors)
                kept[sampling_col] = (
                    kept[sampling_col].to_numpy() / (1.0 - f)
                ).astype("int64")
            yield kept
        state.update((int(tick), int(used), int(total), float(drop_rate)))

    return flows.groupBy(key).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# S5 streaming form: template-stateful NetFlow decode
# --------------------------------------------------------------------------

_DECODE_STATE_SCHEMA = T.StructType([T.StructField("cache", T.BinaryType())])


def streaming_netflow_decode(raw: DataFrame, time_col: str = "time_received") -> DataFrame:
    """NetFlow v9/IPFIX decode whose template cache survives across
    micro-batches, keyed by exporter (the streaming analog of the
    reference's persisted template store,
    outlet/flow/decoder/netflow/persist.go).

    ``raw`` is a RAW_FLOW_SCHEMA stream; state per source_address is
    the pickled (templates, sampling) dicts — a few KB per exporter.
    A data flowset whose template arrived in an *earlier* micro-batch
    still decodes; within a batch rows process in time order (Kafka
    keys datagrams by exporter, so per-exporter order is preserved
    end-to-end)."""
    import pickle

    from akvorado_spark.sources.wire import (
        WIRE_SCHEMA,
        TemplateCache,
        netflow_batch_parser,
    )

    names = [f.name for f in WIRE_SCHEMA.fields]

    def fn(
        key_val, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        cache = TemplateCache()
        if state.exists and state.get[0] is not None:
            cache.templates, cache.sampling = pickle.loads(bytes(state.get[0]))
        parse = netflow_batch_parser(cache=cache)
        for pdf in pdfs:
            if time_col in pdf.columns:
                pdf = pdf.sort_values(time_col, kind="stable")
            # per-message RawFlow options (proto fields 1/6/7), applied
            # per record like outlet/core/worker.go — absent columns
            # fall back to batch-wide defaults
            out = parse(
                pdf["payload"],
                pdf["source_address"],
                times=pdf.get(time_col),
                ts_sources=pdf.get("timestamp_source"),
                decaps=pdf.get("decapsulation"),
            )
            yield out[names]
        state.update((pickle.dumps((cache.templates, cache.sampling)),))

    return raw.groupBy("source_address").applyInPandasWithState(
        fn,
        outputStructType=WIRE_SCHEMA,
        stateStructType=_DECODE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# streaming exact dedup: cross-micro-batch duplicate suppression
# --------------------------------------------------------------------------


def streaming_exact_dedup(
    df: DataFrame,
    content_col: str = "text",
    buckets: int = 64,
) -> DataFrame:
    """Exact dedup ACROSS micro-batches: the first arrival of each
    distinct ``content_col`` value passes, every later arrival — in the
    same batch or any future one — is dropped.

    Spark's own ``dropDuplicates`` on a stream needs a watermark and
    forgets state past it; training-data ingestion wants *unbounded*
    "have I ever seen this document" semantics, so this keeps an
    explicit seen-set via ``applyInPandasWithState``.

    Scale shape: rows are routed by ``pmod(xxhash64(content), buckets)``
    — the JVM computes the hash, the Python side only set-tests 64-bit
    ints — so state shards evenly across ``buckets`` groups and each
    group's state is an array<long> of hashes: 8 bytes per distinct
    document ever seen, independent of document size.  A billion
    distinct docs is ~8 GB of state fleet-wide, spread over the
    executors holding the shards; beyond that, swap the seen-set for a
    bloom filter in the same state slot (accepting its false-drop
    rate).  State survives query restarts through the checkpoint's
    state store.

    Caveat — "exact" is exact on the 64-bit hash, not the content: a
    hash collision silently drops a distinct document.  By the birthday
    bound that is ~2.7% probability of at least ONE false drop across
    a billion distinct docs (n²/2⁶⁵), i.e. expected false drops ≪ 1;
    callers needing literal content-exactness must verify content on a
    hash hit (a keyed lookup against the stored corpus) — the batch
    ``exact_dedup`` operator, which groups on full content, has no
    such caveat.
    """
    h = F.xxhash64(F.col(content_col))
    d = df.withColumn("__h", h).withColumn("__b", F.pmod(h, F.lit(buckets)))
    out_names = [f.name for f in df.schema.fields]

    def fn(
        key_val, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        seen = set(state.get[0]) if state.exists else set()
        for pdf in pdfs:
            mask = []
            for hv in pdf["__h"]:
                hv = int(hv)
                if hv in seen:
                    mask.append(False)
                else:
                    seen.add(hv)
                    mask.append(True)
            yield pdf.loc[mask, out_names]
        state.update((sorted(seen),))

    return d.groupBy("__b").applyInPandasWithState(
        fn,
        outputStructType=df.schema,
        stateStructType="seen array<bigint>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_bloom_dedup(
    df: DataFrame,
    content_col: str = "text",
    buckets: int = 64,
    bits_per_shard: int = 1 << 17,
    hashes: int = 4,
) -> DataFrame:
    """BOUNDED-state variant of :func:`streaming_exact_dedup`: the
    per-shard seen-set becomes a Bloom bitmap, so total state is
    ``buckets · bits_per_shard / 8`` bytes — CONSTANT in stream length
    (defaults: 64 shards × 16 KiB = 1 MiB), closing the unbounded-
    growth caveat of the exact variant for never-ending streams.

    Direction of error: a duplicate is ALWAYS dropped (no false
    passes — once inserted, identical content re-tests all-bits-set);
    a genuinely new document is falsely dropped at the Bloom rate
    ≈ (1 − e^(−k·n/m))^k per shard (n = distinct docs per shard,
    m = bits, k = hashes) — with the defaults, <0.24% after 10 k
    distinct docs per shard (640 k fleet-wide).  Size ``bits_per_shard``
    ≈ 10–16 bits per expected distinct doc for sub-percent loss; when
    false drops are unacceptable, use the exact variant and pay 8 B per
    distinct doc.

    Scale shape: all ``k`` bit positions are computed JVM-side
    (salted xxhash64 mod m) in the stateless projection; the Python
    side only tests/sets bits, and state shards across ``buckets``
    groups exactly like the exact variant.  State survives restarts
    through the checkpoint state store."""
    h = F.xxhash64(F.col(content_col))
    d = df.withColumn("__b", F.pmod(h, F.lit(buckets)))
    for i in range(hashes):
        d = d.withColumn(
            f"__p{i}",
            F.pmod(
                F.xxhash64(F.col(content_col), F.lit(i)), F.lit(bits_per_shard)
            ),
        )
    out_names = [f.name for f in df.schema.fields]
    nbytes = bits_per_shard // 8
    pcols = [f"__p{i}" for i in range(hashes)]

    def fn(
        key_val, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        bm = (
            bytearray(bytes(state.get[0]))
            if state.exists
            else bytearray(nbytes)
        )
        for pdf in pdfs:
            mask = []
            for tup in zip(*(pdf[c] for c in pcols)):
                ps = [int(p) for p in tup]
                dup = all(bm[p >> 3] & (1 << (p & 7)) for p in ps)
                if not dup:
                    for p in ps:
                        bm[p >> 3] |= 1 << (p & 7)
                mask.append(not dup)
            yield pdf.loc[mask, out_names]
        state.update((bytes(bm),))

    return d.groupBy("__b").applyInPandasWithState(
        fn,
        outputStructType=df.schema,
        stateStructType="bitmap binary",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# streaming near-dup candidates: stateful LSH across micro-batches
# --------------------------------------------------------------------------


def streaming_minhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    bands: int = 16,
    ngram: int = 3,
    max_bucket: int = 1024,
) -> DataFrame:
    """Near-dup candidate pairs ACROSS micro-batches: each arriving
    document is checked against every document EVER seen in any of its
    LSH band buckets, not just its own batch.

    The whole sketch runs as stateless narrow expressions
    (``minhash_signature_expr`` — no aggregation state, so the stream
    stays in append mode); only bucket membership is stateful:
    ``applyInPandasWithState`` keyed by (band, bucket) keeps the member
    id list and emits (id_a, id_b) for each new member against the
    existing ones.  Identical bucketing to the batch
    ``lsh_candidate_pairs`` (shared ``band_buckets_expr``), so a
    streamed corpus yields exactly the batch pair set for buckets
    within ``max_bucket`` (asserted in tests).  OVER the cap the two
    paths intentionally differ in which linear pair subset they keep:
    batch emits the sorted-id clique + a star from the bucket minimum,
    streaming stars new arrivals to the first-ARRIVED member (it
    cannot sort ids it hasn't seen yet) — both preserve connectivity
    for transitive dedup, which is the property the cap guarantees.

    Scale shape: state is ids-only AND capped — at most ``max_bucket``
    ids per (band, bucket) key, 8 bytes each.  Past the cap, new
    members pair only with the bucket's first member (star topology —
    connectivity for transitive dedup is preserved, pair volume stays
    linear) and are NOT stored: storing them would buy nothing (they
    would never be paired against) while letting one degenerate bucket
    grow state without bound.  The trade is that a RE-delivered
    over-cap id re-emits its star pair instead of being recognized —
    harmless, because pairs may repeat across bands and batches
    anyway; dedupe downstream (the batch path's ``distinct``) or feed
    connected components, which tolerates duplicates.
    """
    from akvorado_spark.operators.dedup import (
        band_buckets_expr,
        minhash_signature_expr,
        word_ngrams,
    )

    banded = df.select(
        F.col(id_col).cast("long").alias("__id"),
        minhash_signature_expr(word_ngrams(text_col, ngram), n_hashes).alias("__sig"),
    ).select(
        "__id",
        F.posexplode(band_buckets_expr("__sig", bands, n_hashes)).alias("band", "bucket"),
    )

    out_schema = "id_a long, id_b long"

    def fn(
        key_val, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        members = list(state.get[0]) if state.exists else []
        seen = set(members)
        for pdf in pdfs:
            rows = []
            for new in pdf["__id"]:
                new = int(new)
                if new in seen:
                    continue
                if len(members) < max_bucket:
                    rows.extend(
                        (min(m, new), max(m, new)) for m in members
                    )
                    members.append(new)
                    seen.add(new)
                else:
                    # over-cap: star to the first-arrived member only,
                    # and do NOT store — bounded state per bucket
                    rows.append((min(members[0], new), max(members[0], new)))
            yield pd.DataFrame(rows, columns=["id_a", "id_b"])
        state.update((members,))

    return banded.groupBy("band", "bucket").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType="members array<bigint>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_duplicate_windows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 40,
    stride: int = 10,
    ttl_seconds: float | None = None,
) -> DataFrame:
    """Cross-micro-batch exact-substring duplicate detection: each
    arriving document's content-anchored windows are checked against
    every window content EVER seen, emitting (doc_id, s) for each
    duplicated occurrence — the streaming feed for the batch span
    merge/excision (``operators.dedup.excise_spans``).

    Window extraction is the stateless batch expression
    (``substring_window_occurrences`` — append mode, no aggregation
    state); only content ownership is stateful: 16 bytes per distinct
    window content (xxhash64 key → first-owner id).  Ownership
    divergence from batch mode mirrors the streaming-minhash contract:
    batch crowns the globally-lowest doc id, streaming crowns the
    lowest id among the FIRST micro-batch to present the content (it
    cannot see the future); when ids arrive in order the two coincide
    (asserted in tests).  The owner never emits — its copy is the one
    that survives excision.

    State grows with DISTINCT window contents seen (16 B each) — the
    inherent memory of global substring dedup.  For an unbounded
    stream, bound it with ``ttl_seconds``: each window content's owner
    entry lives a sliding processing-time TTL (refreshed whenever the
    content recurs) and is REMOVED on expiry, so state size tracks the
    horizon's distinct contents, not the stream's lifetime.  The error
    direction is documented misses only: a duplicate of an EXPIRED
    content re-admits (a fresh owner is crowned, earlier copies are
    forgotten), while in-horizon duplicates — including across
    checkpoint restarts — still suppress exactly.  ``None`` (default)
    keeps the unbounded exact behavior; the other bounding strategy is
    running the batch job over closed partitions (state is free —
    recomputed per run).

    Operational notes for the TTL variant (measured round 10):

    - ``trigger(availableNow=True)`` does NOT stop after the last data
      file: Spark keeps running EMPTY micro-batches until every pending
      processing-time timer has fired (observed: 2 data batches at
      ttl=25 s → 101 committed batches before termination).  Use a
      continuous ``processingTime`` trigger for TTL streams; reserve
      availableNow for the untimed variant — or expect to pay a
      ttl-long drain of no-data state commits at shutdown.
    - The ``statestore`` reader data source cannot load stores written
      with ``ProcessingTimeTimeout`` in this Spark build
      (CANNOT_LOAD_STATE_STORE on every retained version; NoTimeout
      stores read fine) — size the TTL horizon from arrival-rate math
      rather than post-hoc state inspection.
    """
    from akvorado_spark.operators.dedup import substring_window_occurrences

    occ = substring_window_occurrences(df, text_col, id_col, window, stride)
    keyed = occ.select(
        F.xxhash64("w").alias("__k"),
        F.col(id_col).cast("long").alias("__id"),
        F.col("s").cast("long").alias("__s"),
    )

    out_schema = "doc_id long, s long"

    def fn(
        key_val, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if ttl_seconds is not None and state.hasTimedOut:
            # expiry: forget this content's owner entirely — the next
            # arrival re-admits and crowns a fresh owner (miss-only)
            state.remove()
            return
        owner = int(state.get[0]) if state.exists else None
        if owner is None:
            # First micro-batch to present this content: the owner is
            # the min id across the WHOLE batch, which can span several
            # Arrow chunks (>~10k occurrences of one window content) —
            # drain every chunk before crowning, else a lower id in a
            # later chunk is emitted as a duplicate and a non-minimal
            # doc is crowned.  Per-key rows are duplicate occurrences
            # of ONE window content, so buffering them is small.
            chunks = [pdf for pdf in pdfs if len(pdf)]
            if not chunks:
                return
            owner = min(int(pdf["__id"].min()) for pdf in chunks)
            pdfs = iter(chunks)
        for pdf in pdfs:
            rows = [
                (int(d), int(s))
                for d, s in zip(pdf["__id"], pdf["__s"])
                if int(d) != owner
            ]
            yield pd.DataFrame(rows, columns=["doc_id", "s"])
        state.update((owner,))
        if ttl_seconds is not None:
            # sliding TTL: every arrival of this content refreshes the
            # deadline; silent contents expire ttl_seconds later
            state.setTimeoutDuration(int(ttl_seconds * 1000))

    return keyed.groupBy("__k").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType="owner long",
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if ttl_seconds is not None
            else GroupStateTimeout.NoTimeout
        ),
    )
