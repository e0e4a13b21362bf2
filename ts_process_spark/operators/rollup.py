"""The retention-tier rollup cascade: raw → 1m → 1h → 1d.

Reference analog: ts-process downsamples every series to a coarser dt
(`/root/reference/ts_process/ts_library.py:896-962`; the integer-factor
`decimate` fast path at `:919-925` is exactly our exact-multiple tier
cascade), and extracts per-series aggregates — peak = max|x|
(`/root/reference/ts_process/rotd50/rotd50.f:272-281`), mean / DC level
(`/root/reference/ts_process/rotd50/ft_th.f:1-30`).  Here every tier is a
continuous aggregate over conversation turns:

Tier row (TIER_SCHEMA):
    conv_id, bucket_ts, n_turns, n_gapfilled, sum_text_len,
    peak_text_len, mean_text_len, first_turn_idx, last_turn_idx,
    first_ts, last_ts, mean_gap_s, text_hash, ts_blob, val_blob

- *Re-aggregable* measures (counts, sums, max, min/max, first/last) make
  the 1h tier computable from the 1m tier alone — the partial+final
  combine Catalyst does for a hash aggregate, made explicit across tiers.
- ``mean_text_len`` / ``mean_gap_s`` are derived (sum/count), never
  cascaded directly.
- ``text_hash``: xxhash64 over the turn-ordered concatenation of
  per-turn text hashes at the 1m tier (the per-turn text-equality
  surrogate, BASELINE.json:6 — per-turn hashes are computed map-side so
  no text bytes cross the shuffle); coarser tiers chain-hash the child
  hashes in bucket order.
- ``ts_blob`` / ``val_blob``: delta-of-delta timestamps + Gorilla XOR of
  the text-length signal for every point in the bucket; coarser tiers
  concatenate child blobs byte-wise into a chunked container (no
  decode/re-encode in the cascade — the immutable-chunk pattern from
  the Gorilla deployment; still lossless all the way down).

Execution shape (what survives a 1000-executor, 10^12-turn run):
- One shuffle for the whole raw→1m stage: the gap-fill window partitions
  by ``conv_id`` and ``groupBy(conv_id, bucket)`` reuses that exchange.
- Skew: bucket grain bounds group size at raw→1m (a hot conversation
  spreads over its minutes).  For the coarser tiers the group is
  (conv, hour|day) of *1m rows* (≤60/24 children), inherently bounded.
- All aggregates are JVM/codegen (`F.sum/max/min/xxhash64`); the only
  Arrow UDFs are the per-bucket blob ENCODERS at the 1m tier (scalar
  pandas_udfs over pre-grouped arrays, vectorized NumPy inside, zero
  per-row Python).  The coarser tiers are pure JVM end to end: the
  container concat is built by expression (_concat_blobs_expr) — r9
  measured the Python eval node itself at ~40% of the 1h/1d tier jobs.
"""

from __future__ import annotations


import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ts_process_spark.functions.codecs import encode_dod_batch, encode_gorilla_batch
from ts_process_spark.operators.gapfill import gapfill_ts

TIERS = {"1m": "minute", "1h": "hour", "1d": "day"}
_SEP = "\x1f"

TIER_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("bucket_ts", T.TimestampType(), False),
        T.StructField("n_turns", T.LongType(), False),
        T.StructField("n_gapfilled", T.LongType(), False),
        T.StructField("sum_text_len", T.LongType(), False),
        T.StructField("peak_text_len", T.LongType(), False),
        T.StructField("mean_text_len", T.DoubleType(), False),
        T.StructField("first_turn_idx", T.IntegerType(), False),
        T.StructField("last_turn_idx", T.IntegerType(), False),
        T.StructField("first_ts", T.TimestampType(), False),
        T.StructField("last_ts", T.TimestampType(), False),
        T.StructField("mean_gap_s", T.DoubleType(), True),
        T.StructField("text_hash", T.LongType(), False),
        T.StructField("ts_blob", T.BinaryType(), False),
        T.StructField("val_blob", T.BinaryType(), False),
    ]
)


@F.pandas_udf(T.BinaryType())
def _encode_dod_udf(ts_arrays: pd.Series) -> pd.Series:
    # whole-Arrow-batch encode: one vectorized pass over every bucket in
    # the batch (per-blob Python overhead was the cascade's hottest cost)
    lengths = np.fromiter((len(a) for a in ts_arrays), dtype=np.int64,
                          count=len(ts_arrays))
    concat = (
        np.concatenate([np.asarray(a, dtype=np.int64) for a in ts_arrays])
        if lengths.sum()
        else np.array([], dtype=np.int64)
    )
    return pd.Series(encode_dod_batch(concat, lengths), index=ts_arrays.index)


@F.pandas_udf(T.BinaryType())
def _encode_gorilla_udf(val_arrays: pd.Series) -> pd.Series:
    lengths = np.fromiter((len(a) for a in val_arrays), dtype=np.int64,
                          count=len(val_arrays))
    concat = (
        np.concatenate([np.asarray(a, dtype=np.float64) for a in val_arrays])
        if lengths.sum()
        else np.array([], dtype=np.float64)
    )
    return pd.Series(encode_gorilla_batch(concat, lengths), index=val_arrays.index)


_SENTINEL_LE = b"\xff\xff\xff\xff"  # struct.pack('<I', codecs._CHUNK_SENTINEL)


def _le4(x) -> F.Column:
    """Little-endian uint32 bytes of an integral column —
    byte-identical to ``struct.pack('<I', x)`` for 0 <= x < 2^31 (all
    chunk counts/lengths here).  hex() of the int, zero-padded to 8
    nibbles, decoded big-endian, then byte-reversed — every step a
    codegen built-in (guide §4.1), no Python.

    Out-of-range values raise at execution whatever the session's ANSI
    setting: without the guard a negative (or wrapped ``int`` cast)
    value's 16-nibble hex would be truncated by lpad into wrong bytes —
    for 2^31 cast to int, exactly the 0xFFFFFFFF container sentinel."""
    x = F.when(
        (x < 0) | (x > 2**31 - 1),
        F.raise_error(F.concat(F.lit("_le4: value out of [0, 2^31-1]: "),
                               x.cast("string"))),
    ).otherwise(x)
    be = F.to_binary(F.lpad(F.hex(x), 8, "0"), F.lit("hex"))
    return F.concat(*[F.substring(be, i, 1) for i in (4, 3, 2, 1)])


def _concat_blobs_expr(children, field: str, container: bool) -> F.Column:
    """JVM twin of ``codecs.concat_blobs`` over the cascade's collected
    child array — emits the identical ``[0xFFFFFFFF:u32][n_chunks:u32]
    [len_i:u32]*[chunk bytes]`` container, flattening child containers
    exactly as the Python form does, without the blob bytes (or any
    per-row work) ever crossing the JVM↔Python boundary.

    ``children``: array<struct> in bucket order carrying ``field`` (the
    blob) and ``n`` (the child's leaf-chunk count).  ``container`` is
    the tier-structural fact concat_blobs discovers per blob from the
    sentinel: a cascade child (has ``blob_n_chunks``) is ALWAYS a
    container, a 1m child NEVER is (leaf blobs start with the bucket's
    point count, which cannot be 0xFFFFFFFF).  For containers the
    merged header's length table is the byte-level concatenation of the
    children's length tables (substring(blob, 9, 4n) — no u32 decode
    needed) and the body is the children's bodies (substring past the
    8+4n header); for leaves it is the map-side-precomputed ``ltb`` /
    ``lvb`` length bytes (see the collect_list struct) and the blob
    itself.  Byte-parity with the Python form is pinned in
    tests/test_rollup.py for both shapes plus the empty-array edge
    (max_blob_bytes can empty ``kept``: header with zero chunks)."""
    bcat = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(b""), lambda acc, x: F.concat(acc, x)
    )
    if container:
        total_n = F.aggregate(
            children, F.lit(0).cast("long"), lambda acc, c: acc + c["n"]
        )
        lens = bcat(
            F.transform(
                children,
                lambda c: F.substring(
                    c[field], F.lit(9), (c["n"] * 4).cast("int")
                ),
            )
        )
        body = bcat(
            F.transform(
                children,
                lambda c: F.substring(
                    c[field],
                    (c["n"] * 4 + 9).cast("int"),
                    F.length(c[field]),
                ),
            )
        )
    else:
        # one chunk per leaf child; its 4 length bytes were precomputed
        # map-side into the struct (see the collect_list above)
        total_n = F.size(children).cast("long")
        lens = bcat(
            F.transform(children, lambda c: c["ltb" if field == "tb" else "lvb"])
        )
        body = bcat(F.transform(children, lambda c: c[field]))
    return F.concat(
        F.lit(_SENTINEL_LE), _le4(total_n), lens, body
    )


def _hash_fn(hash_name: str):
    """Engine hash for per-turn text surrogates and tier chain-hashes.
    ``xxhash64`` (long) is the production default; ``md5`` (hex string)
    produces the same lattice with a hash DuckDB can replicate, making
    the whole cascade oracle-checkable (see queries_ts.cascade_*)."""
    if hash_name == "xxhash64":
        return F.xxhash64
    if hash_name == "md5":
        return F.md5
    raise ValueError(f"unknown hash {hash_name!r}")


def rollup_raw_to_1m(raw: DataFrame, hash_name: str = "xxhash64") -> DataFrame:
    """raw transcript turns → 1-minute tier (includes gap-fill).

    Scale-critical projection: ``text`` is reduced to (length,
    xxhash64) MAP-SIDE, before the conv_id exchange — no raw text bytes
    ever cross the shuffle or sit in the per-bucket collected arrays.
    ``text_hash`` is therefore the xxhash64 of the turn-ordered
    concatenation of per-turn text hashes (an order-sensitive,
    collision-resistant surrogate for hashing the concatenated texts;
    the raw-grain per-turn text equality check stays at raw grain,
    tests/test_rollup.py::test_generator_matches_oracle_frame).
    """
    hfn = _hash_fn(hash_name)
    # NULL text normalizes to '' AT THE OPERATOR (not just in callers):
    # otherwise the turn stays in n_turns but drops out of sum/peak,
    # sum_text_len can go NULL against the non-null tier schema, and a
    # None text_len reaches the Gorilla blob as NaN (review finding)
    text = F.coalesce(F.col("text"), F.lit(""))
    slim = raw.select(
        "conv_id",
        "turn_idx",
        "ts",
        F.length(text).cast("long").alias("text_len"),
        hfn(text).alias("th"),
    )
    filled = gapfill_ts(slim).where(F.col("ts_filled").isNotNull())
    pts = filled.select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        F.date_trunc("minute", "ts_filled").alias("bucket_ts"),
        F.unix_micros("ts_filled").alias("ts_us"),
        F.col("gapfilled").cast("long").alias("gf"),
        "text_len",
        "th",
    )
    # one hash-aggregate; collect_list + array_sort pins the in-bucket
    # order to turn_idx so hashes and blobs are partition-count-invariant
    grouped = pts.groupBy("conv_id", "bucket_ts").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum("gf").alias("n_gapfilled"),
        F.sum("text_len").alias("sum_text_len"),
        F.max("text_len").alias("peak_text_len"),
        F.min("turn_idx").cast("int").alias("first_turn_idx"),
        F.max("turn_idx").cast("int").alias("last_turn_idx"),
        F.min("ts_us").alias("first_us"),
        F.max("ts_us").alias("last_us"),
        F.array_sort(
            F.collect_list(F.struct("turn_idx", "ts_us", "text_len", "th"))
        ).alias("pts"),
    )
    return grouped.select(
        "conv_id",
        "bucket_ts",
        "n_turns",
        "n_gapfilled",
        "sum_text_len",
        "peak_text_len",
        (F.col("sum_text_len") / F.col("n_turns")).alias("mean_text_len"),
        "first_turn_idx",
        "last_turn_idx",
        F.timestamp_micros("first_us").alias("first_ts"),
        F.timestamp_micros("last_us").alias("last_ts"),
        F.when(
            F.col("n_turns") > 1,
            (F.col("last_us") - F.col("first_us")) / 1e6 / (F.col("n_turns") - 1),
        ).alias("mean_gap_s"),
        hfn(
            F.concat_ws(_SEP, F.transform("pts", lambda p: p["th"].cast("string")))
        ).alias("text_hash"),
        _encode_dod_udf(F.transform("pts", lambda p: p["ts_us"])).alias("ts_blob"),
        _encode_gorilla_udf(
            F.transform("pts", lambda p: p["text_len"].cast("double"))
        ).alias("val_blob"),
    )


def rollup_cascade(
    child: DataFrame,
    tier: str,
    hash_name: str = "xxhash64",
    max_blob_bytes: int | None = None,
) -> DataFrame:
    """Aggregate a finer tier (1m→1h or 1h→1d). ``tier`` ∈ {'1h','1d'}.

    ``max_blob_bytes`` bounds the pathological hot-conversation row: a
    conv whose day concatenates gigabytes of child blobs would otherwise
    make one giant row.  When set, child blob chunks are kept in bucket
    order until the byte budget is reached and the drop is SURFACED as a
    ``blob_chunks_dropped`` column (the no-silent-caps rule — aggregates
    stay exact either way; only replay payload is truncated).  Default
    None = lossless.

    Drop accounting is in LEAF (1m-chunk) units at every tier (ADVICE
    r4: summing "own drops" in immediate-child units with propagated
    grandchild counts produced a mixed-unit number that under-read real
    data loss): every cascade row carries ``blob_n_chunks`` = leaf
    chunks inside its blob (a 1m child without the column counts 1), a
    dropped child is weighted by ITS leaf count, and the propagated
    child counters are already leaf-unit by induction."""
    hfn = _hash_fn(hash_name)
    trunc = TIERS[tier]
    has_child_chunks = "blob_n_chunks" in child.columns
    child_n = (
        F.col("blob_n_chunks")
        if has_child_chunks
        else F.lit(1).cast("long")
    )
    grouped = child.groupBy(
        "conv_id", F.date_trunc(trunc, "bucket_ts").alias("bucket_ts")
    ).agg(
        F.sum("n_turns").alias("n_turns"),
        F.sum("n_gapfilled").alias("n_gapfilled"),
        F.sum("sum_text_len").alias("sum_text_len"),
        F.max("peak_text_len").alias("peak_text_len"),
        F.min("first_turn_idx").alias("first_turn_idx"),
        F.max("last_turn_idx").alias("last_turn_idx"),
        F.min("first_ts").alias("first_ts"),
        F.max("last_ts").alias("last_ts"),
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("bucket_ts").alias("b"),
                    F.col("text_hash").alias("h"),
                    F.col("ts_blob").alias("tb"),
                    F.col("val_blob").alias("vb"),
                    child_n.alias("n"),
                    # leaf children: the container header's per-chunk
                    # length entries, precomputed HERE — a plain codegen
                    # projection per input row, map-side before the
                    # exchange — because the same le4() inside an
                    # interpreted post-aggregation HOF costs ~10µs per
                    # element (measured: it alone matched the whole
                    # Python-boundary cost it was meant to remove).
                    # +8 bytes/child through the shuffle (§2.3: shuffle
                    # metadata, not payloads).  Container children copy
                    # their length tables by byte-slicing instead.
                    # Appended LAST so array_sort ordering is untouched
                    # (and both are functions of tb/vb anyway).
                    *(
                        []
                        if has_child_chunks
                        else [
                            _le4(F.length("ts_blob")).alias("ltb"),
                            _le4(F.length("val_blob")).alias("lvb"),
                        ]
                    ),
                )
            )
        ).alias("children"),
        *(
            [F.sum("blob_chunks_dropped").alias("_child_dropped")]
            if "blob_chunks_dropped" in child.columns
            else []
        ),
    )
    children = F.col("children")
    leaf_sum = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("long"), lambda acc, c: acc + c["n"]
    )
    if max_blob_bytes is not None:
        # keep chunks in bucket order while the cumulative (tb+vb) size
        # fits the budget; per-group children count is bounded (≤60/24),
        # so the prefix-sum-via-slice is cheap
        lens = F.transform(children, lambda c: F.length(c["tb"]) + F.length(c["vb"]))
        kept = F.filter(
            children,
            lambda c, i: F.aggregate(
                F.slice(lens, F.lit(1), i + 1),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            <= F.lit(max_blob_bytes),
        )
        own_dropped = leaf_sum(children) - leaf_sum(kept)  # leaf units
        blob_src = kept
    else:
        own_dropped = None
        blob_src = children
    # no-silent-caps, transitively: a capped child tier's drop counter
    # (already leaf-unit) survives further cascading
    has_child_drops = "blob_chunks_dropped" in child.columns
    if own_dropped is not None or has_child_drops:
        parts = []
        if own_dropped is not None:
            parts.append(own_dropped)
        if has_child_drops:
            parts.append(
                F.coalesce(F.col("_child_dropped"), F.lit(0).cast("long"))
            )
        total = parts[0]
        for x in parts[1:]:
            total = total + x
        dropped = [total.alias("blob_chunks_dropped")]
    else:
        dropped = []
    return grouped.select(
        "conv_id",
        "bucket_ts",
        "n_turns",
        "n_gapfilled",
        "sum_text_len",
        "peak_text_len",
        (F.col("sum_text_len") / F.col("n_turns")).alias("mean_text_len"),
        "first_turn_idx",
        "last_turn_idx",
        "first_ts",
        "last_ts",
        F.when(
            F.col("n_turns") > 1,
            (F.unix_micros("last_ts") - F.unix_micros("first_ts"))
            / 1e6
            / (F.col("n_turns") - 1),
        ).alias("mean_gap_s"),
        hfn(
            F.concat_ws(
                _SEP, F.transform("children", lambda c: c["h"].cast("string"))
            )
        ).alias("text_hash"),
        # r9: JVM container build (see _concat_blobs_expr) — a child
        # with blob_n_chunks is a cascade output, i.e. every blob is a
        # container to flatten; a 1m child's blobs are all leaves
        _concat_blobs_expr(blob_src, "tb", container=has_child_chunks).alias(
            "ts_blob"
        ),
        _concat_blobs_expr(blob_src, "vb", container=has_child_chunks).alias(
            "val_blob"
        ),
        leaf_sum(blob_src).alias("blob_n_chunks"),
        *dropped,
    )


def full_cascade(
    raw: DataFrame, hash_name: str = "xxhash64"
) -> dict[str, DataFrame]:
    """raw → {'1m': df, '1h': df, '1d': df}. Each tier derives from the
    previous one (never re-reads raw) — the continuous-aggregate chain."""
    t1m = rollup_raw_to_1m(raw, hash_name)
    t1h = rollup_cascade(t1m, "1h", hash_name)
    t1d = rollup_cascade(t1h, "1d", hash_name)
    return {"1m": t1m, "1h": t1h, "1d": t1d}
