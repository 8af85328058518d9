"""Structured Streaming sketch aggregation.

The reference is one-pass/streaming algorithmically (bounded memory, single
scan, mergeable summaries) but has no streaming runtime (SURVEY.md §2.2);
here the same kernels drop into `applyInPandasWithState`: the sketch state
IS the stream state — fixed-size per group, mergeable across triggers,
resumable via Spark's checkpointLocation.

Per trigger and group: deserialize prior state -> vectorized update with the
micro-batch's rows -> emit finalized row -> store new state. Late data needs
no special handling (updates commute).

State retention: by default state lives for the lifetime of the query (one
blob per ever-seen group — bounded only if the group-key cardinality is).
Pass ``state_ttl_ms`` to expire idle groups via ProcessingTimeTimeout: a
group with no new rows for that long is removed from the state store (its
sketch restarts from empty if the key reappears).

Gotcha: with a TTL set, Spark schedules micro-batches continuously to honor
processing-time timeouts, so ``query.processAllAvailable()`` never settles —
observe via the memory sink / ``lastProgress`` (state row counts) instead.
"""

from __future__ import annotations

from typing import Iterable, Iterator, Sequence, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..core.uddsketch import UDDSketch
from ..spark.agg import _kernel_input

__all__ = [
    "udds_state_update",
    "streaming_udds_quantiles",
    "streaming_sketch",
    "streaming_sketch_windowed",
    "streaming_dedup",
]

_STATE_SCHEMA = StructType([StructField("blob", BinaryType(), True)])
_NULL_FLAG = "_value_is_null"


def _group_fields(stream_df: DataFrame, group_cols: Sequence[str]):
    """Take group-column types from the input schema — hardcoding StringType
    breaks numeric/timestamp group keys at the first trigger."""
    by_name = {f.name: f for f in stream_df.schema.fields}
    return [by_name[c] for c in group_cols]


def _value_input(stream_df: DataFrame, value_col: str):
    """``(stream_df, arrow_type)`` of the value column. pandas would turn an
    integer column holding a NULL into float64, so such a column is made
    NULL-free on the JVM side and its NULLs ride in ``_NULL_FLAG``."""
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import to_arrow_type

    dtype = stream_df.schema[value_col].dataType
    arrow_type = to_arrow_type(dtype)
    if pa.types.is_integer(arrow_type):
        v = F.col(value_col)
        stream_df = stream_df.withColumn(_NULL_FLAG, v.isNull()).withColumn(
            value_col, F.coalesce(v, F.lit(0).cast(dtype)))
    return stream_df, arrow_type


def _fold(state: GroupState, pdfs, factory, from_bytes, value_col, arrow_type):
    """The group's stored sketch (or a fresh one) updated with this
    trigger's rows through ``agg._kernel_input``, the rule every fill
    surface shares, and stored back."""
    sk = from_bytes(bytes(state.get[0])) if state.exists else factory()
    for pdf in pdfs:
        col = pa.Array.from_pandas(
            pdf[value_col], type=arrow_type,
            mask=(pdf[_NULL_FLAG].to_numpy(dtype=bool)
                  if pa.types.is_integer(arrow_type) else None))
        vals, valid = _kernel_input(col, sk)
        sk.update(vals if valid is None else vals[valid])
    state.update((sk.to_bytes(),))
    return sk


def _make_update(value_col, arrow_type, factory, from_bytes, finalize, out_columns,
                 state_ttl_ms):
    def update(key: Tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state_ttl_ms is not None and state.hasTimedOut:
            state.remove()  # idle group: evict the sketch blob
            return
        sk = _fold(state, pdfs, factory, from_bytes, value_col, arrow_type)
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        yield pd.DataFrame([tuple(key) + tuple(finalize(sk))], columns=out_columns)

    return update


def streaming_sketch(
    stream_df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    factory,
    from_bytes,
    finalize,
    finalize_schema: StructType,
    state_ttl_ms: int | None = None,
):
    """Generic stateful streaming aggregation for ANY mergeable kernel.

    ``finalize(sketch) -> tuple`` produces the per-trigger output row (must
    match ``finalize_schema``, which excludes the group columns — they are
    prepended automatically). State = the kernel blob; HLL distinct counts,
    CMS frequencies, t-digest quantiles etc. all drop in unchanged.
    """
    group_cols = list(group_cols)
    out_schema = StructType(
        _group_fields(stream_df, group_cols) + list(finalize_schema.fields)
    )
    stream_df, arrow_type = _value_input(stream_df, value_col)
    update = _make_update(
        value_col, arrow_type, factory, from_bytes, finalize,
        [f.name for f in out_schema.fields], state_ttl_ms,
    )
    return stream_df.groupBy(*group_cols).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if state_ttl_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def streaming_sketch_windowed(
    stream_df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    factory,
    from_bytes,
    finalize,
    finalize_schema: StructType,
    ts_col: str = "ts",
    window_seconds: int = 600,
    watermark_seconds: int = 600,
    slide_seconds: int | None = None,
):
    """Event-time windowed sketch aggregation with watermark-driven state
    eviction.

    Each (event-time window, group) keeps one sketch blob. Late rows are
    routed by their EVENT time — a row arriving micro-batches later still
    merges into its own window's sketch (updates commute, so arrival order
    is irrelevant). Once the watermark passes window_end + watermark_seconds
    the window's EventTimeTimeout fires: the final row is emitted with
    final=true and the state is dropped, so total state is bounded by the
    number of in-flight windows x groups, not by stream length.

    ``slide_seconds`` < window_seconds makes the windows SLIDING: Catalyst's
    TimeWindow expands each row to every containing window (one Expand, no
    UDF), so a row updates window/slide overlapping sketches and each
    window still finalizes independently at its own horizon. Default (None)
    is tumbling.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import BooleanType, TimestampType

    group_cols = list(group_cols)
    if slide_seconds is not None and window_seconds % slide_seconds:
        raise ValueError("window_seconds must be a multiple of slide_seconds")
    win = F.window(
        F.col(ts_col),
        f"{window_seconds} seconds",
        f"{slide_seconds or window_seconds} seconds",
    )
    src, arrow_type = _value_input(
        stream_df.withWatermark(ts_col, f"{watermark_seconds} seconds")
        .withColumn("window_start", win["start"]),
        value_col,
    )
    out_schema = StructType(
        [StructField("window_start", TimestampType(), True)]
        + _group_fields(stream_df, group_cols)
        + list(finalize_schema.fields)
        + [StructField("final", BooleanType(), False)]
    )
    out_columns = [f.name for f in out_schema.fields]
    horizon_ms = (window_seconds + watermark_seconds) * 1000
    # applyInPandasWithState hands the window_start key over as a NAIVE
    # timestamp in the SESSION timezone; treating it as UTC would offset
    # every timeout by the tz (either crashing setTimeoutTimestamp against
    # the watermark or evicting windows hours early). Capture the session tz
    # at build time and localize before converting to epoch ms.
    session_tz = stream_df.sparkSession.conf.get("spark.sql.session.timeZone", "UTC")
    try:
        pd.Timestamp("2020-01-01").tz_localize(session_tz)
    except Exception as exc:  # fail at BUILD time, not per micro-batch
        raise ValueError(
            f"session timezone {session_tz!r} is not resolvable by pandas "
            "(offset forms like 'GMT+8' are accepted by Spark but not by "
            "tz_localize); set spark.sql.session.timeZone to an IANA zone "
            "such as 'UTC' for event-time windowed sketches"
        ) from exc

    def _epoch_ms(naive_ts) -> int:
        ts = pd.Timestamp(naive_ts)
        if ts.tzinfo is None:
            ts = ts.tz_localize(session_tz, ambiguous=True, nonexistent="shift_forward")
        return int(ts.value // 1_000_000)

    def update(key: Tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            # watermark passed the window's lateness horizon: emit the final
            # row and drop the blob
            (blob,) = state.get
            sk = from_bytes(bytes(blob))
            state.remove()
            yield pd.DataFrame(
                [tuple(key) + tuple(finalize(sk)) + (True,)], columns=out_columns
            )
            return
        sk = _fold(state, pdfs, factory, from_bytes, value_col, arrow_type)
        window_start = key[0]  # naive session-tz Timestamp of the window
        state.setTimeoutTimestamp(_epoch_ms(window_start) + horizon_ms)
        yield pd.DataFrame(
            [tuple(key) + tuple(finalize(sk)) + (False,)], columns=out_columns
        )

    return src.groupBy("window_start", *group_cols).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def streaming_dedup(
    stream_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
    mode: str = "exact",
    bloom_bits: int = 1 << 22,
    bloom_hashes: int = 7,
):
    """Streaming exact-content dedup: emit only the FIRST occurrence of each
    document content across the whole stream.

    Rows are bucketed by a hash prefix of their content digest (n_buckets
    state groups — sizes the state shards and the shuffle), and each
    bucket's state tracks the digests seen so far:

    * mode="exact": the state is the sorted set of 16-byte md5 digests —
      exact, state grows with distinct docs per bucket (fine up to ~10^7
      distincts per bucket; shard wider for more).
    * mode="bloom": a fixed-size Bloom filter per bucket — bounded state
      forever; false positives DROP a few true uniques (rate = the filter's
      FPR at its fill level, pick bloom_bits for the expected distincts).

    Restart-safe: the digest state lives in the state store, so a resumed
    query (same checkpointLocation) never re-emits previously seen content.
    """
    from pyspark.sql import functions as F

    from ..core.bloom import BloomFilter

    src = stream_df.withColumn(
        "_digest", F.unhex(F.md5(F.col(text_col)))
    ).withColumn("_bucket", F.pmod(F.xxhash64(F.col("_digest")), F.lit(n_buckets)))
    out_schema = StructType(
        [
            src.schema[id_col],
            src.schema[text_col],
            StructField("_bucket", LongType(), False),
        ]
    )
    out_columns = [f.name for f in out_schema.fields]

    def update(key: Tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if mode == "bloom":
            if state.exists:
                bf = BloomFilter.from_bytes(bytes(state.get[0]))
            else:
                bf = BloomFilter(num_bits=bloom_bits, num_hashes=bloom_hashes)
            for pdf in pdfs:
                # first row per digest within the batch, then one batch
                # membership probe + one batch insert (no per-row Python)
                sub = pdf.drop_duplicates(subset=["_digest"], keep="first")
                digs = np.array([bytes(d) for d in sub["_digest"]], dtype=object)
                if digs.size == 0:
                    continue
                fresh = ~bf.contains(digs)
                bf.update(digs[fresh])
                out = sub.loc[fresh]
                if len(out):
                    yield out[out_columns]
            state.update((bf.to_bytes(),))
            return
        seen: set = set()
        if state.exists:
            blob = bytes(state.get[0])
            seen = {blob[i : i + 16] for i in range(0, len(blob), 16)}
        for pdf in pdfs:
            sub = pdf.drop_duplicates(subset=["_digest"], keep="first")
            digs = sub["_digest"].map(bytes)
            fresh = ~digs.isin(seen).to_numpy()
            seen.update(digs[fresh])
            out = sub.loc[fresh]
            if len(out):
                yield out[out_columns]
        state.update((b"".join(sorted(seen)),))

    return src.groupBy("_bucket").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def udds_state_update(
    group_cols: Sequence[str],
    value_col: str,
    qs: Sequence[float],
    alpha: float = 0.01,
    m: int = 200,
    state_ttl_ms: int | None = None,
):
    """Build the UDDSketch applyInPandasWithState update function (testable
    standalone; the streaming wiring lives in streaming_sketch). The value
    column is read as DOUBLE, as UDD reads any numeric column."""
    qs = [float(q) for q in qs]
    cols = (
        list(group_cols)
        + [f"p{str(q).replace('.', '_')}" for q in qs]
        + ["n", "buckets", "collapses"]
    )
    return _make_update(
        value_col,
        pa.float64(),
        lambda: UDDSketch(initial_alpha=alpha, m=m),
        UDDSketch.from_bytes,
        lambda sk: tuple(float(sk.quantile(q)) for q in qs)
        + (sk.count, sk.num_buckets, sk.num_collapses),
        cols,
        state_ttl_ms,
    )


def streaming_udds_quantiles(
    stream_df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    qs: Iterable[float] = (0.5, 0.9, 0.99),
    alpha: float = 0.01,
    m: int = 200,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Running per-group quantiles over a stream (update output mode).

    State per group is one sketch blob (~16*m bytes) — bounded regardless of
    stream length; Spark checkpoints it, so restarts resume exactly. Total
    state is one blob per live group; use ``state_ttl_ms`` when the group-key
    cardinality is unbounded.
    """
    qs = list(qs)
    finalize_schema = StructType(
        [StructField(f"p{str(q).replace('.', '_')}", DoubleType(), True) for q in qs]
        + [
            StructField("n", LongType(), False),
            StructField("buckets", IntegerType(), False),
            StructField("collapses", IntegerType(), False),
        ]
    )
    return streaming_sketch(
        stream_df,
        value_col,
        group_cols,
        factory=lambda: UDDSketch(initial_alpha=alpha, m=m),
        from_bytes=UDDSketch.from_bytes,
        finalize=lambda sk: tuple(float(sk.quantile(q)) for q in qs)
        + (sk.count, sk.num_buckets, sk.num_collapses),
        finalize_schema=finalize_schema,
        state_ttl_ms=state_ttl_ms,
    )
