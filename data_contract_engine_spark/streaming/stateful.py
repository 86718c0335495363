"""Custom stateful streaming operator: per-conversation turn tracking.

The transcripts workload is conversational — turns of one `conv_id`
arrive over time, possibly out of order. This operator maintains per-key
state across micro-batches with ``applyInPandasWithState`` (Arrow-batched;
the only Python is over the grouped batch, never per row) and emits a
progress/integrity row per conversation per batch:

    (conv_id, turns_seen, max_turn_idx, expected, missing, dup_turns,
     complete)

* ``missing``  = gaps in [0, max_turn_idx] not yet seen → late/lost turns;
* ``dup_turns`` = re-delivered (conv_id, turn_idx) pairs — the streaming
  analog of the uniqueness rule;
* state is a compact bitmap-ish sorted tuple of seen turn indices capped
  at ``max_tracked`` (hot conversations degrade to count-only tracking so
  state stays bounded — the skew guard for state stores);
* state never expires: bounded state waits for watermark-driven expiry
  (``EventTimeTimeout``), which neither operator implements yet.

This is the (c)-tier custom operator path of the build rules: semantics
(cross-batch conversation integrity) that no built-in stateless/stateful
aggregate expresses directly.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "conv_id string, turns_seen long, max_turn_idx long, expected long, "
    "missing long, dup_turns long, complete boolean"
)
STATE_SCHEMA = "seen array<int>, dup_turns long, overflow_count long"

MAX_TRACKED = 4096


def _track(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (conv_id,) = key
    if state.exists:
        seen_list, dups, overflow = state.get
        seen = set(seen_list)
    else:
        seen, dups, overflow = set(), 0, 0

    for pdf in pdfs:
        for t in pdf["turn_idx"]:
            t = int(t)
            if overflow:
                overflow += 1
                continue
            if t in seen:
                dups += 1
            else:
                seen.add(t)
                if len(seen) > MAX_TRACKED:
                    # hot-conversation guard: stop tracking exact indices
                    overflow = 1

    state.update((sorted(seen), dups, overflow))
    if overflow:
        turns_seen = len(seen) + overflow - 1
        max_idx = max(seen) if seen else -1
        missing = -1  # unknown once overflowed
        complete = False
    else:
        turns_seen = len(seen)
        max_idx = max(seen) if seen else -1
        expected = max_idx + 1
        missing = expected - len([s for s in seen if 0 <= s <= max_idx])
        complete = missing == 0 and dups == 0
    yield pd.DataFrame(
        {
            "conv_id": [conv_id],
            "turns_seen": [turns_seen],
            "max_turn_idx": [max_idx],
            "expected": [max_idx + 1],
            "missing": [missing],
            "dup_turns": [dups],
            "complete": [complete],
        }
    )


NEAR_DUP_OUTPUT_SCHEMA = (
    "band int, bucket long, rep_id long, doc_id long"
)
NEAR_DUP_STATE_SCHEMA = "rep_id long"


def _near_dup_track(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    band, bucket = key
    rep = state.get[0] if state.exists else None
    out_rep, out_doc = [], []
    for pdf in pdfs:
        # deterministic within a micro-batch: process min doc_id first so
        # replays with the same batch boundaries emit identical pairs
        for d in sorted(int(x) for x in pdf["doc_id"]):
            if rep is None:
                rep = d
            elif d != rep:
                out_rep.append(rep)
                out_doc.append(d)
    state.update((rep,))
    if out_doc:
        yield pd.DataFrame(
            {
                "band": [int(band)] * len(out_doc),
                "bucket": [int(bucket)] * len(out_doc),
                "rep_id": out_rep,
                "doc_id": out_doc,
            }
        )


def stream_near_dup_candidates(
    stream_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Streaming MinHash-LSH near-duplicate CANDIDATE pairs — the
    streaming twin of :func:`~..operators.dedup.lsh_candidates`.

    Each doc's band buckets come from the per-row, shuffle-free
    :func:`~..operators.dedup.minhash_band_buckets` (bit-identical to
    the batch banding); state per (band, bucket) is ONE representative
    doc id, so a hot bucket stores one row no matter how much traffic
    hits it — the state-store analog of the batch path's bounded bucket
    groups. Every arriving doc whose bucket already has a representative
    emits (band, bucket, rep_id, doc_id); a doc appearing in ``bands``
    buckets may emit up to ``bands`` rows (distinct downstream, exactly
    like the batch candidate stage). Docs shorter than ``k`` words are
    dropped (no shingles — same as batch).

    Semantics note: this is CANDIDATE generation (banding recall,
    precision unverified) — at 100 TB the pair stream feeds the batch
    exact-Jaccard verifier over the paired docs only, mirroring the
    batch pipeline's verify stage. Bucket state never expires, so the
    number of state rows grows with the distinct (band, bucket) keys
    seen.
    """
    from pyspark.sql import functions as F

    from ..operators.dedup import minhash_band_buckets

    src = (
        stream_df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                minhash_band_buckets(
                    F.col(text_col), k=k, num_hashes=num_hashes, bands=bands
                )
            ).alias("bb"),
        )
        .select("doc_id", F.col("bb.band").alias("band"),
                F.col("bb.bucket").alias("bucket"))
    )
    return src.groupBy("band", "bucket").applyInPandasWithState(
        _near_dup_track,
        outputStructType=NEAR_DUP_OUTPUT_SCHEMA,
        stateStructType=NEAR_DUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def conversation_progress(
    stream_df: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
) -> DataFrame:
    """Streaming per-conversation integrity tracking across micro-batches."""
    from pyspark.sql import functions as F

    src = stream_df.select(
        F.col(conv_col).alias("conv_id"), F.col(turn_col).alias("turn_idx")
    )
    return src.groupBy("conv_id").applyInPandasWithState(
        _track,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
