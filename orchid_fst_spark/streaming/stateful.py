"""Custom stateful streaming operator: incremental fuzzy matching with
``applyInPandasWithState``.

The reference's incremental build (sorted keys stream in, frozen nodes
accumulate — fst.h:16-22) becomes, in streaming terms, *keyed state
holding the dictionary seen so far* that every arriving key is fuzzily
matched against.  ``foreachBatch`` incremental ER (streaming/ingest.py)
re-reads the accumulated store per batch; this operator instead keeps
the store INSIDE the engine's managed state — no external table, state
colocated with its blocking group, checkpointed and restored by
Structured Streaming itself.

Design (same discipline as the batch blocking paths):

- each arriving key explodes into its deletion signatures
  (dictionary.variant_sigs — pure Catalyst, streaming-safe): two keys
  within Levenshtein distance k <= 2 always share a signature, so
  grouping by ``sig`` gives COMPLETE candidate generation;
- ``applyInPandasWithState`` groups by signature; per-group state is
  the (bounded) list of keys that produced this signature; each new key
  is exact-DP verified against the remembered ones, emitting
  (key_a, key_b, dist) matches, then appended to state;
- a pair sharing several signatures is emitted by several groups —
  consumers ``distinct()`` (same contract as the batch candidate
  generators);
- ``state_cap`` bounds per-signature state exactly like ``sig_cap``
  bounds batch blocks: once a group holds ``state_cap`` keys, further
  arrivals in that group neither match nor accumulate (bounding BOTH
  state width and per-key DP work) — observable through emitted
  ``capped`` marker rows carrying the group's signature, never silent.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.distance import levenshtein, osa
from ..operators.dictionary import variant_sigs

MATCH_SCHEMA = StructType(
    [
        StructField("key_a", StringType()),
        StructField("key_b", StringType()),
        StructField("dist", LongType()),
        StructField("capped", BooleanType()),
        StructField("sig", LongType()),  # which group hit the cap (marker rows)
    ]
)

STATE_SCHEMA = StructType([StructField("ks", ArrayType(StringType()))])


def streaming_fuzzy_match(
    keys: DataFrame,
    key_col: str = "key",
    k: int = 2,
    damerau: bool = False,
    max_len: int = 64,
    scheme: str = "window",
    window: int = 8,
    state_cap: int = 500,
    state_ttl_minutes: int | None = None,
) -> DataFrame:
    """Match every arriving key against all previously seen keys within
    edit distance ``k``, using engine-managed keyed state.

    Returns a streaming frame of (key_a, key_b, dist, capped, sig) rows —
    key_a < key_b, duplicates possible across signature groups (consumer
    dedups; the per-pair dist is deterministic).  ``capped`` marker rows
    (null keys) report WHICH signature group hit ``state_cap`` via the
    ``sig`` column.

    Works only on streaming inputs (applyInPandasWithState is a
    streaming-only physical operator); the batch twin with identical
    pair semantics is ``operators.dictionary.fuzzy_self_pairs``.

    ``state_ttl_minutes`` bounds state LIFETIME the way ``state_cap``
    bounds its width: a signature group idle longer than the TTL is
    dropped by a processing-time timeout (keys seen before it no longer
    match — crawl-recency semantics, like the watermark in
    stream_dedup).  None keeps state forever."""
    dist_fn = osa if damerau else levenshtein
    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_minutes
        else GroupStateTimeout.NoTimeout
    )

    src = keys.select(F.col(key_col).alias("key")).filter(F.col("key").isNotNull())
    sigs = variant_sigs(src, "key", k, max_len, scheme=scheme, window=window).select(
        "sig", "key"
    )

    def fn(
        group_key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        seen: list = list(state.get[0]) if state.exists else []
        ka, kb, ds, capped = [], [], [], []
        hit_cap = False
        for pdf in pdfs:
            for s in pdf["key"].tolist():
                if s in seen:
                    continue
                if len(seen) >= state_cap:
                    # capped group: stop matching AND stop accumulating —
                    # a degenerate signature must not keep paying
                    # O(state_cap) DP per arriving key (the whole point
                    # of the cap); the loss is reported via the marker
                    hit_cap = True
                    continue
                for t in seen:
                    d = dist_fn(s, t)
                    if d <= k:
                        ka.append(min(s, t))
                        kb.append(max(s, t))
                        ds.append(d)
                        capped.append(False)
                seen.append(s)
        if hit_cap:
            ka.append(None)
            kb.append(None)
            ds.append(None)
            capped.append(True)
        state.update((seen,))
        if state_ttl_minutes:
            state.setTimeoutDuration(state_ttl_minutes * 60 * 1000)
        if ka:
            sig = int(group_key[0])
            yield pd.DataFrame(
                {
                    "key_a": ka,
                    "key_b": kb,
                    "dist": ds,
                    "capped": capped,
                    # attribute marker rows to their signature group
                    "sig": [sig if c else None for c in capped],
                }
            )

    return sigs.groupBy("sig").applyInPandasWithState(
        fn,
        outputStructType=MATCH_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout_conf,
    )
