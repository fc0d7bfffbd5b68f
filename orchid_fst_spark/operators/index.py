"""Persistable dictionary index: build once, query many.

The reference's core usage shape is build-once/serve-many: fst_cmd
builds an FST file, then answers any number of point/fuzzy queries off
the mmap'd artifact with zero per-query construction (fst_cmd.cpp:
174-177, 220-223; zero-deserialization node reads fst.cpp:221-284).
The engine's other fuzzy paths are scan- or join-shaped (a live sorted
scan is fine when a query IS a table scan); this module is the
repeated-point-query analog:

- ``build_index``: range-repartition the dictionary by key into
  n_shards, build one suffix-minimized flat DAG per shard (the same
  FreezeNode minimization as the reference, ``automata.trie.minimize``),
  pickle its arrays, and write one parquet row per shard:
  (shard, lo_key, hi_key, n_keys, blob_md5, blob).
  The artifact is immutable; lo_key/hi_key land in parquet column
  min/max stats, so point/prefix/range/pinned-prefix queries prune
  shards at the scan — the FST bound-seek (fst.cpp:428-468) re-expressed
  as partition pruning.

- query operators (``index_match_lookup`` / ``index_prefix_lookup`` /
  ``index_range_lookup`` / ``index_fuzzy_lookup`` /
  ``index_fuzzy_lookup_many``): a pushed-down shard filter + one
  mapInPandas over the surviving shard rows (``_query``).  Each task
  unpickles its shard's DAG through a process-global byte-budgeted LRU
  (util.caches.LRUCache — the reference's C1 cache doing its original
  job: bounding executor-side index residency), so with Spark's default
  python-worker reuse, repeated queries against the same artifact skip
  the dictionary scan, the sort AND the DAG build; only the
  ``automata.trie`` walk (``dag_enum`` / ``dag_dfa``) runs.

At cluster scale the blob column ships shard-local (one task reads one
row-group); nothing is collected to the driver and no shard is ever
deserialized by a task that the key-range filter pruned.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..automata.lev_dfa import compile_dfa
from ..automata.trie import FlatDag, Trie, dag_dfa, dag_enum, minimize
from ..util.caches import LRUCache

INDEX_SCHEMA = StructType(
    [
        StructField("shard", IntegerType()),
        StructField("lo_key", StringType()),
        StructField("hi_key", StringType()),
        StructField("n_keys", LongType()),
        StructField("blob_md5", StringType()),
        StructField("blob", BinaryType()),
    ]
)

# process-global decoded-shard cache (lives in each python worker; worker
# reuse keeps it warm across queries).  Budget ~256 MB of *blob* bytes —
# decoded DAGs are larger, but blob size is the stable, observable proxy.
_TRIE_CACHE = LRUCache(256 * 1024 * 1024)


_KEY_VALUE = StructType(
    [StructField("key", StringType()), StructField("value", LongType())]
)


def _encode_blob(root: int, flat: FlatDag, has_value: bool) -> bytes:
    """The persisted shard format: a zlib'd pickle tagged 'flat1'."""
    return zlib.compress(
        pickle.dumps(
            (
                "flat1",
                root,
                has_value,
                flat.ptr,
                flat.chars,
                flat.dst,
                flat.final,
                flat.vals,
                flat.vnone,
            ),
            protocol=4,
        ),
        level=6,
    )


def _decode_blob(blob: bytes, shard) -> tuple:
    """blob -> (root, FlatDag, has_value); any other format is refused."""
    obj = pickle.loads(zlib.decompress(blob))
    if not (isinstance(obj, tuple) and obj and obj[0] == "flat1"):
        raise ValueError(
            f"index shard {shard}: unknown blob format (not 'flat1'); "
            "rebuild the index with build_index"
        )
    _tag, root, has_value, ptr, chars, dst, final, vals, vnone = obj
    return root, FlatDag(ptr, chars, dst, final, vals, vnone), has_value


def _shard_dag(shard: int, blob_md5: str, read_blob) -> tuple:
    """(root, FlatDag, has_value) for one shard via the decoded-DAG LRU;
    ``read_blob()`` supplies the blob bytes only on a miss."""
    hit = _TRIE_CACHE.get(blob_md5)
    if hit is not None:
        return hit
    blob = read_blob()
    obj = _decode_blob(blob, shard)
    _TRIE_CACHE.put(blob_md5, obj, cost=len(blob))
    return obj


def _read_shard_blob(path: str, shard: int) -> bytes:
    """Cold-path shard read: queries ship only (shard, blob_md5) rows
    through Arrow, and a worker whose LRU misses reads the shard's blob
    straight from the parquet artifact (the 'mmap the FST file, pay I/O
    once' read path, fst.cpp:221-284).  On a cluster the artifact sits
    on shared storage; every executor reads only the shards its tasks
    own."""
    import pyarrow.parquet as pq

    # the artifact is partitioned by shard (build_index partitionBy), so
    # a miss opens exactly ONE small directory/footer — not every part
    # file of the artifact
    try:
        tbl = pq.read_table(f"{path}/shard={shard}", columns=["blob"])
    except (OSError, FileNotFoundError) as exc:  # pragma: no cover
        raise RuntimeError(
            f"worker-side blob read failed for {path!r} (shard {shard}): "
            "the artifact path must be absolute local/NFS storage every "
            "executor can open with pyarrow; Spark-only URI schemes are "
            "not supported on the warm read path"
        ) from exc
    return tbl.column("blob")[0].as_py()


def _normalize_artifact_path(path: str) -> str:
    """Absolute-ify local artifact paths: executors resolve relative
    paths against their own cwd, so a relative path that works in
    local[*] silently breaks on a cluster.  URI-scheme paths (hdfs://,
    s3a://) pass through — the JVM scan handles them, and the
    worker-side miss path raises a clear error if pyarrow cannot."""
    if "://" in path:
        return path
    return os.path.abspath(path)


def build_index(
    dict_df: DataFrame,
    path: str,
    n_shards: int = 32,
    cache_budget_bytes: int | None = None,
) -> None:
    """Write the sharded DAG artifact for a (key[, value]) dictionary.
    ``cache_budget_bytes`` bounds the per-shard minimization node map
    (the reference's -c/--cache-size build knob, fst_cmd.cpp:56: smaller
    budget -> bounded build memory, approximately-minimal DAG)."""
    path = _normalize_artifact_path(path)
    has_value = "value" in dict_df.columns
    cols = ["key"] + (["value"] if has_value else [])
    srt = (
        dict_df.select(*cols)
        .repartitionByRange(n_shards, "key")
        .sortWithinPartitions("key")
        .withColumn("_pid", F.spark_partition_id())
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        keys: list = []
        values: list = []
        pid = None
        for pdf in batches:
            if pdf.empty:
                continue
            pid = int(pdf["_pid"].iloc[0])
            keys.extend(pdf["key"].tolist())
            if has_value:
                values.extend(pdf["value"].tolist())
        if pid is None:
            return
        trie = Trie.from_sorted(keys, values if has_value else None)
        root, flat, _n = minimize(trie, cache_budget_bytes)
        blob = _encode_blob(root, flat, has_value)
        yield pd.DataFrame(
            {
                "shard": [pid],
                "lo_key": [keys[0]],
                "hi_key": [keys[-1]],
                "n_keys": [len(keys)],
                "blob_md5": [hashlib.md5(blob).hexdigest()],
                "blob": [blob],
            }
        )

    # shard-partitioned layout: shard=N/ holds that shard's single blob
    # row, so the worker-side miss path reads one footer, and the
    # metadata scan (load_index) still prunes on lo_key/hi_key stats
    srt.mapInPandas(gen, schema=INDEX_SCHEMA).write.mode("overwrite").partitionBy(
        "shard"
    ).parquet(path)


def load_index(spark: SparkSession, path: str) -> DataFrame:
    """Shard *metadata* frame (no blob column): queries move only a few
    bytes per shard through the JVM->Python Arrow channel; blobs are
    read worker-side from the artifact on cache miss (the ~1 MB/query
    re-ship of blob bytes was the dominant warm-query cost — 0.52 s ->
    0.27 s per point query after this split)."""
    path = _normalize_artifact_path(path)
    return spark.read.parquet(path).drop("blob").withColumn(
        "index_path", F.lit(path)
    )


def _query(
    index_df: DataFrame, shard_filter, walker, schema: StructType = _KEY_VALUE
) -> DataFrame:
    """Pushed-down shard pruning + one mapInPandas running ``walker``
    ((root, FlatDag) -> rows matching ``schema``) per surviving shard."""
    pruned = index_df.filter(shard_filter) if shard_filter is not None else index_df
    names = schema.fieldNames()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for shard, md5, path in zip(
                pdf["shard"].tolist(),
                pdf["blob_md5"].tolist(),
                pdf["index_path"].tolist(),
            ):
                shard = int(shard)
                root, flat, _hv = _shard_dag(
                    shard, md5, lambda: _read_shard_blob(path, shard)
                )
                yield pd.DataFrame(walker(root, flat), columns=names)

    return pruned.select("shard", "blob_md5", "index_path").mapInPandas(
        gen, schema=schema
    )


def index_match_lookup(index_df: DataFrame, query: str) -> DataFrame:
    sf = (F.col("lo_key") <= query) & (F.col("hi_key") >= query)
    return _query(
        index_df, sf, lambda r, f: dag_enum(r, f, query, query, True, True)
    )


def _prefix_shard_filter(prefix: str):
    """Shards possibly holding keys with ``prefix``: the shard must
    start at-or-before the prefix block ends (lo_key <= prefix, or
    lo_key itself inside the block — an exact ``startswith``, which
    Catalyst pushes as a StringStartsWith scan filter) and end at-or-
    after the block starts.  No synthetic ``prefix + U+10FFFF`` upper
    bound: that string sorts BELOW ``prefix + U+10FFFF + more``, so it
    would wrongly prune a shard starting with such a key."""
    return (
        (F.col("lo_key") <= prefix) | F.col("lo_key").startswith(prefix)
    ) & (F.col("hi_key") >= prefix)


def index_prefix_lookup(index_df: DataFrame, prefix: str) -> DataFrame:
    return _query(
        index_df,
        _prefix_shard_filter(prefix),
        lambda r, f: dag_enum(r, f, prefix, None, True, True, require_prefix=prefix),
    ).orderBy("key")


def index_range_lookup(
    index_df: DataFrame,
    lo: str | None = None,
    hi: str | None = None,
    lo_inclusive: bool = True,
    hi_inclusive: bool = True,
) -> DataFrame:
    sf = None
    if lo is not None:
        sf = F.col("hi_key") >= lo
    if hi is not None:
        c = F.col("lo_key") <= hi
        sf = c if sf is None else (sf & c)
    return _query(
        index_df,
        sf,
        lambda r, f: dag_enum(r, f, lo, hi, lo_inclusive, hi_inclusive),
    ).orderBy("key")


def index_fuzzy_lookup_many(
    index_df: DataFrame,
    queries: list,
    k: int,
    damerau: bool = False,
) -> DataFrame:
    """Batch of fuzzy lookups off the persisted artifact in ONE job:
    each shard DAG is decoded once (LRU) and walked once per query.
    Returns (query, key, value) rows — combined with the build-once
    artifact this amortizes BOTH per-query job scheduling and per-query
    index construction."""
    dfas = [(q, compile_dfa(q, k, damerau)) for q in dict.fromkeys(queries)]
    schema = StructType([StructField("query", StringType())] + _KEY_VALUE.fields)

    def walker(root, flat):
        return [(q, kk, v) for q, dfa in dfas for kk, v in dag_dfa(root, flat, dfa)]

    return _query(index_df, None, walker, schema).orderBy("query", "key")


def index_fuzzy_lookup(
    index_df: DataFrame,
    query: str,
    k: int,
    damerau: bool = False,
    prefix_len: int = 0,
) -> DataFrame:
    """Keys within edit distance k of ``query`` off the persisted
    artifact.  ``prefix_len`` pins the first chars exactly, which both
    narrows the DFA walk and prunes shards at the parquet scan."""
    dfa = compile_dfa(query, k, damerau)
    if prefix_len > 0:
        p = query[:prefix_len]
        # the pin narrows BOTH levels: shard pruning at the parquet scan
        # (lo/hi stats) and the walk itself (descend the pinned path
        # before the product DFS)
        return _query(
            index_df, _prefix_shard_filter(p), lambda r, f: dag_dfa(r, f, dfa, pin=p)
        ).orderBy("key")
    return _query(index_df, None, lambda r, f: dag_dfa(r, f, dfa)).orderBy("key")
