"""Session-lifetime hygiene for operator-internal persists, the one
lineage cut the iterative operators share (:func:`cut`), and the one
way a driver-computed pandas result becomes a frame (:func:`local_frame`).

The dedup/similarity operators persist intermediates they scan more
than once (band rows, signature frames, the mapped id frame of the
end-to-end dedups).  Spark's CacheManager keeps those entries alive for
the whole session even after the caller has dropped every reference —
``persist`` registers the *plan* JVM-side, so Python garbage collection
never releases it.  A long-lived session (service, notebook) calling
the operators repeatedly would accumulate entries until session death.

Every operator-internal persist therefore goes through
:func:`maybe_persist`, which records the frame here; call
:func:`release_persisted` between pipelines to unpersist everything the
library persisted (user-side caches are untouched — this is NOT
``spark.catalog.clearCache``).  Strong references are intentional: the
JVM entry outlives the Python wrapper, so a weakref that died would be
an unreleasable leak.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.storagelevel import StorageLevel

_PERSISTED: list[DataFrame] = []


def maybe_persist(df: DataFrame, storage: str | None) -> DataFrame:
    """Persist ``df`` under the named StorageLevel and register it for
    :func:`release_persisted`; ``storage=None`` is a no-op (the plan is
    recomputed per scan — the right call for one-shot pipelines that
    never want CacheManager entries at all)."""
    if storage is None:
        return df
    df = df.persist(getattr(StorageLevel, storage))
    _PERSISTED.append(df)
    return df


def cut(df: DataFrame, path: str | None = None) -> tuple[DataFrame, int, int | None]:
    """Truncate ``df``'s lineage: a parquet round trip under ``path``
    (the cluster-reliable form; a later run can read it back), else
    ``localCheckpoint(eager=True)``.

    Returns ``(frame, rows, digest)``: the row count and the
    order-insensitive ``bit_xor(xxhash64(row))`` digest (None when
    empty) that the materialising job itself observed through an
    unnamed ``Observation`` -- reading them runs no further job."""
    obs = Observation()
    df = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.bit_xor(F.xxhash64(*[F.col(f"`{c}`") for c in df.columns])).alias("digest"),
    )
    if path is None:
        out = df.localCheckpoint(eager=True)
    else:
        df.write.mode("overwrite").parquet(path)
        out = df.sparkSession.read.parquet(path)
    m = obs.get
    return out, m["rows"], m["digest"]


def local_frame(spark: SparkSession, pdf: pd.DataFrame, schema) -> DataFrame:
    """``pdf`` as a local relation (collecting it runs no job).  An empty
    pandas frame would bypass Arrow and plan as an RDD scan, so the
    empty result is a one-row frame cut to zero rows."""
    if pdf.empty:
        pdf = pd.DataFrame([[None] * len(pdf.columns)], columns=pdf.columns)
        return spark.createDataFrame(pdf, schema).limit(0)
    return spark.createDataFrame(pdf, schema)


def release_persisted() -> int:
    """Unpersist every intermediate the library persisted since the
    last call (blocking=False: eviction proceeds in the background).
    Returns the number of frames released."""
    n = 0
    while _PERSISTED:
        df = _PERSISTED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # session already stopped
            pass
    return n
