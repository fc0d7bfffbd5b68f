"""End-to-end record-linkage pipeline with checkpoint/resume + metrics.

resolve(pages) -> (url, norm_key, cluster_id):
    normalize -> candidate_pairs -> score -> match_edges ->
    connected_components -> join back to urls.

Cluster ids are deterministic: the lexicographic minimum norm_key of the
component, so re-runs and resumed runs produce byte-identical output
(exact-resume requirement, BASELINE.json north_rule).  Every stage can
persist to ``checkpoint_dir`` and a later run resumes from the last
completed stage (per-stage parquet + a metrics/lineage table — the Spark
analog of the reference's deterministic golden pipeline,
fst_unittest.cpp:90-97).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, functions as F

from ..util.storage import cut
from .blocking import candidate_pairs, normalize_pages
from .clustering import connected_components
from .scoring import match_edges, score_pairs


def _stage_path(checkpoint_dir: str, stage: str) -> str:
    return os.path.join(checkpoint_dir, stage)


def _complete(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


class _Checkpointer:
    def __init__(self, spark, checkpoint_dir: str | None, resume: bool):
        self.spark = spark
        self.dir = checkpoint_dir
        self.resume = resume
        self.metrics: list[dict] = []

    def run(self, stage: str, fn, params: dict) -> DataFrame:
        """Materialize a stage.  Without a checkpoint directory it is
        cut with ``localCheckpoint`` and nothing is recorded; with one,
        resume from its parquet when complete, otherwise compute and
        persist it, and record lineage metrics."""
        if not self.dir:
            return cut(fn())
        t0 = time.time()
        path = _stage_path(self.dir, stage)
        resumed = self.resume and _complete(path)
        out = self.spark.read.parquet(path) if resumed else cut(fn(), path)
        self.metrics.append(
            {
                "stage": stage,
                "resumed": resumed,
                "rows": out.count(),
                "wall_sec": round(time.time() - t0, 3),
                "params": json.dumps(params, sort_keys=True),
            }
        )
        return out

    def write_metrics(self) -> None:
        if self.metrics:
            self.spark.createDataFrame(
                [
                    (m["stage"], m["resumed"], m["rows"], m["wall_sec"], m["params"])
                    for m in self.metrics
                ],
                "stage string, resumed boolean, rows long, wall_sec double, params string",
            ).write.mode("overwrite").parquet(_stage_path(self.dir, "metrics"))


def resolve(
    pages: DataFrame,
    k: int = 2,
    damerau: bool = True,
    sig_cap: int = 1000,
    max_len: int = 96,
    use_html_title: bool = False,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    algo: str = "passjoin",
) -> DataFrame:
    """Cluster pages whose normalized host+title keys are within edit
    distance k.  Returns (url, norm_key, cluster_id) — ``text`` never
    enters the pipeline, so the byte-identity invariant holds trivially;
    join the result back to the source on url for enriched output.
    ``algo`` ('passjoin' | 'deletes') picks the blocking signature
    family, see ``candidate_pairs``."""
    spark = pages.sparkSession
    ck = _Checkpointer(spark, checkpoint_dir, resume)

    normalized = normalize_pages(pages, use_html_title=use_html_title).select(
        "url", "norm_key"
    )

    pairs = ck.run(
        "candidate_pairs",
        lambda: candidate_pairs(
            normalized, k=k, max_len=max_len, sig_cap=sig_cap, damerau=damerau,
            algo=algo,
        ),
        {"k": k, "damerau": damerau, "sig_cap": sig_cap, "max_len": max_len,
         "algo": algo},
    )

    edges = ck.run(
        "match_edges",
        lambda: match_edges(score_pairs(pairs), k=k),
        {"k": k},
    )

    comps = ck.run(
        "components",
        lambda: connected_components(
            edges, src="key_a", dst="key_b",
            checkpoint_dir=_stage_path(checkpoint_dir, "cc") if checkpoint_dir else None,
        ),
        {},
    )

    out = (
        normalized.join(
            comps.withColumnRenamed("node", "norm_key").withColumnRenamed(
                "component", "cluster_id"
            ),
            "norm_key",
            "left",
        )
        .withColumn("cluster_id", F.coalesce("cluster_id", "norm_key"))
        .select("url", "norm_key", "cluster_id")
    )
    result = ck.run("resolve", lambda: out, {"k": k})
    ck.write_metrics()
    return result


def pairwise_f1(predicted: DataFrame, truth: DataFrame) -> dict:
    """Pairwise precision/recall/F1 of predicted clustering vs truth.

    Both inputs: (url, cluster_id).  Pair counts are computed from
    cluster-size histograms (sum nC2) and the intersection contingency
    table — no quadratic pair materialization, scales to huge clusterings.
    """

    def _pairs(df: DataFrame, col: str) -> int:
        sizes = df.groupBy(col).agg(F.count("*").alias("n"))
        row = sizes.agg(
            F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("p")
        ).collect()[0]
        return int(row.p or 0)

    pred = predicted.select("url", F.col("cluster_id").alias("pc"))
    tr = truth.select("url", F.col("cluster_id").alias("tc"))
    joined = pred.join(tr, "url")
    cont = joined.groupBy("pc", "tc").agg(F.count("*").alias("n"))
    tp = int(
        cont.agg(F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("p")).collect()[0].p
        or 0
    )
    pred_pairs = _pairs(joined, "pc")
    true_pairs = _pairs(joined, "tc")
    precision = tp / pred_pairs if pred_pairs else 1.0
    recall = tp / true_pairs if true_pairs else 1.0
    f1 = (
        2 * precision * recall / (precision + recall)
        if (precision + recall)
        else 0.0
    )
    return {
        "tp_pairs": tp,
        "pred_pairs": pred_pairs,
        "true_pairs": true_pairs,
        "precision": precision,
        "recall": recall,
        "f1": f1,
    }
