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
from .evaluate import clustering_pair_metrics
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
        """Build a stage.  Without a checkpoint directory the frame is
        returned uncut (every stage is read exactly once downstream) and
        nothing is recorded; with one, resume from its parquet when
        complete, otherwise compute and persist it, and record lineage
        metrics.  ``rows`` is the count the parquet write observed; only
        a resumed stage runs a count."""
        if not self.dir:
            return fn()
        t0 = time.time()
        path = _stage_path(self.dir, stage)
        resumed = self.resume and _complete(path)
        if resumed:
            out = self.spark.read.parquet(path)
            rows = out.count()
        else:
            out, rows, _ = cut(fn(), path)
        self.metrics.append(
            {
                "stage": stage,
                "resumed": resumed,
                "rows": rows,
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
    if not checkpoint_dir:
        return cut(out)[0]
    result = ck.run("resolve", lambda: out, {"k": k})
    ck.write_metrics()
    return result


def pairwise_f1(predicted: DataFrame, truth: DataFrame) -> dict:
    """Pairwise precision/recall/F1 of predicted clustering vs truth.

    Both inputs: (url, cluster_id).  The one row of
    ``er.evaluate.clustering_pair_metrics`` (cluster-size histograms
    and the contingency table, no quadratic pair materialization) as a
    dict; precision, recall and F1 are its 6dp-rounded values.
    """
    m = clustering_pair_metrics(predicted, truth).first()
    return {
        "tp_pairs": m.tp,
        "pred_pairs": m.pred_pairs,
        "true_pairs": m.true_pairs,
        "precision": m.precision,
        "recall": m.recall,
        "f1": m.f1,
    }
