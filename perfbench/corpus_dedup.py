"""corpus_dedup: LLM-data curation on two growing indexes. It is a part
of the ``txlog_curate`` workload.

Per batch (op class -> layer call):

  neardup     streaming.neardup.NearDupIndexSink.process_batch (600 docs
              with planted within- and cross-batch near-duplicates)
  ivf_append  streaming.annindex.IvfIndexSink.process_batch (1000 64-d
              vectors)
  ivf_topk    IvfIndexSink.topk (16 queries, k=10, 2 probes), collected

The IVF centroids come from extensions.similarity.kmeans_centroids_train
in set-up. Both indexes grow with every batch, so the design claim that a
batch costs O(batch), not O(corpus), shows as flat per-batch latency
over several timed batches (a larger ``--seconds``).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from gen import CLUSTERS, corpus_inputs
from harness import Op

from instagram_data_pipeline_spark.extensions.similarity import (
    cosine_topk,
    kmeans_centroids_train,
)
from instagram_data_pipeline_spark.streaming.annindex import IvfIndexSink
from instagram_data_pipeline_spark.streaming.neardup import NearDupIndexSink

K = 10
N_PROBE = 2
# accuracy floors the run must clear (outside the timed window)
PLANTED_RECALL_FLOOR = 0.9
IVF_RECALL_FLOOR = 0.8


class CorpusDedup:
    name = "corpus_dedup"
    period_seconds = 7.0

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.batches = 1 + ctx.periods  # batch 0 is the warm-up
        self.topk_rows: list[tuple[int, int, int]] = []  # op id, batch, rows

    def generate(self):
        return corpus_inputs(self.ctx.seed, self.batches)

    def load(self, inputs, data, root) -> None:
        """Index build: train the IVF centroids and open both sinks."""
        self.inputs, self.data, self.root = inputs, data, root
        train = self.spark.read.parquet(str(data / "corpus/train.parquet"))
        t0 = time.perf_counter()
        # the trainer names the centroid column ``cv``; the index sink
        # reads ``centroid``
        cents = kmeans_centroids_train(
            train, k=CLUSTERS, iters=2,
        ).withColumnRenamed("cv", "centroid")
        self.ivf = IvfIndexSink(str(root / "ivf"), cents)
        self.kmeans_train_s = time.perf_counter() - t0
        self.neardup = NearDupIndexSink(str(root / "neardup"))

    def _read(self, kind: str, b: int):
        return self.spark.read.parquet(
            str(self.data / f"corpus/{kind}/batch={b}.parquet"))

    def batch_ops(self, b: int) -> list[Op]:
        tr = self.tr

        def neardup():
            docs = self._read("docs", b)
            with tr.span("streaming.neardup.process_batch"):
                self.neardup.process_batch(docs, b)
            return self.inputs.schedule["rows"]["docs"][b]

        def ivf_append():
            vecs = self._read("vecs", b)
            with tr.span("streaming.ivf.process_batch"):
                self.ivf.process_batch(vecs, b)
            return self.inputs.schedule["rows"]["vecs"][b]

        def ivf_topk():
            q = self._read("queries", b)
            with tr.span("extensions.ivf_topk"):
                df = self.ivf.topk(self.spark, q, k=K, n_probe=N_PROBE)
            with tr.span("action.collect"):
                rows = df.collect()
            self.topk_rows.append((self.ctx.op_id, b, len(rows)))
            return 0

        return [Op("neardup", "write", neardup),
                Op("ivf_append", "write", ivf_append),
                Op("ivf_topk", "read", ivf_topk)]

    def warmup_ops(self) -> list[Op]:
        return self.batch_ops(0)

    def timed_periods(self) -> list[list[Op]]:
        return [self.batch_ops(b) for b in range(1, self.batches)]

    # -- correctness --------------------------------------------------------
    def check(self) -> list[tuple[int | None, str]]:
        """(op id, message) per failed check; op id None for whole-run
        checks."""
        fails = []
        spark = self.spark
        n_q = self.inputs.schedule["rows"]["queries"]
        for op_id, b, n in self.topk_rows:
            if n != K * n_q[b]:
                fails.append((op_id, f"batch {b} ivf_topk returned {n} rows,"
                                     f" want {K * n_q[b]}"))
        dec = self.neardup.results(spark, "decisions")
        per = dec.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.max(F.col("decision") == "drop").alias("drop"))
        stats = per.agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum((F.col("n") != 1).cast("int")).alias("multi"),
            F.sum(F.col("drop").cast("int")).alias("dropped")).collect()[0]
        want_docs = sum(self.inputs.schedule["rows"]["docs"])
        if stats.docs != want_docs or stats.multi:
            fails.append((None, f"{stats.docs} docs decided ({stats.multi} "
                                f"more than once), {want_docs} ingested"))
        planted = spark.createDataFrame(
            [(i,) for i in self.inputs.schedule["planted"]], "doc_id long")
        hit = per.join(planted, "doc_id").agg(
            F.sum(F.col("drop").cast("int"))).collect()[0][0] or 0
        self.planted_recall = hit / max(1, len(self.inputs.schedule["planted"]))
        if self.planted_recall < PLANTED_RECALL_FLOOR:
            fails.append((None, f"planted_dup_recall {self.planted_recall:.3f}"
                                f" < {PLANTED_RECALL_FLOOR}"))
        self.kept_ratio = 1 - (stats.dropped or 0) / max(1, stats.docs)
        # IVF recall@k against the exact brute-force top-k
        corpus = self.ivf.index(spark).select(
            "vec_id", F.col("v").alias("embedding"))
        q = self._read("queries", self.batches - 1)
        approx = {(r.query_id, r.vec_id) for r in self.ivf.topk(
            spark, q, k=K, n_probe=N_PROBE).collect()}
        exact = {(r.query_id, r.vec_id) for r in cosine_topk(
            corpus, q, k=K).collect()}
        self.ivf_recall = len(approx & exact) / max(1, len(exact))
        if self.ivf_recall < IVF_RECALL_FLOOR:
            fails.append((None, f"ivf_recall_at_{K} {self.ivf_recall:.3f} < "
                                f"{IVF_RECALL_FLOOR}"))
        n_idx, n_vecs = corpus.count(), sum(self.inputs.schedule["rows"]["vecs"])
        if n_idx != n_vecs:
            fails.append((None, f"IVF index holds {n_idx} vectors, ingested "
                                f"{n_vecs}"))
        return fails

    def layer_figures(self, records) -> dict:
        files = sum(len([n for n in names if n.endswith(".parquet")])
                    for d in ("neardup", "ivf")
                    for _, _, names in os.walk(self.root / d))
        return {
            "streaming.index_files": files,
            "extensions.kept_ratio": self.kept_ratio,
            "extensions.planted_dup_recall": self.planted_recall,
            "extensions.ivf_recall_at_k": self.ivf_recall,
            "extensions.kmeans_train_s": self.kmeans_train_s,
        }

    def describe_inputs(self) -> dict:
        return dict(self.inputs.properties,
                    landed_bytes=self.inputs.total_bytes)
