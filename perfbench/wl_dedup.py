"""``llm_dedup``: one closed-loop client probing a standing corpus —
document batches checked for near-duplicates with
``operators.dedup.incremental_minhash_near_dups`` against the corpus's
persisted MinHash band index, and perturbed query-vector batches
answered with ``operators.similarity.ivf_topk`` over centroids trained
by ``kmeans_fit`` in setup.

Checks are exact and computed by the harness: every reported document
pair must have word-bigram Jaccard >= the threshold, and ANN recall is
measured against an exact numpy top-k over the same vectors.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pandas as pd

from common import Op
import gen

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.operators import dedup, similarity

CORPUS = 1000
VECTORS = 1000
DOC_BATCH = 40
QUERY_BATCH = 16
CENTROIDS = 16
K = 10
TAU = 0.5
N_HASHES, BANDS = 32, 16
DOC_ID0 = 10_000_000
QUERY_ID0 = 20_000_000


def shingles(text: str, k: int = 2) -> set[str]:
    """Word k-shingles after the engine's documented normalization
    (lower-case, keep [a-z0-9 ], collapse spaces)."""
    toks = re.sub(" +", " ", re.sub("[^a-z0-9 ]", "", text.lower())).strip().split(" ")
    return {" ".join(toks[i:i + k]) for i in range(max(len(toks) - k + 1, 1))}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


class LlmDedup:
    NAME = "llm_dedup"

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.t = ctx.tracer
        self.recalls: list[float] = []
        self.dedup_recalls: list[float] = []
        self.candidates = 0
        self.verified = 0
        self.scanned: list[float] = []

    def setup(self) -> None:
        ctx, spark = self.ctx, self.spark
        self.texts = gen.corpus_texts(ctx.seed, CORPUS)
        doc_path = os.path.join(ctx.data_dir, "documents.parquet")
        gen.write_parquet(gen.documents_table(ctx.seed, np.arange(CORPUS), self.texts), doc_path)
        vecs, labels = gen.embedding_matrix(ctx.seed, VECTORS)
        self.vecs = vecs
        emb_path = os.path.join(ctx.data_dir, "embeddings.parquet")
        gen.write_parquet(gen.embeddings_table(np.arange(VECTORS), vecs, labels), emb_path)
        ctx.sizes[self.NAME] = {"corpus_docs": CORPUS, "vectors": VECTORS, "dim": gen.DIM,
                     "doc_batch": DOC_BATCH, "query_batch": QUERY_BATCH,
                     "centroids": CENTROIDS, "k": K}
        self.corpus_sh = [shingles(t) for t in self.texts]

        self.corpus = spark.read.parquet(doc_path)
        with self.t.span("dedup.index_corpus"):
            sigs = dedup.minhash_signatures(self.corpus, "doc_id", "text", 2, N_HASHES)
            sigs = sigs.persist(StorageLevel.MEMORY_AND_DISK)
            self.corpus_bands = dedup.band_rows(sigs, BANDS).persist(StorageLevel.MEMORY_AND_DISK)
            self.corpus_sigs = sigs.select(
                "doc", F.array(*[F.col(f"m{i}") for i in range(N_HASHES)]).alias("sig")
            ).persist(StorageLevel.MEMORY_AND_DISK)
            self.corpus_bands.count()
            self.corpus_sigs.count()

        self.emb = spark.read.parquet(emb_path)
        with self.t.span("similarity.kmeans_fit"):
            cents = similarity.kmeans_fit(self.emb, k=CENTROIDS, iters=3, dim=gen.DIM).collect()
        cents = sorted(cents, key=lambda r: r["centroid_id"])
        self.cent_mat = np.array([r["cv"] for r in cents], dtype=np.float64)
        self.centroids = spark.createDataFrame(
            [(int(r["centroid_id"]), [float(x) for x in r["cv"]]) for r in cents],
            "vec_id long, embedding array<double>",
        ).persist(StorageLevel.MEMORY_AND_DISK)
        self.centroids.count()
        # one probe before timing (plan caches, codegen), its pairs checked
        op = self._probe_op(-1)
        op.prepare()
        op.fn()
        try:
            op.check(None)
            ctx.check("warm probe", True)
        except AssertionError as e:
            ctx.check("warm probe", False, str(e))
        self.recalls.clear()
        self.dedup_recalls.clear()
        self.scanned.clear()
        self.candidates = self.verified = 0

    # -- document probes -----------------------------------------------------
    def _probe_op(self, index: int) -> Op:
        st: dict = {}

        def prepare():
            ids, texts = gen.near_dup_batch(
                self.ctx.seed, index + 1, self.texts, DOC_BATCH, DOC_ID0 + DOC_BATCH * (index + 1)
            )
            st["texts"] = dict(zip(ids.tolist(), texts))
            st["batch"] = pd.DataFrame({"doc_id": ids, "text": texts})

        def fn():
            batch = self.spark.createDataFrame(st["batch"])
            with self.t.span("dedup.probe"):
                out = dedup.incremental_minhash_near_dups(
                    batch, self.corpus, "doc_id", "text", k=2, n_hashes=N_HASHES,
                    bands=BANDS, threshold=TAU,
                    corpus_bands=self.corpus_bands, corpus_sigs=self.corpus_sigs,
                )
                st["pairs"] = out.collect()
            st["batch_df"] = batch

        def check(_):
            exact = set()
            for i, text in st["texts"].items():
                sh = shingles(text)
                for j, csh in enumerate(self.corpus_sh):
                    if jaccard(sh, csh) >= TAU:
                        exact.add((i, j))
            got = {(r["doc_a"], r["doc_b"]) for r in st["pairs"]}
            for a, b in got:
                j = jaccard(shingles(st["texts"][a]), self.corpus_sh[b])
                if j < TAU:
                    raise AssertionError(f"pair ({a}, {b}) has Jaccard {j:.4f} < {TAU}")
            if exact:
                self.dedup_recalls.append(len(got & exact) / len(exact))
            self.verified += len(got)
            if self.t.enabled:
                self.candidates += self._candidates(st["batch_df"])

        return Op("dedup.probe", "query", fn, check, prepare)

    def _candidates(self, batch) -> int:
        """Distinct (batch doc, corpus doc) pairs sharing an LSH band —
        rebuilt from the public MinHash and band functions, outside the probe span."""
        bb = dedup.band_rows(
            dedup.minhash_signatures(batch, "doc_id", "text", 2, N_HASHES), BANDS
        )
        return (
            bb.select(F.col("doc").alias("doc_a"), "band_idx", "bh")
            .join(self.corpus_bands.select(F.col("doc").alias("doc_b"), "band_idx", "bh"),
                  ["band_idx", "bh"])
            .select("doc_a", "doc_b").distinct().count()
        )

    # -- ANN queries -----------------------------------------------------------
    def _ann_op(self, index: int) -> Op:
        st: dict = {}

        def prepare():
            q = gen.query_vectors(self.ctx.seed, index + 1, self.vecs, QUERY_BATCH)
            ids = np.arange(QUERY_ID0, QUERY_ID0 + QUERY_BATCH)
            st["q"] = q
            st["frame"] = pd.DataFrame({
                "vec_id": ids, "embedding": [v.tolist() for v in q],
                "label": np.full(QUERY_BATCH, -1, dtype=np.int32),
            })

        def fn():
            queries = self.spark.createDataFrame(
                st["frame"], "vec_id long, embedding array<float>, label int"
            )
            with self.t.span("similarity.ivf_topk"):
                st["rows"] = similarity.ivf_topk(
                    self.emb.unionByName(queries), self.centroids,
                    f"vec_id >= {QUERY_ID0}", k=K,
                ).collect()

        def check(_):
            allv = np.vstack([self.vecs, st["q"]]).astype(np.float64)
            ids = np.concatenate([np.arange(VECTORS), np.arange(QUERY_ID0, QUERY_ID0 + QUERY_BATCH)])
            unit = allv / np.linalg.norm(allv, axis=1, keepdims=True)
            got: dict[int, set] = {}
            for r in st["rows"]:
                got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
            cn = self.cent_mat / np.linalg.norm(self.cent_mat, axis=1, keepdims=True)
            bucket = np.argmax(unit @ cn.T, axis=1)
            hits = 0
            for qi in range(QUERY_BATCH):
                row = VECTORS + qi
                sims = unit @ unit[row]
                sims[row] = -np.inf
                exact = set(ids[np.argsort(-sims, kind="stable")[:K]].tolist())
                hits += len(exact & got.get(int(ids[row]), set()))
                self.scanned.append(float((bucket == bucket[row]).sum() - 1))
            if len(got) != QUERY_BATCH:
                raise AssertionError(f"{len(got)} of {QUERY_BATCH} queries answered")
            self.recalls.append(hits / (K * QUERY_BATCH))

        return Op("similarity.ivf_topk", "query", fn, check, prepare)

    def cycle(self, k: int) -> list[Op]:
        return [self._probe_op(k), self._ann_op(k)]

    # -- end of run ----------------------------------------------------------
    def finish(self) -> None:
        if self.recalls:
            self.ctx.counters[f"{self.NAME}.recall_at_k"] = float(np.mean(self.recalls))
        if self.dedup_recalls:
            self.ctx.counters[f"{self.NAME}.dedup_recall"] = float(np.mean(self.dedup_recalls))

    def layer_metrics(self) -> dict:
        t = self.t
        return {
            "dedup.probe_ms": t.mean_ms("dedup.probe"),
            "dedup.candidate_pairs": float(self.candidates),
            "dedup.verified_pairs": float(self.verified),
            "dedup.candidate_yield": self.verified / self.candidates if self.candidates else 0.0,
            "similarity.kmeans_fit_s": t.layer("similarity.kmeans_fit", timed_only=False)[0],
            "similarity.ivf_topk_ms": t.mean_ms("similarity.ivf_topk"),
            "similarity.vectors_scanned_per_query":
                float(np.mean(self.scanned)) if self.scanned else 0.0,
        }
