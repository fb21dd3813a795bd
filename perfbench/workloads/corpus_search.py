"""``corpus_search``: the training-data operator suite.  One client
serves BM25 and IVF-PQ query batches against standing indexes, and
after every :data:`DEDUP_EVERY` batches runs a MinHash-LSH + clusters
dedup job.

Why: loads ``pipelines``, the Python worker daemon and the shuffle,
which the metrics workloads barely touch."""

from __future__ import annotations

from perfbench import gen
from perfbench.workloads import Op

N_DOCS = 6_000
N_EMBED = 4_000
N_CELLS = 16
K_BM25 = 10
K_ANN = 5
#: one dedup job after this many search batches
DEDUP_EVERY = 4
#: correctness floors fixed by the benchmark
RECALL_FLOOR = 0.6
PLANTED_FLOOR = 0.9


class CorpusSearch:
    name = "corpus_search"
    cycle = DEDUP_EVERY + 1
    #: (method, span) pairs the traced run wraps: the calls into
    #: ``pipelines`` with the collect that materializes each result
    trace_points = (("_bm25", "pipelines.bm25_serve"),
                    ("_ivfpq", "pipelines.ivfpq_serve"),
                    ("_pairs", "pipelines.minhash"),
                    ("_clusters", "pipelines.clusters"))

    def __init__(self, spark, work, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.docs, self.planted = gen.corpus(seed, n_docs=N_DOCS)
        self.batches = gen.search_batches(seed, self.docs, N_EMBED)
        self.served = []  # (kind, batch, result rows) for the final checks
        self.recalls = []
        self.n_ops = 0

    def sizes(self) -> dict:
        return {"docs": len(self.docs), "planted_pairs": len(self.planted),
                "vectors": N_EMBED, "dim": 64}

    def setup(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq
        from rhq_metrics_spark.pipelines.embeddings import (
            synthetic_clustered_embeddings,
        )
        from rhq_metrics_spark.pipelines.retrieval import bm25_index
        from rhq_metrics_spark.pipelines.similarity import ivfpq_build_index

        root = self.work / "corpus"
        root.mkdir(parents=True)
        pq.write_table(pa.table({"doc_id": [d for d, _ in self.docs],
                                 "text": [t for _, t in self.docs]}),
                       str(root / "docs.parquet"))
        self.doc_df = self.spark.read.parquet(str(root / "docs.parquet"))
        self.bm25_path = str(root / "bm25")
        self.ivf_path = str(root / "ivfpq")

        # one build after the other: built side by side in threads, the
        # JIT profiles and heap peaks differed from run to run, and so
        # did peak memory and the CPU time of the timed ops
        bm25_index(self.doc_df, self.bm25_path)
        self.emb = synthetic_clustered_embeddings(
            self.spark, n=N_EMBED, dim=64, n_clusters=64, seed=self.seed
        ).persist()
        self.emb.count()
        ivfpq_build_index(self.emb, self.ivf_path, n_cells=N_CELLS, m=8, k_codes=16)
        # the first dedup job starts the Python workers
        if not self._dedup_ok(self._dedup()):
            raise RuntimeError("warm-up dedup missed the planted pairs")
        for op in (self.next_op(), self.next_op()):  # warm both serve paths
            op.check(op.run())
        self.served.clear()
        self.n_ops = 0

    def next_op(self) -> Op:
        i = self.n_ops
        self.n_ops += 1
        if i % self.cycle == DEDUP_EVERY:
            return Op("dedup", "dedup", self._dedup, self._dedup_ok)
        kind, batch = next(self.batches)
        if kind == "bm25":
            return Op("bm25", "search", lambda: self._bm25(batch),
                      lambda rows: self._keep("bm25", batch, rows))
        return Op("ivfpq", "search", lambda: self._ivfpq(batch),
                  lambda rows: self._keep("ivfpq", batch, rows))

    def _bm25(self, batch):
        from rhq_metrics_spark.localrel import local_df
        from rhq_metrics_spark.pipelines.retrieval import bm25_against_index

        q = local_df(self.spark, batch, "query_id long, query string")
        return bm25_against_index(self.spark, self.bm25_path, q, k=K_BM25).collect()

    def _ivfpq(self, batch):
        import pyspark.sql.functions as F
        from rhq_metrics_spark.pipelines.similarity import ivfpq_query_index

        q = self.emb.filter(F.col("vec_id").isin(batch))
        return ivfpq_query_index(self.spark, self.ivf_path, q, self.emb,
                                 k=K_ANN, m=8, n_probe=4, shortlist=60).collect()

    def _keep(self, kind, batch, rows) -> bool:
        """Served results are checked against the exact operators after
        the timed loop (one reference job per kind)."""
        self.served.append((kind, batch, rows))
        want = len(batch) * (K_BM25 if kind == "bm25" else K_ANN)
        return 0 < len(rows) <= want

    def _dedup(self):
        pairs, got = self._pairs()
        return got, self._clusters(pairs)

    def _pairs(self):
        from rhq_metrics_spark.pipelines.dedup import minhash_lsh_pairs

        pairs = minhash_lsh_pairs(self.doc_df)
        return pairs, {(min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"]))
                       for r in pairs.collect()}

    def _clusters(self, pairs):
        from rhq_metrics_spark.pipelines.dedup import dup_clusters

        return dup_clusters(self.doc_df.select("doc_id"), pairs).collect()

    def _dedup_ok(self, res) -> bool:
        got, clusters = res
        found = sum((min(a, b), max(a, b)) in got for a, b in self.planted)
        label = {r["doc_id"]: r["cluster_id"] for r in clusters}
        together = sum(label.get(a) == label.get(b) for a, b in self.planted)
        need = PLANTED_FLOOR * len(self.planted)
        return (len(label) == len(self.docs) and found >= need
                and together >= need)

    def finish(self):
        """Served BM25 top-k must equal ``bm25_topk`` over the same
        corpus; IVF-PQ recall@5 against ``cosine_topk`` must reach
        :data:`RECALL_FLOOR`.  Each served batch is one check."""
        import pyspark.sql.functions as F
        from rhq_metrics_spark.localrel import local_df
        from rhq_metrics_spark.pipelines.retrieval import bm25_topk
        from rhq_metrics_spark.pipelines.similarity import cosine_topk

        bm = [(b, rows) for k, b, rows in self.served if k == "bm25"]
        ann = [(b, rows) for k, b, rows in self.served if k == "ivfpq"]
        failed = 0
        if bm:
            qs = [q for b, _ in bm for q in b]
            q = local_df(self.spark, qs, "query_id long, query string")
            ref: dict = {}
            for r in bm25_topk(self.doc_df, q, k=K_BM25).collect():
                ref.setdefault(r["query_id"], set()).add((r["doc_id"], r["rank"]))
            for b, rows in bm:
                got: dict = {}
                for r in rows:
                    got.setdefault(r["query_id"], set()).add((r["doc_id"], r["rank"]))
                failed += any(got.get(qid) != ref.get(qid) for qid, _ in b)
        if ann:
            ids = sorted({i for b, _ in ann for i in b})
            truth: dict = {}
            for r in cosine_topk(self.emb, self.emb.filter(F.col("vec_id").isin(ids)),
                                 k=K_ANN).collect():
                truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
            for b, rows in ann:
                got = {}
                for r in rows:
                    got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
                hits = sum(len(got.get(i, set()) & truth[i]) for i in b)
                recall = hits / sum(len(truth[i]) for i in b)
                self.recalls.append(recall)
                failed += recall < RECALL_FLOOR
        self.emb.unpersist()
        return {"ivfpq_recall_at5": self.recalls}, len(bm) + len(ann), failed
