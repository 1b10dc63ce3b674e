"""curation — the LLM-data-pipeline operators on a generated corpus.

One pass = ``exact_dedup`` → near-duplicate pairs (shingles → MinHash →
LSH candidates → verified pairs, the registry's q62 composition) →
TF-IDF top terms → a closed loop of IVF ANN top-k requests, each a batch
of query vectors the index has not seen → the streaming twin of exact
dedup (``streaming_distinct`` over the documents replayed as shards, one
shard per micro-batch, keyed state carried across batches). Shuffle,
Python-UDF and compute work plus the state store's per-partition delta
and WAL writes; at this corpus size about a third of a pass scales with
the input and the rest is the fixed cost of the pass's Spark jobs
(README.md gives the measured split).

Oracles: pandas/hashlib for exact dedup, TF-IDF and the streaming
dedup, the registry's DuckDB SQL for q62, and a recall@k floor against
an exact numpy top-k for ANN.
"""

from __future__ import annotations

import hashlib
import importlib
import math
import os
import re
import uuid
from collections import Counter

import numpy as np
import pandas as pd

import gen
from harness import PKG

SHAPE = gen.CurationShape(
    base_docs=6000, exact_dup_share=0.10, near_dup_share=0.10,
    vectors=20000, requests=64, batch=8, stream_files=2,
)
ANN_PER_PASS = 2
K, CELLS, PROBE = 10, 16, 4
RECALL_FLOOR = 0.6
TOP_TERMS = 20


def _top_terms_oracle(docs: pd.DataFrame) -> list[tuple[str, float]]:
    n_docs = docs["doc_id"].nunique()
    rows = []
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        for term, tf in Counter(re.split(r"\s+", text.strip().lower())).items():
            rows.append((doc_id, term, tf))
    tf = pd.DataFrame(rows, columns=["doc_id", "term", "tf"])
    df = tf.groupby("term")["doc_id"].count().rename("df")
    tf = tf.join(df, on="term")
    idf = np.log((n_docs + 1.0) / (tf["df"] + 1.0)) + 1.0
    tf["tfidf"] = np.round(tf["tf"] * idf + 1e-9, 6)
    tot = tf.groupby("term")["tfidf"].sum().reset_index()
    tot = tot.sort_values(["tfidf", "term"], ascending=[False, True]).head(TOP_TERMS)
    return list(zip(tot["term"], tot["tfidf"]))


def _exact_topk(corpus: np.ndarray, queries: np.ndarray, k: int) -> list[list[int]]:
    c = corpus.astype(np.float64)
    q = queries.astype(np.float64)
    cos = (q @ c.T) / np.outer(np.linalg.norm(q, axis=1), np.linalg.norm(c, axis=1))
    cos = np.round(cos + 1e-9, 6)
    out = []
    for row in cos:
        # rank only the ids scoring at least the k-th best: same order as
        # a full (score desc, id asc) sort, ties at the boundary included
        kth = np.partition(row, len(row) - k)[len(row) - k]
        cand = np.flatnonzero(row >= kth)
        out.append(list(cand[np.lexsort((cand, -row[cand]))][:k]))
    return out


def build_query(spec, spark, sf_dir):
    """The benchmark's call site for a registry query's ``spec.fn``
    (wrapped as ``plans.build`` when tracing)."""
    return spec.fn(spark, sf_dir)


class Curation:
    name = "curation"
    unit_op = "one IVF ANN top-k request (a batch of unseen query vectors)"
    streaming = True
    warmup_passes = 1
    # imported inside set-up time; plans.registry pulls in every plan module
    modules = (
        "session", "catalog", "plans.registry", "plans.llm_ops", "operators.dedup",
        "operators.text", "operators.similarity", "streaming._drain",
        "streaming.dedup_stream",
    )

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.ckpt_base = os.path.join(work, "ckpt")

    def generate(self) -> dict:
        import duckdb
        import pyarrow as pa

        out = os.path.join(self.work, "corpus")
        p = gen.curation_inputs(self.seed, out, SHAPE)
        self.dir = out
        docs = p["docs"]
        # exact dedup: md5 → (min id, copies)
        md5 = docs["text"].map(lambda t: hashlib.md5(t.encode()).hexdigest())
        g = docs.assign(text_md5=md5).groupby("text_md5")["doc_id"].agg(["min", "count"])
        self.expect_exact = {(h, int(r["min"]), int(r["count"])) for h, r in g.iterrows()}
        self.expect_terms = _top_terms_oracle(docs)
        self.expect_texts = set(docs["text"])
        self.docs_stream = p["docs_stream"]
        self._redirect_checkpoints()
        spec = importlib.import_module(f"{PKG}.plans.registry").QUERIES[
            "q62_minhash_dedup_verified"
        ]
        self.q62 = spec
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{p['documents']}')")
        rel = con.sql(spec.oracle_for(out))
        self.expect_pairs = {
            (int(a), int(b), round(float(j), 6), int(kd)) for a, b, j, kd in rel.fetchall()
        }
        con.close()
        # ANN request batches: one parquet file each, ids after the corpus
        self.batches = []
        n = SHAPE.vectors
        qs = p["queries"]
        for r in range(SHAPE.requests):
            ids = np.arange(n + r * SHAPE.batch, n + (r + 1) * SHAPE.batch, dtype=np.int64)
            path = os.path.join(out, f"queries-{r:03d}.parquet")
            gen.write_parquet(
                pa.table(
                    {
                        "vec_id": pa.array(ids),
                        "embedding": pa.array(list(qs[r]), type=pa.list_(pa.float32())),
                        "label": pa.array(np.zeros(SHAPE.batch, dtype=np.int32)),
                    }
                ),
                path,
            )
            truth = _exact_topk(p["corpus"], qs[r], K)
            self.batches.append((path, ids, {int(i): set(t) for i, t in zip(ids, truth)}))
        self.emb_path = p["embeddings"]
        self.request_no = 0
        self.input_rows = SHAPE.docs + SHAPE.vectors
        return {
            "docs": SHAPE.docs, "exact_dup_docs": SHAPE.n_exact,
            "near_dup_docs": SHAPE.n_near, "vectors": SHAPE.vectors,
            "ann_requests_per_pass": ANN_PER_PASS, "queries_per_request": SHAPE.batch,
            "k": K, "ivf_cells": CELLS, "n_probe": PROBE,
            "stream_shards": SHAPE.stream_files,
            "oracle_near_dup_pairs": len(self.expect_pairs), "input_rows": self.input_rows,
        }

    def _redirect_checkpoints(self) -> None:
        """Drain checkpoints go under the current pass directory (fresh per
        pass, removed with it) instead of the package's default
        ``/dev/shm`` location, so the benchmark writes only inside its
        checkout. The drain still creates and removes one per query."""
        drain = importlib.import_module(f"{PKG}.streaming._drain")
        bench = self

        def drain_checkpoint_dir() -> str:
            path = os.path.join(bench.ckpt_base, f"spark-drain-ckpt-{uuid.uuid4().hex[:12]}")
            os.makedirs(path, exist_ok=True)
            return path

        drain.drain_checkpoint_dir = drain_checkpoint_dir

    def trace_targets(self):
        dedup = importlib.import_module(f"{PKG}.operators.dedup")
        llm = importlib.import_module(f"{PKG}.plans.llm_ops")
        sim = importlib.import_module(f"{PKG}.operators.similarity")
        text = importlib.import_module(f"{PKG}.operators.text")
        sdedup = importlib.import_module(f"{PKG}.streaming.dedup_stream")
        catalog = importlib.import_module(f"{PKG}.catalog")
        import sys

        return [
            (catalog, "table", "catalog.table", "lazy"),
            (sys.modules[__name__], "build_query", "plans.build", "eager"),
            (sdedup, "drain_rows", "streaming._drain.drain_rows", "eager"),
            (dedup, "exact_dedup", "operators.dedup.exact_dedup_build", "lazy"),
            (llm, "table", "catalog.table", "lazy"),
            (sim, "ivf_train_centroids", "operators.similarity.ivf_train_centroids", "eager"),
            (sim, "ivf_assign", "operators.similarity.ivf_assign", "lazy"),
            (sim, "ann_topk_ivf", "operators.similarity.ann_topk_ivf_build", "eager"),
            (text, "tfidf", "operators.text.tfidf_build", "lazy"),
        ]

    def run_pass(self, spark, timer, pass_dir: str) -> None:
        from pyspark.sql import functions as F

        catalog = importlib.import_module(f"{PKG}.catalog")
        dedup = importlib.import_module(f"{PKG}.operators.dedup")
        text = importlib.import_module(f"{PKG}.operators.text")
        sim = importlib.import_module(f"{PKG}.operators.similarity")
        sdedup = importlib.import_module(f"{PKG}.streaming.dedup_stream")
        self.ckpt_base = os.path.join(pass_dir, "ckpt")

        def exact():
            docs = catalog.table(spark, self.dir, "documents")
            return dedup.exact_dedup(docs, "doc_id", "text").collect()

        timer.run("operators.dedup.exact_dedup", exact, self._check_exact, unit=False)

        def neardup():
            return build_query(self.q62, spark, self.dir).collect()

        timer.run("operators.dedup.neardup_q62", neardup,
                  lambda rows: self._check_pairs(rows, timer.extra), unit=False)

        def top_terms():
            docs = catalog.table(spark, self.dir, "documents")
            tf = text.tfidf(docs, "doc_id", "text")
            return (
                tf.groupBy("term").agg(F.sum("tfidf").alias("tfidf"))
                .orderBy(F.col("tfidf").desc(), F.col("term")).limit(TOP_TERMS).collect()
            )

        timer.run("operators.text.tfidf", top_terms, self._check_terms, unit=False)

        timer.extra["recall"] = []
        for _ in range(ANN_PER_PASS):
            path, ids, truth = self.batches[self.request_no % len(self.batches)]
            self.request_no += 1
            lo = int(ids[0])

            def ann(path=path, lo=lo):
                emb = spark.read.parquet(self.emb_path).unionByName(spark.read.parquet(path))
                return sim.ann_topk_ivf(
                    emb, lambda c: c >= lo, k=K, n_cells=CELLS, n_probe=PROBE,
                    candidate_pred=F.col("vec_id") < SHAPE.vectors,
                ).collect()

            timer.run("operators.similarity.ann", ann,
                      lambda rows, truth=truth: self._check_ann(rows, truth, timer.extra))

        timer.run(
            "streaming.dedup_stream.streaming_distinct",
            lambda: sdedup.streaming_distinct(
                spark, self.docs_stream, ["text"], max_files_per_trigger=1,
                require_multi_batch=True,
            ).collect(),
            self._check_stream_dedup,
            unit=False,
        )

    # ---------------- checks (untimed) --------------------------------
    def _check_exact(self, rows) -> str | None:
        got = {(r["text_md5"], int(r["keep_doc_id"]), int(r["n_copies"])) for r in rows}
        if got != self.expect_exact:
            return f"exact_dedup: {len(got ^ self.expect_exact)} groups differ"
        return None

    def _check_pairs(self, rows, extra) -> str | None:
        got = {
            (int(r["id_a"]), int(r["id_b"]), round(float(r["jaccard"]), 6), int(r["keep_doc_id"]))
            for r in rows
        }
        extra["verified_pairs"] = len(got)
        if got != self.expect_pairs:
            return f"q62: {len(got ^ self.expect_pairs)} pairs differ from the oracle"
        return None

    def _check_terms(self, rows) -> str | None:
        got = [(r["term"], float(r["tfidf"])) for r in rows]
        if [t for t, _ in got] != [t for t, _ in self.expect_terms]:
            return f"tfidf: top terms {got[:3]} != {self.expect_terms[:3]}"
        for (t, a), (_, b) in zip(got, self.expect_terms):
            if not math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6):
                return f"tfidf: {t} {a} != {b}"
        return None

    def _check_ann(self, rows, truth, extra) -> str | None:
        by_q: dict[int, set] = {}
        for r in rows:
            by_q.setdefault(int(r["query_id"]), set()).add(int(r["neighbor_id"]))
        if set(by_q) != set(truth) or any(len(v) != K for v in by_q.values()):
            return f"ann: {len(by_q)} queries answered, expected {len(truth)} × {K}"
        recall = float(np.mean([len(by_q[q] & t) / K for q, t in truth.items()]))
        extra["recall"].append(recall)
        if recall < RECALL_FLOOR:
            return f"ann: recall@{K} {recall:.3f} below floor {RECALL_FLOOR}"
        return None

    def _check_stream_dedup(self, rows) -> str | None:
        got = [r["text"] for r in rows]
        if len(got) != len(set(got)) or set(got) != self.expect_texts:
            return f"streaming dedup: {len(got)} texts, expected {len(self.expect_texts)}"
        return None

    # ---------------- per-layer (traced run) --------------------------
    def after_trace(self, spark) -> None:
        """Untimed, after the traced passes: candidate counts that the
        timed ops do not expose."""
        from pyspark.sql import functions as F

        catalog = importlib.import_module(f"{PKG}.catalog")
        dedup = importlib.import_module(f"{PKG}.operators.dedup")
        sim = importlib.import_module(f"{PKG}.operators.similarity")
        llm = importlib.import_module(f"{PKG}.plans.llm_ops")
        n_perm, bands = llm._N_PERM, llm._BANDS
        docs = catalog.table(spark, self.dir, "documents")
        sh = dedup.word_shingles(docs, "doc_id", "text", n=2)
        sigs = dedup.minhash_signatures(sh, "doc_id", n_perm=n_perm)
        self.lsh_candidates = dedup.lsh_candidate_pairs(
            sigs, "doc_id", n_perm=n_perm, bands=bands
        ).count()
        path, ids, _ = self.batches[0]
        emb = spark.read.parquet(self.emb_path).unionByName(spark.read.parquet(path))
        cent = sim.ivf_train_centroids(emb, k=CELLS)
        corpus = emb.filter(F.col("vec_id") < SHAPE.vectors)
        sizes = {
            r["cell"]: r["n"]
            for r in sim.ivf_assign(corpus, cent).groupBy("cell").count()
            .withColumnRenamed("count", "n").collect()
        }
        probes = sim.ivf_assign(emb.filter(F.col("vec_id") >= int(ids[0])), cent, n_probe=PROBE)
        per_q: dict[int, int] = {}
        for r in probes.collect():
            per_q[r["vec_id"]] = per_q.get(r["vec_id"], 0) + sizes.get(r["cell"], 0)
        self.candidates_per_query = float(np.mean(list(per_q.values())))

    def layer_metrics(self, p, spans, selfs, progress) -> dict:
        ann = [o for o in p.ops if o.name == "operators.similarity.ann"]
        verified = p.extra.get("verified_pairs", 0)
        cands = getattr(self, "lsh_candidates", 0)
        rec = p.extra.get("recall", [])
        q62 = [s for s in spans if s.kind == "op" and s.name == "operators.dedup.neardup_q62"]
        import spans as sp_mod

        return {
            "plans.exec_ms": 1000 * sum(selfs[s.id] for s in q62),
            "plans.result_rows": verified,
            "catalog.table_calls": sum(1 for s in spans if s.name == "catalog.table"),
            **sp_mod.streaming_metrics(progress, p.start_wall, p.end_wall),
            "operators.similarity.ann_ms": 1000 * sum(o.seconds for o in ann) / max(1, len(ann)),
            "operators.dedup.verified_pairs": verified,
            "operators.dedup.lsh_candidates": cands,
            "operators.dedup.lsh_precision": verified / cands if cands else 0.0,
            "operators.similarity.candidates_per_query": getattr(self, "candidates_per_query", 0),
            "operators.similarity.recall_at_k": float(np.mean(rec)) if rec else 0.0,
        }
