"""The near-dup pass of the training-data pipeline.

A seeded document table with planted near-duplicate copies and an
embedding table with planted near copies are written to parquet; one pass
then runs ``minhash_lsh_pairs``, ``ngram_jaccard_pairs_minhash``,
``rp_band_near_pairs`` and ``cosine_topk`` over them, in a seeded order.
The index_ingest workload runs one pass after its compaction; it is the
only place ``extras.dedup`` and ``extras.similarity`` run.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

import checks
import inputs
from harness import p50, span_ms
from elasticsearch_aggregation_geoclustering_spark.extras import dedup, similarity

N_DOCS, N_PLANTED_DOCS = 300, 30
N_VECS, DIM, N_PLANTED_VECS = 600, 32, 30
JACCARD_MIN = 0.7  # ngram_jaccard_pairs_minhash threshold
COSINE_MIN = 0.95  # rp_band_near_pairs threshold
#: 3-shingle Jaccard above which a MinHash-LSH candidate counts as useful;
#: 16 hashes in 4 bands put the LSH s-curve midpoint near (1/4)^(1/4)
LSH_USEFUL = 0.7
CALLS = ("minhash", "ngram", "rp_pairs", "cosine_topk")
SPANS = {
    "minhash": "extras.dedup.minhash_lsh_pairs",
    "ngram": "extras.dedup.ngram_jaccard_pairs_minhash",
    "rp_pairs": "extras.similarity.rp_band_near_pairs",
    "cosine_topk": "extras.similarity.cosine_topk",
}


def generate(rng) -> dict:
    docs, text_pairs = inputs.near_dup_corpus(rng, N_DOCS, N_PLANTED_DOCS)
    vecs, vec_pairs = inputs.embeddings(rng, N_VECS, DIM, N_PLANTED_VECS)
    order, query = rng.permutation(len(CALLS)).tolist(), rng.normal(size=DIM)
    return {
        "docs": docs,
        "text_pairs": text_pairs,
        "vecs": vecs,
        "vec_pairs": vec_pairs,
        "order": order,
        "query": query,
        "digest_parts": [docs, vecs, repr((text_pairs, vec_pairs, order)), query],
    }


class DedupPass:
    def __init__(self, ctx, inp):
        self.ctx, self.inp = ctx, inp
        self.found: dict[str, set] = {"ngram": set(), "rp_pairs": set()}
        self.last: dict[str, list] = {}
        self._sets: dict[int, dict] = {}

    def prepare(self) -> None:
        spark = self.ctx.spark
        docs_path = os.path.join(self.ctx.workdir, "dedup_docs")
        vecs_path = os.path.join(self.ctx.workdir, "dedup_vecs")
        spark.createDataFrame(self.inp["docs"]).write.parquet(docs_path)
        spark.createDataFrame(pd.DataFrame({
            "id": np.arange(len(self.inp["vecs"]), dtype=np.int64), "vec": list(self.inp["vecs"]),
        })).write.parquet(vecs_path)
        self.docs, self.vecs = spark.read.parquet(docs_path), spark.read.parquet(vecs_path)

    # --- ops -------------------------------------------------------------

    def _call(self, kind: str, query):
        if kind == "minhash":
            return [(r["doc_a"], r["doc_b"]) for r in dedup.minhash_lsh_pairs(self.docs, "content", "doc_id").collect()]
        if kind == "ngram":
            rows = dedup.ngram_jaccard_pairs_minhash(self.docs, "content", "doc_id", threshold=JACCARD_MIN).collect()
            # the operator leaves its shingle frame cached for reuse; a caller
            # running many passes releases it, as its docstring asks
            self.ctx.spark.catalog.clearCache()
            return [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in rows]
        if kind == "rp_pairs":
            rows = similarity.rp_band_near_pairs(self.vecs, "id", "vec", threshold=COSINE_MIN).collect()
            return [(r["id_a"], r["id_b"], r["cosine"]) for r in rows]
        rows = similarity.cosine_topk(self.vecs, "id", "vec", query.tolist(), k=10).collect()
        return [(r["id"], r["cosine"]) for r in rows]

    def _traced(self, kind: str, query):
        with self.ctx.tracer.span(f"op.{kind}"), self.ctx.tracer.span(SPANS[kind]) as span:
            out = self._call(kind, query)
            span["pairs"] = len(out)
            return out

    def run(self, rec) -> None:
        """One pass; traced runs trace every call (one sample per call)."""
        q = self.inp["query"]
        for i in self.inp["order"]:
            kind = CALLS[i]
            fn = (lambda: self._traced(kind, q)) if self.ctx.tracer is not None else (lambda: self._call(kind, q))
            got = rec.op(kind, fn, check=lambda got, kind=kind: self._check(kind, q, got))
            if got is not None:
                self.last[kind] = got
                if kind in self.found:
                    self.found[kind] |= {(a, b) for a, b, *_ in got}

    # --- oracle ----------------------------------------------------------

    def _shingles(self, k: int) -> list[set]:
        if k not in self._sets:
            self._sets[k] = checks.token_sets(self.inp["docs"]["content"].tolist(), k)
        return self._sets[k]

    def _check(self, kind: str, query, got) -> str | None:
        n_docs, vecs = len(self.inp["docs"]), self.inp["vecs"]
        if kind == "cosine_topk":
            want = checks.cosine_topk_oracle(vecs, query, 10)
            if [g[0] for g in got] != [w[0] for w in want] or any(
                abs(g[1] - w[1]) > 1e-9 for g, w in zip(got, want)
            ):
                return f"cosine_topk {got[:3]}... != oracle {want[:3]}..."
            return None
        ids = [(p[0], p[1]) for p in got]
        limit = n_docs if kind in ("minhash", "ngram") else len(vecs)
        if len(set(ids)) != len(ids) or any(not 0 <= a < b < limit for a, b in ids):
            return f"{kind}: pairs not distinct (a < b) ids"
        if kind == "ngram":
            sets = self._shingles(1)
            for a, b, jac in got:
                exact = checks.jaccard(sets[a], sets[b])
                if abs(exact - jac) > 1e-12 or exact < JACCARD_MIN:
                    return f"ngram pair ({a}, {b}) jaccard {jac} != exact {exact}"
        if kind == "rp_pairs":
            for a, b, cos in got:
                exact = checks.cosine(vecs, a, b)
                if abs(exact - cos) > 1e-9 or exact < COSINE_MIN:
                    return f"rp pair ({a}, {b}) cosine {cos} != exact {exact}"
        return None

    # --- report ----------------------------------------------------------

    def recall(self) -> float:
        planted = set(self.inp["text_pairs"]) | {("v",) + p for p in self.inp["vec_pairs"]}
        found = (self.found["ngram"] & set(self.inp["text_pairs"])) | {
            ("v",) + p for p in self.found["rp_pairs"] & set(self.inp["vec_pairs"])
        }
        return len(found) / len(planted)

    def planted(self) -> int:
        return len(self.inp["text_pairs"]) + len(self.inp["vec_pairs"])

    def named(self, rec) -> dict:
        return {
            "near_dup_pass_s": (sum(x for k in CALLS for x in rec.plain_ms[k] + rec.traced_ms[k]) / 1000.0, "s"),
            "near_dup_recall": (self.recall(), "ratio"),
        }

    def lsh_precision(self) -> float:
        """Share of MinHash-LSH candidates whose exact 3-shingle Jaccard
        reaches LSH_USEFUL: the useful part of the candidate work."""
        pairs, sets = self.last.get("minhash", []), self._shingles(3)
        return sum(checks.jaccard(sets[a], sets[b]) >= LSH_USEFUL for a, b in pairs) / max(1, len(pairs))

    def rp_precision(self) -> float:
        pairs = self.last.get("rp_pairs", [])
        return sum(checks.cosine(self.inp["vecs"], a, b) >= COSINE_MIN for a, b, _ in pairs) / max(1, len(pairs))

    def layers(self, tracer, fold) -> dict:
        dedup_ids = [s["id"] for k in ("minhash", "ngram") for s in tracer.named(SPANS[k])]
        return {
            "extras.dedup.minhash_lsh_ms": p50(span_ms(tracer, SPANS["minhash"])),
            "extras.dedup.ngram_minhash_ms": p50(span_ms(tracer, SPANS["ngram"])),
            "extras.dedup.pairs_reported": float(len(self.last.get("minhash", []))),
            "extras.dedup.pair_precision": self.lsh_precision(),
            "extras.dedup.shuffle_write_bytes": fold.total(tracer, dedup_ids, "shuffle_write_bytes") / max(1, len(dedup_ids)),
            "extras.similarity.band_pairs_ms": p50(span_ms(tracer, SPANS["rp_pairs"])),
            "extras.similarity.cosine_topk_ms": p50(span_ms(tracer, SPANS["cosine_topk"])),
            "extras.similarity.pairs_reported": float(len(self.last.get("rp_pairs", []))),
            "extras.similarity.pair_precision": self.rp_precision(),
        }
