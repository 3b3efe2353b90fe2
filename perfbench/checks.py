"""Answer checks against the repo's own oracles, run outside timed phases.

Each check returns ``None`` when the engine's answer is right, else a short
description of the difference; a wrong answer counts as a failed op.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
from pyspark.sql import functions as F

from elasticsearch_aggregation_geoclustering_spark.functions import bm25
from elasticsearch_aggregation_geoclustering_spark.functions.tokenizer import tokenize_python
from elasticsearch_aggregation_geoclustering_spark.operators.clustering import geo_point_clustering
from elasticsearch_aggregation_geoclustering_spark.operators.oracle import cluster_points_oracle
from elasticsearch_aggregation_geoclustering_spark.testing import PARIS_POINTS

#: centroids are means summed in a different order by Spark and numpy
CENTROID_TOL = 1e-9


class Bm25Model:
    """From-scratch postings over documents, indexed by engine doc id.

    ``add`` registers a document version under its engine doc id.  Queries
    take the doc ids that are live (soft deletes hide a doc from matches)
    and the doc ids that count in corpus statistics (all versions until a
    merge drops tombstoned ones), mirroring Lucene soft-delete semantics.
    """

    def __init__(self):
        self.tf: dict[int, Counter] = {}
        self.dl: dict[int, int] = {}

    def add(self, doc_id: int, content: str) -> None:
        toks = tokenize_python(content)
        self.tf[doc_id] = Counter(toks)
        self.dl[doc_id] = len(toks)

    def _postings(self, terms, counted):
        out = {}
        for t in sorted(set(terms)):
            ids = np.array([d for d in counted if self.tf[d].get(t)], dtype=np.int64)
            if ids.size:
                out[t] = (ids, np.array([self.tf[d][t] for d in ids.tolist()], dtype=np.int64))
        return out

    def topk(self, terms, k, live, counted, mode="OR") -> list[tuple[int, float]]:
        """BM25 top-k over the live docs, with corpus statistics over the
        counted ones."""
        counted = sorted(counted)
        postings = self._postings(terms, counted)
        dl = np.zeros(max(counted) + 1, dtype=np.int64)
        dl[counted] = [self.dl[d] for d in counted]
        avgdl = float(dl.sum()) / len(counted)
        ranked = bm25.score_topk_numpy(postings, dl, len(counted), avgdl, terms, len(counted), mode)
        return [r for r in ranked if r[0] in live][:k]

    def matches(self, terms, mode, live) -> set[int]:
        terms = set(terms)
        need = len(terms) if mode.upper() == "AND" else 1
        return {d for d in live if sum(1 for t in terms if self.tf[d].get(t)) >= need}


def check_topk(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> str | None:
    """Rank- and score-identical, as functions.bm25 promises."""
    if [g[0] for g in got] != [w[0] for w in want]:
        return f"ranks {[g[0] for g in got]} != oracle {[w[0] for w in want]}"
    for (d, gs), (_, ws) in zip(got, want):
        if gs != ws:
            return f"doc {d} score {gs!r} != oracle {ws!r}"
    return None


def cluster_signature(clusters) -> list[tuple]:
    return [(c.cell, c.doc_count, c.lat, c.lon, tuple(sorted(c.cells))) for c in clusters]


def check_clusters(got: list[tuple], want: list[tuple]) -> str | None:
    if len(got) != len(want):
        return f"{len(got)} clusters != oracle {len(want)}"
    for g, w in zip(got, want):
        if (g[0], g[1], g[4]) != (w[0], w[1], w[4]):
            return f"cluster cell {g[0]} count {g[1]} != oracle cell {w[0]} count {w[1]}"
        if abs(g[2] - w[2]) > CENTROID_TOL or abs(g[3] - w[3]) > CENTROID_TOL:
            return f"cluster {g[0]} centroid {g[2:4]} != oracle {w[2:4]}"
    return None


def oracle_clusters(lons, lats, zoom, **params) -> list[tuple]:
    return cluster_signature(cluster_points_oracle(lons, lats, zoom, **params))


def fixture_a_goldens(spark) -> list[tuple[str, str | None]]:
    """The 15-point Fixture A goldens (FIXTURES.md): ``(case, problem)``."""
    df = spark.createDataFrame(PARIS_POINTS, "doc_id long, lon double, lat double").repartition(3)
    results = []

    def run(name, frame, zoom, expect, **params):
        buckets = geo_point_clustering(frame, zoom=zoom, **params).to_buckets()
        try:
            ok = expect(buckets)
        except (IndexError, KeyError):
            ok = False
        got = [(b["doc_count"], b["centroid"]) for b in buckets]
        results.append((f"golden_{name}", None if ok else f"buckets {got}"))

    def near(b, lat, lon):
        return abs(b["centroid"]["lat"] - lat) < 1e-6 and abs(b["centroid"]["lon"] - lon) < 1e-6

    run("zoom0", df, 0, lambda b: [x["doc_count"] for x in b] == [15])
    run("zoom1", df, 1, lambda b: [x["doc_count"] for x in b] == [15]
        and near(b[0], 48.8468417795375, 2.331401154398918))
    run("zoom9", df, 9, lambda b: [x["doc_count"] for x in b] == [9, 6]
        and near(b[0], 48.83695897646248, 2.380013056099415)
        and near(b[1], 48.86166598415002, 2.258483301848173)
        and set(b[0]["geohash_grids"]) == {"u09wn", "u09tz", "u09ty", "u09tx", "u09tv", "u09tt"}
        and set(b[1]["geohash_grids"]) == {"u09w5", "u09tg", "u09tf"})
    run("zoom11", df, 11, lambda b: len(b) == 9 and b[0]["doc_count"] == 1 and b[1]["doc_count"] == 2)
    run("zoom25", df, 25, lambda b: len(b) == 15 and all(x["doc_count"] == 1 for x in b))
    run("zoom9_size1", df, 9, lambda b: len(b) == 1, size=1)
    box = df.where(F.col("lon").between(2.23, 2.29) & F.col("lat").between(48.84, 48.88))
    run("zoom9_bbox", box, 9, lambda b: len(b) == 1 and b[0]["doc_count"] >= 1)
    return results


def token_sets(contents: list[str], k: int) -> list[set[str]]:
    """Distinct k-word shingles per document, as extras.dedup defines them."""
    out = []
    for text in contents:
        toks = tokenize_python(text)
        out.append(set(toks) if k == 1 else {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)})
    return out


def jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter) if a or b else 0.0


def cosine(vecs: np.ndarray, a: int, b: int) -> float:
    va, vb = vecs[a], vecs[b]
    return float(va @ vb / (np.sqrt(va @ va) * np.sqrt(vb @ vb)))


def cosine_topk_oracle(vecs: np.ndarray, query: np.ndarray, k: int) -> list[tuple[int, float]]:
    cos = vecs @ query / (np.sqrt(np.einsum("ij,ij->i", vecs, vecs)) * np.sqrt(query @ query))
    order = np.lexsort((np.arange(len(cos)), -cos))[:k]
    return [(int(i), float(cos[i])) for i in order]
