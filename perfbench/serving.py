"""serving: what a reader of the engine does.

Set-up builds the index of the Fixture B corpus
(``testing.synth_documents`` with the run's seed), pins the decoded
postings of the hot words with ``cache_postings``, and writes a seeded
point table to parquet.  The loop interleaves a fixed pattern of ops, with
terms and zooms drawn from the seed:

* ``search``: BM25 top-10 of a query shaped like Fixture C's query set:
  single hot, mid-df or ``uniq_*`` words, and two-word AND and OR queries
  of a hot and a mid-df word.
  Hot-only queries hit the postings cache; the others miss it, scan and
  Arrow-decode.
* ``count``: AND ``match_count`` of a two-word query, as Fixture C's AND
  queries.
* ``hits_cluster``: the paper's composed flow, ``score_matches`` joined to
  the docmap, then ``geo_point_clustering``.
* ``cluster``: ``geo_point_clustering`` of the point table, read like
  doc_values, over zooms 2, 7, 11 and 14, plus a ``ratio`` variant and a
  bounding-box pre-filter.  Low zoom puts the work in the distributed cell
  aggregate, high zoom in the driver-side merge of up to ``size`` cells.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import functions as F

import checks
import inputs
import layers
from calls import build_reps, dir_bytes, search, traced_cluster, traced_count, traced_search
from harness import p50, pct
from elasticsearch_aggregation_geoclustering_spark.operators.clustering import geo_point_clustering
from elasticsearch_aggregation_geoclustering_spark.testing import synth_documents

GOLDENS = True
N_DOCS = 1500
DOCS_PER_SEGMENT = 512
N_POINTS = 40_000
SETUP_REPS = 3
#: the query classes of Fixture C (FIXTURES.md), 10 hot + 5 mid-df + 5
#: uniq_* single-term queries, 10 two-term AND and 10 two-term OR, scaled
#: down to 8 slots with the same shares
QUERY_SLOTS = ["hot", "and", "or", "mid", "hot", "and", "uniq", "or"]
#: df range of Fixture C's "mid-df" words: in 1–20% of the documents
MID_DF = (15, 300)
#: the op pattern, repeated: the 8 query slots as searches, 2 AND counts,
#: one search-then-cluster and 2 clusterings of the point table.  No
#: measured traffic of this engine exists; these op-type shares are the
#: benchmark's own choice, so that each op type gets samples in one run
PATTERN = ["search", "search", "cluster", "search", "count", "search", "hits_cluster",
           "search", "search", "cluster", "search", "count", "search"]
N_OPS = 650
#: untimed ops before the loop, one of each kind: the first call of a plan
#: shape pays its code generation
WARM_STEPS = 7
#: cluster variants, in turn: (zoom, params, bounding box?)
CLUSTER_VARIANTS = [(14, {}, False), (2, {}, False), (11, {}, True), (7, {}, False),
                    (11, {}, False), (7, {"ratio": 1.5}, False)]
HITS_ZOOMS = (9, 11, 13)
#: each query class's weight in search_ms: its share of the query slots
SEARCH_WEIGHTS = {c: QUERY_SLOTS.count(c) / len(QUERY_SLOTS) for c in sorted(set(QUERY_SLOTS))}
#: the recorded op kinds; a search records under its class
SEARCH = tuple(f"search.{c}" for c in SEARCH_WEIGHTS)
COUNT = ("count",)


def generate(seed: int) -> dict:
    docs = synth_documents(N_DOCS, seed)
    # synth_documents draws from default_rng(seed); the rest uses its own stream
    rng = np.random.default_rng([seed, 1])
    points = inputs.points(rng, N_POINTS)
    ordered = docs.sort_values(list(inputs.KEY_COLS)).reset_index(drop=True)
    model = checks.Bm25Model()
    for doc_id, content in enumerate(ordered["content"].tolist()):
        model.add(doc_id, content)
    df: dict[str, int] = {}
    for c in model.tf.values():
        for t in c:
            df[t] = df.get(t, 0) + 1
    hot = inputs.HOT_TERMS
    mid = sorted(t for t, n in df.items() if MID_DF[0] <= n <= MID_DF[1] and t not in hot)

    def two_words():
        # a hot word and a mid-df word: never all cached, so each query class
        # is all hits or all misses, and its median does not flip between them
        return [str(rng.choice(hot)), str(rng.choice(mid))]

    ops, n_query, n_cluster = [], 0, 0
    for i in range(N_OPS):
        kind = PATTERN[i % len(PATTERN)]
        op = {"kind": kind}
        if kind == "search":
            cls = QUERY_SLOTS[n_query % len(QUERY_SLOTS)]
            n_query += 1
            op["cls"], op["mode"] = cls, "AND" if cls == "and" else "OR"
            if cls == "hot":
                op["terms"] = [str(rng.choice(hot))]
            elif cls == "mid":
                op["terms"] = [str(rng.choice(mid))]
            elif cls == "uniq":
                op["terms"] = [f"uniq_{int(rng.integers(N_DOCS))}"]
            else:
                op["terms"] = two_words()
        elif kind == "count":  # match_count of a Fixture C two-term AND query
            op["terms"] = two_words()
        elif kind == "hits_cluster":  # hot words, so the clustering gets hundreds of points
            op["terms"] = rng.choice(hot, int(rng.integers(1, 3)), replace=False).tolist()
            op["zoom"] = int(rng.choice(HITS_ZOOMS))
        else:
            zoom, params, boxed = CLUSTER_VARIANTS[n_cluster % len(CLUSTER_VARIANTS)]
            n_cluster += 1
            box = None
            if boxed:  # a 6° x 4° box around a seeded point of the table
                lon, lat = points.iloc[int(rng.integers(N_POINTS))]
                box = (lon - 3.0, lon + 3.0, lat - 2.0, lat + 2.0)
            op.update(zoom=zoom, params=params, box=box)
        ops.append(op)
    return {
        "docs": docs,
        "points": points,
        "ordered": ordered,
        "model": model,
        "df": df,
        "ops": ops,
        "digest_parts": [docs, points, repr(ops)],
    }


class Workload:
    def __init__(self, ctx, inp):
        self.ctx, self.inp = ctx, inp
        self.hot = set(inputs.HOT_TERMS)
        self.oracle_cache: dict = {}
        self.done = 0
        self.query_ops: list[tuple[bool, int, int | None]] = []

    def setup(self) -> list[float]:
        def warm(idx, rep):
            idx.cache_postings(inputs.HOT_TERMS)
            path = os.path.join(self.ctx.workdir, f"points{rep}")
            self.ctx.spark.createDataFrame(self.inp["points"]).write.parquet(path)
            self.table = self.ctx.spark.read.parquet(path)

        secs, self.idx = build_reps(self.ctx, self.inp["docs"], "index", SETUP_REPS, DOCS_PER_SEGMENT, warm)
        self.build_s = secs
        self.stored_ratio = dir_bytes(self.idx.index_dir) / sum(
            len(c.encode()) for c in self.inp["docs"]["content"].tolist()
        )
        return secs

    # --- ops -------------------------------------------------------------

    def _hits_frame(self, terms):
        return self.idx.score_matches(terms).join(self.idx.docmap(), "doc_id")

    def _hits_traced(self, terms, zoom):
        tr = self.ctx.tracer
        with tr.span("op.hits_cluster"):
            with tr.span("plans.query.score_matches"):
                frame = self._hits_frame(terms)
            return checks.cluster_signature(traced_cluster(tr, frame, zoom, len(self._matches(terms, "OR"))))

    def _points(self, box):
        if box is None:
            return self.table
        return self.table.where(F.col("lon").between(box[0], box[1]) & F.col("lat").between(box[2], box[3]))

    def _mask(self, box):
        pts = self.inp["points"]
        if box is None:
            return np.ones(len(pts), dtype=bool)
        return pts["lon"].between(box[0], box[1]).to_numpy() & pts["lat"].between(box[2], box[3]).to_numpy()

    def _cluster_traced(self, op):
        with self.ctx.tracer.span("op.cluster"):
            rows_in = int(self._mask(op["box"]).sum())
            out = traced_cluster(self.ctx.tracer, self._points(op["box"]), op["zoom"], rows_in, **op["params"])
            return checks.cluster_signature(out)

    def step(self, rec, op):
        kind, terms = op["kind"], op.get("terms", [])
        self.done += 1
        cached, sum_df = set(terms) <= self.hot, sum(self.inp["df"].get(t, 0) for t in terms)
        if kind == "search":
            mode = op["mode"]
            got = rec.op(f"search.{op['cls']}", lambda: search(self.idx, terms, mode),
                         lambda: traced_search(self.ctx.tracer, self.idx, terms, self.hot, mode),
                         lambda got: checks.check_topk(got, self._topk(terms, mode)))
            if got is not None:
                self.query_ops.append((cached, sum_df, len(got)))
        elif kind == "count":
            want = lambda: len(self._matches(terms, "AND"))  # noqa: E731
            rec.op(kind, lambda: self.idx.match_count(terms, "AND"),
                   lambda: traced_count(self.ctx.tracer, self.idx, terms, "AND"),
                   lambda got: None if got == want() else f"match_count {terms} = {got}, oracle {want()}")
            self.query_ops.append((cached, sum_df, None))
        elif kind == "hits_cluster":
            zoom = op["zoom"]
            rec.op(kind, lambda: checks.cluster_signature(
                       geo_point_clustering(self._hits_frame(terms), zoom=zoom).clusters),
                   lambda: self._hits_traced(terms, zoom),
                   lambda got: checks.check_clusters(got, self._hits_oracle(terms, zoom)))
        else:
            rec.op(kind, lambda: checks.cluster_signature(
                       geo_point_clustering(self._points(op["box"]), zoom=op["zoom"], **op["params"]).clusters),
                   lambda: self._cluster_traced(op),
                   lambda got: checks.check_clusters(got, self._cluster_oracle(op)))

    def steps(self):
        for op in self.inp["ops"]:
            yield lambda rec, op=op: self.step(rec, op)

    def finish(self, rec) -> None:
        pass

    # --- oracles ---------------------------------------------------------

    def _cached(self, key, compute):
        if key not in self.oracle_cache:
            self.oracle_cache[key] = compute()
        return self.oracle_cache[key]

    def _topk(self, terms, mode):
        model = self.inp["model"]
        return self._cached(("topk", tuple(terms), mode),
                            lambda: model.topk(terms, 10, set(model.tf), model.tf.keys(), mode))

    def _matches(self, terms, mode):
        model = self.inp["model"]
        return self._cached(("match", tuple(terms), mode), lambda: model.matches(terms, mode, model.tf.keys()))

    def _hits_oracle(self, terms, zoom):
        def compute():
            ids = np.array(sorted(self._matches(terms, "OR")), dtype=np.int64)
            docs = self.inp["ordered"]
            return checks.oracle_clusters(docs["lon"].to_numpy()[ids], docs["lat"].to_numpy()[ids], zoom)
        return self._cached(("hits", tuple(terms), zoom), compute)

    def _cluster_oracle(self, op):
        def compute():
            m, pts = self._mask(op["box"]), self.inp["points"]
            return checks.oracle_clusters(pts["lon"].to_numpy()[m], pts["lat"].to_numpy()[m], op["zoom"], **op["params"])
        return self._cached(("cluster", op["zoom"], tuple(sorted(op["params"].items())), op["box"]), compute)

    # --- report ----------------------------------------------------------

    def shares(self) -> dict:
        done = self.inp["ops"][: self.done]
        reads = [o for o in done if o["kind"] in ("search", "count")]
        searches = [o for o in done if o["kind"] == "search"]
        clusters = [o for o in done if o["kind"] == "cluster"]
        out = {
            "cache_hit_share": sum(set(o["terms"]) <= self.hot for o in reads) / max(1, len(reads)),
            "rare_term_query_share": sum(not set(o["terms"]) <= self.hot for o in searches) / max(1, len(searches)),
        }
        for cls in sorted(set(QUERY_SLOTS)):
            out[f"query_{cls}_share"] = sum(o["cls"] == cls for o in searches) / max(1, len(searches))
        for zoom, params, boxed in CLUSTER_VARIANTS:
            name = f"zoom{zoom}" + "".join(f"_{k}{v}" for k, v in params.items()) + ("_bbox" if boxed else "")
            out[f"cluster_{name}_share"] = sum(
                o["zoom"] == zoom and o["params"] == params and (o["box"] is not None) == boxed for o in clusters
            ) / max(1, len(clusters))
        return out

    def search_ms(self, rec) -> list[float]:
        return [x for k in SEARCH for x in rec.plain_ms[k]]

    def count_ms(self, rec) -> list[float]:
        return [x for k in COUNT for x in rec.plain_ms[k]]

    def named(self, rec) -> dict:
        ms = rec.plain_ms
        return {
            "search_p90_ms": (pct(self.search_ms(rec), 90), "ms"),
            "hits_cluster_p50_ms": (p50(ms["hits_cluster"]), "ms"),
            "cluster_p50_ms": (p50(ms["cluster"]), "ms"),
            "cluster_p90_ms": (pct(ms["cluster"], 90), "ms"),
        }

    def layers(self, tracer, fold, rec) -> dict:
        return {
            **layers.query(tracer, fold, self.query_ops),
            **layers.clustering(tracer, fold),
            **layers.index_build(tracer, fold),
            **layers.spark(fold, rec, {
                "search": list(SEARCH), "count": list(COUNT),
                "hits_cluster": ["hits_cluster"], "cluster": ["cluster"],
            }),
        }
