"""The package calls the workloads make, and their traced compositions.

A traced composition issues an op as the public calls it is made of, each
inside its own span, and returns the same answer as the plain op.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from harness import maybe_span, timed
from elasticsearch_aggregation_geoclustering_spark.geo.planner import plan_clustering
from elasticsearch_aggregation_geoclustering_spark.operators.clustering import geo_cell_aggregate
from elasticsearch_aggregation_geoclustering_spark.operators.merge import Cluster, merge_clusters
from elasticsearch_aggregation_geoclustering_spark.plans.index_build import build_index
from elasticsearch_aggregation_geoclustering_spark.plans.query import InvertedIndex


def build_reps(ctx, docs_pdf, name: str, reps: int, docs_per_segment: int, after=None):
    """Build the index ``reps`` times into fresh directories; returns the
    per-rep seconds (build plus ``after(index, rep)``) and the last index."""
    secs, idx = [], None
    for r in range(reps):
        if idx is not None:
            idx.refresh()  # releases the previous rep's pinned cache
        index_dir = os.path.join(ctx.workdir, f"{name}{r}")
        with maybe_span(ctx.tracer, "plans.index_build.build_index") as span:
            dt, stats = timed(lambda: build_index(
                ctx.spark, ctx.spark.createDataFrame(docs_pdf), index_dir,
                docmap_cols=("lon", "lat"), docs_per_segment=docs_per_segment,
            ))
            span["segments"] = stats["n_segments"]
            span["docs"] = stats["n_docs"]
        idx = InvertedIndex.open(ctx.spark, index_dir)
        if after is not None:
            dt += timed(lambda: after(idx, r))[0]
        secs.append(dt)
    return secs, idx


def dir_bytes(path: str) -> int:
    """Bytes of the files under ``path``, without Hadoop checksum sidecars."""
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
        if not f.startswith(".")
    )


def search(idx, terms, mode: str = "OR") -> list[tuple[int, float]]:
    return [(r["doc_id"], r["score"]) for r in idx.search(terms, k=10, mode=mode).collect()]


def traced_search(tracer, idx, terms, cached: set, mode: str = "OR"):
    """search as df_of, a sibling decode of the postings on a cache miss
    (materialised to a noop sink), then the search itself."""
    with tracer.span("op.search"):
        with tracer.span("plans.query.df_of"):
            dfs = idx.df_of(terms)
        if not set(terms) <= cached:
            with tracer.span("functions.codec.term_doc_rows", rows=sum(dfs.values())):
                idx.term_doc_rows(sorted(dfs)).write.format("noop").mode("overwrite").save()
        with tracer.span("plans.query.search"):
            return search(idx, terms, mode)


def traced_count(tracer, idx, terms, mode: str) -> int:
    with tracer.span("op.count"), tracer.span("plans.query.match_count"):
        return idx.match_count(terms, mode)


def candidates(rows) -> list[Cluster]:
    return [
        Cluster(cell=r["cell"], lat=r["centroid_lat"], lon=r["centroid_lon"], doc_count=r["doc_count"])
        for r in rows
    ]


def traced_cluster(tracer, frame, zoom: int, rows_in: int, **params):
    """geo_point_clustering as its public parts: the cell aggregate with the
    top-``size`` collect, then the driver-side merge."""
    plan = plan_clustering(zoom, **params)
    with tracer.span("operators.clustering.cell_agg", rows=rows_in) as span:
        rows = (
            geo_cell_aggregate(frame, "lon", "lat", zoom, **params)
            .orderBy(F.desc("cell")).limit(plan.size).collect()
        )
        span["cells"] = len(rows)
    cands = candidates(rows)
    with tracer.span("operators.merge.merge_clusters", candidates=len(cands)) as span:
        out = merge_clusters(cands, plan.radius_m, plan.ratio)
        span["clusters"] = len(out)
    return out
