"""Per-layer metrics from the spans and the folded event log.

Layer names follow the package's modules; ``spark`` is the Spark runtime
the package drives.  A metric of a layer a workload does not touch stays 0.
"""

from __future__ import annotations

from harness import p50, span_ms


def _ids(tracer, *names) -> list[int]:
    return [s["id"] for n in names for s in tracer.named(n)]


def _sum_attr(tracer, name: str, attr: str) -> float:
    return float(sum(s.get(attr, 0) for s in tracer.named(name)))


def query(tracer, fold, ops) -> dict:
    """plans.query, functions.codec and sources.segments, from search and
    count ops.  ``ops`` are the executed query ops as
    ``(cache_hit, sum_df, hits)``; ``hits`` is None for counts."""
    calls = _ids(tracer, "plans.query.df_of", "plans.query.search", "plans.query.match_count")
    op_ids = _ids(tracer, "op.search", "op.count")
    n_ops = max(1, len(op_ids))
    decode = _ids(tracer, "functions.codec.term_doc_rows")
    decode_s = sum(span_ms(tracer, "functions.codec.term_doc_rows")) / 1000.0
    searches = [o for o in ops if o[2] is not None]
    return {
        "plans.query.df_lookup_ms": p50(span_ms(tracer, "plans.query.df_of")),
        "plans.query.jobs_per_op": fold.total(tracer, calls, "jobs") / n_ops,
        "plans.query.tasks_per_op": fold.total(tracer, calls, "tasks") / n_ops,
        "plans.query.driver_gap_ms": p50(
            [fold.driver_gap_ms(tracer, s) for s in _ids(tracer, "plans.query.search", "plans.query.match_count")]
        ),
        "plans.query.shuffle_write_bytes_per_op": fold.total(tracer, calls, "shuffle_write_bytes") / n_ops,
        "plans.query.postings_rows_per_hit": sum(o[1] for o in searches) / max(1, sum(o[2] for o in searches)),
        "plans.query.cache_hit_share": sum(o[0] for o in ops) / max(1, len(ops)),
        "functions.codec.decode_ms": p50(span_ms(tracer, "functions.codec.term_doc_rows")),
        "functions.codec.decoded_rows_per_s": (
            _sum_attr(tracer, "functions.codec.term_doc_rows", "rows") / decode_s if decode_s else 0.0
        ),
        "sources.segments.input_bytes_per_miss": fold.total(tracer, decode, "input_bytes") / max(1, len(decode)),
    }


def clustering(tracer, fold) -> dict:
    agg = _ids(tracer, "operators.clustering.cell_agg")
    agg_s = sum(span_ms(tracer, "operators.clustering.cell_agg")) / 1000.0
    merge_us = sum(span_ms(tracer, "operators.merge.merge_clusters")) * 1000.0
    cands = _sum_attr(tracer, "operators.merge.merge_clusters", "candidates")
    n_merge = max(1, len(tracer.named("operators.merge.merge_clusters")))
    return {
        "operators.clustering.cell_agg_ms": p50(span_ms(tracer, "operators.clustering.cell_agg")),
        "operators.clustering.cells_to_driver": _sum_attr(tracer, "operators.clustering.cell_agg", "cells") / max(1, len(agg)),
        "operators.clustering.shuffle_write_bytes_per_op": fold.total(tracer, agg, "shuffle_write_bytes") / max(1, len(agg)),
        "operators.clustering.input_rows_per_s": (
            _sum_attr(tracer, "operators.clustering.cell_agg", "rows") / agg_s if agg_s else 0.0
        ),
        "operators.merge.ms": p50(span_ms(tracer, "operators.merge.merge_clusters")),
        "operators.merge.candidates": cands / n_merge,
        "operators.merge.clusters_out": _sum_attr(tracer, "operators.merge.merge_clusters", "clusters") / n_merge,
        "operators.merge.us_per_candidate": merge_us / cands if cands else 0.0,
    }


def index_build(tracer, fold) -> dict:
    """Per-build medians over the set-up builds."""
    builds = _ids(tracer, "plans.index_build.build_index")

    def med(key):
        return p50([fold.total(tracer, [b], key) for b in builds])

    return {
        "plans.index_build.build_task_cpu_ms": med("cpu_ms"),
        "plans.index_build.build_gc_ms": med("gc_ms"),
        "plans.index_build.build_shuffle_write_bytes": med("shuffle_write_bytes"),
        "plans.index_build.build_spill_bytes": med("spill_bytes"),
        "plans.index_build.build_jobs": med("jobs"),
        "plans.index_build.build_driver_gap_ms": p50([fold.driver_gap_ms(tracer, b) for b in builds]),
        "plans.index_build.segments_written": p50(
            [s.get("segments", 0) for s in tracer.named("plans.index_build.build_index")]
        ),
    }


def spark(fold, rec, kinds) -> dict:
    out = {
        "spark.jobs": fold.all_groups("jobs"),
        "spark.tasks": fold.all_groups("tasks"),
        "spark.gc_ms": fold.all_groups("gc_ms"),
        "spark.spill_bytes": fold.all_groups("spill_bytes"),
    }
    for name, group in kinds.items():
        out[f"trace.overhead_share.{name}"] = rec.overhead_share(group)
    return out
