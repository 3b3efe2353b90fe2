"""index_ingest: writes beside reads, then compaction and the near-dup pass.

Set-up times ``build_index`` of a seeded corpus.  The loop runs rounds of
``append_index`` (new keys), ``upsert_index`` (existing keys, new
content), ``delete_by_keys``, ``refresh()``, and read-after-write
``search`` / ``match_count``.  After the loop, ``tiered_merge_buckets`` plus
``merge_segments(apply_deletes=True)`` compact the index, the last round's
reads run again on the merged index, and the training-data pipeline's
near-dup pass (dedup_pass.py) runs once on its own seeded tables.  A change
that speeds reads at the cost of writes or space shows here.
"""

from __future__ import annotations

import glob
import hashlib
import os

import numpy as np
import pandas as pd

import checks
import dedup_pass
import inputs
import layers
from harness import maybe_span, p50, span_ms, timed
from calls import build_reps, dir_bytes, search, traced_count, traced_search
from elasticsearch_aggregation_geoclustering_spark.functions.tokenizer import doc_term_positions
from elasticsearch_aggregation_geoclustering_spark.plans.index_build import (
    append_index,
    delete_by_keys,
    merge_segments,
    tiered_merge_buckets,
    upsert_index,
)
from elasticsearch_aggregation_geoclustering_spark.plans.query import InvertedIndex
from elasticsearch_aggregation_geoclustering_spark.sources.segments import load_stats

N_DOCS = 400
DOCS_PER_SEGMENT = 128
SETUP_REPS = 3
N_APPEND, N_UPSERT, N_DELETE = 40, 20, 10
ROUNDS = 40
#: untimed steps before the loop: one round compiles each write and read plan
WARM_STEPS = 1
MERGE_FANIN = 16  # one merge bucket: merge_segments pays per (term, bucket)
#: a small vocabulary and no per-document sentinel words: merge_segments
#: pays per distinct (term, merge bucket), and the run must stay short
CORPUS_SHAPE = {"lines": (10, 40), "n_idents": 60, "n_nums": 20}
#: each search class's weight in search_ms: one search of each per round
SEARCH_WEIGHTS = {c: 1.0 for c in ("upsert", "append", "hot", "mid", "and", "or")}
SEARCH = tuple(f"search.{c}" for c in SEARCH_WEIGHTS)
WRITES = {"append": "plans.index_build.append_index", "upsert": "plans.index_build.upsert_index",
          "delete": "plans.index_build.delete_by_keys"}


def _key(row) -> tuple:
    return tuple(row[c] for c in inputs.KEY_COLS)


def generate(seed: int) -> dict:
    """The build corpus and ROUNDS write batches, planned against the live
    key set each earlier round leaves."""
    rng = np.random.default_rng(seed)
    base = inputs.corpus(rng, N_DOCS, first_id=0, **CORPUS_SHAPE)
    versions = [(_key(r), r["content"]) for _, r in base.iterrows()]
    live = {k: i for i, (k, _) in enumerate(versions)}  # key -> live version
    rounds = []
    for r in range(ROUNDS):
        new = inputs.corpus(rng, N_APPEND, first_id=N_DOCS + r * N_APPEND, **CORPUS_SHAPE)
        new["content"] += f"append_r{r}\n"
        keys = sorted(live)
        picked = rng.choice(len(keys), N_UPSERT + N_DELETE, replace=False).tolist()
        up_keys = [keys[i] for i in picked[:N_UPSERT]]
        del_keys = [keys[i] for i in picked[N_UPSERT:]]
        token = f"upsert_r{r}"
        up = pd.DataFrame([dict(zip(inputs.KEY_COLS, k)) for k in up_keys])
        up["content"] = [versions[live[k]][1] + f"\n{token}\n" for k in up_keys]
        up["lon"], up["lat"] = 2.3, 48.85
        hot = lambda: str(rng.choice(inputs.HOT_TERMS))  # noqa: E731
        mid = lambda: f"id_{int(rng.integers(10, CORPUS_SHAPE['n_idents']))}"  # noqa: E731
        rounds.append({
            "append": new,
            "upsert": up,
            "delete": pd.DataFrame([dict(zip(inputs.KEY_COLS, k)) for k in del_keys]),
            # (kind, class, terms, mode): the round's upserts and appends,
            # then Fixture C's query classes minus uniq_* (this corpus has none)
            "reads": [
                ("search", "upsert", [hot(), token], "OR"),
                ("search", "append", [hot(), f"append_r{r}"], "OR"),
                ("count", "count", [token, f"append_r{r}", mid()], "OR"),
                ("search", "hot", [hot()], "OR"),
                ("search", "mid", [mid()], "OR"),
                ("search", "and", [hot(), mid()], "AND"),
                ("search", "or", [hot(), mid()], "OR"),
            ],
        })
        first_new = len(versions)
        versions += [(_key(row), row["content"]) for _, row in new.iterrows()]
        live.update({versions[i][0]: i for i in range(first_new, len(versions))})
        for k, content in zip(up_keys, up["content"].tolist()):
            versions.append((k, content))
            live[k] = len(versions) - 1
        for k in del_keys:
            del live[k]
    dedup = dedup_pass.generate(rng)
    parts = [base] + [x for rd in rounds for x in (rd["append"], rd["upsert"], rd["delete"], repr(rd["reads"]))]
    return {"base": base, "rounds": rounds, "dedup": dedup, "digest_parts": parts + dedup["digest_parts"]}


class Workload:
    def __init__(self, ctx, inp):
        self.ctx, self.inp = ctx, inp
        self.versions: list[tuple[tuple, str]] = []  # ingested, in order
        self.live: dict[tuple, int] = {}  # key -> version index
        self.reads: list[tuple] = []  # (kind, terms, n_versions, live versions, merged?)
        self.query_ops: list[tuple[bool, int, int | None]] = []
        self.done_rounds = 0
        self.dedup = dedup_pass.DedupPass(ctx, inp["dedup"])

    @property
    def tracer(self):
        return self.ctx.tracer

    def setup(self) -> list[float]:
        base = self.inp["base"]
        self.build_s, self.idx = build_reps(self.ctx, base, "index", SETUP_REPS, DOCS_PER_SEGMENT)
        self.index_dir = self.idx.index_dir
        self._ingest(base)
        return self.build_s

    def _ingest(self, frame: pd.DataFrame) -> None:
        for _, row in frame.iterrows():
            self.versions.append((_key(row), row["content"]))
            self.live[_key(row)] = len(self.versions) - 1

    # --- ops -------------------------------------------------------------

    def _write(self, rec, kind: str, fn, frame: pd.DataFrame, after) -> None:
        """One write op; ``after`` updates the model once the write is done."""
        def traced():
            with self.tracer.span(f"op.{kind}"), self.tracer.span(WRITES[kind]):
                return fn()
        rec.op(kind, fn, traced)
        after(frame)

    def _read(self, rec, kind: str, cls: str, terms: list[str], mode: str, idx, merged: bool):
        snapshot = (len(self.versions), frozenset(self.live.values()), merged)
        n = len(self.reads)
        self.reads.append((kind, terms, mode) + snapshot)
        if kind == "search":
            got = rec.op("merged_search" if merged else f"search.{cls}", lambda: search(idx, terms, mode),
                         lambda: traced_search(self.tracer, idx, terms, set(), mode),
                         lambda got: self._check(n, got))
            if got is not None:
                self.query_ops.append((False, 0, len(got)))
        else:
            rec.op("merged_count" if merged else "count", lambda: idx.match_count(terms, mode),
                   lambda: traced_count(self.tracer, idx, terms, mode),
                   lambda got: self._check(n, got))
            self.query_ops.append((False, 0, None))

    def _refresh(self, rec):
        def traced():
            with self.tracer.span("op.refresh"), self.tracer.span("plans.query.refresh"):
                return self.idx.refresh()
        rec.op("refresh", self.idx.refresh, traced)

    def _delete(self, frame: pd.DataFrame) -> None:
        for _, row in frame.iterrows():
            del self.live[_key(row)]

    def _round(self, rec, rd) -> None:
        spark, d = self.ctx.spark, self.index_dir
        self._write(rec, "append", lambda: append_index(
            spark, spark.createDataFrame(rd["append"]), d, docmap_cols=("lon", "lat")), rd["append"], self._ingest)
        self._write(rec, "upsert", lambda: upsert_index(
            spark, spark.createDataFrame(rd["upsert"]), d, docmap_cols=("lon", "lat")), rd["upsert"], self._ingest)
        self._write(rec, "delete", lambda: delete_by_keys(
            spark, d, spark.createDataFrame(rd["delete"])), rd["delete"], self._delete)
        self._refresh(rec)
        for kind, cls, terms, mode in rd["reads"]:
            self._read(rec, kind, cls, terms, mode, self.idx, False)
        self.done_rounds += 1

    def steps(self):
        """One step per round, so every run measures whole rounds."""
        for rd in self.inp["rounds"]:
            yield lambda rec, rd=rd: self._round(rec, rd)

    def finish(self, rec) -> None:
        """Merge, re-run the last round's reads on the merged index, then
        read the docmap the oracles need (untimed)."""
        spark = self.ctx.spark
        self.segments_before = len(glob.glob(os.path.join(self.index_dir, "segments", "*.postings.parquet")))
        self.index_bytes = dir_bytes(self.index_dir)
        merged_dir = self.index_dir + "_merged"

        def merge():
            buckets = tiered_merge_buckets(self.index_dir, fanin=MERGE_FANIN)
            merge_segments(spark, self.index_dir, merged_dir, buckets=buckets, apply_deletes=True)

        with maybe_span(self.tracer, "op.merge"), maybe_span(self.tracer, "plans.index_build.merge_segments"):
            self.merge_s = timed(merge)[0]
        merged = InvertedIndex.open(spark, merged_dir)
        self.segments_after = load_stats(merged_dir)["n_segments"]
        # the merge writes the whole merged index: segments, term stats, docmap
        self.merge_written = dir_bytes(merged_dir)
        self.live_bytes = sum(len(self.versions[v][1].encode()) for v in self.live.values())
        self.stored_ratio = self.merge_written / self.live_bytes
        # the last round's read-after-write search and count, on the merged index
        reads = self.inp["rounds"][max(0, self.done_rounds - 1)]["reads"]
        for kind, cls, terms, mode in (reads[0], reads[2]):
            self._read(rec, kind, cls, terms, mode, merged, True)
        if self.tracer is not None:
            batches = [self.inp["base"]["content"].iloc[i : i + 128] for i in range(0, N_DOCS, 128)]
            with self.tracer.span("functions.tokenizer.doc_term_positions", docs=N_DOCS):
                for b in batches:
                    doc_term_positions(b.reset_index(drop=True))
        self.doc_id = {
            (tuple(r[c] for c in inputs.KEY_COLS), r["sha256"]): r["doc_id"]
            for r in spark.read.parquet(os.path.join(self.index_dir, "docmap")).collect()
        }
        self.dedup.prepare()
        self.dedup.run(rec)

    # --- oracle ----------------------------------------------------------

    def _model(self):
        if not hasattr(self, "model"):
            self.model = checks.Bm25Model()
            self.vid = []
            for key, content in self.versions:
                d = self.doc_id[(key, hashlib.sha256(content.encode()).hexdigest())]
                self.vid.append(d)
                self.model.add(d, content)
        return self.model

    def _check(self, n: int, got):
        kind, terms, mode, n_versions, live, merged = self.reads[n]
        model = self._model()
        live_ids = {self.vid[v] for v in live}
        counted = live_ids if merged else {self.vid[v] for v in range(n_versions)}
        if kind == "search":
            return checks.check_topk(got, model.topk(terms, 10, live_ids, counted, mode))
        want = len(model.matches(terms, mode, live_ids))
        return None if got == want else f"match_count {terms} = {got}, oracle {want}"

    # --- report ----------------------------------------------------------

    def shares(self) -> dict:
        return {"rounds": float(self.done_rounds), "planted_pairs": float(self.dedup.planted())}

    def search_ms(self, rec) -> list[float]:
        return [x for k in SEARCH for x in rec.plain_ms[k]]

    def count_ms(self, rec) -> list[float]:
        return rec.plain_ms["count"]

    def named(self, rec) -> dict:
        ms = rec.plain_ms
        write_s = sum(sum(ms[k]) + sum(rec.traced_ms[k]) for k in ("append", "upsert", "delete", "refresh")) / 1000.0
        write_docs = sum(n * (len(ms[k]) + len(rec.traced_ms[k]))
                         for k, n in (("append", N_APPEND), ("upsert", N_UPSERT), ("delete", N_DELETE)))
        return {
            "merged_search_ms": (p50(ms["merged_search"]), "ms"),
            "merged_count_ms": (p50(ms["merged_count"]), "ms"),
            "write_docs_per_s": (write_docs / write_s if write_s else 0.0, "docs/s"),
            "merge_s": (self.merge_s, "s"),
            **self.dedup.named(rec),
        }

    def layers(self, tracer, fold, rec) -> dict:
        writes = [s["id"] for name in WRITES.values() for s in tracer.named(name)]
        tok_ms = sum(span_ms(tracer, "functions.tokenizer.doc_term_positions"))
        return {
            **layers.query(tracer, fold, self.query_ops),
            **layers.index_build(tracer, fold),
            "plans.index_build.append_ms_per_batch": p50(span_ms(tracer, WRITES["append"])),
            "plans.index_build.upsert_ms_per_batch": p50(span_ms(tracer, WRITES["upsert"])),
            "plans.index_build.delete_ms_per_batch": p50(span_ms(tracer, WRITES["delete"])),
            "plans.index_build.refresh_ms": p50(span_ms(tracer, "plans.query.refresh")),
            "plans.index_build.jobs_per_write_batch": fold.total(tracer, writes, "jobs") / max(1, len(writes)),
            "plans.index_build.merge_bytes_rewritten": float(self.merge_written),
            "plans.index_build.merge_write_amplification": self.merge_written / self.live_bytes,
            "plans.index_build.segments_before_merge": float(self.segments_before),
            "plans.index_build.segments_after_merge": float(self.segments_after),
            "sources.segments.index_bytes": float(self.index_bytes),
            "functions.tokenizer.docs_per_s": N_DOCS / (tok_ms / 1000.0) if tok_ms else 0.0,
            **self.dedup.layers(tracer, fold),
            **layers.spark(fold, rec, {
                "search": [*SEARCH, "merged_search"], "count": ["count", "merged_count"],
                "write": ["append", "upsert", "delete", "refresh"],
            }),
        }


