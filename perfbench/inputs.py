"""Seeded input generators: every input a workload feeds the package.

Each generator takes a ``numpy.random.Generator`` built from the run's
``--seed`` (the serving corpus is ``testing.synth_documents`` itself, which
takes the seed) and returns plain pandas/numpy data; the package sees only these
generated inputs.  :func:`digest` hashes a generated input set so two runs can
show that the same seed gave byte-identical inputs
(``python3 perfbench/run.py --check-inputs --seed N``).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

# Fixture B's template lines, hot words and languages (FIXTURES.md)
from elasticsearch_aggregation_geoclustering_spark.testing import _HOT_TERMS as HOT_TERMS
from elasticsearch_aggregation_geoclustering_spark.testing import _LANGS as LANGS
from elasticsearch_aggregation_geoclustering_spark.testing import _LINE_TEMPLATES as LINE_TEMPLATES

KEY_COLS = ("repo", "path", "commit")


def corpus(
    rng: np.random.Generator,
    n_docs: int,
    *,
    first_id: int,
    lines: tuple[int, int],
    n_idents: int,
    n_nums: int,
) -> pd.DataFrame:
    """Fixture B-like documents ``(repo, path, commit, lang, content, lon, lat)``
    over a chosen vocabulary, for the workloads that cannot use
    ``testing.synth_documents`` as it is.

    It differs from Fixture B in three ways: document ids start at
    ``first_id``, so write batches get new keys; the vocabulary is
    ``n_idents`` Zipf identifiers and ``n_nums`` numbers, so index_ingest
    can keep its merge short and the near-dup corpus its pairs distinct;
    and there is no ``uniq_<i>`` sentinel word.  Keys, languages, template
    lines, hot words and the hash-based Paris coordinates are Fixture B's.
    """
    ids = np.arange(first_id, first_id + n_docs)
    n_lines = rng.integers(lines[0], lines[1], n_docs)
    total = int(n_lines.sum())
    tpl = rng.integers(0, len(LINE_TEMPLATES), total)
    idents = (rng.zipf(1.3, total) - 1) % n_idents
    nums = rng.integers(0, n_nums, total)
    n_hot = rng.zipf(1.5, n_docs) % 40
    hot_words = rng.integers(0, len(HOT_TERMS), int(n_hot.sum()))
    text_lines = [
        LINE_TEMPLATES[t].format(id=f"id_{i}", num=n)
        for t, i, n in zip(tpl.tolist(), idents.tolist(), nums.tolist())
    ]
    contents, pos, hpos = [], 0, 0
    for nl, nh in zip(n_lines.tolist(), n_hot.tolist()):
        hot = " ".join(HOT_TERMS[w] for w in hot_words[hpos : hpos + nh].tolist())
        contents.append("\n".join(text_lines[pos : pos + nl]) + f"\n{hot}\n")
        pos, hpos = pos + nl, hpos + nh
    langs = [LANGS[i % len(LANGS)] for i in ids.tolist()]
    repos = [f"org{i % 7}/proj{i % 23}" for i in ids.tolist()]
    paths = [f"src/mod{i % 41}/file{i}.{lang}" for i, lang in zip(ids.tolist(), langs)]
    h = np.array([int(hashlib.sha256(f"{r}/{p}".encode()).hexdigest()[:8], 16) for r, p in zip(repos, paths)])
    return pd.DataFrame(
        {
            "repo": repos,
            "path": paths,
            "commit": [hashlib.sha256(f"commit-{i}".encode()).hexdigest()[:12] for i in ids.tolist()],
            "lang": langs,
            "content": contents,
            "lon": 2.2 + (h % 3000) / 10_000.0,
            "lat": 48.8 + ((h >> 16) % 1000) / 10_000.0,
        }
    )


def points(rng: np.random.Generator, n: int, *, n_cities: int = 40, background: float = 0.2) -> pd.DataFrame:
    """``(lon, lat)`` doc values: Gaussian "cities" plus uniform background."""
    n_bg = int(n * background)
    n_city = n - n_bg
    centers_lon = rng.uniform(-170.0, 170.0, n_cities)
    centers_lat = rng.uniform(-60.0, 70.0, n_cities)
    spread = rng.uniform(0.05, 1.5, n_cities)
    which = rng.integers(0, n_cities, n_city)
    lon = np.concatenate(
        [centers_lon[which] + rng.normal(0.0, 1.0, n_city) * spread[which], rng.uniform(-180.0, 180.0, n_bg)]
    )
    lat = np.concatenate(
        [centers_lat[which] + rng.normal(0.0, 1.0, n_city) * spread[which] / 2, rng.uniform(-85.0, 85.0, n_bg)]
    )
    order = rng.permutation(n)
    return pd.DataFrame({"lon": np.clip(lon, -180.0, 179.999999)[order], "lat": np.clip(lat, -85.0, 85.0)[order]})


def near_dup_corpus(
    rng: np.random.Generator, n_docs: int, n_planted: int
) -> tuple[pd.DataFrame, list[tuple[int, int]]]:
    """Documents ``(doc_id, content)`` with ``n_planted`` near-duplicates.

    A planted copy keeps its source's lines but rewrites about one line in
    twenty, so its token-set Jaccard to the source stays high.  Returns the
    frame and the planted ``(source_id, copy_id)`` pairs, source < copy.
    """
    base = corpus(rng, n_docs, first_id=0, lines=(15, 60), n_idents=5000, n_nums=20000)["content"].tolist()
    sources = rng.choice(n_docs, n_planted, replace=False)
    pairs = []
    for j, src in enumerate(sources.tolist()):
        lines = base[src].split("\n")
        edit = rng.random(len(lines)) < 0.05
        for k in np.flatnonzero(edit).tolist():
            lines[k] = f"edited_{j}_{k} = {int(rng.integers(0, 1 << 30))}"
        base.append("\n".join(lines))
        pairs.append((src, n_docs + j))
    return pd.DataFrame({"doc_id": np.arange(len(base), dtype=np.int64), "content": base}), pairs


def embeddings(
    rng: np.random.Generator, n: int, dim: int, n_planted: int
) -> tuple[np.ndarray, list[tuple[int, int]]]:
    """Gaussian vectors with ``n_planted`` appended near copies (cosine ~0.99)."""
    vecs = rng.normal(size=(n, dim))
    sources = rng.choice(n, n_planted, replace=False)
    copies = vecs[sources] + rng.normal(scale=0.1, size=(n_planted, dim))
    pairs = [(int(s), n + j) for j, s in enumerate(sources.tolist())]
    return np.vstack([vecs, copies]), pairs


def digest(*parts) -> str:
    """sha256 over generated inputs (frames, arrays, lists), in order."""
    h = hashlib.sha256()
    for part in parts:
        if isinstance(part, pd.DataFrame):
            for name in part.columns:
                col = part[name]
                h.update(name.encode())
                if col.dtype == object:
                    h.update("\x00".join(col.tolist()).encode())
                else:
                    h.update(np.ascontiguousarray(col.to_numpy()).tobytes())
        elif isinstance(part, np.ndarray):
            h.update(np.ascontiguousarray(part).tobytes())
        else:
            h.update(repr(part).encode())
    return h.hexdigest()
