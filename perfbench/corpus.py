"""Seeded, vectorized Zipf web-text corpus for the benchmark.

Every token of a corpus is drawn in one numpy call (inverse-CDF sampling of
a Zipf(s) law over ``vocab`` ranks); doc lengths are log-normal around
``mean_len`` tokens. The head ranks are the engine's stopwords, as on real
web text, so the stoplist and stopword-bearing phrases are exercised.

Doc ids are spaced by ``stride`` so that even a few thousand docs span
more than one doc-range bucket (``bucket = doc_id // bucket_size``, with
bucket_size floored at ``EngineConfig.min_bucket_docs``). Ingest waves use
the offsets 1..stride-1 of the same id grid, so each wave's ids interleave
with every earlier wave's.

Run as a script to print, for each seed, the counts and fingerprint of
every workload's corpus (one JSON line per seed and workload)::

    PYTHONPATH=. python3 perfbench/corpus.py --seed 7
    PYTHONPATH=. python3 perfbench/corpus.py --seed $(seq 0 99) > perfbench/corpus_counts.jsonl

The second line rewrites the recorded table that every run checks its
corpus against (``recorded``).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
from dataclasses import dataclass

import numpy as np

from colbert_jl_spark.config import STOPWORDS, EngineConfig


@dataclass(frozen=True)
class CorpusSpec:
    docs: int
    vocab: int
    stride: int
    zipf_s: float = 1.05
    mean_len: float = 62.0
    len_sigma: float = 0.6
    max_len: int = 300


# One corpus per workload. Small, so each run, Spark start and set-up
# included, fits the time budget in BENCHMARK.json: at these sizes a build
# or compaction costs mostly Spark's fixed per-job overhead. The strides
# put every index over two doc buckets.
SPECS = {
    "build-webtext": CorpusSpec(docs=2000, vocab=500, stride=30),
    "serve-hot": CorpusSpec(docs=2000, vocab=600, stride=30),
    "ingest-serve": CorpusSpec(docs=800, vocab=500, stride=80),
}
RECORDED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "corpus_counts.jsonl")


@dataclass
class Corpus:
    doc_ids: np.ndarray  # int64, one per doc
    texts: list[str]

    def rows(self) -> list[tuple[int, str, str]]:
        return [(int(d), t, "en") for d, t in zip(self.doc_ids, self.texts)]


def term_names(vocab: int) -> np.ndarray:
    """Rank → term string; ranks below len(STOPWORDS) are the stopwords."""
    names = np.array([f"t{r}" for r in range(vocab)], dtype=object)
    names[: len(STOPWORDS)] = STOPWORDS
    return names


def _zipf_cdf(vocab: int, s: float) -> np.ndarray:
    w = np.arange(1, vocab + 1, dtype=np.float64) ** (-s)
    cdf = np.cumsum(w)
    return cdf / cdf[-1]


def generate(
    spec: CorpusSpec,
    seed: int,
    slots: np.ndarray | None = None,
    offset: int = 0,
    needle: str | None = None,
) -> Corpus:
    """Docs with ids ``slot * stride + offset``, one per slot (default:
    slots 0..spec.docs-1). ``needle``, when given, is put at the start of
    one seeded doc's text."""
    rng = np.random.default_rng([seed, offset])
    if slots is None:
        slots = np.arange(spec.docs, dtype=np.int64)
    n = len(slots)
    mu = np.log(spec.mean_len) - spec.len_sigma**2 / 2
    lens = np.clip(
        np.rint(rng.lognormal(mu, spec.len_sigma, n)), 1, spec.max_len
    ).astype(np.int64)
    ranks = np.searchsorted(
        _zipf_cdf(spec.vocab, spec.zipf_s), rng.random(int(lens.sum())), side="right"
    )
    tokens = term_names(spec.vocab)[np.minimum(ranks, spec.vocab - 1)]
    texts = [" ".join(t) for t in np.split(tokens, np.cumsum(lens)[:-1])]
    if needle is not None:  # first, so doc_maxlen truncation cannot drop it
        j = int(rng.integers(n))
        texts[j] = f"{needle} {texts[j]}"
    return Corpus(np.asarray(slots, dtype=np.int64) * spec.stride + offset, texts)


def _pairs(corpus_parts: list[Corpus]) -> tuple[np.ndarray, np.ndarray]:
    """Distinct (doc_id, term) postings of the union, as two aligned
    arrays — what the engine's tokenizer + stoplist + doc_maxlen yield."""
    cfg = EngineConfig()
    stop = set(cfg.stopwords)
    seen: set[tuple[int, str]] = set()
    for part in corpus_parts:
        for d, text in zip(part.doc_ids, part.texts):
            d = int(d)
            seen.update((d, t) for t in text.split(" ")[: cfg.doc_maxlen] if t not in stop)
    docs = np.fromiter((d for d, _ in seen), dtype=np.int64, count=len(seen))
    terms = np.array([t for _, t in seen], dtype=object)
    return docs, terms


def doc_freq(corpus_parts: list[Corpus]) -> dict[str, int]:
    _, terms = _pairs(corpus_parts)
    uniq, cnt = np.unique(terms.astype(str), return_counts=True)
    return dict(zip(uniq.tolist(), cnt.tolist()))


def count(corpus_parts: list[Corpus]) -> dict:
    """Exact index-shape counts for the union of ``corpus_parts``: docs,
    distinct indexed terms, postings (distinct doc×term), and term×bucket
    groups under the engine's default doc-bucket sizing."""
    cfg = EngineConfig()
    ids = np.concatenate([p.doc_ids for p in corpus_parts])
    bucket_size = max(cfg.min_bucket_docs, -(-len(ids) // cfg.num_index_partitions))
    docs, terms = _pairs(corpus_parts)
    _, term_ix = np.unique(terms.astype(str), return_inverse=True)
    n_terms = int(term_ix.max()) + 1 if len(term_ix) else 0
    groups = np.unique((docs // bucket_size) * max(n_terms, 1) + term_ix)
    return {
        "docs": int(len(ids)),
        "distinct_terms": n_terms,
        "postings": int(len(docs)),
        "term_bucket_groups": int(len(groups)),
        "doc_buckets": int(len(np.unique(ids // bucket_size))),
        "bucket_size": int(bucket_size),
    }


def fingerprint(corpus_parts: list[Corpus]) -> str:
    h = hashlib.sha256()
    for part in corpus_parts:
        h.update(part.doc_ids.tobytes())
        for text in part.texts:
            h.update(text.encode())
            h.update(b"\n")
    return h.hexdigest()[:16]


def describe(workload: str, seed: int, parts: list[Corpus]) -> dict:
    return {"workload": workload, "seed": seed, "fingerprint": fingerprint(parts), **count(parts)}


def recorded(workload: str, seed: int) -> dict | None:
    """The counts and fingerprint recorded in ``corpus_counts.jsonl`` for
    this workload's corpus at ``seed``, or None if the seed is not there."""
    with open(RECORDED) as f:
        for line in f:
            row = json.loads(line)
            if row["workload"] == workload and row["seed"] == seed:
                return row
    return None


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, nargs="+", required=True)
    args = ap.parse_args()
    for seed in args.seed:
        for workload, spec in SPECS.items():
            print(json.dumps(describe(workload, seed, [generate(spec, seed)])))


if __name__ == "__main__":
    main()
