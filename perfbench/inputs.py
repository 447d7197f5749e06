"""Seeded inputs: corpora, vectors and the query mix.

Everything here is a pure function of the seed (and the index built
from those inputs, for the document-frequency bands), so the same seed
gives the same inputs.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

# the 30-word vocabulary of the sf0.1 documents.parquet test table
BASE_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_SYLLABLES = (
    "ka lo mi re su ta ne vo pi da zu fe go hi ju be no ra si te".split()
)
_SIMPLE = re.compile(r"[a-z0-9]+")


def simple_tokens(text: str) -> list[str]:
    """The SimpleAnalyzer token stream (lowercase runs of [a-z0-9])."""
    return _SIMPLE.findall(text.lower())


def tail_vocab(size: int) -> list[str]:
    """``size`` distinct pseudo-words of two to four syllables, in a
    fixed order (rank 0 is the most frequent in the Zipf tail)."""
    out, n = [], len(_SYLLABLES)
    for length in (2, 3, 4):
        for i in range(n ** length):
            w, x = "", i
            for _ in range(length):
                w += _SYLLABLES[x % n]
                x //= n
            if w not in BASE_WORDS:
                out.append(w)
            if len(out) == size:
                return out
    raise ValueError(f"tail vocabulary larger than {len(out)}")


def documents(n_docs: int, seed: int, first_id: int = 0, tail: int = 3000) -> pd.DataFrame:
    """A table shaped like sf0.1 ``documents.parquet`` (doc_id, text,
    lang, source, n_chars): 8-95 uniform draws from the 30 base words
    per document (so those are the hot terms), plus 0-5 draws from a
    Zipf(1) tail vocabulary that supplies the mid and rare
    document-frequency bands. ~300 text bytes per document."""
    rng = np.random.default_rng([seed, first_id, 1])
    vocab = np.array(BASE_WORDS + tail_vocab(tail), dtype=object)
    w = 1.0 / np.arange(1, tail + 1)
    w /= w.sum()
    n_base = rng.integers(8, 96, n_docs)
    n_tail = rng.integers(0, 6, n_docs)
    base_tok = rng.integers(0, len(BASE_WORDS), int(n_base.sum()))
    tail_tok = len(BASE_WORDS) + rng.choice(tail, int(n_tail.sum()), p=w)
    texts = []
    bo = to = 0
    for i in range(n_docs):
        toks = np.concatenate([base_tok[bo:bo + n_base[i]], tail_tok[to:to + n_tail[i]]])
        bo += n_base[i]
        to += n_tail[i]
        rng.shuffle(toks)
        texts.append(" ".join(vocab[toks]))
    ids = np.arange(first_id, first_id + n_docs, dtype=np.int64)
    return pd.DataFrame({
        "doc_id": ids,
        "text": texts,
        "lang": np.array(LANGS, dtype=object)[rng.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def vectors(n: int, dims: int, seed: int, labels: int = 10) -> pd.DataFrame:
    """A table shaped like ``embeddings.parquet`` (vec_id, embedding,
    label): unit vectors scattered around ``labels`` random centres."""
    rng = np.random.default_rng([seed, 2])
    centres = rng.standard_normal((labels, dims))
    lab = rng.integers(0, labels, n)
    v = centres[lab] + 1.2 * rng.standard_normal((n, dims))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(v.astype(np.float32)),
        "label": lab.astype(np.int32),
    })


def exact_topk(vecs: np.ndarray, qid: int, k: int) -> list[int]:
    """Exact cosine top-k of row ``qid`` (itself excluded), ties by id."""
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cos = unit @ unit[qid]
    cos[qid] = -np.inf
    order = np.lexsort((np.arange(len(cos)), -cos))
    return [int(i) for i in order[:k]]


def df_bands(term_df: dict[str, int], n_docs: int) -> dict[str, list[str]]:
    """Split the dictionary into document-frequency bands: hot
    (df > 10% of docs), mid (df > 5 and <= 10%), rare (df <= 5).
    Each band is sorted by (df desc, term) so draws are reproducible."""
    bands = {"hot": [], "mid": [], "rare": []}
    for t, df in term_df.items():
        if df > 0.10 * n_docs:
            bands["hot"].append(t)
        elif df > 5:
            bands["mid"].append(t)
        elif df >= 1:
            bands["rare"].append(t)
    for k in bands:
        bands[k].sort(key=lambda t: (-term_df[t], t))
    return bands


def _pick(rng, band: list[str], fallback: list[str]) -> str:
    pool = band or fallback
    return pool[int(rng.integers(len(pool)))]


def _adjacent_pair(rng, texts: list[str], gap: int) -> tuple[str, str]:
    """Two tokens ``gap`` positions apart in a random document."""
    while True:
        toks = simple_tokens(texts[int(rng.integers(len(texts)))])
        if len(toks) > gap:
            i = int(rng.integers(len(toks) - gap))
            if toks[i] != toks[i + gap]:
                return toks[i], toks[i + gap]


def query_mix(seed: int, bands: dict[str, list[str]], texts: list[str],
              n_vectors: int, traced: bool) -> list[tuple[str, tuple]]:
    """One pass of the closed-loop mix as (kind, spec) pairs.

    kind "search" specs: ("term", t) | ("and", a, b) | ("or", t1..t4) |
    ("phrase", a, b) | ("sloppy", a, b, slop) | ("prefix", p) |
    ("dismax", a, b, tie); kind "sql64": (must, should1, should2);
    kind "count": ("and", a, b); kinds "hnsw"/"pq": (query vec_id,).
    A pass is 14 searches (two of each kind, with their own terms), then
    5 sql64 and 3 HNSW queries, interleaved, so that these run after
    the JVM has warmed up over the searches. The traced run, which runs
    every search twice, has the first 7 searches only, and a count and
    a PQ query after the others."""
    rng = np.random.default_rng([seed, 3])
    hot, mid, rare = bands["hot"], bands["mid"], bands["rare"]
    allt = hot + mid + rare

    def searches():
        pre = _pick(rng, mid, allt)
        return [
            ("term", _pick(rng, rare, allt)),
            ("and", _pick(rng, hot, allt), _pick(rng, mid, allt)),
            ("or", _pick(rng, hot, allt), _pick(rng, mid, allt),
             _pick(rng, rare, allt), _pick(rng, mid, allt)),
            ("phrase", *_adjacent_pair(rng, texts, 1)),
            ("sloppy", *_adjacent_pair(rng, texts, 2), 2),
            ("prefix", pre[:3]),
            ("dismax", _pick(rng, hot, allt), _pick(rng, rare, allt), 0.3),
        ]

    first = searches()
    vids = [int(x) for x in rng.choice(n_vectors, 4, replace=False)]
    others = []
    for i in range(5):
        others.append(
            ("sql64", (_pick(rng, mid, allt), _pick(rng, hot, allt), _pick(rng, rare, allt))))
        if i < 3:
            others.append(("hnsw", (vids[i],)))
    if traced:
        others += [("count", ("and", _pick(rng, hot, allt), _pick(rng, mid, allt))),
                   ("pq", (vids[3],))]
    search = first if traced else first + searches()
    return [("search", s) for s in search] + others


def warmup_ops(seed: int, bands: dict[str, list[str]], n_vectors: int,
               traced: bool) -> list[tuple[str, tuple]]:
    """Two sql64 queries and one HNSW query (and, traced, a count) drawn
    apart from the measured mix: run untimed before the read phase so
    first-run costs (code generation, first Python-worker use of a code
    path) are not measured as latency. Searches are warm from set-up's
    first search."""
    rng = np.random.default_rng([seed, 5])
    hot, mid, rare = bands["hot"], bands["mid"], bands["rare"]
    allt = hot + mid + rare
    ops = [
        ("sql64", (_pick(rng, mid, allt), _pick(rng, hot, allt), _pick(rng, rare, allt))),
        ("hnsw", (int(rng.integers(n_vectors)),)),
        ("sql64", (_pick(rng, mid, allt), _pick(rng, hot, allt), _pick(rng, rare, allt))),
    ]
    if traced:
        ops.append(("count", ("and", _pick(rng, hot, allt), _pick(rng, mid, allt))))
    return ops
