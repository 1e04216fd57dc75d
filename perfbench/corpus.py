"""Seeded text corpus for the ``corpus_curation`` workload.

Documents are space-separated lowercase alphabetic tokens (plus the
stopwords the quality gates count), so the non-alpha and stopword gates
pass on purpose and only the length gate and the duplicate check drop
documents. Planted on top of independent base documents:

- exact duplicates: a later document with the same text as a base one;
- near duplicates: a later copy of a base document with a few tokens
  replaced, whose 3-shingle Jaccard similarity is recorded;
- short documents under the 20-token minimum.

Each base document is the source of at most one planted copy, so the
planted pairs are the only similar pairs by construction; the checks
still recompute Jaccard for every pair the operator reports.
"""

from __future__ import annotations

import math
import random
import string
from dataclasses import dataclass

STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")
SHINGLE_K = 3
THRESHOLD = 0.5  # operators.dedup.JACCARD_THRESHOLD
MAX_DF = 400  # operators.dedup.MAX_DF
N_BANDS, BAND_ROWS = 4, 2  # operators.dedup LSH banding


@dataclass
class Corpus:
    docs: list[tuple[int, str]]
    exact_dups: set[int]  # doc ids that repeat an earlier document
    near_pairs: dict[tuple[int, int], float]  # (a, b) -> planted Jaccard
    short_docs: set[int]


def shingle_set(text: str) -> set[str]:
    tok = text.lower().split(" ")
    return {" ".join(tok[i : i + SHINGLE_K]) for i in range(len(tok) - SHINGLE_K + 1)}


def make_corpus(seed: int, n_docs: int) -> Corpus:
    rng = random.Random(seed)
    vocab = sorted(
        {
            "".join(rng.choices(string.ascii_lowercase, k=rng.randint(3, 9)))
            for _ in range(6000)
        }
    )
    cum, total = [], 0.0
    for r in range(len(vocab)):  # Zipf-like word frequencies
        total += 1.0 / (r + 10)
        cum.append(total)

    def sentence(n: int) -> list[str]:
        words = rng.choices(vocab, cum_weights=cum, k=n)
        return [w if rng.random() > 0.15 else rng.choice(STOPWORDS) for w in words]

    docs: list[tuple[int, str]] = []
    exact, near, short = set(), {}, set()
    bases: list[int] = []
    while len(docs) < n_docs:
        doc_id = len(docs)
        r = rng.random()
        if bases and r < 0.06:
            src = bases.pop(rng.randrange(len(bases)))
            docs.append((doc_id, docs[src][1]))
            exact.add(doc_id)
        elif bases and r < 0.12:
            src = bases.pop(rng.randrange(len(bases)))
            tok = docs[src][1].split(" ")
            for i in rng.sample(range(len(tok)), max(1, len(tok) // rng.randint(12, 40))):
                tok[i] = rng.choice(vocab)
            text = " ".join(tok)
            docs.append((doc_id, text))
            a, b = shingle_set(docs[src][1]), shingle_set(text)
            near[(src, doc_id)] = len(a & b) / len(a | b)
        elif r < 0.15:
            docs.append((doc_id, " ".join(sentence(rng.randint(5, 19)))))
            short.add(doc_id)
        else:
            docs.append((doc_id, " ".join(sentence(rng.randint(40, 160)))))
            bases.append(doc_id)
    return Corpus(docs, exact, near, short)


def capped_shingles(corpus: Corpus) -> dict[int, set[str]]:
    """Per-document shingle sets with the operator's stop-shingle cap
    (shingles in more than ``MAX_DF`` documents are dropped)."""
    sets = {i: shingle_set(t) for i, t in corpus.docs}
    df: dict[str, int] = {}
    for s in sets.values():
        for sh in s:
            df[sh] = df.get(sh, 0) + 1
    hot = {sh for sh, c in df.items() if c > MAX_DF}
    if hot:
        sets = {i: s - hot for i, s in sets.items()}
    return sets


def planted_pairs(corpus: Corpus, sets: dict[int, set[str]]) -> dict[tuple[int, int], float]:
    """Planted pairs (exact and near) at or above the threshold, with their
    Jaccard similarity on the capped shingle sets."""
    text_to_first: dict[str, int] = {}
    for i, t in corpus.docs:
        text_to_first.setdefault(t, i)
    pairs = {}
    for i in corpus.exact_dups:
        src = text_to_first[corpus.docs[i][1]]
        pairs[(src, i)] = 1.0
    for (a, b) in corpus.near_pairs:
        j = jaccard(sets[a], sets[b])
        if j >= THRESHOLD:
            pairs[(a, b)] = j
    return pairs


def jaccard(a: set, b: set) -> float:
    u = len(a | b)
    return len(a & b) / u if u else 0.0


def recall_floor(jaccards: list[float]) -> float:
    """Lower bound on LSH recall: expected banding probability
    ``1 - (1 - J^r)^b`` averaged over the planted pairs, minus four
    binomial standard deviations."""
    if not jaccards:
        return 0.0
    ps = [1.0 - (1.0 - j**BAND_ROWS) ** N_BANDS for j in jaccards]
    mean = sum(ps) / len(ps)
    sd = math.sqrt(sum(p * (1 - p) for p in ps)) / len(ps)
    return max(0.0, mean - 4.0 * sd)
