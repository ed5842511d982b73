"""Seeded document corpus for the ``batch_curate`` workload, with planted
ground truth for every curation stage.

Text is built from a sparse Markov chain over synthetic lowercase words, so
fluent documents share bigrams with the LM training slice (low perplexity)
while gibberish documents do not.  Each document has one *kind*; the kind
fixes the stage that must drop it:

=============  ==========================================  =================
kind           construction                                dropped by
=============  ==========================================  =================
``base``       fluent chain walk                           (kept)
``pii``        fluent walk + e-mail/phone tail             (kept, redacted)
``pii_twin``   same walk as a ``pii`` doc, other contacts  dedupe_exact_text
``lowq``       digits and punctuation                      quality_filter
``exact``      case/space variant of an earlier doc        dedupe_exact_text
``near``       one word replaced in an earlier doc         dedupe_near
``contam``     fluent walk + a 12-word span of an eval doc decontaminate
``gibberish``  words outside the chain's vocabulary        perplexity_filter
=============  ==========================================  =================

Copies always get a larger ``doc_id`` than their source, so "keep the
smallest id" makes the source the survivor.  Fluent walks that share an
8-gram with the eval set by accident are re-drawn, so only ``contam`` docs
are contaminated.
"""

from __future__ import annotations

import numpy as np

# the quality heuristic's English stopwords double as chain states
STOPWORDS = ["the", "and", "of", "to", "in", "is", "you", "that", "it", "for"]
_CONS = list("bcdfgklmnprstvz")
_VOWELS = list("aeiou")

KIND_SHARES = {
    "lowq": 0.04,
    "exact": 0.05,
    "near": 0.06,
    "pii": 0.03,
    "contam": 0.05,
    "gibberish": 0.04,
}  # a pii doc brings one pii_twin; the rest is base
N_EVAL_DOCS = 100
N_TRAIN_DOCS = 1500
TRAIN_ID_BASE = 10_000_000
EVAL_ID_BASE = 20_000_000
QUALITY_MIN = 0.4
MAX_XENT = 5.5
NEAR_THRESHOLD = 0.8


class Corpus:
    """The generated inputs plus the expected keep/drop per doc."""

    def __init__(self, docs, train, evals, kind):
        self.docs = docs  # list[(doc_id, text)]
        self.train = train
        self.evals = evals
        self.kind = kind  # doc_id -> kind


def _vocab(rng, n: int) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(2, 4))
        words.add("".join(_CONS[rng.integers(len(_CONS))] + _VOWELS[rng.integers(5)] for _ in range(k)))
    return sorted(words)


def _junk_doc(rng, alphabet: str, word_len: tuple[int, int]) -> str:
    """50-89 random words over ``alphabet`` (no chain word can match)."""
    n = int(rng.integers(50, 90))
    lens = rng.integers(*word_len, size=n)
    chars = np.array(list(alphabet))[rng.integers(len(alphabet), size=int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    return " ".join("".join(w) for w in np.split(chars, cuts))


class _Chain:
    def __init__(self, rng, n_words: int = 800, fanout: int = 6):
        self.words = _vocab(rng, n_words) + STOPWORDS
        n = len(self.words)
        stop_ids = np.arange(n_words, n)
        succ = rng.integers(0, n_words, size=(n, fanout))
        # roughly one successor in five is a stopword
        is_stop = rng.random((n, fanout)) < 0.2
        succ[is_stop] = rng.choice(stop_ids, size=int(is_stop.sum()))
        self.succ = succ
        self.rng = rng

    def walks(self, n: int) -> list[np.ndarray]:
        """``n`` walks of 50-89 word ids, all steps drawn at once."""
        rng = self.rng
        lengths = rng.integers(50, 90, size=n)
        ids = np.empty((n, int(lengths.max())), dtype=np.int64)
        ids[:, 0] = rng.integers(len(self.words) - len(STOPWORDS), size=n)
        picks = rng.integers(0, self.succ.shape[1], size=ids.shape)
        for j in range(1, ids.shape[1]):
            ids[:, j] = self.succ[ids[:, j - 1], picks[:, j]]
        return [ids[i, : lengths[i]] for i in range(n)]

    def text(self, ids) -> str:
        return " ".join(self.words[i] for i in ids)


def _gram_keys(ids: np.ndarray, n: int = 8) -> set[bytes]:
    """The word-id ``n``-grams of one walk, as hashable byte strings."""
    win = np.lib.stride_tricks.sliding_window_view(ids.astype(np.int16), n)
    return {row.tobytes() for row in win}


def make_corpus(seed: int, n_docs: int) -> Corpus:
    """``n_docs`` candidate docs (ids 0..n-1) plus the LM training slice
    and the eval set, all derived from ``seed``."""
    rng = np.random.default_rng(seed)
    chain = _Chain(rng)
    evals = chain.walks(N_EVAL_DOCS)
    eval8 = set().union(*(_gram_keys(t) for t in evals))
    train = chain.walks(N_TRAIN_DOCS)

    n_copies = {k: int(round(share * n_docs)) for k, share in KIND_SHARES.items()}
    n_pii = n_copies["pii"]
    n_base = n_docs - sum(n_copies.values()) - n_pii  # each pii doc has a twin
    n_clean = n_base + n_pii + n_copies["contam"]
    clean: list[np.ndarray] = []
    while len(clean) < n_clean:
        clean += [t for t in chain.walks(n_clean - len(clean)) if not (_gram_keys(t) & eval8)]
    docs: list[tuple[int, str]] = []
    kind: dict[int, str] = {}

    def add(k: str, text: str) -> None:
        kind[len(docs)] = k
        docs.append((len(docs), text))

    base = clean[:n_base]
    for t in base:
        add("base", chain.text(t))
    for t, (a, b) in zip(clean[n_base : n_base + n_pii], rng.integers(0, 10_000, size=(n_pii, 2))):
        add("pii", chain.text(t) + f" contact user{a}@mail{a % 7}.example.com or call 555-{a % 1000:03d}-{a:04d}")
        add("pii_twin", chain.text(t) + f" contact agent{b}@desk{b % 5}.example.org or call 555-{b % 1000:03d}-{b:04d}")
    for _ in range(n_copies["lowq"]):
        add("lowq", _junk_doc(rng, "0123456789#$%&*!?", (2, 7)))
    for t in clean[n_base + n_pii :]:
        ev = evals[int(rng.integers(len(evals)))]
        s = int(rng.integers(0, len(ev) - 12))
        p = int(rng.integers(1, len(t) - 1))
        add("contam", chain.text(np.concatenate([t[:p], ev[s : s + 12], t[p:]])))
    for _ in range(n_copies["gibberish"]):
        # q/x/w/j never occur in the chain's words, so every bigram is unseen
        add("gibberish", _junk_doc(rng, "qxwjaeiou", (4, 9)))
    n_content = len(chain.words) - len(STOPWORDS)
    # each base doc is the source of at most one exact and one near copy, so
    # every seed gives the same cluster shapes and stage survivor counts
    for src in rng.choice(n_base, size=n_copies["exact"], replace=False):
        words = [w.upper() if j % 5 == 0 else w for j, w in enumerate(chain.text(base[src]).split())]
        add("exact", "  ".join(words) + " ")
    for src in rng.choice(n_base, size=n_copies["near"], replace=False):
        t = base[src].copy()
        j = len(t) // 2
        t[j] = (t[j] + 1) % n_content
        add("near", chain.text(t))
    return Corpus(
        docs,
        [(TRAIN_ID_BASE + i, chain.text(t)) for i, t in enumerate(train)],
        [(EVAL_ID_BASE + i, chain.text(t)) for i, t in enumerate(evals)],
        kind,
    )
