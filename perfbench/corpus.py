"""Seeded webtext corpus and query sets for the benchmark.

Everything here is a pure function of the seed: the same seed gives
byte-identical documents and queries, so a run can be repeated exactly and
two commits can be compared on the same inputs.

The corpus has the shape the engine's ``documents`` table expects
(doc_id, text, lang, source, n_chars):

* content words follow a Zipf law over a synthetic vocabulary, so a few head
  terms have posting lists covering a large share of the corpus and a long
  tail of terms has short lists;
* English documents carry about 30% function words (mostly Lucene stop words),
  and about 12% of documents are German, French or Spanish by their marker
  words, so the curation language filter has work to do;
* about 5% of documents are planted near-duplicates of an earlier document:
  half exact copies, half with one content token replaced.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

VOCAB_SIZE = 20_000
ZIPF_EXPONENT = 1.0
FUNCTION_WORD_SHARE = 0.3
PLANTED_SHARE = 0.05
N_SOURCES = 50

FUNCTION_WORDS = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it", "was", "for",
           "a", "on", "with", "as", "by", "at", "this", "be"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit", "werden"),
    "fr": ("le", "la", "les", "et", "est", "une", "des", "dans", "pour", "que"),
    "es": ("el", "los", "las", "es", "un", "una", "para", "por", "con", "del"),
}
_ALL_FUNCTION_WORDS = frozenset(w for ws in FUNCTION_WORDS.values() for w in ws)
LANG_SHARES = {"en": 0.88, "de": 0.04, "fr": 0.04, "es": 0.04}

_ONSETS = ("b", "c", "d", "f", "g", "h", "j", "k", "l", "m", "n", "p", "r", "s",
           "t", "v", "w", "z", "br", "ch", "cr", "dr", "gl", "pl", "pr", "sh",
           "st", "tr")
_NUCLEI = ("a", "e", "i", "o", "u", "ai", "ea", "ou")
_CODAS = ("", "", "", "n", "r", "s", "l", "m", "t", "nd", "st")


@dataclass(frozen=True)
class Corpus:
    docs: pd.DataFrame  # doc_id, text, lang, source, n_chars
    vocab: list[str]  # content words, Zipf rank order (rank 0 = most frequent)
    planted: list[tuple[int, int]]  # (original doc_id, near-duplicate doc_id)


def make_vocab(rng: np.random.Generator, size: int = VOCAB_SIZE) -> list[str]:
    """``size`` distinct pronounceable words of 1-3 syllables."""
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        n_syl = rng.choice([1, 2, 3], size=4 * size, p=[0.1, 0.6, 0.3])
        parts = [
            rng.choice(_ONSETS, size=(4 * size, 3)),
            rng.choice(_NUCLEI, size=(4 * size, 3)),
            rng.choice(_CODAS, size=(4 * size, 3)),
        ]
        for i in range(4 * size):
            w = "".join(parts[0][i, j] + parts[1][i, j] + parts[2][i, j] for j in range(n_syl[i]))
            if w not in seen and w not in _ALL_FUNCTION_WORDS:
                seen.add(w)
                words.append(w)
                if len(words) == size:
                    break
    return words


def make_corpus(seed: int, n_docs: int) -> Corpus:
    rng = np.random.default_rng([seed, 1])
    vocab = make_vocab(rng)
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    p = ranks**-ZIPF_EXPONENT
    p /= p.sum()

    lengths = np.clip(rng.lognormal(4.4, 0.5, size=n_docs), 20, 400).astype(np.int64)
    langs = rng.choice(list(LANG_SHARES), size=n_docs, p=list(LANG_SHARES.values()))
    content = rng.choice(len(vocab), size=int(lengths.sum()), p=p)
    is_function = rng.random(int(lengths.sum())) < FUNCTION_WORD_SHARE
    fn_pick = rng.integers(0, 1 << 30, size=int(lengths.sum()))
    vocab_arr = np.asarray(vocab, dtype=object)

    tokens: list[list[str]] = []
    offsets = np.concatenate(([0], np.cumsum(lengths)))
    for d in range(n_docs):
        lo, hi = offsets[d], offsets[d + 1]
        fw = FUNCTION_WORDS[langs[d]]
        toks = vocab_arr[content[lo:hi]].tolist()
        for i in np.flatnonzero(is_function[lo:hi]):
            toks[i] = fw[fn_pick[lo + i] % len(fw)]
        tokens.append(toks)

    # planted near-duplicates: slot j becomes a copy of an earlier doc i
    n_planted = int(round(PLANTED_SHARE * n_docs))
    slots = np.sort(rng.choice(np.arange(n_docs // 10, n_docs), size=n_planted, replace=False))
    planted = []
    for k, j in enumerate(slots):
        i = int(rng.integers(0, j))
        toks = list(tokens[i])
        if k % 2:  # one content token replaced; the rest identical
            pos = [q for q, t in enumerate(toks) if t not in _ALL_FUNCTION_WORDS]
            q = pos[int(rng.integers(0, len(pos)))]
            toks[q] = vocab[int(rng.integers(0, len(vocab)))]
        tokens[j] = toks
        langs[j] = langs[i]
        planted.append((i, int(j)))

    texts = [" ".join(t) for t in tokens]
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": langs.astype(object),
            "source": [f"src{d % N_SOURCES}" for d in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    return Corpus(docs=docs, vocab=vocab, planted=planted)


def head_and_tail_terms(corpus: Corpus, n_head: int = 64) -> tuple[list[str], list[str]]:
    """Head terms: the ``n_head`` most frequent content words. Tail terms:
    content words that occur, but in at most 0.2% of documents."""
    counts: dict[str, int] = {}
    for text in corpus.docs["text"]:
        for w in set(text.split()):
            counts[w] = counts.get(w, 0) + 1
    content = [w for w in corpus.vocab if w in counts]
    head = content[:n_head]
    limit = max(2, len(corpus.docs) // 500)
    tail = [w for w in content[n_head:] if counts[w] <= limit]
    return head, tail


def make_queries(
    rng: np.random.Generator, head: list[str], tail: list[str], n: int, prefix: str
) -> list[tuple[str, str]]:
    """``n`` (qid, query) pairs of 1-4 words. Each query mixes head terms
    (long posting lists, where block-max pruning matters) and tail terms
    (short lists): a third are head-only, a third tail-only, a third mixed."""
    out = []
    for q in range(n):
        n_words = int(rng.integers(1, 5))
        kind = q % 3
        words = []
        for w in range(n_words):
            from_head = kind == 0 or (kind == 2 and w % 2 == 0)
            pool = head if from_head else tail
            words.append(pool[int(rng.integers(0, len(pool)))])
        out.append((f"{prefix}{q}", " ".join(words)))
    return out
