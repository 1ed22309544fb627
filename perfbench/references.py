"""Reference answers the benchmark checks the engine's outputs against.

``Bm25Oracle`` scores with the semantics of ``oracle/bm25_ref.py``: the
engine's own analyzer, Lucene BM25Similarity with k1=0.9 and b=0.4, idf
ln(1 + (N - df + 0.5) / (df + 0.5)), a repeated query term counted once per
occurrence, ties broken by ascending doc id. It keeps an inverted index so a
query costs a NumPy pass over its terms' postings instead of a pass over the
corpus, and it grows by appending documents, so the same object serves every
prefix of an ingest.

The curation checks use Python's md5 for exact dedup, a NumPy simhash of
every document pair for the simhash pairs, and the guarantees the curation
pipeline makes about its survivors; the minhash and n-gram Jaccard pairs are
checked against their DuckDB queries in ``__spark_entry__.oracle_sql()``.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter

import numpy as np
import pandas as pd

SCORE_TOL = 1e-9


class Bm25Oracle:
    def __init__(self, analyze, k1: float = 0.9, b: float = 0.4):
        self.analyze = analyze
        self.k1, self.b = k1, b
        self.dl: list[int] = []
        self.postings: dict[str, tuple[list[int], list[int]]] = {}

    @property
    def n_docs(self) -> int:
        return len(self.dl)

    @property
    def avgdl(self) -> float:
        return sum(self.dl) / len(self.dl) if self.dl else 0.0

    def add(self, texts) -> None:
        """Append documents; their doc ids continue from the current count."""
        for text in texts:
            doc = len(self.dl)
            toks = self.analyze(text)
            self.dl.append(len(toks))
            for term, tf in Counter(toks).items():
                ids, tfs = self.postings.setdefault(term, ([], []))
                ids.append(doc)
                tfs.append(tf)

    def df(self, term: str) -> int:
        return len(self.postings.get(term, ((), ()))[0])

    def idf(self, term: str) -> float:
        df = self.df(term)
        return math.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5))

    def scores(self, query: str) -> np.ndarray:
        """Dense score vector over doc ids 0..n_docs-1 for one query."""
        out = np.zeros(self.n_docs)
        dl = np.asarray(self.dl, dtype=np.float64)
        avgdl = self.avgdl or 1.0
        for term, qtf in Counter(self.analyze(query)).items():
            if term not in self.postings:
                continue
            ids, tfs = self.postings[term]
            ids = np.asarray(ids)
            tf = np.asarray(tfs, dtype=np.float64)
            norm = self.k1 * (1.0 - self.b + self.b * dl[ids] / avgdl)
            out[ids] += qtf * (self.idf(term) * tf / (tf + norm))
        return out


def topk_matches(got: pd.DataFrame, dense: np.ndarray, k: int) -> bool:
    """Whether ``got`` (doc_id, score, rank for one query) is the oracle's top
    k rank for rank, with scores within 1e-9. Where the oracle has a tie
    within that tolerance, either doc of the tie is accepted at that rank."""
    got = got.sort_values("rank")
    nz = np.flatnonzero(dense > 0)
    want = nz[np.lexsort((nz, -dense[nz]))][:k]
    docs = got["doc_id"].to_numpy()
    scores = got["score"].to_numpy()
    if len(docs) != len(want) or len(set(docs.tolist())) != len(docs):
        return False
    for d, s, w in zip(docs, scores, want):
        if abs(s - dense[w]) > SCORE_TOL:
            return False
        if d != w and not (0 <= d < dense.size and abs(dense[d] - dense[w]) <= SCORE_TOL):
            return False
    return True


def exact_dedup_reference(docs: pd.DataFrame) -> pd.DataFrame:
    h = docs["text"].map(lambda t: hashlib.md5(t.encode("utf-8")).hexdigest())
    g = docs.assign(text_hash=h).groupby("text_hash")["doc_id"]
    return pd.DataFrame({"n_dups": g.size(), "keeper": g.min()}).reset_index()


def normalized(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive form of a result table: columns sorted by name,
    integers as int64, floats rounded to 6 places, rows sorted."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        kind = df[c].dtype.kind
        if kind == "O":
            df[c] = df[c].astype(str)
        elif kind in "iu":
            df[c] = df[c].astype("int64")
        elif kind == "f":
            df[c] = df[c].astype("float64").round(6)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def same_table(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    got, want = normalized(got), normalized(want)
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, atol=1e-9, rtol=0)
    except AssertionError:
        return False
    return True


_SIMPLE_TOKEN = re.compile(r"[0-9a-z]+")
_POPCOUNT8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.int64)


def simhash64(texts) -> np.ndarray:
    """64-bit simhash per text as uint64: bit b of a token is bit b % 4 of hex
    digit b // 4 of md5(token); the fingerprint has bit b set when the
    occurrence-weighted sum of +1 (bit set) and -1 (bit clear) is positive.
    Tokens are the lowercase [0-9a-z]+ runs of the text."""
    bit = np.arange(64)
    memo: dict[str, np.ndarray] = {}
    out = np.zeros(len(texts), dtype=np.uint64)
    weights = np.uint64(1) << bit.astype(np.uint64)
    for i, text in enumerate(texts):
        acc = np.zeros(64, dtype=np.int64)
        for tok, n in Counter(_SIMPLE_TOKEN.findall(text.lower())).items():
            v = memo.get(tok)
            if v is None:
                digits = np.array([int(c, 16) for c in hashlib.md5(tok.encode("utf-8")).hexdigest()[:16]])
                v = memo[tok] = 2 * ((digits[bit // 4] >> (bit % 4)) & 1) - 1
            acc += n * v
        out[i] = weights[acc > 0].sum()
    return out


def simhash_pairs_reference(docs: pd.DataFrame, max_hamming: int) -> pd.DataFrame:
    """(doc_a, doc_b, hamming) for every doc pair a < b whose simhashes differ
    in at most ``max_hamming`` bits, by brute force over all pairs."""
    ids = docs["doc_id"].to_numpy()
    fp = simhash64(docs["text"].tolist())
    parts = []
    for lo in range(0, len(ids), 256):
        x = fp[lo:lo + 256, None] ^ fp[None, :]
        ham = _POPCOUNT8[x.view(np.uint8)].reshape(x.shape + (8,)).sum(axis=-1)
        a, b = np.nonzero(ham <= max_hamming)
        a += lo
        keep = ids[a] < ids[b]
        parts.append(pd.DataFrame({"doc_a": ids[a[keep]], "doc_b": ids[b[keep]],
                                   "hamming": ham[a[keep] - lo, b[keep]]}))
    return pd.concat(parts, ignore_index=True)


def curation_guarantees_hold(got: pd.DataFrame, docs: pd.DataFrame, planted) -> bool:
    """What ``curation_pipeline`` promises about its survivors, checked on
    the corpus plus the copies the entry plants itself (ids of 100000 and
    up, exact or token-reversed copies of lower ids): every survivor passes
    the language and quality filters, no two survivors share a text or a
    simhash, and no planted exact copy or entry-planted copy survives."""
    import __spark_entry__ as entry

    ids = got["doc_id"].to_numpy()
    if len(ids) == 0 or len(set(ids.tolist())) != len(ids) or (ids >= 100_000).any():
        return False
    text = docs.set_index("doc_id")["text"]
    texts = text.loc[ids].tolist()
    if len(set(texts)) != len(texts) or len(set(simhash64(texts).tolist())) != len(texts):
        return False
    survivors = set(ids.tolist())
    if any(j in survivors for i, j in planted if text[i] == text[j]):
        return False
    return bool(
        got["lang_pred"].isin(entry.CURATION_LANGS).all()
        and (got["n_tokens"] >= entry.CURATION_MIN_TOKENS).all()
        and (got["stopword_ratio"] <= entry.CURATION_MAX_STOPWORD_RATIO).all()
        and (got["distinct_ratio"] >= entry.CURATION_MIN_DISTINCT_RATIO).all()
    )
