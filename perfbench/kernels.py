"""Driver-side timings of the analysis and compression kernels on a fixed
document sample. No Spark job runs here: these time the same functions the
engine's pandas UDFs call per Arrow batch, so a change to one kernel shows up
without the job floor around it."""

from __future__ import annotations

import statistics
import time
from collections import Counter

import numpy as np

SAMPLE_DOCS = 1000
REPEATS = 5


def _median_time(fn) -> float:
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def sample_postings(analyze, texts):
    """(run_id, doc_ids, tfs, dls) for the sample, sorted by term the way one
    segment of the one-pass build lays them out."""
    terms, docs, tfs, dls = [], [], [], []
    for doc, text in enumerate(texts):
        toks = analyze(text)
        for term, tf in Counter(toks).items():
            terms.append(term)
            docs.append(doc)
            tfs.append(tf)
            dls.append(len(toks))
    order = np.argsort(np.asarray(terms, dtype=object), kind="stable")
    t = np.asarray(terms, dtype=object)[order]
    run_id = np.cumsum(np.concatenate(([True], t[1:] != t[:-1]))) - 1
    return (run_id, np.asarray(docs, dtype=np.int64)[order],
            np.asarray(tfs, dtype=np.int64)[order], np.asarray(dls, dtype=np.int64)[order])


def kernel_metrics(texts, queries) -> dict[str, float]:
    from rustserini_spark.analysis import analyze_text
    from rustserini_spark.operators.compress import decode_blocks_batch, encode_runs_blocks
    from rustserini_spark.operators.search import query_terms_local

    texts = list(texts[:SAMPLE_DOCS])
    n_tokens = sum(len(analyze_text(t)) for t in texts)  # also fills the stem memo
    run_id, docs, tfs, dls = sample_postings(analyze_text, texts)
    cols = encode_runs_blocks(run_id, docs, tfs, dls)
    bufs, ns = cols["postings_bin"], cols["n_docs"]
    return {
        "analysis.tokens_per_s": n_tokens / _median_time(lambda: [analyze_text(t) for t in texts]),
        "analysis.query_parse_s": _median_time(lambda: query_terms_local(queries, "porter")) / len(queries),
        "compress.encode_postings_per_s": docs.size / _median_time(
            lambda: encode_runs_blocks(run_id, docs, tfs, dls)),
        "compress.decode_postings_per_s": docs.size / _median_time(
            lambda: decode_blocks_batch(bufs, ns)),
        "compress.bytes_per_posting": sum(len(b) for b in bufs) / docs.size,
    }
