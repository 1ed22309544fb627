"""End-to-end rank/score parity: Spark engine vs pure-NumPy oracle.

Mirrors the reference's parity-test strategy
(/root/reference/tests/searcher_test.rs:81-125): fixed corpus, fixed queries,
assert identical top-k docids and scores. Runs over the driver's documents
table (500 docs at sf0.001) plus a tiny hand-checkable corpus.
"""

import numpy as np
import pandas as pd
import pytest

from oracle.bm25_ref import bm25_rank
from rustserini_spark.operators.index_build import build_index, expected_idf
from rustserini_spark.operators.search import bm25_search, bm25_search_pruned

TINY_CORPUS = {
    0: "The presence of communication amid scientific minds was equally important "
    "to the success of the Manhattan Project as scientific intellect was.",
    1: "The Manhattan Project and its atomic bomb helped bring an end to World War II.",
    2: "Essay on the manhattan project: the manhattan project was the project to "
    "develop the first nuclear weapon.",
    3: "Nor will it attempt to substitute for the courtroom.",
    4: "Scientific minds gather at the conference.",
    5: "",
    6: "communication communication communication",
}

QUERIES = [
    ("q0", "did scientific minds lead to the success of the manhattan project"),
    ("q1", "communication"),
    ("q2", "nuclear weapon essay"),
    ("q3", "zzzunknownterm"),
    ("q4", ""),
    ("q5", "manhattan manhattan"),  # duplicated query term => doubled weight
]


@pytest.fixture(scope="module")
def tiny_index(spark):
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(TINY_CORPUS), "text": list(TINY_CORPUS.values())})
    )
    # tiny seg_docs/block_size force multi-segment, multi-block, multi-shard paths
    return build_index(spark, docs, block_size=4, seg_docs=3, n_shards=4)


@pytest.fixture(scope="module")
def queries_df(spark):
    return spark.createDataFrame(pd.DataFrame(QUERIES, columns=["qid", "query"]))


def _collect(result_df):
    out = {}
    for r in result_df.collect():
        out.setdefault(r.qid, []).append((r.rank, r.doc_id, r.score))
    for v in out.values():
        v.sort()
    return out


def _assert_parity(got, k=10):
    for qid, query in QUERIES:
        expected = bm25_rank(TINY_CORPUS, query, k=k)
        actual = got.get(qid, [])
        assert len(actual) == len(expected), (qid, actual, expected)
        for (rank, doc, score), (edoc, escore) in zip(actual, expected):
            assert doc == edoc, (qid, rank, actual, expected)
            assert score == pytest.approx(escore, abs=1e-9)


def test_index_stats(tiny_index):
    assert tiny_index.n_docs == 7
    dls = {r.doc_id: r.dl for r in tiny_index.doclen.collect()}
    assert dls[5] == 0 and dls[6] == 3
    d = {r.term: r for r in tiny_index.dictionary.collect()}
    assert d["manhattan"].df == 3
    assert d["manhattan"].idf == pytest.approx(expected_idf(3, 7), abs=1e-12)
    assert d["commun"].cf == 4  # 1 in doc0 + 3 in doc6


def test_exhaustive_matches_oracle(tiny_index, queries_df):
    _assert_parity(_collect(bm25_search(tiny_index, queries_df, k=10)))


def _assert_same_ranking(a, b):
    """Rank-identical; scores may differ in the last ulp (summation order)."""
    assert {q: [(r, d) for r, d, _ in v] for q, v in a.items()} == {
        q: [(r, d) for r, d, _ in v] for q, v in b.items()
    }
    for q in a:
        for (_, _, sa), (_, _, sb) in zip(a[q], b[q]):
            assert sa == pytest.approx(sb, abs=1e-9)


def test_pruned_matches_oracle(tiny_index, queries_df, each_placement):
    got = each_placement(lambda: _collect(bm25_search_pruned(tiny_index, queries_df, k=10)))
    for placement in got.values():
        _assert_parity(placement)
    _assert_same_ranking(got["driver"], got["distributed"])


def test_pruned_equals_exhaustive_small_k(tiny_index, queries_df, each_placement):
    a = _collect(bm25_search(tiny_index, queries_df, k=2))
    got = each_placement(lambda: _collect(bm25_search_pruned(tiny_index, queries_df, k=2)))
    for b in got.values():
        _assert_same_ranking(a, b)


def test_degenerate_requests_return_empty(tiny_index, each_placement):
    """A request of only out-of-vocabulary or only empty queries returns an
    empty, well-typed result under either placement."""
    for request in (
        [("q3", "zzzunknownterm")],
        [("q4", "")],
        [("q3", "zzzunknownterm"), ("q4", ""), ("q7", "the of")],
    ):
        got = each_placement(lambda: bm25_search_pruned(tiny_index, request, k=10))
        for res in got.values():
            assert res.collect() == []
            assert res.schema.fieldNames() == ["qid", "doc_id", "score", "rank"]


def test_pruned_on_loaded_index_both_placements(spark, tmp_path, each_placement):
    """load_index reads a durable index whose blocks shuffle to shard groups
    on the distributed placement; both placements match the oracle."""
    from rustserini_spark.operators.index_build import build_index_checkpointed, load_index

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(TINY_CORPUS), "text": list(TINY_CORPUS.values())})
    )
    build_index_checkpointed(
        spark, docs, str(tmp_path), input_id="tiny", block_size=4, seg_docs=3, n_shards=4
    )
    index = load_index(spark, str(tmp_path))
    got = each_placement(lambda: _collect(bm25_search_pruned(index, list(QUERIES), k=10)))
    for placement in got.values():
        _assert_parity(placement)


def test_quoted_and_non_ascii_terms_both_placements(spark, each_placement):
    """Query terms with internal apostrophes and non-ASCII letters reach the
    postings filter intact on both placements."""
    corpus = {
        0: "O'Neil met the straße crew in Köln",
        1: "the crew of o'neil",
        2: "Straße and Köln and naïve café",
        3: "nothing to see",
    }
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(corpus), "text": list(corpus.values())})
    )
    index = build_index(spark, docs, block_size=4, seg_docs=2, n_shards=2)
    queries = [("a", "o'neil straße"), ("b", "köln café naïve"), ("c", "crew")]
    for placement, got in each_placement(
        lambda: _collect(bm25_search_pruned(index, queries, k=10))
    ).items():
        for qid, query in queries:
            expected = bm25_rank(corpus, query, k=10)
            actual = got.get(qid, [])
            assert [a[1] for a in actual] == [e[0] for e in expected], (placement, qid)
            np.testing.assert_allclose([a[2] for a in actual], [e[1] for e in expected], atol=1e-9)


def test_list_queries_match_dataframe_queries(tiny_index, queries_df, each_placement):
    """The reference's batch_search takes raw query strings (Vec<String>) —
    the list fast path must produce identical results to the DataFrame path
    (and skips a createDataFrame->collect round trip per batch)."""
    got = each_placement(lambda: _collect(bm25_search_pruned(tiny_index, list(QUERIES), k=10)))
    for placement in got.values():
        _assert_parity(placement)
    _assert_parity(_collect(bm25_search(tiny_index, list(QUERIES), k=10)))


def test_idf_cache_preloaded_no_per_batch_dictionary_job(tiny_index, each_placement):
    """materialize() preloads the driver (idf, df) map; a pruned batch must
    then resolve idf and place itself without ANY dictionary scan (round 3's
    measured ~2.5s fixed per-batch floor was exactly this per-batch
    .collect())."""
    tiny_index.materialize()
    assert tiny_index.idf_cache is not None
    assert tiny_index.idf_cache["manhattan"] == (pytest.approx(expected_idf(3, 7), abs=1e-12), 3)
    # poison the dictionary DataFrame: any per-batch access would now blow up
    saved = tiny_index.dictionary
    try:
        tiny_index.dictionary = None
        got = each_placement(lambda: _collect(bm25_search_pruned(tiny_index, list(QUERIES), k=10)))
    finally:
        tiny_index.dictionary = saved
    for placement in got.values():
        _assert_parity(placement)


def test_idf_memo_fallback_matches_cache(tiny_index, queries_df, each_placement):
    """Vocabularies above MAX_IDF_CACHE_TERMS fall back to memoized filtered
    lookups — same answers, and the memo converges (2nd call = zero lookups)."""
    import rustserini_spark.operators.index_build as ib

    saved_cache, saved_memo = tiny_index.idf_cache, dict(tiny_index._idf_memo)

    def first_and_second_call():
        tiny_index._idf_memo.clear()
        _assert_parity(_collect(bm25_search_pruned(tiny_index, list(QUERIES), k=10)))
        memo_after_first = dict(tiny_index._idf_memo)
        assert memo_after_first.get("zzzunknownterm", "absent") is None  # OOV negative-cached
        assert memo_after_first["manhattan"][1] == 3  # df rides the same lookup
        _assert_parity(_collect(bm25_search_pruned(tiny_index, list(QUERIES), k=10)))
        assert tiny_index._idf_memo == memo_after_first

    try:
        tiny_index.idf_cache = None
        each_placement(first_and_second_call)
    finally:
        tiny_index.idf_cache, tiny_index._idf_memo = saved_cache, saved_memo
    assert ib.MAX_IDF_CACHE_TERMS >= 1_000_000  # web-vocab guard stays in place


def test_canonical_query_top1(tiny_index, queries_df, each_placement):
    # reference parity style: top-1 docid for the canonical Manhattan-Project
    # query is doc 0 (/root/reference/tests/searcher_test.rs:99)
    got = each_placement(lambda: _collect(bm25_search_pruned(tiny_index, queries_df, k=10)))
    for placement in got.values():
        assert placement["q0"][0][1] == 0


@pytest.mark.parametrize("n_shards", [8, 128])
def test_n_shards_is_a_build_parameter(spark, documents, n_shards, each_placement):
    """Doc-shard count plumbs through the build (reference behavior target:
    batch_search thread fan-out, /root/reference/src/searcher/lucene/
    searcher.rs:101-154): results identical at any shard count, shards
    populated (not collapsed onto one), recorded on the index."""
    queries = [
        ("d0", "spark query window merge"),
        ("d1", "customer the batch value"),
        ("d2", "hash join stream data"),
    ]
    qdf = spark.createDataFrame(pd.DataFrame(queries, columns=["qid", "query"]))
    index = build_index(spark, documents, seg_docs=16, n_shards=n_shards)
    assert index.n_shards == n_shards
    shard_rows = index.postings.select("shard").distinct().collect()
    shards_used = {r.shard for r in shard_rows}
    assert all(0 <= s < n_shards for s in shards_used)
    # 500 docs / seg_docs=16 ≈ 32 segments hash-mixed over shards: the mix
    # must spread them (the round-1 modulo bug collapsed all onto shard 0)
    assert len(shards_used) >= min(n_shards, 32) // 2
    corpus = {r.doc_id: r.text for r in documents.collect()}
    results = each_placement(lambda: _collect(bm25_search_pruned(index, qdf, k=10)))
    for placement, got in results.items():
        for qid, query in queries:
            expected = bm25_rank(corpus, query, k=10)
            assert [a[1] for a in got.get(qid, [])] == [e[0] for e in expected], (placement, qid)


@pytest.mark.parametrize("pruned", [False, True])
def test_parity_on_documents_table(spark, documents, pruned, each_placement):
    """500-doc driver corpus, multi-term queries sampling head/mid/tail terms."""
    corpus = {r.doc_id: r.text for r in documents.collect()}
    queries = [
        ("d0", "spark query window merge"),
        ("d1", "customer the batch value"),
        ("d2", "slow small filter"),
        ("d3", "hash join stream data"),
    ]
    qdf = spark.createDataFrame(pd.DataFrame(queries, columns=["qid", "query"]))
    index = build_index(spark, documents, block_size=32, seg_docs=64, n_shards=8)
    if pruned:
        results = each_placement(lambda: _collect(bm25_search_pruned(index, qdf, k=10)))
    else:
        results = {"exhaustive": _collect(bm25_search(index, qdf, k=10))}
    for placement, got in results.items():
        for qid, query in queries:
            expected = bm25_rank(corpus, query, k=10)
            actual = got.get(qid, [])
            assert [a[1] for a in actual] == [e[0] for e in expected], (placement, qid)
            np.testing.assert_allclose(
                [a[2] for a in actual], [e[1] for e in expected], atol=1e-9
            )


def test_maxscore_head_term_decode_bound():
    """True MaxScore term ordering: on a Zipf-pathological query (one head
    term matching EVERY doc + one rare term), candidate generation must stop
    before decoding the head term's posting blocks — decoded-block count stays
    a small fraction of the matched-block count, while the top-k remains
    exactly the brute-force ranking."""
    from rustserini_spark.analysis import simple_tokenize_text
    from rustserini_spark.operators.compress import block_upper_bound
    from rustserini_spark.operators.index_build import _encode_segment_pdf, expected_idf
    from rustserini_spark.operators.search import _DecodeCache, _shard_topk

    n, k = 4096, 10
    texts = [
        "head" + (" rare rare rare" if i % 200 == 7 else "") for i in range(n)
    ]
    # block_size=8 -> the head term alone spans n/8 = 512 blocks
    pdf = _encode_segment_pdf(
        simple_tokenize_text, np.arange(n, dtype=np.int64), pd.Series(texts),
        seg=0, block_size=8, n_shards=1,
    )
    corpus = {i: t for i, t in enumerate(texts)}
    expected = bm25_rank(corpus, "head rare", k=k, analyzer="simple")

    # mirror shard_search's prologue
    terms_arr = pdf["term"].to_numpy()
    uniq_terms, term_idx = np.unique(terms_arr, return_inverse=True)
    n_rare = sum("rare" in t for t in texts)
    idf_by = {"head": expected_idf(n, n), "rare": expected_idf(n_rare, n)}
    avgdl = sum(len(simple_tokenize_text(t)) for t in texts) / n
    k1, b = 0.9, 0.4
    idf = np.array([idf_by[t] for t in terms_arr])
    max_impact = block_upper_bound(
        pdf["max_tf"].to_numpy(), pdf["min_dl"].to_numpy(), idf, k1, b, avgdl
    )
    rows = np.flatnonzero(np.isin(terms_arr, ["head", "rare"]))
    qtf_row = np.ones(rows.size)
    cache = _DecodeCache()
    docs, scores = _shard_topk(
        rows, qtf_row, list(pdf["postings_bin"]),
        pdf["n_docs"].to_numpy(dtype=np.int64),
        pdf["first_doc"].to_numpy(dtype=np.int64),
        pdf["last_doc"].to_numpy(dtype=np.int64),
        max_impact, idf, term_idx, uniq_terms.size, k, k1, b, avgdl, cache,
    )
    assert list(docs) == [e[0] for e in expected]
    np.testing.assert_allclose(scores, [e[1] for e in expected], atol=1e-9)
    n_matched_blocks = rows.size
    assert n_matched_blocks > 500
    # rare blocks (~3) + exact-verify decodes of head blocks intersecting the
    # ~21 candidates (<= 21) -- far below the 512+ matched blocks
    assert cache.n_blocks_decoded <= n_matched_blocks // 8, (
        cache.n_blocks_decoded, n_matched_blocks,
    )


def test_adaptive_cut_survives_boundary_rounded_ties(spark, each_placement):
    """Property test for the adaptive candidate cut (round-4 ADVICE #5):
    60 docs whose raw BM25 scores differ only in the 8th decimal (one query
    term, tf=1, document lengths ~10k differing by one token) all round-tie
    at r4 — and the RAW ordering is the REVERSE of the doc_id tie-break the
    rounded ranking uses. A fixed raw-score top-50 cut therefore excludes
    exactly the 10 documents the rounded oracle ranks first; the adaptive
    wrapper must detect the boundary tie (min retrieved r4 == rank-k r4),
    extend the cut, and return the oracle's answer."""
    import __spark_entry__ as e

    # doc_id 0 gets the LONGEST doc (lowest raw score) ... doc_id 59 the
    # shortest (highest): raw top-50 = doc_ids 10..59, rounded top-10 = 0..9
    rows = [
        (i, "manhattan " + " ".join(f"filler{j:05d}" for j in range(10000 + (59 - i))))
        for i in range(60)
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    index = build_index(spark, docs, analyzer="simple")
    qdf = spark.createDataFrame(pd.DataFrame([("q0", "manhattan")], columns=["qid", "query"]))

    def adaptive():
        # precondition: the naive fixed-cut answer is actually wrong on this corpus
        naive = bm25_search_pruned(index, qdf, k=50)
        assert min(r.doc_id for r in naive.collect()) == 10

        got = e._rerank_rounded_adaptive(lambda cut: bm25_search_pruned(index, qdf, k=cut), 10)
        return sorted((r.rank, r.doc_id) for r in got.collect())

    for got in each_placement(adaptive).values():
        assert got == [(k, k - 1) for k in range(1, 11)]
