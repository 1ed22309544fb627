"""The benchmark's workloads, each a closed loop with one client.

The client is the benchmark process itself: it issues the next operation
only when the previous one has returned, as every real caller of this engine
does (a retrieval run, an ingest driver, a curation job). Each workload:

* ``prepare()`` generates its seeded inputs and writes them as parquet
  (benchmark work, not timed);
* ``setup(rep)`` opens the inputs in Spark and builds the state the loop
  needs; the runner repeats it and reports the median as ``setup_s``;
* ``warm()`` runs the loop's operations at full size, so that Python
  workers, the JIT and Spark's code caches are warm before timing;
* ``loop(seconds)`` runs operations until ``seconds`` have passed, timing
  each one, and returns a ``LoopResult``;
* ``verify(result)`` checks every recorded output against a reference and
  counts the operations whose output was wrong;
* ``layer_metrics(result)`` gives the workload's per-layer values for a
  traced run.
"""

from __future__ import annotations

import math
import os
import shutil
import tempfile
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import corpus
import references

K = 10


@dataclass
class LoopResult:
    latencies: list[float] = field(default_factory=list)  # per request
    rates: list[float] = field(default_factory=list)  # docs or queries per second, per unit of work
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    records: list = field(default_factory=list)  # outputs kept for verify()
    extra: dict = field(default_factory=dict)

    @property
    def throughput(self) -> float:
        """Median rate: one slow unit of work moves it less than a mean."""
        return median(self.rates)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                continue
    return total


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


class Workload:
    name = ""
    SETUP_REPS = 3  # setup_s is the median of these

    def __init__(self, spark, seed: int, work: str, tracer, scale: float = 1.0):
        self.spark, self.seed, self.tracer, self.scale = spark, seed, tracer, scale
        self.work = os.path.join(work, self.name)
        os.makedirs(self.work, exist_ok=True)

    def prepare(self) -> None:
        self.corpus = corpus.make_corpus(self.seed, int(self.N_DOCS * self.scale))
        self.docs_path = os.path.join(self.work, "documents.parquet")
        self.corpus.docs.to_parquet(self.docs_path, index=False)

    def _run(self, res: LoopResult, fn):
        """Run one operation; an exception counts it as failed."""
        res.attempted += 1
        try:
            return fn()
        except Exception as exc:  # an engine error must not end the run
            res.failed += 1
            res.errors.append(f"{type(exc).__name__}: {exc}"[:500])
            return None

    def _open(self, path: str):
        df = self.spark.read.parquet(path)
        df.count()
        return df

    def probe(self, cls, res: LoopResult, scale: float, *loop_args, **loop_kw) -> dict[str, float]:
        """One short loop of another workload on this session, traced and
        verified like this one, for the per-layer metrics of layers this
        workload does not reach. Its operations and failures count with
        ``res``; this workload's own per-layer values take precedence."""
        p = cls(self.spark, self.seed, os.path.dirname(self.work), self.tracer, scale)
        r = LoopResult()
        try:
            p.prepare()
            p.setup(0)
            r = p.loop(*loop_args, **loop_kw)
            p.verify(r)
            return p.layer_metrics(r)
        except Exception as exc:  # a probe that cannot run counts as a failure
            r.attempted += 1
            r.failed += 1
            r.errors.append(f"{cls.name} probe: {type(exc).__name__}: {exc}"[:500])
            return {}
        finally:
            res.attempted += r.attempted
            res.failed += r.failed
            res.errors += r.errors

    def kernel_inputs(self) -> tuple[list[str], list[tuple[str, str]]]:
        head, tail = corpus.head_and_tail_terms(self.corpus)
        qs = corpus.make_queries(np.random.default_rng([self.seed, 9]), head, tail, 512, "k")
        return self.corpus.docs["text"].tolist(), qs


# --------------------------------------------------------------------- build


class Build(Workload):
    """A fresh durable index from the corpus via build_index_checkpointed,
    then load_index: the reference's IndexCollection path."""

    name = "build"
    N_DOCS = 4000
    PROBE_SCALE = 0.5

    def setup(self, rep: int) -> None:
        self.docs = self._open(self.docs_path)

    def warm(self) -> None:
        for r in self.loop(0.0).records:
            shutil.rmtree(r["dir"], ignore_errors=True)

    def loop(self, seconds: float) -> LoopResult:
        from rustserini_spark.operators.index_build import build_index_checkpointed, load_index
        from rustserini_spark.sources.catalog import Catalog

        res = LoopResult()
        n = len(self.corpus.docs)
        t_end = time.perf_counter() + seconds
        while not res.attempted or time.perf_counter() < t_end:
            d = tempfile.mkdtemp(prefix="index-", dir=self.work)

            def op():
                with self.tracer.span("index_build.checkpointed"):
                    _, stages = build_index_checkpointed(self.spark, self.docs, d, d)
                    return load_index(self.spark, d), stages

            t0 = time.perf_counter()
            out = self._run(res, op)
            lat = time.perf_counter() - t0
            if out is not None:
                index, stages = out
                res.latencies.append(lat)
                res.rates.append(n / lat)
                cat = Catalog(d)
                files = [f for s in ("postings", "dictionary", "doclen") for f in cat.manifest(s)["files"]]
                res.records.append({
                    "n_docs": index.n_docs, "avgdl": index.avgdl, "dir": d,
                    "stage_s": {s.name: s.wall_ms / 1e3 for s in stages},
                    "catalog_bytes": sum(f["bytes"] for f in files),
                    "catalog_rows": sum(f["rows"] for f in files),
                    "index_bytes": dir_bytes(d),
                })
                if len(res.records) > 1:
                    shutil.rmtree(res.records[-2]["dir"], ignore_errors=True)
        if res.records:
            res.extra["index_bytes_per_text_byte"] = res.records[-1]["index_bytes"] / self.corpus.docs["n_chars"].sum()
        return res

    def verify(self, res: LoopResult) -> None:
        """Collection stats of every build, and the last build's whole
        dictionary (df and idf of every term), against the references."""
        from rustserini_spark.analysis import analyze_text
        from rustserini_spark.operators.index_build import load_index

        ref = references.Bm25Oracle(analyze_text)
        ref.add(self.corpus.docs["text"])
        for r in res.records:
            if r["n_docs"] != ref.n_docs or abs(r["avgdl"] - ref.avgdl) > 1e-9 * ref.avgdl:
                res.failed += 1
                res.errors.append(f"collection stats {r['n_docs']}/{r['avgdl']} != {ref.n_docs}/{ref.avgdl}")
        if not res.records:
            return
        with self.tracer.span("check"):
            got = load_index(self.spark, res.records[-1]["dir"]).dictionary.select(
                "term", "df", "idf").toPandas()
        want_df = got["term"].map(ref.df)
        want_idf = got["term"].map(ref.idf)
        if (len(got) != len(ref.postings) or (got["df"] != want_df).any()
                or (got["idf"] - want_idf).abs().max() > references.SCORE_TOL):
            res.failed += 1
            res.errors.append("dictionary of the last build differs from the oracle")

    def layer_metrics(self, res: LoopResult) -> dict[str, float]:
        from pyspark.sql import functions as F

        from rustserini_spark.operators.index_build import load_index

        # the incremental layer, whose own workload (ingest) does not fit the
        # benchmark's time budget: two commits and a merge, with point queries
        out = self.probe(Ingest, res, self.PROBE_SCALE, math.inf, max_commits=Ingest.MERGE_EVERY)
        if not res.records:
            return out
        for stage in ("postings", "dictionary", "doclen"):
            out[f"index_build.{stage}_stage_s"] = _mean(r["stage_s"][stage] for r in res.records)
        out["catalog.bytes_written"] = _mean(r["catalog_bytes"] for r in res.records)
        out["catalog.rows_written"] = _mean(r["catalog_rows"] for r in res.records)
        out["catalog.index_bytes_per_text_byte"] = res.extra["index_bytes_per_text_byte"]
        with self.tracer.span("check"):
            postings = load_index(self.spark, res.records[-1]["dir"]).postings
            out["compress.bytes_per_posting"] = _bytes_per_posting(postings, F)
        return out


def _bytes_per_posting(postings, F) -> float:
    row = postings.agg(F.sum(F.length("postings_bin")), F.sum("n_docs")).collect()[0]
    return row[0] / row[1]


# -------------------------------------------------------------------- search


class Search(Workload):
    """Point requests interleaved with 256-query topic batches against an
    in-memory index built and materialized during set-up. No writes."""

    name = "search"
    N_DOCS = 6000
    BATCH = 256
    POINTS_PER_BATCH = 2
    CHECKED_PER_BATCH = 32
    WARM_S = 6.0

    def prepare(self) -> None:
        super().prepare()
        head, tail = corpus.head_and_tail_terms(self.corpus)
        rng = np.random.default_rng([self.seed, 2])
        self.points = corpus.make_queries(rng, head, tail, 1000, "p")
        self.batches = [corpus.make_queries(rng, head, tail, self.BATCH, f"b{j}-") for j in range(16)]
        self.index = None

    def setup(self, rep: int) -> None:
        from rustserini_spark.operators.index_build import build_index

        if self.index is not None:
            self.index.postings.unpersist()
            self.index.dictionary.unpersist()
        docs = self._open(self.docs_path)
        self.materialize_timings: dict = {}
        self.index = build_index(self.spark, docs).materialize(self.materialize_timings)

    def warm(self) -> None:
        self.loop(self.WARM_S)

    def loop(self, seconds: float) -> LoopResult:
        from rustserini_spark.operators.search import bm25_search_pruned

        res = LoopResult(extra={"plan_s": [], "queries": []})
        t_end = time.perf_counter() + seconds
        n = 0
        while time.perf_counter() < t_end:
            is_batch = n % (self.POINTS_PER_BATCH + 1) == self.POINTS_PER_BATCH
            if is_batch:
                qs = self.batches[len(res.rates) % len(self.batches)]
                name = "search.batch"
            else:
                qs = [self.points[len(res.latencies) % len(self.points)]]
                name = "search.point"

            def op():
                with self.tracer.span(name):
                    t0 = time.perf_counter()
                    df = bm25_search_pruned(self.index, qs, k=K)
                    res.extra["plan_s"].append(time.perf_counter() - t0)
                    return df.toPandas()

            t0 = time.perf_counter()
            got = self._run(res, op)
            lat = time.perf_counter() - t0
            if got is not None:
                if is_batch:
                    res.rates.append(len(qs) / lat)
                else:
                    res.latencies.append(lat)
                res.records.append((qs, got))
                res.extra["queries"].extend(q for _, q in qs)
            n += 1
        return res

    def verify(self, res: LoopResult) -> None:
        """Every point request, and the first CHECKED_PER_BATCH queries of
        every batch, against the oracle."""
        from rustserini_spark.analysis import analyze_text

        ref = references.Bm25Oracle(analyze_text)
        ref.add(self.corpus.docs["text"])
        for qs, got in res.records:
            sample = qs[: self.CHECKED_PER_BATCH]
            if not _all_topk_match(ref, sample, got[got["qid"].isin([qid for qid, _ in sample])]):
                res.failed += 1
                res.errors.append(f"ranking mismatch in a request of {len(qs)} queries")

    def layer_metrics(self, res: LoopResult) -> dict[str, float]:
        from pyspark.sql import functions as F

        from rustserini_spark.operators.search import query_terms_local

        # the durable build and, through it, the incremental layer, whose
        # workloads do not fit the benchmark's time budget: one build
        out = self.probe(Build, res, 1.0, 0.0)
        out.update({
            "index_build.materialize_postings_s": self.materialize_timings["postings_count_sec"],
            "index_build.materialize_dictionary_s": self.materialize_timings["dictionary_agg_sec"],
            "search.plan_s": _mean(res.extra["plan_s"]),
        })
        queries = [(str(i), q) for i, q in enumerate(res.extra["queries"])]
        rows, terms = query_terms_local(queries, "porter")
        with self.tracer.span("check"):
            out["compress.bytes_per_posting"] = _bytes_per_posting(self.index.postings, F)
            per_term = (self.index.postings.filter(F.col("term").isin(terms))
                        .groupBy("term").agg(F.count("*").alias("blocks"), F.sum("n_docs").alias("postings"))
                        .toPandas().set_index("term"))
        matched = [per_term.loc[t] for _, t, _ in rows if t in per_term.index]
        out["search.blocks_matched_per_query"] = sum(m["blocks"] for m in matched) / max(1, len(queries))
        out["search.postings_matched_per_query"] = sum(m["postings"] for m in matched) / max(1, len(queries))
        return out


def _all_topk_match(ref: references.Bm25Oracle, qs, got: pd.DataFrame) -> bool:
    by_qid = {qid: g for qid, g in got.groupby("qid")}
    empty = got.iloc[:0]
    return all(references.topk_matches(by_qid.get(qid, empty), ref.scores(q), K) for qid, q in qs)


# -------------------------------------------------------------------- ingest


class Ingest(Workload):
    """Writes beside reads: each micro-batch becomes a segment, every
    MERGE_EVERY-th commit merges all live segments, and after each commit the
    client opens the segmented index and issues point queries."""

    name = "ingest"
    BATCH_DOCS = 500
    N_BATCHES = 40
    MERGE_EVERY = 2
    QUERIES_PER_COMMIT = 4

    def prepare(self) -> None:
        """The corpus as N_BATCHES parquet files, one per arriving micro-batch."""
        batch = int(self.BATCH_DOCS * self.scale)
        self.corpus = corpus.make_corpus(self.seed, batch * self.N_BATCHES)
        head, tail = corpus.head_and_tail_terms(self.corpus)
        self.points = corpus.make_queries(np.random.default_rng([self.seed, 3]), head, tail, 1000, "p")
        self.inbox = os.path.join(self.work, "inbox")
        os.makedirs(self.inbox, exist_ok=True)
        self.batch_paths = []
        for b in range(self.N_BATCHES):
            p = os.path.join(self.inbox, f"batch-{b:04d}.parquet")
            self.corpus.docs.iloc[b * batch:(b + 1) * batch].to_parquet(p, index=False)
            self.batch_paths.append(p)

    def setup(self, rep: int) -> None:
        self._open(self.inbox)

    def warm(self) -> None:
        self.loop(math.inf, max_commits=self.MERGE_EVERY)

    def loop(self, seconds: float, max_commits: int = N_BATCHES) -> LoopResult:
        """Commits into a fresh segment directory until ``seconds`` have
        passed (at least one commit) or ``max_commits`` are done."""
        from rustserini_spark.operators.search import bm25_search_pruned
        from rustserini_spark.streaming.incremental import (
            merge_all_segments,
            open_segmented_index,
            write_segment,
        )

        res = LoopResult(extra={k: [] for k in ("open_s", "live_segments", "merge_bytes", "plan_s")})
        base = tempfile.mkdtemp(prefix="segments-", dir=self.work)
        t_end = time.perf_counter() + seconds

        batch = int(self.BATCH_DOCS * self.scale)
        cycle_s, cycle_docs = 0.0, 0
        for b in range(max_commits):
            if b and time.perf_counter() >= t_end:
                break

            def commit():
                with self.tracer.span("incremental.write_segment"):
                    docs = self.spark.read.parquet(self.batch_paths[b])
                    write_segment(self.spark, docs, os.path.join(base, f"seg_{b:06d}"), batches=[b])
                if (b + 1) % self.MERGE_EVERY == 0:
                    with self.tracer.span("incremental.merge"):
                        merged = merge_all_segments(self.spark, base)
                    if merged:
                        res.extra["merge_bytes"].append(dir_bytes(merged))
                t0 = time.perf_counter()
                with self.tracer.span("incremental.open"):
                    index = open_segmented_index(self.spark, base)
                res.extra["open_s"].append(time.perf_counter() - t0)
                return index

            t0 = time.perf_counter()
            index = self._run(res, commit)
            if index is None:
                continue
            # one unit of work is a merge cycle, so the rate includes merges
            cycle_s += time.perf_counter() - t0
            cycle_docs += batch
            if (b + 1) % self.MERGE_EVERY == 0:
                res.rates.append(cycle_docs / cycle_s)
                cycle_s, cycle_docs = 0.0, 0
            res.extra["index"] = index
            if index.n_docs != (b + 1) * batch:
                res.failed += 1
                res.errors.append(f"segmented index has {index.n_docs} docs after {b + 1} batches")
            for _ in range(self.QUERIES_PER_COMMIT):
                q = self.points[len(res.records) % len(self.points)]

                def point():
                    with self.tracer.span("search.segmented_point"):
                        t0 = time.perf_counter()
                        df = bm25_search_pruned(index, [q], k=K)
                        res.extra["plan_s"].append(time.perf_counter() - t0)
                        return df.toPandas()

                t0 = time.perf_counter()
                got = self._run(res, point)
                if got is not None:
                    res.latencies.append(time.perf_counter() - t0)
                    res.records.append(((b + 1) * batch, q, got))
                    res.extra["live_segments"].append(len(index.meta["segments"]))
        if cycle_docs and not res.rates:
            res.rates.append(cycle_docs / cycle_s)
        res.extra["disk_bytes"] = dir_bytes(base)
        return res

    def verify(self, res: LoopResult) -> None:
        """Each point query against the oracle over exactly the documents
        committed before it."""
        from rustserini_spark.analysis import analyze_text

        ref = references.Bm25Oracle(analyze_text)
        texts = self.corpus.docs["text"]
        for n_docs, q, got in sorted(res.records, key=lambda r: r[0]):
            ref.add(texts.iloc[ref.n_docs:n_docs])
            if not _all_topk_match(ref, [q], got):
                res.failed += 1
                res.errors.append(f"ranking mismatch for {q[0]} after {n_docs} docs")

    def layer_metrics(self, res: LoopResult) -> dict[str, float]:
        from pyspark.sql import functions as F

        out = {}
        if "index" in res.extra:
            with self.tracer.span("check"):
                out["compress.bytes_per_posting"] = _bytes_per_posting(res.extra["index"].postings, F)
        return {
            **out,
            "search.plan_s": _mean(res.extra["plan_s"]),
            "incremental.open_s": _mean(res.extra["open_s"]),
            "incremental.live_segments": _mean(res.extra["live_segments"]),
            "incremental.disk_bytes": res.extra["disk_bytes"],
            "incremental.merge_bytes_rewritten": _mean(res.extra["merge_bytes"]),
        }


# -------------------------------------------------------------------- curate


CURATE_OPS = {
    "exact_dedup": "dedup.exact_dedup",
    "minhash_verified_pairs": "dedup.minhash_verified_pairs",
    "ngram_jaccard_pairs": "dedup.ngram_jaccard_pairs",
    "simhash_neardup_pairs": "dedup.simhash_neardup_pairs",
    "curation_pipeline": "curation.curation_pipeline",
}


class Curate(Workload):
    """The dedup and curation pass a curator runs before indexing: five
    entries of ``__spark_entry__.queries()`` over the corpus, in order. One
    request is one whole pass."""

    name = "curate"
    N_DOCS = 1200
    SETUP_REPS = 5  # a set-up takes well under a second here, so take more
    WARM_S = 20.0

    def setup(self, rep: int) -> None:
        import __spark_entry__

        self.entries = __spark_entry__.queries()
        self._open(self.docs_path)

    def warm(self) -> None:
        # the first full pass is cold, and passes keep getting faster for
        # several more (JIT): up to ~15% from the third pass to the eighth.
        # Warming for a fixed time rather than a fixed count keeps the runs
        # on a fast host from timing passes further up that curve.
        t_end = time.perf_counter() + self.WARM_S
        passes = 0
        while passes < 2 or time.perf_counter() < t_end:
            self.loop(0.0)
            passes += 1

    def loop(self, seconds: float) -> LoopResult:
        res = LoopResult()
        n = len(self.corpus.docs)
        t_end = time.perf_counter() + seconds
        while not res.attempted or time.perf_counter() < t_end:
            t0 = time.perf_counter()
            ok = True
            for entry, span in CURATE_OPS.items():
                def op():
                    with self.tracer.span(span):
                        return self.entries[entry](self.spark, self.work).toPandas()

                got = self._run(res, op)
                ok &= got is not None
                res.records.append((entry, got))
            lat = time.perf_counter() - t0
            if ok:
                res.latencies.append(lat)
                res.rates.append(n / lat)
        return res

    def verify(self, res: LoopResult) -> None:
        """exact_dedup against Python's md5; the minhash and n-gram Jaccard
        pairs against their DuckDB oracles; the simhash pairs against a NumPy
        simhash of every doc pair; curation_pipeline by its guarantees: no
        planted duplicate and no two docs with one text or one simhash
        survive, and every survivor passes the filters."""
        import duckdb

        import __spark_entry__

        docs = self.corpus.docs
        want = {"exact_dedup": references.exact_dedup_reference(docs),
                "simhash_neardup_pairs": references.simhash_pairs_reference(
                    docs, __spark_entry__.SIMHASH_MAX_HAMMING)}
        sql = __spark_entry__.oracle_sql(os.path.join(self.work, "no-side-tables"))
        con = duckdb.connect(config={"temp_directory": os.path.join(self.work, "duckdb-tmp")})
        try:
            con.sql(f"CREATE VIEW documents AS SELECT * FROM '{self.work}/documents.parquet'")
            for entry in ("minhash_verified_pairs", "ngram_jaccard_pairs"):
                want[entry] = con.sql(sql[entry]).df()
        finally:
            con.close()
        for entry, got in res.records:
            if got is None:
                continue
            if entry == "curation_pipeline":
                ok = references.curation_guarantees_hold(got, docs, self.corpus.planted)
            else:
                ok = references.same_table(got, want[entry])
            if not ok:
                res.failed += 1
                res.errors.append(f"{entry} differs from its reference")

    def layer_metrics(self, res: LoopResult) -> dict[str, float]:
        return {}


WORKLOADS = {w.name: w for w in (Build, Search, Ingest, Curate)}


def tail_latency(latencies: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples): the highest percentile with at least ten
    samples beyond it; the maximum when there are ten samples or fewer."""
    xs = sorted(latencies)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= 10:
        return xs[-1], 100.0, n
    idx = n - 11
    return xs[idx], 100.0 * (idx + 1) / n, n


def median(xs) -> float:
    """Median; 0.0 for no samples (a run whose every request failed, which
    reports ``correct: false`` anyway), so the result stays valid JSON."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    m = len(xs) // 2
    return xs[m] if len(xs) % 2 else 0.5 * (xs[m - 1] + xs[m])
