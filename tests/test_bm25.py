"""BM25 (A3) against an independent hand computation on a 5-doc corpus
— the SURVEY §5 unit strategy. The expected values are produced by a
plain-Python loop implementing Lucene BM25 (k1=1.5, b=0.75,
idf = ln(1 + (N - df + .5)/(df + .5))) — deliberately NOT the DataFrame
code under test."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from plan_inspect import jobs_launched
from rag_database_spark.functions.text import STOPWORDS
from rag_database_spark.operators import bm25 as bm25_ops

DOCS = [
    (0, "fast hash join beats sort merge join"),
    (1, "sort merge join wins on presorted data"),
    (2, "hash table build side must fit memory"),
    (3, "columnar scan with filter pushdown"),
    (4, "the the the of of and"),  # stopwords only → empty doc
]
QUERIES = [
    (10, "hash join"),
    (11, "sort data scan"),
    (12, "hash hash join"),  # repeated term: qtf = 2
    (13, "the of and"),  # stopwords only: no rows
    (14, "quantum"),  # matches no document: no rows
    (15, "quantum join"),  # the unmatched term adds nothing
]

K1, B = 1.5, 0.75


def _tokenize(text):
    out = []
    for t in text.lower().split():
        t = "".join(c for c in t if c.isalnum() or c == "_")
        if len(t) >= 2 and t not in STOPWORDS:
            out.append(t)
    return out


def _expected_scores():
    corpus = {d: _tokenize(t) for d, t in DOCS}
    n = len(corpus)
    avgdl = sum(len(v) for v in corpus.values()) / n
    df = {}
    for toks in corpus.values():
        for t in set(toks):
            df[t] = df.get(t, 0) + 1
    exp = {}
    for qid, qtext in QUERIES:
        for doc_id, toks in corpus.items():
            s = 0.0
            for qt in _tokenize(qtext):
                tf = toks.count(qt)
                if tf == 0:
                    continue
                idf = math.log(1 + (n - df[qt] + 0.5) / (df[qt] + 0.5))
                dl = len(toks)
                s += idf * tf * (K1 + 1) / (tf + K1 * (1 - B + B * dl / avgdl))
            if s > 0:
                exp[(qid, doc_id)] = s
    return exp


def _index(spark, docs, path):
    """(postings, stats) of a ``write_index`` run over ``docs``."""
    bm25_ops.write_index(docs, str(path))
    return bm25_ops.read_index(spark, str(path))[0], bm25_ops.read_stats(
        str(path)
    )


@pytest.fixture(scope="module")
def scored(spark, tmp_path_factory):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    queries = spark.createDataFrame(QUERIES, "query_id long, query_text string")
    postings, stats = _index(spark, docs, tmp_path_factory.mktemp("bm25"))
    rows = bm25_ops.score_queries(queries, postings, stats).collect()
    return {(r["query_id"], r["doc_id"]): r["score"] for r in rows}


def test_bm25_matches_hand_computation(scored):
    exp = _expected_scores()
    assert set(scored) == set(exp)
    for key, val in exp.items():
        assert scored[key] == pytest.approx(val, rel=1e-12), key


def test_empty_doc_counts_toward_stats(spark, tmp_path):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    postings, (n_docs, avgdl) = _index(spark, docs, tmp_path / "idx")
    assert n_docs == 5
    # doc 4 tokenizes to nothing but still contributes dl=0 to avgdl
    assert avgdl == sum(len(_tokenize(t)) for _, t in DOCS) / 5
    # every posting carries its document's token count
    assert {(r["doc_id"], r["dl"]) for r in postings.collect()} == {
        (d, len(_tokenize(t))) for d, t in DOCS if _tokenize(t)
    }


def test_read_stats_launches_no_job(spark, tmp_path):
    """The corpus stats reach the plan as literals read on the driver:
    reading them, and building a scoring plan over them, runs no Spark
    job."""
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    path = str(tmp_path / "idx")
    bm25_ops.write_index(docs, path)
    queries = spark.createDataFrame(QUERIES, "query_id long, query_text string")
    postings = bm25_ops.read_index(spark, path)[0]
    n_jobs = jobs_launched(
        spark, "bm25-read-stats",
        lambda: bm25_ops.score_queries(
            queries, postings, bm25_ops.read_stats(path)
        ),
    )
    assert n_jobs == 0


def test_topk_tie_break_is_id_ascending(spark):
    scored = spark.createDataFrame(
        [(1, 7, 2.0), (1, 3, 2.0), (1, 5, 9.0)],
        "query_id long, doc_id long, score double",
    )
    rows = bm25_ops.topk(scored, 2).orderBy("rank").collect()
    assert [(r["doc_id"], r["rank"]) for r in rows] == [(5, 1), (3, 2)]


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_append_index_equals_full_rebuild(spark, tmp_path):
    """An index written once and appended twice must equal one
    ``write_index`` over the union: the same postings (``dl``
    included), doclens and stats, the stats equal to the pair computed
    from ``build_doclens``, and identical query scores."""
    corpus = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    parts = [corpus.filter(F.col("doc_id") % 3 == r) for r in range(3)]

    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    bm25_ops.write_index(parts[0], inc)
    bm25_ops.append_index(parts[1], inc)
    bm25_ops.append_index(parts[2], inc)
    bm25_ops.write_index(corpus, full)

    for got, want in zip(
        bm25_ops.read_index(spark, inc), bm25_ops.read_index(spark, full)
    ):
        assert _rows(got) == _rows(want)
    lens = [r["dl"] for r in bm25_ops.build_doclens(corpus).collect()]
    assert bm25_ops.read_stats(inc) == bm25_ops.read_stats(full) == (
        len(lens), float(sum(lens)) / float(len(lens))
    )

    from rag_database_spark.workload import queries_df

    def scores(path):
        postings = bm25_ops.read_index(spark, path)[0]
        scored = bm25_ops.score_queries(
            queries_df(spark), postings, bm25_ops.read_stats(path)
        )
        # per-doc sums may add their terms in another order: 9 decimals
        return sorted(
            (r["query_id"], r["doc_id"], round(r["score"], 9))
            for r in scored.collect()
        )

    inc_rows = scores(inc)
    assert inc_rows and inc_rows == scores(full)


def test_empty_index_stats(spark, tmp_path):
    """An index written from no documents reads back (0, None) and
    scores no rows, instead of failing on 0 / 0."""
    docs = spark.createDataFrame([], "doc_id long, text string")
    postings, stats = _index(spark, docs, tmp_path / "empty")
    assert stats == (0, None)
    queries = spark.createDataFrame(QUERIES, "query_id long, query_text string")
    assert bm25_ops.score_queries(queries, postings, stats).count() == 0
