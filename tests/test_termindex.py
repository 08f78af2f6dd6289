"""Incremental term-statistics index: incremental == batch, supersede,
tombstones, idempotent epoch commits."""

from __future__ import annotations

from pyspark.sql import functions as F

from embulk_spark.operators.retrieval import bm25_scores
from embulk_spark.operators.termindex import TermIndex


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_incremental_equals_batch_df_and_bm25(spark, tmp_path):
    idx = TermIndex(spark, str(tmp_path / "ti"), id_col="doc_id",
                    id_type="bigint")
    e0 = _docs(spark, [
        (1, "the quick brown fox"),
        (2, "the lazy dog"),
        (3, "quick quick dog"),
    ])
    # epoch 1: doc 1 updated, doc 2 deleted, doc 4 arrives
    e1 = _docs(spark, [
        (1, "the slow brown turtle"),
        (2, None),
        (4, "dog dog dog quick"),
    ])
    idx.update_epoch(e0, "text", 0)
    idx.update_epoch(e1, "text", 1)

    final = _docs(spark, [
        (1, "the slow brown turtle"),
        (3, "quick quick dog"),
        (4, "dog dog dog quick"),
    ])
    # df parity
    got_df = {(r.term, r.df) for r in idx.term_df().collect()}
    want_df = {
        (r.term, r.df)
        for r in final.select(
            F.explode(F.array_distinct(F.split(F.lower(F.trim("text")), r"\s+")))
            .alias("term")
        ).groupBy("term").agg(F.count(F.lit(1)).alias("df")).collect()
    }
    assert got_df == want_df

    # bm25 parity with the batch scorer over the final corpus
    q = ["quick", "dog", "turtle"]
    got = {
        (r.id, r.score, r.n_matched_terms)
        for r in idx.bm25(q).collect()
    }
    want = {
        (r.doc_id, r.score, r.n_matched_terms)
        for r in bm25_scores(final, q).collect()
    }
    assert got == want


def test_as_of_epoch_and_duplicate_delivery(spark, tmp_path):
    idx = TermIndex(spark, str(tmp_path / "ti"), id_col="doc_id",
                    id_type="bigint")
    e0 = _docs(spark, [(1, "alpha beta"), (2, "beta gamma")])
    assert not idx.update_epoch(e0, "text", 0)["skipped_duplicate_epoch"]
    # duplicate delivery is a no-op
    assert idx.update_epoch(e0, "text", 0)["skipped_duplicate_epoch"]
    idx.update_epoch(_docs(spark, [(1, None)]), "text", 1)

    as_of0 = {(r.term, r.df) for r in idx.term_df(as_of_epoch=0).collect()}
    assert as_of0 == {("alpha", 1), ("beta", 2), ("gamma", 1)}
    now = {(r.term, r.df) for r in idx.term_df().collect()}
    assert now == {("beta", 1), ("gamma", 1)}


def test_resumed_handle_refuses_mixed_conventions(spark, tmp_path):
    import pytest

    TermIndex(spark, str(tmp_path / "ti"), id_col="doc_id", id_type="bigint")
    TermIndex(spark, str(tmp_path / "ti"), id_col="doc_id", id_type="bigint")
    with pytest.raises(ValueError, match="refusing to mix"):
        TermIndex(spark, str(tmp_path / "ti"), id_col="url")


def test_empty_index_answers_with_schema(spark, tmp_path):
    idx = TermIndex(spark, str(tmp_path / "ti"), id_col="doc_id",
                    id_type="bigint")
    assert idx.term_df().count() == 0
    assert idx.bm25(["x"]).count() == 0


def test_replay_lockstep_with_lake(spark, tmp_path):
    """replay_batches(followers=[term_index]) keeps the retrieval index in epoch
    lockstep: after replay, df/BM25 from the index equal the batch
    computation over the lake's published state."""
    from embulk_spark.sources.events import change_stream
    from embulk_spark.streaming.lake import ParquetLakeTable
    from embulk_spark.streaming.replay import replay_batches

    events = change_stream(spark, 900, 120, 3, num_partitions=4)
    table = ParquetLakeTable(spark, str(tmp_path / "t"), n_buckets=4)
    idx = TermIndex(spark, str(tmp_path / "ti"), id_col="url",
                    order_cols=["warc_ts", "seq"],
                    order_types=["timestamp", "bigint"])
    replay_batches(table, events, followers=[idx], pipeline_depth=1)

    assert idx.committed_epochs() == table.committed_epochs()
    pub = table.published().select("url", "text")
    want_df = {
        (r.term, r.df)
        for r in pub.select(
            F.explode(
                F.array_distinct(
                    F.expr(
                        "filter(split(lower(trim(text)), '\\\\s+'), x -> x <> '')"
                    )
                )
            ).alias("term")
        ).groupBy("term").agg(F.count(F.lit(1)).alias("df")).collect()
    }
    got_df = {(r.term, r.df) for r in idx.term_df().collect()}
    assert got_df == want_df

    # crash window: table committed an epoch the index missed → a fresh
    # replay self-heals the index without touching the table
    import shutil as _sh

    _sh.rmtree(idx._epoch_dir(max(idx.committed_epochs())))
    assert idx.committed_epochs() != table.committed_epochs()
    replay_batches(table, events, followers=[idx], pipeline_depth=1)
    assert idx.committed_epochs() == table.committed_epochs()
    assert {(r.term, r.df) for r in idx.term_df().collect()} == want_df


def test_late_event_in_newer_epoch_loses(spark, tmp_path):
    """order_cols resolution: a LATE delivery (older warc_ts/seq) arriving
    in a newer epoch must not supersede the current document."""
    idx = TermIndex(spark, str(tmp_path / "ti"), id_col="doc_id",
                    id_type="bigint", order_cols=["seq"],
                    order_types=["bigint"])
    e0 = spark.createDataFrame([(1, 10, "new words")],
                               "doc_id long, seq long, text string")
    late = spark.createDataFrame([(1, 5, "old stale")],
                                 "doc_id long, seq long, text string")
    idx.update_epoch(e0, "text", 0)
    idx.update_epoch(late, "text", 1)
    terms = {r.term for r in idx.state().collect()}
    assert terms == {"new", "words"}


def test_empty_doc_counts_in_corpus_constants(spark, tmp_path):
    """A live zero-token document carries no terms but is a corpus member
    (N and avgdl) — exactly as the batch scorer sees it."""
    idx = TermIndex(spark, str(tmp_path / "ti"), id_col="doc_id",
                    id_type="bigint")
    docs = spark.createDataFrame(
        [(1, "quick dog"), (2, "   "), (3, "dog")],
        "doc_id long, text string",
    )
    idx.update_epoch(docs, "text", 0)
    assert {(r.id, r.dl) for r in idx.live_docs().collect()} == {
        (1, 2), (2, 0), (3, 1)
    }
    got = {(r.id, r.score) for r in idx.bm25(["dog"]).collect()}
    want = {(r.doc_id, r.score) for r in bm25_scores(docs, ["dog"]).collect()}
    assert got == want
    # deleting the empty doc removes it from the constants
    idx.update_epoch(
        spark.createDataFrame([(2, None)], "doc_id long, text string"),
        "text", 1,
    )
    assert {r.id for r in idx.live_docs().collect()} == {1, 3}
