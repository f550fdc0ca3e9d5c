"""Retrieval-evaluation kernel (search/evaluate.py::eval_run)."""

import math

import pytest
from pyspark.sql import functions as F

from whoosh_spark.search import eval_run, eval_summary


def _frames(spark, run_rows, qrel_rows):
    run = spark.createDataFrame(run_rows,
                                "query_id string, doc_id long, score double")
    qrels = spark.createDataFrame(qrel_rows,
                                  "query_id string, doc_id long, grade int")
    return run, qrels


def test_eval_run_hand_case(spark):
    # q1: ranks 1..4 -> grades 3, 0, 1, 0; qrels also hold an unretrieved
    # grade-2 doc (affects IDCG and n_rel, not DCG)
    run, qrels = _frames(
        spark,
        [("q1", 10, 4.0), ("q1", 11, 3.0), ("q1", 12, 2.0), ("q1", 13, 1.0)],
        [("q1", 10, 3), ("q1", 12, 1), ("q1", 99, 2)],
    )
    r = {x.query_id: x for x in eval_run(run, qrels, k=10).collect()}["q1"]
    assert r.n_ret == 4 and r.n_rel == 3
    assert r.p_at_k == round(2 / 10, 4)
    assert r.mrr == 1.0
    dcg = (2 ** 3 - 1) / math.log2(2) + (2 ** 1 - 1) / math.log2(4)
    idcg = ((2 ** 3 - 1) / math.log2(2) + (2 ** 2 - 1) / math.log2(3)
            + (2 ** 1 - 1) / math.log2(4))
    assert abs(r.ndcg - round(dcg / idcg, 4)) < 5e-5


def test_eval_run_edges(spark):
    run, qrels = _frames(
        spark,
        # q_none: nothing relevant; q_perfect: ideal order; q_late: the
        # only relevant doc at rank 3
        [("q_none", 1, 2.0), ("q_none", 2, 1.0),
         ("q_perfect", 5, 9.0), ("q_perfect", 6, 8.0),
         ("q_late", 7, 3.0), ("q_late", 8, 2.0), ("q_late", 9, 1.0)],
        [("q_perfect", 5, 2), ("q_perfect", 6, 1), ("q_late", 9, 1)],
    )
    got = {x.query_id: x for x in eval_run(run, qrels, k=10).collect()}
    assert got["q_none"].mrr == 0.0 and got["q_none"].ndcg == 0.0
    assert got["q_none"].n_rel == 0
    assert got["q_perfect"].ndcg == 1.0 and got["q_perfect"].mrr == 1.0
    assert got["q_late"].mrr == round(1 / 3, 4)
    with pytest.raises(ValueError):
        eval_run(run, qrels, k=0)


def test_eval_run_rank_truncation_and_tie_discipline(spark):
    # k=2 truncates; equal rounded scores break ties by doc_id ASC, so
    # the grade-1 doc with the LOWER id takes rank 1
    run, qrels = _frames(
        spark,
        [("q", 21, 1.00001), ("q", 20, 1.00002), ("q", 30, 0.5)],
        [("q", 30, 3)],
    )
    r = eval_run(run, qrels, k=2).collect()[0]
    # doc 30 (the only relevant) is rank 3 -> outside k=2
    assert r.p_at_k == 0.0 and r.mrr == 0.0 and r.ndcg == 0.0
    assert r.n_ret == 2 and r.n_rel == 1


def test_eval_run_qrels_only_query_zero_filled(spark):
    # ADVICE r4 / trec_eval convention: a query present only in qrels
    # (the run returned nothing) must appear with n_ret=0, zero metrics.
    run, qrels = _frames(
        spark,
        [("q_run", 1, 2.0)],
        [("q_run", 1, 1), ("q_ghost", 50, 3), ("q_ghost", 51, 1)],
    )
    got = {x.query_id: x for x in eval_run(run, qrels, k=5).collect()}
    assert set(got) == {"q_run", "q_ghost"}
    g = got["q_ghost"]
    assert g.n_ret == 0 and g.n_rel == 2
    assert g.p_at_k == 0.0 and g.mrr == 0.0 and g.ndcg == 0.0
    r = got["q_run"]
    assert r.n_ret == 1 and r.p_at_k == round(1 / 5, 4) and r.mrr == 1.0


def test_eval_summary_macro_mean_counts_runless_queries(spark):
    run, qrels = _frames(
        spark,
        [("q_perfect", 5, 9.0)],
        [("q_perfect", 5, 2), ("q_ghost", 50, 3)],
    )
    s = eval_summary(run, qrels, k=10).collect()[0]
    # macro mean over BOTH queries: perfect (1.0) and ghost (0.0)
    assert s.n_queries == 2
    assert s.mrr == 0.5 and s.ndcg == 0.5
    assert s.p_at_k == round((1 / 10 + 0.0) / 2, 4)


def test_eval_summary_ignores_run_only_queries(spark):
    # trec_eval evaluates the topics it has judgments for: a query that
    # appears only in the run (no qrels rows) must not count as a zero
    run, qrels = _frames(
        spark,
        [("q_perfect", 5, 9.0), ("q_unjudged", 7, 4.0)],
        [("q_perfect", 5, 2), ("q_ghost", 50, 3)],
    )
    s = eval_summary(run, qrels, k=10).collect()[0]
    assert s.n_queries == 2
    assert s.mrr == 0.5 and s.ndcg == 0.5
    assert s.p_at_k == round((1 / 10 + 0.0) / 2, 4)


def test_eval_run_partitioning_invariance(spark):
    import random
    rnd = random.Random(7)
    run_rows = [(f"q{i%5}", d, float(rnd.randrange(1000)) / 7)
                for i, d in enumerate(range(200))]
    qrel_rows = [(f"q{i%5}", d, rnd.randrange(4))
                 for i, d in enumerate(range(0, 200, 3))]
    run, qrels = _frames(spark, run_rows, qrel_rows)
    a = sorted(map(tuple, eval_run(run, qrels, k=7).collect()))
    b = sorted(map(tuple, eval_run(run.repartition(13), qrels.coalesce(1),
                                   k=7).collect()))
    assert a == b
