"""Retrieval evaluation: graded-relevance metrics over a run.

The standard IR eval kernel (TREC conventions; Jarvelin & Kekalainen
2002 for nDCG) the engine's own regression harness and any relevance
tuning loop needs: given a RUN (query_id, doc_id, score) and QRELS
(query_id, doc_id, grade >= 0), compute per-query P@k, MRR@k, nDCG@k
plus the macro mean. Whoosh ships no eval surface; this is part of the
beyond-reference tier next to hybrid retrieval (hybrid.py), whose
fusion/re-rank outputs are exactly the frames this evaluates.

Scale shape: ranks come from one per-query window over the run (runs
are top-k shortlists — queries x k rows, never corpus-sized); qrels
join on (query_id, doc_id); ideal DCG is a second tiny window over each
query's qrels. Everything is JVM column expressions; determinism
follows the registry discipline — ranking by (rounded score DESC,
doc_id ASC) so a 1-ulp scorer difference can never flip a rank, and
every metric is a fixed-order expression both engines can mirror.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["eval_run", "eval_summary"]


def eval_run(
    run: DataFrame,
    qrels: DataFrame,
    k: int = 10,
    round_to: int = 4,
) -> DataFrame:
    """Per-query retrieval metrics -> (query_id, n_ret, n_rel, p_at_k,
    mrr, ndcg).

    - rank: row_number over (round(score, round_to) DESC, doc_id ASC),
      truncated at ``k``;
    - P@k   = |{rank <= k, grade > 0}| / k;
    - MRR@k = 1 / min rank of a grade>0 doc (0.0 when none in top k);
    - nDCG@k = DCG@k / IDCG@k with DCG = sum (2^grade - 1) /
      log2(rank + 1) and IDCG the same sum over the query's qrels sorted
      by (grade DESC, doc_id ASC) truncated at k (0.0 when the query has
      no relevant docs at all).

    ``n_ret`` counts run rows within k, ``n_rel`` the query's total
    relevant docs — both sanity columns a regression harness wants next
    to the ratios.

    TREC convention (trec_eval): a query that appears only in the qrels
    (the run returned nothing for it) still gets a row, with n_ret = 0
    and zero metrics — it must drag the macro mean down, not silently
    shrink the denominator. :func:`eval_summary` gives the macro mean.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round(F.col("score"), round_to)), F.asc("doc_id"))
    ranked = (
        run.select("query_id", "doc_id", "score")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .join(qrels.select("query_id", "doc_id",
                           F.col("grade").cast("int").alias("grade")),
              ["query_id", "doc_id"], "left")
        .withColumn("grade", F.coalesce("grade", F.lit(0)))
    )
    gain = (F.pow(F.lit(2.0), F.col("grade")) - F.lit(1.0)) \
        / F.log2(F.col("rank") + F.lit(1.0))
    per_q = ranked.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_ret"),
        F.sum(F.when(F.col("grade") > 0, 1).otherwise(0)).alias("_nrel_k"),
        F.min(F.when(F.col("grade") > 0, F.col("rank"))).alias("_first"),
        F.sum(gain).alias("_dcg"),
    )
    wi = Window.partitionBy("query_id").orderBy(
        F.desc("grade"), F.asc("doc_id"))
    ideal = (
        qrels.where(F.col("grade") > 0)
        .select("query_id", "doc_id", F.col("grade").cast("int").alias("grade"))
        .withColumn("_r", F.row_number().over(wi))
        .groupBy("query_id")
        .agg(
            F.count("*").cast("long").alias("n_rel"),
            F.sum(
                F.when(
                    F.col("_r") <= k,
                    (F.pow(F.lit(2.0), F.col("grade")) - F.lit(1.0))
                    / F.log2(F.col("_r") + F.lit(1.0)),
                ).otherwise(F.lit(0.0))
            ).alias("_idcg"),
        )
    )
    # FULL outer join (trec_eval convention): a qrels-only query (the
    # run returned no rows for it) reports n_ret = 0 and zero metrics
    # instead of disappearing from the frame.
    return (
        per_q.join(ideal, "query_id", "full")
        .select(
            "query_id",
            F.coalesce("n_ret", F.lit(0)).cast("long").alias("n_ret"),
            F.coalesce("n_rel", F.lit(0)).cast("long").alias("n_rel"),
            F.round(
                F.coalesce(F.col("_nrel_k"), F.lit(0)) / F.lit(float(k)),
                round_to,
            ).alias("p_at_k"),
            F.round(
                F.coalesce(F.lit(1.0) / F.col("_first"), F.lit(0.0)),
                round_to,
            ).alias("mrr"),
            F.round(
                F.when(
                    F.col("_idcg") > 0,
                    F.coalesce(F.col("_dcg"), F.lit(0.0)) / F.col("_idcg"),
                ).otherwise(F.lit(0.0)),
                round_to,
            ).alias("ndcg"),
        )
    )


def eval_summary(
    run: DataFrame,
    qrels: DataFrame,
    k: int = 10,
    round_to: int = 4,
) -> DataFrame:
    """Macro mean over :func:`eval_run`'s per-query rows -> ONE row
    (n_queries, p_at_k, mrr, ndcg). Unweighted mean over the queries
    that have qrels (the trec_eval summary convention): qrels-only
    queries count as zeros in the denominator because :func:`eval_run`
    emits them zero-filled; run-only queries (no qrels rows) are left
    out, as trec_eval ignores topics it has no judgments for.

    Scale shape: one global aggregate over a queries-sized frame (runs
    are top-k shortlists, so the input is already tiny)."""
    per_q = eval_run(run, qrels, k=k, round_to=round_to).join(
        qrels.select("query_id"), "query_id", "left_semi")
    return per_q.agg(
        F.count("*").cast("long").alias("n_queries"),
        F.round(F.avg("p_at_k"), round_to).alias("p_at_k"),
        F.round(F.avg("mrr"), round_to).alias("mrr"),
        F.round(F.avg("ndcg"), round_to).alias("ndcg"),
    )
