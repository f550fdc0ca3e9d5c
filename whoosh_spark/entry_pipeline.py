"""Driver-contract registry, part 2: training-data pipeline operators and
the physical transcript index (segments + WAND).

Merged into entry_queries.registry(). Conventions identical: every Spark
callable has a DuckDB oracle that recomputes the same semantics in SQL
(or None for genuinely approximate ops, which the driver records as
rows-only checks: IVF / IVF-PQ ANN, centroid-blocked near-dup — their
recall and exactness invariants are pinned in pytest instead; simhash
gained an exact md5-based oracle in round 2).

The MinHash-LSH entry is deliberately oracle-checked against EXACT
all-pairs Jaccard: reported pairs are exact-verified (correct by
construction) and LSH recall at b=16,r=4 is >0.999 for J>=0.8, so output
completeness matches the exact computation on this corpus — the oracle
therefore also guards against recall regressions.
"""

from __future__ import annotations

import os
import shutil

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whoosh_spark.analysis import STOP_WORDS
from whoosh_spark.entry_queries import (
    K,
    _CACHE,
    _PATTERN_SQL as _PATTERN_SQL_Q,
    _STOPLIST_SQL as _STOPLIST_SQL_Q,
    _rounded,
    prelude_body,
)
from whoosh_spark.fields import transcript_schema
from whoosh_spark.indexing.segments import build_segments, open_segments
from whoosh_spark.pipeline import (
    cluster_neardup_pairs,
    cosine_neardup_pairs,
    cosine_topk,
    contamination_pairs,
    dedup_sweep,
    exact_duplicates,
    fake_decode_meta,
    fingerprint_overlap_pairs,
    ivf_pq_topk,
    ivf_topk,
    langid,
    minhash_dedup_pairs,
    quality_scores,
    repetition_stats,
    sample_frames,
    shingle_jaccard_pairs,
    simhash_pairs,
    synth_assets,
    token_counts,
    winnow_fingerprints,
)
from whoosh_spark.search.aux import (
    key_terms,
    key_terms_from_text,
    more_like_this,
    suggest,
)
from whoosh_spark.search.highlight import highlight_df, highlights
from whoosh_spark.search.wand import wand_topk
from whoosh_spark.transcripts import TURNS_FROM_DOCUMENTS_SQL, transcript_corpus

# ------------------------------------------------------------ shared bits


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = ("raw_docs", sf_dir)
    if key not in _CACHE:
        _CACHE[key] = spark.read.parquet(f"{sf_dir}/documents.parquet").persist()
    return _CACHE[key]


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = ("raw_emb", sf_dir)
    if key not in _CACHE:
        _CACHE[key] = spark.read.parquet(f"{sf_dir}/embeddings.parquet").persist()
    return _CACHE[key]


def _turns_index(spark: SparkSession, sf_dir: str):
    """Segmented physical index over the documents-derived transcript turns
    (built once per sf_dir under /tmp; exercises build+pack+WAND in the
    correctness gate)."""
    key = ("turns_six", sf_dir)
    if key not in _CACHE:
        corpus = transcript_corpus(spark, sf_dir).persist()
        corpus.count()
        path = f"/tmp/whoosh_spark_entry/{abs(hash(sf_dir))}"
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path, exist_ok=True)
        build_segments(spark, corpus, transcript_schema(), path, n_segments=3)
        _CACHE[key] = open_segments(spark, path, corpus, transcript_schema())
    return _CACHE[key]


def _wand(spark, sf_dir, terms, mode="or", k=K, doc_range=None) -> DataFrame:
    """WAND top-k re-ranked by ROUNDED score (oracle tie discipline): fetch
    3k by exact score, round, reorder, cut to k."""
    six = _turns_index(spark, sf_dir)
    raw = wand_topk(six, "text", terms, k=3 * k, mode=mode, doc_range=doc_range)
    return _rounded(raw).orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


# Turn-corpus prelude: derive turns from documents, then the same
# tokenize/score pipeline over them.
TURNS_PRELUDE = (
    "WITH " + TURNS_FROM_DOCUMENTS_SQL.strip() + ",\n" + prelude_body("turns") + "\n"
)

PRELUDE_DOCS = "\nWITH " + prelude_body("documents") + "\n"

_TOPK_TAIL = "ORDER BY score DESC, doc_id ASC LIMIT {k}"


def _turns_sql_topk(body: str, k: int = K) -> str:
    return (
        TURNS_PRELUDE
        + f"SELECT doc_id, round(score, 4) AS score FROM ({body})\n"
        + _TOPK_TAIL.format(k=k)
    )


# 5-shingle CTE over documents (mirrors pipeline.dedup.char_shingles k=5)
_SHINGLES_SQL = """
sh AS (
  SELECT doc_id,
         unnest(list_distinct([text[i:i+4] FOR i IN generate_series(1, greatest(length(text)-4, 1))])) AS s
  FROM documents
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
jpairs AS (
  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jacc AS (
  SELECT i, j, inter * 1.0 / (sa.n + sb.n - inter) AS jaccard
  FROM jpairs p JOIN sizes sa ON p.i = sa.doc_id JOIN sizes sb ON p.j = sb.doc_id
)
"""

# Winnowing fingerprints in SQL: same rolling hash (left fold of
# (a*31 + byte) % 1e9+7 over k=8 chars), window-4 minima, distinct.
_WINNOW_SQL = """
wh AS (
  SELECT doc_id,
         [list_reduce([unicode(text[p + q])::BIGINT FOR q IN generate_series(0, 7)],
                      (a, b) -> (a * 31 + b) % 1000000007)
          FOR p IN generate_series(1, length(text) - 7)] AS hs
  FROM documents WHERE length(text) >= 8
),
wmin AS (
  SELECT doc_id,
         CASE WHEN len(hs) >= 4
              THEN [list_min(hs[i:i+3]) FOR i IN generate_series(1, len(hs) - 3)]
              ELSE [list_min(hs)] END AS mins
  FROM wh
),
fps AS (SELECT DISTINCT doc_id, unnest(mins) AS fp FROM wmin)
"""


_STOP_SQL = ", ".join(repr(w) for w in sorted(STOP_WORDS))

from whoosh_spark.pipeline.textstats import LANG_PROFILES  # noqa: E402


def _pipeline_registry() -> dict:
    reg: dict = {}

    def add(name, fn, sql):
        reg[name] = (fn, sql)

    # ---------------- physical transcript index: segments + WAND ----------

    add(
        "turns_wand_term_topk",
        lambda spark, sf: _wand(spark, sf, ["spark"]),
        _turns_sql_topk("SELECT doc_id, score FROM scored WHERE term = 'spark'"),
    )
    add(
        "turns_wand_or_topk",
        lambda spark, sf: _wand(spark, sf, ["merge", "join", "window"]),
        _turns_sql_topk(
            "SELECT doc_id, sum(score) AS score FROM scored "
            "WHERE term IN ('merge','join','window') GROUP BY doc_id"
        ),
    )
    add(
        "turns_wand_and_topk",
        lambda spark, sf: _wand(spark, sf, ["hash", "join"], mode="and"),
        _turns_sql_topk(
            "SELECT doc_id, sum(score) AS score FROM scored WHERE term IN ('hash','join') "
            "GROUP BY doc_id HAVING count(*) = 2"
        ),
    )
    def _wand_batch(spark, sf):
        # Batched query-set execution: 3 queries, ONE Spark action
        # (wand_topk_many), per-query rounded re-rank (same tie discipline
        # as the single-query entries)
        from pyspark.sql import Window

        from whoosh_spark.search.wand import wand_topk_many

        six = _turns_index(spark, sf)
        queries = {0: ["spark"], 1: ["merge", "join", "window"],
                   2: ["hash", "join"]}
        raw = wand_topk_many(six, "text", queries, k=3 * K)
        rounded = raw.withColumn("score", F.round("score", 4))
        rn = F.row_number().over(
            Window.partitionBy("query_id").orderBy(F.desc("score"),
                                                   F.asc("doc_id")))
        return (rounded.withColumn("rn", rn).where(F.col("rn") <= K)
                .drop("rn")
                .orderBy("query_id", F.desc("score"), F.asc("doc_id")))

    add(
        "turns_wand_range_topk",
        # doc-subset WAND (time-slice / conversation-range search over the
        # docnum order): blocks outside [500, 20000) prune on min/max
        # metadata pre-scan, straddlers range-filter after decode; df/idf/
        # avgdl stay corpus-GLOBAL (FilterMatcher semantics), which the
        # oracle mirrors by filtering scored, not re-deriving stats
        lambda spark, sf: _wand(spark, sf, ["merge", "join", "window"],
                                doc_range=(500, 20000)),
        _turns_sql_topk(
            "SELECT doc_id, sum(score) AS score FROM scored "
            "WHERE term IN ('merge','join','window') "
            "AND doc_id >= 500 AND doc_id < 20000 GROUP BY doc_id"
        ),
    )

    add(
        "turns_wand_batch_topk",
        _wand_batch,
        TURNS_PRELUDE
        + """
SELECT query_id, doc_id, score FROM (
  SELECT query_id, doc_id, round(score, 4) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(score, 4) DESC, doc_id ASC) AS rn
  FROM (
    SELECT 0 AS query_id, doc_id, score FROM scored WHERE term = 'spark'
    UNION ALL
    SELECT 1, doc_id, sum(score) FROM scored
      WHERE term IN ('merge','join','window') GROUP BY doc_id
    UNION ALL
    SELECT 2, doc_id, sum(score) FROM scored
      WHERE term IN ('hash','join') GROUP BY doc_id
  )
) WHERE rn <= 10 ORDER BY query_id, score DESC, doc_id ASC
""",
    )

    def _wand_phrase(spark, sf):
        # Block-max phrase WAND over the physical index: lazy per-block
        # position decode + score-ordered verify with early exit
        # (wand.wand_phrase_topk); same rounded re-rank tie discipline as
        # the other turns_wand entries
        from whoosh_spark.search.wand import wand_phrase_topk

        six = _turns_index(spark, sf)
        raw = wand_phrase_topk(six, "text", ["window", "merge", "join"],
                               k=3 * K, slop=2)
        return _rounded(raw).orderBy(F.desc("score"), F.asc("doc_id")).limit(K)

    add(
        "turns_wand_dismax_topk",
        # max-mode WAND (wrappers.py::DisMaxMatcher, tiebreak=0): per-doc
        # MAX of term scores with the tighter single-block prune bound —
        # Searcher.search(DisMax, optimize=True) routes here
        lambda spark, sf: _wand(spark, sf, ["merge", "join", "spark"],
                                mode="max"),
        _turns_sql_topk(
            "SELECT doc_id, max(score) AS score FROM scored "
            "WHERE term IN ('merge','join','spark') GROUP BY doc_id"
        ),
    )

    def _search_default(spark, sf):
        # The END-USER default path: Searcher.search(optimize=True) over
        # the physical index routes this flat Or through the block-max
        # WAND kernel (executor.Searcher._wand_route — the engine's form
        # of searching.py::Searcher.search optimize=True); same rounded
        # re-rank tie discipline as the turns_wand entries
        from whoosh_spark import query as Q
        from whoosh_spark.search import Searcher

        six = _turns_index(spark, sf)
        q = Q.Or([Q.Term("text", t) for t in ("hash", "window", "spark")])
        raw = Searcher(six).search(q, limit=3 * K)
        return _rounded(raw).orderBy(F.desc("score"), F.asc("doc_id")).limit(K)

    add(
        "turns_search_default_topk",
        _search_default,
        _turns_sql_topk(
            "SELECT doc_id, sum(score) AS score FROM scored "
            "WHERE term IN ('hash','window','spark') GROUP BY doc_id"
        ),
    )

    def _search_mixed(spark, sf):
        # The FLAGSHIP parsed shape '"hash join" OR spark^2' through the
        # default end-user path. Or(Phrase, boosted Term) is single-kernel
        # ineligible; past the leaf-postings cost gate Searcher.search
        # (optimize=True) routes it through the threshold-algorithm
        # decomposition (executor._or_mixed_route: per-child block-max
        # kernels propose candidates, the executor's own restricted _c_or
        # rescores them exactly) — closing the r3 perf-weak spot at sf1.
        # At THIS sf the gate keeps the executor's single action (cheaper
        # below ~2M leaf postings); route ≡ executor is pinned bit-exact
        # in tests/test_or_mixed_route.py, so the oracle here pins the
        # semantics both paths share. Same rounded re-rank tie discipline
        # as the other entries.
        from whoosh_spark import query as Qn
        from whoosh_spark.search import Searcher

        six = _turns_index(spark, sf)
        q = Qn.Or([Qn.Phrase("text", ["hash", "join"]),
                   Qn.Term("text", "spark", boost=2.0)])
        raw = Searcher(six).search(q, limit=3 * K)
        return _rounded(raw).orderBy(F.desc("score"), F.asc("doc_id")).limit(K)

    add(
        "turns_search_mixed_topk",
        _search_mixed,
        TURNS_PRELUDE
        + """
SELECT doc_id, score FROM (
  SELECT doc_id, round(sum(score), 4) AS score FROM (
    SELECT s.doc_id, sum(s.score) AS score FROM scored s
      WHERE s.term IN ('hash','join') AND s.doc_id IN (
        SELECT a.doc_id FROM ftok a JOIN ftok b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        WHERE a.term = 'hash' AND b.term = 'join')
      GROUP BY s.doc_id HAVING count(*) = 2
    UNION ALL
    SELECT doc_id, score * 2 FROM scored WHERE term = 'spark'
  ) GROUP BY doc_id
) ORDER BY score DESC, doc_id ASC LIMIT 10
""",
    )

    def _batch_default(spark, sf):
        # The END-USER default BATCH path: Searcher.search_many(optimize=
        # True) routes this heterogeneous Or/And/DisMax set through ONE
        # batched block-max kernel call (wand.wand_topk_many, per-query
        # modes — one pruned scan over the union of all terms), per-query
        # rounded re-rank with the same tie discipline
        from pyspark.sql import Window

        from whoosh_spark import query as Q
        from whoosh_spark.search import Searcher

        six = _turns_index(spark, sf)
        queries = {
            0: Q.Or([Q.Term("text", t) for t in ("merge", "join", "window")]),
            1: Q.And([Q.Term("text", "hash"), Q.Term("text", "join")]),
            2: Q.DisjunctionMax(
                [Q.Term("text", t) for t in ("merge", "join", "spark")]),
        }
        raw = Searcher(six).search_many(queries, limit=3 * K)
        rounded = raw.withColumn("score", F.round("score", 4))
        rn = F.row_number().over(
            Window.partitionBy("query_id").orderBy(F.desc("score"),
                                                   F.asc("doc_id")))
        return (rounded.withColumn("rn", rn).where(F.col("rn") <= K)
                .drop("rn")
                .orderBy("query_id", F.desc("score"), F.asc("doc_id")))

    add(
        "turns_batch_default_topk",
        _batch_default,
        TURNS_PRELUDE
        + """
SELECT query_id, doc_id, score FROM (
  SELECT query_id, doc_id, round(score, 4) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(score, 4) DESC, doc_id ASC) AS rn
  FROM (
    SELECT 0 AS query_id, doc_id, sum(score) AS score FROM scored
      WHERE term IN ('merge','join','window') GROUP BY doc_id
    UNION ALL
    SELECT 1, doc_id, sum(score) FROM scored
      WHERE term IN ('hash','join') GROUP BY doc_id HAVING count(*) = 2
    UNION ALL
    SELECT 2, doc_id, max(score) FROM scored
      WHERE term IN ('merge','join','spark') GROUP BY doc_id
  )
) WHERE rn <= 10 ORDER BY query_id, score DESC, doc_id ASC
""",
    )

    def _batch_mixed(spark, sf):
        # batch default with a PHRASE member: the Or routes through the
        # batched term kernel, the Phrase through wand_phrase_topk, both
        # branches in the same single action (executor.search_many)
        from pyspark.sql import Window

        from whoosh_spark import query as Qn
        from whoosh_spark.search import Searcher

        six = _turns_index(spark, sf)
        queries = {
            0: Qn.Or([Qn.Term("text", t) for t in ("hash", "window")]),
            1: Qn.Phrase("text", ["hash", "join"]),
        }
        raw = Searcher(six).search_many(queries, limit=3 * K)
        rounded = raw.withColumn("score", F.round("score", 4))
        rn = F.row_number().over(
            Window.partitionBy("query_id").orderBy(F.desc("score"),
                                                   F.asc("doc_id")))
        return (rounded.withColumn("rn", rn).where(F.col("rn") <= K)
                .drop("rn")
                .orderBy("query_id", F.desc("score"), F.asc("doc_id")))

    add(
        "turns_batch_mixed_topk",
        _batch_mixed,
        TURNS_PRELUDE
        + """
SELECT query_id, doc_id, score FROM (
  SELECT query_id, doc_id, round(score, 4) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(score, 4) DESC, doc_id ASC) AS rn
  FROM (
    SELECT 0 AS query_id, doc_id, sum(score) AS score FROM scored
      WHERE term IN ('hash','window') GROUP BY doc_id
    UNION ALL
    SELECT 1, s.doc_id, sum(s.score) FROM scored s
      WHERE s.term IN ('hash','join') AND s.doc_id IN (
        SELECT a.doc_id FROM ftok a JOIN ftok b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        WHERE a.term = 'hash' AND b.term = 'join')
      GROUP BY s.doc_id HAVING count(*) = 2
  )
) WHERE rn <= 10 ORDER BY query_id, score DESC, doc_id ASC
""",
    )

    add(
        "turns_wand_phrase_topk",
        _wand_phrase,
        _turns_sql_topk(
            "SELECT s.doc_id, sum(s.score) AS score FROM scored s "
            "WHERE s.term IN ('window','merge','join') AND s.doc_id IN ("
            "SELECT a.doc_id FROM ftok a "
            "JOIN ftok b ON a.doc_id = b.doc_id AND b.pos > a.pos AND b.pos <= a.pos + 2 "
            "JOIN ftok c ON b.doc_id = c.doc_id AND c.pos > b.pos AND c.pos <= b.pos + 2 "
            "WHERE a.term = 'window' AND b.term = 'merge' AND c.term = 'join') "
            "GROUP BY s.doc_id HAVING count(*) = 3"
        ),
    )

    add(
        "turns_lexicon_stats",
        lambda spark, sf: _turns_index(spark, sf)
        .terms.where(F.col("field") == "text")
        .select("term", "df", "total_weight"),
        TURNS_PRELUDE
        + "SELECT term, count(*)::BIGINT AS df, sum(w)::DOUBLE AS total_weight "
        "FROM post GROUP BY term",
    )

    def _conv_best(spark, sf):
        # NestedParent analogue: conversations ranked by their best turn
        six = _turns_index(spark, sf)
        scored = _rounded(wand_topk(six, "text", ["spark"], k=10**6))
        docs = six.docs.select("doc_id", "conv_id")
        return (
            scored.join(docs, "doc_id")
            .groupBy("conv_id")
            .agg(F.max("score").alias("best_score"))
            .orderBy(F.desc("best_score"), F.asc("conv_id"))
            .limit(K)
        )

    add(
        "turns_conv_best_topk",
        _conv_best,
        TURNS_PRELUDE
        + "SELECT t.conv_id, max(round(s.score, 4)) AS best_score "
        "FROM scored s JOIN turns t USING (doc_id) WHERE s.term = 'spark' "
        "GROUP BY t.conv_id ORDER BY best_score DESC, conv_id ASC LIMIT 10",
    )

    def _conv_children(spark, sf):
        # NestedChildren (the other nested direction): every TURN of a
        # conversation containing a 'spark' hit — executor.nested_children
        # semi-joins the docs frame against the matched parent keys
        from whoosh_spark import query as Qn
        from whoosh_spark.search import Searcher

        six = _turns_index(spark, sf)
        return Searcher(six).nested_children(Qn.Term("text", "spark"),
                                             "conv_id")

    add(
        "turns_conv_children",
        _conv_children,
        TURNS_PRELUDE
        + "SELECT t.doc_id, t.conv_id FROM turns t WHERE t.conv_id IN ("
        "SELECT DISTINCT t2.conv_id FROM scored s JOIN turns t2 USING (doc_id) "
        "WHERE s.term = 'spark')",
    )

    def _ctx_expand(spark, sf):
        # RAG context expansion over the transcript index: top-5 'spark'
        # turn hits (rounded per registry discipline), each with its +-1
        # neighbor turns attached — one conv-keyed equi-join, range as a
        # residual filter
        from whoosh_spark.pipeline.conversations import expand_context

        six = _turns_index(spark, sf)
        return expand_context(_wand(spark, sf, ["spark"], k=5), six.docs, k=1)

    add(
        "turns_context_expand",
        _ctx_expand,
        TURNS_PRELUDE
        + """
SELECT h.doc_id AS hit_doc_id, h.score, t2.conv_id,
       t2.doc_id AS ctx_doc_id, t2.turn_idx,
       (t2.turn_idx - t1.turn_idx)::INT AS offset
FROM (SELECT doc_id, round(score, 4) AS score FROM scored
      WHERE term = 'spark'
      ORDER BY round(score, 4) DESC, doc_id ASC LIMIT 5) h
JOIN turns t1 ON t1.doc_id = h.doc_id
JOIN turns t2 ON t2.conv_id = t1.conv_id
            AND t2.turn_idx BETWEEN t1.turn_idx - 1 AND t1.turn_idx + 1
""",
    )

    def _ctx_assemble(spark, sf):
        # prompt-ready rendering of the expanded windows: 'role: text'
        # lines per hit in turn order — the composed RAG retrieval shape
        from whoosh_spark.pipeline.conversations import (
            assemble_context, expand_context)

        six = _turns_index(spark, sf)
        return assemble_context(
            expand_context(_wand(spark, sf, ["spark"], k=5), six.docs, k=1),
            six.docs)

    add(
        "turns_context_assemble",
        _ctx_assemble,
        TURNS_PRELUDE
        + """
SELECT h.doc_id AS hit_doc_id, h.score, t1.conv_id,
       count(*)::INT AS n_turns,
       string_agg(t2.role || ': ' || t2.text, chr(10)
                  ORDER BY t2.turn_idx) AS context_text
FROM (SELECT doc_id, round(score, 4) AS score FROM scored
      WHERE term = 'spark'
      ORDER BY round(score, 4) DESC, doc_id ASC LIMIT 5) h
JOIN turns t1 ON t1.doc_id = h.doc_id
JOIN turns t2 ON t2.conv_id = t1.conv_id
            AND t2.turn_idx BETWEEN t1.turn_idx - 1 AND t1.turn_idx + 1
GROUP BY h.doc_id, h.score, t1.conv_id
""",
    )

    # --------------------------------- dedup -----------------------------

    add(
        "dedup_exact_groups",
        lambda spark, sf: exact_duplicates(_docs(spark, sf)).select(
            "doc_id", "n_copies", "is_canonical"
        ),
        "SELECT doc_id, count(*) OVER (PARTITION BY md5(text)) AS n_copies, "
        "doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS is_canonical "
        "FROM documents",
    )
    add(
        "dedup_ngram_jaccard_pairs",
        lambda spark, sf: shingle_jaccard_pairs(_docs(spark, sf), threshold=0.8)
        .select("i", "j", F.round("jaccard", 4).alias("jaccard")),
        "WITH " + _SHINGLES_SQL.strip() + "\n"
        "SELECT i, j, round(jaccard, 4) AS jaccard FROM jacc WHERE jaccard >= 0.8",
    )
    add(
        "dedup_minhash_lsh_pairs",
        lambda spark, sf: minhash_dedup_pairs(_docs(spark, sf), threshold=0.8)
        .select("i", "j", F.round("jaccard", 4).alias("jaccard")),
        # oracle = exact Jaccard: reported pairs are exact-verified and LSH
        # recall at b=16,r=4 is ~1 for J>=0.8 (see module docstring)
        "WITH " + _SHINGLES_SQL.strip() + "\n"
        "SELECT i, j, round(jaccard, 4) AS jaccard FROM jacc WHERE jaccard >= 0.8",
    )
    from whoosh_spark.pipeline import minhash_dedup_against

    add(
        "dedup_incremental_pairs",
        # continuous-ingestion shape: docs >= 400 are the "incoming batch",
        # < 400 the existing corpus; only cross pairs are reported
        lambda spark, sf: minhash_dedup_against(
            _docs(spark, sf).where("doc_id >= 400"),
            _docs(spark, sf).where("doc_id < 400"),
            threshold=0.8,
        ).select("i", "j", F.round("jaccard", 4).alias("jaccard")),
        # oracle = exact cross-corpus Jaccard (LSH recall ~1 at J>=0.8 with
        # b=16, r=4; candidates exact-verified — same contract as
        # dedup_minhash_lsh_pairs)
        "WITH " + _SHINGLES_SQL.strip().replace(
            "ON a.s = b.s AND a.doc_id < b.doc_id",
            "ON a.s = b.s AND a.doc_id >= 400 AND b.doc_id < 400",
        ) + "\n"
        "SELECT i, j, round(jaccard, 4) AS jaccard FROM jacc WHERE jaccard >= 0.8",
    )

    _CC_SWEEP_ORACLE = (
        "WITH RECURSIVE " + _SHINGLES_SQL.strip().rstrip(",") + """,
edges AS (SELECT i AS u, j AS v FROM jacc WHERE jaccard >= 0.5),
sym AS (SELECT u, v FROM edges UNION SELECT v AS u, u AS v FROM edges),
reach(u, v) AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
),
lab AS (SELECT u AS doc_id, least(min(v), u) AS cluster_id
        FROM reach GROUP BY u)
SELECT d.doc_id,
       coalesce(l.cluster_id, d.doc_id) AS cluster_id,
       d.doc_id = coalesce(l.cluster_id, d.doc_id) AS is_canonical
FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id
""")

    add(
        "dedup_cc_sweep",
        # complete corpus dedup sweep: exact n-gram Jaccard pairs ->
        # transitive clusters via alternating large-star/small-star
        # (dedup.connected_components, O(log n) rounds of DataFrame joins,
        # no driver union-find) -> keep min doc_id per cluster; oracle =
        # recursive-CTE reachability closure with min-root labels
        lambda spark, sf: dedup_sweep(
            _docs(spark, sf),
            shingle_jaccard_pairs(_docs(spark, sf), threshold=0.5)),
        _CC_SWEEP_ORACLE,
    )

    def _best_canonical(spark, sf):
        # quality-aware canonical selection (the FineWeb/Dolma rule: keep
        # the highest-quality cluster member, not the min id) — composes
        # the CC sweep's labels with quality_scores through
        # dedup.select_canonical's single-shuffle argmax window
        from whoosh_spark.pipeline.dedup import select_canonical

        docs = _docs(spark, sf)
        labels = dedup_sweep(
            docs, shingle_jaccard_pairs(docs, threshold=0.5)
        ).select("doc_id", "cluster_id")
        q = quality_scores(docs).select("doc_id", "quality")
        return select_canonical(labels, q).select(
            "doc_id", "cluster_id", "quality",
            F.col("is_canonical").cast("int").alias("is_canonical"))

    add(
        "dedup_best_canonical",
        _best_canonical,
        "WITH RECURSIVE " + _SHINGLES_SQL.strip().rstrip(",") + f""",
edges AS (SELECT i AS u, j AS v FROM jacc WHERE jaccard >= 0.5),
sym AS (SELECT u, v FROM edges UNION SELECT v AS u, u AS v FROM edges),
reach(u, v) AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
),
lab AS (SELECT u AS doc_id, least(min(v), u) AS cluster_id
        FROM reach GROUP BY u),
qbase AS (
  SELECT doc_id, text,
         regexp_extract_all(lower(text), '[a-z0-9]+') AS words,
         len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha
  FROM documents),
qfeat AS (
  SELECT doc_id,
         len(words) AS n_words,
         CASE WHEN len(words) > 0
              THEN len(list_filter(words, x -> x IN ({_STOP_SQL}))) * 1.0 / len(words)
              ELSE 0.0 END AS stop_ratio,
         CASE WHEN length(text) > 0 THEN n_alpha * 1.0 / length(text) ELSE 0.0 END AS alpha_ratio,
         CASE WHEN len(words) > 0
              THEN list_reduce(list_prepend(0, [length(w) FOR w IN words]), (a, b) -> a + b) * 1.0 / len(words)
              ELSE 0.0 END AS mean_wl
  FROM qbase),
qual AS (
  SELECT doc_id,
         round((CASE WHEN n_words BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.2 END)
             * (CASE WHEN mean_wl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.3 END)
             * (CASE WHEN stop_ratio BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END)
             * alpha_ratio, 4) AS quality
  FROM qfeat),
lbl AS (
  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id, q.quality
  FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id
  JOIN qual q ON q.doc_id = d.doc_id)
SELECT doc_id, cluster_id, quality,
       (row_number() OVER (PARTITION BY cluster_id
                           ORDER BY quality DESC, doc_id ASC) = 1)::INT
         AS is_canonical
FROM lbl""",
    )

    def _cc_incremental(spark, sf):
        # INCREMENTAL sweep: docs >= 400 arrive as a new batch — old labels
        # come from a sweep over old-only pairs, then merge_cluster_labels
        # folds in the pairs touching the batch (star edges only for
        # touched clusters, untouched labels pass through an anti-join).
        # Must equal the full-corpus sweep, so it shares its oracle.
        from whoosh_spark.pipeline import merge_cluster_labels

        docs = _docs(spark, sf)
        all_pairs = shingle_jaccard_pairs(docs, threshold=0.5).select("i", "j")
        old_pairs = all_pairs.where("i < 400 AND j < 400")
        new_pairs = all_pairs.where("i >= 400 OR j >= 400")
        labels_old = dedup_sweep(
            docs.where("doc_id < 400"), old_pairs
        ).select("doc_id", "cluster_id")
        merged = merge_cluster_labels(labels_old, new_pairs)
        return (docs.select("doc_id")
                .join(merged, "doc_id", "left")
                .select("doc_id",
                        F.coalesce("cluster_id", F.col("doc_id"))
                        .alias("cluster_id"))
                .withColumn("is_canonical",
                            F.col("doc_id") == F.col("cluster_id")))

    add("dedup_cc_incremental", _cc_incremental, _CC_SWEEP_ORACLE)

    add(
        "dedup_semantic_sweep",
        # the SemDeDup-style semantic variant: embedding-cosine near-dup
        # pairs -> same transitive sweep; oracle = recursive closure over
        # the exact cosine pair list
        lambda spark, sf: dedup_sweep(
            _emb(spark, sf),
            cosine_neardup_pairs(_emb(spark, sf), threshold=0.4),
            id_col="vec_id"),
        """
WITH RECURSIVE pairs AS (
  SELECT a.vec_id AS i, b.vec_id AS j
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                               b.embedding::DOUBLE[]) >= 0.4
),
sym AS (SELECT i AS u, j AS v FROM pairs UNION SELECT j, i FROM pairs),
reach(u, v) AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
),
lab AS (SELECT u AS doc_id, least(min(v), u) AS cluster_id
        FROM reach GROUP BY u)
SELECT e.vec_id AS doc_id,
       coalesce(l.cluster_id, e.vec_id) AS cluster_id,
       e.vec_id = coalesce(l.cluster_id, e.vec_id) AS is_canonical
FROM embeddings e LEFT JOIN lab l ON e.vec_id = l.doc_id
""",
    )

    from whoosh_spark.pipeline import hash_sample, stratified_sample

    add(
        "sample_hash_frac",
        # deterministic Bernoulli sample: keep iff first 32 md5 bits of
        # salt:doc_id < fraction*2^32 — reproducible under any
        # partitioning / cluster size (pipeline/sampling.py), pure filter
        lambda spark, sf: hash_sample(_docs(spark, sf), 0.2)
        .select("doc_id", "lang", "source"),
        "SELECT doc_id, lang, source FROM documents "
        "WHERE ('0x' || substr(md5('ws1:' || doc_id::VARCHAR), 1, 8))::BIGINT"
        f" < {int(0.2 * (1 << 32))}",
    )
    add(
        "sample_stratified_lang",
        # exactly-n-per-stratum in md5 order: the balanced-mix sampler
        lambda spark, sf: stratified_sample(_docs(spark, sf), "lang", 20)
        .select("doc_id", "lang"),
        """
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY ('0x' || substr(md5('ws1:' || doc_id::VARCHAR), 1, 8))::BIGINT ASC,
                    doc_id ASC) AS rn
  FROM documents) WHERE rn <= 20
""",
    )

    from whoosh_spark.pipeline import proportional_sample

    from whoosh_spark.pipeline import weighted_hash_sample

    add(
        "sample_weighted_nchars",
        # deterministic weighted Bernoulli: keep probability proportional
        # to doc length (min(1, 0.002 * n_chars)) — the temperature-
        # sampling shape with weight = n_chars
        lambda spark, sf: weighted_hash_sample(
            _docs(spark, sf), "n_chars", 0.002).select("doc_id", "lang"),
        "SELECT doc_id, lang FROM documents "
        "WHERE ('0x' || substr(md5('ws1:' || doc_id::VARCHAR), 1, 8))::BIGINT * 1.0"
        " < least(1.0, 0.002 * n_chars) * 4294967296.0",
    )

    add(
        "sample_proportional_lang",
        # exactly-total_n proportional mix: largest-remainder quotas per
        # lang, strata filled in md5 order (sampling.proportional_sample)
        lambda spark, sf: proportional_sample(_docs(spark, sf), "lang", 100)
        .select("doc_id", "lang"),
        """
WITH sizes AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
q AS (
  SELECT lang, n, 100 * n * 1.0 / sum(n) OVER () AS raw FROM sizes
),
q2 AS (
  SELECT lang, floor(raw)::BIGINT AS base, raw - floor(raw) AS frac FROM q
),
q3 AS (
  SELECT lang, base,
         row_number() OVER (ORDER BY frac DESC, lang ASC) AS rk,
         100 - sum(base) OVER () AS rem
  FROM q2
),
quotas AS (
  SELECT lang, base + CASE WHEN rk <= rem THEN 1 ELSE 0 END AS quota FROM q3
),
ranked AS (
  SELECT d.doc_id, d.lang,
         row_number() OVER (
           PARTITION BY d.lang
           ORDER BY ('0x' || substr(md5('ws1:' || d.doc_id::VARCHAR), 1, 8))::BIGINT ASC,
                    d.doc_id ASC) AS rn
  FROM documents d
)
SELECT r.doc_id, r.lang FROM ranked r JOIN quotas USING (lang)
WHERE r.rn <= quota
""",
    )

    from whoosh_spark.pipeline import temperature_mixture

    add(
        # temperature-scaled mixture (mC4/XLM-R alpha-rebalance): targets
        # n_i^0.5-proportional, 600 > corpus size so the small strata
        # exercise the with-replacement epoch path while the big stratum
        # stays md5-filled — both arms of the sampler fire
        "sample_temperature_lang",
        lambda spark, sf: temperature_mixture(
            _docs(spark, sf), "lang", 600, alpha=0.5
        ).select("doc_id", "lang", "epoch"),
        """
WITH sizes AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
q AS (
  SELECT lang, n, 600 * pow(n, 0.5) / sum(pow(n, 0.5)) OVER () AS raw
  FROM sizes
),
q2 AS (
  SELECT lang, n, floor(raw)::BIGINT AS base, raw - floor(raw) AS frac FROM q
),
q3 AS (
  SELECT lang, n, base,
         row_number() OVER (ORDER BY frac DESC, lang ASC) AS rk,
         600 - sum(base) OVER () AS rem
  FROM q2
),
quotas AS (
  SELECT lang, n, base + CASE WHEN rk <= rem THEN 1 ELSE 0 END AS t FROM q3
),
ranked AS (
  SELECT d.doc_id, d.lang,
         row_number() OVER (
           PARTITION BY d.lang
           ORDER BY ('0x' || substr(md5('ws1:' || d.doc_id::VARCHAR), 1, 8))::BIGINT ASC,
                    d.doc_id ASC) AS rn
  FROM documents d
),
c AS (
  SELECT r.doc_id, r.lang,
         (t // n) + CASE WHEN rn <= t % n THEN 1 ELSE 0 END AS copies
  FROM ranked r JOIN quotas USING (lang)
)
SELECT doc_id, lang, e AS epoch
FROM c, LATERAL unnest(range(copies)) AS u(e)
WHERE copies > 0
""",
    )

    add(
        "dedup_simhash_pairs",
        lambda spark, sf: simhash_pairs(_docs(spark, sf), maxdist=3).select(
            "i", "j", F.col("hamming").cast("long").alias("hamming")
        ),
        # exact oracle: the token hash is md5-derived (dedup.simhash), so
        # DuckDB recomputes identical 64-bit signatures and brute-forces
        # all-pairs hamming (fine at sf0.01; the Spark path blocks by
        # 16-bit chunks and only verifies bucket collisions)
        r"""
WITH tok AS (
  SELECT doc_id, t, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS t FROM documents)
  WHERE t <> '' GROUP BY doc_id, t
),
hx AS (
  SELECT doc_id, tf,
         ('0x' || substr(md5(t), 1, 8))::BIGINT AS hi,
         ('0x' || substr(md5(t), 9, 8))::BIGINT AS lo
  FROM tok
),
bsum AS (
  SELECT doc_id, i,
         sum(CASE WHEN ((CASE WHEN i < 32 THEN lo ELSE hi END) >> (i % 32)) & 1 = 1
                  THEN tf ELSE -tf END) AS s
  FROM hx, range(64) r(i)
  GROUP BY doc_id, i
),
sig AS (
  SELECT doc_id, list(CASE WHEN s > 0 THEN 1 ELSE 0 END ORDER BY i) AS bits
  FROM bsum GROUP BY doc_id
)
SELECT i, j, hamming FROM (
  SELECT a.doc_id AS i, b.doc_id AS j,
         len(list_filter(range(1, 65), k -> a.bits[k] <> b.bits[k]))::BIGINT AS hamming
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
) WHERE hamming <= 3
""",
    )

    # ------------------------------ similarity ---------------------------

    add(
        "cosine_topk",
        lambda spark, sf: cosine_topk(_emb(spark, sf), _emb(spark, sf).where("vec_id < 3"))
        .select("query_id", "vec_id", F.round("cosine", 4).alias("cosine")),
        """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
scored AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(q.qv::DOUBLE[], e.embedding::DOUBLE[]) AS raw
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id
)
-- rank by the RAW cosine (like the Spark op: window over the true value,
-- rounding only for display) — ranking by the rounded value manufactures
-- ties between genuinely different neighbors, which surfaced at sf0.1
SELECT query_id, vec_id, round(raw, 4) AS cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY raw DESC, vec_id) AS rn
  FROM scored
) WHERE rn <= 10
""",
    )
    _NEARDUP_ORACLE = """
SELECT a.vec_id AS i, b.vec_id AS j,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
"""
    add(
        "cosine_neardup_pairs",
        lambda spark, sf: cosine_neardup_pairs(_emb(spark, sf), threshold=0.4)
        .select("i", "j", F.round("cosine", 4).alias("cosine")),
        _NEARDUP_ORACLE,
    )
    add(
        # n_clusters=1 degenerates centroid blocking to ONE block = exact
        # all-pairs (the full-probe trick, dedup flavor): the whole
        # cluster machinery — k-means centroid train, mapInArrow
        # assignment, blocked pair kernel — runs and is hash-checked
        # against the same exact cosine oracle; the approximate blocked
        # config keeps its honest rows-only row below.
        "dedup_cluster_full_pairs",
        lambda spark, sf: cluster_neardup_pairs(
            _emb(spark, sf), threshold=0.4, n_clusters=1
        ).select("i", "j", F.round("cosine", 4).alias("cosine")),
        _NEARDUP_ORACLE,
    )
    # Full probe (n_probe == n_clusters) degenerates IVF to exact search
    # (proven in tests/test_pipeline.py::test_ivf_full_probe_is_exact), so
    # the IVF machinery — centroid train, cluster assignment, probe
    # routing, ADC-free exact re-rank — gets the SAME DuckDB oracle as
    # cosine_topk. The approximate config keeps a rows-only row below.
    _IVF_ORACLE = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
scored AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(q.qv::DOUBLE[], e.embedding::DOUBLE[]) AS raw
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id
)
SELECT query_id, vec_id, round(raw, 4) AS cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY raw DESC, vec_id) AS rn
  FROM scored
) WHERE rn <= 10
"""
    add(
        "ann_ivf_topk",
        lambda spark, sf: ivf_topk(
            _emb(spark, sf), _emb(spark, sf).where("vec_id < 3"),
            n_clusters=16, n_probe=16,
        ).select("query_id", "vec_id", F.round("cosine", 4).alias("cosine")),
        _IVF_ORACLE,
    )
    add(
        "ann_ivf_probe_topk",
        lambda spark, sf: ivf_topk(
            _emb(spark, sf), _emb(spark, sf).where("vec_id < 3"), n_probe=6
        ).select("query_id", "vec_id", F.round("cosine", 4).alias("cosine")),
        None,  # approximate by design: rows-only check; recall pinned in tests
    )
    add(
        "ann_ivf_pq_topk",
        lambda spark, sf: ivf_pq_topk(
            _emb(spark, sf), _emb(spark, sf).where("vec_id < 3"), n_probe=6
        ).select("query_id", "vec_id", F.round("cosine", 4).alias("cosine")),
        None,  # approximate (PQ shortlist); recall + exact-rerank pinned in tests
    )

    def _pq_lossless(spark, sf):
        # Degenerate-config exact twin for the PQ tier (the last kernel
        # family without one): sign-quantize the corpus (component ->
        # +/-1) and hand ivf_pq_topk an EXPLICIT codebook holding every
        # possible normalized subvector — all 2^dsub = 256 sign patterns
        # x 0.125 (the normalized component: full-vector norm is
        # sqrt(64) = 8 exactly). pq_encode then finds each subvector AT
        # d2 = 0 (losslessly its own codeword), and every ADC table
        # value is a multiple of 1/64 in [-1, 1] — EXACT in float32, no
        # epsilon anywhere — so the ADC shortlist ranks by true cosine
        # and the entry provably equals exact cosine top-k. Full probe
        # (n_probe = n_clusters) removes IVF blind spots like
        # ann_ivf_topk. The real kernels all run: k-means centroid
        # train, mapInArrow assignment + encode, per-query ADC lookup
        # tables, shortlist window, exact re-rank.
        import numpy as np

        cb = np.empty((8, 256, 8))
        for c in range(256):
            for b in range(8):
                cb[:, c, b] = 0.125 if (c >> b) & 1 else -0.125
        sign = lambda col: F.transform(
            col, lambda x: F.when(x >= 0, F.lit(1.0)).otherwise(F.lit(-1.0))
        ).alias("embedding")
        e2 = _emb(spark, sf).select("vec_id", sign(F.col("embedding")))
        return ivf_pq_topk(
            e2, e2.where("vec_id < 3"),
            n_clusters=4, n_probe=4, m=8, ksub=256, codebooks=cb,
        ).select("query_id", "vec_id", F.round("cosine", 4).alias("cosine"))

    add(
        "ann_ivf_pq_lossless",
        _pq_lossless,
        """
WITH s AS (
  SELECT vec_id,
         [CASE WHEN x >= 0 THEN 1.0 ELSE -1.0 END FOR x IN embedding] AS sv
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, sv AS qv FROM s WHERE vec_id < 3),
scored AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(q.qv::DOUBLE[], e.sv::DOUBLE[]) AS raw
  FROM s e CROSS JOIN q WHERE e.vec_id <> q.query_id
)
SELECT query_id, vec_id, round(raw, 4) AS cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY raw DESC, vec_id) AS rn
  FROM scored
) WHERE rn <= 10
""",
    )
    add(
        "dedup_cluster_cosine_pairs",
        lambda spark, sf: cluster_neardup_pairs(
            _emb(spark, sf), threshold=0.4, n_clusters=8
        ).select("i", "j", F.round("cosine", 4).alias("cosine")),
        None,  # approximate (centroid blocking); subset + recall pinned in tests
    )

    # ------------------------- hybrid retrieval --------------------------
    # RRF fusion of the BM25 shortlist with the embedding-cosine shortlist
    # (search/hybrid.py, Cormack et al. 2009). The oracle mirrors BOTH
    # shortlists exactly: lexical = OR-summed BM25 ranked by the rounded
    # score (the registry discipline); semantic = cosine_topk semantics —
    # membership by RAW cosine (like the cosine_topk entry), rank inside
    # the fuse by the rounded value; fused = sum 1/(60+rank).

    def _hybrid_rrf(spark, sf):
        from whoosh_spark import query as Q
        from whoosh_spark.entry_queries import _docs_searcher
        from whoosh_spark.search.hybrid import hybrid_topk

        return hybrid_topk(
            _docs_searcher(spark, sf),
            Q.Or([Q.Term("text", "spark"), Q.Term("text", "hash")]),
            _emb(spark, sf),
            _emb(spark, sf).where("vec_id = 0"),
            k=K,
            n_shortlist=20,
        ).select("doc_id", F.round("rrf", 6).alias("rrf"))

    add(
        "hybrid_rrf_topk",
        _hybrid_rrf,
        "\nWITH "
        + prelude_body("documents")
        + """,
lexall AS (
  SELECT doc_id, round(sum(score), 4) AS s FROM scored
  WHERE term IN ('spark', 'hash') GROUP BY doc_id
),
lex AS (
  SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rank
  FROM lexall QUALIFY rank <= 20
),
semall AS (
  SELECT e.vec_id AS doc_id,
         list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) AS raw,
         row_number() OVER (
           ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) DESC,
                    e.vec_id) AS rn
  FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
  WHERE e.vec_id <> 0
),
sem AS (
  SELECT doc_id, row_number() OVER (ORDER BY round(raw, 4) DESC, doc_id) AS rank
  FROM semall WHERE rn <= 20
),
fused AS (
  SELECT doc_id, sum(1.0 / (60 + rank)) AS rrf
  FROM (SELECT * FROM lex UNION ALL SELECT * FROM sem) GROUP BY doc_id
)
SELECT doc_id, round(rrf, 6) AS rrf FROM fused
ORDER BY rrf DESC, doc_id LIMIT 10
""",
    )

    # MMR re-rank (search/hybrid.py, Carbonell & Goldstein 1998). lam=1.0
    # degenerates the greedy to pure relevance order == cosine_topk (the
    # full-probe trick, diversity flavor): the whole machinery — shortlist,
    # vector join, per-query applyInPandas greedy kernel — runs and is
    # hash-checked against the exact cosine oracle. The diversified config
    # keeps an honest rows-only row: the greedy recurrence over the
    # already-selected set is not expressible in one SQL query (each pick
    # changes every remaining candidate's penalty); parity vs a numpy
    # reference + partitioning invariance are pinned in tests/test_hybrid.py.

    def _mmr(lam):
        def fn(spark, sf):
            from whoosh_spark.search.hybrid import mmr_rerank

            return mmr_rerank(
                _emb(spark, sf), _emb(spark, sf).where("vec_id < 3"),
                k=K, lam=lam, n_shortlist=20,
            ).select(
                "query_id", "vec_id", "mmr_rank",
                F.round("cosine", 4).alias("cosine"),
            )

        return fn

    add(
        "ann_mmr_lambda1",
        _mmr(1.0),
        """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
scored AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(q.qv::DOUBLE[], e.embedding::DOUBLE[]) AS raw
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id
)
SELECT query_id, vec_id, rn::INT AS mmr_rank, round(raw, 4) AS cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY raw DESC, vec_id) AS rn
  FROM scored
) WHERE rn <= 10
""",
    )
    add(
        "ann_mmr_diverse_topk",
        _mmr(0.6),
        None,  # greedy recurrence not SQL-expressible; numpy parity in tests
    )

    # ------------------------------ text stats ---------------------------

    add(
        "text_token_counts",
        lambda spark, sf: token_counts(_docs(spark, sf)),
        """
SELECT doc_id,
       len(list_filter(string_split(text, ' '), x -> x <> ''))::INT AS ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z0-9]+'))::INT AS word_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]'))::INT AS bpe_tokens,
       length(text)::INT AS n_chars
FROM documents
""",
    )
    # BPE subword tokenizer (pipeline/bpe.py, Sennrich et al. 2016). The
    # corpus-scale stage — the single-shuffle word count — gets an exact
    # oracle (top-50 under the deterministic (count DESC, word ASC) cap
    # order, the same cap the trainer collects). The trainer + encoder are
    # an iterative merge recurrence (each rule rewrites the symbol
    # sequences the next rule counts) — r4 converts BOTH to an exact
    # DuckDB oracle via two recursive CTEs (see text_bpe_encode below):
    # the trainer as single-row state (vocab list + accumulated merge
    # list, argmax pair per step under the (count DESC, pair ASC)
    # tie-break), the encoder as per-distinct-word recursion applying the
    # lowest-rank present pair until none applies. Merge application uses
    # the double-space trick (gaps written as two spaces so replace() of
    # ' a  b ' consumes one boundary space per side and adjacent
    # occurrences still match — left-to-right non-overlapping, exactly
    # _encode_word/_merge_vocab). Canonical-merge vectors, pure-python
    # encode parity, roundtrip, and partitioning invariance stay pinned
    # in tests/test_bpe.py.

    def _bpe_wc(spark, sf):
        from whoosh_spark.pipeline.bpe import bpe_word_counts

        return (
            bpe_word_counts(_docs(spark, sf))
            .orderBy(F.desc("count"), F.asc("word"))
            .limit(50)
        )

    add(
        "text_bpe_word_counts",
        _bpe_wc,
        """
SELECT word, count(*)::BIGINT AS count FROM (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
  FROM documents
) GROUP BY word ORDER BY count DESC, word ASC LIMIT 50
""",
    )

    def _bpe_encode(spark, sf):
        from whoosh_spark.pipeline.bpe import bpe_encode, bpe_train

        merges = bpe_train(_docs(spark, sf), num_merges=50)
        # Entry-level projection: the kernel's `tokens` column is
        # array<string> (pipeline/bpe.py::bpe_encode), which the driver's
        # canonicalizer cannot hash (pandas sort_values over lists) — the
        # r3 red row. Render the token sequence as ONE space-joined string
        # (tokens never contain spaces: WORD_RE pieces + the </w> marker),
        # lossless and order-preserving, so the driver check sees a
        # flat (doc_id, tokens_str, n_tokens) frame — hash-compared
        # against the full recursive-CTE oracle below since r4.
        return bpe_encode(_docs(spark, sf), merges).select(
            "doc_id",
            F.concat_ws(" ", F.col("tokens")).alias("tokens_str"),
            "n_tokens",
        )

    add(
        "text_bpe_encode",
        _bpe_encode,
        # Exact oracle for the FULL train->encode recurrence (r4; this was
        # the registry's one rows-only-by-iteration entry and r3's red
        # driver row). `train` mirrors bpe_train(num_merges=50,
        # min_pair_count=2, max_vocab_words=50000): single-row state
        # carrying the space-joined symbol vocab + the merge list; each
        # step picks argmax pair by (count DESC, left ASC, right ASC) —
        # the trainer's min((-count, pair)) tie-break — via LATERAL
        # (HAVING >= 2 ends recursion exactly like the trainer's
        # min_pair_count break). `enc` mirrors _encode_word per DISTINCT
        # word: apply the lowest-rank pair present (list_position > 0 —
        # DuckDB returns 0, not NULL, for absent) until none applies; the
        # final row per word is its token sequence. Both use the
        # double-space replace trick for left-to-right non-overlapping
        # merge-all semantics. Verified equal to the Spark entry at
        # sf0.001 AND sf0.01 (different corpora -> different learned
        # merge tables).
        r"""
WITH RECURSIVE
wc AS (
  SELECT word, count(*)::BIGINT AS c FROM (
    SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
    FROM documents)
  GROUP BY word ORDER BY c DESC, word ASC LIMIT 50000
),
v0 AS (
  SELECT list({'w': rtrim(regexp_replace(word, '(.)', '\1 ', 'g')) || ' </w>',
               'c': c}) AS vocab
  FROM wc
),
train(i, vocab, merges) AS (
  SELECT 0, (SELECT vocab FROM v0), []::VARCHAR[]
  UNION ALL
  SELECT i + 1,
         list_transform(
           vocab,
           e -> {'w': trim(replace(
                    replace(' ' || replace(e.w, ' ', '  ') || ' ',
                            ' ' || best.pair_sp || ' ',
                            ' ' || replace(best.pair, ' ', '') || ' '),
                    '  ', ' ')),
                 'c': e.c}),
         list_append(merges, best.pair)
  FROM train,
       LATERAL (
         SELECT pair, replace(pair, ' ', '  ') AS pair_sp, sum(c) AS cnt
         FROM (
           SELECT unnest(list_transform(
                    range(1, len(string_split(e.w, ' '))),
                    k -> string_split(e.w, ' ')[k] || ' ' ||
                         string_split(e.w, ' ')[k + 1])) AS pair,
                  e.c AS c
           FROM unnest(train.vocab) AS t(e)
         )
         GROUP BY pair
         HAVING sum(c) >= 2
         ORDER BY cnt DESC, split_part(pair, ' ', 1) ASC,
                  split_part(pair, ' ', 2) ASC
         LIMIT 1
       ) best
  WHERE i < 50
),
mt AS (SELECT merges FROM train ORDER BY i DESC LIMIT 1),
dw AS (
  SELECT DISTINCT word FROM (
    SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
    FROM documents)
),
enc(word, syms, it) AS (
  SELECT word,
         rtrim(regexp_replace(word, '(.)', '\1 ', 'g')) || ' </w>',
         0
  FROM dw
  UNION ALL
  SELECT word,
         trim(replace(
           replace(' ' || replace(syms, ' ', '  ') || ' ',
                   ' ' || replace(best.pair, ' ', '  ') || ' ',
                   ' ' || replace(best.pair, ' ', '') || ' '),
           '  ', ' ')),
         it + 1
  FROM enc,
       LATERAL (
         SELECT pair
         FROM (
           SELECT unnest(list_transform(
                    range(1, len(string_split(enc.syms, ' '))),
                    k -> string_split(enc.syms, ' ')[k] || ' ' ||
                         string_split(enc.syms, ' ')[k + 1])) AS pair
         )
         WHERE list_position((SELECT merges FROM mt), pair) > 0
         ORDER BY list_position((SELECT merges FROM mt), pair) ASC
         LIMIT 1
       ) best
),
encf AS (
  SELECT word, syms
  FROM enc
  QUALIFY row_number() OVER (PARTITION BY word ORDER BY it DESC) = 1
),
docw AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word,
         unnest(range(1, len(regexp_extract_all(lower(text), '[a-z0-9]+')) + 1)) AS ord
  FROM documents
),
perdoc AS (
  SELECT d.doc_id,
         string_agg(e.syms, ' ' ORDER BY d.ord) AS tokens_str,
         sum(len(string_split(e.syms, ' ')))::INT AS n_tokens
  FROM docw d JOIN encf e USING (word)
  GROUP BY d.doc_id
)
SELECT doc_id, coalesce(p.tokens_str, '') AS tokens_str,
       coalesce(p.n_tokens, 0)::INT AS n_tokens
FROM documents LEFT JOIN perdoc p USING (doc_id)
""",
    )

    add(
        "text_quality_scores",
        lambda spark, sf: quality_scores(_docs(spark, sf)),
        f"""
WITH base AS (
  SELECT doc_id, text,
         regexp_extract_all(lower(text), '[a-z0-9]+') AS words,
         len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha
  FROM documents
),
feat AS (
  SELECT doc_id,
         len(words) AS n_words,
         CASE WHEN len(words) > 0
              THEN len(list_filter(words, x -> x IN ({_STOP_SQL}))) * 1.0 / len(words)
              ELSE 0.0 END AS stop_ratio,
         CASE WHEN length(text) > 0 THEN n_alpha * 1.0 / length(text) ELSE 0.0 END AS alpha_ratio,
         CASE WHEN len(words) > 0
              THEN list_reduce(list_prepend(0, [length(w) FOR w IN words]), (a, b) -> a + b) * 1.0 / len(words)
              ELSE 0.0 END AS mean_wl
  FROM base
)
SELECT doc_id, n_words::INT AS n_words, round(stop_ratio, 4) AS stop_ratio,
       round(alpha_ratio, 4) AS alpha_ratio, round(mean_wl, 4) AS mean_word_len,
       round((CASE WHEN n_words BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.2 END)
           * (CASE WHEN mean_wl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.3 END)
           * (CASE WHEN stop_ratio BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END)
           * alpha_ratio, 4) AS quality
FROM feat
""",
    )

    _lang_sqls = {
        lang: "len(list_filter(words, x -> x IN ("
        + ", ".join(repr(w) for w in profile)
        + "))) * 1.0 / len(words)"
        for lang, profile in LANG_PROFILES.items()
    }
    add(
        "text_repetition_stats",
        # Gopher-style repetition filters (textstats.repetition_stats):
        # dup-word fraction, top bigram + its char coverage, duplicated-
        # trigram char coverage — exact arithmetic mirror, ::INT casts
        # align DuckDB's BIGINT len() with Spark's int size()
        lambda spark, sf: repetition_stats(_docs(spark, sf)).select(
            "doc_id", "n_words",
            F.round("dup_word_frac", 4).alias("dup_word_frac"),
            "top_bigram",
            F.round("top_bigram_frac", 4).alias("top_bigram_frac"),
            F.round("dup_trigram_frac", 4).alias("dup_trigram_frac")),
        r"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'),
                     x -> x <> '') AS ws
  FROM documents
),
b AS (
  SELECT doc_id, ws, len(ws) AS nw,
         length(array_to_string(ws, ' ')) AS norm_len
  FROM w
),
bg AS (
  SELECT doc_id, g, count(*) AS cnt FROM (
    SELECT doc_id, unnest([ws[i] || ' ' || ws[i+1]
                           FOR i IN generate_series(1, nw - 1)]) AS g
    FROM b WHERE nw >= 2) GROUP BY doc_id, g
),
topbg AS (
  SELECT doc_id, g AS top_bigram, cnt FROM (
    SELECT doc_id, g, cnt,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY cnt DESC, g ASC) AS rn
    FROM bg) WHERE rn = 1
),
tg AS (
  SELECT doc_id, sum(cnt * length(g)) AS dupchars FROM (
    SELECT doc_id, g, count(*) AS cnt FROM (
      SELECT doc_id, unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                             FOR i IN generate_series(1, nw - 2)]) AS g
      FROM b WHERE nw >= 3) GROUP BY doc_id, g)
  WHERE cnt >= 2 GROUP BY doc_id
)
SELECT b.doc_id,
       b.nw::INT AS n_words,
       round(CASE WHEN b.nw > 0
             THEN (b.nw - len(list_distinct(b.ws))) * 1.0 / b.nw
             ELSE 0.0 END, 4) AS dup_word_frac,
       t.top_bigram,
       round(CASE WHEN b.norm_len > 0
             THEN least(1.0, coalesce(t.cnt * length(t.top_bigram), 0)
                             * 1.0 / b.norm_len)
             ELSE 0.0 END, 4) AS top_bigram_frac,
       round(CASE WHEN b.norm_len > 0
             THEN least(1.0, coalesce(g.dupchars, 0) * 1.0 / b.norm_len)
             ELSE 0.0 END, 4) AS dup_trigram_frac
FROM b LEFT JOIN topbg t USING (doc_id) LEFT JOIN tg g USING (doc_id)
""",
    )

    _lang_case = "CASE "
    for lang in ["en", "de", "fr", "es"]:
        _lang_case += f"WHEN r_{lang} = best THEN '{lang}' "
    _lang_case += "ELSE 'und' END"
    add(
        "text_langid",
        lambda spark, sf: langid(_docs(spark, sf)),
        f"""
WITH base AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS words FROM documents
),
r AS (
  SELECT doc_id,
         CASE WHEN len(words) > 0 THEN {_lang_sqls['en']} ELSE 0.0 END AS r_en,
         CASE WHEN len(words) > 0 THEN {_lang_sqls['de']} ELSE 0.0 END AS r_de,
         CASE WHEN len(words) > 0 THEN {_lang_sqls['fr']} ELSE 0.0 END AS r_fr,
         CASE WHEN len(words) > 0 THEN {_lang_sqls['es']} ELSE 0.0 END AS r_es
  FROM base
),
b AS (SELECT doc_id, r_en, r_de, r_fr, r_es, greatest(r_en, r_de, r_fr, r_es) AS best FROM r)
SELECT doc_id,
       CASE WHEN best > 0 THEN {_lang_case} ELSE 'und' END AS lang_pred,
       round(best, 4) AS lang_score
FROM b
""",
    )
    from whoosh_spark.pipeline import curation_labels

    add(
        "pipeline_curation",
        # the composed end-to-end curation verdict (pipeline/curate.py):
        # langid + quality + exact-dup canonical + near-dup CC-sweep
        # canonical + keep flag, all stages individually oracled above —
        # this entry pins the COMPOSITION (join keys, flag logic) exactly
        lambda spark, sf: curation_labels(_docs(spark, sf)),
        f"""
WITH RECURSIVE {_SHINGLES_SQL.strip().rstrip(',')},
edges AS (SELECT i AS u, j AS v FROM jacc WHERE jaccard >= 0.8),
sym AS (SELECT u, v FROM edges UNION SELECT v AS u, u AS v FROM edges),
reach(u, v) AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
),
lab AS (SELECT u AS doc_id, least(min(v), u) AS cluster_id
        FROM reach GROUP BY u),
qbase AS (
  SELECT doc_id, text,
         regexp_extract_all(lower(text), '[a-z0-9]+') AS words,
         len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha
  FROM documents
),
qfeat AS (
  SELECT doc_id,
         len(words) AS n_words,
         CASE WHEN len(words) > 0
              THEN len(list_filter(words, x -> x IN ({_STOP_SQL}))) * 1.0 / len(words)
              ELSE 0.0 END AS stop_ratio,
         CASE WHEN length(text) > 0 THEN n_alpha * 1.0 / length(text) ELSE 0.0 END AS alpha_ratio,
         CASE WHEN len(words) > 0
              THEN list_reduce(list_prepend(0, [length(w) FOR w IN words]), (a, b) -> a + b) * 1.0 / len(words)
              ELSE 0.0 END AS mean_wl
  FROM qbase
),
qual AS (
  SELECT doc_id,
         round((CASE WHEN n_words BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.2 END)
             * (CASE WHEN mean_wl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.3 END)
             * (CASE WHEN stop_ratio BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END)
             * alpha_ratio, 4) AS quality
  FROM qfeat
),
lwords AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS words FROM documents
),
lr AS (
  SELECT doc_id,
         CASE WHEN len(words) > 0 THEN {_lang_sqls['en']} ELSE 0.0 END AS r_en,
         CASE WHEN len(words) > 0 THEN {_lang_sqls['de']} ELSE 0.0 END AS r_de,
         CASE WHEN len(words) > 0 THEN {_lang_sqls['fr']} ELSE 0.0 END AS r_fr,
         CASE WHEN len(words) > 0 THEN {_lang_sqls['es']} ELSE 0.0 END AS r_es
  FROM lwords
),
lbest AS (SELECT doc_id, r_en, r_de, r_fr, r_es,
                 greatest(r_en, r_de, r_fr, r_es) AS best FROM lr),
lid AS (
  SELECT doc_id,
         CASE WHEN best > 0 THEN {_lang_case} ELSE 'und' END AS lang_pred
  FROM lbest
),
ex AS (
  SELECT doc_id,
         doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS exact_canonical
  FROM documents
)
SELECT d.doc_id, l.lang_pred, q.quality, e.exact_canonical,
       coalesce(lb.cluster_id, d.doc_id) AS cluster_id,
       d.doc_id = coalesce(lb.cluster_id, d.doc_id) AS cluster_canonical,
       (e.exact_canonical
        AND d.doc_id = coalesce(lb.cluster_id, d.doc_id)
        AND q.quality >= 0.05) AS keep
FROM documents d
JOIN qual q USING (doc_id) JOIN lid l USING (doc_id) JOIN ex e USING (doc_id)
LEFT JOIN lab lb ON d.doc_id = lb.doc_id
""",
    )

    from whoosh_spark.pipeline import mixture_report

    add(
        "pipeline_mixture_report",
        # the training-mix planning table: per-(lang, source) doc/token/
        # char totals + token share of the corpus (one groupBy; the share
        # window runs on the tiny stratum frame)
        lambda spark, sf: mixture_report(_docs(spark, sf)),
        """
WITH per AS (
  SELECT lang, source,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS toks,
         length(text) AS chars
  FROM documents
)
SELECT lang, source, count(*)::BIGINT AS n_docs,
       sum(toks)::BIGINT AS tokens, sum(chars)::BIGINT AS chars,
       round(sum(toks) * 1.0 / sum(sum(toks)) OVER (), 6) AS token_share
FROM per GROUP BY lang, source
""",
    )

    from whoosh_spark.pipeline import redact_pii
    from whoosh_spark.pipeline.textstats import PII_PATTERNS

    def _redact(spark, sf):
        # derived corpus: the synth documents contain no PII, so append a
        # deterministic email + ip per doc in BOTH engines (the
        # variations_irregular/stemmed oracle trick) — the redaction and
        # counts are then non-vacuously pinned
        docs = _docs(spark, sf).select(
            "doc_id",
            F.concat_ws(
                " ", F.col("text"),
                F.concat(F.lit("contact doc"),
                         F.col("doc_id").cast("string"),
                         F.lit("@example.com ip 10.0.0."),
                         (F.col("doc_id") % 255).cast("string"))
            ).alias("text"))
        return redact_pii(docs)

    _pii_sql = []
    _prev = "text"
    for _k, (_pat, _repl) in enumerate(PII_PATTERNS):
        _pii_sql.append(
            f"s{_k} AS (SELECT doc_id, "
            f"len(regexp_extract_all({_prev}, '{_pat}'))::INT AS c{_k}, "
            + (", ".join(f"c{_m}" for _m in range(_k)) + ", " if _k else "")
            + f"regexp_replace({_prev}, '{_pat}', '{_repl}', 'g') AS t{_k} "
            f"FROM s{_k - 1 if _k else ''})".replace("FROM s)", "FROM derived)")
        )
        _prev = f"t{_k}"
    add(
        "text_redact_pii",
        _redact,
        "WITH derived AS (SELECT doc_id, concat_ws(' ', text, "
        "'contact doc' || doc_id || '@example.com ip 10.0.0.' || (doc_id % 255)"
        ") AS text FROM documents),\n"
        + ",\n".join(_pii_sql) + "\n"
        f"SELECT doc_id, {_prev} AS text_redacted, "
        f"({' + '.join(f'c{_m}' for _m in range(len(PII_PATTERNS)))})::INT "
        f"AS n_redactions FROM s{len(PII_PATTERNS) - 1}",
    )

    # ------------- exact duplicated-substring dedup (Lee et al. 2022) ----
    # Both entries share one CTE chain: minlen=20 char-gram start
    # positions -> md5 gram keys -> grams occurring >= 2x anywhere ->
    # gaps-and-islands span merge (grams at p < q overlap iff q-p <= 20).
    _SUBSTR_SQL = """gg AS (
  SELECT doc_id, unnest(generate_series(1, length(text)-19)) AS pos, text
  FROM documents WHERE length(text) >= 20
), h AS (SELECT doc_id, pos, md5(substr(text, pos, 20)) AS g FROM gg),
dupg AS (SELECT g FROM h GROUP BY g HAVING count(*) >= 2),
dpos AS (SELECT doc_id, pos FROM h JOIN dupg USING (g)),
lagd AS (SELECT doc_id, pos,
         lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM dpos),
isl AS (SELECT doc_id, pos,
        sum(CASE WHEN prev IS NULL OR pos - prev > 20 THEN 1 ELSE 0 END)
        OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
        FROM lagd),
spans AS (SELECT doc_id, min(pos)::BIGINT AS span_start,
          (max(pos)+19)::BIGINT AS span_end
          FROM isl GROUP BY doc_id, island)
"""
    from whoosh_spark.pipeline.dedup import (
        duplicate_substring_spans,
        remove_duplicate_substrings,
    )

    add(
        "text_dup_substring_spans",
        # exact substring-dedup tier: maximal >=20-char spans duplicated
        # anywhere in the corpus (dedup.duplicate_substring_spans)
        lambda spark, sf: duplicate_substring_spans(_docs(spark, sf)),
        "WITH " + _SUBSTR_SQL
        + "SELECT doc_id, span_start, span_end, "
          "(span_end - span_start + 1)::BIGINT AS span_len FROM spans",
    )
    add(
        "text_substring_dedup_clean",
        # the cut applied: per-doc span count / chars removed / cleaned
        # length, clean_chars measured on the ACTUAL cut text (the JVM
        # aggregate-cursor walk in remove_duplicate_substrings), pinned
        # against the oracle's span arithmetic
        lambda spark, sf: remove_duplicate_substrings(_docs(spark, sf)).select(
            "doc_id", "n_spans", "dup_chars",
            F.length("text_clean").cast("long").alias("clean_chars")),
        "WITH " + _SUBSTR_SQL
        + """SELECT d.doc_id, coalesce(x.n_spans, 0)::BIGINT AS n_spans,
       coalesce(x.dup, 0)::BIGINT AS dup_chars,
       (length(d.text) - coalesce(x.dup, 0))::BIGINT AS clean_chars
FROM documents d LEFT JOIN (
  SELECT doc_id, count(*) AS n_spans, sum(span_end - span_start + 1) AS dup
  FROM spans GROUP BY 1) x USING (doc_id)""",
    )

    # ------------- conversation-level ops (north-rule payload) -----------
    from whoosh_spark.pipeline.conversations import (
        assemble_conversations,
        conversation_stats,
        truncate_conversations,
    )

    _TURNS_CTE = "WITH " + TURNS_FROM_DOCUMENTS_SQL.strip() + "\n"

    add(
        "conv_stats",
        # per-conversation shape/quality features over the oracle-mirrored
        # derived turns; started_by_user cast to int (engine-portable)
        lambda spark, sf: conversation_stats(
            transcript_corpus(spark, sf)
        ).withColumn("started_by_user", F.col("started_by_user").cast("int")),
        _TURNS_CTE
        + """, lagd AS (
  SELECT conv_id, turn_idx, role, tool, text,
         lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role
  FROM turns)
SELECT conv_id, n_turns, n_user, n_assistant, n_tool_calls, total_chars,
       total_words, role_repeats, started_by_user,
       round(total_words * 1.0 / n_turns, 4) AS mean_turn_words
FROM (
  SELECT conv_id, count(*)::BIGINT AS n_turns,
         sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END)::BIGINT AS n_user,
         sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)::BIGINT AS n_assistant,
         sum(CASE WHEN tool IS NOT NULL AND tool <> '' THEN 1 ELSE 0 END)::BIGINT AS n_tool_calls,
         sum(length(text))::BIGINT AS total_chars,
         sum(len(regexp_extract_all(text, '[A-Za-z0-9]+')))::BIGINT AS total_words,
         sum(CASE WHEN prev_role = role THEN 1 ELSE 0 END)::BIGINT AS role_repeats,
         max(CASE WHEN turn_idx = 0 THEN CASE WHEN role = 'user' THEN 1 ELSE 0 END END)::INT AS started_by_user
  FROM lagd GROUP BY conv_id)
""",
    )
    # ---- structural QA gate over a deterministically-damaged corpus ----
    # the natural derived turns are perfectly formed, so the entry damages
    # them with three independent md5 coins (delete -> index gaps +
    # assistant-first convs, role overwrite -> repeats, text blanking ->
    # empties) and the oracle applies the identical damage — every
    # failure arm of the gate fires on real rows
    from whoosh_spark.pipeline.conversations import conversation_qa

    def _qa_damaged(spark, sf):
        t = transcript_corpus(spark, sf)

        def coin(salt, mod):
            return F.pmod(
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(salt + ":"), F.col("conv_id"),
                                       F.lit(":"),
                                       F.col("turn_idx").cast("string"))),
                        1, 8),
                    16, 10,
                ).cast("long"),
                F.lit(mod),
            )

        t = t.where(coin("qa_del", 29) != 0)
        t = t.withColumn(
            "role",
            F.when(coin("qa_role", 5) == 0, F.lit("user"))
            .otherwise(F.col("role")))
        t = t.withColumn(
            "text",
            F.when(coin("qa_empty", 23) == 0, F.lit(""))
            .otherwise(F.col("text")))
        return conversation_qa(t).withColumn(
            "has_idx_gap", F.col("has_idx_gap").cast("int")).withColumn(
            "valid", F.col("valid").cast("int"))

    _QA_COIN = ("('0x' || substr(md5('{s}:' || conv_id || ':' || "
                "turn_idx::VARCHAR), 1, 8))::BIGINT % {m}")
    add(
        "conv_qa_gate",
        _qa_damaged,
        _TURNS_CTE
        + f""", dmg0 AS (
  SELECT conv_id, turn_idx, role, text FROM turns
  WHERE {_QA_COIN.format(s='qa_del', m=29)} <> 0),
dmg AS (
  SELECT conv_id, turn_idx,
         CASE WHEN {_QA_COIN.format(s='qa_role', m=5)} = 0
              THEN 'user' ELSE role END AS role,
         CASE WHEN {_QA_COIN.format(s='qa_empty', m=23)} = 0
              THEN '' ELSE text END AS text
  FROM dmg0),
lagd AS (
  SELECT conv_id, turn_idx, role, text,
         lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx, role)
           AS prev_role
  FROM dmg)
SELECT conv_id, n_turns, n_role_repeats, n_empty, n_dup_idx, has_idx_gap,
       first_role,
       (CASE WHEN n_role_repeats = 0 AND n_empty = 0 AND n_dup_idx = 0
             AND has_idx_gap = 0 AND first_role IN ('user', 'system')
        THEN 1 ELSE 0 END)::INT AS valid
FROM (
  SELECT conv_id, count(*)::BIGINT AS n_turns,
         coalesce(sum(CASE WHEN role = prev_role THEN 1 ELSE 0 END), 0)::BIGINT
           AS n_role_repeats,
         sum(CASE WHEN trim(text) = '' THEN 1 ELSE 0 END)::BIGINT AS n_empty,
         (count(*) - count(DISTINCT turn_idx))::BIGINT AS n_dup_idx,
         (CASE WHEN max(turn_idx) - min(turn_idx) + 1
                    <> count(DISTINCT turn_idx) THEN 1 ELSE 0 END)::INT
           AS has_idx_gap,
         arg_min(role, turn_idx) AS first_role
  FROM lagd GROUP BY conv_id)
""",
    )

    add(
        "conv_assembled",
        # ordered reassembly: collect_list structs + array_sort (no
        # collect_list order assumption) vs string_agg ORDER BY
        lambda spark, sf: assemble_conversations(transcript_corpus(spark, sf)),
        _TURNS_CTE
        + """SELECT conv_id, count(*)::BIGINT AS n_turns,
       string_agg(role || ': ' || text, chr(10) ORDER BY turn_idx) AS text
FROM turns GROUP BY conv_id""",
    )
    add(
        "conv_truncate",
        # context-budget trimming: longest whole-turn prefix with
        # cum_words <= 30 (turns are 12 words, so ~2 turns survive)
        lambda spark, sf: truncate_conversations(
            transcript_corpus(spark, sf), 30
        ).select("conv_id", "turn_idx", "words", "cum_words"),
        _TURNS_CTE
        + """SELECT conv_id, turn_idx, words, cum_words FROM (
  SELECT conv_id, turn_idx,
         len(regexp_extract_all(text, '[A-Za-z0-9]+'))::BIGINT AS words,
         sum(len(regexp_extract_all(text, '[A-Za-z0-9]+')))
           OVER (PARTITION BY conv_id ORDER BY turn_idx
                 ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_words
  FROM turns)
WHERE cum_words <= 30""",
    )

    from whoosh_spark.pipeline.conversations import loss_mask_spans

    add(
        "conv_loss_spans",
        # SFT loss masking: per-turn char spans into the assembled doc +
        # trainable flag (assistant turns train, user/tool turns mask);
        # offsets are pure window arithmetic mirrored op-for-op
        lambda spark, sf: loss_mask_spans(transcript_corpus(spark, sf)),
        _TURNS_CTE
        + """, llen AS (
  SELECT conv_id, turn_idx, role,
         length(role || ': ' || text)::BIGINT AS ln
  FROM turns)
SELECT conv_id, turn_idx,
       (coalesce(sum(ln) OVER (PARTITION BY conv_id ORDER BY turn_idx
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        + row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) - 1)::BIGINT
         AS char_start,
       (coalesce(sum(ln) OVER (PARTITION BY conv_id ORDER BY turn_idx
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        + row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) - 1
        + ln)::BIGINT AS char_end,
       (role = 'assistant')::INT AS trainable
FROM llen""",
    )

    from whoosh_spark.pipeline.conversations import sliding_turn_windows

    add(
        "conv_windows",
        # RAG-style chunking: every 3-consecutive-turn window per conv,
        # one bounded following frame, no self-join
        lambda spark, sf: sliding_turn_windows(transcript_corpus(spark, sf), k=3),
        _TURNS_CTE
        + """SELECT conv_id, start_idx, end_idx, text FROM (
  SELECT conv_id, turn_idx AS start_idx,
         max(turn_idx) OVER w AS end_idx,
         array_to_string(array_agg(role || ': ' || text) OVER w, chr(10)) AS text,
         count(*) OVER w AS n
  FROM turns
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
               ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING))
WHERE n = 3""",
    )
    def _conv_dedup(spark, sf):
        # derived corpus: the synth conversations are all distinct, so
        # clone every 25th one under a 'd'-prefixed conv_id in BOTH
        # engines (the redact_pii trick) — each clone makes a 2-copy
        # group whose canonical is the 'c' original ('c' < 'd')
        t = transcript_corpus(spark, sf)
        clones = (t.where(F.substring("conv_id", 2, 8).cast("int") % 25 == 0)
                  .withColumn("conv_id",
                              F.concat(F.lit("d"), F.substring("conv_id", 2, 8))))
        return exact_duplicates(
            assemble_conversations(t.unionByName(clones),
                                   sep=" ", with_roles=False),
            id_col="conv_id",
        ).select(F.col("doc_id").alias("conv_id"), "n_copies", "is_canonical")

    add(
        "conv_exact_dedup",
        # conversation-GRANULARITY exact dedup: assemble (role-less, space
        # sep) then the one-md5-shuffle group labeler
        _conv_dedup,
        _TURNS_CTE
        + """, allt AS (
  SELECT conv_id, turn_idx, text FROM turns
  UNION ALL
  SELECT 'd' || substr(conv_id, 2, 8) AS conv_id, turn_idx, text
  FROM turns WHERE substr(conv_id, 2, 8)::INT % 25 = 0),
asm AS (
  SELECT conv_id, string_agg(text, ' ' ORDER BY turn_idx) AS text
  FROM allt GROUP BY conv_id)
SELECT conv_id, count(*) OVER (PARTITION BY md5(text))::BIGINT AS n_copies,
       conv_id = min(conv_id) OVER (PARTITION BY md5(text)) AS is_canonical
FROM asm""",
    )

    def _conv_neardup(spark, sf):
        # conversation-granularity NEAR-dup: plant mutated clones (every
        # 25th conversation duplicated under a 'd' id MINUS its final
        # turn) so the planted pairs have high-but-<1 Jaccard; exact
        # 5-shingle all-pairs Jaccard over the role-less assemblies
        t = transcript_corpus(spark, sf)
        mx = t.groupBy("conv_id").agg(F.max("turn_idx").alias("_mx"))
        clones = (
            t.join(mx, "conv_id")
            .where(F.substring("conv_id", 2, 8).cast("int") % 25 == 0)
            .where(F.col("turn_idx") < F.col("_mx"))
            .withColumn("conv_id",
                        F.concat(F.lit("d"), F.substring("conv_id", 2, 8)))
            .select(*t.columns)
        )
        asm = assemble_conversations(t.unionByName(clones),
                                     sep=" ", with_roles=False)
        return shingle_jaccard_pairs(
            asm.select(F.col("conv_id").alias("doc_id"), "text"),
            threshold=0.7, id_col="doc_id",
        ).select("i", "j", F.round("jaccard", 4).alias("jaccard"))

    add(
        "conv_neardup_pairs",
        _conv_neardup,
        _TURNS_CTE
        + """, mx AS (SELECT conv_id, max(turn_idx) AS mxi FROM turns GROUP BY conv_id),
allt2 AS (
  SELECT conv_id, turn_idx, text FROM turns
  UNION ALL
  SELECT 'd' || substr(t.conv_id, 2, 8) AS conv_id, t.turn_idx, t.text
  FROM turns t JOIN mx USING (conv_id)
  WHERE substr(t.conv_id, 2, 8)::INT % 25 = 0 AND t.turn_idx < mx.mxi),
asm2 AS (
  SELECT conv_id, string_agg(text, ' ' ORDER BY turn_idx) AS text
  FROM allt2 GROUP BY conv_id),
sh AS (
  SELECT conv_id AS doc_id,
         unnest(list_distinct([text[i:i+4] FOR i IN generate_series(1, greatest(length(text)-4, 1))])) AS s
  FROM asm2),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
jpairs AS (
  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
jacc AS (
  SELECT i, j, inter * 1.0 / (sa.n + sb.n - inter) AS jaccard
  FROM jpairs p JOIN sizes sa ON p.i = sa.doc_id JOIN sizes sb ON p.j = sb.doc_id)
SELECT i, j, round(jaccard, 4) AS jaccard FROM jacc WHERE jaccard >= 0.7""",
    )

    # ------------- time-axis transcript analytics (ts/tool) --------------
    # The derived turns have constant 1s spacing and a single tool value,
    # so the time-axis ops would be vacuous on them. Derive a jittered
    # corpus IDENTICALLY in both engines (the simhash md5 trick): turn
    # gaps = md5(conv_id:turn_idx) % 900 seconds accumulated per
    # conversation, tool spread over 4 values by a second md5. Every
    # output below is a time DIFFERENCE or base-relative offset, so the
    # check is timezone-independent (Spark cast(long) is session-tz,
    # DuckDB epoch() is UTC).
    from pyspark.sql import Window as _W
    from whoosh_spark.pipeline.conversations import (
        response_latency,
        session_stats,
        sessionize,
        tool_usage_stats,
    )

    def _ts_base():
        # built lazily — registry construction precedes the SparkSession
        return F.to_timestamp(F.lit("2025-01-01 00:00:00")).cast("long")

    def _jittered_turns(spark, sf):
        t = transcript_corpus(spark, sf)
        gap = (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.col("conv_id"), F.col("turn_idx"))), 1, 4
                ),
                16, 10,
            ).cast("long") % 900
        )
        toolpick = F.array(
            F.lit("search"), F.lit("code"), F.lit("browse"), F.lit("calc")
        )[
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("#", F.col("conv_id"), F.col("turn_idx"))), 1, 4
                ),
                16, 10,
            ).cast("int") % 4
        ]
        run = _W.partitionBy("conv_id").orderBy("turn_idx").rowsBetween(
            _W.unboundedPreceding, 0
        )
        return (
            t.withColumn(
                "ts",
                F.to_timestamp(F.lit("2025-01-01 00:00:00"))
                + F.make_interval(secs=F.sum(gap).over(run)),
            )
            .withColumn("tool", F.when(F.col("turn_idx") % 4 == 3, toolpick))
        )

    _JIT_CTE = _TURNS_CTE + """, jit AS (
  SELECT conv_id, turn_idx, role, text,
         CASE WHEN turn_idx % 4 = 3 THEN
           ['search','code','browse','calc'][
             (('0x' || substr(md5(conv_id || '#' || turn_idx), 1, 4))::BIGINT % 4) + 1]
         END AS tool,
         sum(('0x' || substr(md5(conv_id || ':' || turn_idx), 1, 4))::BIGINT % 900)
           OVER (PARTITION BY conv_id ORDER BY turn_idx
                 ROWS UNBOUNDED PRECEDING) AS off_s,
         doc_id
  FROM turns)
"""

    add(
        "conv_sessionize",
        # inactivity-gap sessionization (gap > 600s starts a session):
        # one conv-keyed Window exec (lag + running sum share the spec);
        # gap_s coalesced to -1 on conversation-opening turns so the
        # value hash never sees NULL
        lambda spark, sf: sessionize(_jittered_turns(spark, sf), 600).select(
            "conv_id", "turn_idx",
            F.coalesce("gap_s", F.lit(-1)).alias("gap_s"), "session_idx",
        ),
        _JIT_CTE
        + """SELECT conv_id, turn_idx, coalesce(gap_s, -1)::BIGINT AS gap_s,
       (sum(CASE WHEN gap_s IS NULL OR gap_s > 600 THEN 1 ELSE 0 END)
          OVER (PARTITION BY conv_id ORDER BY turn_idx
                ROWS UNBOUNDED PRECEDING) - 1)::INT AS session_idx
FROM (
  SELECT conv_id, turn_idx,
         off_s - lag(off_s) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS gap_s
  FROM jit)""",
    )

    add(
        "conv_session_stats",
        # per-session rollup; start/end reported base-relative (= the
        # cumulative jitter offset) so session-tz vs UTC epoch cancels
        lambda spark, sf: session_stats(_jittered_turns(spark, sf), 600).select(
            "conv_id", "session_idx", "n_turns", "n_tool_calls",
            (F.col("start_s") - _ts_base()).alias("start_s"),
            (F.col("end_s") - _ts_base()).alias("end_s"),
            "duration_s",
        ),
        _JIT_CTE
        + """, sess AS (
  SELECT conv_id, turn_idx, tool, off_s,
         (sum(CASE WHEN gap_s IS NULL OR gap_s > 600 THEN 1 ELSE 0 END)
            OVER (PARTITION BY conv_id ORDER BY turn_idx
                  ROWS UNBOUNDED PRECEDING) - 1)::INT AS session_idx
  FROM (
    SELECT conv_id, turn_idx, tool, off_s,
           off_s - lag(off_s) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS gap_s
    FROM jit))
SELECT conv_id, session_idx, count(*)::BIGINT AS n_turns,
       sum(CASE WHEN tool IS NOT NULL AND tool <> '' THEN 1 ELSE 0 END)::BIGINT
         AS n_tool_calls,
       min(off_s)::BIGINT AS start_s, max(off_s)::BIGINT AS end_s,
       (max(off_s) - min(off_s))::BIGINT AS duration_s
FROM sess GROUP BY conv_id, session_idx""",
    )

    add(
        "conv_response_latency",
        # assistant response time = seconds since the previous turn; the
        # role filter stays ABOVE the window (the lag must see all turns)
        lambda spark, sf: response_latency(_jittered_turns(spark, sf)),
        _JIT_CTE
        + """SELECT conv_id, turn_idx, gap_s::BIGINT AS latency_s FROM (
  SELECT conv_id, turn_idx, role,
         off_s - lag(off_s) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS gap_s
  FROM jit)
WHERE role = 'assistant' AND gap_s IS NOT NULL""",
    )

    add(
        "conv_tool_stats",
        # tool-mix report: one filter + one groupBy(tool) (4 groups after
        # map-side combine); first/last use base-relative
        lambda spark, sf: tool_usage_stats(_jittered_turns(spark, sf)).select(
            "tool", "n_calls", "n_convs", "mean_words",
            (F.col("first_s") - _ts_base()).alias("first_s"),
            (F.col("last_s") - _ts_base()).alias("last_s"),
        ),
        _JIT_CTE
        + """SELECT tool, count(*)::BIGINT AS n_calls,
       count(DISTINCT conv_id)::BIGINT AS n_convs,
       round(avg(len(regexp_extract_all(text, '[A-Za-z0-9]+'))), 4) AS mean_words,
       min(off_s)::BIGINT AS first_s, max(off_s)::BIGINT AS last_s
FROM jit WHERE tool IS NOT NULL AND tool <> '' GROUP BY tool""",
    )

    # ---------------- unigram LM score (CCNet-style tier) ----------------
    from whoosh_spark.pipeline.textstats import unigram_logprob

    add(
        "text_unigram_logprob",
        lambda spark, sf: unigram_logprob(_docs(spark, sf)),
        """
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM documents
), counts AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
tot AS (SELECT sum(c) AS t FROM counts),
scored AS (
  SELECT doc_id, count(*) AS n, round(avg(ln(c / t)), 4) AS lp
  FROM toks JOIN counts USING (term), tot GROUP BY doc_id)
SELECT d.doc_id, coalesce(s.n, 0)::BIGINT AS n_tokens,
       coalesce(s.lp, 0.0)::DOUBLE AS mean_logprob
FROM documents d LEFT JOIN scored s USING (doc_id)
""",
    )

    # -------- model-based quality classifier (FineWeb/DCLM filter tier) ---
    # multinomial NB trained distributed against the lang='en' gold class
    # (the deterministic stand-in for "curated reference corpus");
    # min_df=2 exercises the vocabulary pruning that bounds the model at
    # web scale. Exact oracle: the whole train->score recurrence is
    # count arithmetic, mirrored CTE-for-stage in DuckDB.
    from whoosh_spark.pipeline.classify import nb_score, nb_train

    _NB_COUNTS_CTE = """
WITH toks AS (
  SELECT doc_id, coalesce((lang = 'en')::INT, 0) AS y,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM documents
), counts AS (
  SELECT term, sum(y) AS c_pos, sum(1 - y) AS c_neg
  FROM toks GROUP BY term HAVING count(*) >= 2
), tot AS (SELECT sum(c_pos) AS tp, sum(c_neg) AS tn, count(*) AS v FROM counts)
"""

    add(
        "nb_quality_weights",
        # top-20 most gold-indicative tokens by rounded llr (term ASC
        # tiebreak — hapax-class terms share llr values exactly)
        lambda spark, sf: nb_train(
            _docs(spark, sf), F.col("lang") == "en", min_df=2
        )
        .select("term", F.round("llr", 4).alias("llr"))
        .orderBy(F.desc("llr"), F.asc("term"))
        .limit(20),
        _NB_COUNTS_CTE
        + """SELECT term,
       round(ln((c_pos + 1) / (tp + v)) - ln((c_neg + 1) / (tn + v)), 4) AS llr
FROM counts, tot
ORDER BY llr DESC, term ASC LIMIT 20""",
    )

    add(
        "nb_quality_scores",
        # every document scored: prior + sum(tf * llr) over in-vocabulary
        # tokens; out-of-vocab (min_df-pruned) tokens contribute 0, empty
        # docs score the bare prior — the LEFT joins in both engines keep
        # all rows
        lambda spark, sf: nb_score(
            _docs(spark, sf),
            nb_train(_docs(spark, sf), F.col("lang") == "en", min_df=2),
        ).select("doc_id", F.round("score", 4).alias("score")),
        _NB_COUNTS_CTE
        + """, w AS (
  SELECT term, ln((c_pos + 1) / (tp + v)) - ln((c_neg + 1) / (tn + v)) AS llr
  FROM counts, tot),
prior AS (
  SELECT ln((sum(coalesce((lang = 'en')::INT, 0)) + 1.0)
           / (sum(1 - coalesce((lang = 'en')::INT, 0)) + 1.0)) AS p
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
s AS (SELECT doc_id, sum(tf * llr) AS part FROM tf JOIN w USING (term) GROUP BY doc_id)
SELECT d.doc_id, round(p + coalesce(s.part, 0.0), 4) AS score
FROM documents d LEFT JOIN s USING (doc_id), prior""",
    )

    # ------------- streaming monitor: tumbling-window counts -------------
    from whoosh_spark.streaming.monitor import windowed_turn_counts

    add(
        "stream_window_counts",
        # the same expression tree that runs watermarked on a stream
        # (streaming/monitor.py) — in batch mode here so DuckDB can pin
        # Spark's epoch-aligned tumbling-window boundaries via
        # time_bucket; epoch seconds, not timestamps, so the check is
        # timezone-independent in both engines
        lambda spark, sf: windowed_turn_counts(
            spark.read.parquet(f"{sf}/events.parquet"),
            "6 hours", by="event_type", watermark=None,
        ).select(
            F.unix_timestamp("win_start").alias("win_start_epoch"),
            F.unix_timestamp("win_end").alias("win_end_epoch"),
            "event_type", "n_turns"),
        """
SELECT epoch(time_bucket(INTERVAL '6 hours', ts))::BIGINT AS win_start_epoch,
       epoch(time_bucket(INTERVAL '6 hours', ts) + INTERVAL '6 hours')::BIGINT AS win_end_epoch,
       event_type, count(*)::BIGINT AS n_turns
FROM events GROUP BY 1, 2, 3
""",
    )

    from whoosh_spark.pipeline.temporal import asof_join

    def _asof_turns_events(spark, sf):
        # every turn matched to the user's most recent event at-or-before
        # the turn's moment: uid derived from conv_id (% 150 covers the
        # events table's full user range), turn time spread over the
        # events table's 30-day window by a deterministic stride. ALL
        # time arithmetic stays in TIMESTAMP_NTZ (the events parquet
        # type) — no session-tz parse or epoch conversion anywhere — and
        # outputs report base-relative SECONDS (NTZ diff cast, floors
        # like DuckDB date_diff). Oracle = DuckDB's NATIVE ASOF LEFT
        # JOIN, i.e. the tagged-union window trick is checked against an
        # independent first-class implementation of the operator.
        base = F.lit("2024-01-01 00:00:00").cast("timestamp_ntz")
        ev = spark.read.parquet(f"{sf}/events.parquet").select(
            F.col("user_id").alias("uid"), F.col("ts").alias("t"),
            "event_id", "event_type",
        )
        turns = transcript_corpus(spark, sf).select(
            "doc_id",
            (F.substring("conv_id", 2, 8).cast("long") % 150).alias("uid"),
            (base + F.make_interval(secs=(F.col("doc_id") * 7919) % 2592000)
             ).alias("t"),
        )
        j = asof_join(turns, ev, key="uid", ts_col="t",
                      right_cols=["event_id", "event_type"])
        return j.select(
            "doc_id", "uid",
            (F.col("t") - base).cast("long").alias("t_s"),
            F.coalesce((F.col("t_r") - base).cast("long"), F.lit(-1)
                       ).alias("event_t_s"),
            F.coalesce("event_id", F.lit(-1)).alias("event_id"),
            F.coalesce("event_type", F.lit("")).alias("event_type"),
        )

    add(
        "turns_asof_events",
        _asof_turns_events,
        _TURNS_CTE
        + """, tl AS (
  SELECT doc_id, (substr(conv_id, 2, 8)::BIGINT % 150) AS uid,
         TIMESTAMP '2024-01-01 00:00:00'
           + to_seconds((doc_id * 7919) % 2592000) AS t
  FROM turns),
ev AS (SELECT user_id AS uid, ts AS t, event_id, event_type FROM events)
SELECT tl.doc_id, tl.uid,
       date_diff('second', TIMESTAMP '2024-01-01 00:00:00', tl.t)::BIGINT AS t_s,
       coalesce(date_diff('second', TIMESTAMP '2024-01-01 00:00:00', ev.t),
                -1)::BIGINT AS event_t_s,
       coalesce(ev.event_id, -1)::BIGINT AS event_id,
       coalesce(ev.event_type, '') AS event_type
FROM tl ASOF LEFT JOIN ev ON tl.uid = ev.uid AND tl.t >= ev.t""",
    )

    from whoosh_spark.pipeline.temporal import lookback_join

    def _lookback_turns_events(spark, sf):
        # range-join form: per turn, ALL the user's events in the
        # trailing 24h window, aggregated (count + min/max value — order-
        # independent aggregates, so cross-engine float summation order
        # cannot flip the hash). Same NTZ-diff second offsets as the
        # as-of entry; bucketized equi-join, never an inequality join.
        base = F.lit("2024-01-01 00:00:00").cast("timestamp_ntz")
        ev = spark.read.parquet(f"{sf}/events.parquet").select(
            F.col("user_id").alias("uid"),
            (F.col("ts") - base).cast("long").alias("t"),
            "value",
        )
        turns = transcript_corpus(spark, sf).select(
            "doc_id",
            (F.substring("conv_id", 2, 8).cast("long") % 150).alias("uid"),
            ((F.col("doc_id") * 7919) % 2592000).alias("t"),
        )
        pairs = lookback_join(turns, ev, "uid", "t", 86400,
                              right_cols=["value"])
        return (
            pairs.groupBy("doc_id", "uid", "t")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.min("value"), 4).alias("min_value"),
                 F.round(F.max("value"), 4).alias("max_value"))
            .withColumnRenamed("t", "t_s")
        )

    add(
        "turns_lookback_events",
        _lookback_turns_events,
        _TURNS_CTE
        + """, tl AS (
  SELECT doc_id, (substr(conv_id, 2, 8)::BIGINT % 150) AS uid,
         (doc_id * 7919) % 2592000 AS t
  FROM turns),
ev AS (
  SELECT user_id AS uid,
         date_diff('second', TIMESTAMP '2024-01-01 00:00:00', ts) AS t,
         value
  FROM events)
SELECT tl.doc_id, tl.uid, tl.t::BIGINT AS t_s, count(*)::BIGINT AS n_events,
       round(min(ev.value), 4) AS min_value, round(max(ev.value), 4) AS max_value
FROM tl JOIN ev ON tl.uid = ev.uid AND ev.t BETWEEN tl.t - 86400 AND tl.t
GROUP BY 1, 2, 3""",
    )

    from whoosh_spark.streaming.monitor import session_window_stats

    add(
        "stream_session_windows",
        # native F.session_window over the md5-jittered corpus, batch
        # mode (the identical tree runs watermarked on a stream —
        # streaming ≡ batch pinned in test_streaming_monitor). Merge
        # convention pinned: events <= gap apart merge, sess_end = last
        # event + gap; outputs base-relative so session-tz cancels
        lambda spark, sf: session_window_stats(
            _jittered_turns(spark, sf), "10 minutes", watermark=None
        ).select(
            "conv_id",
            (F.col("sess_start").cast("long") - _ts_base()).alias("start_s"),
            (F.col("sess_end").cast("long") - _ts_base()).alias("end_s"),
            "n_turns",
        ),
        _JIT_CTE
        + """, sw AS (
  SELECT conv_id, off_s,
         sum(CASE WHEN prev IS NULL OR off_s - prev > 600 THEN 1 ELSE 0 END)
           OVER (PARTITION BY conv_id ORDER BY off_s
                 ROWS UNBOUNDED PRECEDING) AS sid
  FROM (SELECT conv_id, off_s,
               lag(off_s) OVER (PARTITION BY conv_id ORDER BY off_s) AS prev
        FROM jit))
SELECT conv_id, min(off_s)::BIGINT AS start_s,
       (max(off_s) + 600)::BIGINT AS end_s, count(*)::BIGINT AS n_turns
FROM sw GROUP BY conv_id, sid""",
    )

    def _percolate_docs(spark, sf):
        # standing queries vs the documents corpus through the batch
        # percolation kernel (streaming/percolate.py — identical kernel
        # runs per micro-batch via foreachBatch; streaming == batch
        # pinned in tests/test_percolate.py). No limit: the full match
        # set per rule, scores batch-local BM25 per the kernel contract.
        from whoosh_spark import query as Q
        from whoosh_spark.fields import documents_schema
        from whoosh_spark.streaming.percolate import percolate

        rules = {
            "has_spark": Q.Term("text", "spark"),
            "spark_and_join": Q.And([Q.Term("text", "spark"), Q.Term("text", "join")]),
            "hash_phrase": Q.Phrase("text", ["hash", "join"]),
            "merge_or_window": Q.Or([Q.Term("text", "merge"), Q.Term("text", "window")]),
        }
        out = percolate(spark, _docs(spark, sf), rules, documents_schema())
        return out.select("query_name", "doc_id", F.round("score", 4).alias("score"))

    add(
        "percolate_matches",
        _percolate_docs,
        "\nWITH "
        + prelude_body("documents")
        + """
SELECT 'has_spark' AS query_name, doc_id, round(score, 4) AS score
FROM scored WHERE term = 'spark'
UNION ALL
SELECT 'spark_and_join', doc_id, round(sum(score), 4)
FROM scored WHERE term IN ('spark', 'join')
GROUP BY doc_id HAVING count(*) = 2
UNION ALL
SELECT 'hash_phrase', s.doc_id, round(sum(s.score), 4)
FROM scored s WHERE s.term IN ('hash', 'join')
AND s.doc_id IN (SELECT a.doc_id FROM ftok a JOIN ftok b ON a.doc_id = b.doc_id
                 AND b.pos = a.pos + 1 WHERE a.term = 'hash' AND b.term = 'join')
GROUP BY s.doc_id HAVING count(*) = 2
UNION ALL
SELECT 'merge_or_window', doc_id, round(sum(score), 4)
FROM scored WHERE term IN ('merge', 'window') GROUP BY doc_id
""",
    )

    def _percolate_indexed_docs(spark, sf):
        # the LARGE-rule-set tier: rules as broadcast DATA joined onto one
        # scored postings scan — O(1) plan size in the rule count
        # (percolate.py::percolate_indexed; bit-identical to the
        # plan-branch tier for these rule shapes, pinned in
        # tests/test_percolate.py); term / AND / OR / OR-minmatch rules
        from whoosh_spark import query as Q
        from whoosh_spark.fields import documents_schema
        from whoosh_spark.streaming.percolate import percolate_indexed

        rules = {
            "has_spark": Q.Term("text", "spark"),
            "spark_and_join": Q.And([Q.Term("text", "spark"), Q.Term("text", "join")]),
            "merge_or_window": Q.Or([Q.Term("text", "merge"), Q.Term("text", "window")]),
            "two_of_three": Q.Or(
                [Q.Term("text", "scan"), Q.Term("text", "filter"), Q.Term("text", "batch")],
                minmatch=2,
            ),
            "spark_not_join": Q.AndNot(Q.Term("text", "spark"), Q.Term("text", "join")),
            "merge_req_batch": Q.Require(Q.Term("text", "merge"), Q.Term("text", "batch")),
            # phrase rules close their positional chain INSIDE the same
            # (rule, doc) group — same broadcast, still O(1) plan size
            "hash_phrase": Q.Phrase("text", ["hash", "join"]),
            # r4: phrase B-SIDE (the excluded side runs its own chain in
            # the same group) and duplicate-word phrase (one slot per
            # occurrence, strictly increasing positions)
            "spark_not_hashjoin": Q.AndNot(
                Q.Term("text", "spark"), Q.Phrase("text", ["hash", "join"])),
            "double_join": Q.Phrase("text", ["join", "join"], slop=3),
            # r4 session 2: Or(scale=) coord weighting in the indexed
            # tier — sum * ((1-s) + s*matched/n), executor op order
            "scaled_or": Q.Or([Q.Term("text", "merge"),
                               Q.Term("text", "window")], scale=0.5),
            # r5: ARBITRARY-DEPTH rule tree with INNER-node boost — the
            # stack-machine program path (percolate.py::_deep_rule):
            # (And(hash, join) OR spark^2)^1.5 AND merge
            "deep_boosted": Q.And([
                Q.Or([Q.And([Q.Term("text", "hash"),
                             Q.Term("text", "join")]),
                      Q.Term("text", "spark", boost=2.0)], boost=1.5),
                Q.Term("text", "merge")]),
        }
        out = percolate_indexed(spark, _docs(spark, sf), rules, documents_schema())
        return out.select("query_name", "doc_id", F.round("score", 4).alias("score"))

    add(
        "percolate_indexed_matches",
        _percolate_indexed_docs,
        "\nWITH "
        + prelude_body("documents")
        + """
SELECT 'has_spark' AS query_name, doc_id, round(score, 4) AS score
FROM scored WHERE term = 'spark'
UNION ALL
SELECT 'spark_and_join', doc_id, round(sum(score), 4)
FROM scored WHERE term IN ('spark', 'join')
GROUP BY doc_id HAVING count(*) = 2
UNION ALL
SELECT 'merge_or_window', doc_id, round(sum(score), 4)
FROM scored WHERE term IN ('merge', 'window') GROUP BY doc_id
UNION ALL
SELECT 'two_of_three', doc_id, round(sum(score), 4)
FROM scored WHERE term IN ('scan', 'filter', 'batch')
GROUP BY doc_id HAVING count(*) >= 2
UNION ALL
SELECT 'spark_not_join', doc_id, round(score, 4)
FROM scored WHERE term = 'spark'
AND doc_id NOT IN (SELECT doc_id FROM post WHERE term = 'join')
UNION ALL
SELECT 'merge_req_batch', doc_id, round(score, 4)
FROM scored WHERE term = 'merge'
AND doc_id IN (SELECT doc_id FROM post WHERE term = 'batch')
UNION ALL
SELECT 'hash_phrase', s.doc_id, round(sum(s.score), 4)
FROM scored s WHERE s.term IN ('hash', 'join')
AND s.doc_id IN (SELECT a.doc_id FROM ftok a JOIN ftok b ON a.doc_id = b.doc_id
                 AND b.pos = a.pos + 1 WHERE a.term = 'hash' AND b.term = 'join')
GROUP BY s.doc_id HAVING count(*) = 2
UNION ALL
SELECT 'spark_not_hashjoin', doc_id, round(score, 4)
FROM scored WHERE term = 'spark'
AND doc_id NOT IN (SELECT a.doc_id FROM ftok a JOIN ftok b ON a.doc_id = b.doc_id
                   AND b.pos = a.pos + 1 WHERE a.term = 'hash' AND b.term = 'join')
UNION ALL
SELECT 'double_join', doc_id, round(score * 2, 4)
FROM scored WHERE term = 'join'
AND doc_id IN (SELECT a.doc_id FROM ftok a JOIN ftok b ON a.doc_id = b.doc_id
               AND b.pos > a.pos AND b.pos <= a.pos + 3
               WHERE a.term = 'join' AND b.term = 'join')
UNION ALL
SELECT 'scaled_or', doc_id,
       round(sum(score) * (0.5 + 0.5 * count(*) / 2.0), 4)
FROM scored WHERE term IN ('merge', 'window') GROUP BY doc_id
UNION ALL
-- deep tree: score = 1.5*(and_branch + 2*spark) + merge, matching when
-- (hash AND join, or spark) and merge all hold; unmatched Or children
-- contribute 0
SELECT 'deep_boosted', m.doc_id,
       round(1.5 * (coalesce(hj.s, 0) + coalesce(sp.s, 0)) + m.score, 4)
FROM scored m
LEFT JOIN (SELECT doc_id, sum(score) AS s FROM scored
           WHERE term IN ('hash', 'join')
           GROUP BY doc_id HAVING count(*) = 2) hj ON m.doc_id = hj.doc_id
LEFT JOIN (SELECT doc_id, 2.0 * score AS s FROM scored
           WHERE term = 'spark') sp ON m.doc_id = sp.doc_id
WHERE m.term = 'merge'
  AND (hj.doc_id IS NOT NULL OR sp.doc_id IS NOT NULL)
""",
    )

    from whoosh_spark.pipeline.rollup import hypertable_rollup

    add(
        "events_hypertable_rollup",
        # continuous-aggregate shape: raw scanned ONCE at 6h grain, the
        # 1-day level re-aggregated from the 6h partials — while the
        # oracle computes BOTH levels directly from raw, so a green hash
        # proves re-aggregation is lossless; epoch-second window bounds
        # (time_bucket alignment precedent of stream_window_counts)
        lambda spark, sf: hypertable_rollup(
            spark.read.parquet(f"{sf}/events.parquet"),
            grains=("6 hours", "1 day"), by="event_type", value="value",
        ).select(
            "grain",
            F.unix_timestamp("win_start").alias("win_start_epoch"),
            F.unix_timestamp("win_end").alias("win_end_epoch"),
            "event_type", F.col("n").cast("long").alias("n"),
            "sum_floor_value",
            F.round("min_value", 4).alias("min_value"),
            F.round("max_value", 4).alias("max_value"),
        ),
        """
SELECT '6 hours' AS grain,
       epoch(time_bucket(INTERVAL '6 hours', ts))::BIGINT AS win_start_epoch,
       epoch(time_bucket(INTERVAL '6 hours', ts) + INTERVAL '6 hours')::BIGINT
         AS win_end_epoch,
       event_type, count(*)::BIGINT AS n,
       sum(floor(value))::BIGINT AS sum_floor_value,
       round(min(value), 4) AS min_value, round(max(value), 4) AS max_value
FROM events GROUP BY 2, 3, 4
UNION ALL
SELECT '1 day',
       epoch(time_bucket(INTERVAL '1 day', ts))::BIGINT,
       epoch(time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day')::BIGINT,
       event_type, count(*)::BIGINT, sum(floor(value))::BIGINT,
       round(min(value), 4), round(max(value), 4)
FROM events GROUP BY 2, 3, 4
""",
    )

    from whoosh_spark.pipeline.sketch import kmv_distinct

    def _sketch_users(spark, sf):
        # KMV bottom-k sketch of distinct users per event_type, k=64 —
        # BELOW the table's ~150-user cardinality so the genuine
        # (k-1)/U_(k) estimation path runs (not the exact fallback); the
        # md5-derived hash makes the ESTIMATE itself deterministic, so
        # the oracle recomputes it bit-for-bit; exact distinct joined on
        # for the accuracy-visible comparison
        ev = spark.read.parquet(f"{sf}/events.parquet")
        sk = kmv_distinct(ev, "user_id", k=64, by="event_type")
        ex = ev.groupBy("event_type").agg(
            F.countDistinct("user_id").alias("exact_distinct"))
        return sk.join(ex, "event_type")

    add(
        "sketch_distinct_users",
        _sketch_users,
        """
WITH h AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS hh
  FROM events),
r AS (SELECT event_type, hh,
             row_number() OVER (PARTITION BY event_type ORDER BY hh) AS rn
      FROM h),
kept AS (SELECT event_type, count(*) AS n_kept,
                max(CASE WHEN rn = 64 THEN hh END) AS hk
         FROM r WHERE rn <= 64 GROUP BY event_type),
ex AS (SELECT event_type, count(DISTINCT user_id)::BIGINT AS exact_distinct
       FROM events GROUP BY event_type)
SELECT k.event_type, k.n_kept::BIGINT AS n_kept,
       round(CASE WHEN k.n_kept < 64 THEN k.n_kept::DOUBLE
                  ELSE 63 * 1152921504606846976.0 / k.hk END, 4)
         AS kmv_estimate,
       ex.exact_distinct
FROM kept k JOIN ex USING (event_type)
""",
    )

    # ----------- exact 13-gram decontamination (GPT-3 style) -------------
    from whoosh_spark.pipeline.textstats import exact_ngram_contamination

    _BOILER = ("shared benchmark boilerplate sentence about evaluation data "
               "leakage detection in large language model training corpora")

    def _decontam(spark, sf):
        # derived corpora: the synth documents share only ~3 natural
        # 13-word grams across the <450 / >=450 split, so plant a
        # deterministic 15-word boilerplate on every 50th corpus doc and
        # on bench doc 460 in BOTH engines (the redact_pii trick) — the
        # planted pairs each share exactly 3 distinct 13-grams
        d = _docs(spark, sf)
        corpus = d.where("doc_id < 450").select(
            "doc_id",
            F.when(F.col("doc_id") % 50 == 0,
                   F.concat_ws(" ", F.col("text"), F.lit(_BOILER)))
            .otherwise(F.col("text")).alias("text"))
        bench = d.where("doc_id >= 450").select(
            "doc_id",
            F.when(F.col("doc_id") == 460,
                   F.concat_ws(" ", F.col("text"), F.lit(_BOILER)))
            .otherwise(F.col("text")).alias("text"))
        return exact_ngram_contamination(corpus, bench, n=13)

    add(
        "text_exact_ngram_decontam",
        _decontam,
        f"""
WITH corp AS (SELECT doc_id,
       CASE WHEN doc_id % 50 = 0 THEN text || ' ' || '{_BOILER}' ELSE text END AS text
       FROM documents WHERE doc_id < 450),
ben AS (SELECT doc_id,
       CASE WHEN doc_id = 460 THEN text || ' ' || '{_BOILER}' ELSE text END AS text
       FROM documents WHERE doc_id >= 450),
cw AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM corp),
bw AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM ben),
cg0 AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-12)) AS i FROM cw WHERE len(w) >= 13),
cg AS (SELECT DISTINCT doc_id AS corpus_id, md5(array_to_string(w[i:i+12], ' ')) AS g FROM cg0),
bg0 AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-12)) AS i FROM bw WHERE len(w) >= 13),
bg AS (SELECT DISTINCT doc_id AS bench_id, md5(array_to_string(w[i:i+12], ' ')) AS g FROM bg0)
SELECT corpus_id, bench_id, count(*)::BIGINT AS n_shared
FROM cg JOIN bg ON cg.g = bg.g GROUP BY 1, 2
""",
    )

    # -------------------- sequence packing (concat-and-chunk) ------------
    from whoosh_spark.pipeline.packing import pack_sequences

    from whoosh_spark.pipeline.packing import pack_bins_ffd

    add(
        "pipeline_pack_bins",
        # boundary-preserving FFD bin packing (docs never split — the
        # SFT-packing complement of concat-and-chunk). NO ORACLE by
        # nature: greedy bin assignment is a sequential recurrence DuckDB
        # cannot mirror; every invariant (each doc once, no bin over
        # capacity, determinism across partitioning, fill >= 0.85) is
        # pinned in tests/test_pipeline.py instead — rows-only check.
        lambda spark, sf: pack_bins_ffd(
            token_counts(_docs(spark, sf)).select(
                "doc_id", F.col("bpe_tokens").alias("n_tokens")),
            capacity=2048, num_shards=16,
        ).orderBy("doc_id"),
        None,
    )

    add(
        "pipeline_pack_sequences",
        # token_counts -> two-phase distributed prefix sum -> window
        # arithmetic; md5 shuffle-key order makes the global layout
        # reproducible under any partitioning (packing.pack_sequences)
        lambda spark, sf: pack_sequences(
            token_counts(_docs(spark, sf)), capacity=2048,
            token_col="bpe_tokens"),
        """
WITH tc AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]'))::BIGINT AS n,
         md5('pack:' || doc_id) AS k
  FROM documents
), c AS (
  SELECT doc_id, n,
         coalesce(sum(n) OVER (ORDER BY k, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS b
  FROM tc)
SELECT doc_id, n AS n_tokens, b AS begin_offset,
       (b // 2048)::BIGINT AS seq_id, (b % 2048)::BIGINT AS seq_offset,
       ((b + greatest(n, 1) - 1) // 2048)::BIGINT AS end_seq_id
FROM c
""",
    )

    add(
        "text_winnow_fingerprints",
        lambda spark, sf: winnow_fingerprints(_docs(spark, sf)),
        "WITH " + _WINNOW_SQL.strip() + "\nSELECT doc_id, fp FROM fps",
    )
    add(
        "text_fingerprint_overlap",
        lambda spark, sf: fingerprint_overlap_pairs(_docs(spark, sf), min_common=20),
        "WITH "
        + _WINNOW_SQL.strip()
        + """
, ov AS (
  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS common
  FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i, j, common FROM ov WHERE common >= 20
""",
    )
    add(
        "text_contamination_pairs",
        # benchmark decontamination: corpus-vs-benchmark fingerprint
        # overlap (textstats.contamination_pairs) — the benchmark
        # fingerprint frame broadcasts, the corpus is touched once
        lambda spark, sf: contamination_pairs(
            _docs(spark, sf).where("doc_id < 450"),
            _docs(spark, sf).where("doc_id >= 450"),
            min_common=20),
        "WITH "
        + _WINNOW_SQL.strip()
        + """
SELECT c.doc_id AS corpus_id, b.doc_id AS bench_id,
       count(*)::BIGINT AS common
FROM fps c JOIN fps b ON c.fp = b.fp
WHERE c.doc_id < 450 AND b.doc_id >= 450
GROUP BY 1, 2 HAVING count(*) >= 20
""",
    )

    # ------------------- facets: range / date / multi --------------------

    def _facet_range(spark, sf):
        from whoosh_spark.entry_queries import _docs_searcher

        s = _docs_searcher(spark, sf)
        from whoosh_spark import query as Qn

        return s.range_counts(
            Qn.Or([Qn.Term("text", "spark"), Qn.Term("text", "vector")]),
            "n_chars", 0, 600, 100,
        )

    add(
        "facet_range_nchars",
        _facet_range,
        PRELUDE_DOCS
        + """
SELECT (FLOOR(d.n_chars / 100) * 100)::BIGINT AS range_start, count(*)::BIGINT AS count
FROM (SELECT DISTINCT doc_id FROM post WHERE term IN ('spark','vector')) m
JOIN documents d USING (doc_id)
WHERE d.n_chars >= 0 AND d.n_chars < 600
GROUP BY 1
""",
    )

    def _facet_multi(spark, sf):
        from whoosh_spark.entry_queries import _docs_searcher

        s = _docs_searcher(spark, sf)
        from whoosh_spark import query as Qn

        return s.group_counts_multi(Qn.Term("text", "merge"), ["lang", "source"])

    add(
        "facet_multi_lang_source",
        _facet_multi,
        PRELUDE_DOCS
        + """
SELECT d.lang, d.source, count(*)::BIGINT AS count
FROM (SELECT DISTINCT doc_id FROM post WHERE term = 'merge') m
JOIN documents d USING (doc_id) GROUP BY 1, 2
""",
    )

    def _facet_date(spark, sf):
        from whoosh_spark.entry_queries import _events_searcher

        s = _events_searcher(spark, sf)
        from whoosh_spark import query as Qn

        return s.date_counts(Qn.Term("event_type", "click"), "ts", "day")

    add(
        "facet_date_events",
        _facet_date,
        "SELECT date_trunc('day', ts)::DATE AS bucket, count(*)::BIGINT AS count "
        "FROM events WHERE event_type = 'click' GROUP BY 1",
    )

    # ----------------------- NGRAM field (substring search) --------------

    def _ngram_searcher(spark, sf):
        key = ("ngram_ix", sf)
        if key not in _CACHE:
            from whoosh_spark.fields import ID, NGRAMWORDS, Schema
            from whoosh_spark.indexing import build_index
            from whoosh_spark.search import Searcher

            schema = Schema(NGRAMWORDS("text", 3, 3), ID("lang"))
            ix = build_index(spark, _docs(spark, sf), schema).persist()
            _CACHE[key] = Searcher(ix)
        return _CACHE[key]

    def _ngram_topk(spark, sf):
        from whoosh_spark import query as Qn
        from whoosh_spark.entry_queries import _topk

        s = _ngram_searcher(spark, sf)
        return _topk(s.compile(Qn.Term("text", "ark")))

    add(
        "ngram_substring_topk",
        _ngram_topk,
        # trigram analyzer: tokenize+lower (no stop filter), 3-grams of each
        # token; dl = total gram count, BM25 over gram postings
        r"""
WITH w AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\w+(?:\.?\w+)*')) AS tok
  FROM documents
),
g AS (
  SELECT doc_id, unnest([tok[i:i+2] FOR i IN generate_series(1, length(tok) - 2)]) AS term
  FROM w WHERE length(tok) >= 3
),
rawlen AS (
  SELECT d.doc_id, coalesce(c.n, 0)::BIGINT AS raw_len
  FROM documents d LEFT JOIN (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id) c USING (doc_id)
),
dl AS (
  SELECT doc_id, raw_len,
         CASE WHEN raw_len <= 0 THEN 0
              WHEN raw_len >= 68000 THEN CAST(round((power(1.0325, 255) - 1) * 8) AS BIGINT)
              ELSE CAST(round((power(1.0325,
                     LEAST(255, CAST(round(ln(raw_len / 8.0 + 1) / ln(1.0325)) AS INTEGER))
                   ) - 1) * 8) AS BIGINT)
         END AS dl
  FROM rawlen
),
post AS (SELECT doc_id, term, count(*)::DOUBLE AS w FROM g GROUP BY doc_id, term),
tstat AS (SELECT term, count(*)::DOUBLE AS df FROM post GROUP BY term),
gstat AS (
  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
         (SELECT sum(raw_len)::DOUBLE FROM rawlen) / (SELECT count(*) FROM documents) AS avgdl
)
SELECT doc_id, round((ln(g2.n / (t.df + 1)) + 1) * (p.w * 2.2)
       / (p.w + 1.2 * (0.25 + 0.75 * l.dl / g2.avgdl)), 4) AS score
FROM post p JOIN tstat t USING (term) JOIN dl l USING (doc_id) CROSS JOIN gstat g2
WHERE p.term = 'ark'
ORDER BY score DESC, doc_id ASC LIMIT 10
""",
    )

    # ---------------------- span queries (SURVEY §2.5) -------------------

    def _span_q(spark, sf, qmaker):
        from whoosh_spark.entry_queries import _docs_searcher, _topk

        s = _docs_searcher(spark, sf)
        return _topk(s.compile(qmaker().normalize()))

    from whoosh_spark import query as Qn

    add(
        "span_near_ordered_topk",
        lambda spark, sf: _span_q(
            spark, sf,
            lambda: Qn.SpanNear2([Qn.Term("text", "slow"), Qn.Term("text", "query")], slop=3),
        ),
        # gap between consecutive single-term spans in [1, 3], ordered
        PRELUDE_DOCS
        + """
SELECT doc_id, round(score, 4) AS score FROM (
  SELECT s.doc_id, sum(s.score) AS score FROM scored s
  WHERE s.term IN ('slow','query') AND s.doc_id IN (
    SELECT a.doc_id FROM ftok a JOIN ftok b
      ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND 3
    WHERE a.term = 'slow' AND b.term = 'query')
  GROUP BY s.doc_id HAVING count(*) = 2
) ORDER BY round(score, 4) DESC, doc_id ASC LIMIT 10
""",
    )
    add(
        # Sequence (reference: positional.py::Sequence ~L40): q1..qn in
        # order, each within slop of the previous — a phrase of subqueries
        # through the SPAN compiler (SpanNear2 ordered chain), not the
        # phrase kernel. Three terms, slop=2 -> two consecutive gap joins.
        "sequence_topk",
        lambda spark, sf: _span_q(
            spark, sf,
            lambda: Qn.Sequence([Qn.Term("text", "hash"),
                                 Qn.Term("text", "value"),
                                 Qn.Term("text", "table")], slop=2),
        ),
        PRELUDE_DOCS
        + """
SELECT doc_id, round(score, 4) AS score FROM (
  SELECT s.doc_id, sum(s.score) AS score FROM scored s
  WHERE s.term IN ('hash','value','table') AND s.doc_id IN (
    SELECT a.doc_id FROM ftok a
    JOIN ftok b ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND 2
    JOIN ftok c ON b.doc_id = c.doc_id AND c.pos - b.pos BETWEEN 1 AND 2
    WHERE a.term = 'hash' AND b.term = 'value' AND c.term = 'table')
  GROUP BY s.doc_id HAVING count(*) = 3
) ORDER BY round(score, 4) DESC, doc_id ASC LIMIT 10
""",
    )
    add(
        # Ordered (reference: positional.py::Ordered): subqueries anywhere
        # in the doc but in document order (unbounded slop).
        "ordered_anywhere_topk",
        lambda spark, sf: _span_q(
            spark, sf,
            lambda: Qn.Ordered([Qn.Term("text", "spark"),
                                Qn.Term("text", "vector")]),
        ),
        PRELUDE_DOCS
        + """
SELECT doc_id, round(score, 4) AS score FROM (
  SELECT s.doc_id, sum(s.score) AS score FROM scored s
  WHERE s.term IN ('spark','vector') AND s.doc_id IN (
    SELECT a.doc_id FROM ftok a JOIN ftok b
      ON a.doc_id = b.doc_id AND b.pos > a.pos
    WHERE a.term = 'spark' AND b.term = 'vector')
  GROUP BY s.doc_id HAVING count(*) = 2
) ORDER BY round(score, 4) DESC, doc_id ASC LIMIT 10
""",
    )
    add(
        "span_near_unordered_topk",
        lambda spark, sf: _span_q(
            spark, sf,
            lambda: Qn.SpanNear2(
                [Qn.Term("text", "hash"), Qn.Term("text", "join")], slop=2, ordered=False
            ),
        ),
        PRELUDE_DOCS
        + """
SELECT doc_id, round(score, 4) AS score FROM (
  SELECT s.doc_id, sum(s.score) AS score FROM scored s
  WHERE s.term IN ('hash','join') AND s.doc_id IN (
    SELECT a.doc_id FROM ftok a JOIN ftok b
      ON a.doc_id = b.doc_id AND abs(b.pos - a.pos) BETWEEN 1 AND 2
    WHERE a.term = 'hash' AND b.term = 'join')
  GROUP BY s.doc_id HAVING count(*) = 2
) ORDER BY round(score, 4) DESC, doc_id ASC LIMIT 10
""",
    )
    add(
        "span_or_topk",
        # SpanOr (spans.py::SpanOr): union of two near-span branches; a
        # doc matching both sums both branches' scores (ordered fold)
        lambda spark, sf: _span_q(
            spark, sf,
            lambda: Qn.SpanOr([
                Qn.SpanNear2([Qn.Term("text", "slow"),
                              Qn.Term("text", "query")], slop=3),
                Qn.SpanNear2([Qn.Term("text", "hash"),
                              Qn.Term("text", "join")], slop=2),
            ]),
        ),
        PRELUDE_DOCS
        + """
SELECT doc_id, round(score, 4) AS score FROM (
  SELECT doc_id, sum(b_score) AS score FROM (
    SELECT s.doc_id, sum(s.score) AS b_score FROM scored s
    WHERE s.term IN ('slow','query') AND s.doc_id IN (
      SELECT a.doc_id FROM ftok a JOIN ftok b
        ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND 3
      WHERE a.term = 'slow' AND b.term = 'query')
    GROUP BY s.doc_id HAVING count(*) = 2
    UNION ALL
    SELECT s.doc_id, sum(s.score) FROM scored s
    WHERE s.term IN ('hash','join') AND s.doc_id IN (
      SELECT a.doc_id FROM ftok a JOIN ftok b
        ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND 2
      WHERE a.term = 'hash' AND b.term = 'join')
    GROUP BY s.doc_id HAVING count(*) = 2
  ) GROUP BY doc_id
) ORDER BY round(score, 4) DESC, doc_id ASC LIMIT 10
""",
    )
    add(
        "span_not_topk",
        # SpanNot (spans.py::SpanNot): near-spans of slow..query (gap<=3)
        # that do NOT overlap any 'scan' position — a doc survives if at
        # least one of its spans is clean (4 of 83 matching docs at sf0.01
        # have every span overlapped and drop out)
        lambda spark, sf: _span_q(
            spark, sf,
            lambda: Qn.SpanNot(
                Qn.SpanNear2([Qn.Term("text", "slow"),
                              Qn.Term("text", "query")], slop=3),
                Qn.Term("text", "scan"),
            ),
        ),
        PRELUDE_DOCS
        + """
SELECT doc_id, round(score, 4) AS score FROM (
  SELECT s.doc_id, sum(s.score) AS score FROM scored s
  WHERE s.term IN ('slow','query') AND s.doc_id IN (
    SELECT a.doc_id FROM ftok a JOIN ftok b
      ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND 3
    WHERE a.term = 'slow' AND b.term = 'query'
      AND NOT EXISTS (SELECT 1 FROM ftok c WHERE c.doc_id = a.doc_id
                      AND c.term = 'scan'
                      AND c.pos >= a.pos AND c.pos <= b.pos))
  GROUP BY s.doc_id HAVING count(*) = 2
) ORDER BY round(score, 4) DESC, doc_id ASC LIMIT 10
""",
    )
    add(
        "span_contains_topk",
        # SpanContains (spans.py::SpanContains): near-spans that CONTAIN a
        # 'scan' position — the inverse selection of span_not_topk
        lambda spark, sf: _span_q(
            spark, sf,
            lambda: Qn.SpanContains(
                Qn.SpanNear2([Qn.Term("text", "slow"),
                              Qn.Term("text", "query")], slop=3),
                Qn.Term("text", "scan"),
            ),
        ),
        PRELUDE_DOCS
        + """
SELECT doc_id, round(score, 4) AS score FROM (
  -- SpanContains joins a's and b's frames, so the score is the SUM of
  -- all three terms' contributions (executor._join2)
  SELECT s.doc_id, sum(s.score) AS score FROM scored s
  WHERE s.term IN ('slow','query','scan') AND s.doc_id IN (
    SELECT a.doc_id FROM ftok a JOIN ftok b
      ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND 3
    WHERE a.term = 'slow' AND b.term = 'query'
      AND EXISTS (SELECT 1 FROM ftok c WHERE c.doc_id = a.doc_id
                  AND c.term = 'scan'
                  AND c.pos >= a.pos AND c.pos <= b.pos))
  GROUP BY s.doc_id HAVING count(*) = 3
) ORDER BY round(score, 4) DESC, doc_id ASC LIMIT 10
""",
    )
    add(
        "span_before_topk",
        # SpanBefore (spans.py): near-spans strictly ending before some
        # 'scan' position (x.e < y.s); score = a+b sum per _join2
        lambda spark, sf: _span_q(
            spark, sf,
            lambda: Qn.SpanBefore(
                Qn.SpanNear2([Qn.Term("text", "slow"),
                              Qn.Term("text", "query")], slop=3),
                Qn.Term("text", "scan"),
            ),
        ),
        PRELUDE_DOCS
        + """
SELECT doc_id, round(score, 4) AS score FROM (
  SELECT s.doc_id, sum(s.score) AS score FROM scored s
  WHERE s.term IN ('slow','query','scan') AND s.doc_id IN (
    SELECT a.doc_id FROM ftok a JOIN ftok b
      ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND 3
    WHERE a.term = 'slow' AND b.term = 'query'
      AND EXISTS (SELECT 1 FROM ftok c WHERE c.doc_id = a.doc_id
                  AND c.term = 'scan' AND c.pos > b.pos))
  GROUP BY s.doc_id HAVING count(*) = 3
) ORDER BY round(score, 4) DESC, doc_id ASC LIMIT 10
""",
    )
    add(
        "span_condition_topk",
        # SpanCondition (spans.py::SpanCondition): near-spans of
        # slow..query kept only in docs that ALSO match 'scan' anywhere —
        # spans from a, doc-level require on b; score = a+b intersection
        # sum per _join2 (same convention as contains/before)
        lambda spark, sf: _span_q(
            spark, sf,
            lambda: Qn.SpanCondition(
                Qn.SpanNear2([Qn.Term("text", "slow"),
                              Qn.Term("text", "query")], slop=3),
                Qn.Term("text", "scan"),
            ),
        ),
        PRELUDE_DOCS
        + """
SELECT doc_id, round(score, 4) AS score FROM (
  SELECT s.doc_id, sum(s.score) AS score FROM scored s
  WHERE s.term IN ('slow','query','scan') AND s.doc_id IN (
    SELECT a.doc_id FROM ftok a JOIN ftok b
      ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND 3
    WHERE a.term = 'slow' AND b.term = 'query'
      AND EXISTS (SELECT 1 FROM ftok c WHERE c.doc_id = a.doc_id
                  AND c.term = 'scan'))
  GROUP BY s.doc_id HAVING count(*) = 3
) ORDER BY round(score, 4) DESC, doc_id ASC LIMIT 10
""",
    )
    add(
        "span_first_topk",
        lambda spark, sf: _span_q(
            spark, sf, lambda: Qn.SpanFirst(Qn.Term("text", "spark"), limit=2)
        ),
        PRELUDE_DOCS
        + """
SELECT doc_id, round(score, 4) AS score FROM (
  SELECT s.doc_id, s.score FROM scored s
  WHERE s.term = 'spark' AND s.doc_id IN
    (SELECT doc_id FROM ftok WHERE term = 'spark' AND pos <= 2)
) ORDER BY round(score, 4) DESC, doc_id ASC LIMIT 10
""",
    )

    # ------------------- aux retrieval (SURVEY §2.9) ---------------------

    def _docs_ix(spark, sf):
        from whoosh_spark.entry_queries import _docs_searcher

        return _docs_searcher(spark, sf).index

    add(
        "spell_suggest",
        lambda spark, sf: suggest(_docs_ix(spark, sf), "text", "querry", limit=5),
        PRELUDE_DOCS
        + "SELECT term, levenshtein(term, 'querry') AS dist, sum(w) AS freq "
        "FROM post GROUP BY term "
        "HAVING levenshtein(term, 'querry') <= 2 AND term <> 'querry' "
        "ORDER BY dist ASC, freq DESC, term ASC LIMIT 5",
    )

    def _spell_words(spark, sf):
        # spelling=True parity (fields.py + whoosh/spelling.py): the
        # wordlist is built by the STEMTEXT field's chain with the stem
        # stage DISABLED — i.e. exactly the standard surface chain the
        # PRELUDE mirrors — so the corrector suggests surface words even
        # though the field's own lexicon stores stems
        from whoosh_spark.fields import STEMTEXT
        from whoosh_spark.search.aux import build_spell_words

        docs = _docs(spark, sf)
        words = build_spell_words(docs, STEMTEXT("text"))
        return suggest(_docs_ix(spark, sf), "text", "querry", limit=5,
                       words=words)

    add(
        "spell_suggest_words",
        _spell_words,
        PRELUDE_DOCS
        + "SELECT term, levenshtein(term, 'querry') AS dist, sum(w) AS freq "
        "FROM post GROUP BY term "
        "HAVING levenshtein(term, 'querry') <= 2 AND term <> 'querry' "
        "ORDER BY dist ASC, freq DESC, term ASC LIMIT 5",
    )

    _SET20 = "(SELECT doc_id FROM documents WHERE doc_id < 20)"
    add(
        "key_terms_bo1",
        lambda spark, sf: key_terms(
            _docs_ix(spark, sf),
            spark.range(20).select(F.col("id").alias("doc_id")),
            "text",
            numterms=5,
        ).select("term", F.round("score", 4).alias("score")),
        PRELUDE_DOCS
        + f"""
SELECT term, round(score, 4) AS score FROM (
  SELECT p.term,
         (wt * ln((1 + cf / n) / (cf / n)) + ln(1 + cf / n)) / ln(2) AS score
  FROM (SELECT term, sum(w) AS wt FROM post WHERE doc_id IN {_SET20} GROUP BY term) p
  JOIN (SELECT term, sum(w) AS cf FROM post GROUP BY term) c USING (term)
  CROSS JOIN (SELECT count(*)::DOUBLE AS n FROM documents)
) ORDER BY score DESC, term ASC LIMIT 5
""",
    )
    add(
        # key_terms_from_text (searching.py::Searcher.key_terms_from_text):
        # the probe text is analyzed with the field's own chain (the
        # stopword 'the'/'a' and the doubled 'spark' below prove stop
        # filtering + tf counting ride through), then Bo1-scored against
        # the collection exactly like key_terms. The oracle tokenizes the
        # SAME literal with the prelude's regex + stoplist, so analysis
        # and scoring are both pinned.
        "key_terms_from_text",
        lambda spark, sf: key_terms_from_text(
            _docs_ix(spark, sf),
            "text",
            "the spark vector scan performs a hash join over streaming spark data",
            numterms=5,
        ).select("term", F.round("score", 4).alias("score")),
        PRELUDE_DOCS
        + f"""
SELECT term, round(score, 4) AS score FROM (
  SELECT q.term,
         (wt * ln((1 + cf / n) / (cf / n)) + ln(1 + cf / n)) / ln(2) AS score
  FROM (
    SELECT term, count(*)::DOUBLE AS wt FROM (
      SELECT unnest(regexp_extract_all(lower(
        'the spark vector scan performs a hash join over streaming spark data'
      ), '{_PATTERN_SQL_Q}')) AS term
    ) WHERE length(term) >= 2 AND term NOT IN ({_STOPLIST_SQL_Q})
    GROUP BY term
  ) q
  JOIN (SELECT term, sum(w) AS cf FROM post GROUP BY term) c USING (term)
  CROSS JOIN (SELECT count(*)::DOUBLE AS n FROM documents)
) ORDER BY score DESC, term ASC LIMIT 5
""",
    )
    add(
        "key_terms_kl",
        lambda spark, sf: key_terms(
            _docs_ix(spark, sf),
            spark.range(20).select(F.col("id").alias("doc_id")),
            "text",
            numterms=5,
            model="kl",
        ).select("term", F.round("score", 4).alias("score")),
        PRELUDE_DOCS
        + f"""
SELECT term, round(score, 4) AS score FROM (
  SELECT p.term,
         CASE WHEN (wt / tt) > (cf / ct)
              THEN (wt / tt) * ln((wt / tt) / (cf / ct)) / ln(2) ELSE 0.0 END AS score
  FROM (SELECT term, sum(w) AS wt FROM post WHERE doc_id IN {_SET20} GROUP BY term) p
  JOIN (SELECT term, sum(w) AS cf FROM post GROUP BY term) c USING (term)
  CROSS JOIN (SELECT sum(w)::DOUBLE AS tt FROM post WHERE doc_id IN {_SET20})
  CROSS JOIN (SELECT sum(w)::DOUBLE AS ct FROM post)
) ORDER BY score DESC, term ASC LIMIT 5
""",
    )

    def _doc_keywords(spark, sf):
        # per-document tf-idf keyword tagging (aux.py::doc_key_terms):
        # the corpus-wide batch complement of key_terms — one stats join
        # + one doc-partitioned window, full corpus output (3 per doc)
        from whoosh_spark.search.aux import doc_key_terms

        return doc_key_terms(_docs_ix(spark, sf), "text", per_doc=3)

    add(
        "doc_keywords_top3",
        _doc_keywords,
        PRELUDE_DOCS
        + """
SELECT doc_id, term, score, rank::INT AS rank FROM (
  SELECT p.doc_id, p.term,
         round(p.w * (ln(g.n / (t.df + 1)) + 1), 4) AS score,
         row_number() OVER (
           PARTITION BY p.doc_id
           ORDER BY round(p.w * (ln(g.n / (t.df + 1)) + 1), 4) DESC, p.term
         ) AS rank
  FROM post p JOIN tstat t USING (term) CROSS JOIN gstat g
) WHERE rank <= 3
""",
    )

    def _mlt(spark, sf):
        from whoosh_spark.entry_queries import _docs_searcher, _rounded

        s = _docs_searcher(spark, sf)
        out = more_like_this(s, 0, "text", limit=3 * K, numterms=5)
        return (
            _rounded(out).orderBy(F.desc("score"), F.asc("doc_id")).limit(K)
        )

    add(
        "more_like_this",
        _mlt,
        PRELUDE_DOCS
        + """
, kt AS (
  SELECT p.term,
         (wt * ln((1 + cf / n) / (cf / n)) + ln(1 + cf / n)) / ln(2) AS kscore
  FROM (SELECT term, sum(w) AS wt FROM post WHERE doc_id = 0 GROUP BY term) p
  JOIN (SELECT term, sum(w) AS cf FROM post GROUP BY term) c USING (term)
  CROSS JOIN (SELECT count(*)::DOUBLE AS n FROM documents)
  ORDER BY kscore DESC, term ASC LIMIT 5
)
SELECT doc_id, round(score, 4) AS score FROM (
  SELECT doc_id, sum(score) AS score FROM scored
  WHERE term IN (SELECT term FROM kt) AND doc_id <> 0
  GROUP BY doc_id
) ORDER BY round(score, 4) DESC, doc_id ASC LIMIT 10
""",
    )

    def _highlight(spark, sf):
        from whoosh_spark.entry_queries import _docs_searcher

        s = _docs_searcher(spark, sf)
        top = s.search(__import__("whoosh_spark.query", fromlist=["Term"]).Term("text", "spark"), limit=5)
        with_text = s.with_stored_fields(top, "text")
        return highlight_df(with_text, ["spark"]).select("doc_id", "highlight")

    add("highlight_snippets", _highlight, None)  # fragmenter: rows-only

    def _highlight_whole(spark, sf):
        # Exact-oracle highlight via the derived-corpus trick: normalize the
        # text to single-space-separated alpha tokens, so WholeFragmenter +
        # UppercaseFormatter (reference: highlight.py::WholeFragmenter ~L210,
        # UppercaseFormatter ~L330) degenerates to a deterministic per-token
        # transform DuckDB can mirror (list_transform + CASE). This pins the
        # REAL highlight pipeline — _token_spans' DEFAULT_TOKEN_PATTERN
        # matching, lowercase compare, fragment render — end to end; only
        # the fragment-SELECTION math (context/sentence scoring) stays
        # rows-only in highlight_snippets.
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        norm = docs.select(
            "doc_id",
            F.trim(F.regexp_replace("text", "[^A-Za-z]+", " ")).alias("ntext"),
        )

        @F.pandas_udf("string")
        def hl(texts: pd.Series) -> pd.Series:
            return texts.map(
                lambda t: highlights(t or "", {"spark", "join"}, top=1,
                                     fmt="upper", fragmenter="whole")
            )

        return (norm.select("doc_id", hl(F.col("ntext")).alias("highlight"))
                .orderBy("doc_id"))

    add(
        "highlight_whole_upper",
        _highlight_whole,
        """
SELECT doc_id,
  array_to_string(
    list_transform(
      string_split(trim(regexp_replace(text, '[^A-Za-z]+', ' ', 'g')), ' '),
      t -> CASE WHEN lower(t) IN ('spark','join') THEN upper(t) ELSE t END),
    ' ') AS highlight
FROM documents ORDER BY doc_id
""",
    )

    # ----------------------- stemming (rows-only) ------------------------

    # Porter itself is not expressible in DuckDB, but a stemmed SEARCH is,
    # via the derived-corpus trick (same as variations_irregular_topk):
    # append invented inflections whose shared Porter stem is known and
    # collides with no natural token ('zorgling/zorgled/zorgles' -> all
    # 'zorgl'; checked by tests/test_stem_upsert_results.py). The stemmed
    # index merges the group into ONE posting, so the oracle computes the
    # merged-group BM25 (tf = sum of the forms' counts, df = docs with any
    # form) rather than summing per-form scores — tf saturation and idf
    # are nonlinear, so the distinction matters.
    _STEM_FORMS = ("zorgling", "zorgled", "zorgles")

    def _stem_suffix_sql(forms) -> str:
        return " || ".join(
            f"(CASE WHEN doc_id % {m} = 0 THEN ' {w}' ELSE '' END)"
            for m, w in zip((7, 11, 13), forms)
        )

    _STEM_SUFFIX = _stem_suffix_sql(_STEM_FORMS)

    def _derived_stem_topk(spark, sf, cache_key, field_spec, stem_fn,
                           forms=_STEM_FORMS):
        """Shared derived-corpus stemmed search: append invented inflected
        forms (whose shared stem collides with no natural token under the
        field's stemmer), index with the given stemmed field, search the
        stemmed query term — one helper so the stemmer entries (classic
        Porter / Snowball en / Snowball de) can never drift apart."""
        from whoosh_spark import query as Qn
        from whoosh_spark.entry_queries import _topk
        from whoosh_spark.fields import Schema
        from whoosh_spark.indexing import build_index
        from whoosh_spark.search import Searcher

        key = (cache_key, sf)
        if key not in _CACHE:
            d = _docs(spark, sf).withColumn(
                "text",
                F.concat(
                    F.col("text"),
                    *[
                        F.when(F.col("doc_id") % m == 0,
                               F.lit(" " + w)).otherwise(F.lit(""))
                        for m, w in zip((7, 11, 13), forms)
                    ],
                ),
            )
            ix = build_index(spark, d, Schema(field_spec)).persist()
            _CACHE[key] = Searcher(ix)
        s = _CACHE[key]
        return _topk(s.compile(Qn.Term("text", stem_fn(forms[0]))))

    def _stem_topk(spark, sf):
        from whoosh_spark.fields import STEMTEXT
        from whoosh_spark.lang import stem as _st

        return _derived_stem_topk(spark, sf, "stem_ix", STEMTEXT("text"), _st)

    from whoosh_spark.entry_queries import prelude_body as _prelude_body

    def _stem_oracle_sql(forms, pattern=None) -> str:
        """Merged-group BM25 oracle over the derived corpus: the stemmed
        index collapses the invented forms into ONE posting, so tf = sum
        of the forms' counts and df = docs with any form (nonlinear in
        both, hence the explicit merge rather than summed per-form
        scores). ``pattern`` overrides the prelude tokenizer regex for
        non-ASCII form groups (see prelude_body)."""
        forms_sql = ", ".join(f"'{w}'" for w in forms)
        pre = (_prelude_body("ds") if pattern is None
               else _prelude_body("ds", pattern))
        return (
            "WITH ds AS (SELECT doc_id, text || " + _stem_suffix_sql(forms)
            + " AS text FROM documents),\n"
            + pre
            + f""",
mpost AS (
  SELECT doc_id, sum(w) AS w FROM post WHERE term IN ({forms_sql}) GROUP BY doc_id
),
mstat AS (SELECT count(*)::DOUBLE AS df FROM mpost)
SELECT doc_id, round(score, 4) AS score FROM (
  SELECT p.doc_id,
         (ln(g.n / (s.df + 1)) + 1) * (p.w * 2.2)
           / (p.w + 1.2 * (0.25 + 0.75 * l.dl / g.avgdl)) AS score
  FROM mpost p CROSS JOIN mstat s JOIN dl l USING (doc_id) CROSS JOIN gstat g
)
ORDER BY score DESC, doc_id ASC LIMIT 10"""
        )

    # ONE oracle body shared by the porter/porter2 twin entries — the
    # zorgl* group merges identically under both stemmers
    _STEM_ORACLE_SQL = _stem_oracle_sql(_STEM_FORMS)

    add("stemmed_search_topk", _stem_topk, _STEM_ORACLE_SQL)

    def _snowball_topk(spark, sf):
        # Same derived-corpus trick for the SNOWBALL (Porter2) stemmer —
        # the one LanguageAnalyzer("en") selects (lang.py::stem2):
        # zorgling/zorgled/zorgles share the porter2 stem 'zorgl' too, so
        # the merged-group BM25 oracle is the SAME SQL. The index uses
        # stem="porter2" with the DEFAULT stoplist so the shared
        # tokenization prelude stays a faithful mirror (the full
        # LANGUAGE("en") preset also widens the stoplist — pinned in
        # tests/test_analysis.py instead).
        from whoosh_spark.analysis import AnalyzerSpec
        from whoosh_spark.fields import TEXT
        from whoosh_spark.lang import stem2 as _st2

        return _derived_stem_topk(
            spark, sf, "stem2_ix",
            TEXT("text", analyzer=AnalyzerSpec(stem="porter2")), _st2)

    add("snowball_search_topk", _snowball_topk, _STEM_ORACLE_SQL)

    _STEM_FORMS_DE = ("zorgelung", "zorgelungen", "zorgeles")

    def _german_topk(spark, sf):
        # Same derived-corpus trick for the Snowball GERMAN stemmer — the
        # one LanguageAnalyzer("de") selects (lang.py::stem_de, r4):
        # zorgelung (step-3 ung in R2) / zorgelungen (step-1 en then ung) /
        # zorgeles (step-1 es) all stem to 'zorgel', colliding with no
        # natural token of the English-ish corpus under German stemming.
        # The index uses stem="de" with the DEFAULT stoplist so the shared
        # tokenization prelude stays a faithful mirror (the full
        # LANGUAGE("de") preset, German stoplist included, is pinned in
        # tests/test_lang_de.py instead).
        from whoosh_spark.analysis import AnalyzerSpec
        from whoosh_spark.fields import TEXT
        from whoosh_spark.lang import stem_de as _stde

        return _derived_stem_topk(
            spark, sf, "stemde_ix",
            TEXT("text", analyzer=AnalyzerSpec(stem="de")), _stde,
            forms=_STEM_FORMS_DE)

    add("german_search_topk", _german_topk, _stem_oracle_sql(_STEM_FORMS_DE))

    # ASCII forms only: the DuckDB prelude tokenizes with RE2 whose \w is
    # ASCII, so an accented form (zorgelación) would split there while the
    # Python analyzer keeps it whole — the mirror demands ASCII.
    _STEM_FORMS_ES = ("zorgelando", "zorgelamos", "zorgela")

    def _spanish_topk(spark, sf):
        # Same derived-corpus trick for the Snowball SPANISH stemmer — the
        # one LanguageAnalyzer("es") selects (lang.py::stem_es, r4):
        # zorgelando (step-2b ando in RV) / zorgelamos (step-2b amos) /
        # zorgela (step-3 residual a) all stem to 'zorgel', colliding with
        # no natural token of the English-ish corpus under Spanish
        # stemming. The index uses stem="es" with the DEFAULT stoplist so
        # the shared tokenization prelude stays a faithful mirror (the
        # full LANGUAGE("es") preset, Spanish stoplist included, is pinned
        # in tests/test_lang_es.py instead).
        from whoosh_spark.analysis import AnalyzerSpec
        from whoosh_spark.fields import TEXT
        from whoosh_spark.lang import stem_es as _stes

        return _derived_stem_topk(
            spark, sf, "stemes_ix",
            TEXT("text", analyzer=AnalyzerSpec(stem="es")), _stes,
            forms=_STEM_FORMS_ES)

    add("spanish_search_topk", _spanish_topk, _stem_oracle_sql(_STEM_FORMS_ES))

    _STEM_FORMS_FR = ("zorgelation", "zorgeler", "zorgelant")

    def _french_topk(spark, sf):
        # Same derived-corpus trick for the Snowball FRENCH stemmer — the
        # one LanguageAnalyzer("fr") selects (lang.py::stem_fr, r4):
        # zorgelation (step-1 ation in R2) / zorgeler (step-2b er in RV) /
        # zorgelant (step-2b ant + e-check) all stem to 'zorgel',
        # colliding with no natural token of the English-ish corpus under
        # French stemming. The index uses stem="fr" with the DEFAULT
        # stoplist so the shared tokenization prelude stays a faithful
        # mirror (the full LANGUAGE("fr") preset, French stoplist
        # included, is pinned in tests/test_lang_fr.py instead).
        from whoosh_spark.analysis import AnalyzerSpec
        from whoosh_spark.fields import TEXT
        from whoosh_spark.lang import stem_fr as _stfr

        return _derived_stem_topk(
            spark, sf, "stemfr_ix",
            TEXT("text", analyzer=AnalyzerSpec(stem="fr")), _stfr,
            forms=_STEM_FORMS_FR)

    add("french_search_topk", _french_topk, _stem_oracle_sql(_STEM_FORMS_FR))

    _STEM_FORMS_IT = ("zorgelazione", "zorgelare", "zorgelando")

    def _italian_topk(spark, sf):
        # Same derived-corpus trick for the Snowball ITALIAN stemmer — the
        # one LanguageAnalyzer("it") selects (lang.py::stem_it, r4):
        # zorgelazione (step-1 azione in R2) / zorgelare (step-2 are in
        # RV) / zorgelando (step-2 ando) all stem to 'zorgel', colliding
        # with no natural token of the English-ish corpus under Italian
        # stemming. The index uses stem="it" with the DEFAULT stoplist so
        # the shared tokenization prelude stays a faithful mirror (the
        # full LANGUAGE("it") preset, Italian stoplist included, is pinned
        # in tests/test_lang_it.py instead).
        from whoosh_spark.analysis import AnalyzerSpec
        from whoosh_spark.fields import TEXT
        from whoosh_spark.lang import stem_it as _stit

        return _derived_stem_topk(
            spark, sf, "stemit_ix",
            TEXT("text", analyzer=AnalyzerSpec(stem="it")), _stit,
            forms=_STEM_FORMS_IT)

    add("italian_search_topk", _italian_topk, _stem_oracle_sql(_STEM_FORMS_IT))

    # NON-ASCII forms, deliberately: the Snowball Russian endings are
    # Cyrillic, so an ASCII form can never exercise the stemmer. The
    # ASCII constraint on the OTHER language oracles comes from RE2's
    # ASCII-only \w in the shared prelude — this entry's oracle swaps the
    # prelude tokenizer for [\w\p{Cyrillic}], verified to tokenize, lower,
    # and length-count identically to the Python analyzer on this corpus.
    _STEM_FORMS_RU = ("зоргелить", "зоргелов", "зоргелами")
    _RU_PATTERN_SQL = (
        r"[\w\p{Cyrillic}]+(?:\.?[\w\p{Cyrillic}]+)*"
    )

    def _russian_topk(spark, sf):
        # Same derived-corpus trick for the Snowball RUSSIAN stemmer — the
        # one LanguageAnalyzer("ru") selects (lang.py::stem_ru, r4):
        # зоргелить (step-1 verb ить, group 2) / зоргелов (step-1 noun ов) /
        # зоргелами (step-1 noun ами) all stem to 'зоргел', colliding with
        # no natural token of the English-ish corpus. The index uses
        # stem="ru" with the DEFAULT stoplist so the shared tokenization
        # prelude stays a faithful mirror (the full LANGUAGE("ru") preset,
        # Russian stoplist included, is pinned in tests/test_lang_ru.py
        # instead).
        from whoosh_spark.analysis import AnalyzerSpec
        from whoosh_spark.fields import TEXT
        from whoosh_spark.lang import stem_ru as _stru

        return _derived_stem_topk(
            spark, sf, "stemru_ix",
            TEXT("text", analyzer=AnalyzerSpec(stem="ru")), _stru,
            forms=_STEM_FORMS_RU)

    add("russian_search_topk", _russian_topk,
        _stem_oracle_sql(_STEM_FORMS_RU, pattern=_RU_PATTERN_SQL))

    _STEM_FORMS_PT = ("zorgelismo", "zorgelar", "zorgelando")

    def _portuguese_topk(spark, sf):
        # Same derived-corpus trick for the Snowball PORTUGUESE stemmer —
        # the one LanguageAnalyzer("pt") selects (lang.py::stem_pt, r4):
        # zorgelismo (step-1 ismo in R2) / zorgelar (step-2 ar in RV) /
        # zorgelando (step-2 ando) all stem to 'zorgel', colliding with no
        # natural token of the English-ish corpus under Portuguese
        # stemming. The index uses stem="pt" with the DEFAULT stoplist so
        # the shared tokenization prelude stays a faithful mirror (the
        # full LANGUAGE("pt") preset, Portuguese stoplist included, is
        # pinned in tests/test_lang_pt.py instead).
        from whoosh_spark.analysis import AnalyzerSpec
        from whoosh_spark.fields import TEXT
        from whoosh_spark.lang import stem_pt as _stpt

        return _derived_stem_topk(
            spark, sf, "stempt_ix",
            TEXT("text", analyzer=AnalyzerSpec(stem="pt")), _stpt,
            forms=_STEM_FORMS_PT)

    add("portuguese_search_topk", _portuguese_topk,
        _stem_oracle_sql(_STEM_FORMS_PT))

    _STEM_FORMS_SV = ("zorgelarna", "zorgelheten", "zorgelerna")

    def _swedish_topk(spark, sf):
        # Same derived-corpus trick for the Snowball SWEDISH stemmer — the
        # one LanguageAnalyzer("sv") selects (lang.py::stem_sv, r4):
        # zorgelarna (step-1 arna) / zorgelheten (step-1 heten) /
        # zorgelerna (step-1 erna) all stem to 'zorgel' inside the
        # min-3-adjusted R1 window, colliding with no natural token of the
        # English-ish corpus under Swedish stemming. Default stoplist so
        # the shared tokenization prelude stays a faithful mirror (the
        # full LANGUAGE("sv") preset is pinned in tests/
        # test_lang_nordic.py instead).
        from whoosh_spark.analysis import AnalyzerSpec
        from whoosh_spark.fields import TEXT
        from whoosh_spark.lang import stem_sv as _stsv

        return _derived_stem_topk(
            spark, sf, "stemsv_ix",
            TEXT("text", analyzer=AnalyzerSpec(stem="sv")), _stsv,
            forms=_STEM_FORMS_SV)

    add("swedish_search_topk", _swedish_topk,
        _stem_oracle_sql(_STEM_FORMS_SV))

    _STEM_FORMS_NO = ("zorgelene", "zorgelheten", "zorgelens")

    def _norwegian_topk(spark, sf):
        # Same derived-corpus trick for the Snowball NORWEGIAN stemmer —
        # the one LanguageAnalyzer("no") selects (lang.py::stem_no, r4):
        # zorgelene (step-1 ene) / zorgelheten (step-1 heten) / zorgelens
        # (step-1 ens) all stem to 'zorgel' inside the R1 window,
        # colliding with no natural token of the English-ish corpus under
        # Norwegian stemming. Default stoplist for the same mirror reason.
        from whoosh_spark.analysis import AnalyzerSpec
        from whoosh_spark.fields import TEXT
        from whoosh_spark.lang import stem_no as _stno

        return _derived_stem_topk(
            spark, sf, "stemno_ix",
            TEXT("text", analyzer=AnalyzerSpec(stem="no")), _stno,
            forms=_STEM_FORMS_NO)

    add("norwegian_search_topk", _norwegian_topk,
        _stem_oracle_sql(_STEM_FORMS_NO))

    _STEM_FORMS_DA = ("zorgelerne", "zorgelheden", "zorgelets")

    def _danish_topk(spark, sf):
        # Same derived-corpus trick for the Snowball DANISH stemmer — the
        # one LanguageAnalyzer("da") selects (lang.py::stem_da, r4):
        # zorgelerne (step-1 erne) / zorgelheden (step-1 heden) /
        # zorgelets (step-1 ets) all stem to 'zorgel' inside the
        # min-3-adjusted R1 window, colliding with no natural token of
        # the English-ish corpus under Danish stemming. Default stoplist
        # so the shared tokenization prelude stays a faithful mirror (the
        # full LANGUAGE("da") preset is pinned in tests/test_lang_da.py
        # instead).
        from whoosh_spark.analysis import AnalyzerSpec
        from whoosh_spark.fields import TEXT
        from whoosh_spark.lang import stem_da as _stda

        return _derived_stem_topk(
            spark, sf, "stemda_ix",
            TEXT("text", analyzer=AnalyzerSpec(stem="da")), _stda,
            forms=_STEM_FORMS_DA)

    add("danish_search_topk", _danish_topk,
        _stem_oracle_sql(_STEM_FORMS_DA))

    _STEM_FORMS_NL = ("zorgelen", "zorgelheden", "zorgels")

    def _dutch_topk(spark, sf):
        # Same derived-corpus trick for the Snowball DUTCH stemmer — the
        # one LanguageAnalyzer("nl") selects (lang.py::stem_nl, r4):
        # zorgelen (step-1 en after a valid en-ending) / zorgelheden
        # (step-1 heden->heid then step-3a heid-in-R2) / zorgels (step-1
        # s after a valid s-ending) all stem to 'zorgel' inside the
        # min-3-adjusted R1/R2 windows, colliding with no natural token
        # of the English-ish corpus under Dutch stemming. Default
        # stoplist so the shared tokenization prelude stays a faithful
        # mirror (the full LANGUAGE("nl") preset is pinned in
        # tests/test_lang_nl.py instead).
        from whoosh_spark.analysis import AnalyzerSpec
        from whoosh_spark.fields import TEXT
        from whoosh_spark.lang import stem_nl as _stnl

        return _derived_stem_topk(
            spark, sf, "stemnl_ix",
            TEXT("text", analyzer=AnalyzerSpec(stem="nl")), _stnl,
            forms=_STEM_FORMS_NL)

    add("dutch_search_topk", _dutch_topk,
        _stem_oracle_sql(_STEM_FORMS_NL))

    _STEM_FORMS_RO = ("zorgelul", "zorgelilor", "zorgelata")

    def _romanian_topk(spark, sf):
        # Same derived-corpus trick for the Snowball ROMANIAN stemmer —
        # the one LanguageAnalyzer("ro") selects (lang.py::stem_ro, r4):
        # zorgelul (step-0 ul) / zorgelilor (step-0 ilor->i then step-4
        # final-vowel) / zorgelata (step-2 ata in R2) all stem to
        # 'zorgel' and stay ASCII (DuckDB's RE2 \w is ASCII-only),
        # colliding with no natural token of the English-ish corpus
        # under Romanian stemming. Default stoplist so the shared
        # tokenization prelude stays a faithful mirror (the full
        # LANGUAGE("ro") preset is pinned in tests/test_lang_ro.py
        # instead).
        from whoosh_spark.analysis import AnalyzerSpec
        from whoosh_spark.fields import TEXT
        from whoosh_spark.lang import stem_ro as _stro

        return _derived_stem_topk(
            spark, sf, "stemro_ix",
            TEXT("text", analyzer=AnalyzerSpec(stem="ro")), _stro,
            forms=_STEM_FORMS_RO)

    add("romanian_search_topk", _romanian_topk,
        _stem_oracle_sql(_STEM_FORMS_RO))

    _STEM_FORMS_HU = ("zorgelban", "zorgelek", "zorgelunk")

    def _hungarian_topk(spark, sf):
        # Same derived-corpus trick for the Snowball HUNGARIAN stemmer —
        # the one LanguageAnalyzer("hu") selects (lang.py::stem_hu, r4):
        # zorgelban (step-2 inessive 'ban') / zorgelek (step-9 plural
        # 'ek') / zorgelunk (step-7 owner 'unk') all stem to 'zorgel'
        # inside the consonant-initial R1 window and stay ASCII (DuckDB's
        # RE2 \w is ASCII-only), colliding with no natural token of the
        # English-ish corpus under Hungarian stemming. Default stoplist
        # so the shared tokenization prelude stays a faithful mirror (the
        # full LANGUAGE("hu") preset is pinned in tests/test_lang_hu.py
        # instead).
        from whoosh_spark.analysis import AnalyzerSpec
        from whoosh_spark.fields import TEXT
        from whoosh_spark.lang import stem_hu as _sthu

        return _derived_stem_topk(
            spark, sf, "stemhu_ix",
            TEXT("text", analyzer=AnalyzerSpec(stem="hu")), _sthu,
            forms=_STEM_FORMS_HU)

    add("hungarian_search_topk", _hungarian_topk,
        _stem_oracle_sql(_STEM_FORMS_HU))

    _STEM_FORMS_FI = ("zorgelossa", "zorgeloissa", "zorgelot")

    def _finnish_topk(spark, sf):
        # Same derived-corpus trick for the Snowball FINNISH stemmer —
        # the one LanguageAnalyzer("fi") selects (lang.py::stem_fi, r4):
        # zorgelossa (case 'ssa') / zorgeloissa (case 'ssa' + i-plural) /
        # zorgelot (t-plural) all stem to 'zorgelo' and stay ASCII
        # (DuckDB's RE2 \w is ASCII-only), colliding with no natural
        # token of the English-ish corpus under Finnish stemming.
        # Default stoplist so the shared tokenization prelude stays a
        # faithful mirror (the full LANGUAGE("fi") preset is pinned in
        # tests/test_lang_fi.py instead). This completes the snowball
        # family: every language the reference bundles has an
        # exact-oracle entry.
        from whoosh_spark.analysis import AnalyzerSpec
        from whoosh_spark.fields import TEXT
        from whoosh_spark.lang import stem_fi as _stfi

        return _derived_stem_topk(
            spark, sf, "stemfi_ix",
            TEXT("text", analyzer=AnalyzerSpec(stem="fi")), _stfi,
            forms=_STEM_FORMS_FI)

    add("finnish_search_topk", _finnish_topk,
        _stem_oracle_sql(_STEM_FORMS_FI))

    # NON-ASCII forms, deliberately (same reasoning as the Russian entry):
    # ISRI operates on Arabic script, so an ASCII form can never exercise
    # it. The oracle swaps the prelude tokenizer for [\w\p{Arabic}] —
    # Arabic has no case, so lower() and length-counting mirror the
    # Python analyzer exactly.
    _STEM_FORMS_AR = ("الزرجل", "زرجلون", "والزرجل")
    _AR_PATTERN_SQL = r"[\w\p{Arabic}]+(?:\.?[\w\p{Arabic}]+)*"

    def _arabic_topk(spark, sf):
        # Same derived-corpus trick for the ISRI ARABIC stemmer — the one
        # non-snowball stemmer the reference bundles, selected by
        # LanguageAnalyzer("ar") (lang.py::stem_ar, r4): الزرجل (al-
        # prefix) / زرجلون (-un suffix) / والزرجل (wal- 3-prefix) all
        # extract the invented 4-letter root زرجل, colliding with no
        # natural token of the English-ish corpus. Default stoplist so
        # the shared tokenization prelude stays a faithful mirror (the
        # full LANGUAGE("ar") preset is pinned in tests/test_lang_ar.py
        # instead).
        from whoosh_spark.analysis import AnalyzerSpec
        from whoosh_spark.fields import TEXT
        from whoosh_spark.lang import stem_ar as _star

        return _derived_stem_topk(
            spark, sf, "stemar_ix",
            TEXT("text", analyzer=AnalyzerSpec(stem="ar")), _star,
            forms=_STEM_FORMS_AR)

    add("arabic_search_topk", _arabic_topk,
        _stem_oracle_sql(_STEM_FORMS_AR, pattern=_AR_PATTERN_SQL))

    # ---------------- phonetic (Double Metaphone) search -----------------

    _DMETA_FORMS = ("knorzel", "gnorzel", "norzel")

    def _dmeta_topk(spark, sf):
        # Derived-corpus exact oracle for the DoubleMetaphoneFilter
        # (reference: analysis/morph.py::DoubleMetaphoneFilter over
        # lang/dmetaphone.py): inject invented sound-alikes that conflate
        # under the silent-KN/GN rules — knorzel (primary NRSL, secondary
        # NRTS via the Slavo-Germanic Z rule), gnorzel and norzel (NRSL
        # only) — whose codes collide with no natural corpus token
        # (tests/test_stem_upsert_results.py::
        # test_dmetaphone_oracle_group_is_pure). The query Or(NRSL, NRTS)
        # pins BOTH the primary and the secondary code emission end to end
        # through analysis, postings and scoring. TF_IDF weighting keeps
        # the oracle expressible: dual-code emission changes analyzed doc
        # LENGTHS in a way SQL can't mirror (1-2 codes per source token),
        # but tf and df of the injected codes are exact integers the
        # oracle derives from the tokenized derived corpus alone.
        from whoosh_spark import query as Qn
        from whoosh_spark.analysis import AnalyzerSpec
        from whoosh_spark.entry_queries import _topk
        from whoosh_spark.fields import TEXT, Schema
        from whoosh_spark.indexing import build_index
        from whoosh_spark.search import Searcher
        from whoosh_spark.search.scoring import TF_IDF

        key = ("dmeta_ix", sf)
        if key not in _CACHE:
            d = _docs(spark, sf).withColumn(
                "text",
                F.concat(
                    F.col("text"),
                    *[
                        F.when(F.col("doc_id") % m == 0,
                               F.lit(" " + w)).otherwise(F.lit(""))
                        for m, w in zip((7, 11, 13), _DMETA_FORMS)
                    ],
                ),
            )
            spec = TEXT("text", analyzer=AnalyzerSpec(dmetaphone=True))
            ix = build_index(spark, d, Schema(spec)).persist()
            _CACHE[key] = Searcher(ix, TF_IDF())
        s = _CACHE[key]
        return _topk(s.compile(Qn.Or([Qn.Term("text", "NRSL"),
                                      Qn.Term("text", "NRTS")])))

    _DMETA_ORACLE_SQL = (
        "WITH ds AS (SELECT doc_id, text || " + _stem_suffix_sql(_DMETA_FORMS)
        + " AS text FROM documents),\n"
        + _prelude_body("ds")
        + """,
mp AS (
  SELECT doc_id,
         sum(w) AS w1,
         sum(CASE WHEN term = 'knorzel' THEN w ELSE 0 END) AS w2
  FROM post WHERE term IN ('knorzel','gnorzel','norzel') GROUP BY doc_id
),
st AS (
  SELECT (SELECT count(*) FROM mp)::DOUBLE AS df1,
         (SELECT count(*) FROM mp WHERE w2 > 0)::DOUBLE AS df2
)
SELECT doc_id, round(score, 4) AS score FROM (
  SELECT mp.doc_id,
         mp.w1 * (ln(g.n / (st.df1 + 1)) + 1)
           + mp.w2 * (ln(g.n / (st.df2 + 1)) + 1) AS score
  FROM mp CROSS JOIN st CROSS JOIN gstat g
)
ORDER BY score DESC, doc_id ASC LIMIT 10"""
    )

    add("dmetaphone_search_topk", _dmeta_topk, _DMETA_ORACLE_SQL)

    # ------------------- IntraWordFilter (FANCY) search --------------------

    _IW_FORMS = (
        # injected camelCase form -> its pre-split lowercase equivalent
        (" zorgelCaseFoo7bar", " zorgel case foo 7 bar"),
        (" zorgelXMLParser", " zorgel xml parser"),   # acronym rule
        (" zorgel42beta", " zorgel 42 beta"),         # digit-run rule
    )

    def _intraword_topk(spark, sf):
        # IntraWordFilter via the FANCY preset (reference: analysis/
        # intraword.py::IntraWordFilter + analyzers.py::FancyAnalyzer):
        # camelCase / ACRONYMCase / digit-run splitting. The derived-corpus
        # mirror: inject camelCase forms on the Spark side and their
        # PRE-SPLIT lowercase equivalents in the SQL — the token streams
        # are identical because (a) the split fragments match by
        # construction and (b) the natural vocabulary is pure lowercase
        # alpha, on which IntraWord is the identity (purity test:
        # tests/test_stem_upsert_results.py::test_intraword_oracle_corpus_is_pure).
        # Pins all three published split rules including the acronym
        # lookahead ([A-Z]+ not followed by [a-z]).
        from whoosh_spark import query as Qn
        from whoosh_spark.analysis import FANCY
        from whoosh_spark.entry_queries import _topk
        from whoosh_spark.fields import TEXT, Schema
        from whoosh_spark.indexing import build_index
        from whoosh_spark.search import Searcher

        key = ("intraword_ix", sf)
        if key not in _CACHE:
            d = _docs(spark, sf).withColumn(
                "text",
                F.concat(
                    F.col("text"),
                    *[
                        F.when(F.col("doc_id") % m == 0,
                               F.lit(camel)).otherwise(F.lit(""))
                        for m, (camel, _) in zip((7, 11, 13), _IW_FORMS)
                    ],
                ),
            )
            ix = build_index(spark, d, Schema(TEXT("text", analyzer=FANCY))).persist()
            _CACHE[key] = Searcher(ix)
        return _topk(_CACHE[key].compile(Qn.Term("text", "zorgel")))

    _IW_SUFFIX = " || ".join(
        f"(CASE WHEN doc_id % {m} = 0 THEN '{split}' ELSE '' END)"
        for m, (_, split) in zip((7, 11, 13), _IW_FORMS)
    )

    add(
        "intraword_search_topk",
        _intraword_topk,
        "WITH ds AS (SELECT doc_id, text || " + _IW_SUFFIX
        + " AS text FROM documents),\n"
        + prelude_body("ds")
        + """
SELECT doc_id, round(score, 4) AS score FROM (
  SELECT doc_id, score FROM scored WHERE term = 'zorgel'
)
ORDER BY score DESC, doc_id ASC LIMIT 10""",
    )

    # ------------------- ReverseTextFilter search -------------------------

    def _reverse_topk(spark, sf):
        # ReverseTextFilter (reference: analysis/filters.py::
        # ReverseTextFilter — the leading-wildcard acceleration trick):
        # index with AnalyzerSpec(reverse=True) and query the reversed
        # term. The chain order matters and the oracle mirrors it
        # exactly: reverse runs BEFORE stop/minsize (analysis.py stage
        # order), so REVERSED stopwords survive the stop filter and doc
        # lengths include them — the oracle reverses every token, then
        # reruns the standard prelude (whose stop filter now sees the
        # reversed forms, just like the engine's).
        from whoosh_spark import query as Qn
        from whoosh_spark.analysis import AnalyzerSpec
        from whoosh_spark.entry_queries import _topk
        from whoosh_spark.fields import TEXT, Schema
        from whoosh_spark.indexing import build_index
        from whoosh_spark.search import Searcher

        key = ("reverse_ix", sf)
        if key not in _CACHE:
            spec = TEXT("text", analyzer=AnalyzerSpec(reverse=True))
            ix = build_index(spark, _docs(spark, sf), Schema(spec)).persist()
            _CACHE[key] = Searcher(ix)
        return _topk(_CACHE[key].compile(Qn.Term("text", "kraps")))

    from whoosh_spark.entry_queries import _PATTERN_SQL as _PAT0

    add(
        "reverse_search_topk",
        _reverse_topk,
        f"""
WITH ds AS (
  SELECT doc_id,
         array_to_string(
           list_transform(regexp_extract_all(lower(text), '{_PAT0}'),
                          t -> reverse(t)), ' ') AS text
  FROM documents
),
{prelude_body("ds")}
SELECT doc_id, round(score, 4) AS score FROM (
  SELECT doc_id, score FROM scored WHERE term = 'kraps'
)
ORDER BY score DESC, doc_id ASC LIMIT 10""",
    )

    # ------------------- CommaSeparatedTokenizer --------------------------

    def _commasep_lexicon(spark, sf):
        # CommaSeparatedTokenizer (reference: analysis/tokenizers.py::
        # CommaSeparatedTokenizer — pattern [^,]+ with StripFilter, NO
        # lowercase): index a derived "tags" field built as
        # 'UPPER(lang) , source' so the oracle pins all three properties —
        # comma-only splitting, per-token strip, case preservation.
        from whoosh_spark.analysis import COMMA_SEP
        from whoosh_spark.fields import TEXT, Schema
        from whoosh_spark.indexing import build_index

        key = ("commasep_ix", sf)
        if key not in _CACHE:
            d = _docs(spark, sf).select(
                "doc_id",
                F.concat(F.upper("lang"), F.lit(" , "), F.col("source"))
                .alias("tags"),
            )
            _CACHE[key] = build_index(
                spark, d, Schema(TEXT("tags", analyzer=COMMA_SEP))).persist()
        return (_CACHE[key].terms.where(F.col("field") == "tags")
                .select("term", "df", "total_weight"))

    add(
        "commasep_lexicon",
        _commasep_lexicon,
        """
SELECT term, count(*)::BIGINT AS df, sum(w)::DOUBLE AS total_weight FROM (
  SELECT doc_id, term, count(*)::DOUBLE AS w FROM (
    SELECT doc_id,
           trim(unnest(regexp_extract_all(upper(lang) || ' , ' || source,
                                          '[^,]+'))) AS term
    FROM documents
  ) GROUP BY doc_id, term
) GROUP BY term""",
    )

    # ------------------- BiWord (shingle) search --------------------------

    def _biword_topk(spark, sf):
        # BiWordFilter end-to-end (reference: analysis/intraword.py::
        # BiWordFilter — adjacent-pair tokens make phrase-ish search a
        # single term lookup): index documents with the BIWORD preset
        # (stoplist=None, minsize=1, shingle_size=2, '-' join) and search
        # the bigram term. The oracle mirrors the whole chain in SQL —
        # tokenize, self-join on pos+1 for the pairs, byte-quantized dl
        # over the SHINGLE count (one fewer than the token count per doc:
        # shingling changes doc lengths, which BM25 feels), then the
        # standard BM25 prelude shapes.
        from whoosh_spark import query as Qn
        from whoosh_spark.analysis import BIWORD
        from whoosh_spark.entry_queries import _topk
        from whoosh_spark.fields import TEXT, Schema
        from whoosh_spark.indexing import build_index
        from whoosh_spark.search import Searcher

        key = ("biword_ix", sf)
        if key not in _CACHE:
            spec = TEXT("text", analyzer=BIWORD())
            ix = build_index(spark, _docs(spark, sf), Schema(spec)).persist()
            _CACHE[key] = Searcher(ix)
        return _topk(_CACHE[key].compile(Qn.Term("text", "hash-join")))

    from whoosh_spark.entry_queries import _PATTERN_SQL as _PAT
    from whoosh_spark.entry_queries import DL_CASE_SQL as _DL_SQL
    from whoosh_spark.entry_queries import SCORED_SQL as _SCORED_SQL

    _BIWORD_ORACLE_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '{_PAT}')) AS term,
         generate_subscripts(regexp_extract_all(lower(text), '{_PAT}'), 1) AS ord
  FROM documents
),
ft AS (
  SELECT doc_id, term,
         row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1 AS pos
  FROM tok
),
big AS (
  SELECT a.doc_id, a.term || '-' || b.term AS term
  FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
rawlen AS (
  SELECT d.doc_id, coalesce(c.n, 0)::BIGINT AS raw_len
  FROM documents d
  LEFT JOIN (SELECT doc_id, count(*) AS n FROM big GROUP BY doc_id) c USING (doc_id)
),
{_DL_SQL},
post AS (
  SELECT doc_id, term, count(*)::DOUBLE AS w FROM big GROUP BY doc_id, term
),
tstat AS (SELECT term, count(*)::DOUBLE AS df FROM post GROUP BY term),
gstat AS (
  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
         (SELECT sum(raw_len)::DOUBLE FROM rawlen) / (SELECT count(*) FROM documents) AS avgdl
),
{_SCORED_SQL}
SELECT doc_id, round(score, 4) AS score FROM (
  SELECT doc_id, score FROM scored WHERE term = 'hash-join'
)
ORDER BY score DESC, doc_id ASC LIMIT 10"""

    add("biword_search_topk", _biword_topk, _BIWORD_ORACLE_SQL)

    # ------------------- delete_by_term maintenance -----------------------

    def _delete_topk(spark, sf):
        # delete_by_term on a PHYSICAL index, then search (reference:
        # writing.py::IndexWriter.delete_by_term + reading.py::
        # SegmentReader.is_deleted): hits on deleted docs are masked but
        # doc_count_all / field stats still count them until a merge
        # expunges (segments.py::SegmentedIndex._mask_deleted), so the
        # oracle scores over the FULL corpus stats and only excludes the
        # deleted docs from the result set. A dedicated index path — the
        # shared turns index must never see a delete set.
        from whoosh_spark import query as Qn
        from whoosh_spark.entry_queries import _topk
        from whoosh_spark.fields import documents_schema
        from whoosh_spark.indexing.segments import delete_by_term
        from whoosh_spark.search import Searcher

        key = ("del_six", sf)
        if key not in _CACHE:
            docs = _docs(spark, sf)
            path = f"/tmp/whoosh_spark_entry/del_{abs(hash(sf))}"
            shutil.rmtree(path, ignore_errors=True)
            os.makedirs(path, exist_ok=True)
            build_segments(spark, docs, documents_schema(), path, n_segments=2)
            ix = open_segments(spark, path, docs, documents_schema())
            delete_by_term(spark, ix, "text", "vector")
            # re-open: the delete set is read at open time
            _CACHE[key] = Searcher(
                open_segments(spark, path, docs, documents_schema()))
        return _topk(_CACHE[key].compile(Qn.Term("text", "spark")))

    add(
        "delete_search_topk",
        _delete_topk,
        PRELUDE_DOCS
        + """
SELECT doc_id, round(score, 4) AS score FROM (
  SELECT doc_id, score FROM scored WHERE term = 'spark'
  AND doc_id NOT IN (SELECT doc_id FROM post WHERE term = 'vector')
)
ORDER BY score DESC, doc_id ASC LIMIT 10""",
    )

    # --------------- merge with physical expunge (optimize) ---------------

    def _merged_lexicon(spark, sf):
        # delete_by_term then merge ALL segments (reference: writing.py
        # MERGE policies / Index.optimize + SegmentWriter.add_reader
        # skipping deleted docs): the merge physically expunges the
        # deleted docs' postings and _finalize recomputes the global term
        # stats from the rewritten blocks, so the post-merge lexicon must
        # equal a fresh lexicon over the corpus WITHOUT the deleted docs —
        # which is exactly what the oracle computes.
        from whoosh_spark.fields import documents_schema
        from whoosh_spark.indexing.segments import delete_by_term, merge_segments

        key = ("merged_lex", sf)
        if key not in _CACHE:
            docs = _docs(spark, sf)
            path = f"/tmp/whoosh_spark_entry/merge_{abs(hash(sf))}"
            shutil.rmtree(path, ignore_errors=True)
            os.makedirs(path, exist_ok=True)
            build_segments(spark, docs, documents_schema(), path, n_segments=3)
            ix = open_segments(spark, path, docs, documents_schema())
            delete_by_term(spark, ix, "text", "vector")
            merge_segments(spark, path)
            _CACHE[key] = open_segments(spark, path, docs, documents_schema())
        return (_CACHE[key].terms.where(F.col("field") == "text")
                .select("term", "df", "total_weight"))

    add(
        "merged_lexicon_stats",
        _merged_lexicon,
        f"""
WITH del AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, unnest(regexp_extract_all(lower(text), '{_PAT}')) AS term
    FROM documents
  ) WHERE term = 'vector'
),
live AS (SELECT * FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM del)),
{prelude_body("live")}
SELECT term, count(*)::BIGINT AS df, sum(w)::DOUBLE AS total_weight
FROM post GROUP BY term""",
    )

    # ------------------- update_document (upsert) -------------------------

    def _upsert_lexicon(spark, sf):
        # update_document end-to-end (reference: writing.py::IndexWriter
        # .update_document ~L520 — delete every doc matching the batch's
        # unique-field values, then add the batch): seed the index with
        # the corpus keyed by a unique ID field, upsert a replacement
        # batch (every 17th doc, text amended), merge to expunge the
        # replaced postings. The post-merge lexicon must equal a fresh
        # lexicon over the LOGICAL final corpus: untouched docs plus the
        # replacements.
        from whoosh_spark.fields import ID, TEXT, Schema
        from whoosh_spark.indexing.segments import merge_segments
        from whoosh_spark.streaming.incremental import (
            IncrementalIndexer,
            upsert_batch,
        )

        key = ("upsert_lex", sf)
        if key not in _CACHE:
            schema = Schema(TEXT("text"), ID("ukey", unique=True))
            docs = _docs(spark, sf)
            path = f"/tmp/whoosh_spark_entry/upsert_{abs(hash(sf))}"
            shutil.rmtree(path, ignore_errors=True)
            ixer = IncrementalIndexer(spark, path, schema)
            ixer.append_batch(
                docs.select(F.col("doc_id").cast("string").alias("ukey"),
                            "text"),
                0,
            )
            upd = (docs.where(F.col("doc_id") % 17 == 0)
                   .select(F.col("doc_id").cast("string").alias("ukey"),
                           F.concat(F.col("text"),
                                    F.lit(" zorgupd")).alias("text")))
            upsert_batch(ixer, upd, 1, ["ukey"])
            merge_segments(spark, path)
            _CACHE[key] = open_segments(spark, path, ixer.stored_docs(),
                                        schema)
        return (_CACHE[key].terms.where(F.col("field") == "text")
                .select("term", "df", "total_weight"))

    add(
        "upsert_lexicon_stats",
        _upsert_lexicon,
        f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 17 <> 0
  UNION ALL
  SELECT doc_id + 100000000, text || ' zorgupd' FROM documents
  WHERE doc_id % 17 = 0
),
{prelude_body("corpus")}
SELECT term, count(*)::BIGINT AS df, sum(w)::DOUBLE AS total_weight
FROM post GROUP BY term""",
    )

    # ------------------- compat facade workflow ---------------------------

    def _compat_topk(spark, sf):
        # The reference's primary user surface, end-to-end: create_in ->
        # writer().add_dataframe(corpus) -> commit -> searcher().search
        # (string query through the default QueryParser) -> driver-side
        # Hits with stored fields (reference: index.create_in /
        # IndexWriter / Searcher.search). The facade assigns its own doc
        # ids, so the original id rides a stored ID field; the oracle
        # discipline matches _topk: fetch deep by exact score, round,
        # re-rank by (score desc, original id asc), cut to 10.
        import tempfile

        from whoosh_spark import compat
        from whoosh_spark.fields import ID, TEXT, Schema

        key = ("compat_hits", sf)
        if key not in _CACHE:
            base = tempfile.mkdtemp(prefix="ws_compat_gate_")
            schema = Schema(TEXT("text"), ID("ukey"))
            cix = compat.create_in(base, schema, spark=spark)
            w = cix.writer()
            w.add_dataframe(
                _docs(spark, sf).select(
                    F.col("doc_id").cast("string").alias("ukey"), "text"))
            w.commit()
            _CACHE[key] = cix.searcher()
        hits = _CACHE[key].search("spark", limit=5 * K)
        rows = sorted(((int(h["ukey"]), round(h.score, 4)) for h in hits),
                      key=lambda t: (-t[1], t[0]))[:K]
        return spark.createDataFrame(rows, "doc_id long, score double")

    add(
        "compat_search_topk",
        _compat_topk,
        PRELUDE_DOCS
        + """
SELECT doc_id, round(score, 4) AS score FROM (
  SELECT doc_id, score FROM scored WHERE term = 'spark'
)
ORDER BY score DESC, doc_id ASC LIMIT 10""",
    )

    # ---------- remaining analysis stages: one exact oracle each ----------
    # Together with stem/snowball/dmetaphone/biword/intraword/reverse/
    # commasep above, every §2.2 stage now has a DuckDB-checked entry.

    def _analysis_ix_topk(spark, sf, cache_key, spec_fn, text_col_fn, qterm):
        """Shared derived-corpus analysis entry: build an index over
        documents with a transformed text column + a custom analyzer,
        search one term."""
        from whoosh_spark import query as Qn
        from whoosh_spark.entry_queries import _topk
        from whoosh_spark.fields import Schema
        from whoosh_spark.indexing import build_index
        from whoosh_spark.search import Searcher

        key = (cache_key, sf)
        if key not in _CACHE:
            d = _docs(spark, sf).select("doc_id", text_col_fn().alias("text"))
            ix = build_index(spark, d, Schema(spec_fn())).persist()
            _CACHE[key] = Searcher(ix)
        return _topk(_CACHE[key].compile(Qn.Term("text", qterm)))

    def _inject(*forms):
        """text + per-multiple injected suffixes (the stem-oracle pattern)."""
        return F.concat(
            F.col("text"),
            *[F.when(F.col("doc_id") % m == 0, F.lit(" " + w)).otherwise(F.lit(""))
              for m, w in zip((7, 11, 13), forms)],
        )

    def _inject_sql(*forms):
        return " || ".join(
            f"(CASE WHEN doc_id % {m} = 0 THEN ' {w}' ELSE '' END)"
            for m, w in zip((7, 11, 13), forms)
        )

    # CompoundWordFilter (reference: intraword.py::CompoundWordFilter
    # ~L260, keep_compound=True): 'zorgelhash' decomposes over the wordset
    # into original + subwords; the mirror injects the decomposed stream.
    # Natural tokens are non-decomposable over this wordset ('hash' itself
    # is a single dictionary word -> unchanged).
    def _compound_spec():
        from whoosh_spark.analysis import AnalyzerSpec
        from whoosh_spark.fields import TEXT

        return TEXT("text", analyzer=AnalyzerSpec(
            compound_words=frozenset({"zorgel", "hash"}), keep_compound=True))

    add(
        "compound_search_topk",
        lambda spark, sf: _analysis_ix_topk(
            spark, sf, "compound_ix", _compound_spec,
            lambda: _inject("zorgelhash"), "zorgel"),
        "WITH ds AS (SELECT doc_id, text || "
        + _inject_sql("zorgelhash zorgel hash")
        + " AS text FROM documents),\n" + prelude_body("ds")
        + """
SELECT doc_id, round(score, 4) AS score FROM (
  SELECT doc_id, score FROM scored WHERE term = 'zorgel'
)
ORDER BY score DESC, doc_id ASC LIMIT 10""",
    )

    # SubstitutionFilter (reference: filters.py::SubstitutionFilter ~L240):
    # qu->kw over every token ('query' -> 'kwery'); the mirror applies the
    # same replace to the raw text (in-token replacement, boundaries are
    # unaffected since k/w are word chars).
    def _subst_spec():
        from whoosh_spark.analysis import AnalyzerSpec
        from whoosh_spark.fields import TEXT

        return TEXT("text", analyzer=AnalyzerSpec(substitutions=(("qu", "kw"),)))

    add(
        "substitution_search_topk",
        lambda spark, sf: _analysis_ix_topk(
            spark, sf, "subst_ix", _subst_spec, lambda: F.col("text"), "kwery"),
        "WITH ds AS (SELECT doc_id, regexp_replace(text, 'qu', 'kw', 'g')"
        " AS text FROM documents),\n" + prelude_body("ds")
        + """
SELECT doc_id, round(score, 4) AS score FROM (
  SELECT doc_id, score FROM scored WHERE term = 'kwery'
)
ORDER BY score DESC, doc_id ASC LIMIT 10""",
    )

    # CharsetFilter accent folding (reference: filters.py::CharsetFilter
    # with the accent map): injected accented forms fold to ASCII; the
    # natural corpus is ASCII so folding is the identity there. The mirror
    # injects the folded forms (the DuckDB RE2 \\w is ASCII-only, so the
    # accented original could not even tokenize identically there).
    def _fold_spec():
        from whoosh_spark.analysis import AnalyzerSpec
        from whoosh_spark.fields import TEXT

        return TEXT("text", analyzer=AnalyzerSpec(accent_fold=True))

    add(
        "accentfold_search_topk",
        lambda spark, sf: _analysis_ix_topk(
            spark, sf, "fold_ix", _fold_spec,
            lambda: _inject("zörgél", "zorgèl"), "zorgel"),
        "WITH ds AS (SELECT doc_id, text || "
        + _inject_sql("zorgel", "zorgel")
        + " AS text FROM documents),\n" + prelude_body("ds")
        + """
SELECT doc_id, round(score, 4) AS score FROM (
  SELECT doc_id, score FROM scored WHERE term = 'zorgel'
)
ORDER BY score DESC, doc_id ASC LIMIT 10""",
    )

    # CharsetTokenizer (reference: tokenizers.py::CharsetTokenizer ~L200):
    # the char map applies to the RAW text BEFORE tokenizing, so it can
    # split token boundaries — '-' maps to ' ' and 'zorgel-case' becomes
    # two tokens. The mirror injects the pre-split form.
    def _ctok_spec():
        from whoosh_spark.analysis import AnalyzerSpec
        from whoosh_spark.fields import TEXT

        return TEXT("text", analyzer=AnalyzerSpec(
            charmap=(("-", " "),), charmap_tokenize=True))

    add(
        "charset_tokenize_topk",
        lambda spark, sf: _analysis_ix_topk(
            spark, sf, "ctok_ix", _ctok_spec,
            lambda: _inject("zorgel-case"), "zorgel"),
        "WITH ds AS (SELECT doc_id, text || "
        + _inject_sql("zorgel case")
        + " AS text FROM documents),\n" + prelude_body("ds")
        + """
SELECT doc_id, round(score, 4) AS score FROM (
  SELECT doc_id, score FROM scored WHERE term = 'zorgel'
)
ORDER BY score DESC, doc_id ASC LIMIT 10""",
    )

    # DelimitedAttributeFilter (reference: filters.py::
    # DelimitedAttributeFilter ~L280): 'zorgel^3' parses to token 'zorgel'
    # with boost 3, boosts SUM into the posting weight (doc 0 carries both
    # arms -> w=4) while field length counts TOKENS (boost-independent).
    # Needs the space-separated tokenizer so '^' survives; the mirror
    # rebuilds the prelude with that tokenizer, no stop/minsize, and
    # overrides the injected term's weight with the boost arithmetic.
    def _boost_spec():
        from whoosh_spark.analysis import AnalyzerSpec
        from whoosh_spark.fields import TEXT

        return TEXT("text", analyzer=AnalyzerSpec(
            pattern=r"[^ \t\r\n]+", stoplist=None, minsize=1,
            delimited_boost="^"))

    add(
        "delimited_boost_topk",
        lambda spark, sf: _analysis_ix_topk(
            spark, sf, "dboost_ix", _boost_spec,
            lambda: F.concat(
                F.col("text"),
                F.when(F.col("doc_id") % 7 == 0, F.lit(" zorgel^3"))
                .otherwise(F.lit("")),
                F.when(F.col("doc_id") % 11 == 0, F.lit(" zorgel"))
                .otherwise(F.lit("")),
            ), "zorgel"),
        f"""
WITH ds AS (
  SELECT doc_id, text
    || (CASE WHEN doc_id % 7 = 0 THEN ' zorgel' ELSE '' END)
    || (CASE WHEN doc_id % 11 = 0 THEN ' zorgel' ELSE '' END) AS text
  FROM documents
),
tok AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[^ \\t\\n\\r]+')) AS term
  FROM ds
),
rawlen AS (
  SELECT d.doc_id, coalesce(c.n, 0)::BIGINT AS raw_len
  FROM ds d
  LEFT JOIN (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id) c USING (doc_id)
),
{_DL_SQL},
post0 AS (SELECT doc_id, term, count(*)::DOUBLE AS w FROM tok GROUP BY doc_id, term),
post AS (
  SELECT doc_id, term,
         CASE WHEN term = 'zorgel'
              THEN 3.0 * (CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END)
                   + (CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END)
              ELSE w END AS w
  FROM post0
),
tstat AS (SELECT term, count(*)::DOUBLE AS df FROM post GROUP BY term),
gstat AS (
  SELECT (SELECT count(*) FROM ds)::DOUBLE AS n,
         (SELECT sum(raw_len)::DOUBLE FROM rawlen) / (SELECT count(*) FROM ds) AS avgdl
),
{_SCORED_SQL}
SELECT doc_id, round(score, 4) AS score FROM (
  SELECT doc_id, score FROM scored WHERE term = 'zorgel'
)
ORDER BY score DESC, doc_id ASC LIMIT 10""",
    )

    # PathTokenizer (reference: tokenizers.py::PathTokenizer ~L240):
    # progressive '/'-prefixes of a derived 3-level path; lexicon oracle
    # enumerates the three prefix depths.
    def _path_lexicon(spark, sf):
        from whoosh_spark.analysis import PATH
        from whoosh_spark.fields import TEXT, Schema
        from whoosh_spark.indexing import build_index

        key = ("path_ix", sf)
        if key not in _CACHE:
            d = _docs(spark, sf).select(
                "doc_id",
                F.concat(F.lit("/"), F.col("lang"), F.lit("/"),
                         F.col("source"), F.lit("/"),
                         (F.col("doc_id") % 5).cast("string")).alias("p"),
            )
            _CACHE[key] = build_index(
                spark, d, Schema(TEXT("p", analyzer=PATH))).persist()
        return (_CACHE[key].terms.where(F.col("field") == "p")
                .select("term", "df", "total_weight"))

    add(
        "path_lexicon",
        _path_lexicon,
        """
SELECT term, count(*)::BIGINT AS df, sum(w)::DOUBLE AS total_weight FROM (
  SELECT doc_id, term, count(*)::DOUBLE AS w FROM (
    SELECT doc_id, lang AS term FROM documents
    UNION ALL
    SELECT doc_id, lang || '/' || source FROM documents
    UNION ALL
    SELECT doc_id, lang || '/' || source || '/' || (doc_id % 5)::VARCHAR
    FROM documents
  ) GROUP BY doc_id, term
) GROUP BY term""",
    )

    # ------------------------------ multimodal ---------------------------

    # ------------------- Structured Streaming build ----------------------
    # streamed micro-batch build == batch build: the lexicon (df/weight per
    # term) of an index ingested via a readStream -> foreachBatch sink must
    # equal the batch tokenization of the same corpus — doc ids are
    # re-allocated per micro-batch but per-term stats are id-invariant, so
    # the streaming path gets an EXACT DuckDB oracle.

    def _streamed_lexicon(spark, sf):
        key = ("stream_lex", sf)
        if key not in _CACHE:
            import tempfile

            from whoosh_spark.indexing.segments import open_segments
            from whoosh_spark.streaming import IncrementalIndexer, index_stream

            base = tempfile.mkdtemp(prefix="ws_stream_gate_")
            src, path, ckpt = f"{base}/in", f"{base}/ix", f"{base}/ckpt"
            corpus = transcript_corpus(spark, sf)
            corpus.drop("doc_id").repartition(4).write.parquet(src)
            stream = (
                spark.readStream.schema(spark.read.parquet(src).schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            q = index_stream(stream, path, transcript_schema(), ckpt)
            q.processAllAvailable()
            q.stop()
            ixer = IncrementalIndexer(spark, path, transcript_schema())
            _CACHE[key] = open_segments(
                spark, path, ixer.stored_docs(), transcript_schema()
            )
        return (
            _CACHE[key]
            .terms.where(F.col("field") == "text")
            .select("term", "df", "total_weight")
        )

    add(
        "streaming_build_lexicon",
        _streamed_lexicon,
        TURNS_PRELUDE
        + "SELECT term, count(*)::BIGINT AS df, sum(w)::DOUBLE AS total_weight "
        "FROM post GROUP BY term",
    )

    # ---------------- NL date grammar + morph_en irregulars --------------

    def _daterange_nl(spark, sf):
        from datetime import datetime as _dt

        from whoosh_spark.entry_queries import _events_searcher
        from whoosh_spark.fields import DATETIME, ID, NUMERIC, Schema
        from whoosh_spark.query.parser import QueryParser

        s = _events_searcher(spark, sf)
        schema = Schema(ID("event_type"), NUMERIC("value"), DATETIME("ts"),
                        NUMERIC("user_id"))
        # basedate anchors the grammar; the range itself is absolute
        p = QueryParser("event_type", schema, basedate=_dt(2024, 3, 6))
        q = p.parse("event_type:click AND ts:[jan 2024 TO feb 15, 2024]")
        return s.compile(q).select("doc_id", "score")

    add(
        "daterange_nl",
        _daterange_nl,
        "SELECT event_id AS doc_id, 2.0::DOUBLE AS score FROM events "
        "WHERE event_type = 'click' AND ts >= TIMESTAMP '2024-01-01 00:00:00' "
        "AND ts <= TIMESTAMP '2024-02-15 23:59:59'",
    )

    # Irregular morphology needs forms the synthetic vocabulary lacks, so
    # both engines query the SAME deterministically-derived corpus: text
    # plus ' running'/' ran'/' run' appended by doc_id modulus.
    _IRR_SUFFIX = (
        "(CASE WHEN doc_id % 7 = 0 THEN ' running' ELSE '' END) || "
        "(CASE WHEN doc_id % 11 = 0 THEN ' ran' ELSE '' END) || "
        "(CASE WHEN doc_id % 13 = 0 THEN ' run' ELSE '' END)"
    )

    def _irr_searcher(spark, sf):
        key = ("irr_ix", sf)
        if key not in _CACHE:
            from whoosh_spark.fields import documents_schema
            from whoosh_spark.indexing import build_index
            from whoosh_spark.search import Searcher

            d = _docs(spark, sf).withColumn(
                "text",
                F.concat(
                    F.col("text"),
                    F.when(F.col("doc_id") % 7 == 0, F.lit(" running")).otherwise(F.lit("")),
                    F.when(F.col("doc_id") % 11 == 0, F.lit(" ran")).otherwise(F.lit("")),
                    F.when(F.col("doc_id") % 13 == 0, F.lit(" run")).otherwise(F.lit("")),
                ),
            )
            ix = build_index(spark, d, documents_schema()).persist()
            _CACHE[key] = Searcher(ix)
        return _CACHE[key]

    def _variations_irregular(spark, sf):
        from whoosh_spark import query as Qn
        from whoosh_spark.entry_queries import _topk

        s = _irr_searcher(spark, sf)
        return _topk(s.compile(Qn.Variations("text", "ran")))

    from whoosh_spark.query.nodes import variation_forms as _vf

    _ran_forms_sql = ", ".join(f"'{t}'" for t in _vf("ran"))
    add(
        "variations_irregular_topk",
        _variations_irregular,
        "WITH d2 AS (SELECT doc_id, text || " + _IRR_SUFFIX + " AS text FROM documents),\n"
        + prelude_body("d2")
        + f"\nSELECT doc_id, round(score, 4) AS score FROM ("
        f"SELECT doc_id, sum(score) AS score FROM scored WHERE term IN ({_ran_forms_sql}) "
        "GROUP BY doc_id)\nORDER BY score DESC, doc_id ASC LIMIT 10",
    )

    add(
        "multimodal_meta",
        lambda spark, sf: fake_decode_meta(synth_assets(_docs(spark, sf))),
        """
WITH h AS (SELECT doc_id, md5(text) AS hx FROM documents)
SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg' ELSE 'audio/wav' END AS media_type,
       (CAST(('0x' || hx[1:4])::UBIGINT AS INT) % 4096)::INT AS width,
       (CAST(('0x' || hx[5:8])::UBIGINT AS INT) % 4096)::INT AS height,
       16::INT AS n_bytes
FROM h
""",
    )
    add(
        "multimodal_frames",
        lambda spark, sf: sample_frames(synth_assets(_docs(spark, sf)))
        .select("doc_id", "frame_idx", F.hex("frame").alias("frame_hex")),
        # 16-byte payload, 4-byte frames, stride 2 -> frame_idx 0 and 2;
        # frame bytes = hex slices of md5(text) (md5 hex is lowercase in
        # DuckDB, Spark hex() is uppercase -> upper())
        """
WITH h AS (SELECT doc_id, upper(md5(text)) AS hx FROM documents)
SELECT doc_id, fi AS frame_idx, hx[fi * 8 + 1 : fi * 8 + 8] AS frame_hex
FROM h, unnest([0, 2]) AS u(fi)
""",
    )

    # --------- fifth wave: paragraph dedup, bigram LM, DSIR weights ---------
    from whoosh_spark.pipeline import bigram_logprob, dsir_logweights, paragraph_dedup

    def _para_docs(spark, sf):
        # documents.parquet text is a flat word stream; derive a
        # newline-delimited paragraph corpus deterministically (12-word
        # paragraphs) in BOTH engines so the real paragraph_dedup logic is
        # exercised on real paragraph boundaries
        d = _docs(spark, sf)
        w = F.split(F.col("text"), " ")
        paras = F.transform(
            F.sequence(F.lit(0), F.ceil(F.size(w) / 12).cast("int") - 1),
            lambda g: F.array_join(F.slice(w, g * 12 + 1, 12), " "),
        )
        return d.select("doc_id", F.array_join(paras, "\n").alias("text"))

    add(
        "text_paragraph_dedup",
        # Dolma/CCNet-tier paragraph-granularity exact dedup: drop every
        # corpus-wide repeat of a paragraph except its first occurrence
        # ((doc_id, para_idx) order); clean_chars measured on the ACTUAL
        # reassembled text_clean, so the oracle pins the rebuild too
        lambda spark, sf: paragraph_dedup(_para_docs(spark, sf)).select(
            "doc_id", "n_paras", "n_dropped",
            F.length("text_clean").cast("long").alias("clean_chars")),
        """
WITH base AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
p0 AS (SELECT doc_id, w, unnest(range((len(w) + 11) // 12)) AS g FROM base),
paras AS (
  SELECT doc_id, g AS para_idx,
         array_to_string(w[g * 12 + 1 : g * 12 + 12], ' ') AS para
  FROM p0),
firsts AS (
  SELECT md5(para) AS h, count(*) AS n,
         min(doc_id * 1048576 + para_idx) AS fk
  FROM paras WHERE para <> '' GROUP BY 1),
flagged AS (
  SELECT p.doc_id, p.para_idx, p.para,
         (p.para = '' OR f.n < 2
          OR p.doc_id * 1048576 + p.para_idx = f.fk) AS keep
  FROM paras p LEFT JOIN firsts f ON md5(p.para) = f.h)
SELECT doc_id, count(*)::BIGINT AS n_paras,
       sum(CASE WHEN keep THEN 0 ELSE 1 END)::BIGINT AS n_dropped,
       coalesce(length(string_agg(para, chr(10) ORDER BY para_idx)
                       FILTER (WHERE keep)), 0)::BIGINT AS clean_chars
FROM flagged GROUP BY doc_id
""",
    )

    add(
        "text_bigram_logprob",
        # corpus-trained interpolated-bigram LM (tier above
        # text_unigram_logprob toward CCNet's KenLM filter):
        # ln(0.7*C(w1w2)/C(w1) + 0.3*C(w2)/T), arithmetic written in the
        # same order in both engines, mean rounded to 4
        lambda spark, sf: bigram_logprob(_docs(spark, sf)),
        """
WITH base AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
  FROM documents),
u0 AS (SELECT unnest(w) AS wt FROM base),
uc AS (SELECT wt, count(*) AS c FROM u0 GROUP BY wt),
tot AS (SELECT sum(c) AS t FROM uc),
bg0 AS (
  SELECT doc_id, w, unnest(range(1, greatest(len(w), 1))) AS i FROM base),
bg AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2 FROM bg0),
bc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
scored AS (
  SELECT doc_id, count(*) AS n,
         round(avg(ln(0.7 * (c12 / u1.c) + 0.3 * (u2.c / t))), 4) AS lp
  FROM bg JOIN bc USING (w1, w2)
       JOIN uc u1 ON bg.w1 = u1.wt
       JOIN uc u2 ON bg.w2 = u2.wt, tot
  GROUP BY doc_id)
SELECT d.doc_id, coalesce(s.n, 0)::BIGINT AS n_bigrams,
       coalesce(s.lp, 0.0)::DOUBLE AS mean_logprob
FROM documents d LEFT JOIN scored s USING (doc_id)
""",
    )

    add(
        "text_dsir_logweights",
        # DSIR (Xie et al. 2023) importance weights: hashed unigram+bigram
        # bucket profiles, target = the English slice, raw = full corpus;
        # add-1 smoothing over 4096 buckets, same md5-u32 hash convention
        # as the samplers so DuckDB mirrors the bucketing exactly
        lambda spark, sf: dsir_logweights(
            _docs(spark, sf), _docs(spark, sf).where(F.col("lang") == "en")),
        """
WITH base AS (
  SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
  FROM documents),
g0 AS (
  SELECT doc_id, lang, w, unnest(range(1, greatest(len(w), 1))) AS i
  FROM base),
f0 AS (
  SELECT doc_id, lang, unnest(w) AS feat FROM base
  UNION ALL
  SELECT doc_id, lang, w[i] || ' ' || w[i + 1] AS feat FROM g0),
fb AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5('dsir:' || feat), 1, 8))::BIGINT % 4096 AS b,
         count(*) AS cnt
  FROM f0 GROUP BY doc_id, lang, b),
raw_dist AS (SELECT b, sum(cnt) AS cr FROM fb GROUP BY b),
tgt_dist AS (SELECT b, sum(cnt) AS ct FROM fb WHERE lang = 'en' GROUP BY b),
rtot AS (SELECT sum(cr) AS tr FROM raw_dist),
ttot AS (SELECT sum(ct) AS tt FROM tgt_dist),
scored AS (
  SELECT doc_id, sum(cnt) AS nf,
         round(sum(cnt * (ln((coalesce(ct, 0) + 1.0) / (tt + 4096.0))
                          - ln((cr + 1.0) / (tr + 4096.0)))), 4) AS lw
  FROM fb JOIN raw_dist USING (b) LEFT JOIN tgt_dist USING (b), rtot, ttot
  GROUP BY doc_id)
SELECT d.doc_id, coalesce(s.nf, 0)::BIGINT AS n_feats,
       coalesce(s.lw, 0.0)::DOUBLE AS log_weight
FROM documents d LEFT JOIN scored s USING (doc_id)
""",
    )

    from whoosh_spark.pipeline import dsir_gumbel_topk, token_budget_sample

    add(
        "sample_token_budget",
        # execute a training-mix plan in TOKENS: per-stratum longest
        # md5-ordered prefix within the stratum's token budget; fr's
        # budget exceeds its total (fully kept), de is absent from the
        # plan (dropped) — both edges pinned
        lambda spark, sf: token_budget_sample(
            _docs(spark, sf),
            {"en": 6000, "zh": 2000, "es": 2000, "fr": 9999},
        ).select(
            "doc_id", "lang",
            F.col("_tokens").alias("n_tokens"),
            F.col("_cum_tokens").alias("cum_tokens")),
        """
WITH t AS (
  SELECT doc_id, lang,
         len(regexp_extract_all(lower(text), '[a-z0-9]+'))::BIGINT AS tok,
         ('0x' || substr(md5('ws1:' || doc_id::VARCHAR), 1, 8))::BIGINT AS h
  FROM documents),
c AS (
  SELECT doc_id, lang, tok,
         sum(tok) OVER (PARTITION BY lang ORDER BY h, doc_id
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM t)
SELECT doc_id, lang, tok AS n_tokens, cum::BIGINT AS cum_tokens
FROM c
WHERE cum <= CASE lang WHEN 'en' THEN 6000 WHEN 'zh' THEN 2000
                       WHEN 'es' THEN 2000 WHEN 'fr' THEN 9999 ELSE 0 END
""",
    )

    add(
        "text_dsir_gumbel_topk",
        # DSIR's resampling step: Gumbel-top-k over the importance
        # weights with md5-derived (deterministic, partitioning-invariant)
        # gumbel noise; score arithmetic mirrored op-for-op
        lambda spark, sf: dsir_gumbel_topk(
            _docs(spark, sf), _docs(spark, sf).where(F.col("lang") == "en"),
            n=50),
        """
WITH base AS (
  SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
  FROM documents),
g0 AS (
  SELECT doc_id, lang, w, unnest(range(1, greatest(len(w), 1))) AS i
  FROM base),
f0 AS (
  SELECT doc_id, lang, unnest(w) AS feat FROM base
  UNION ALL
  SELECT doc_id, lang, w[i] || ' ' || w[i + 1] AS feat FROM g0),
fb AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5('dsir:' || feat), 1, 8))::BIGINT % 4096 AS b,
         count(*) AS cnt
  FROM f0 GROUP BY doc_id, lang, b),
raw_dist AS (SELECT b, sum(cnt) AS cr FROM fb GROUP BY b),
tgt_dist AS (SELECT b, sum(cnt) AS ct FROM fb WHERE lang = 'en' GROUP BY b),
rtot AS (SELECT sum(cr) AS tr FROM raw_dist),
ttot AS (SELECT sum(ct) AS tt FROM tgt_dist),
lw AS (
  SELECT doc_id,
         round(sum(cnt * (ln((coalesce(ct, 0) + 1.0) / (tt + 4096.0))
                          - ln((cr + 1.0) / (tr + 4096.0)))), 4) AS lwv
  FROM fb JOIN raw_dist USING (b) LEFT JOIN tgt_dist USING (b), rtot, ttot
  GROUP BY doc_id),
allw AS (
  SELECT d.doc_id, coalesce(l.lwv, 0.0) AS log_weight
  FROM documents d LEFT JOIN lw l USING (doc_id)),
scored AS (
  SELECT doc_id, log_weight,
         round(log_weight / 1.0 +
               (- ln(- ln((('0x' || substr(md5('dsirg:' || doc_id::VARCHAR), 1, 8))::BIGINT
                           + 0.5) / 4294967296.0))), 4) AS gumbel_score
  FROM allw)
SELECT doc_id, log_weight::DOUBLE AS log_weight,
       gumbel_score::DOUBLE AS gumbel_score
FROM scored ORDER BY gumbel_score DESC, doc_id LIMIT 50
""",
    )

    # ---- degenerate-config EXACT oracles for the two rows-only ops ----
    # (the full-probe-IVF / mmr-lambda1 trick, applied to BPE encode and
    # FFD bin packing: pick a configuration where the sequential
    # recurrence collapses to arithmetic DuckDB can mirror, so the WHOLE
    # distributed machinery — hashing, sharding, mapInArrow/applyInPandas
    # kernels, output assembly — gets hash-checked; the general configs
    # keep their honest rows-only rows.)

    def _bpe_encode_fixed(spark, sf):
        # bpe_encode with a FIXED 2-rule merge table th, th+e. Why this
        # is exactly SQL-mirrorable: the greedy walk merges the best-rank
        # pair everywhere, re-scans, repeats — with rule 1's output ('th')
        # being the only source of rule 2's input symbol, the walk equals
        # two sequential global left-to-right replaces over the
        # spaced-symbol string; and over single-char base symbols neither
        # pattern ('t h', 'th e') can false-match across symbol
        # boundaries ('th' only arises as the rule-1 output, '</w>'
        # contains neither). Exercises the real mapInArrow kernel, word
        # regex, EOW convention, and per-word memoization end-to-end.
        from whoosh_spark.pipeline.bpe import bpe_encode

        enc = bpe_encode(_docs(spark, sf), [("t", "h"), ("th", "e")])
        return enc.select(
            "doc_id",
            F.array_join("tokens", " ").alias("tokens_csv"),
            "n_tokens",
        )

    add(
        "text_bpe_encode_fixed",
        _bpe_encode_fixed,
        """
WITH per AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS words
  FROM documents
),
enc AS (
  SELECT doc_id,
         [regexp_replace(regexp_replace(
            rtrim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' </w>',
            't h', 'th', 'g'), 'th e', 'the', 'g')
          FOR w IN words] AS encs
  FROM per
),
joined AS (
  SELECT doc_id, array_to_string(encs, ' ') AS tokens_csv FROM enc
)
SELECT doc_id, tokens_csv,
       (CASE WHEN tokens_csv = '' THEN 0
             ELSE len(string_split(tokens_csv, ' ')) END)::INT AS n_tokens
FROM joined
""",
    )

    def _pack_bins_uniform(spark, sf):
        # pack_bins_ffd with UNIFORM doc sizes (8 tokens, capacity 24,
        # 7 shards): descending-size order degenerates to pure md5 order
        # and first-fit fills each bin with exactly capacity/size docs, so
        # bin assignment is rank arithmetic DuckDB mirrors — while the
        # real md5 hash-sharding, stable sort, applyInPandas FFD kernel,
        # striped global bin ids, and bin_fill bookkeeping all run for
        # real. num_shards pinned (the default follows session
        # parallelism).
        from whoosh_spark.pipeline.packing import pack_bins_ffd

        docs = _docs(spark, sf).select("doc_id").withColumn(
            "n_tokens", F.lit(8)
        )
        return pack_bins_ffd(docs, capacity=24, num_shards=7)

    add(
        "pipeline_pack_bins_uniform",
        _pack_bins_uniform,
        """
WITH base AS (
  SELECT doc_id::BIGINT AS doc_id,
         md5('ffd:' || doc_id::VARCHAR) AS k,
         (('0x' || substr(md5('ffd:' || doc_id::VARCHAR), 1, 8))::BIGINT % 7)::INT AS shard
  FROM documents
),
ranked AS (
  SELECT doc_id, shard,
         row_number() OVER (PARTITION BY shard ORDER BY k ASC) - 1 AS r,
         count(*) OVER (PARTITION BY shard) AS sc
  FROM base
)
SELECT doc_id, 8::BIGINT AS n_tokens, shard,
       ((r // 3) * 7 + shard)::BIGINT AS bin_id,
       (8 * LEAST(3, sc - (r // 3) * 3))::BIGINT AS bin_fill
FROM ranked
""",
    )

    # -------------------- HLL + Count-Min sketch entries ------------------
    from whoosh_spark.pipeline.sketch import (
        cm_estimate_from,
        cm_sketch,
        hll_distinct,
    )

    def _sketch_hll(spark, sf):
        # HyperLogLog distinct users per event_type, b=4 (m=16 registers)
        # — small enough that register collisions are real and the raw
        # alpha*m^2/sum(2^-rho) path runs for the ~150-user groups. The
        # harmonic denominator is EXACT integer arithmetic (sum of
        # 2^(57-rho) as BIGINT), so the estimate is order-independent and
        # the oracle recomputes it bit-for-bit; exact distinct joined on
        # for the accuracy-visible comparison.
        ev = spark.read.parquet(f"{sf}/events.parquet")
        sk = hll_distinct(ev, "user_id", b=4, by="event_type")
        ex = ev.groupBy("event_type").agg(
            F.countDistinct("user_id").alias("exact_distinct"))
        return sk.join(ex, "event_type")

    add(
        "sketch_distinct_hll",
        _sketch_hll,
        """
WITH h AS (
  SELECT event_type,
         ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS hh
  FROM events WHERE user_id IS NOT NULL),
reg AS (
  SELECT event_type, hh >> 56 AS bucket,
         max(CASE WHEN hh % 72057594037927936 = 0 THEN 57
                  ELSE 57 - length(bin(hh % 72057594037927936)) END) AS rho
  FROM h GROUP BY event_type, bucket),
agg AS (
  SELECT event_type, count(*) AS nb,
         sum(1::BIGINT << (57 - rho)) AS s_obs
  FROM reg GROUP BY event_type),
est AS (
  SELECT event_type, nb, (16 - nb) AS zeros,
         0.673 * 256 * 144115188075855872.0
           / (s_obs + (16 - nb) * 144115188075855872)::DOUBLE AS e_raw
  FROM agg),
ex AS (SELECT event_type, count(DISTINCT user_id)::BIGINT AS exact_distinct
       FROM events GROUP BY event_type)
SELECT e.event_type, e.nb::BIGINT AS n_buckets,
       round(CASE WHEN e.e_raw <= 40.0 AND e.zeros > 0
                  THEN 16.0 * ln(16.0 / e.zeros) ELSE e.e_raw END, 4)
         AS hll_estimate,
       ex.exact_distinct
FROM est e JOIN ex USING (event_type)
""",
    )

    def _sketch_cm(spark, sf):
        # Count-min sketch of word frequencies (depth 3 x width 512 —
        # well under the corpus vocabulary so collisions genuinely
        # over-count), probed for 7 common/rare words + 1 absent one;
        # true counts joined on so the one-sided error is visible. All
        # integer arithmetic over md5-derived cells => exact oracle.
        docs = _docs(spark, sf)
        words = docs.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")),
                                     F.lit("[a-z0-9]+"), 0)
            ).alias("w")
        )
        cells = cm_sketch(words, "w", depth=3, width=512)
        probes = ["the", "spark", "join", "data", "query", "hash",
                  "vector", "zzzmissingzzz"]
        est = cm_estimate_from(cells, probes, depth=3, width=512)
        truth = words.groupBy("w").agg(F.count("*").alias("true_count")) \
            .withColumnRenamed("w", "key")
        return est.join(truth, "key", "left").select(
            "key", "cm_estimate",
            F.coalesce("true_count", F.lit(0).cast("long")).alias("true_count"),
        )

    add(
        "sketch_term_counts_cm",
        _sketch_cm,
        """
WITH w AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
  FROM documents),
rows3 AS (SELECT unnest([0, 1, 2]) AS i),
cells AS (
  SELECT i,
         (('0x' || substr(md5('cm' || i::VARCHAR || ':' || w), 1, 15))::BIGINT
            % 512)::INT AS col_idx,
         count(*)::BIGINT AS cell
  FROM w CROSS JOIN rows3
  GROUP BY i, col_idx),
probes AS (
  SELECT unnest(['the','spark','join','data','query','hash','vector',
                 'zzzmissingzzz']) AS key),
pc AS (
  SELECT p.key, r.i,
         (('0x' || substr(md5('cm' || r.i::VARCHAR || ':' || p.key), 1, 15))::BIGINT
            % 512)::INT AS col_idx
  FROM probes p CROSS JOIN rows3 r),
est AS (
  SELECT key, min(coalesce(c.cell, 0))::BIGINT AS cm_estimate
  FROM pc LEFT JOIN cells c ON pc.i = c.i AND pc.col_idx = c.col_idx
  GROUP BY key),
truth AS (SELECT w AS key, count(*)::BIGINT AS true_count FROM w GROUP BY w)
SELECT e.key, e.cm_estimate, coalesce(t.true_count, 0)::BIGINT AS true_count
FROM est e LEFT JOIN truth t USING (key)
""",
    )

    from whoosh_spark.pipeline.sketch import (
        bloom_bits,
        bloom_contains,
        hist_quantiles,
    )

    def _sketch_quantiles(spark, sf):
        # Log-bucketed histogram quantile sketch (subbits=5, ~3% lower-
        # bound error) of event values per event_type — bucket assignment
        # is pure integer arithmetic (IEEE-exact float scale + bin()
        # bit_length), so the sketch AND the quantile walk reproduce
        # bit-for-bit in DuckDB; the exact lower quantile (value at rank
        # ceil(q*n)) is joined on under the same definition in both
        # engines for accuracy visibility.
        from pyspark.sql import Window as W

        ev = spark.read.parquet(f"{sf}/events.parquet")
        qs = [0.5, 0.9, 0.99]
        sk = hist_quantiles(ev, "value", qs, by="event_type",
                            scale=1000.0, subbits=5)
        ranked = ev.select("event_type", "value").withColumn(
            "rn", F.row_number().over(
                W.partitionBy("event_type").orderBy("value"))
        ).withColumn("n", F.count("*").over(W.partitionBy("event_type")))
        exact = ranked.select(
            "event_type", "value", "rn", "n",
            F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q"),
        ).where(F.col("rn") == F.ceil(F.col("q") * F.col("n"))).select(
            "event_type", "q", F.round("value", 4).alias("exact_lower"))
        return sk.withColumn("est", F.round("est", 4)) \
            .join(exact, ["event_type", "q"])

    add(
        "sketch_quantiles_value",
        _sketch_quantiles,
        """
WITH mm AS (
  SELECT event_type,
         greatest(CAST(floor(value * 1000.0) AS BIGINT), 0) AS m
  FROM events WHERE value IS NOT NULL),
bk AS (
  SELECT event_type,
         CASE WHEN m < 64 THEN m
              ELSE 64 + (length(bin(m)) - 6)::BIGINT * 32
                   + (m >> (length(bin(m)) - 6)) - 32 END AS bucket
  FROM mm),
sk AS (SELECT event_type, bucket, count(*) AS cnt FROM bk GROUP BY 1, 2),
cum AS (SELECT event_type, bucket,
               sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS c,
               sum(cnt) OVER (PARTITION BY event_type) AS n
        FROM sk),
qq AS (SELECT unnest([0.5, 0.9, 0.99]) AS q),
hit AS (
  SELECT event_type, q, min(bucket) AS bucket
  FROM cum CROSS JOIN qq WHERE c >= ceil(q * n)
  GROUP BY 1, 2),
est AS (
  SELECT event_type, q,
         round(CASE WHEN bucket < 64 THEN bucket
               ELSE (bucket - 64 - ((bucket - 64) // 32) * 32 + 32)
                    * (1::BIGINT << ((bucket - 64) // 32)) END / 1000.0, 4)
           AS est
  FROM hit),
ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events),
exq AS (
  SELECT event_type, q, round(value, 4) AS exact_lower
  FROM ranked CROSS JOIN qq WHERE rn = ceil(q * n))
SELECT e.event_type, e.q, e.est, x.exact_lower
FROM est e JOIN exq x USING (event_type, q)
""",
    )

    def _sketch_bloom(spark, sf):
        # Bloom pre-filter, decontamination-shaped: filter built over the
        # distinct words of the src1 slice ("the benchmark"), broadcast,
        # and probed by the WHOLE corpus vocabulary; m_bits=4096 is far
        # under the vocab so false positives are real and visible, while
        # n_false_negative == 0 is the filter's hard guarantee (also
        # pinned in tests). Aggregate counts keep the entry small and
        # make the fp-rate auditable.
        docs = _docs(spark, sf)
        words = docs.select(
            F.explode(F.regexp_extract_all(
                F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)).alias("w"))
        vocab = words.distinct()
        bench = (
            docs.where(F.col("source") == "src1")
            .select(F.explode(F.regexp_extract_all(
                F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)).alias("w"))
            .distinct()
        )
        bits = bloom_bits(bench, "w", m_bits=4096, k=3)
        probed = bloom_contains(bits, vocab, "w", m_bits=4096, k=3)
        lab = probed.join(
            bench.withColumn("is_member", F.lit(True)), "w", "left"
        ).withColumn("is_member", F.coalesce("is_member", F.lit(False)))
        return lab.agg(
            F.count("*").cast("long").alias("n_probed"),
            F.sum(F.when(F.col("maybe_present"), 1).otherwise(0))
            .cast("long").alias("n_maybe"),
            F.sum(F.when(F.col("is_member"), 1).otherwise(0))
            .cast("long").alias("n_member"),
            F.sum(F.when(F.col("maybe_present") & ~F.col("is_member"), 1)
                  .otherwise(0)).cast("long").alias("n_false_positive"),
            F.sum(F.when(F.col("is_member") & ~F.col("maybe_present"), 1)
                  .otherwise(0)).cast("long").alias("n_false_negative"),
        )

    add(
        "sketch_bloom_prefilter",
        _sketch_bloom,
        """
WITH w AS (
  SELECT DISTINCT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
  FROM documents),
bw AS (
  SELECT DISTINCT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
  FROM documents WHERE source = 'src1'),
rows3 AS (SELECT unnest([0, 1, 2]) AS i),
bits AS (
  SELECT DISTINCT
    (('0x' || substr(md5('bf' || i::VARCHAR || ':' || w), 1, 15))::BIGINT
       % 4096) AS bit
  FROM bw CROSS JOIN rows3),
probe AS (
  SELECT w.w,
         bool_and((('0x' || substr(md5('bf' || i::VARCHAR || ':' || w.w), 1, 15))::BIGINT
                   % 4096) IN (SELECT bit FROM bits)) AS maybe_present
  FROM w CROSS JOIN rows3
  GROUP BY w.w),
lab AS (
  SELECT p.w, p.maybe_present, (b.w IS NOT NULL) AS is_member
  FROM probe p LEFT JOIN bw b USING (w))
SELECT count(*)::BIGINT AS n_probed,
       sum(CASE WHEN maybe_present THEN 1 ELSE 0 END)::BIGINT AS n_maybe,
       sum(CASE WHEN is_member THEN 1 ELSE 0 END)::BIGINT AS n_member,
       sum(CASE WHEN maybe_present AND NOT is_member THEN 1 ELSE 0 END)::BIGINT
         AS n_false_positive,
       sum(CASE WHEN is_member AND NOT maybe_present THEN 1 ELSE 0 END)::BIGINT
         AS n_false_negative
FROM lab
""",
    )

    from whoosh_spark.pipeline.textstats import chunk_text, strip_html

    _HTML_DECOR_PRE = '<div class="d"><b>'
    _HTML_DECOR_POST = (
        '</b></div><script type="text/javascript">var x = "<p>hi</p>";'
        "</script><style>.a{color:red}</style><!-- note --> A &amp; B "
        "&lt;tag&gt;&nbsp;&quot;q&quot; &#39;s"
    )

    def _strip_html(spark, sf):
        # derived-corpus trick: wrap every doc in deterministic HTML
        # boilerplate (script + style + comment + tags + all six
        # entities) in BOTH engines, then strip — pins the whole regex
        # chain, entity decoding, whitespace collapse, and length
        # accounting end-to-end. Patterns are backreference-free ASCII so
        # Java and RE2 agree (module note, textstats.py).
        docs = _docs(spark, sf).select(
            "doc_id",
            F.concat(F.lit(_HTML_DECOR_PRE), F.col("text"),
                     F.lit(_HTML_DECOR_POST)).alias("text"),
        )
        return strip_html(docs)

    add(
        "text_strip_html",
        _strip_html,
        f"""
WITH wrapped AS (
  SELECT doc_id,
         '{_HTML_DECOR_PRE}' || text || '{_HTML_DECOR_POST.replace("'", "''")}'
           AS t
  FROM documents),
stripped AS (
  SELECT doc_id,
         trim(regexp_replace(
           replace(replace(replace(replace(replace(replace(
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               t,
               '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
               '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
               '(?s)<!--.*?-->', ' ', 'g'),
               '<[^>]+>', ' ', 'g'),
             '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
             '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
           '\\s+', ' ', 'g')) AS text_clean
  FROM wrapped)
SELECT doc_id, text_clean, length(text_clean)::INT AS n_clean_chars
FROM stripped
""",
    )

    add(
        "text_chunk_overlap",
        # RAG char-window chunking: size 120, overlap 20 — a narrow
        # doc-local explode (NO shuffle, plan-pinned), ragged tail,
        # empty docs emit nothing
        lambda spark, sf: chunk_text(_docs(spark, sf), size=120, overlap=20),
        """
SELECT doc_id, i::INT AS chunk_idx, (i * 100)::BIGINT AS begin,
       substring(text, (i * 100 + 1)::INT, 120) AS chunk_text
FROM documents,
     LATERAL unnest(range(CAST(ceil(greatest(length(text) - 20, 1) / 100.0)
                           AS BIGINT))) AS t(i)
WHERE length(text) > 0
""",
    )

    from whoosh_spark.pipeline.textstats import c4_line_filter

    # C4 derived corpus: the synthetic docs are one-line and
    # punctuation-free, so BOTH engines apply the same SQL derivation —
    # ' a ' becomes a period+newline (terminal-punct line break), ' big '
    # a bare newline (non-terminal break, the line before it drops),
    # doc_id%7 injects a 'javascript' line, %37 appends mixed-case
    # 'Lorem Ipsum' (pins the lowercase doc check), %41 appends a
    # '{'-brace line — every C4 rule fires on real rows.
    _C4_D1 = "replace(replace(text, ' a ', '.' || chr(10)), ' big ', chr(10))"
    _C4_D2 = (f"CASE WHEN doc_id % 7 = 0 THEN "
              f"replace({_C4_D1}, ' slow ', ' javascript slow ') "
              f"ELSE {_C4_D1} END")
    _C4_D3 = (f"CASE WHEN doc_id % 37 = 0 THEN "
              f"{_C4_D2} || ' Lorem Ipsum dolor sit amet.' ELSE {_C4_D2} END")
    _C4_DERIVE = (f"CASE WHEN doc_id % 41 = 3 THEN "
                  f"{_C4_D3} || ' code ' || chr(123) || 'x' || chr(125) || "
                  f"' end.' ELSE {_C4_D3} END")

    add(
        "text_c4_line_filter",
        lambda spark, sf: c4_line_filter(
            _docs(spark, sf).select("doc_id", F.expr(_C4_DERIVE).alias("text"))
        ),
        f"""
WITH derived AS (SELECT doc_id, {_C4_DERIVE} AS text FROM documents),
split AS (
  SELECT doc_id, text,
         list_transform(string_split(text, chr(10)), x -> trim(x)) AS ls
  FROM derived),
kept AS (
  SELECT doc_id, text, ls,
         list_filter(ls, x -> x <> '' AND regexp_matches(x, '[.!?\"]$')
                     AND length(regexp_split_to_array(x, '\\s+')) >= 5
                     AND NOT contains(lower(x), 'javascript')) AS ks
  FROM split)
SELECT doc_id,
       coalesce(array_to_string(ks, chr(10)), '') AS text_clean,
       length(ls)::INT AS n_lines,
       length(ks)::INT AS n_kept,
       contains(lower(text), 'lorem ipsum') AS has_lorem,
       (contains(text, chr(123)) OR contains(text, chr(125))) AS has_brace,
       (length(ks) >= 3 AND NOT contains(lower(text), 'lorem ipsum')
        AND NOT contains(text, chr(123))
        AND NOT contains(text, chr(125))) AS keep
FROM kept
""",
    )

    from whoosh_spark.pipeline.textstats import dedup_lines

    # dedup_lines derived corpus: ' a ' -> newline gives line structure,
    # then the WHOLE doc is doubled around another newline — every line
    # recurs at least once, so first-occurrence-wins, order preservation,
    # and trimmed comparison all fire on every row
    _DL_D = "replace(text, ' a ', chr(10))"
    _DL_DERIVE = f"{_DL_D} || chr(10) || {_DL_D}"

    add(
        "text_dedup_lines",
        lambda spark, sf: dedup_lines(
            _docs(spark, sf).select("doc_id", F.expr(_DL_DERIVE).alias("text"))
        ),
        f"""
WITH derived AS (SELECT doc_id, {_DL_DERIVE} AS text FROM documents),
l AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM derived),
k AS (
  SELECT doc_id, ls,
         list_filter(ls, (x, i) -> trim(x) = '' OR
           len(list_filter(ls[1:i-1], y -> trim(y) = trim(x))) = 0) AS ks
  FROM l)
SELECT doc_id,
       coalesce(array_to_string(ks, chr(10)), '') AS text_clean,
       len(ls)::INT AS n_lines, len(ks)::INT AS n_kept
FROM k
""",
    )

    from whoosh_spark.pipeline.textstats import line_shape_stats

    # MassiveText line-shape derived corpus (same both-engines SQL trick
    # as the C4 entry): ' a ' breaks lines, ' the ' starts a bullet line,
    # ' big ' ends a line with an ellipsis, doc_id%11 injects '#' symbols
    # — every removal rule fires on real rows.
    _LS_D1 = ("replace(replace(replace(text, ' a ', chr(10)), "
              "' the ', chr(10) || '- '), ' big ', '...' || chr(10))")
    _LS_DERIVE = (f"CASE WHEN doc_id % 11 = 0 THEN "
                  f"replace({_LS_D1}, ' slow ', ' # slow # ') "
                  f"ELSE {_LS_D1} END")

    add(
        "text_line_shape_stats",
        lambda spark, sf: line_shape_stats(
            _docs(spark, sf).select("doc_id", F.expr(_LS_DERIVE).alias("text"))
        ),
        f"""
WITH derived AS (SELECT doc_id, {_LS_DERIVE} AS text FROM documents),
l AS (
  SELECT doc_id, text,
         list_filter(list_transform(string_split(text, chr(10)),
                                    x -> trim(x)), x -> x <> '') AS ls,
         list_filter(regexp_split_to_array(text, '\\s+'),
                     x -> x <> '') AS ws
  FROM derived),
m AS (
  SELECT doc_id,
         length(ls) AS n_lines,
         CASE WHEN length(ls) > 0 THEN
           length(list_filter(ls, x -> regexp_matches(x, '^[-*•]')))::DOUBLE
             / length(ls) ELSE 0.0 END AS bf,
         CASE WHEN length(ls) > 0 THEN
           length(list_filter(ls, x -> regexp_matches(x, '(\\.\\.\\.|…)$')))::DOUBLE
             / length(ls) ELSE 0.0 END AS ef,
         CASE WHEN length(ws) > 0 THEN
           greatest(
             (length(text) - length(replace(text, '#', '')))::DOUBLE
               / length(ws),
             ((length(text) - length(replace(text, '...', ''))) / 3
              + (length(text) - length(replace(text, '…', ''))))::DOUBLE
               / length(ws)) ELSE 0.0 END AS sr
  FROM l)
SELECT doc_id, n_lines::INT AS n_lines,
       round(bf, 4) AS bullet_line_frac,
       round(ef, 4) AS ellipsis_line_frac,
       round(sr, 4) AS symbol_word_ratio,
       (bf <= 0.9 AND ef <= 0.3 AND sr <= 0.1) AS keep
FROM m
""",
    )

    def _upsample(spark, sf):
        # epoch up-sampling: mixture weight w = 0.5 + n_chars/400 (spans
        # both the down-sample and multi-copy regimes with varied
        # fractional parts); floor(w) copies + one more on the md5 coin —
        # deterministic, so the oracle materializes the identical epoch
        # stream row for row
        from whoosh_spark.pipeline.sampling import upsample_repeat

        docs = _docs(spark, sf).withColumn(
            "w", F.lit(0.5) + F.length("text") / F.lit(400.0))
        return upsample_repeat(docs, "w").select("doc_id", "copy_idx")

    add(
        "sample_upsample_repeat",
        _upsample,
        """
WITH w AS (
  SELECT doc_id, 0.5 + length(text) / 400.0 AS w FROM documents),
n AS (
  SELECT doc_id,
         (floor(w) + CASE WHEN ('0x' || substr(md5('rep:' || doc_id::VARCHAR), 1, 8))::BIGINT
                            / 4294967296.0 < w - floor(w)
                     THEN 1 ELSE 0 END)::BIGINT AS n
  FROM w)
SELECT doc_id, t.copy_idx::INT AS copy_idx
FROM n, LATERAL unnest(range(n.n)) AS t(copy_idx)
WHERE n.n > 0
""",
    )

    # --------- per-group embedding centroids (domain pooling) -------------
    from whoosh_spark.pipeline.similarity import group_centroids

    add(
        "emb_lang_centroids",
        # language-domain centroids of the embedding table, exploded to
        # (lang, pos, value) so the driver canonicalizer sees a flat
        # schema; the mean is an exact DECIMAL(38,18) sum over the count
        # (layout-independent), rounded AFTER the mean, mirrored in SQL.
        # Spark's round goes through BigDecimal and never yields -0.0;
        # DuckDB's does for means in (-0.00005, 0), so the oracle adds 0.0
        lambda spark, sf: group_centroids(
            _emb(spark, sf),
            _docs(spark, sf).select(F.col("doc_id").alias("vec_id"), "lang"),
            "lang",
        ).select(
            "lang", "n", F.posexplode(F.col("centroid"))
        ).select("lang", "n", "pos", F.round("col", 4).alias("value")),
        """
WITH expl AS (
  SELECT d.lang, e.vec_id,
         generate_subscripts(e.embedding, 1) - 1 AS pos,
         unnest(e.embedding) AS v
  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id)
SELECT lang, count(*)::BIGINT AS n, pos,
       round(sum(v::DOUBLE::DECIMAL(38,18)) / count(v), 4) + 0.0 AS value
FROM expl GROUP BY lang, pos
""",
    )

    # ---------- deterministic shard shuffle (training-order stage) --------
    from whoosh_spark.pipeline.sampling import shard_shuffle

    add(
        "sample_shard_shuffle",
        # global shuffle into 4 training shards: shard + in-shard position
        # as pure functions of md5('shuf:'||doc_id) — the oracle rebuilds
        # the identical order, pinning hash, modulus, and the
        # tie-break-on-key total order end to end
        lambda spark, sf: shard_shuffle(_docs(spark, sf), 4).select(
            "doc_id", "shard", "pos"),
        """
WITH h AS (
  SELECT doc_id,
         ('0x' || substr(md5('shuf:' || doc_id::VARCHAR), 1, 8))::BIGINT AS h
  FROM documents)
SELECT doc_id, (h % 4)::INT AS shard,
       (row_number() OVER (PARTITION BY h % 4 ORDER BY h ASC, doc_id ASC)
        - 1)::BIGINT AS pos
FROM h
""",
    )

    # ---------- collocation extraction (Dunning LLR + PMI) ----------------
    from whoosh_spark.pipeline import collocations

    add(
        "text_collocations_llr",
        # corpus-level collocations: top-50 adjacent token pairs by Dunning
        # (1993) log-likelihood ratio (entropy xlx form, written in the
        # identical op order in both engines) + PMI; contingency margins
        # from bigram events so every cell is a nonnegative integer; rank =
        # rounded llr DESC with total (w1, w2) tie-break
        lambda spark, sf: collocations(_docs(spark, sf), min_count=5,
                                       top_n=50),
        """
WITH base AS (
  SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
bg0 AS (SELECT w, unnest(range(1, greatest(len(w), 1))) AS i FROM base),
bg AS (SELECT w[i] AS w1, w[i + 1] AS w2 FROM bg0),
bc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
lm AS (SELECT w1, sum(c12) AS c1x FROM bc GROUP BY w1),
rm AS (SELECT w2, sum(c12) AS cx2 FROM bc GROUP BY w2),
tot AS (SELECT sum(c12) AS n FROM bc),
cells AS (
  SELECT bc.w1, bc.w2, c12, c1x, cx2, n,
         c12 AS k11, c1x - c12 AS k12, cx2 - c12 AS k21,
         n - c1x - cx2 + c12 AS k22
  FROM bc JOIN lm ON bc.w1 = lm.w1 JOIN rm ON bc.w2 = rm.w2, tot
  WHERE c12 >= 5),
sc AS (
  SELECT w1, w2, c12,
         round(ln(c12::DOUBLE * n / (c1x::DOUBLE * cx2)), 4) AS pmi,
         round(2.0 * (
             (CASE WHEN k11 > 0 THEN k11::DOUBLE * ln(k11::DOUBLE) ELSE 0 END)
           + (CASE WHEN k12 > 0 THEN k12::DOUBLE * ln(k12::DOUBLE) ELSE 0 END)
           + (CASE WHEN k21 > 0 THEN k21::DOUBLE * ln(k21::DOUBLE) ELSE 0 END)
           + (CASE WHEN k22 > 0 THEN k22::DOUBLE * ln(k22::DOUBLE) ELSE 0 END)
           - (CASE WHEN c1x > 0 THEN c1x::DOUBLE * ln(c1x::DOUBLE) ELSE 0 END)
           - (CASE WHEN n - c1x > 0 THEN (n - c1x)::DOUBLE * ln((n - c1x)::DOUBLE) ELSE 0 END)
           - (CASE WHEN cx2 > 0 THEN cx2::DOUBLE * ln(cx2::DOUBLE) ELSE 0 END)
           - (CASE WHEN n - cx2 > 0 THEN (n - cx2)::DOUBLE * ln((n - cx2)::DOUBLE) ELSE 0 END)
           + n::DOUBLE * ln(n::DOUBLE)), 4) AS llr
  FROM cells)
SELECT w1, w2, c12::BIGINT AS c12, pmi, llr
FROM sc ORDER BY llr DESC, w1, w2 LIMIT 50
""",
    )

    # ---------- Rocchio pseudo-relevance feedback -------------------------
    from whoosh_spark.search.hybrid import rocchio_topk

    add(
        "ann_rocchio_topk",
        # two-pass PRF retrieval: top-5 cosine feedback docs -> expanded
        # query q' = 1.0*q + 0.75*mean(feedback), each coordinate ROUNDED
        # to 6dp (engine-stable re-rank input), then exact corpus rescore
        # ranked by the RAW cosine with vec_id tie-break (the cosine_topk
        # discipline; rounding only for display)
        lambda spark, sf: rocchio_topk(
            _emb(spark, sf), _emb(spark, sf).where("vec_id < 3"),
            k=10, feedback=5,
        ).select("query_id", "vec_id", F.round("cosine", 4).alias("cosine")),
        """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 3),
s1 AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(q.qv, e.embedding::DOUBLE[]) AS raw
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
fb AS (
  SELECT query_id, vec_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY raw DESC, vec_id) AS rn
    FROM s1)
  WHERE rn <= 5),
fbdim AS (
  SELECT f.query_id, generate_subscripts(e.embedding, 1) AS pos,
         unnest(e.embedding)::DOUBLE AS v
  FROM fb f JOIN embeddings e ON f.vec_id = e.vec_id),
m AS (SELECT query_id, pos, sum(v) AS sv, count(*) AS cnt
      FROM fbdim GROUP BY query_id, pos),
qdim AS (SELECT query_id, generate_subscripts(qv, 1) AS pos,
                unnest(qv) AS qx FROM q),
ex AS (
  -- LEFT JOIN mirrors the engine: a query with no feedback neighbors
  -- degrades to q' = alpha*q instead of dropping out.
  SELECT query_id, pos,
         round(1.0 * qx + 0.75 * coalesce(sv / cnt, 0.0), 6) AS x
  FROM qdim LEFT JOIN m USING (query_id, pos)),
exv AS (SELECT query_id, array_agg(x ORDER BY pos) AS ev
        FROM ex GROUP BY query_id),
s2 AS (
  SELECT x.query_id, e.vec_id,
         list_cosine_similarity(x.ev, e.embedding::DOUBLE[]) AS raw
  FROM embeddings e CROSS JOIN exv x WHERE e.vec_id <> x.query_id)
SELECT query_id, vec_id, round(raw, 4) AS cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY raw DESC, vec_id) AS rn
  FROM s2)
WHERE rn <= 10
""",
    )

    # ---------- per-row multilingual analyzer routing ---------------------

    def _multilang_topk(spark, sf):
        # ONE index over the mixed-language corpus, each row analyzed by
        # its OWN language's stemmer (MULTILANG_TEXT routing on the lang
        # column; zh has no bundled stemmer -> default porter2 fallback,
        # exercised on real rows). Derived-corpus trick, language-crossed:
        # en/zh docs get the porter2 form group (-> stem 'zorgl'), de/es/fr
        # docs get THEIR OWN language's form group — all three collapse to
        # 'zorgel' under their own stemmer and to nothing under any other,
        # so the query Or('zorgl', 'zorgel') retrieves exactly the
        # correctly-routed docs: a broken route would visibly move mass
        # between the groups. Default stoplist everywhere so the shared
        # DuckDB tokenization prelude stays a faithful mirror (the full
        # LANGUAGE presets incl. stoplists are pinned in tests/test_lang_*).
        from whoosh_spark import query as Qn
        from whoosh_spark.analysis import AnalyzerSpec
        from whoosh_spark.entry_queries import _topk
        from whoosh_spark.fields import MULTILANG_TEXT, Schema
        from whoosh_spark.indexing import build_index
        from whoosh_spark.search import Searcher

        key = ("mlang_ix", sf)
        if key not in _CACHE:
            groups = [
                (F.col("lang").isin("en", "zh"), _STEM_FORMS),
                (F.col("lang") == "de", _STEM_FORMS_DE),
                (F.col("lang") == "es", _STEM_FORMS_ES),
                (F.col("lang") == "fr", _STEM_FORMS_FR),
            ]
            d = _docs(spark, sf).withColumn(
                "text",
                F.concat(
                    F.col("text"),
                    *[
                        F.when(cond & (F.col("doc_id") % m == 0),
                               F.lit(" " + w)).otherwise(F.lit(""))
                        for cond, forms in groups
                        for m, w in zip((7, 11, 13), forms)
                    ],
                ),
            )
            schema = Schema(MULTILANG_TEXT("text", lang_col="lang", specs={
                "en": AnalyzerSpec(stem="porter2"),
                "de": AnalyzerSpec(stem="de"),
                "es": AnalyzerSpec(stem="es"),
                "fr": AnalyzerSpec(stem="fr"),
            }, default=AnalyzerSpec(stem="porter2")))
            ix = build_index(spark, d, schema).persist()
            _CACHE[key] = Searcher(ix)
        s = _CACHE[key]
        return _topk(s.compile(Qn.Or([Qn.Term("text", "zorgl"),
                                      Qn.Term("text", "zorgel")])))

    def _multilang_oracle_sql() -> str:
        conds = {
            "lang IN ('en', 'zh')": _STEM_FORMS,
            "lang = 'de'": _STEM_FORMS_DE,
            "lang = 'es'": _STEM_FORMS_ES,
            "lang = 'fr'": _STEM_FORMS_FR,
        }
        suffix = " || ".join(
            f"(CASE WHEN {cond} AND doc_id % {m} = 0 THEN ' {w}' ELSE '' END)"
            for cond, forms in conds.items()
            for m, w in zip((7, 11, 13), forms)
        )
        g1 = ", ".join(f"'{w}'" for w in _STEM_FORMS)
        g2 = ", ".join(f"'{w}'" for w in
                       _STEM_FORMS_DE + _STEM_FORMS_ES + _STEM_FORMS_FR)
        bm25 = ("(ln(g.n / (s.df + 1)) + 1) * (p.w * 2.2) "
                "/ (p.w + 1.2 * (0.25 + 0.75 * l.dl / g.avgdl))")
        return (
            "WITH ds AS (SELECT doc_id, text || " + suffix
            + " AS text FROM documents),\n"
            + _prelude_body("ds")
            + f""",
g1 AS (SELECT doc_id, sum(w) AS w FROM post WHERE term IN ({g1}) GROUP BY doc_id),
g2 AS (SELECT doc_id, sum(w) AS w FROM post WHERE term IN ({g2}) GROUP BY doc_id),
s1 AS (SELECT count(*)::DOUBLE AS df FROM g1),
s2 AS (SELECT count(*)::DOUBLE AS df FROM g2),
sc AS (
  SELECT p.doc_id, {bm25} AS score
  FROM g1 p CROSS JOIN s1 s JOIN dl l USING (doc_id) CROSS JOIN gstat g
  UNION ALL
  SELECT p.doc_id, {bm25} AS score
  FROM g2 p CROSS JOIN s2 s JOIN dl l USING (doc_id) CROSS JOIN gstat g
)
SELECT doc_id, round(score, 4) AS score FROM sc
ORDER BY score DESC, doc_id ASC LIMIT 10"""
        )

    add("multilang_search_topk", _multilang_topk, _multilang_oracle_sql())

    # ---------- KMV set-operation estimates (theta-sketch algebra) --------
    from whoosh_spark.pipeline.sketch import kmv_set_ops

    def _sketch_setops(spark, sf):
        # audience-overlap shape: two user segments (mod-sliced so the
        # overlap is genuinely partial: |A|=100, |B|=75, |A∩B|=50 of the
        # ~150 users), k=64 BELOW both cardinalities so the genuine
        # (k-1)/h_k estimation + sampled-intersection paths run, not the
        # exact fallback; md5 hashing makes every estimate bit-checkable
        ev = spark.read.parquet(f"{sf}/events.parquet")
        return kmv_set_ops(
            ev.where("user_id % 3 != 0"), ev.where("user_id % 2 = 0"),
            "user_id", k=64)

    add(
        "sketch_setops_users",
        _sketch_setops,
        """
WITH ah AS (
  SELECT DISTINCT ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
  FROM events WHERE user_id % 3 <> 0),
bh AS (
  SELECT DISTINCT ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
  FROM events WHERE user_id % 2 = 0),
sa AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM ah)
       WHERE rn <= 64),
sb AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM bh)
       WHERE rn <= 64),
m AS (SELECT h FROM (
        SELECT h, row_number() OVER (ORDER BY h) AS rn
        FROM (SELECT h FROM sa UNION SELECT h FROM sb))
      WHERE rn <= 64),
st AS (
  SELECT (SELECT count(*) FROM m) AS n_m,
         (SELECT max(h) FROM m) AS l,
         (SELECT count(*) FROM sa) AS na,
         (SELECT max(h) FROM sa) AS la,
         (SELECT count(*) FROM sb) AS nb,
         (SELECT max(h) FROM sb) AS lb,
         (SELECT count(*) FROM sa JOIN sb USING (h)
          WHERE h <= (SELECT max(h) FROM m)) AS c)
SELECT n_m::BIGINT AS n_union_kept,
       round(CASE WHEN na < 64 THEN na::DOUBLE
                  ELSE 63 * 1152921504606846976.0 / la END, 4) AS a_est,
       round(CASE WHEN nb < 64 THEN nb::DOUBLE
                  ELSE 63 * 1152921504606846976.0 / lb END, 4) AS b_est,
       round(CASE WHEN n_m < 64 THEN n_m::DOUBLE
                  ELSE 63 * 1152921504606846976.0 / l END, 4) AS union_est,
       round((c::DOUBLE / n_m::DOUBLE)
             * (CASE WHEN n_m < 64 THEN n_m::DOUBLE
                     ELSE 63 * 1152921504606846976.0 / l END), 4) AS inter_est,
       round(c::DOUBLE / n_m::DOUBLE, 4) AS jaccard_est
FROM st
""",
    )

    # ---------- per-window trending terms ---------------------------------
    from whoosh_spark.pipeline.textstats import trending_terms
    from whoosh_spark.transcripts import turns_from_documents

    add(
        "turns_trending_terms",
        # burst detection over the transcript time axis: top-3 terms per
        # hour bucket by one-cell Pearson residual z = (c - e)/sqrt(e),
        # e = ct*nw/n; hour buckets are pure integer epoch arithmetic from
        # the corpus min ts (timezone/engine independent), arithmetic
        # written in the identical order in both engines
        lambda spark, sf: trending_terms(
            turns_from_documents(_docs(spark, sf)),
            window_s=3600, top_n=3, min_count=2),
        _TURNS_CTE.rstrip()
        + """,
org AS (SELECT min(epoch(ts))::BIGINT AS o FROM turns),
tok AS (
  SELECT CAST(floor((epoch(ts)::BIGINT - o) / 3600) AS BIGINT) AS win,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM turns, org),
wc AS (SELECT win, term, count(*) AS c FROM tok GROUP BY win, term),
ct AS (SELECT term, sum(c) AS ct FROM wc GROUP BY term),
nw AS (SELECT win, sum(c) AS nw FROM wc GROUP BY win),
g AS (SELECT sum(c) AS n FROM wc),
sc AS (
  SELECT win, wc.term, c::BIGINT AS c,
         round((c - (ct.ct::DOUBLE * nw.nw / g.n))
               / sqrt(ct.ct::DOUBLE * nw.nw / g.n), 4) AS zscore
  FROM wc JOIN ct ON wc.term = ct.term JOIN nw USING (win), g
  WHERE c >= 2)
SELECT win, term, c, zscore FROM (
  SELECT *, row_number() OVER (PARTITION BY win
                               ORDER BY zscore DESC, term ASC) AS rn
  FROM sc)
WHERE rn <= 3
""",
    )

    # ---------- per-doc n-gram novelty ------------------------------------
    from whoosh_spark.pipeline.textstats import ngram_novelty

    add(
        "text_ngram_novelty",
        # corpus-diversity feature: fraction of each doc's distinct word
        # 8-grams occurring in NO other doc (doc-vs-corpus complement of
        # repetition_stats); the oracle groups the raw gram text where
        # Spark ships 16-byte md5 keys — value-identical unless md5
        # collides, which the substring-dedup birthday math rules out
        lambda spark, sf: ngram_novelty(_docs(spark, sf), n=8),
        """
WITH base AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
  FROM documents),
g0 AS (SELECT doc_id, w,
              unnest(range(1, greatest(len(w) - 6, 1))) AS i FROM base),
grams AS (SELECT DISTINCT doc_id,
                 array_to_string(w[i : i + 7], chr(31)) AS g FROM g0),
dfc AS (SELECT g, count(*) AS dfc FROM grams GROUP BY g),
sc AS (
  SELECT doc_id, count(*) AS n_grams,
         sum(CASE WHEN dfc = 1 THEN 1 ELSE 0 END) AS n_novel
  FROM grams JOIN dfc USING (g) GROUP BY doc_id)
SELECT d.doc_id, coalesce(s.n_grams, 0)::BIGINT AS n_grams,
       coalesce(s.n_novel, 0)::BIGINT AS n_novel,
       coalesce(round(s.n_novel / s.n_grams, 4), 1.0)::DOUBLE AS novelty
FROM documents d LEFT JOIN sc s USING (doc_id)
""",
    )

    # ---------- retrieval evaluation (P@k / MRR / nDCG) -------------------

    def _eval_frames(spark, sf):
        # Shared run/qrels for BOTH eval entries (per-query metrics and
        # the macro-mean summary — one definition, no drift): three term
        # queries, qrels = the English slice graded by capped tf (a
        # DIFFERENT criterion than the ranker, so P@k/MRR/nDCG are
        # non-trivial); rank discipline = (rounded score DESC, doc ASC)
        from functools import reduce

        from whoosh_spark import query as Qn
        from whoosh_spark.entry_queries import _docs_searcher

        s = _docs_searcher(spark, sf)
        terms = ["spark", "hash", "merge"]
        run = reduce(
            DataFrame.unionByName,
            [s.compile(Qn.Term("text", t)).select(
                F.lit(t).alias("query_id"), "doc_id", "score")
             for t in terms],
        )
        ix = s.index
        qrels = (
            ix.postings
            .where((F.col("field") == "text") & F.col("term").isin(terms))
            .join(ix.docs.where("lang = 'en'").select("doc_id"), "doc_id")
            .select(F.col("term").alias("query_id"), "doc_id",
                    F.least(F.col("weight"), F.lit(3.0)).cast("int")
                    .alias("grade"))
        )
        return run, qrels

    def _eval_entry(spark, sf):
        from whoosh_spark.search.evaluate import eval_run

        run, qrels = _eval_frames(spark, sf)
        return eval_run(run, qrels, k=10)

    add(
        "search_eval_metrics",
        _eval_entry,
        PRELUDE_DOCS.rstrip()
        + """,
run AS (
  SELECT term AS query_id, doc_id, score FROM scored
  WHERE term IN ('spark', 'hash', 'merge')),
qr AS (
  SELECT p.term AS query_id, p.doc_id, least(p.w, 3)::INT AS grade
  FROM post p JOIN documents d USING (doc_id)
  WHERE p.term IN ('spark', 'hash', 'merge') AND d.lang = 'en'),
ranked AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(score, 4) DESC, doc_id ASC) AS rank
  FROM run),
topk AS (
  SELECT r.query_id, r.doc_id, r.rank, coalesce(q.grade, 0) AS grade
  FROM ranked r LEFT JOIN qr q USING (query_id, doc_id)
  WHERE r.rank <= 10),
perq AS (
  SELECT query_id, count(*) AS n_ret,
         sum(CASE WHEN grade > 0 THEN 1 ELSE 0 END) AS nrel_k,
         min(CASE WHEN grade > 0 THEN rank END) AS first,
         sum((pow(2.0, grade) - 1.0) / log2(rank + 1.0)) AS dcg
  FROM topk GROUP BY query_id),
id0 AS (
  SELECT query_id, doc_id, grade,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY grade DESC, doc_id ASC) AS r
  FROM qr WHERE grade > 0),
ideal AS (
  SELECT query_id, count(*) AS n_rel,
         sum(CASE WHEN r <= 10
                  THEN (pow(2.0, grade) - 1.0) / log2(r + 1.0)
                  ELSE 0.0 END) AS idcg
  FROM id0 GROUP BY query_id)
-- FULL join mirrors the engine's trec_eval convention: qrels-only
-- queries report zero metrics instead of vanishing.
SELECT query_id, coalesce(p.n_ret, 0)::BIGINT AS n_ret,
       coalesce(i.n_rel, 0)::BIGINT AS n_rel,
       round(coalesce(p.nrel_k, 0) / 10.0, 4) AS p_at_k,
       round(coalesce(1.0 / p.first, 0.0), 4) AS mrr,
       round(CASE WHEN i.idcg > 0 THEN coalesce(p.dcg, 0.0) / i.idcg
                  ELSE 0.0 END, 4) AS ndcg
FROM perq p FULL JOIN ideal i USING (query_id)""",
    )

    _EVAL_PERQ_SQL = """,
final AS (
  SELECT query_id, coalesce(p.nrel_k, 0) AS nrel_k, p.first,
         coalesce(p.dcg, 0.0) AS dcg, i.idcg
  FROM perq p FULL JOIN ideal i USING (query_id))
SELECT count(*)::BIGINT AS n_queries,
       round(avg(round(nrel_k / 10.0, 4)), 4) AS p_at_k,
       round(avg(round(coalesce(1.0 / first, 0.0), 4)), 4) AS mrr,
       round(avg(round(CASE WHEN idcg > 0 THEN dcg / idcg
                            ELSE 0.0 END, 4)), 4) AS ndcg
FROM final"""

    def _eval_summary_entry(spark, sf):
        # macro mean over the same three-query run (eval_summary —
        # trec_eval's summary convention: unweighted mean over queries,
        # run-less qrels queries zero-filled into the denominator);
        # run/qrels come from the SAME _eval_frames as the per-query
        # entry, so the two can never drift apart
        from whoosh_spark.search.evaluate import eval_summary

        run, qrels = _eval_frames(spark, sf)
        return eval_summary(run, qrels, k=10)

    add(
        "search_eval_summary",
        _eval_summary_entry,
        PRELUDE_DOCS.rstrip()
        + """,
run AS (
  SELECT term AS query_id, doc_id, score FROM scored
  WHERE term IN ('spark', 'hash', 'merge')),
qr AS (
  SELECT p.term AS query_id, p.doc_id, least(p.w, 3)::INT AS grade
  FROM post p JOIN documents d USING (doc_id)
  WHERE p.term IN ('spark', 'hash', 'merge') AND d.lang = 'en'),
ranked AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(score, 4) DESC, doc_id ASC) AS rank
  FROM run),
topk AS (
  SELECT r.query_id, r.doc_id, r.rank, coalesce(q.grade, 0) AS grade
  FROM ranked r LEFT JOIN qr q USING (query_id, doc_id)
  WHERE r.rank <= 10),
perq AS (
  SELECT query_id, count(*) AS n_ret,
         sum(CASE WHEN grade > 0 THEN 1 ELSE 0 END) AS nrel_k,
         min(CASE WHEN grade > 0 THEN rank END) AS first,
         sum((pow(2.0, grade) - 1.0) / log2(rank + 1.0)) AS dcg
  FROM topk GROUP BY query_id),
id0 AS (
  SELECT query_id, doc_id, grade,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY grade DESC, doc_id ASC) AS r
  FROM qr WHERE grade > 0),
ideal AS (
  SELECT query_id, count(*) AS n_rel,
         sum(CASE WHEN r <= 10
                  THEN (pow(2.0, grade) - 1.0) / log2(r + 1.0)
                  ELSE 0.0 END) AS idcg
  FROM id0 GROUP BY query_id)"""
        + _EVAL_PERQ_SQL,
    )

    return reg


_PIPELINE_CACHE: dict | None = None


def pipeline_registry() -> dict:
    global _PIPELINE_CACHE
    if _PIPELINE_CACHE is None:
        _PIPELINE_CACHE = _pipeline_registry()
    return _PIPELINE_CACHE
