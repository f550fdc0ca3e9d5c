"""Driver-contract query registry: Spark callables + DuckDB oracle SQL.

Each entry exercises one operator family from SURVEY.md §2 over the
driver's documents/events/embeddings parquet tables. The oracle SQL
re-implements the same semantics (Whoosh tokenization, length quantization,
BM25F, idf) in pure ANSI-ish DuckDB SQL so the driver can cross-check
row-count + schema + values at sf=0.01.

Determinism across engines: scores are rounded to 4 decimals and top-k
ordering uses the ROUNDED score (ties then broken by doc_id) in BOTH
engines, so a 1-ulp ln() difference between the JVM and libm can never
flip membership at the k boundary. Library-internal semantics (full
precision, Whoosh tie-break) are tested separately in tests/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from whoosh_spark import query as Q
from whoosh_spark.analysis import STOP_WORDS
from whoosh_spark.fields import DATETIME, ID, NUMERIC, Schema, documents_schema
from whoosh_spark.indexing import build_index
from whoosh_spark.query.parser import MultifieldParser, QueryParser
from whoosh_spark.search import (
    BM25F,
    FinalWeighting,
    Frequency,
    FunctionFacet,
    FunctionWeighting,
    PL2,
    Searcher,
    TF_IDF,
)

K = 10

# ---------------------------------------------------------------- caching

_CACHE: dict = {}


def _docs_searcher(spark: SparkSession, sf_dir: str, weighting=None) -> Searcher:
    key = ("docs", sf_dir, type(weighting).__name__ if weighting else "BM25F")
    if key not in _CACHE:
        ix_key = ("docs_ix", sf_dir)
        if ix_key not in _CACHE:
            docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
            _CACHE[ix_key] = build_index(spark, docs, documents_schema()).persist()
        _CACHE[key] = Searcher(_CACHE[ix_key], weighting or BM25F())
    return _CACHE[key]


def _events_searcher(spark: SparkSession, sf_dir: str) -> Searcher:
    key = ("events", sf_dir)
    if key not in _CACHE:
        schema = Schema(ID("event_type"), NUMERIC("value"), DATETIME("ts"), NUMERIC("user_id"))
        ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumnRenamed(
            "event_id", "doc_id"
        )
        ix = build_index(spark, ev, schema).persist()
        _CACHE[key] = Searcher(ix)
    return _CACHE[key]


def _rounded(scored: DataFrame) -> DataFrame:
    return scored.withColumn("score", F.round("score", 4))


def _topk(scored: DataFrame, k: int = K) -> DataFrame:
    return _rounded(scored).orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


# ------------------------------------------------------------ oracle SQL

_STOPLIST_SQL = ", ".join(f"'{w}'" for w in sorted(STOP_WORDS))
_PATTERN_SQL = r"\w+(?:\.?\w+)*"

# Shared tokenize/stats prelude. Mirrors: analysis chain (tokenize original,
# lower, stop/minsize filter, renumber positions), byte-quantized doc length
# (util.length_to_byte/byte_to_length), tf postings, df stats, BM25 scores
# with idf = ln(N/(df+1)) + 1, K1=1.2, B=0.75.
# prelude_body(src) parameterizes the source table so the same pipeline can
# oracle both the documents corpus and the derived transcript turns.


# Byte-quantized doc length (util.length_to_byte/byte_to_length) over a
# CTE named rawlen(doc_id, raw_len) — shared by prelude_body and the
# custom-analyzer oracles (biword) so the mirrors can never drift apart.
DL_CASE_SQL = """dl AS (
  SELECT doc_id, raw_len,
         CASE WHEN raw_len <= 0 THEN 0
              WHEN raw_len >= 68000 THEN CAST(round((power(1.0325, 255) - 1) * 8) AS BIGINT)
              ELSE CAST(round((power(1.0325,
                     LEAST(255, CAST(round(ln(raw_len / 8.0 + 1) / ln(1.0325)) AS INTEGER))
                   ) - 1) * 8) AS BIGINT)
         END AS dl
  FROM rawlen
)"""

# BM25 scored-postings CTE over post/tstat/dl/gstat — shared for the same
# reason (K1=1.2, B=0.75, idf = ln(N/(df+1)) + 1).
SCORED_SQL = """scored AS (
  SELECT p.doc_id, p.term, p.w,
         (ln(g.n / (t.df + 1)) + 1) * (p.w * 2.2)
           / (p.w + 1.2 * (0.25 + 0.75 * l.dl / g.avgdl)) AS score
  FROM post p
  JOIN tstat t USING (term)
  JOIN dl l USING (doc_id)
  CROSS JOIN gstat g
)"""


def prelude_body(src: str, pattern: str = _PATTERN_SQL) -> str:
    # ``pattern`` swaps the tokenizer regex for corpora whose derived
    # tokens fall outside RE2's ASCII \w (the Python analyzer's \w is
    # Unicode): russian_search_topk passes [\w\p{Cyrillic}] so its
    # appended Cyrillic forms tokenize identically on both sides.
    return f"""tok AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '{pattern}')) AS term,
         generate_subscripts(regexp_extract_all(lower(text), '{pattern}'), 1) AS ord
  FROM {src}
),
ftok AS (
  SELECT doc_id, term,
         row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1 AS pos
  FROM tok
  WHERE length(term) >= 2 AND term NOT IN ({_STOPLIST_SQL})
),
rawlen AS (
  SELECT d.doc_id, coalesce(c.n, 0)::BIGINT AS raw_len
  FROM {src} d
  LEFT JOIN (SELECT doc_id, count(*) AS n FROM ftok GROUP BY doc_id) c USING (doc_id)
),
{DL_CASE_SQL},
post AS (
  SELECT doc_id, term, count(*)::DOUBLE AS w FROM ftok GROUP BY doc_id, term
),
tstat AS (SELECT term, count(*)::DOUBLE AS df FROM post GROUP BY term),
gstat AS (
  SELECT (SELECT count(*) FROM {src})::DOUBLE AS n,
         (SELECT sum(raw_len)::DOUBLE FROM rawlen) / (SELECT count(*) FROM {src}) AS avgdl
),
{SCORED_SQL}"""



PRELUDE = "\nWITH " + prelude_body("documents") + "\n"

_TOPK_TAIL = "ORDER BY score DESC, doc_id ASC LIMIT {k}"


def _sql_topk(body: str, k: int = K) -> str:
    return f"{PRELUDE}\nSELECT doc_id, round(score, 4) AS score FROM ({body})\n" + _TOPK_TAIL.format(k=k)


# ------------------------------------------------------------- the registry
# name -> (spark_callable, oracle_sql or None)


def _registry() -> dict:
    reg: dict = {}

    def add(name, fn, sql):
        reg[name] = (fn, sql)

    # --- Term / boolean operators (SURVEY §2.4/§2.5) ---

    add(
        "term_bm25_topk",
        lambda spark, sf: _topk(_docs_searcher(spark, sf).compile(Q.Term("text", "spark"))),
        _sql_topk("SELECT doc_id, score FROM scored WHERE term = 'spark'"),
    )

    def _batch_query(spark, sf):
        # Searcher.search_many: 3 heterogeneous query trees (term / OR /
        # positional phrase), ONE Spark action, per-query rounded re-rank
        from pyspark.sql import Window

        s = _docs_searcher(spark, sf)
        queries = {
            0: Q.Term("text", "spark"),
            1: Q.Or([Q.Term("text", "spark"), Q.Term("text", "vector")]),
            2: Q.Phrase("text", ["hash", "join"]),
        }
        raw = s.search_many(queries, limit=3 * K)
        rounded = raw.withColumn("score", F.round("score", 4))
        rn = F.row_number().over(
            Window.partitionBy("query_id").orderBy(F.desc("score"),
                                                   F.asc("doc_id")))
        return (rounded.withColumn("rn", rn).where(F.col("rn") <= K)
                .drop("rn")
                .orderBy("query_id", F.desc("score"), F.asc("doc_id")))

    add(
        "batch_query_topk",
        _batch_query,
        PRELUDE
        + """
SELECT query_id, doc_id, score FROM (
  SELECT query_id, doc_id, round(score, 4) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(score, 4) DESC, doc_id ASC) AS rn
  FROM (
    SELECT 0 AS query_id, doc_id, score FROM scored WHERE term = 'spark'
    UNION ALL
    SELECT 1, doc_id, sum(score) FROM scored
      WHERE term IN ('spark','vector') GROUP BY doc_id
    UNION ALL
    SELECT 2, s.doc_id, sum(s.score) FROM scored s
      WHERE s.term IN ('hash','join')
      AND s.doc_id IN (SELECT a.doc_id FROM ftok a JOIN ftok b
                       ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
                       WHERE a.term = 'hash' AND b.term = 'join')
      GROUP BY s.doc_id HAVING count(*) = 2
  )
) WHERE rn <= 10 ORDER BY query_id, score DESC, doc_id ASC
""",
    )

    add(
        "and_bm25_topk",
        lambda spark, sf: _topk(
            _docs_searcher(spark, sf).compile(
                Q.And([Q.Term("text", "hash"), Q.Term("text", "join")])
            )
        ),
        _sql_topk(
            "SELECT doc_id, sum(score) AS score FROM scored WHERE term IN ('hash','join') "
            "GROUP BY doc_id HAVING count(*) = 2"
        ),
    )

    add(
        "or_bm25_topk",
        lambda spark, sf: _topk(
            _docs_searcher(spark, sf).compile(
                Q.Or([Q.Term("text", "spark"), Q.Term("text", "vector")])
            )
        ),
        _sql_topk(
            "SELECT doc_id, sum(score) AS score FROM scored WHERE term IN ('spark','vector') "
            "GROUP BY doc_id"
        ),
    )

    add(
        "andnot_bm25_topk",
        lambda spark, sf: _topk(
            _docs_searcher(spark, sf).compile(
                Q.AndNot(Q.Term("text", "merge"), Q.Term("text", "window"))
            )
        ),
        _sql_topk(
            "SELECT doc_id, score FROM scored WHERE term = 'merge' AND doc_id NOT IN "
            "(SELECT doc_id FROM post WHERE term = 'window')"
        ),
    )

    add(
        "andmaybe_bm25_topk",
        lambda spark, sf: _topk(
            _docs_searcher(spark, sf).compile(
                Q.AndMaybe(Q.Term("text", "merge"), Q.Term("text", "spark"))
            )
        ),
        _sql_topk(
            "SELECT doc_id, sum(score) AS score FROM scored WHERE term IN ('merge','spark') "
            "GROUP BY doc_id HAVING bool_or(term = 'merge')"
        ),
    )

    add(
        "require_bm25_topk",
        lambda spark, sf: _topk(
            _docs_searcher(spark, sf).compile(
                Q.Require(Q.Term("text", "spark"), Q.Term("text", "join"))
            )
        ),
        _sql_topk(
            "SELECT doc_id, score FROM scored WHERE term = 'spark' AND doc_id IN "
            "(SELECT doc_id FROM post WHERE term = 'join')"
        ),
    )

    add(
        "dismax_bm25_topk",
        lambda spark, sf: _topk(
            _docs_searcher(spark, sf).compile(
                Q.DisjunctionMax([Q.Term("text", "spark"), Q.Term("text", "hash")])
            )
        ),
        _sql_topk(
            "SELECT doc_id, max(score) AS score FROM scored WHERE term IN ('spark','hash') "
            "GROUP BY doc_id"
        ),
    )

    add(
        "or_scale_coord_topk",
        lambda spark, sf: _topk(
            _docs_searcher(spark, sf).compile(
                Q.Or(
                    [Q.Term("text", "spark"), Q.Term("text", "hash"), Q.Term("text", "join")],
                    scale=0.5,
                )
            )
        ),
        _sql_topk(
            "SELECT doc_id, sum(score) * (0.5 + 0.5 * count(DISTINCT term) / 3.0) AS score "
            "FROM scored WHERE term IN ('spark','hash','join') GROUP BY doc_id"
        ),
    )

    add(
        "or_minmatch_topk",
        # Or(minmatch=2): only docs matching >= 2 distinct children score
        # (compound.py::Or.__init__ minmatch) — plain union sum otherwise
        lambda spark, sf: _topk(
            _docs_searcher(spark, sf).compile(
                Q.Or(
                    [Q.Term("text", "spark"), Q.Term("text", "hash"), Q.Term("text", "join")],
                    minmatch=2,
                )
            )
        ),
        _sql_topk(
            "SELECT doc_id, sum(score) AS score "
            "FROM scored WHERE term IN ('spark','hash','join') "
            "GROUP BY doc_id HAVING count(*) >= 2"
        ),
    )

    add(
        "otherwise_fallback_topk",
        lambda spark, sf: _topk(
            _docs_searcher(spark, sf).compile(
                Q.Otherwise(Q.Term("text", "zzzznomatch"), Q.Term("text", "merge"))
            )
        ),
        _sql_topk(
            "SELECT doc_id, score FROM scored WHERE term = CASE WHEN EXISTS "
            "(SELECT 1 FROM post WHERE term = 'zzzznomatch') THEN 'zzzznomatch' ELSE 'merge' END"
        ),
    )

    add(
        "not_complement_count",
        lambda spark, sf: _docs_searcher(spark, sf)
        .compile(Q.Not(Q.Term("text", "spark")))
        .agg(F.count("*").alias("n_docs")),
        PRELUDE
        + "SELECT count(*)::BIGINT AS n_docs FROM documents WHERE doc_id NOT IN "
        "(SELECT doc_id FROM post WHERE term = 'spark')",
    )

    # --- positional (SURVEY §2.5 Phrase) ---

    add(
        "phrase_bm25_topk",
        lambda spark, sf: _topk(
            _docs_searcher(spark, sf).compile(Q.Phrase("text", ["hash", "join"]))
        ),
        _sql_topk(
            "SELECT s.doc_id, sum(s.score) AS score FROM scored s WHERE s.term IN ('hash','join') "
            "AND s.doc_id IN (SELECT a.doc_id FROM ftok a JOIN ftok b ON a.doc_id = b.doc_id "
            "AND b.pos = a.pos + 1 WHERE a.term = 'hash' AND b.term = 'join') "
            "GROUP BY s.doc_id HAVING count(*) = 2"
        ),
    )

    add(
        "phrase_slop2_topk",
        lambda spark, sf: _topk(
            _docs_searcher(spark, sf).compile(Q.Phrase("text", ["slow", "query"], slop=2))
        ),
        _sql_topk(
            "SELECT s.doc_id, sum(s.score) AS score FROM scored s WHERE s.term IN ('slow','query') "
            "AND s.doc_id IN (SELECT a.doc_id FROM ftok a JOIN ftok b ON a.doc_id = b.doc_id "
            "AND b.pos > a.pos AND b.pos <= a.pos + 2 WHERE a.term = 'slow' AND b.term = 'query') "
            "GROUP BY s.doc_id HAVING count(*) = 2"
        ),
    )

    # --- lexicon-expanded multi-term (SURVEY §2.5 Prefix/Wildcard/Fuzzy/Range) ---

    add(
        "prefix_bm25_topk",
        lambda spark, sf: _topk(_docs_searcher(spark, sf).compile(Q.Prefix("text", "sca"))),
        _sql_topk(
            "SELECT doc_id, sum(score) AS score FROM scored WHERE term LIKE 'sca%' GROUP BY doc_id"
        ),
    )

    add(
        "wildcard_bm25_topk",
        lambda spark, sf: _topk(_docs_searcher(spark, sf).compile(Q.Wildcard("text", "s*m"))),
        _sql_topk(
            "SELECT doc_id, sum(score) AS score FROM scored "
            "WHERE regexp_full_match(term, 's.*m') GROUP BY doc_id"
        ),
    )

    add(
        # Regex term expansion is START-anchored like the reference's
        # PatternQuery._btexts re.match loop (executor.py::_c_regex) — so
        # 'quer' matches 'query'/'queries' but not 'inquery'-style infixes;
        # the oracle mirrors with a ^-anchored (unterminated) regexp_matches.
        "regex_bm25_topk",
        lambda spark, sf: _topk(_docs_searcher(spark, sf).compile(Q.Regex("text", "quer"))),
        _sql_topk(
            "SELECT doc_id, sum(score) AS score FROM scored "
            "WHERE regexp_matches(term, '^(?:quer)') GROUP BY doc_id"
        ),
    )

    add(
        "fuzzy_bm25_topk",
        lambda spark, sf: _topk(
            _docs_searcher(spark, sf).compile(Q.FuzzyTerm("text", "querry"))
        ),
        _sql_topk(
            "SELECT doc_id, sum(score) AS score FROM scored "
            "WHERE term LIKE 'q%' AND levenshtein(term, 'querry') <= 1 GROUP BY doc_id"
        ),
    )

    from whoosh_spark.query.nodes import variation_forms

    _var_forms_sql = ", ".join(f"'{t}'" for t in variation_forms("join"))
    add(
        "variations_topk",
        lambda spark, sf: _topk(
            _docs_searcher(spark, sf).compile(Q.Variations("text", "join"))
        ),
        _sql_topk(
            f"SELECT doc_id, sum(score) AS score FROM scored WHERE term IN ({_var_forms_sql}) "
            "GROUP BY doc_id"
        ),
    )

    add(
        "termrange_bm25_topk",
        lambda spark, sf: _topk(
            _docs_searcher(spark, sf).compile(Q.TermRange("text", "batch", "filter"))
        ),
        _sql_topk(
            "SELECT doc_id, sum(score) AS score FROM scored "
            "WHERE term >= 'batch' AND term <= 'filter' GROUP BY doc_id"
        ),
    )

    # --- native predicates (NumericRange / DateRange / Every) ---

    add(
        "numericrange_docs",
        lambda spark, sf: _docs_searcher(spark, sf)
        .compile(Q.NumericRange("n_chars", 100, 200))
        .select("doc_id", "score"),
        "SELECT doc_id, 1.0::DOUBLE AS score FROM documents WHERE n_chars >= 100 AND n_chars <= 200",
    )

    add(
        "daterange_events",
        lambda spark, sf: _events_searcher(spark, sf)
        .compile(
            Q.And(
                [
                    Q.Term("event_type", "click"),
                    Q.DateRange(
                        "ts",
                        __import__("datetime").datetime(2024, 1, 1),
                        __import__("datetime").datetime(2024, 1, 2),
                    ),
                ]
            )
        )
        .select("doc_id", "score"),
        "SELECT event_id AS doc_id, 2.0::DOUBLE AS score FROM events "
        "WHERE event_type = 'click' AND ts >= TIMESTAMP '2024-01-01' AND ts <= TIMESTAMP '2024-01-02'",
    )

    add(
        "every_count",
        lambda spark, sf: _docs_searcher(spark, sf)
        .compile(Q.Every())
        .agg(F.count("*").alias("n_docs")),
        "SELECT count(*)::BIGINT AS n_docs FROM documents",
    )

    # --- mixed-field / boost ---

    add(
        "idfield_and_text_topk",
        lambda spark, sf: _topk(
            _docs_searcher(spark, sf).compile(
                Q.And([Q.Term("lang", "en"), Q.Term("text", "spark")])
            )
        ),
        _sql_topk(
            "SELECT s.doc_id, s.score + 1.0 AS score FROM scored s "
            "JOIN documents d ON s.doc_id = d.doc_id AND d.lang = 'en' WHERE s.term = 'spark'"
        ),
    )

    add(
        "boost_group_topk",
        lambda spark, sf: _topk(
            _docs_searcher(spark, sf).compile(
                Q.Or(
                    [
                        Q.Term("text", "spark", boost=2.0),
                        Q.And([Q.Term("text", "join"), Q.Term("text", "batch")]),
                    ]
                )
            )
        ),
        _sql_topk(
            "SELECT doc_id, sum(score) AS score FROM ("
            "  SELECT doc_id, 2 * score AS score FROM scored WHERE term = 'spark'"
            "  UNION ALL"
            "  SELECT doc_id, sum(score) AS score FROM scored WHERE term IN ('join','batch')"
            "  GROUP BY doc_id HAVING count(*) = 2"
            ") GROUP BY doc_id"
        ),
    )

    # --- collectors (SURVEY §2.7) ---

    add(
        "facet_count_by_lang",
        lambda spark, sf: _docs_searcher(spark, sf).group_counts(
            Q.Or([Q.Term("text", "spark"), Q.Term("text", "vector")]), "lang"
        ),
        PRELUDE
        + "SELECT d.lang, count(*)::BIGINT AS count FROM "
        "(SELECT doc_id FROM post WHERE term IN ('spark','vector') GROUP BY doc_id) q "
        "JOIN documents d USING (doc_id) GROUP BY d.lang",
    )

    def _overlap_topn(spark, sf):
        # grouped top-n under allow_overlap: best 2 docs per term key for
        # a fixed key set, rounded-score ranks per registry discipline
        s = _docs_searcher(spark, sf)
        scored = _rounded(s.compile(Q.Term("text", "spark")))
        return s.group_topn_overlap(
            scored, "text", n=2, keys=["join", "vector", "scan", "stream"])

    add(
        "facet_overlap_topn",
        _overlap_topn,
        PRELUDE
        + "SELECT term, doc_id, score, rank FROM ("
        "  SELECT p.term, s.doc_id, round(s.score, 4) AS score,"
        "         row_number() OVER (PARTITION BY p.term"
        "           ORDER BY round(s.score, 4) DESC, s.doc_id ASC) AS rank"
        "  FROM (SELECT doc_id, score FROM scored WHERE term = 'spark') s"
        "  JOIN post p USING (doc_id)"
        "  WHERE p.term IN ('join','vector','scan','stream')"
        ") WHERE rank <= 2",
    )

    add(
        # FieldFacet(allow_overlap=True) (sorting.py ~L150): each matching
        # doc counts under EVERY text term it contains — the multi-valued
        # keyword facet; top-20 keys, ties term-ascending in both engines
        "facet_overlap_top20",
        lambda spark, sf: _docs_searcher(spark, sf).group_counts_overlap(
            Q.Term("text", "spark"), "text", n=20
        ),
        PRELUDE
        + "SELECT term, count FROM ("
        "  SELECT p.term, count(*)::BIGINT AS count FROM post p"
        "  WHERE p.doc_id IN (SELECT doc_id FROM post WHERE term = 'spark')"
        "  GROUP BY p.term"
        ") ORDER BY count DESC, term ASC LIMIT 20",
    )

    add(
        "facet_query_buckets",
        # QueryFacet (sorting.py::QueryFacet, allow_overlap): q's matches
        # counted into named bucket QUERIES — arbitrary trees, here two
        # terms and a numeric range; a doc matching several buckets counts
        # in each
        lambda spark, sf: _docs_searcher(spark, sf).query_counts(
            Q.Term("text", "spark"),
            {"joins": Q.Term("text", "join"),
             "merges": Q.Term("text", "merge"),
             "short": Q.NumericRange("n_chars", 0, 200)},
        ),
        PRELUDE
        + """
SELECT bucket, count(*)::BIGINT AS count FROM (
  SELECT 'joins' AS bucket, b.doc_id
  FROM (SELECT DISTINCT doc_id FROM post WHERE term = 'spark') b
  WHERE b.doc_id IN (SELECT doc_id FROM post WHERE term = 'join')
  UNION ALL
  SELECT 'merges', b.doc_id
  FROM (SELECT DISTINCT doc_id FROM post WHERE term = 'spark') b
  WHERE b.doc_id IN (SELECT doc_id FROM post WHERE term = 'merge')
  UNION ALL
  SELECT 'short', b.doc_id
  FROM (SELECT DISTINCT doc_id FROM post WHERE term = 'spark') b
  JOIN documents d ON d.doc_id = b.doc_id
  WHERE d.n_chars >= 0 AND d.n_chars <= 200
) GROUP BY bucket
""",
    )

    def _facet_best(spark, sf):
        s = _docs_searcher(spark, sf)
        scored = _rounded(s.compile(Q.Term("text", "spark")))
        docs = s.index.docs.select(F.col("doc_id"), "lang")
        w = Window.partitionBy("lang").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            scored.join(docs, "doc_id")
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("lang", "doc_id", "score")
        )

    add(
        "facet_best_by_lang",
        _facet_best,
        PRELUDE
        + "SELECT lang, doc_id, score FROM ("
        "  SELECT d.lang, s.doc_id, round(s.score, 4) AS score,"
        "         row_number() OVER (PARTITION BY d.lang ORDER BY round(s.score, 4) DESC, s.doc_id) AS rn"
        "  FROM scored s JOIN documents d USING (doc_id) WHERE s.term = 'spark'"
        ") WHERE rn = 1",
    )

    def _group_topn(spark, sf):
        # top-3 per facet value (executor.py::Searcher.group_topn — the
        # grouped generalization of the Best maptype); ranks over the
        # rounded score per the registry discipline
        s = _docs_searcher(spark, sf)
        scored = _rounded(s.compile(Q.Term("text", "spark")))
        return s.group_topn(scored, "lang", n=3)

    add(
        "facet_top3_by_lang",
        _group_topn,
        PRELUDE
        + "SELECT lang, doc_id, score, rank::INT AS rank FROM ("
        "  SELECT d.lang, s.doc_id, round(s.score, 4) AS score,"
        "         row_number() OVER (PARTITION BY d.lang ORDER BY round(s.score, 4) DESC, s.doc_id) AS rank"
        "  FROM scored s JOIN documents d USING (doc_id) WHERE s.term = 'spark'"
        ") WHERE rank <= 3",
    )

    def _collapse(spark, sf):
        s = _docs_searcher(spark, sf)
        scored = _rounded(s.compile(Q.Term("text", "spark")))
        docs = s.index.docs.select(F.col("doc_id"), "source")
        w = Window.partitionBy("source").orderBy(F.desc("score"), F.asc("doc_id"))
        best = (
            scored.join(docs, "doc_id")
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("doc_id", "score")
        )
        return best.orderBy(F.desc("score"), F.asc("doc_id")).limit(K)

    add(
        "collapse_by_source_topk",
        _collapse,
        PRELUDE
        + "SELECT doc_id, score FROM ("
        "  SELECT s.doc_id, round(s.score, 4) AS score,"
        "         row_number() OVER (PARTITION BY d.source ORDER BY round(s.score, 4) DESC, s.doc_id) AS rn"
        "  FROM scored s JOIN documents d USING (doc_id) WHERE s.term = 'spark'"
        ") WHERE rn = 1 ORDER BY score DESC, doc_id ASC LIMIT 10",
    )

    def _collapse_order(spark, sf):
        # collapse_order (searching.py::Searcher.search(collapse_order=)):
        # the facet — not the score — picks each source's survivor
        # (lowest n_chars, ties doc_id-asc); registry discipline rounds
        # scores before the final ordering like every topk entry
        from whoosh_spark.search.facets import FieldFacet

        s = _docs_searcher(spark, sf)
        scored = _rounded(s.compile(Q.Term("text", "spark")))
        best = s._collapse(scored, "source", 1, order=FieldFacet("n_chars"))
        return best.orderBy(F.desc("score"), F.asc("doc_id")).limit(K)

    add(
        "collapse_order_topk",
        _collapse_order,
        PRELUDE
        + "SELECT doc_id, score FROM ("
        "  SELECT s.doc_id, round(s.score, 4) AS score,"
        "         row_number() OVER (PARTITION BY d.source ORDER BY d.n_chars ASC, s.doc_id) AS rn"
        "  FROM scored s JOIN documents d USING (doc_id) WHERE s.term = 'spark'"
        ") WHERE rn = 1 ORDER BY score DESC, doc_id ASC LIMIT 10",
    )

    def _page2(spark, sf):
        s = _docs_searcher(spark, sf)
        scored = _rounded(
            s.compile(Q.Or([Q.Term("text", "spark"), Q.Term("text", "vector")]))
        )
        top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            top.withColumn("_rn", F.row_number().over(w))
            .where((F.col("_rn") >= 6) & (F.col("_rn") <= 10))
            .drop("_rn")
        )

    add(
        "page2_or_query",
        _page2,
        _sql_topk(
            "SELECT doc_id, sum(score) AS score FROM scored WHERE term IN ('spark','vector') "
            "GROUP BY doc_id",
            k=5,
        )
        + " OFFSET 5",
    )

    add(
        "filter_mask_topk",
        lambda spark, sf: _topk(
            _docs_searcher(spark, sf)._apply_filter_mask(
                _docs_searcher(spark, sf).compile(Q.Term("text", "spark")),
                Q.Term("lang", "en"),
                Q.Term("source", "src3"),
            )
        ),
        _sql_topk(
            "SELECT s.doc_id, s.score FROM scored s JOIN documents d USING (doc_id) "
            "WHERE s.term = 'spark' AND d.lang = 'en' AND d.source <> 'src3'"
        ),
    )

    add(
        "matched_terms",
        lambda spark, sf: _docs_searcher(spark, sf)
        .matched_terms(Q.Or([Q.Term("text", "spark"), Q.Term("text", "vector")]))
        .select("doc_id", F.array_join("terms", ",").alias("terms_csv")),
        PRELUDE
        + "SELECT doc_id, string_agg(term, ',' ORDER BY term) AS terms_csv FROM post "
        "WHERE term IN ('spark','vector') GROUP BY doc_id",
    )

    add(
        "sorted_by_lang",
        lambda spark, sf: _docs_searcher(spark, sf)
        .with_stored_fields(
            _docs_searcher(spark, sf).compile(Q.Term("text", "vector")), "lang"
        )
        .select("doc_id", "lang"),
        PRELUDE
        + "SELECT s.doc_id, d.lang FROM scored s JOIN documents d USING (doc_id) "
        "WHERE s.term = 'vector'",
    )

    add(
        # score_breakdown (beyond-reference explain surface): per-leaf
        # BM25 contributions for one document; absent leaves ('vector'
        # may not occur in doc 0) simply emit no row in both engines
        "score_breakdown_doc",
        lambda spark, sf: _docs_searcher(spark, sf)
        .score_breakdown(
            Q.Or([Q.Term("text", "spark"), Q.Term("text", "vector")]), 0
        )
        .select("field", "term", F.round("score", 4).alias("score")),
        PRELUDE
        + "SELECT 'text' AS field, term, round(score, 4) AS score "
        "FROM scored WHERE doc_id = 0 AND term IN ('spark', 'vector')",
    )

    def _sorted_translate(spark, sf):
        # TranslateFacet (sorting.py::TranslateFacet): sort by a function
        # of another facet's key — here n_chars % 97, kept as a JVM
        # expression; limit membership pins the translated ordering
        from whoosh_spark.search.facets import FieldFacet, TranslateFacet

        s = _docs_searcher(spark, sf)
        tf = TranslateFacet(lambda c: c % 97, FieldFacet("n_chars"), name="tkey")
        out = s.search(Q.Term("text", "vector"), limit=15, sortedby=[tf])
        return out.select("doc_id", F.col("tkey").cast("long").alias("tkey"))

    add(
        "sorted_by_translate",
        _sorted_translate,
        PRELUDE
        + "SELECT doc_id, tkey FROM ("
        "  SELECT s.doc_id, (d.n_chars % 97)::BIGINT AS tkey"
        "  FROM scored s JOIN documents d USING (doc_id)"
        "  WHERE s.term = 'vector'"
        ") ORDER BY tkey ASC, doc_id ASC LIMIT 15",
    )

    # --- alternative weightings (SURVEY §2.6) ---

    add(
        "tfidf_topk",
        lambda spark, sf: _topk(
            _docs_searcher(spark, sf, TF_IDF()).compile(Q.Term("text", "spark"))
        ),
        _sql_topk(
            "SELECT p.doc_id, p.w * (ln(g.n / (t.df + 1)) + 1) AS score "
            "FROM post p JOIN tstat t USING (term) CROSS JOIN gstat g WHERE p.term = 'spark'"
        ),
    )

    add(
        # final() hook (reference: scoring.py::WeightingModel.final ~L120,
        # use_final flag): a named post-transform over the ACCUMULATED
        # per-doc score — applied after the Or-sum, not per term, which is
        # exactly what the sqrt-of-sum oracle distinguishes (sum of sqrts
        # would differ). use_final also excludes the model from block-max
        # pruning, as the reference does.
        "final_hook_topk",
        # search(), not compile(): the hook fires before collection
        # (executor.py applies final_expr on the accumulated score), and
        # compile() is the pre-final scored frame by contract
        lambda spark, sf: _topk(
            _docs_searcher(
                spark, sf, FinalWeighting(BM25F(), lambda s: F.sqrt(s))
            ).search(Q.Or([Q.Term("text", "spark"), Q.Term("text", "vector")]),
                     limit=3 * K)
        ),
        _sql_topk(
            "SELECT doc_id, sqrt(sum(score)) AS score FROM scored "
            "WHERE term IN ('spark','vector') GROUP BY doc_id"
        ),
    )

    add(
        "frequency_topk",
        lambda spark, sf: _topk(
            _docs_searcher(spark, sf, Frequency()).compile(Q.Term("text", "hash"))
        ),
        _sql_topk("SELECT doc_id, w AS score FROM post WHERE term = 'hash'"),
    )

    add(
        "pl2_topk",
        lambda spark, sf: _topk(
            _docs_searcher(spark, sf, PL2()).compile(Q.Term("text", "spark"))
        ),
        PRELUDE
        + """, cstat AS (SELECT term, sum(w) AS cf FROM post GROUP BY term)
SELECT doc_id, round(score, 4) AS score FROM (
  SELECT doc_id,
         (1.0 / (tfn + 1)) * (tfn * log2(tfn / lam)
                              + (lam - tfn) * (1.0 / ln(2))
                              + 0.5 * log2(2 * pi() * tfn)) AS score
  FROM (
    SELECT p.doc_id,
           p.w * log2(1 + 1.0 * g.avgdl / l.dl) AS tfn,
           c.cf / g.n AS lam
    FROM post p JOIN cstat c USING (term) JOIN dl l USING (doc_id) CROSS JOIN gstat g
    WHERE p.term = 'spark'
  )
) ORDER BY score DESC, doc_id ASC LIMIT 10""",
    )

    add(
        "funcweight_topk",
        lambda spark, sf: _topk(
            _docs_searcher(
                spark,
                sf,
                FunctionWeighting(
                    lambda idf_c, avgdl, w, dl: idf_c * w / F.sqrt(dl.cast("double") + w)
                ),
            ).compile(Q.Term("text", "spark"))
        ),
        _sql_topk(
            "SELECT p.doc_id, (ln(g.n / (t.df + 1)) + 1) * p.w / sqrt(l.dl + p.w) AS score "
            "FROM post p JOIN tstat t USING (term) JOIN dl l USING (doc_id) "
            "CROSS JOIN gstat g WHERE p.term = 'spark'"
        ),
    )

    add(
        "multifield_or_topk",
        lambda spark, sf: _topk(
            _docs_searcher(spark, sf).compile(
                MultifieldParser(["text", "lang"], documents_schema()).parse("en")
            )
        ),
        _sql_topk(
            "SELECT doc_id, sum(score) AS score FROM ("
            "  SELECT doc_id, score FROM scored WHERE term = 'en'"
            "  UNION ALL"
            "  SELECT doc_id, 1.0 AS score FROM documents WHERE lang = 'en'"
            ") GROUP BY doc_id"
        ),
    )

    add(
        # CopyFieldPlugin (parser.py::add_copyfield): the explicit
        # ``lang:en`` leaf is rewritten to ``(lang:en OR text:en)`` at
        # parse time; oracle = union of the ID-field match (weight 1.0)
        # and the BM25 text-term scores, same shape as multifield_or_topk.
        "copyfield_parse_topk",
        lambda spark, sf: _topk(
            _docs_searcher(spark, sf).compile(
                QueryParser(
                    "text", documents_schema(), copyfields={"lang": "text"}
                ).parse("lang:en")
            )
        ),
        _sql_topk(
            "SELECT doc_id, sum(score) AS score FROM ("
            "  SELECT doc_id, 1.0 AS score FROM documents WHERE lang = 'en'"
            "  UNION ALL"
            "  SELECT doc_id, score FROM scored WHERE term = 'en'"
            ") GROUP BY doc_id"
        ),
    )

    add(
        "term_vector_doc",
        lambda spark, sf: _docs_searcher(spark, sf).index.vector(7, "text"),
        PRELUDE
        + "SELECT term, w AS weight FROM post WHERE doc_id = 7 ORDER BY term",
    )

    add(
        "sorted_by_function_facet",
        lambda spark, sf: _docs_searcher(spark, sf)
        .search(
            Q.Term("text", "vector"),
            sortedby=[
                FunctionFacet(
                    lambda fns: fns.col("n_chars") % 100,
                    columns=("n_chars",),
                    name="bucket",
                )
            ],
            limit=10,
        )
        .select("doc_id", "bucket"),
        PRELUDE
        + "SELECT doc_id, (d.n_chars % 100) AS bucket FROM "
        "(SELECT DISTINCT doc_id FROM post WHERE term = 'vector') q "
        "JOIN documents d USING (doc_id) ORDER BY bucket ASC, doc_id ASC LIMIT 10",
    )

    # --- index stats / reader API (SURVEY §2.9 term stats) ---

    add(
        "lexicon_stats",
        lambda spark, sf: _docs_searcher(spark, sf)
        .index.terms.where(F.col("field") == "text")
        .select("term", "df", "total_weight"),
        PRELUDE
        + "SELECT term, count(*)::BIGINT AS df, sum(w)::DOUBLE AS total_weight "
        "FROM post GROUP BY term",
    )

    add(
        "doclens",
        lambda spark, sf: _docs_searcher(spark, sf)
        .index.postings.where(F.col("field") == "text")
        .groupBy("doc_id")
        .agg(
            F.sum("weight").cast("long").alias("raw_len"),
            F.first("dl").alias("dl"),
        ),
        PRELUDE
        + "SELECT doc_id, raw_len, dl FROM dl WHERE raw_len > 0",
    )

    def _distinctive(spark, sf):
        # collection_frequency_rank(most=False) with the score rounded
        # BEFORE ranking, so the k-boundary is ulp-stable across engines
        ixx = _docs_searcher(spark, sf).index
        score = F.round(
            F.col("total_weight") * F.log(F.lit(float(ixx.doc_count)) / F.col("df")), 4
        )
        return (
            ixx.terms.where(F.col("field") == "text")
            .select("term", score.alias("score"))
            .orderBy(F.desc("score"), F.asc("term"))
            .limit(10)
        )

    add(
        "most_distinctive_terms",
        _distinctive,
        PRELUDE
        + "SELECT term, round(sum(w) * ln((SELECT count(*) FROM documents)::DOUBLE / count(*)), 4) AS score "
        "FROM post GROUP BY term ORDER BY score DESC, term ASC LIMIT 10",
    )

    add(
        "top_terms",
        lambda spark, sf: _docs_searcher(spark, sf)
        .index.terms.where(F.col("field") == "text")
        .select("term", "total_weight")
        .orderBy(F.desc("total_weight"), F.asc("term"))
        .limit(10),
        PRELUDE
        + "SELECT term, sum(w)::DOUBLE AS total_weight FROM post GROUP BY term "
        "ORDER BY total_weight DESC, term ASC LIMIT 10",
    )

    add(
        "complete_prefix_topk",
        # ranked prefix completion (search-as-you-type): top terms by
        # collection weight under a prefix — one row-group-pruned pass
        # over the sorted terms table + TakeOrderedAndProject
        # (InvertedIndex.most_frequent_terms(prefix=); reference:
        # reading.py::IndexReader.most_frequent_terms + expand_prefix)
        lambda spark, sf: _docs_searcher(spark, sf)
        .index.most_frequent_terms("text", number=10, prefix="s"),
        PRELUDE
        + "SELECT term, sum(w)::DOUBLE AS freq FROM post "
        "WHERE term LIKE 's%' GROUP BY term "
        "ORDER BY freq DESC, term ASC LIMIT 10",
    )

    def _facet_stats(spark, sf):
        # per-bucket numeric stats over the match set (the stats-agg
        # search-analytics shape): rounded scored frame in, one
        # stored-field join + one map-side-combined groupBy
        s = _docs_searcher(spark, sf)
        scored = _rounded(s.compile(Q.Term("text", "spark")))
        out = s.group_stats(scored, "lang", "n_chars")
        return out.select(
            "lang", "n",
            F.round("min_value", 4).alias("min_value"),
            F.round("max_value", 4).alias("max_value"),
            F.round("sum_value", 4).alias("sum_value"),
            F.round("avg_value", 4).alias("avg_value"),
            F.round("max_score", 4).alias("max_score"),
        )

    add(
        "facet_stats_by_lang",
        _facet_stats,
        PRELUDE
        + """SELECT d.lang, count(*)::BIGINT AS n,
       round(min(d.n_chars::DOUBLE), 4) AS min_value,
       round(max(d.n_chars::DOUBLE), 4) AS max_value,
       round(sum(d.n_chars::DOUBLE), 4) AS sum_value,
       round(avg(d.n_chars::DOUBLE), 4) AS avg_value,
       round(max(s.score), 4) AS max_score
FROM (SELECT doc_id, round(score, 4) AS score FROM scored WHERE term = 'spark') s
JOIN documents d USING (doc_id)
GROUP BY d.lang""",
    )

    def _sig_terms(spark, sf):
        # significant-terms facet: per-bucket Bo1 distinctive terms of
        # the match set (search/aux.py::significant_terms — key_terms
        # generalized to every facet bucket in one plan)
        from whoosh_spark.search.aux import significant_terms

        s = _docs_searcher(spark, sf)
        scored = s.compile(Q.Term("text", "spark"))
        docs = s.index.docs.select("doc_id", F.col("lang").alias("bucket"))
        db = scored.join(docs, "doc_id").select("doc_id", "bucket")
        out = significant_terms(s.index, db, "text", numterms=3)
        return out.select("bucket", "term", "score", "rank")

    add(
        "facet_significant_terms",
        _sig_terms,
        PRELUDE
        + """SELECT bucket, term, score, rank FROM (
  SELECT bucket, term, score,
         row_number() OVER (PARTITION BY bucket
                            ORDER BY score DESC, term ASC) AS rank
  FROM (
    SELECT fg.bucket, fg.term,
           round((fg.wt * ln((1 + c.cf / g.n) / (c.cf / g.n))
            + ln(1 + c.cf / g.n)) / ln(2), 4) AS score
    FROM (
      SELECT d.lang AS bucket, p.term, sum(p.w) AS wt
      FROM post p
      JOIN (SELECT DISTINCT doc_id FROM post WHERE term = 'spark') m USING (doc_id)
      JOIN documents d USING (doc_id)
      GROUP BY d.lang, p.term
    ) fg
    JOIN (SELECT term, sum(w) AS cf FROM post GROUP BY term) c USING (term)
    CROSS JOIN (SELECT count(*)::DOUBLE AS n FROM documents) g
  )
) WHERE rank <= 3""",
    )

    add(
        "facet_cardinality_source",
        # cardinality agg: per-lang distinct sources among matched docs
        lambda spark, sf: _docs_searcher(spark, sf).group_cardinality(
            Q.Term("text", "spark"), "lang", "source"),
        PRELUDE
        + "SELECT d.lang, count(DISTINCT d.source)::BIGINT AS distinct_count "
        "FROM (SELECT DISTINCT doc_id FROM scored WHERE term = 'spark') s "
        "JOIN documents d USING (doc_id) GROUP BY d.lang",
    )

    add(
        "facet_quantiles_nchars",
        # percentiles agg via the log-bucketed histogram sketch
        # (subbits=5, scale=1 over integer n_chars — bucket ids and the
        # lower-edge decode are exact integer arithmetic in both engines)
        lambda spark, sf: _docs_searcher(spark, sf).group_quantiles(
            Q.Term("text", "spark"), "lang", "n_chars", [0.5, 0.9],
            scale=1.0, subbits=5),
        PRELUDE
        + """, mm AS (
  SELECT d.lang, greatest(CAST(floor(d.n_chars * 1.0) AS BIGINT), 0) AS m
  FROM (SELECT DISTINCT doc_id FROM scored WHERE term = 'spark') s
  JOIN documents d USING (doc_id) WHERE d.n_chars IS NOT NULL),
bk AS (
  SELECT lang,
         CASE WHEN m < 64 THEN m
              ELSE 64 + (length(bin(m)) - 6)::BIGINT * 32
                   + (m >> (length(bin(m)) - 6)) - 32 END AS bucket
  FROM mm),
sk AS (SELECT lang, bucket, count(*) AS cnt FROM bk GROUP BY 1, 2),
cum AS (SELECT lang, bucket,
               sum(cnt) OVER (PARTITION BY lang ORDER BY bucket) AS c,
               sum(cnt) OVER (PARTITION BY lang) AS n
        FROM sk),
qq AS (SELECT unnest([0.5, 0.9]) AS q),
hit AS (
  SELECT lang, q, min(bucket) AS bucket
  FROM cum CROSS JOIN qq WHERE c >= ceil(q * n)
  GROUP BY 1, 2)
SELECT lang, q,
       (CASE WHEN bucket < 64 THEN bucket
             ELSE (bucket - 64 - ((bucket - 64) // 32) * 32 + 32)
                  * (1::BIGINT << ((bucket - 64) // 32)) END / 1.0) AS est
FROM hit""",
    )

    def _setops(spark, sf):
        # Results.upgrade_and_extend over two executed result sets
        # (reference: searching.py::Results.upgrade_and_extend ~L1290):
        # docs of A that B also matched move to the front (grp 0), A's
        # rest keep their order (grp 1), B's unseen docs append (grp 2)
        from whoosh_spark.search.results import results_upgrade_and_extend

        s = _docs_searcher(spark, sf)
        a = _rounded(s.compile(Q.Term("text", "spark"))) \
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(20)
        b = _rounded(s.compile(Q.Term("text", "join"))) \
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(20)
        return results_upgrade_and_extend(a, b).select(
            "doc_id", "score", F.col("_grp").cast("int").alias("grp"))

    add(
        "results_setops_topk",
        _setops,
        PRELUDE
        + """, a AS (
  SELECT doc_id, round(score, 4) AS score FROM scored WHERE term = 'spark'
  ORDER BY 2 DESC, 1 ASC LIMIT 20),
b AS (
  SELECT doc_id, round(score, 4) AS score FROM scored WHERE term = 'join'
  ORDER BY 2 DESC, 1 ASC LIMIT 20)
SELECT a.doc_id, a.score,
       CASE WHEN a.doc_id IN (SELECT doc_id FROM b) THEN 0 ELSE 1 END AS grp
FROM a
UNION ALL
SELECT b.doc_id, b.score, 2 AS grp
FROM b WHERE b.doc_id NOT IN (SELECT doc_id FROM a)""",
    )

    def _search_after_page2(spark, sf):
        # Keyset deep pagination (Searcher.search_after): page 2 of 5 via
        # the (score, doc_id) cursor of page 1's last hit — the predicate
        # runs on the rounded frame so the cursor comparison is the same
        # float64 in both engines. At corpus scale this replaces OFFSET
        # paging: every page is one filtered TakeOrderedAndProject, page N
        # never re-carries pages 1..N-1.
        s = _docs_searcher(spark, sf)
        scored = _rounded(
            s.compile(Q.Or([Q.Term("text", "spark"), Q.Term("text", "vector")]))
        )
        page1 = s.search_after(scored, limit=5).collect()
        cur = (page1[-1]["score"], page1[-1]["doc_id"])
        return s.search_after(scored, cursor=cur, limit=5)

    _AGG_SV = (
        "SELECT doc_id, round(sum(score), 4) AS score FROM scored "
        "WHERE term IN ('spark','vector') GROUP BY doc_id"
    )
    add(
        "search_after_page2",
        _search_after_page2,
        PRELUDE
        + f"""SELECT a.doc_id, a.score
FROM ({_AGG_SV}) a,
     ({_AGG_SV} ORDER BY score DESC, doc_id ASC LIMIT 1 OFFSET 4) c
WHERE a.score < c.score OR (a.score = c.score AND a.doc_id > c.doc_id)
ORDER BY a.score DESC, a.doc_id ASC LIMIT 5""",
    )

    return reg


_REGISTRY_CACHE: dict | None = None

# The driver checks the FIRST ~50 registry entries per round. Since
# round 5 the priority order is GENERATED from the CORRECTNESS_r*.json
# history (VERDICT r4 "Next round" #1: "consider generating the order
# from CORRECTNESS history so this never recurs"): entries whose latest
# driver row failed sort first (VERDICT r5 #4), then entries that have
# never had a driver row, then everything else by the round it was last
# checked (oldest first), registration order as the tie-break.
# `_WINDOW_DEPRIORITIZE` pins the named degenerate twins to
# the back of the never-checked tier so the window spends its slots on
# distinct operators first (the twins' machinery is already driven by
# their full-fidelity siblings in the same window). With no history
# files (a fresh checkout) every entry is never-checked, so the order is
# registration order with the twins last.

_WINDOW_DEPRIORITIZE = [
    # n=20 twin of facet_overlap_topn: same operator, same oracle shape.
    "facet_overlap_top20",
    # degenerate-config exact twin of the PQ tier whose machinery
    # ann_ivf_topk/ann_ivf_pq_topk already drive.
    "ann_ivf_pq_lossless",
    # macro mean OVER search_eval_metrics' per-query rows: the whole
    # eval_run kernel (incl. the r5 full-outer zero-fill) is driven by
    # its sibling in the same window; only the final avg is new.
    "search_eval_summary",
]


def _correctness_history() -> dict[str, tuple[int, dict]]:
    """name -> (latest round with a driver CORRECTNESS row, that row),
    from the CORRECTNESS_r*.json files at the repo root."""
    import json
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    last: dict[str, tuple[int, dict]] = {}
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        digits = "".join(ch for ch in p.stem.split("_r")[-1] if ch.isdigit())
        if not digits:
            continue
        try:
            data = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        if isinstance(data, dict):
            rnd = int(digits)
            for k, row in data.items():
                if rnd >= last.get(k, (0, {}))[0]:
                    last[k] = (rnd, row if isinstance(row, dict) else {})
    return last


def _row_failed(row: dict) -> bool:
    """A driver row that did not verify: any match flag false, or an
    error. ``no_oracle`` is a rows-only entry's standing marker, not a
    failure; sorting those first would pin them to the window head."""
    err = row.get("err")
    return (any(row.get(k) is False for k in ("hash_match", "rows_match", "schema_match"))
            or (err is not None and err != "no_oracle"))


def _window_tier(name: str, history: dict[str, tuple[int, dict]],
                 demoted: set[str]) -> float:
    """-1 = latest driver row failed, 0 = never driver-checked, 0.5 =
    never-checked but statically deprioritized twin, r = last checked
    (and passed) in round r."""
    if name not in history:
        return 0.5 if name in demoted else 0.0
    rnd, row = history[name]
    return -1.0 if _row_failed(row) else float(rnd)


def _driver_window_order(names: list[str],
                         history: dict[str, tuple[int, dict]]) -> list[str]:
    """Order registry entries for the driver's ~50-slot per-round window.

    Ascending `_window_tier` over ``history`` (`_correctness_history`
    shape): failed last time first, then never checked, then oldest
    checked. Within a tier, registration order (deterministic) is kept.
    """
    demoted = set(_WINDOW_DEPRIORITIZE)
    pos = {n: i for i, n in enumerate(names)}
    return sorted(names, key=lambda n: (_window_tier(n, history, demoted), pos[n]))


def registry() -> dict:
    global _REGISTRY_CACHE
    if _REGISTRY_CACHE is None:
        from whoosh_spark.entry_pipeline import pipeline_registry

        full = {**_registry(), **pipeline_registry()}
        order = _driver_window_order(list(full), _correctness_history())
        _REGISTRY_CACHE = {n: full[n] for n in order}
    return _REGISTRY_CACHE
