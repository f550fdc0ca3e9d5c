"""Auxiliary retrieval: spelling suggestions, key terms, more-like-this.

Reference surface (SURVEY §2.9):
- suggest: src/whoosh/spelling.py::ReaderCorrector (~L80) over
  reading.py::IndexReader.terms_within (~L500) — candidates within edit
  distance of a word, ranked by (distance asc, frequency desc).
- key terms: src/whoosh/classify.py::{Bo1Model, Bo2Model, KLModel,
  Expander} (~L40-200); searching.py::Searcher.key_terms (~L750).
- more-like-this: searching.py::Hit.more_like_this — key terms of the doc
  fed back as an Or query.

NOTE on parity: /root/reference is an empty mount (SURVEY "Provenance"),
so the Bo1/KL formulas below implement the published Amati DFR forms used
by public Whoosh and are pinned by our own tests + DuckDB oracles rather
than byte-compared to the fork. Formulas (base-2 logs):
  Bo1: f = cf / N;       score = wt * log2((1+f)/f) + log2(1+f)
  Bo2: f = wt * tt / ct; score = wt * log2((1+f)/f) + log2(1+f)
  KL:  p = wt / tt, q = cf / ct;  score = p * log2(p / q)  (if p > q else 0)
where wt = term weight in the doc set, cf = collection term weight,
tt/ct = total weights of set/collection, N = doc_count_all.

Everything runs as DataFrame plans: the lexicon frame is the candidate
source (tiny vs postings), so suggest() is a filtered lexicon scan with
Spark's native levenshtein — no automaton needed (SURVEY §2.5 FuzzyTerm).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from whoosh_spark.indexing.build import InvertedIndex
from whoosh_spark.query import nodes as Q

LOG2 = 0.6931471805599453  # ln(2)


def build_spell_index(ix: InvertedIndex, fieldname: str,
                      words: DataFrame | None = None) -> DataFrame:
    """(gram, term, total_weight) trigram posting table over the lexicon —
    the scale path for suggest(): build once (persist or write bucketed by
    gram), then each suggestion reads only the word's ~len grams instead of
    scanning the whole 10^8-10^9-term lexicon with a DP distance. The
    reference gets the same effect from its FSA term index
    (automata/fsa.py via reading.py::terms_within).

    ``words``: a (term, total_weight) vocabulary frame (e.g.
    :func:`build_spell_words` output) used INSTEAD of the field's lexicon
    — the scale path for surface-word suggestions over stemmed fields."""
    if words is not None:
        lex = words.select("term", "total_weight")
    else:
        lex = ix.terms.where(F.col("field") == fieldname).select(
            "term", "total_weight")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length("term") - 2, F.lit(1))),
        lambda i: F.col("term").substr(i, F.lit(3)),
    )
    return lex.select(
        F.explode(F.array_distinct(grams)).alias("gram"), "term", "total_weight"
    )


def build_spell_words(docs: DataFrame, field_spec,
                      doc_id_col: str = "doc_id") -> DataFrame:
    """Unstemmed spelling wordlist for a stemmed field -> (term,
    total_weight) (reference: fields.py ``spelling=True`` + whoosh/
    spelling.py: the word graph stores SURFACE words while the index
    stores stems, so the corrector suggests real words, not stems).

    Runs the field's analyzer chain with the stem stage DISABLED over the
    stored docs — one mapInArrow + one map-side-combined groupBy, the
    same scan shape as the index build. Feed the result to
    :func:`suggest` via ``words=`` (or through :func:`build_spell_index`
    for the trigram-blocked tier)."""
    import dataclasses

    from whoosh_spark.fields import Schema
    from whoosh_spark.indexing.build import build_index

    # the field's default spec for every row (no per-language routing)
    fs = dataclasses.replace(
        field_spec,
        analyzer=dataclasses.replace(field_spec.analyzer, stem=False),
        lang_col=None, lang_specs=None,
    )
    post = build_index(docs.sparkSession, docs, Schema(fs), doc_id_col,
                       materialize=False).postings
    return post.groupBy("term").agg(F.sum("weight").alias("total_weight"))


def suggest(
    ix: InvertedIndex,
    fieldname: str,
    word: str,
    limit: int = 5,
    maxdist: int = 2,
    prefix: int = 0,
    spell_index: DataFrame | None = None,
    words: DataFrame | None = None,
) -> DataFrame:
    """(term, dist, freq) candidates ranked like the reference corrector:
    smaller edit distance first, then higher frequency, then term.

    With ``spell_index`` (build_spell_index output) and a long-enough word,
    candidates come from a trigram lookup instead of a lexicon scan — the
    caller must pass an index built for the SAME ``fieldname`` (the frame
    carries no field column; a mismatched one would suggest cross-field
    terms). The
    q-gram lemma makes the blocking LOSSLESS there: one edit destroys at
    most 3 trigrams, the word has len-2, so any term within ``maxdist``
    shares >= len-2-3*maxdist of them — >= 1 whenever
    len(word) >= 3 + 3*maxdist; shorter words fall back to the scan.

    ``words``: a (term, total_weight) frame replacing the field's lexicon
    as the candidate vocabulary — pass :func:`build_spell_words` output so
    a STEMMED field suggests surface words instead of stems (the
    reference's ``spelling=True`` word graph). Mutually exclusive with
    ``spell_index``: a trigram index encodes ONE vocabulary, so build it
    over the intended frame (``build_spell_index(ix, field, words=...)``)
    instead of passing both."""
    if spell_index is not None and words is not None:
        raise ValueError(
            "pass either spell_index or words, not both — build the "
            "trigram index over the words frame: "
            "build_spell_index(ix, fieldname, words=words)"
        )
    if spell_index is not None and len(word) >= 3 + 3 * maxdist:
        grams = [word[i : i + 3] for i in range(len(word) - 2)]
        lex = (
            spell_index.where(F.col("gram").isin(grams))
            .select("term", "total_weight")
            .distinct()
        )
    elif words is not None:
        lex = words.select("term", "total_weight")
    else:
        lex = ix.terms.where(F.col("field") == fieldname).select(
            "term", "total_weight"
        )
    if prefix:
        lex = lex.where(F.col("term").startswith(word[:prefix]))
    # cheap length pre-filter before the DP distance
    lex = lex.where(F.abs(F.length("term") - len(word)) <= maxdist)
    cand = lex.withColumn("dist", F.levenshtein(F.col("term"), F.lit(word))).where(
        (F.col("dist") <= maxdist) & (F.col("term") != word)
    )
    return (
        cand.select("term", "dist", F.col("total_weight").alias("freq"))
        .orderBy(F.asc("dist"), F.desc("freq"), F.asc("term"))
        .limit(limit)
    )


def _set_weights(ix: InvertedIndex, doc_ids: DataFrame, fieldname: str) -> DataFrame:
    """Per-term weight within a doc set: (term, wt)."""
    p = ix.postings.where(F.col("field") == fieldname)
    return (
        p.join(F.broadcast(doc_ids.select("doc_id")), "doc_id", "left_semi")
        .groupBy("term")
        .agg(F.sum("weight").alias("wt"))
    )


def key_terms(
    ix: InvertedIndex,
    doc_ids: DataFrame,
    fieldname: str,
    numterms: int = 5,
    model: str = "bo1",
) -> DataFrame:
    """Top distinctive terms of a doc set -> (term, score), model in
    {bo1, bo2, kl}. Plain aggregations over postings + the terms table."""
    wt = _set_weights(ix, doc_ids, fieldname)
    return _expansion_rank(ix, wt, fieldname, numterms, model)


def key_terms_from_text(
    ix: InvertedIndex,
    fieldname: str,
    text: str,
    numterms: int = 5,
    model: str = "bo1",
) -> DataFrame:
    """Expansion terms of ARBITRARY text -> (term, score) (reference:
    searching.py::Searcher.key_terms_from_text): the text is run through
    the field's own analyzer chain and its term frequencies play the
    doc-set weights fed to the same expansion model as :func:`key_terms`.

    The text is one driver-side string (the reference's signature), so
    analysis is a bounded local step; terms absent from the field's
    lexicon drop out (cf = 0 has no finite Bo1/KL score — the reference
    skips them the same way via its frequency lookups)."""
    import pandas as pd

    from whoosh_spark.analysis import analyze_series

    spec = ix.schema[fieldname].analyzer
    batch = analyze_series(pd.Series([text]), spec)
    if batch.term.size == 0:
        return ix.spark.createDataFrame([], "term string, score double")
    import collections

    counts = collections.Counter(batch.term.tolist())
    # literal explode, not createDataFrame: avoids ~1 s of py4j
    # round-trips per call (same reasoning as more_like_this's seed frame)
    pairs = F.array(*[
        F.struct(F.lit(t).alias("term"), F.lit(float(c)).alias("wt"))
        for t, c in sorted(counts.items())
    ])
    wt = (
        ix.spark.range(1)
        .select(F.explode(pairs).alias("p"))
        .select(F.col("p.term").alias("term"), F.col("p.wt").alias("wt"))
    )
    return _expansion_rank(ix, F.broadcast(wt), fieldname, numterms, model)


def _expansion_rank(ix: InvertedIndex, wt: DataFrame, fieldname: str,
                    numterms: int, model: str) -> DataFrame:
    """Shared Bo1/Bo2/KL expansion scoring over a (term, wt) frame
    (reference: classify.py::Bo1Model/Bo2Model/KLModel)."""
    coll = ix.terms.where(F.col("field") == fieldname).select(
        "term", F.col("total_weight").alias("cf")
    )
    j = wt.join(coll, "term")
    n = float(ix.doc_count)
    if model == "bo1":
        f = F.col("cf") / F.lit(n)
        score = (F.col("wt") * F.log((1 + f) / f) + F.log(1 + f)) / F.lit(LOG2)
    elif model == "bo2":
        # Bo2 (reference: classify.py::Bo2Model): the prior f is estimated
        # from the top set itself — f = wt * top_total / collection_total —
        # instead of Bo1's collection frequency / N
        tt = wt.agg(F.sum("wt")).collect()[0][0] or 1.0
        ct = coll.agg(F.sum("cf")).collect()[0][0] or 1.0
        f = F.col("wt") * F.lit(float(tt)) / F.lit(float(ct))
        score = (F.col("wt") * F.log((1 + f) / f) + F.log(1 + f)) / F.lit(LOG2)
    elif model == "kl":
        tt = wt.agg(F.sum("wt")).collect()[0][0] or 1.0
        # collection total in the SAME unit as cf/wt (posting weights carry
        # field_boost; field_totals are boost-normalized token counts, and
        # non-text fields are absent from them entirely)
        ct = coll.agg(F.sum("cf")).collect()[0][0] or 1.0
        p = F.col("wt") / F.lit(float(tt))
        q = F.col("cf") / F.lit(float(ct))
        score = F.when(p > q, p * F.log(p / q) / F.lit(LOG2)).otherwise(F.lit(0.0))
    else:
        raise ValueError(f"unknown expansion model {model!r}")
    return (
        j.select("term", score.alias("score"))
        .orderBy(F.desc("score"), F.asc("term"))
        .limit(numterms)
    )


def doc_key_terms(
    ix: InvertedIndex,
    fieldname: str = "text",
    per_doc: int = 3,
) -> DataFrame:
    """Top ``per_doc`` tf-idf keywords for EVERY document ->
    (doc_id, term, score, rank): the corpus-wide batch complement of
    ``key_terms`` (which scores one doc set) — the document-tagging
    pass a curation pipeline runs over the whole corpus.

    score = weight * idf with the engine's BM25 idf convention
    (ln(N / (df + 1)) + 1, scoring.py::BM25F). One (field, term) stats
    join + one doc-partitioned window — scales as a single shuffle of
    the postings, no per-doc work on the driver. Ranks use the rounded
    score (4 decimals, ties term-ascending) per the registry
    discipline, so rank membership is engine-stable.
    """
    post = ix.postings.where(F.col("field") == fieldname).select(
        "doc_id", "term", "weight"
    )
    stats = ix.terms.where(F.col("field") == fieldname).select("term", "df")
    n = float(ix.doc_count)
    idf = F.log(F.lit(n) / (F.col("df") + 1)) + 1
    scored = post.join(stats, "term").select(
        "doc_id", "term", F.round(F.col("weight") * idf, 4).alias("score")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(per_doc))
    )


def more_like_this(
    searcher,
    doc_id: int,
    fieldname: str,
    limit: int = 10,
    numterms: int = 5,
    model: str = "bo1",
) -> DataFrame:
    """Docs similar to ``doc_id``: its key terms fed back as an Or query
    (the seed doc itself is excluded from results)."""
    ix = searcher.index
    # literal frame, not createDataFrame: ~1 s of py4j round-trips per call
    seed = ix.spark.range(1).select(F.lit(int(doc_id)).cast("long").alias("doc_id"))
    terms = [r["term"] for r in key_terms(ix, seed, fieldname, numterms, model).collect()]
    if not terms:
        return ix.spark.createDataFrame([], "doc_id long, score double")
    q = Q.Or([Q.Term(fieldname, t) for t in terms])
    scored = searcher.compile(q).where(F.col("doc_id") != doc_id)
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(limit)


def collection_frequency_rank(ix: InvertedIndex, fieldname: str, n: int = 10,
                              most: bool = True) -> DataFrame:
    """most_frequent_terms / most_distinctive_terms
    (reference: reading.py::IndexReader ~L100-500). Distinctive score is
    the published tf-idf rank the reference uses:
    ``total_weight * ln(doc_count / df)`` — pure lexicon math, no posting
    decode."""
    lex = ix.terms.where(F.col("field") == fieldname)
    if most:
        return lex.select("term", "total_weight").orderBy(
            F.desc("total_weight"), F.asc("term")
        ).limit(n)
    score = F.col("total_weight") * F.log(F.lit(float(ix.doc_count)) / F.col("df"))
    return (
        lex.select("term", score.alias("score"))
        .orderBy(F.desc("score"), F.asc("term"))
        .limit(n)
    )


def correct_query(ix: InvertedIndex, q: Q.Query, fieldname: str,
                  maxdist: int = 2, prefix: int = 0,
                  spell_index: DataFrame | None = None) -> Q.Query:
    """Rewrite Term leaves whose text is missing from the lexicon to their
    best spelling suggestion (reference: searching.py::Searcher
    .correct_query ~L800 over spelling.py::ReaderCorrector). Pure driver
    tree walk; one lexicon-frame suggest() per unknown term (terms are few
    per query, the lexicon frame is tiny vs postings)."""

    import dataclasses

    # one pushed-down stats lookup for every leaf term up front — each
    # doc_frequency below then hits the LRU instead of launching a job
    from whoosh_spark.search.executor import _leaf_terms

    pairs = _leaf_terms(q.normalize())
    if pairs:
        ix.prefetch_stats(pairs)

    def fix(node: Q.Query) -> Q.Query:
        if isinstance(node, Q.Term) and node.fieldname == fieldname:
            if ix.doc_frequency(fieldname, node.text) == 0:
                top = suggest(ix, fieldname, node.text, limit=1,
                              maxdist=maxdist, prefix=prefix,
                              spell_index=spell_index).collect()
                if top:
                    return Q.Term(fieldname, top[0]["term"], boost=node.boost)
            return node
        changes = {}
        for f in dataclasses.fields(node):
            v = getattr(node, f.name)
            if isinstance(v, Q.Query):
                changes[f.name] = fix(v)
            elif isinstance(v, (tuple, list)) and v and isinstance(v[0], Q.Query):
                changes[f.name] = type(v)(fix(x) for x in v)
        return dataclasses.replace(node, **changes) if changes else node

    return fix(q)


def significant_terms(
    ix: InvertedIndex,
    doc_buckets: DataFrame,
    fieldname: str,
    numterms: int = 5,
) -> DataFrame:
    """Per-BUCKET distinctive terms — the significant-terms facet (the
    Elasticsearch significant-terms agg shape; beyond-reference: Whoosh's
    ``key_terms`` scores one doc set, this scores every facet bucket of a
    match set in one plan). ``doc_buckets`` = (doc_id, bucket) rows, e.g.
    a scored frame joined to a stored field; returns
    (bucket, term, score, rank) with ``numterms`` rows per bucket under
    the SAME Bo1 scoring as :func:`key_terms`, ranked on the
    4-decimal-ROUNDED score (the doc_key_terms registry discipline —
    rank membership stays engine-stable), ties then term-ascending; a
    single-bucket call reproduces key_terms' selection up to that
    rounding (pinned in tests).

    Plan: one postings semi-join keyed on doc_id (the match set is the
    small side), one map-side-combined (bucket, term) aggregate, one
    join against the terms table's collection frequencies, and one
    window over the per-bucket candidate vocabulary — bounded by the
    match set's token volume, never the corpus.
    """
    p = ix.postings.where(F.col("field") == fieldname)
    fg = (
        # no FORCED broadcast: a top-k-sized match set auto-broadcasts
        # under the threshold anyway, while a broad query's match set
        # degrades to a shuffle join instead of a driver OOM (the
        # nested_children precedent)
        p.join(doc_buckets.select("doc_id", "bucket"), "doc_id")
        .groupBy("bucket", "term")
        .agg(F.sum("weight").alias("wt"))
    )
    coll = ix.terms.where(F.col("field") == fieldname).select(
        "term", F.col("total_weight").alias("cf")
    )
    n = float(ix.doc_count)
    f = F.col("cf") / F.lit(n)
    # round BEFORE ranking (the doc_key_terms registry discipline), so
    # rank membership is engine-stable for the exact oracle
    score = F.round(
        (F.col("wt") * F.log((1 + f) / f) + F.log(1 + f)) / F.lit(LOG2), 4
    )
    scored = fg.join(coll, "term").select(
        "bucket", "term", score.alias("score")
    )
    w = Window.partitionBy("bucket").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(numterms))
        .select("bucket", "term", "score", "rank")
    )
