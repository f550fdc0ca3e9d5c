"""Query compilation: logical Query tree -> DataFrame plan.

This is the physical layer of the engine — the reference's matcher tree
(src/whoosh/matching/*) re-expressed as Spark joins/aggregations per
SURVEY.md §2.4:

- IntersectionMatcher (And)  -> union of tagged children + groupBy(doc_id)
                                HAVING count == n, score = sum
- UnionMatcher (Or)          -> same groupBy, no HAVING
- DisjunctionMaxMatcher      -> max + tiebreak * (sum - max)
- AndNotMatcher              -> LEFT ANTI join on doc_id
- RequireMatcher             -> LEFT SEMI join (score from left only)
- AndMaybeMatcher            -> LEFT OUTER join + coalesce(b.score, 0)
- InverseMatcher (Not)       -> docs LEFT ANTI matched
- MultiTerm (Prefix/...)     -> lexicon expansion + broadcast join with
                                per-term idf, then Or aggregation
- Phrase                     -> positional adjacency with higher-order array
                                functions (JVM-side, no UDF)

Every node compiles to a DataFrame with exactly (doc_id: long,
score: double) and at most one row per doc — that invariant is what lets
compound nodes use single-shuffle groupBy instead of n-way joins.

Per-query scalars (idf, avgdl, N) are resolved on the driver from the
lexicon cache at plan time — mirroring the reference's per-query scorer
setup (scoring.py::WeightLengthScorer precomputes idf/avgfl) — so compiled
plans are pure column expressions in whole-stage codegen.
"""

from __future__ import annotations

import fnmatch
from functools import reduce

from pyspark.sql import Column, DataFrame, Row, Window
from pyspark.sql import functions as F

from whoosh_spark.indexing.build import InvertedIndex
from whoosh_spark.query import nodes as Q
from whoosh_spark.search.facets import (
    FieldFacet,
    StoredFieldFacet,
    as_facet,
    facet_desc,
)
from whoosh_spark.search.scoring import BM25F, WeightingModel


# Cost gate for the threshold-algorithm Or route (_or_mixed_route): below
# this many estimated leaf postings the executor's single scored-union
# action wins on per-action overhead alone; above it the multi-action TA
# amortizes (measured crossover, see _wand_route). Module-level so tests
# can exercise both sides.
_TA_MIN_LEAF_POSTINGS = 2_000_000
# First-round per-child fetch depth. The route only engages past the
# postings gate above, where a kernel's cost is scan-dominated (top-16384
# costs the same wall as top-64, measured at sf1) — and τ only collapses
# when a child's cutoff decays or the child exhausts, so starting deep
# buys whole rounds: the sf1 flagship's 8,893-match phrase child exhausts
# IN round one at this depth (5.3 s warm vs 13.5 s at a 1024 start vs
# 88 s at the original 64/×4 loop — BENCH.md "TA route at sf1"). Driver
# state is n_children×16384 (doc_id, score) rows — negligible.
_TA_START_K = 16_384
# Geometric deepening factor for the non-converged case.
_TA_DEEPEN = 16
# Per-child driver-state cap: past this depth the TA is no longer winning
# (a pathologically flat tie plateau can defeat the strict-> threshold
# until a huge child exhausts) — give up and let the executor's single
# scored-union action answer instead of collecting millions of rows.
_TA_MAX_K = 262_144
# Candidate sets up to this size restrict the rescore via a literal IN
# list; larger sets become a broadcast semi-join (a 100k-literal In blows
# up plan serialization; the join is the cluster-scale shape).
_TA_ISIN_MAX = 1_024


class TimeLimitError(Exception):
    """Raised when search_with_time_limit exceeds its budget (reference:
    src/whoosh/collectors.py::TimeLimit)."""


class PartialResults(list):
    """List of (doc_id, score) Rows from a time-limited search;
    ``partial`` is True when the budget expired before every document was
    scored (reference: TimeLimitCollector with use_alarm/partial results —
    callers catch ``TimeLimit`` then read ``collector.results()``)."""

    partial: bool = False


class Searcher:
    """Reference surface: src/whoosh/searching.py::Searcher (~L650)."""

    def __init__(self, index: InvertedIndex, weighting: WeightingModel | None = None):
        self.index = index
        self.weighting = weighting or BM25F()
        # Candidate-set restriction used ONLY by the threshold-algorithm
        # route (_or_mixed_route): when set, term/phrase leaves filter their
        # postings to this doc_id list BEFORE scoring. Filtering commutes
        # with the per-row score expressions, so restricted plans stay
        # bit-identical to the unrestricted ones on the surviving docs.
        self._within: list[int] | None = None
        # large-candidate variant: the same doc_ids as a single-column
        # frame, broadcast-semi-joined instead of a giant literal IN list
        self._within_df: DataFrame | None = None

    # ------------------------------------------------------------------ utils

    @property
    def _spark(self):
        return self.index.spark

    def _empty(self) -> DataFrame:
        return self._spark.createDataFrame([], "doc_id long, score double")

    def _field_postings(self, fieldname: str):
        return self.index.postings.where(F.col("field") == fieldname)

    def _restrict(self, postings: DataFrame) -> DataFrame:
        """Apply the TA candidate restriction (see ``_within``), a no-op
        outside _or_mixed_route's rescoring pass. Small sets push down as
        a literal IN (row-group prunable); past _TA_ISIN_MAX the same set
        broadcast-semi-joins instead — identical surviving rows, bounded
        plan size."""
        if self._within is None:
            return postings
        if self._within_df is not None:
            return postings.join(
                F.broadcast(self._within_df), "doc_id", "left_semi")
        return postings.where(F.col("doc_id").isin(self._within))

    def _score_ctx(self, fieldname: str):
        fs = self.index.schema[fieldname]
        avgdl = self.index.avg_field_length(fieldname)
        return fs, avgdl

    # ------------------------------------------------------------- compile

    def compile(self, q: Q.Query) -> DataFrame:
        """Query -> DataFrame(doc_id, score), one row per matching doc."""
        q = q.normalize()
        # resolve every leaf term's (df, cf) in ONE pushed-down lookup job
        # (fills the index's stats LRU; per-term calls below then hit cache)
        pairs = _leaf_terms(q)
        if pairs:
            self.index.prefetch_stats(pairs)
        return self._compile(q)

    def _compile(self, q: Q.Query) -> DataFrame:
        m = getattr(self, f"_c_{type(q).__name__.lower()}", None)
        if m is None:
            raise NotImplementedError(f"no compiler for {type(q).__name__}")
        return m(q)

    def _c_nullquery(self, q: Q.NullQuery) -> DataFrame:
        return self._empty()

    def _c_every(self, q: Q.Every) -> DataFrame:
        live = self.index.live_docs().select(
            F.col(self.index.doc_id_col).alias("doc_id"),
            F.lit(1.0 * q.boost).alias("score"),
        )
        if q.fieldname is None:
            return live
        # Every("field") = docs with at least one term in that field
        # (reference: qcore.py::Every ~L420 iterates the field's postings)
        with_field = (
            self.index.postings.where(F.col("field") == q.fieldname)
            .select("doc_id")
            .distinct()
        )
        return live.join(with_field, "doc_id", "left_semi")

    def _c_term(self, q: Q.Term) -> DataFrame:
        fs, avgdl = self._score_ctx(q.fieldname)
        dfreq = self.index.doc_frequency(q.fieldname, q.text)
        if dfreq == 0:
            return self._empty()
        idf_v = self.weighting.term_scalar(
            fs, self.index.doc_count, dfreq, self.index.frequency(q.fieldname, q.text)
        )
        p = self._restrict(self.index.term_postings(q.fieldname, q.text))
        score = self.weighting.score_expr(fs, idf_v, avgdl, F.col("weight"), F.col("dl"))
        if q.boost != 1.0:
            score = score * q.boost
        return p.select("doc_id", score.alias("score"))

    # -- multi-term expansion (Prefix/Wildcard/Regex/FuzzyTerm/TermRange) --

    def _expanded(self, q, expansion) -> DataFrame:
        """Score an Or over lexicon-expanded terms in ONE postings scan:
        broadcast-join the (term, idf) expansion onto postings, score each
        (doc, term) with its own idf, then sum per doc. The expansion frame
        is lexicon-sized (tiny), so the join never shuffles postings."""
        if len(expansion) == 0:
            return self._empty()
        fs, avgdl = self._score_ctx(q.fieldname)
        n = self.index.doc_count
        exp = expansion.copy()
        exp["idf"] = [
            self.weighting.term_scalar(fs, n, int(d), float(c))
            for d, c in zip(exp["df"], exp["total_weight"])
        ]
        terms = exp["term"].tolist()
        p = self.index.terms_postings(q.fieldname, terms)
        if len(exp) <= 512:
            # literal term->idf map beats a broadcast-join round trip for
            # typical expansions (a driver createDataFrame costs ~1s/query)
            idf_map = F.create_map(
                *[x for t, i in zip(terms, exp["idf"]) for x in (F.lit(t), F.lit(float(i)))]
            )
            p = p.withColumn("idf", idf_map[F.col("term")])
        else:
            exp_sdf = self._spark.createDataFrame(exp[["term", "idf"]])
            p = p.join(F.broadcast(exp_sdf), "term")
        score = self.weighting.score_expr(fs, F.col("idf"), avgdl, F.col("weight"), F.col("dl"))
        if q.boost != 1.0:
            score = score * q.boost
        # ordered fold in lexicographic term order: expanded multi-term
        # queries are an Or over the expansion, and Whoosh expands the
        # lexicon in term order (query/terms.py::MultiTerm._btexts)
        per_term = p.select("doc_id", F.col("term").alias("_t"), score.alias("s"))
        items = F.array_sort(
            F.collect_list(F.struct(F.col("_t").alias("t"), F.col("s").alias("s")))
        )
        folded = F.aggregate(items, F.lit(0.0), lambda acc, x: acc + x["s"])
        return per_term.groupBy("doc_id").agg(folded.alias("score"))

    def _c_prefix(self, q: Q.Prefix) -> DataFrame:
        return self._expanded(q, self.index.expand_terms(q.fieldname, like=q.text))

    def _c_wildcard(self, q: Q.Wildcard) -> DataFrame:
        # fnmatch.translate output ends with \Z; anchor the start for
        # full-match semantics under Spark rlike (Java regex find())
        rx = r"\A" + fnmatch.translate(q.text)
        return self._expanded(q, self.index.expand_terms(q.fieldname, rlike=rx))

    def _c_regex(self, q: Q.Regex) -> DataFrame:
        # reference parity (query/terms.py::PatternQuery._btexts ~L150):
        # upstream tests each lexicon term with re.match — START-anchored
        # only, not full-match — so Regex('spark') also matches the term
        # 'sparkle'. Spark rlike is Java find() semantics; anchor \A only
        # (unlike Wildcard, whose fnmatch.translate already appends \Z).
        rx = r"\A(?:" + q.text + r")"
        return self._expanded(q, self.index.expand_terms(q.fieldname, rlike=rx))

    def _c_fuzzyterm(self, q: Q.FuzzyTerm) -> DataFrame:
        exp = self.index.expand_terms(
            q.fieldname, fuzzy=(q.text, q.maxdist, q.prefixlength)
        )
        return self._expanded(q, exp)

    def _c_variations(self, q: Q.Variations) -> DataFrame:
        exp = self.index.expand_terms(q.fieldname, isin=Q.variation_forms(q.text))
        return self._expanded(q, exp)

    def _c_termrange(self, q: Q.TermRange) -> DataFrame:
        exp = self.index.expand_terms(
            q.fieldname, between=(q.start, q.end, q.startexcl, q.endexcl)
        )
        return self._expanded(q, exp)

    # ----------------------------------------------- native range predicates

    def _range_pred(self, q: Q.NumericRange) -> Column:
        col = F.col(q.fieldname)
        conds = []
        if q.start is not None:
            conds.append(col > q.start if q.startexcl else col >= q.start)
        if q.end is not None:
            conds.append(col < q.end if q.endexcl else col <= q.end)
        if not conds:
            return F.lit(True)
        return reduce(lambda a, b: a & b, conds)

    def _c_numericrange(self, q: Q.NumericRange) -> DataFrame:
        # Catalyst pushes this predicate into the parquet scan — replaces the
        # reference's tiered-term expansion (ranges.py::NumericRange ~L200).
        # live_docs(), not docs: deleted/tombstoned rows must not match
        # range queries any more than they match term queries.
        return self.index.live_docs().where(self._range_pred(q)).select(
            F.col(self.index.doc_id_col).alias("doc_id"),
            F.lit(1.0 * q.boost).alias("score"),
        )

    _c_daterange = _c_numericrange

    # ------------------------------------------------------------- compound

    def _tagged_union(self, children: list[DataFrame]) -> DataFrame:
        tagged = [
            c.select("doc_id", "score", F.lit(i).alias("_q")) for i, c in enumerate(children)
        ]
        return reduce(lambda a, b: a.unionByName(b), tagged)

    @staticmethod
    def _ordered_sum() -> Column:
        """Left-associative fold of child scores in query order.

        The reference matcher tree sums child scores in query order
        (matching/binary.py::UnionMatcher.score = a.score() + b.score()),
        and float addition is order-sensitive at the last ulp — an
        unordered SQL SUM() varies with shuffle arrival order and breaks
        bit-parity between runs and against the WAND path. The fold is
        O(n_query_terms) per doc, a constant.
        """
        items = F.array_sort(
            F.collect_list(F.struct(F.col("_q").alias("q"), F.col("score").alias("s")))
        )
        return F.aggregate(items, F.lit(0.0), lambda acc, x: acc + x["s"])

    def _c_and(self, q: Q.And) -> DataFrame:
        kids = [self._compile(k) for k in q.subqueries]
        n = len(kids)
        u = self._tagged_union(kids)
        out = (
            u.groupBy("doc_id")
            .agg(self._ordered_sum().alias("score"), F.count_distinct("_q").alias("_n"))
            .where(F.col("_n") == n)
            .drop("_n")
        )
        return self._boosted(out, q.boost)

    def _c_or(self, q: Q.Or) -> DataFrame:
        kids = [self._compile(k) for k in q.subqueries]
        u = self._tagged_union(kids)
        if q.scale:
            n = len(kids)
            scale = float(q.scale)
            score = self._ordered_sum() * (
                (1 - scale) + scale * F.count_distinct("_q") / F.lit(float(n))
            )
        else:
            score = self._ordered_sum()
        if q.minmatch > 1:
            # Or(minmatch=m): at least m distinct children must match
            # (compound.py::Or.__init__ minmatch) — a HAVING on the same
            # groupBy the union already shuffles for, no extra exchange
            out = (
                u.groupBy("doc_id")
                .agg(score.alias("score"), F.count_distinct("_q").alias("_n"))
                .where(F.col("_n") >= int(q.minmatch))
                .drop("_n")
            )
        else:
            out = u.groupBy("doc_id").agg(score.alias("score"))
        return self._boosted(out, q.boost)

    def _c_disjunctionmax(self, q: Q.DisjunctionMax) -> DataFrame:
        kids = [self._compile(k) for k in q.subqueries]
        u = self._tagged_union(kids)
        if q.tiebreak:
            score = F.max("score") + F.lit(q.tiebreak) * (self._ordered_sum() - F.max("score"))
        else:
            score = F.max("score")
        out = u.groupBy("doc_id").agg(score.alias("score"))
        return self._boosted(out, q.boost)

    def _c_andnot(self, q: Q.AndNot) -> DataFrame:
        a = self._compile(q.a)
        b = self._compile(q.b)
        return self._boosted(a.join(b.select("doc_id"), "doc_id", "left_anti"), q.boost)

    def _c_require(self, q: Q.Require) -> DataFrame:
        a = self._compile(q.a)
        b = self._compile(q.b)
        return self._boosted(a.join(b.select("doc_id"), "doc_id", "left_semi"), q.boost)

    def _c_andmaybe(self, q: Q.AndMaybe) -> DataFrame:
        a = self._compile(q.a)
        b = self._compile(q.b).withColumnRenamed("score", "_bscore")
        out = (
            a.join(b, "doc_id", "left")
            .select("doc_id", (F.col("score") + F.coalesce(F.col("_bscore"), F.lit(0.0))).alias("score"))
        )
        return self._boosted(out, q.boost)

    def _c_otherwise(self, q: Q.Otherwise) -> DataFrame:
        # Otherwise = a if a matches anything else b: the existence probe is
        # semantically forced at plan time (the reference peeks the first
        # matcher the same way). take(1) short-circuits — the scheduler
        # stops after the first non-empty partition — where limit+count
        # would run a full (if tiny) aggregation job.
        a = self._compile(q.a)
        if a.take(1):
            return self._boosted(a, q.boost)
        return self._boosted(self._compile(q.b), q.boost)

    def _c_not(self, q: Q.Not) -> DataFrame:
        matched = self._compile(q.subquery)
        docs = self.index.live_docs().select(F.col(self.index.doc_id_col).alias("doc_id"))
        return docs.join(matched.select("doc_id"), "doc_id", "left_anti").select(
            "doc_id", F.lit(1.0 * q.boost).alias("score")
        )

    def _c_constantscore(self, q: Q.ConstantScore) -> DataFrame:
        sub = self._compile(q.subquery)
        return sub.select("doc_id", F.lit(q.score * q.boost).alias("score"))

    @staticmethod
    def _boosted(df: DataFrame, boost: float) -> DataFrame:
        if boost == 1.0:
            return df
        return df.select("doc_id", (F.col("score") * boost).alias("score"))

    # --------------------------------------------------------------- phrase

    def _c_phrase(self, q: Q.Phrase) -> DataFrame:
        """Positional phrase match, JVM-side via higher-order array functions.

        Matching mirrors the reference's span chain (positional.py::Phrase ->
        SpanNear2): surviving positions of word i must lie in
        (prev, prev + slop]. Scoring is the conjunction's score (the span
        wrapper filters, it does not rescore).
        """
        fs, avgdl = self._score_ctx(q.fieldname)
        n = self.index.doc_count
        dfs = []
        for i, w in enumerate(q.words):
            dfreq = self.index.doc_frequency(q.fieldname, w)
            if dfreq == 0:
                return self._empty()
            p = self._restrict(
                self.index.term_postings(q.fieldname, w, positions=True)
            )
            dfs.append(
                (
                    p.select(
                        "doc_id",
                        F.col("positions").alias(f"_pos{i}"),
                        F.col("weight").alias(f"_w{i}"),
                        *( [F.col("dl").alias("dl")] if i == 0 else [] ),
                    ),
                    self.weighting.term_scalar(
                        fs, n, dfreq, self.index.frequency(q.fieldname, w)
                    ),
                )
            )
        joined = dfs[0][0]
        for d, _ in dfs[1:]:
            joined = joined.join(d, "doc_id")
        slop = int(q.slop)
        current = F.col("_pos0")
        for i in range(1, len(q.words)):
            current = _phrase_step(current, F.col(f"_pos{i}"), slop)
        matched = joined.withColumn("_pfreq", F.size(current)).where(F.col("_pfreq") > 0)
        score = reduce(
            lambda a, b: a + b,
            [
                self.weighting.score_expr(fs, idf_v, avgdl, F.col(f"_w{i}"), F.col("dl"))
                for i, (_, idf_v) in enumerate(dfs)
            ],
        )
        if q.boost != 1.0:
            score = score * q.boost
        return matched.select("doc_id", score.alias("score"))

    def phrase_freqs(self, q: Q.Phrase) -> DataFrame:
        """(doc_id, pfreq) — exposed for tests / TermsCollector-style stats."""
        fs, avgdl = self._score_ctx(q.fieldname)
        dfs = []
        for i, w in enumerate(q.words):
            p = self.index.term_postings(q.fieldname, w, positions=True)
            dfs.append(p.select("doc_id", F.col("positions").alias(f"_pos{i}")))
        joined = reduce(lambda a, b: a.join(b, "doc_id"), dfs)
        current = F.col("_pos0")
        for i in range(1, len(q.words)):
            current = _phrase_step(current, F.col(f"_pos{i}"), int(q.slop))
        return joined.select("doc_id", F.size(current).alias("pfreq")).where(F.col("pfreq") > 0)

    # --------------------------------------------------------------- search

    def search(
        self,
        q: Q.Query,
        limit: int | None = 10,
        sortedby: str | list[str] | None = None,
        reverse: bool = False,
        filter: Q.Query | DataFrame | None = None,
        mask: Q.Query | DataFrame | None = None,
        collapse: str | None = None,
        collapse_limit: int = 1,
        collapse_order=None,
        optimize: bool = True,
    ) -> DataFrame:
        """Top-k search -> DataFrame(doc_id, score) ordered by
        (score desc, doc_id asc) — the reference heap key (score, -docnum)
        (collectors.py::TopCollector ~L260). With sortedby: ordered by the
        key column(s) instead (collectors.py::SortingCollector).

        ``optimize`` mirrors the reference's default (searching.py::
        Searcher.search(..., optimize=True) lets TopCollector use matcher
        block quality): eligible plain top-k shapes over a physical
        SegmentedIndex route through the block-max WAND kernels — bit-
        identical results, pruned plan (see :meth:`_wand_route`)."""
        if (
            optimize
            and limit is not None
            and sortedby is None
            and filter is None
            and mask is None
            and collapse is None
        ):
            routed = self._wand_route(q, limit)
            if routed is not None:
                return routed
        scored = self.compile(q)
        if getattr(self.weighting, "use_final", False):
            # named final() hook: adjust the accumulated per-doc score
            # before any collection/ordering (reference: WeightingModel
            # .final with use_final=True)
            scored = scored.withColumn(
                "score", self.weighting.final_expr(F.col("score"))
            )
        scored = self._apply_filter_mask(scored, filter, mask)
        if collapse is not None:
            scored = self._collapse(scored, collapse, collapse_limit,
                                    order=collapse_order)
        if sortedby is not None:
            out, key_cols, descs, slots = self._attach_sort_keys(
                scored, sortedby, reverse)
            order = [
                (F.col(c).desc() if d else F.col(c).asc())
                for c, d in zip(key_cols, descs)
            ]
            out = out.orderBy(*order, F.asc("doc_id"))
            if limit is not None:
                out = out.limit(limit)
            return out.drop(*slots)
        out = scored.orderBy(F.desc("score"), F.asc("doc_id"))
        return out.limit(limit) if limit is not None else out

    def _attach_sort_keys(self, scored: DataFrame, sortedby, reverse: bool):
        """Join the doc columns a ``sortedby`` spec needs and attach all
        key columns in ONE simultaneous projection -> (df, key_cols,
        descs, slots). One select, not sequential withColumns: a facet
        whose output name shadows a source column (e.g. a FunctionFacet
        named after the field it transforms) must not overwrite the input
        another facet's expression still reads. Unnamed computed keys and
        duplicate output names get positional ``_sk{i}`` slots so every
        key keeps its own expression; ``slots`` lists the slot names
        assigned, which callers drop from results after ordering. Shared
        by :meth:`search` and the sorted-partials engine so both order
        identically."""
        keys = ([sortedby] if not isinstance(sortedby, (list, tuple))
                else list(sortedby))
        facets = [as_facet(k) for k in keys]
        needed = sorted({c for f in facets for c in f.columns})
        out = scored
        if needed:
            docs = self.index.docs.select(
                F.col(self.index.doc_id_col).alias("doc_id"), *needed)
            out = out.join(docs, "doc_id")
        key_cols: list[str] = []
        descs: list[bool] = []
        slots: list[str] = []
        for i, f in enumerate(facets):
            # plain field facets keep their field name in the output
            # (Row.n, Row.role, ...) — their key IS that column; computed
            # facets use their output_name, else a positional slot that is
            # dropped from results, so an unnamed computed key never
            # replaces a raw column. Collisions fall back to the slot.
            if f.output_name:
                name = f.output_name
            elif type(f) in (FieldFacet, StoredFieldFacet):
                name = f.name
            else:
                name = None
            if name is None or name in key_cols:
                name = f"_sk{i}"
                slots.append(name)
            key_cols.append(name)
            descs.append(facet_desc(f, reverse))
        base = [c for c in out.columns if c not in set(key_cols)]
        out = out.select(
            *base, *[f.key().alias(n) for f, n in zip(facets, key_cols)])
        return out, key_cols, descs, slots

    def _wand_desc(self, q: Q.Query):
        """Eligibility analysis for block-max WAND routing: returns a plan
        descriptor ``("phrase", field, words, slop)`` or ``("terms", field,
        texts, mode)``, or None for the executor path. Shared by
        :meth:`_wand_route` (single query) and :meth:`search_many`
        (query-set batch). Rules in the :meth:`_wand_route` docstring."""
        from whoosh_spark.indexing.segments import SegmentedIndex

        ix = self.index
        w = self.weighting
        if not isinstance(ix, SegmentedIndex):
            return None
        if type(w) is not BM25F or getattr(w, "use_final", False):
            return None
        qn = q.normalize()
        if getattr(qn, "boost", 1.0) != 1.0:
            return None
        if isinstance(qn, Q.Phrase):
            if qn.fieldname not in ix.schema or not ix.schema[qn.fieldname].scorable:
                return None
            return ("phrase", qn.fieldname, list(qn.words), int(qn.slop))
        if isinstance(qn, Q.Term):
            kids: list[Q.Query] = [qn]
            mode = "or"
        elif isinstance(qn, (Q.And, Q.Or, Q.DisjunctionMax)):
            if isinstance(qn, Q.Or) and (
                qn.scale is not None or qn.minmatch > 1
            ):
                return None  # coord scaling / minmatch rescore-or-filter;
                # executor path
            if isinstance(qn, Q.DisjunctionMax) and qn.tiebreak != 0.0:
                return None  # tiebreak mixes max and sum; executor path
            kids = list(qn.subqueries)
            mode = (
                "and" if isinstance(qn, Q.And)
                else "max" if isinstance(qn, Q.DisjunctionMax)
                else "or"
            )
        else:
            return None
        if not kids or not all(
            type(c) is Q.Term and c.boost == 1.0 for c in kids
        ):
            return None
        field = kids[0].fieldname
        if any(c.fieldname != field for c in kids):
            return None
        texts = [c.text for c in kids]
        if len(set(texts)) != len(texts):
            # duplicate terms score once per occurrence on the executor;
            # wand_topk dedupes — keep the semantics, skip the route
            return None
        if field not in ix.schema or not ix.schema[field].scorable:
            return None
        return ("terms", field, texts, mode)

    def _wand_route(self, q: Q.Query, k: int) -> DataFrame | None:
        """Route an eligible top-k query through the block-max WAND kernels.

        The reference prunes by default: Searcher.search(optimize=True)
        hands TopCollector matchers whose block_quality bounds skip
        non-competitive blocks (searching.py::Searcher.search ~L780,
        collectors.py::TopCollector.use_block_quality). The engine's
        equivalent pruned path is the per-segment vectorized WAND kernel
        over the physical block store — pinned bit-identical to the
        unpruned executor plan (tests/test_segments.py::
        test_wand_pruned_equals_unpruned_equals_executor,
        tests/test_phrase_wand.py), so routing changes the PLAN, never the
        rows. Eligible: a physical SegmentedIndex, a plain BM25F model
        (subclasses and final()-hooks keep the executor path — their
        scoring isn't covered by the block bounds), and an unboosted
        Term / flat same-field And / Or / DisMax(tiebreak=0) of unique
        terms / Phrase. Anything else returns None and compiles normally.
        """
        desc = self._wand_desc(q)
        if desc is None:
            qn = q.normalize()
            descs = self._or_mixed_desc(qn)
            if descs is None:
                return None
            # cost-based gate: the TA route is several sequential Spark
            # actions (per-child kernels + candidate rescore per round),
            # so it only beats the executor's ONE scored-union action
            # when that union is big enough to dominate per-action
            # overhead. The executor scans every leaf term's postings in
            # full, so Σ leaf df (driver-known, prefetched) is its work
            # estimate; measured crossover sits in the low millions
            # (sf0.1: 10k postings -> executor 1.2s vs TA 5s; sf1: ~8M
            # postings -> executor 16.6s vs TA at WAND-class latency,
            # BENCH.md "TA route at sf1").
            self.index.prefetch_stats(_leaf_terms(qn))
            est = sum(
                self.index.doc_frequency(f, t) for f, t in _leaf_terms(qn)
            )
            if est < _TA_MIN_LEAF_POSTINGS:
                return None
            return self._or_mixed_route(qn, k, descs=descs)
        return self._kernel_frame(desc, k)

    def _kernel_frame(self, desc, k: int) -> DataFrame:
        """Run one WAND-eligibility descriptor through its block-max kernel."""
        from whoosh_spark.search.wand import wand_phrase_topk, wand_topk

        if desc[0] == "phrase":
            _, field, words, slop = desc
            return wand_phrase_topk(
                self.index, field, words, k=k, slop=slop,
                weighting=self.weighting,
            )
        _, field, texts, mode = desc
        return wand_topk(self.index, field, texts, k=k, mode=mode,
                         weighting=self.weighting)

    def _or_mixed_desc(self, qn: Q.Query):
        """Eligibility for the threshold-algorithm route: a plain Or (no
        coord scale / minmatch / boost) of ≥2 children that are EACH
        individually WAND-eligible (:meth:`_wand_desc`). A positively
        boosted Term/Phrase child qualifies via its stripped clone — the
        kernel ranking is boost-invariant and the bound scales exactly.
        Returns ``[(desc, boost), ...]`` in query (= fold/tag) order, or
        None for the executor path."""
        from dataclasses import replace

        if type(qn) is not Q.Or or qn.boost != 1.0:
            return None
        if qn.scale is not None or qn.minmatch > 1:
            return None
        kids = list(qn.subqueries)
        if len(kids) < 2:
            return None
        out = []
        for c in kids:
            b = float(c.boost)
            if b != 1.0:
                # only leaf children strip cleanly; non-positive boosts
                # would invert the kernel's ranking order
                if b <= 0.0 or not isinstance(c, (Q.Term, Q.Phrase)):
                    return None
                c = replace(c, boost=1.0)
            d = self._wand_desc(c)
            if d is None:
                return None
            out.append((d, b))
        return out

    def _or_mixed_route(self, qn: Q.Query, k: int,
                        start_k: int | None = None,
                        descs=None) -> DataFrame | None:
        """Threshold-algorithm route for Or-of-WAND-eligible-children.

        The composite shapes the single-kernel route rejects — the flagship
        parsed query ``Or(Phrase("hash join"), Term("spark")^2)``, cross-
        field Or, Or of flat booleans — paid the full scored-union executor
        plan (~2× WAND latency at sf1, BENCH.md). This is Fagin's threshold
        algorithm (TA; Fagin/Lotem/Naor 2001) over the per-child block-max
        kernels:

        1. fetch each child's top-k' via its (pruned) WAND kernel;
        2. rescore the CANDIDATE UNION exactly — the executor's own
           :meth:`_c_or` with term/phrase leaves restricted to the
           candidate doc_ids (``_within``), so scores and the ordered fold
           are the executor's own expressions, bit-identical by
           construction;
        3. stop when the k-th candidate total strictly exceeds
           τ = Σ_i max(child i's k'-th kernel score × boost_i, 0) — an
           upper bound on any unseen doc's total, since a doc outside
           child i's top-k' scores ≤ its k'-th entry there and a
           non-matching child contributes 0 — or when every child
           exhausted (< k' rows = its full match set is in the union);
           otherwise deepen k' ×_TA_DEEPEN and repeat. A child that
           exhausted keeps its cached rows and a 0 bound — it is never
           re-run. If k' would grow past _TA_MAX_K without converging
           (a flat tie plateau can hold τ above the k-th total until a
           huge child exhausts), the route gives up and returns None —
           the caller compiles the executor's single scored-union action,
           which is always correct and caps the worst case.

        Driver state per round is ≤ n_children·k' (doc_id, score) rows —
        capped by _TA_MAX_K — so the route stays cluster-scale; per-round
        child kernels submit concurrently (their lazy per-field stats are
        warmed before the pool so every kernel reads published values).
        search() reaches here only past the _TA_MIN_LEAF_POSTINGS cost
        gate (see _wand_route) — on small corpora the executor's single
        action is cheaper than the TA's several. On convergence the exact
        top-k was already collected for the threshold check, so it returns
        as a local frame (same rows/schema/order) rather than re-running
        the rescore on the caller's action. Returns None when ineligible
        or when the cap trips.
        """
        import math
        from concurrent.futures import ThreadPoolExecutor

        if descs is None:
            descs = self._or_mixed_desc(qn)
        if descs is None:
            return None
        self.index.prefetch_stats(_leaf_terms(qn))
        # warm the lazy per-field stats sequentially before any concurrent
        # kernel submit: publication is lock-guarded (InvertedIndex
        # ._stats_lock), this just keeps the stats job off the measured
        # kernel walls and guarantees it runs once
        self.index.doc_count
        for d, _b in descs:
            self.index.avg_field_length(d[1])
        kk = start_k if start_k is not None else max(4 * k, _TA_START_K)
        # per-child cache: (rows, exhausted) — an exhausted child's full
        # match set is already in hand, deeper rounds skip its kernel
        state: list[list] = [[None, False] for _ in descs]
        while True:
            todo = [i for i, st in enumerate(state) if not st[1]]

            # the child kernels are independent jobs — submit them
            # concurrently so a round costs one kernel wall, not the sum
            # (the concurrent-submit precedent of build_segments)
            def _run_child(i, _kk=kk):
                d, _b = descs[i]
                return i, self._kernel_frame(d, _kk).collect()

            with ThreadPoolExecutor(max_workers=max(len(todo), 1)) as pool:
                for i, rows in pool.map(_run_child, todo):
                    state[i][0] = rows
                    state[i][1] = len(rows) < kk
            bounds: list[float] = []
            cand: set[int] = set()
            for (rows, exhausted), (_d, b) in zip(state, descs):
                cand.update(r["doc_id"] for r in rows)
                bounds.append(
                    0.0 if exhausted else max(rows[-1]["score"] * b, 0.0))
            if not cand:
                return self._empty().orderBy(F.desc("score"), F.asc("doc_id"))
            ids = sorted(cand)
            self._within = ids
            if len(ids) > _TA_ISIN_MAX:
                self._within_df = self._spark.createDataFrame(
                    [(int(i),) for i in ids], "doc_id long")
            try:
                scored = self._c_or(qn)
            finally:
                self._within = None
                self._within_df = None
            out = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
            head = out.collect()
            # one-ulp-paranoid threshold: fsum is exactly rounded, nextafter
            # guards the ≤-chain against the fold's own rounding
            tau = math.nextafter(math.fsum(bounds), math.inf)
            if all(st[1] for st in state) or (
                len(head) >= k and head[-1]["score"] > tau
            ):
                # the exact ordered top-k is in hand — hand it back as a
                # local frame instead of re-running the rescore action
                return self._spark.createDataFrame(
                    [(int(r["doc_id"]), float(r["score"])) for r in head],
                    "doc_id long, score double",
                )
            kk *= _TA_DEEPEN
            if kk > _TA_MAX_K:
                return None

    def _apply_filter_mask(self, scored, filter, mask):
        if filter is not None:
            fdf = filter if isinstance(filter, DataFrame) else self._compile(filter.normalize())
            scored = scored.join(fdf.select("doc_id"), "doc_id", "left_semi")
        if mask is not None:
            mdf = mask if isinstance(mask, DataFrame) else self._compile(mask.normalize())
            scored = scored.join(mdf.select("doc_id"), "doc_id", "left_anti")
        return scored

    def _collapse(self, scored: DataFrame, key: str, keep: int,
                  order=None) -> DataFrame:
        """Field collapsing: best ``keep`` docs per key
        (collectors.py::CollapseCollector ~L750) — the engine's window op.
        ``order``: optional facet (or column name) deciding WHICH docs
        survive per key instead of results order — the reference's
        ``collapse_order`` (searching.py::Searcher.search ~L640); facet
        ``reverse`` honored, ties broken doc_id-ascending either way."""
        if order is None:
            cols = [key]
            w_order = [F.desc("score"), F.asc("doc_id")]
        else:
            f = as_facet(order)
            cols = sorted({key, *f.columns})
            k = f.key()
            w_order = [k.desc() if facet_desc(f) else k.asc(),
                       F.asc("doc_id")]
        docs = self.index.docs.select(
            F.col(self.index.doc_id_col).alias("doc_id"), *cols)
        w = Window.partitionBy(key).orderBy(*w_order)
        return (
            scored.join(docs, "doc_id")
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= keep)
            .select("doc_id", "score")
        )

    def search_after(
        self,
        q: "Q.Query | DataFrame",
        cursor: "tuple | None" = None,
        limit: int | None = 10,
        filter: "Q.Query | DataFrame | None" = None,
        mask: "Q.Query | DataFrame | None" = None,
        collapse: str | None = None,
        collapse_limit: int = 1,
        collapse_order=None,
    ) -> DataFrame:
        """Keyset ("search-after") deep pagination: the next ``limit`` hits
        strictly after ``cursor`` in the canonical order (score desc,
        doc_id asc). ``cursor`` is the ``(score, doc_id)`` pair of the last
        hit on the previous page; ``None`` means page one (== plain top-k).

        Beyond-reference operator (the Elasticsearch ``search_after``
        shape; the reference only pages by slicing Results, our
        ``search_page`` analogue). It exists for corpus scale: OFFSET
        paging makes page N carry all N*k earlier rows through the
        ordering operator before discarding them, while the keyset
        predicate keeps EVERY page one filtered TakeOrderedAndProject over
        the scored frame — page 1000 costs the same single pass over the
        query's postings as page 1, and because scoring is deterministic
        the cursor stays valid across sessions with no server-side scroll
        state. The predicate composes with the canonical tie-break: equal
        scores continue after the cursor's doc_id, so concatenated pages
        reproduce ``search(limit=n*k)`` exactly (pinned in
        tests/test_search_after.py).

        Accepts a pre-compiled scored DataFrame (like
        :meth:`search_with_time_limit`) so callers that round or otherwise
        post-process scores can page over their own frame with the same
        predicate discipline.
        """
        if isinstance(q, DataFrame):
            scored = q
        else:
            scored = self.compile(q)
            if getattr(self.weighting, "use_final", False):
                scored = scored.withColumn(
                    "score", self.weighting.final_expr(F.col("score"))
                )
        scored = self._apply_filter_mask(scored, filter, mask)
        if collapse is not None:
            scored = self._collapse(scored, collapse, collapse_limit,
                                    order=collapse_order)
        if cursor is not None:
            s0, d0 = cursor
            s0 = float(s0)
            scored = scored.where(
                (F.col("score") < F.lit(s0))
                | ((F.col("score") == F.lit(s0)) & (F.col("doc_id") > F.lit(d0)))
            )
        out = scored.orderBy(F.desc("score"), F.asc("doc_id"))
        return out.limit(limit) if limit is not None else out

    def search_with_time_limit(self, q: "Q.Query | DataFrame",
                               timelimit: float, limit: int | None = 10,
                               use_partials: bool = False, **kw) -> list:
        """TimeLimitCollector analogue (reference: collectors.py::
        TimeLimitCollector ~L850 raising ``TimeLimit``): collect the top-k
        under a wall-clock budget, cancelling the Spark job group on expiry
        and raising :class:`TimeLimitError`.

        Spark-first shape: the reference interrupts its doc-at-a-time loop
        and can hand back the partial heap; a cancelled Spark job has no
        partial to hand back, so by default this guards runaway queries
        (the common production use) rather than returning a prefix.
        Accepts a compiled DataFrame too, so any collector variant can be
        budgeted.

        ``use_partials=True`` mirrors the reference's partial-results mode
        (searching docs use ``TimeLimit`` then ``collector.results()``):
        the *unordered* scored frame streams to the driver partition by
        partition (``toLocalIterator``) into a bounded top-k heap with the
        reference heap key (score desc, doc_id asc); on budget expiry the
        job group is cancelled and the heap gathered so far comes back as
        a :class:`PartialResults` list with ``.partial = True`` instead of
        raising. Scoring of streamed rows is exact — partiality only means
        some documents were never seen, exactly like the reference's
        interrupted doc-at-a-time loop. ``sortedby=`` composes with
        partials too: the sort key streams through the same bounded heap
        (see :meth:`_search_partials`).
        """
        import threading
        import uuid

        if use_partials:
            return self._search_partials(q, timelimit, limit, **kw)
        df = q if isinstance(q, DataFrame) else self.search(q, limit=limit, **kw)
        sc = self._spark.sparkContext
        group = f"whoosh-timelimit-{uuid.uuid4().hex[:8]}"
        out: dict = {}

        def run():
            # job group is thread-local: only this query's jobs get cancelled
            sc.setJobGroup(group, "time-limited search", interruptOnCancel=True)
            try:
                out["rows"] = df.collect()
            except Exception as e:  # cancellation surfaces as a Py4J error
                out["err"] = e

        t = threading.Thread(target=run, daemon=True)
        t.start()
        t.join(timelimit)
        if t.is_alive():
            sc.cancelJobGroup(group)
            t.join(5.0)
            raise TimeLimitError(f"query exceeded {timelimit}s budget")
        if "err" in out:
            # a genuine query failure inside the budget is NOT a timeout —
            # surface the real error, don't mask it
            raise out["err"]
        return out["rows"]

    def _partial_heap_stream(self, df: DataFrame, timelimit: float,
                             limit: int | None, item_of_row, cmp_items):
        """Shared scaffolding for partial-results modes: stream ``df``
        UNORDERED to the driver partition by partition into a bounded
        top-k heap under a wall-clock budget; cancel the job group on
        expiry and keep whatever the heap holds. ``item_of_row`` maps a
        Row to a heap item; ``cmp_items(a, b)`` is the FINAL result
        ordering (negative = a comes first). Returns (items in final
        order, completed)."""
        import heapq
        import threading
        import time
        import uuid
        from functools import cmp_to_key

        class _Inv:
            # heapq is a min-heap; inverting the comparison makes
            # heap[0] the WORST kept item — the classic top-k heap
            __slots__ = ("it",)

            def __init__(self, it):
                self.it = it

            def __lt__(self, other):
                return cmp_items(self.it, other.it) > 0

        sc = self._spark.sparkContext
        group = f"whoosh-timelimit-{uuid.uuid4().hex[:8]}"
        deadline = time.monotonic() + timelimit
        heap: list = []
        out: dict = {}

        def run():
            sc.setJobGroup(group, "time-limited search (partials)",
                           interruptOnCancel=True)
            try:
                for row in df.toLocalIterator(prefetchPartitions=True):
                    it = item_of_row(row)
                    if limit is None or len(heap) < limit:
                        heapq.heappush(heap, _Inv(it))
                    elif cmp_items(it, heap[0].it) < 0:
                        heapq.heapreplace(heap, _Inv(it))
                    if time.monotonic() >= deadline:
                        out["expired"] = True
                        return
                out["done"] = True
            except Exception as e:  # cancellation surfaces as a Py4J error
                out["err"] = e

        t = threading.Thread(target=run, daemon=True)
        t.start()
        t.join(timelimit)
        if t.is_alive():
            # stuck inside a long partition job — cancel and keep the heap
            sc.cancelJobGroup(group)
            t.join(5.0)
        if "err" in out and "expired" not in out and not t.is_alive():
            msg = str(out["err"]).lower()
            if "cancelled" not in msg and "interrupted" not in msg:
                raise out["err"]
        items = sorted((h.it for h in heap), key=cmp_to_key(cmp_items))
        return items, out.get("done", False)

    def _search_partials(self, q: "Q.Query | DataFrame", timelimit: float,
                         limit: int | None, filter=None, mask=None,
                         sortedby=None, reverse: bool = False,
                         **kw) -> "PartialResults":
        """Partial-results engine for ``search_with_time_limit(...,
        use_partials=True)``. Score ordering streams (score, doc_id)
        into the reference heap key (score desc, doc_id asc);
        ``sortedby=`` streams the SORT KEY columns through the same
        bounded heap instead (VERDICT r4 #6) — per-key asc/desc honored
        with Spark's null placement (NULLS FIRST asc / NULLS LAST desc),
        doc_id-ascending tie-break, so a completed run equals
        ``search(sortedby=...)`` row for row and an expired run is a
        correctly-ordered prefix of the documents seen."""
        if isinstance(q, DataFrame):
            scored = q
        else:
            scored = self.compile(q)
            if getattr(self.weighting, "use_final", False):
                scored = scored.withColumn(
                    "score", self.weighting.final_expr(F.col("score")))
            scored = self._apply_filter_mask(scored, filter, mask)

        if sortedby is None:
            def cmp_score(a, b):
                # NaN scores: Spark orders NaN as the LARGEST numeric,
                # so under score DESC they sort first; two NaNs tie.
                # A plain a[0] != b[0] would make the order non-total
                # (NaN != NaN but neither < the other).
                na, nb = a[0] != a[0], b[0] != b[0]
                if na or nb:
                    if na and not nb:
                        return -1
                    if nb and not na:
                        return 1
                elif a[0] != b[0]:
                    return -1 if a[0] > b[0] else 1
                return -1 if a[1] < b[1] else (1 if a[1] > b[1] else 0)

            items, done = self._partial_heap_stream(
                scored, timelimit, limit,
                lambda row: (row["score"], row["doc_id"]), cmp_score)
            res = PartialResults(
                Row(doc_id=d, score=s) for s, d in items)
            res.partial = not done
            return res

        # sorted partials: attach the facet key columns exactly like
        # search(sortedby=...) — the SAME _attach_sort_keys projection,
        # so both paths order by identical expressions — but stream the
        # UNSORTED frame: a global orderBy would force the full sort
        # before the first row arrives and an expired budget would hand
        # back nothing
        out_df, key_cols, descs, slots = self._attach_sort_keys(
            scored, sortedby, reverse)
        stream = out_df.select("doc_id", "score", *key_cols)

        def cmp_sorted(a, b):
            for va, vb, desc in zip(a[0], b[0], descs):
                # Spark ordering semantics, mirrored exactly so the heap
                # order is TOTAL: NULLS FIRST asc / LAST desc, and NaN
                # compares as the largest numeric (greater than any
                # non-NaN; two NaNs tie). A bare va == vb would make
                # NaN keys non-comparable in both directions.
                na = isinstance(va, float) and va != va
                nb = isinstance(vb, float) and vb != vb
                if na and nb:
                    continue
                if na or nb:
                    bigger_first = desc  # NaN is the largest value
                    if na:
                        return -1 if bigger_first else 1
                    return 1 if bigger_first else -1
                if va == vb:
                    continue
                if va is None:  # Spark: NULLS FIRST asc, NULLS LAST desc
                    return 1 if desc else -1
                if vb is None:
                    return -1 if desc else 1
                if va < vb:
                    return 1 if desc else -1
                return -1 if desc else 1
            return -1 if a[1] < b[1] else (1 if a[1] > b[1] else 0)

        items, done = self._partial_heap_stream(
            stream, timelimit, limit,
            lambda row: (tuple(row[c] for c in key_cols),
                         row["doc_id"], row["score"]),
            cmp_sorted)
        res = PartialResults(
            Row(**{"doc_id": d, "score": s,
                   **{c: k for c, k in zip(key_cols, ks) if c not in slots}})
            for ks, d, s in items)
        res.partial = not done
        return res

    def search_many(self, queries: "dict[int, Q.Query]",
                    limit: int = 10, optimize: bool = True) -> DataFrame:
        """Batched evaluation of a QUERY SET as ONE Spark action ->
        (query_id, doc_id, score), per-query top-``limit`` in the score
        heap order.

        The offline-eval shape (run the reference query set, relevance
        sweeps) for ARBITRARY query trees — booleans, phrases, spans,
        ranges, anything compile() accepts: each query's scored plan is
        tagged with its query_id and the branches union into one job, so
        the per-query driver-orchestration floor (BENCH.md "Query-side
        scaling") is paid once per SET, and ALL queries' stats resolve in
        ONE pushed-down lookup job up front (the per-query compile()
        prefetch then hits the warm LRU). Per-query rows are exactly
        search(q, limit=limit)'s.

        ``optimize`` mirrors :meth:`search`: WAND-eligible queries in the
        set (see :meth:`_wand_desc`) route through the batched block-max
        kernel — ONE pruned scan over the union of their terms per field
        (wand.wand_topk_many, per-query modes), phrases through the phrase
        kernel — while ineligible queries keep the tagged executor union;
        all branches still collapse into the same single action. Rows are
        bit-identical either way (the kernels are pinned against the
        executor plan)."""
        if not queries:
            return self.index.spark.createDataFrame(
                [], "query_id long, doc_id long, score double")
        from functools import reduce

        from whoosh_spark.search.wand import wand_phrase_topk, wand_topk_many

        term_groups: dict[str, tuple[dict, dict]] = {}
        phrase_branches: list[DataFrame] = []
        rest: dict[int, Q.Query] = {}
        for qid, q in queries.items():
            desc = self._wand_desc(q) if optimize else None
            if desc is None:
                rest[qid] = q
            elif desc[0] == "phrase":
                _, field, words, slop = desc
                br = wand_phrase_topk(self.index, field, words, k=limit,
                                      slop=slop, weighting=self.weighting)
                phrase_branches.append(br.select(
                    F.lit(int(qid)).cast("long").alias("query_id"),
                    "doc_id", "score"))
            else:
                _, field, texts, mode = desc
                qts, qmodes = term_groups.setdefault(field, ({}, {}))
                qts[int(qid)] = texts
                qmodes[int(qid)] = mode

        branches = [
            wand_topk_many(self.index, field, qts, k=limit, mode=qmodes,
                           weighting=self.weighting)
            for field, (qts, qmodes) in term_groups.items()
        ]
        branches.extend(phrase_branches)
        if rest:
            pairs = [p for q in rest.values()
                     for p in _leaf_terms(q.normalize())]
            if pairs:
                self.index.prefetch_stats(pairs)
            exec_branches = []
            for qid, q in rest.items():
                scored = self.compile(q)
                if getattr(self.weighting, "use_final", False):
                    scored = scored.withColumn(
                        "score", self.weighting.final_expr(F.col("score")))
                exec_branches.append(scored.select(
                    F.lit(int(qid)).cast("long").alias("query_id"),
                    "doc_id", "score"))
            un = reduce(DataFrame.unionByName, exec_branches)
            rn = F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.desc("score"),
                                                       F.asc("doc_id")))
            branches.append(un.withColumn("_rn", rn)
                            .where(F.col("_rn") <= limit).drop("_rn"))
        out = reduce(DataFrame.unionByName, branches)
        return out.orderBy("query_id", F.desc("score"), F.asc("doc_id"))

    def search_page(self, q: Q.Query, pagenum: int, pagelen: int = 10, **kw) -> DataFrame:
        """Pagination (searching.py::Searcher.search_page ~L700): top
        pagenum*pagelen then slice — the top set is small, so the final
        window runs on a trivial frame. The slice window re-applies the
        SAME ordering the search used (sortedby keys when given, else the
        score heap key), so sorted paging returns the right rows."""
        top = self.search(q, limit=pagenum * pagelen, **kw)
        sortedby = kw.get("sortedby")
        if sortedby is not None:
            keys = ([sortedby] if not isinstance(sortedby, (list, tuple))
                    else list(sortedby))
            facets = [as_facet(k) for k in keys]
            rev = kw.get("reverse", False)
            order = []
            for f in facets:
                key = F.col(f.output_name) if f.output_name else f.key()
                order.append(key.desc() if facet_desc(f, rev) else key.asc())
            w = Window.orderBy(*order, F.asc("doc_id"))
        else:
            w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        lo, hi = (pagenum - 1) * pagelen + 1, pagenum * pagelen
        return (
            top.withColumn("_rn", F.row_number().over(w))
            .where((F.col("_rn") >= lo) & (F.col("_rn") <= hi))
            .drop("_rn")
        )

    def group_counts(self, q: Q.Query, groupedby: str,
                     filter=None, mask=None) -> DataFrame:
        """FacetCollector with Count maptype (collectors.py::FacetCollector
        ~L600; sorting.py::Count) -> (key, count)."""
        scored = self._apply_filter_mask(self.compile(q), filter, mask)
        docs = self.index.docs.select(F.col(self.index.doc_id_col).alias("doc_id"), groupedby)
        return scored.join(docs, "doc_id").groupBy(groupedby).agg(F.count("*").alias("count"))

    def range_counts(self, q: Q.Query, fieldname: str, start, end, gap) -> DataFrame:
        """RangeFacet (reference: sorting.py::RangeFacet ~L400): numeric
        binning floor((x - start) / gap) over matched docs -> (range_start,
        count), rows outside [start, end) excluded."""
        scored = self.compile(q)
        docs = self.index.docs.select(F.col(self.index.doc_id_col).alias("doc_id"), fieldname)
        j = scored.join(docs, "doc_id").where(
            (F.col(fieldname) >= start) & (F.col(fieldname) < end)
        )
        key = (F.lit(start) + F.floor((F.col(fieldname) - start) / gap) * gap).alias(
            "range_start"
        )
        return j.groupBy(key).agg(F.count("*").alias("count"))

    def date_counts(self, q: Q.Query, fieldname: str, unit: str = "day") -> DataFrame:
        """DateRangeFacet analogue: counts per truncated date unit."""
        scored = self.compile(q)
        docs = self.index.docs.select(F.col(self.index.doc_id_col).alias("doc_id"), fieldname)
        key = F.to_date(F.date_trunc(unit, F.col(fieldname))).alias("bucket")
        return scored.join(docs, "doc_id").groupBy(key).agg(F.count("*").alias("count"))

    def nested_children(self, q: Q.Query, parent_key: str) -> DataFrame:
        """NestedChildren (reference: query/nested.py::NestedChildren —
        "all children of parents where ...", the other direction from the
        NestedParent block join): every doc whose parent GROUP contains at
        least one match of ``q`` -> (doc_id, parent_key). Retrieval use:
        return whole conversations containing a hit.

        The reference walks doc-position blocks (parent doc followed by
        its children); the engine's parent is a grouping-key column, so
        the analogue is a semi-join of the docs frame against the matched
        parent keys. The matched-parents frame is bounded by the match
        count — AQE turns the semi-join into a broadcast join when it is
        small at runtime; no forced broadcast, so an every-parent match
        degrades to a shuffle join instead of an OOM."""
        docs = self.index.docs.select(
            F.col(self.index.doc_id_col).alias("doc_id"), parent_key)
        parents = (self.compile(q).join(docs, "doc_id")
                   .select(parent_key).distinct())
        return docs.join(parents, parent_key, "left_semi").select(
            "doc_id", parent_key)

    def query_counts(self, q: Q.Query,
                     buckets: "dict[str, Q.Query]") -> DataFrame:
        """QueryFacet (reference: sorting.py::QueryFacet ~L500, with
        allow_overlap semantics — a doc matching several bucket queries
        counts in each) -> (bucket, count) over q's matches.

        Spark shape: each bucket is a left-semi join of the base match set
        against that bucket query's matches; the tagged branches union
        into ONE action. Bucket queries are arbitrary compiled trees, so
        range/phrase/boolean buckets all work."""
        from functools import reduce

        base = self.compile(q).select("doc_id")
        branches = []
        for name, bq in buckets.items():
            bdf = self.compile(bq).select("doc_id")
            branches.append(
                base.join(bdf, "doc_id", "left_semi")
                .select(F.lit(name).alias("bucket")))
        if not branches:
            return self._spark.createDataFrame([], "bucket string, count long")
        un = reduce(DataFrame.unionByName, branches)
        return un.groupBy("bucket").agg(F.count("*").alias("count"))

    def group_counts_multi(self, q: Q.Query, keys: list[str]) -> DataFrame:
        """MultiFacet (reference: sorting.py::MultiFacet ~L600): composite
        grouping key -> (k1, ..., kn, count)."""
        scored = self.compile(q)
        docs = self.index.docs.select(F.col(self.index.doc_id_col).alias("doc_id"), *keys)
        return scored.join(docs, "doc_id").groupBy(*keys).agg(F.count("*").alias("count"))

    def group_counts_overlap(self, q: "Q.Query | DataFrame", fieldname: str,
                             n: int | None = None) -> DataFrame:
        """FieldFacet(allow_overlap=True) (reference: sorting.py::FieldFacet
        ~L150): a doc counts under EVERY term it has in the field, not one
        stored value — the multi-valued keyword facet. The key source is
        the postings table itself (term-derived keys, one row per
        (field, term, doc) by construction), so the facet rides the
        existing layout: one left-semi join + one map-side-combined
        groupBy. ``n``: keep the top-n keys (count desc, term asc) — pass
        it at 100 TB where the full key set is the field's vocabulary."""
        scored = q if isinstance(q, DataFrame) else self.compile(q)
        keys = self.index.postings.where(F.col("field") == fieldname).select(
            "doc_id", "term")
        j = keys.join(scored.select("doc_id"), "doc_id", "left_semi")
        out = j.groupBy("term").agg(F.count("*").alias("count"))
        if n is not None:
            out = out.orderBy(F.desc("count"), F.asc("term")).limit(int(n))
        return out

    def group_topn_overlap(self, q: "Q.Query | DataFrame", fieldname: str,
                           n: int = 3,
                           keys: "list[str] | None" = None) -> DataFrame:
        """Top-n docs per TERM key over the match set -> (term, doc_id,
        score, rank): :meth:`group_topn` under allow_overlap semantics —
        a doc appears under every term it has in the field. ``keys``
        restricts to the named terms (pass it at scale: without it the
        group count is the field's vocabulary). Same plan family as the
        count variant: one postings-keyed join + one term-partitioned
        window; ranks use the engine's canonical tie-break
        (score desc, doc_id asc)."""
        scored = q if isinstance(q, DataFrame) else self.compile(q)
        keys_df = self.index.postings.where(F.col("field") == fieldname)
        if keys is not None:
            keys_df = keys_df.where(F.col("term").isin(list(keys)))
        j = keys_df.select("doc_id", "term").join(scored, "doc_id")
        w = Window.partitionBy("term").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            j.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= int(n))
            .select("term", "doc_id", "score", "rank")
        )

    def group_best(self, q: "Q.Query | DataFrame", groupedby: str) -> DataFrame:
        """Best maptype: highest-scoring doc per group (ties: lowest doc_id)
        (sorting.py::Best ~L800). ``q`` may be a pre-scored
        (doc_id, score) frame (e.g. already filter/mask-applied)."""
        scored = q if isinstance(q, DataFrame) else self.compile(q)
        docs = self.index.docs.select(F.col(self.index.doc_id_col).alias("doc_id"), groupedby)
        j = scored.join(docs, "doc_id")
        w = Window.partitionBy(groupedby).orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            j.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select(groupedby, "doc_id", "score")
        )

    def group_topn(self, q: "Q.Query | DataFrame", groupedby: str,
                   n: int = 3) -> DataFrame:
        """Top-n docs per group value -> (groupedby, doc_id, score, rank):
        the grouped-search generalization of the Best maptype (Best keeps
        1 per group, this keeps n — what a faceted results page shows
        under each facet value). Same shape as group_best: one stored-
        field join + one window partitioned by the group key; no second
        corpus pass and no per-group collect. ``q`` may be a pre-scored
        (doc_id, score) frame (e.g. already rounded/filter-applied)."""
        scored = q if isinstance(q, DataFrame) else self.compile(q)
        docs = self.index.docs.select(F.col(self.index.doc_id_col).alias("doc_id"), groupedby)
        j = scored.join(docs, "doc_id")
        w = Window.partitionBy(groupedby).orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            j.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= int(n))
            .select(groupedby, "doc_id", "score", "rank")
        )

    def group_stats(self, q: "Q.Query | DataFrame", groupedby: str,
                    value: str, filter=None, mask=None) -> DataFrame:
        """Per-bucket numeric statistics over the MATCH SET — the
        search-analytics aggregation (the Elasticsearch stats-agg shape;
        beyond-reference: Whoosh facets only count/collect): for each
        value of ``groupedby`` among docs matching ``q``, report
        (key, n, min/max/sum/avg of the stored ``value`` column, plus
        max_score). One stored-field join + one map-side-combined
        groupBy — same plan shape as :meth:`group_counts`, so a 100 TB
        match set aggregates without a second exchange. NULL ``value``
        rows count toward ``n`` but are ignored by the numeric aggs
        (standard SQL agg semantics in both engines)."""
        scored = q if isinstance(q, DataFrame) else self.compile(q)
        scored = self._apply_filter_mask(scored, filter, mask)
        docs = self.index.docs.select(
            F.col(self.index.doc_id_col).alias("doc_id"), groupedby, value)
        v = F.col(value).cast("double")
        return (
            scored.join(docs, "doc_id")
            .groupBy(groupedby)
            .agg(
                F.count("*").alias("n"),
                F.min(v).alias("min_value"),
                F.max(v).alias("max_value"),
                F.sum(v).alias("sum_value"),
                F.avg(v).alias("avg_value"),
                F.max("score").alias("max_score"),
            )
        )

    def group_cardinality(self, q: "Q.Query | DataFrame", groupedby: str,
                          value: str, exact: bool = True,
                          hll_b: int = 12, filter=None,
                          mask=None) -> DataFrame:
        """Per-bucket distinct count of a stored field over the match set
        (the cardinality agg). ``exact=True`` -> (key, distinct_count)
        via countDistinct (two-phase partial agg — fine while per-bucket
        cardinalities fit the exchange); ``exact=False`` -> (key,
        n_buckets, hll_estimate) through the mergeable HyperLogLog
        sketch (pipeline/sketch.py) — the fixed-memory path for
        billion-cardinality buckets, ~1.04/sqrt(2^b) relative error,
        md5-deterministic so results are partitioning-invariant. The
        group key is rename-protected against the sketch's own column
        names; filter/mask compose like every other grouped agg."""
        scored = q if isinstance(q, DataFrame) else self.compile(q)
        scored = self._apply_filter_mask(scored, filter, mask)
        docs = self.index.docs.select(
            F.col(self.index.doc_id_col).alias("doc_id"), groupedby, value)
        j = scored.join(docs, "doc_id")
        if exact:
            return j.groupBy(groupedby).agg(
                F.countDistinct(value).alias("distinct_count"))
        from whoosh_spark.pipeline.sketch import hll_distinct

        out = hll_distinct(j.withColumnRenamed(groupedby, "_gc_key"),
                           value, b=hll_b, by="_gc_key")
        return out.withColumnRenamed("_gc_key", groupedby)

    def group_quantiles(self, q: "Q.Query | DataFrame", groupedby: str,
                        value: str, qs: "list[float]",
                        scale: float = 1000.0, subbits: int = 5,
                        filter=None, mask=None) -> DataFrame:
        """Per-bucket quantile estimates of a stored numeric over the
        match set (the percentiles agg) -> (key, q, est), via the
        log-bucketed histogram sketch (pipeline/sketch.py::hist_*):
        deterministic, partitioning-invariant, ≤2^-subbits relative
        lower-bound error, and the per-bucket state is ≤ n_buckets
        sketch rows regardless of match-set size."""
        from whoosh_spark.pipeline.sketch import hist_quantiles

        scored = q if isinstance(q, DataFrame) else self.compile(q)
        scored = self._apply_filter_mask(scored, filter, mask)
        docs = self.index.docs.select(
            F.col(self.index.doc_id_col).alias("doc_id"), groupedby, value)
        # "_gq_key", not "bucket": the sketch's own internal column is
        # named bucket, and a same-named group key would collide
        j = scored.join(docs, "doc_id").withColumnRenamed(groupedby, "_gq_key")
        out = hist_quantiles(j, value, qs, by="_gq_key",
                             scale=scale, subbits=subbits)
        return out.withColumnRenamed("_gq_key", groupedby)

    def group_ordered(self, q: "Q.Query | DataFrame", groupedby: str) -> DataFrame:
        """OrderedList maptype: doc_ids per group in results order
        (score desc, doc_id asc). ``q`` may be a pre-scored frame."""
        scored = q if isinstance(q, DataFrame) else self.compile(q)
        docs = self.index.docs.select(F.col(self.index.doc_id_col).alias("doc_id"), groupedby)
        j = scored.join(docs, "doc_id")
        return (
            j.groupBy(groupedby)
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct((-F.col("score")).alias("ns"), "doc_id"))),
                    lambda s: s["doc_id"],
                ).alias("doc_ids")
            )
        )

    def matched_terms(self, q: Q.Query, within: DataFrame | None = None) -> DataFrame:
        """Which leaf terms matched each doc (terms=True / Hit.matched_terms,
        collectors.py::TermsCollector ~L950) -> (doc_id, terms sorted array).

        ``within``: a frame whose doc_id column is already known to be a
        subset of q's matches (e.g. a top-k search result) — skips
        recompiling q and bounds the aggregation to those docs instead of
        every match in the corpus."""
        leaves = _leaf_terms(q.normalize())
        if not leaves:
            return self._spark.createDataFrame([], "doc_id long, terms array<string>")
        matched = (within if within is not None else self.compile(q)).select("doc_id")
        return (
            self.index.pairs_postings(leaves)
            .join(matched, "doc_id", "left_semi")
            .groupBy("doc_id")
            .agg(F.array_sort(F.collect_set("term")).alias("terms"))
        )

    def score_breakdown(self, q: Q.Query, doc_id: int) -> DataFrame:
        """Per-leaf score contributions for ONE document -> (field, term,
        score) — the debugging "explain" surface (beyond-reference: the
        Lucene Explanation shape restricted to leaf-term contributions
        under the current weighting). Each leaf term compiles through the
        SAME scoring plan the full query's children use, filtered to
        ``doc_id`` (a pushed-down point lookup per leaf), so for plain
        And/Or trees the rows sum to the doc's total; compound
        adjustments (DisMax tiebreak, Or(scale), final()) are the tree's
        job and are not re-applied here."""
        leaves = _leaf_terms(q.normalize())
        # one batched stats job for all leaves, not one lookup per leaf
        # (same discipline as search_many, executor.py prefetch site)
        if leaves:
            self.index.prefetch_stats(list(leaves))
        frames = [
            self.compile(Q.Term(field, term))
            .where(F.col("doc_id") == int(doc_id))
            .select(F.lit(field).alias("field"), F.lit(term).alias("term"),
                    "score")
            for field, term in leaves
        ]
        if not frames:
            return self._spark.createDataFrame(
                [], "field string, term string, score double")
        return reduce(lambda a, b: a.unionByName(b), frames)

    def with_stored_fields(self, results: DataFrame, *cols: str) -> DataFrame:
        """Hit.fields(): join display columns back from the docs table
        (stored fields D9 live in the source table, SURVEY §1.1)."""
        docs = self.index.docs.select(F.col(self.index.doc_id_col).alias("doc_id"), *cols)
        return results.join(docs, "doc_id")


def _phrase_step(cur: Column, nxt: Column, slop: int) -> Column:
    """Positions of the next word that continue a partial phrase match:
    keep x in ``nxt`` where some c in ``cur`` has c < x <= c + slop
    (the reference's SpanNear chain semantics)."""
    return F.filter(nxt, lambda x: F.exists(cur, lambda c: (x > c) & (x <= c + slop)))


def _leaf_terms(q: Q.Query) -> list[tuple[str, str]]:
    if isinstance(q, Q.Term):
        return [(q.fieldname, q.text)]
    if isinstance(q, Q.Phrase):
        return [(q.fieldname, w) for w in q.words]
    if isinstance(q, Q.CompoundQuery):
        return [t for k in q.subqueries for t in _leaf_terms(k)]
    if isinstance(q, Q.BinaryQuery):
        return _leaf_terms(q.a) + _leaf_terms(q.b)
    if isinstance(q, (Q.Not, Q.ConstantScore, Q.SpanFirst)):
        return _leaf_terms(q.subquery)
    return []


# ----------------------------------------------------------------- spans
# Positional algebra (reference: src/whoosh/query/spans.py). A per-doc span
# set is an array<struct<s:int,e:int>> column; every combinator below is a
# JVM higher-order function over those arrays — no Python in the span path.
# Scoring follows the reference's span wrappers: spans FILTER, the score is
# the underlying conjunction/union of the participating term matchers.


def _span_sort(spans):  # canonical order for deterministic output
    return F.array_sort(spans)


def _pairwise_near(a, b, slop: int, mindist: int, ordered: bool):
    """Combine two span arrays: gap = next.s - prev.e in [mindist, slop]."""

    def combine(x, y):
        if ordered:
            ok = ((y["s"] - x["e"]) >= mindist) & ((y["s"] - x["e"]) <= slop)
            return F.when(ok, F.struct(x["s"].alias("s"), y["e"].alias("e")))
        fwd = ((y["s"] - x["e"]) >= mindist) & ((y["s"] - x["e"]) <= slop)
        bwd = ((x["s"] - y["e"]) >= mindist) & ((x["s"] - y["e"]) <= slop)
        return F.when(
            fwd, F.struct(x["s"].alias("s"), y["e"].alias("e"))
        ).when(bwd, F.struct(y["s"].alias("s"), x["e"].alias("e")))

    pairs = F.flatten(F.transform(a, lambda x: F.transform(b, lambda y: combine(x, y))))
    return _span_sort(F.array_distinct(F.filter(pairs, lambda p: p.isNotNull())))


class SpanCompiler:
    """Compiles a span-capable Query to DataFrame(doc_id, spans, score)."""

    def __init__(self, searcher: Searcher):
        self.s = searcher

    def frame(self, q: Q.Query) -> DataFrame:
        m = getattr(self, f"_s_{type(q).__name__.lower()}", None)
        if m is None:
            raise NotImplementedError(f"{type(q).__name__} is not span-capable")
        return m(q)

    def _empty(self) -> DataFrame:
        return self.s._spark.createDataFrame(
            [], "doc_id long, spans array<struct<s:int,e:int>>, score double"
        )

    def _s_term(self, q: Q.Term) -> DataFrame:
        fs, avgdl = self.s._score_ctx(q.fieldname)
        dfreq = self.s.index.doc_frequency(q.fieldname, q.text)
        if dfreq == 0:
            return self._empty()
        idf_v = self.s.weighting.term_scalar(
            fs, self.s.index.doc_count, dfreq, self.s.index.frequency(q.fieldname, q.text)
        )
        p = self.s.index.term_postings(q.fieldname, q.text, positions=True)
        score = self.s.weighting.score_expr(fs, idf_v, avgdl, F.col("weight"), F.col("dl"))
        spans = F.transform(
            F.col("positions"), lambda x: F.struct(x.alias("s"), x.alias("e"))
        )
        return p.select("doc_id", spans.alias("spans"), (score * q.boost).alias("score"))

    def _s_phrase(self, q: Q.Phrase) -> DataFrame:
        near = Q.SpanNear2(
            [Q.Term(q.fieldname, w) for w in q.words], slop=q.slop, boost=q.boost
        )
        return self._s_spannear2(near)

    def _join2(self, a: DataFrame, b: DataFrame, spans_expr) -> DataFrame:
        a2 = a.select("doc_id", F.col("spans").alias("_sa"), F.col("score").alias("_ca"))
        b2 = b.select("doc_id", F.col("spans").alias("_sb"), F.col("score").alias("_cb"))
        j = a2.join(b2, "doc_id")
        return j.select(
            "doc_id",
            spans_expr(F.col("_sa"), F.col("_sb")).alias("spans"),
            (F.col("_ca") + F.col("_cb")).alias("score"),
        ).where(F.size("spans") > 0)

    def _s_spannear2(self, q: Q.SpanNear2) -> DataFrame:
        cur = self.frame(q.subqueries[0])
        for sub in q.subqueries[1:]:
            nxt = self.frame(sub)
            cur = self._join2(
                cur, nxt,
                lambda sa, sb: _pairwise_near(sa, sb, q.slop, q.mindist, q.ordered),
            )
        if q.boost != 1.0:
            cur = cur.withColumn("score", F.col("score") * q.boost)
        return cur

    def _s_spanor(self, q: Q.SpanOr) -> DataFrame:
        frames = [self.frame(k) for k in q.subqueries]
        tagged = [
            f.select("doc_id", "spans", "score", F.lit(i).alias("_q"))
            for i, f in enumerate(frames)
        ]
        from functools import reduce as _red

        u = _red(lambda x, y: x.unionByName(y), tagged)
        items = F.array_sort(
            F.collect_list(F.struct(F.col("_q").alias("q"), F.col("score").alias("c")))
        )
        folded = F.aggregate(items, F.lit(0.0), lambda acc, x: acc + x["c"])
        out = u.groupBy("doc_id").agg(
            _span_sort(F.array_distinct(F.flatten(F.collect_list("spans")))).alias("spans"),
            folded.alias("score"),
        )
        if q.boost != 1.0:
            out = out.withColumn("score", F.col("score") * q.boost)
        return out

    def _s_spannot(self, q: Q.SpanNot) -> DataFrame:
        a, b = self.frame(q.a), self.frame(q.b)
        b2 = b.select("doc_id", F.col("spans").alias("_sb"))
        j = a.join(b2, "doc_id", "left")
        keep = F.when(F.col("_sb").isNull(), F.col("spans")).otherwise(
            F.filter(
                F.col("spans"),
                lambda x: ~F.exists(
                    F.col("_sb"), lambda y: (y["s"] <= x["e"]) & (y["e"] >= x["s"])
                ),
            )
        )
        return (
            j.select("doc_id", keep.alias("spans"), (F.col("score") * q.boost).alias("score"))
            .where(F.size("spans") > 0)
        )

    def _s_spancontains(self, q: Q.SpanContains) -> DataFrame:
        out = self._join2(
            self.frame(q.a),
            self.frame(q.b),
            lambda sa, sb: F.filter(
                sa, lambda x: F.exists(sb, lambda y: (x["s"] <= y["s"]) & (y["e"] <= x["e"]))
            ),
        )
        if q.boost != 1.0:
            out = out.withColumn("score", F.col("score") * q.boost)
        return out

    def _s_spanbefore(self, q: Q.SpanBefore) -> DataFrame:
        out = self._join2(
            self.frame(q.a),
            self.frame(q.b),
            lambda sa, sb: F.filter(sa, lambda x: F.exists(sb, lambda y: x["e"] < y["s"])),
        )
        if q.boost != 1.0:
            out = out.withColumn("score", F.col("score") * q.boost)
        return out

    def _s_spancondition(self, q: Q.SpanCondition) -> DataFrame:
        # inner doc_id join (IntersectionMatcher), spans from a only; the
        # score is the intersection's a+b sum like contains/before
        out = self._join2(self.frame(q.a), self.frame(q.b), lambda sa, sb: sa)
        if q.boost != 1.0:
            out = out.withColumn("score", F.col("score") * q.boost)
        return out

    def _s_spanfirst(self, q: Q.SpanFirst) -> DataFrame:
        sub = self.frame(q.subquery)
        return (
            sub.select(
                "doc_id",
                F.filter("spans", lambda x: x["e"] <= q.limit).alias("spans"),
                (F.col("score") * q.boost).alias("score"),
            )
            .where(F.size("spans") > 0)
        )


def _install_span_compilers():
    """Route span nodes through the Searcher compile dispatch: a span query
    scores like its underlying conjunction, restricted to docs with
    surviving spans (matching the reference's span wrapper behavior)."""

    def make(name):
        def _c(self: Searcher, q) -> DataFrame:
            return SpanCompiler(self).frame(q).select("doc_id", "score")

        _c.__name__ = f"_c_{name}"
        return _c

    for cls in ("spannear2", "spanor", "spannot", "spancontains", "spanbefore",
                "spancondition", "spanfirst"):
        setattr(Searcher, f"_c_{cls}", make(cls))


_install_span_compilers()


def span_frames(searcher: Searcher, q: Q.Query) -> DataFrame:
    """(doc_id, spans, score) for a span-capable query — exposed for tests
    and snippet positioning."""
    return SpanCompiler(searcher).frame(q.normalize())
