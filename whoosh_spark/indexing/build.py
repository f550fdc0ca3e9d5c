"""Index build: docs DataFrame -> postings / doclens / terms / stats.

Spark-first re-expression of the reference write path
(src/whoosh/writing.py::SegmentWriter.add_document ~L600 ->
externalsort.py::SortingPool -> codec/whoosh3.py::W3FieldWriter):

- The analyzer chain runs as a **vectorized stage inside ONE
  ``mapInArrow``** over every indexed field and emits postings *already
  aggregated per (doc, term)* — i.e. map-side combine happens in the Arrow
  batch, so the exploded token stream never hits a (doc_id, term)
  shuffle. The only wide stage in a build is the groupBy(field, term) for
  the term-stats table. The same per-batch producer feeds the physical
  segment inverter (indexing/segments.py), which never turns postings
  into Spark rows at all.
- Doc lengths are **denormalized into each posting row** (``dl`` = the
  byte-quantized-then-decoded token count the reference scorer uses, see
  util.length_to_byte). Whoosh looks lengths up per doc at score time; at
  100 TB a postings-doclens join on doc_id would be a second giant shuffle,
  so we pay one small int per posting instead and never join.
- Exact per-field length totals (for avgdl) fall out of
  ``sum(weight)`` — total tokens == total term frequency.

Scale notes: the per-(field,term) stats aggregation benefits from Spark's
partial aggregation; zipfian hot terms skew the *stats* reducer only (a few
longs per term), not the postings themselves, which stay doc-partitioned
(see indexing/segments.py for the per-segment inversion and the salted
term shuffle + hot-term block splitting of merges).
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field as dc_field
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from whoosh_spark.analysis import postings_arrays
from whoosh_spark.fields import FieldSpec, Schema
from whoosh_spark.util import quantized_length_np

POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("field", T.StringType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("weight", T.DoubleType(), False),
        T.StructField("positions", T.ArrayType(T.IntegerType()), True),
        T.StructField("dl", T.LongType(), True),  # quantized length; null for unscorable fields
    ]
)


def _postings_arrow_schema():
    import pyarrow as pa

    return pa.schema(
        [
            pa.field("field", pa.string(), False),
            pa.field("term", pa.string(), False),
            pa.field("doc_id", pa.int64(), False),
            pa.field("weight", pa.float64(), False),
            pa.field("positions", pa.list_(pa.int32()), True),
            pa.field("dl", pa.int64(), True),
        ]
    )


def _name_column(name: str, n: int) -> "pa.Array":
    """The constant ``field`` column of one field's postings batch."""
    import pyarrow as pa

    return pa.DictionaryArray.from_arrays(
        pa.array(np.zeros(n, dtype=np.int32)), pa.array([name])
    ).cast(pa.string())


def _postings_record_batch(texts, doc_ids, spec, name, boost, arrow_schema):
    """Analyze one TEXT batch slice and emit its postings RecordBatch
    (None if it produced no postings) — the ONE body shared by single-spec
    and language-routed fields (see :func:`_postings_producer`).

    Emits per-(doc, term) rows with tf weights, renumbered positions and
    the quantized doc length. Everything stays in numpy/Arrow — the
    positions list column is built zero-copy from (values, offsets), so
    no per-token Python object ever exists on the hot path (north rule:
    vectorized pandas/Arrow UDFs only).
    """
    import pyarrow as pa

    arrs = postings_arrays(texts, spec)
    if len(arrs) == 0:
        return None
    # raw per-row token count -> quantized dl, broadcast to groups
    # (token_counts, not weight: field length is boost-independent)
    raw_len = np.zeros(len(texts), dtype=np.int64)
    np.add.at(raw_len, arrs.row, arrs.token_counts())
    dl = quantized_length_np(raw_len)[arrs.row]
    n = len(arrs)
    return pa.RecordBatch.from_arrays(
        [
            _name_column(name, n),
            pa.array(arrs.term, type=pa.string()),
            pa.array(doc_ids[arrs.row], type=pa.int64()),
            pa.array(arrs.weight * boost if boost != 1.0 else arrs.weight),
            pa.ListArray.from_arrays(
                pa.array(arrs.offsets, type=pa.int32()),
                pa.array(arrs.positions_flat, type=pa.int32()),
            ),
            pa.array(dl, type=pa.int64()),
        ],
        schema=arrow_schema,
    )


def _postings_source(docs: DataFrame, schema: Schema, doc_id_col: str) -> DataFrame:
    """The JVM projection every postings producer reads: ``doc_id`` (long)
    plus one positional column per indexed field — TEXT values as-is (and
    a MULTILANG field's language column), ID/BOOLEAN values
    ``cast("string")``, KEYWORD values ``split`` on whitespace. Positional
    names (``_f{i}``, ``_l{i}``) keep a field named like another field's
    language column, or like ``doc_id``, from colliding."""
    cols = [F.col(doc_id_col).cast("long").alias("doc_id")]
    for i, fs in enumerate(schema.indexed_fields()):
        if fs.kind == "text":
            cols.append(F.col(fs.name).alias(f"_f{i}"))
            if fs.lang_col:
                cols.append(F.col(fs.lang_col).alias(f"_l{i}"))
        elif fs.kind == "keyword":
            cols.append(F.split(F.col(fs.name).cast("string"), r"\s+").alias(f"_f{i}"))
        else:  # id / boolean
            cols.append(F.col(fs.name).cast("string").alias(f"_f{i}"))
    return docs.select(*cols)


def _multilang_spec_for(field_spec: FieldSpec):
    """Language value -> AnalyzerSpec for a MULTILANG_TEXT field
    (fields.py::MULTILANG_TEXT), memoized per worker. Unknown / NULL /
    unbundled languages fall back to the field's default spec (never a
    mid-build raise: a web-scale corpus always carries codes you did not
    plan for); each language's stemmer keeps its own LRU via
    analysis._stemmer_for."""
    default_spec = field_spec.analyzer
    explicit = (dict(field_spec.lang_specs)
                if field_spec.lang_specs is not None else None)
    memo: dict = {}

    def spec_for(lang: str):
        sp = memo.get(lang)
        if sp is None:
            if explicit is not None:
                sp = explicit.get(lang, default_spec)
            else:
                from whoosh_spark.analysis import LANGUAGE

                try:
                    sp = LANGUAGE(lang) if lang else default_spec
                except NotImplementedError:
                    sp = default_spec
            memo[lang] = sp
        return sp

    return spec_for


def _untokenized_record_batch(name, terms, doc_ids, weights, arrow_schema):
    """Postings of a non-positional field (ID/BOOLEAN/KEYWORD): null
    positions and null dl."""
    import pyarrow as pa

    n = len(terms)
    return pa.RecordBatch.from_arrays(
        [
            _name_column(name, n),
            pa.array(terms, type=pa.string()),
            pa.array(doc_ids, type=pa.int64()),
            pa.array(weights, type=pa.float64()),
            pa.nulls(n, pa.list_(pa.int32())),
            pa.nulls(n, pa.int64()),
        ],
        schema=arrow_schema,
    )


def _postings_producer(schema: Schema):
    """Per-batch postings producer over :func:`_postings_source` batches:
    ``produce(batch)`` yields one postings RecordBatch (POSTINGS_SCHEMA)
    per indexed field that produced any. The ONE definition of a posting,
    shared by :func:`build_index` and the segment inverter
    (segments.py), so the logical and the physical builders cannot drift.

    - TEXT: :func:`_postings_record_batch`. A MULTILANG_TEXT field groups
      the batch's rows by language value and runs the same kernel once
      per language with that language's spec — no per-language scan.
    - ID/BOOLEAN: one posting of weight 1.0 per non-null, non-empty value.
    - KEYWORD: whitespace-split terms (empty pieces dropped), weight = the
      term's occurrence count in the doc.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    arrow_schema = _postings_arrow_schema()
    fields = []
    for i, fs in enumerate(schema.indexed_fields()):
        spec_for = (_multilang_spec_for(fs)
                    if fs.kind == "text" and fs.lang_col else None)
        fields.append((i, fs, float(fs.field_boost), spec_for))

    def produce(batch: "pa.RecordBatch") -> Iterator["pa.RecordBatch"]:
        doc_ids = batch.column(0).to_numpy(zero_copy_only=False)
        for i, fs, boost, spec_for in fields:
            col = batch.column(batch.schema.get_field_index(f"_f{i}"))
            if fs.kind == "text":
                texts = col.to_pandas()
                if spec_for is None:
                    rb = _postings_record_batch(texts, doc_ids, fs.analyzer,
                                                fs.name, boost, arrow_schema)
                    if rb is not None:
                        yield rb
                    continue
                langs = (batch.column(batch.schema.get_field_index(f"_l{i}"))
                         .to_pandas().fillna("").astype(str))
                for lv in sorted(langs.unique()):
                    mask = (langs == lv).to_numpy()
                    rb = _postings_record_batch(
                        texts[mask].reset_index(drop=True), doc_ids[mask],
                        spec_for(lv), fs.name, boost, arrow_schema)
                    if rb is not None:
                        yield rb
            elif fs.kind == "keyword":
                rows = pc.list_parent_indices(col).to_numpy(zero_copy_only=False)
                vals = col.flatten()
                keep = pc.fill_null(pc.not_equal(vals, ""), False)
                rows = rows[keep.to_numpy(zero_copy_only=False)]
                if rows.size == 0:
                    continue
                codes, uniques = pd.factorize(
                    np.asarray(vals.filter(keep).to_pandas(), dtype=object))
                key, counts = np.unique(rows * len(uniques) + codes,
                                        return_counts=True)
                yield _untokenized_record_batch(
                    fs.name, np.asarray(uniques, dtype=object)[key % len(uniques)],
                    doc_ids[key // len(uniques)], counts.astype(np.float64),
                    arrow_schema)
            else:  # id / boolean
                keep = pc.fill_null(pc.not_equal(col, ""), False)
                n = pc.sum(keep).as_py() or 0
                if n == 0:
                    continue
                yield _untokenized_record_batch(
                    fs.name, col.filter(keep),
                    doc_ids[keep.to_numpy(zero_copy_only=False)],
                    np.ones(n), arrow_schema)

    return produce


def pairs_filter(pairs: "list[tuple[str, str]]") -> Column:
    """Predicate matching any of the given (field, term) pairs: one
    ``field = f AND term IN (...)`` per distinct field. The expression
    depth grows with the number of fields, not terms — a chain of one
    equality per term overflows the JVM stack when Catalyst walks it
    (a 1000-rule percolation batch holds thousands of terms)."""
    by_field: dict[str, list[str]] = {}
    for f, t in pairs:
        by_field.setdefault(f, []).append(t)
    cond = None
    for f, terms in by_field.items():
        c = (F.col("field") == f) & F.col("term").isin(list(dict.fromkeys(terms)))
        cond = c if cond is None else cond | c
    return cond


@dataclass
class InvertedIndex:
    """Logical index handle: the reference's Index+IndexReader surface
    (src/whoosh/index.py::FileIndex, reading.py::IndexReader) as DataFrames."""

    spark: SparkSession
    schema: Schema
    docs: DataFrame  # the stored-fields table (D9): join back by doc_id
    postings: DataFrame  # (field, term, doc_id, weight, positions, dl)
    terms: DataFrame  # (field, term, df, total_weight, max_weight, min_doc, max_doc)
    doc_id_col: str = "doc_id"
    _doc_count: int | None = dc_field(default=None, repr=False)
    _field_totals: dict[str, float] | None = dc_field(default=None, repr=False)
    _lexicon_cache: dict | None = dc_field(default=None, repr=False)  # (field, term) -> (df, cf) LRU
    # Lazy-stat initialization guard: concurrent kernel submits (the TA
    # route's per-child pool, build_segments' concurrent actions) may hit a
    # cold handle from several threads at once — each lazy stat publishes
    # atomically AFTER its job completes, never a partially-built value.
    _stats_lock: "threading.Lock" = dc_field(
        default_factory=lambda: threading.Lock(), repr=False)

    # -- reader/stats API (reference: src/whoosh/reading.py::IndexReader) --

    @property
    def doc_count(self) -> int:
        """doc_count_all — BM25F idf uses ALL docs (SURVEY A.5). Lazy: one
        count of the docs table, memoized for the life of the index handle."""
        if self._doc_count is None:
            with self._stats_lock:
                if self._doc_count is None:
                    self._doc_count = self.docs.count()
        return self._doc_count

    @property
    def field_totals(self) -> dict[str, float]:
        """Exact per-field token totals (for avgdl): sum(weight) over the
        materialized postings — total tf == total tokens. One tiny job.

        Posting weights carry field_boost (Whoosh: weight = tf * boost), but
        field_length_total is a RAW token count in the reference, and per-doc
        dl is stored unboosted — so divide the boost back out to keep
        dl/avgdl in the same unit for BM25 length normalization.

        Published ATOMICALLY after the job completes (build local, assign
        once, double-checked under ``_stats_lock``): a second thread — the
        TA route's concurrent child kernels were the real-world caller —
        must never observe a half-built dict, which would read as
        avgdl == 0.0 and silently zero every BM25 score on that thread
        (the round-4 sf1 regression caught exactly this)."""
        if self._field_totals is None:
            with self._stats_lock:
                if self._field_totals is None:
                    totals: dict[str, float] = {}
                    plain = [fs.name for fs in self.schema.text_fields()
                             if fs.analyzer.delimited_boost is None]
                    if plain:
                        rows = (
                            self.postings.where(F.col("field").isin(plain))
                            .groupBy("field")
                            .agg(F.sum("weight").alias("total_len"))
                            .collect()
                        )
                        for r in rows:
                            boost = float(self.schema[r["field"]].field_boost)
                            totals[r["field"]] = float(r["total_len"]) / (boost or 1.0)
                    for fs in self.schema.text_fields():
                        # DelimitedAttributeFilter is the one stage whose
                        # per-token boosts make sum(weight) != token count
                        # (every other stage emits boost 1.0 or resets) —
                        # recount exactly from the stored docs, as the
                        # reference's field_length_total is a raw token
                        # count accumulated at write
                        if fs.analyzer.delimited_boost is not None:
                            totals[fs.name] = self._exact_token_total(fs)
                    self._field_totals = totals
        return self._field_totals

    def _exact_token_total(self, fs) -> float:
        """Exact raw token count of one text field, recomputed from the
        stored docs via the same analyzer chain the build ran. Tombstoned
        docs (expunged by a merge) are excluded so totals drop when a
        merge rewrites the postings, while lazily-deleted docs still
        count — the reference's field_length_total semantics under
        deletion vs optimize."""
        import pandas as pd

        from whoosh_spark.analysis import analyze_series

        spec = fs.analyzer

        @F.pandas_udf("long")
        def _nlens(texts: pd.Series) -> pd.Series:
            return pd.Series(analyze_series(texts, spec).lengths())

        base = self.docs
        tomb = getattr(self, "tombstones", None)
        if tomb is not None:
            base = base.join(
                F.broadcast(tomb.select(F.col("doc_id").alias(self.doc_id_col))),
                self.doc_id_col, "left_anti")
        row = base.select(F.sum(_nlens(F.col(fs.name))).alias("t")).first()
        return float(row["t"] or 0.0)

    def avg_field_length(self, field_name: str) -> float:
        """avgdl = exact field_length_total / doc_count_all
        (reference: searching.py::Searcher.avg_field_length ~L280)."""
        if self.doc_count == 0:
            return 0.0
        return self.field_totals.get(field_name, 0.0) / self.doc_count

    # -- per-term stats: pushed-down point lookups + a bounded driver LRU --
    # The full lexicon NEVER materializes on the driver (a 10^8-10^9-term
    # lexicon at 100 TB would OOM it before the first query). Point filters
    # reach the sorted terms_global parquet (row-group min/max pruning, the
    # ordered-term-dictionary seek) and only the requested rows come back;
    # the LRU mirrors the reference's per-(field, term) idf memoization
    # (searching.py::Searcher.idf ~L300).

    _STATS_CACHE_MAX = 262_144

    def _stats_cache(self) -> dict:
        if self._lexicon_cache is None:
            with self._stats_lock:
                if self._lexicon_cache is None:
                    self._lexicon_cache = {}
        return self._lexicon_cache

    def prefetch_stats(self, pairs: "list[tuple[str, str]]") -> None:
        """Resolve every (field, term) of a query in ONE filtered job and
        fill the LRU — compile() calls this so an n-term query costs one
        lookup job, not n."""
        cache = self._stats_cache()
        todo = [k for k in dict.fromkeys(tuple(p) for p in pairs) if k not in cache]
        if not todo:
            return
        rows = (
            self.terms.where(pairs_filter(todo))
            .select("field", "term", "df", "total_weight")
            .collect()
        )
        found = {
            (r["field"], r["term"]): (int(r["df"]), float(r["total_weight"]))
            for r in rows
        }
        for key in todo:
            self._stats_put(key, found.get(key, (0, 0.0)))

    def _stats_put(self, key, val) -> None:
        cache = self._stats_cache()
        while len(cache) >= self._STATS_CACHE_MAX:
            cache.pop(next(iter(cache)))  # FIFO eviction is enough here
        cache[key] = val

    def term_stats(self, field_name: str, term: str) -> tuple[int, float]:
        """(df, collection frequency) of one term — cached point lookup;
        absent terms cache as (0, 0.0)."""
        key = (field_name, term)
        cache = self._stats_cache()
        if key not in cache:
            self.prefetch_stats([key])
        return cache[key]

    def doc_frequency(self, field_name: str, term: str) -> int:
        return self.term_stats(field_name, term)[0]

    def frequency(self, field_name: str, term: str) -> float:
        return self.term_stats(field_name, term)[1]

    def lexicon(self, field_name: str) -> list[str]:
        """All terms of one field, sorted (reference: IndexReader.lexicon).
        Deliberately collects — callers want the list; bounded by the
        single-field vocabulary, and NOT on any query compile path."""
        rows = self.terms.where(F.col("field") == field_name).select("term").collect()
        return sorted(r["term"] for r in rows)

    def most_frequent_terms(self, field_name: str, number: int = 5,
                            prefix: str = "") -> DataFrame:
        """Top ``number`` terms by total weight (reference:
        reading.py::IndexReader.most_frequent_terms) -> DataFrame
        (term, freq), ties broken term-ascending. Lazy: one filtered pass
        over the terms table + TakeOrderedAndProject — never the full
        lexicon on the driver."""
        t = self.terms.where(F.col("field") == field_name)
        if prefix:
            t = t.where(F.col("term").startswith(prefix))
        return (t.select("term", F.col("total_weight").alias("freq"))
                .orderBy(F.desc("freq"), F.asc("term")).limit(number))

    def most_distinctive_terms(self, field_name: str, number: int = 5,
                               prefix: str = "") -> DataFrame:
        """Top ``number`` terms by tf-idf score = total_weight *
        log(doc_count / df) (reference: reading.py::IndexReader.
        most_distinctive_terms) -> DataFrame (term, score). Same lazy
        top-k shape as most_frequent_terms."""
        t = self.terms.where(F.col("field") == field_name)
        if prefix:
            t = t.where(F.col("term").startswith(prefix))
        n = float(self.doc_count)
        score = F.col("total_weight") * F.log(F.lit(n) / F.col("df"))
        return (t.select("term", score.alias("score"))
                .orderBy(F.desc("score"), F.asc("term")).limit(number))

    def expand_terms(self, field_name: str, like=None, rlike=None, between=None,
                     fuzzy=None, isin=None) -> pd.DataFrame:
        """Lexicon expansion for Prefix/Wildcard/TermRange/Fuzzy queries
        (reference: query/terms.py::MultiTerm._btexts ~L150) as a SPARK
        filter on the terms table — prefix/range predicates push into the
        sorted terms parquet (row-group pruned), and only the expansion
        rows (query-vocabulary-sized) reach the driver as a pandas frame.
        ``rlike`` must arrive anchored (\\A...\\Z) for full-match semantics."""
        t = self.terms.where(F.col("field") == field_name)
        col = F.col("term")
        if isin is not None:  # explicit candidate list (Variations)
            t = t.where(col.isin([str(x) for x in isin]))
        if like is not None:  # prefix
            t = t.where(col.startswith(like))
        if rlike is not None:
            t = t.where(col.rlike(rlike))
        if between is not None:
            lo, hi, lo_excl, hi_excl = between
            if lo is not None:
                t = t.where(col > lo if lo_excl else col >= lo)
            if hi is not None:
                t = t.where(col < hi if hi_excl else col <= hi)
        if fuzzy is not None:
            word, maxdist, prefixlength = fuzzy
            if prefixlength:
                t = t.where(col.startswith(word[:prefixlength]))
            t = t.where(F.levenshtein(col, F.lit(word)) <= int(maxdist))
        pdf = t.select("term", "df", "total_weight").toPandas()
        return pdf.sort_values("term").reset_index(drop=True)

    # -- posting access points (overridden by the physical SegmentedIndex,
    # which filters packed BLOCK rows before decoding — mapInArrow is a
    # predicate-pushdown barrier, so the term filter must be routed here
    # rather than applied on top of the postings view) --

    def term_postings(self, fieldname: str, term: str,
                      positions: bool = False) -> DataFrame:
        """Posting rows of one (field, term) — the leaf matcher scan
        (reference: codec W3LeafMatcher via reading.py::SegmentReader
        .postings ~L350). ``positions`` is a hint for the physical index
        (skip decoding position payloads); the logical postings frame
        carries them either way."""
        return self.postings.where((F.col("field") == fieldname) & (F.col("term") == term))

    def terms_postings(self, fieldname: str, terms: list[str],
                       positions: bool = False) -> DataFrame:
        """Posting rows of an expanded term set (Prefix/Wildcard/Fuzzy/...)."""
        return self.postings.where(
            (F.col("field") == fieldname) & F.col("term").isin(list(terms))
        )

    def vector(self, doc_id: int, field_name: str) -> DataFrame:
        """Term vector of one document — forward-index read (reference:
        reading.py::IndexReader.vector ~L400), recomputed from postings
        (SURVEY D13 option b: no stored forward index; the posting scan is
        doc_id-filtered so only matching blocks/rows are decoded)."""
        return (
            self.postings.where(
                (F.col("field") == field_name) & (F.col("doc_id") == doc_id)
            )
            .select("term", "weight")
            .orderBy("term")
        )

    def pairs_postings(self, pairs: list[tuple[str, str]]) -> DataFrame:
        return self.postings.where(pairs_filter(pairs))

    def terms_df_postings(self, fieldname: str, terms_df: DataFrame) -> DataFrame:
        """Postings for every (fieldname, t) where t comes from a DataFrame
        column named ``term`` — the distributed analogue of pairs_postings
        for data-originated term sets (an upsert batch's unique-field
        values, a dedup sweep's keys): the values never pass through the
        driver. terms_df is broadcast (batch-sized by contract)."""
        return self.postings.where(F.col("field") == fieldname).join(
            F.broadcast(terms_df.select("term").distinct()), "term"
        )

    def live_docs(self) -> DataFrame:
        """Docs visible to Every/Not (deletion-aware in SegmentedIndex;
        the logical index has no delete set)."""
        return self.docs

    def persist(self) -> "InvertedIndex":
        from pyspark import StorageLevel

        if self.postings.storageLevel == StorageLevel.NONE:
            self.postings = self.postings.persist()
        if self.terms.storageLevel == StorageLevel.NONE:
            self.terms = self.terms.persist()
        return self

    def unpersist(self) -> "InvertedIndex":
        """Release cached frames (e.g. after a per-micro-batch percolation
        index has been fully consumed)."""
        self.postings = self.postings.unpersist()
        self.terms = self.terms.unpersist()
        return self


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    schema: Schema,
    doc_id_col: str = "doc_id",
    materialize: bool = True,
) -> InvertedIndex:
    """Build the logical inverted index from a docs DataFrame.

    ``docs`` must already carry a dense ``doc_id`` (use
    indexing.docids.assign_doc_ids for the transcript parity ordering).

    Postings come from ONE mapInArrow over the column-pruned docs scan:
    every indexed field of a batch runs through the shared per-batch
    producer (:func:`_postings_producer`), so n fields never cost n scans.

    With ``materialize`` (default), the postings frame is cached so the
    analyzer chain runs exactly ONCE — the terms stats, field totals and
    every query then read the materialized postings instead of re-running
    tokenization per action. (The 100 TB analogue is writing postings to the
    segment store — indexing/segments.py — and reading back; in-session we
    use the block cache.) Pass ``materialize=False`` to keep the build fully
    lazy, e.g. when immediately handing postings to a streaming sink.
    """
    produce = _postings_producer(schema)

    def gen(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            if batch.num_rows:
                yield from produce(batch)

    postings = _postings_source(docs, schema, doc_id_col).mapInArrow(
        gen, POSTINGS_SCHEMA)
    if materialize:
        postings = postings.persist()

    terms = postings.groupBy("field", "term").agg(
        F.count("*").alias("df"),
        F.sum("weight").alias("total_weight"),
        F.max("weight").alias("max_weight"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )

    return InvertedIndex(
        spark=spark,
        schema=schema,
        docs=docs,
        postings=postings,
        terms=terms,
        doc_id_col=doc_id_col,
    )
