"""Plan-shape regression tests: pin the scale-critical physical-plan
properties BENCH.md's `.explain` audits describe — predicate pushdown to
the Parquet scan, positional-column pruning off the non-positional path,
broadcast (never shuffle) joins for per-term stats, and the
single-shuffle / TakeOrderedAndProject top-k shape. A change that breaks
one of these stays correct on 60k rows and falls over at 100 TB, which is
exactly why row-level tests can't catch it.
"""

from __future__ import annotations

import re

import pytest

from whoosh_spark import query as Q
from whoosh_spark.fields import transcript_schema
from whoosh_spark.indexing.segments import build_segments, open_segments
from whoosh_spark.search import Searcher
from whoosh_spark.transcripts import transcript_corpus

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def corpus(spark):
    c = transcript_corpus(spark, SF).persist()
    c.count()
    return c


@pytest.fixture(scope="module")
def six(spark, corpus, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("planix") / "ix")
    build_segments(spark, corpus, transcript_schema(), path, n_segments=2)
    return open_segments(spark, path, corpus, transcript_schema())


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_term_postings_pushdown_and_pruning(six):
    p = _plan(six.term_postings("text", "spark"))
    # field+term equality reach the Parquet scan (row-group min/max seek
    # on the per-file-sorted term dictionary)
    assert "EqualTo(field,text)" in p
    assert "EqualTo(term,spark)" in p
    # the non-positional read never touches the positions columns
    assert "pos_vals" not in p and "pos_counts" not in p


def test_wand_single_shuffle_broadcast_and_pushdown(six):
    from whoosh_spark.search.wand import wand_topk

    p = _plan(wand_topk(six, "text", ["merge", "join"], k=10))
    # query terms push into the blocks scan as an In() filter
    assert re.search(r"In\(term, \[join,merge\]", p)
    # per-term stats arrive by broadcast join, never a shuffle join
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    # exactly ONE shuffle: the per-(segment, shard) kernel groupBy —
    # the global k-merge is TakeOrderedAndProject over <= segments*k rows
    assert p.count("Exchange hashpartitioning") == 1
    assert "TakeOrderedAndProject" in p
    # positions stay unread on the term path
    assert "pos_vals" not in p and "pos_counts" not in p


def test_phrase_wand_reads_positions_but_still_prunes(six):
    from whoosh_spark.search.wand import wand_phrase_topk

    p = _plan(wand_phrase_topk(six, "text", ["hash", "join"], k=10))
    # the positional kernel DOES need the position columns...
    assert "pos_vals" in p
    # ...but still pushes the term filter into the scan
    assert re.search(r"In\(term, \[hash,join\]", p)


def test_segment_build_is_one_python_pass_without_exchange(
        spark, corpus, tmp_path_factory):
    """A segment's write job (the frame build_segments writes) scans its
    doc range and inverts it in ONE mapInArrow: no Exchange (no postings
    shuffle, no sort) and no other Python node between the scan and the
    block rows. The piece's doc count is observed in the same pass."""
    from whoosh_spark.indexing.segments import BUILD_DOC_CHUNK, _invert_range

    src = str(tmp_path_factory.mktemp("plandocs") / "docs.parquet")
    corpus.write.parquet(src)
    docs = spark.read.parquet(src)
    n = corpus.count()
    blocks, doc_obs = _invert_range(docs, transcript_schema(), 0, n // 2,
                                    BUILD_DOC_CHUNK)
    p = _plan(blocks)
    assert p.count("CollectMetrics") == len(doc_obs) == 1
    assert "Exchange" not in p
    assert "Sort" not in p
    assert p.count("MapInArrow") == 1
    assert not re.search(r"ArrowEvalPython|BatchEvalPython|MapInPandas", p)
    # the Python map reads the range-filtered docs scan directly: only
    # narrow JVM nodes between it and the (range-pushed) Parquet scan
    lines = p.splitlines()
    top = next(i for i, ln in enumerate(lines) if "MapInArrow" in ln)
    below = [re.match(r"\s*(?:\+-\s*)?(?:\*\(\d+\)\s*)?(\w+)", ln).group(1)
             for ln in lines[top + 1:]]
    assert below[-1] == "FileScan"
    assert set(below[:-1]) <= {"Coalesce", "CollectMetrics", "Project",
                               "Filter", "ColumnarToRow"}
    assert "GreaterThanOrEqual(doc_id,0)" in p


# _finalize's jobs on a first build: the stats groupBy, the range
# partitioner's sample, the range shuffle and the stats write
FINALIZE_JOBS = 4


def test_segment_build_and_open_read_nothing_back(
        spark, corpus, tmp_path, monkeypatch):
    """build_segments submits one job per segment — its write, which also
    counts the manifest — and then only _finalize's jobs: no job scans a
    segment's blocks between its write and _finalize. open_segments on an
    index with no deletes submits none (every read passes its schema)."""
    import whoosh_spark.indexing.segments as S

    sc, tracker = spark.sparkContext, spark.sparkContext.statusTracker()
    at_finalize = []
    real_finalize = S._finalize

    def spy(*args, **kwargs):
        at_finalize.append(len(tracker.getJobIdsForGroup("pin-build")))
        return real_finalize(*args, **kwargs)

    monkeypatch.setattr(S, "_finalize", spy)
    path, n = str(tmp_path / "ix"), corpus.count()
    try:
        sc.setJobGroup("pin-build", "build_segments")
        man = build_segments(spark, corpus, transcript_schema(), path,
                             n_segments=3, doc_count=n)
        build_jobs = len(tracker.getJobIdsForGroup("pin-build"))
        sc.setJobGroup("pin-open", "open_segments")
        open_segments(spark, path, corpus, transcript_schema())
        open_jobs = len(tracker.getJobIdsForGroup("pin-open"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(man) == 3
    assert at_finalize == [3]
    assert build_jobs <= 3 + FINALIZE_JOBS
    assert open_jobs == 0


def test_executor_topk_is_take_ordered_not_global_sort(six):
    s = Searcher(six)
    q = Q.Or([Q.Term("text", "merge"), Q.Term("text", "window")])
    p = _plan(s.search(q, limit=10, optimize=False))
    # top-k collects via TakeOrderedAndProject (per-partition heaps),
    # never a full global Sort of the scored set
    assert "TakeOrderedAndProject" in p
    # term filters reach the postings scan even on the executor path
    assert "EqualTo(field,text)" in p or "In(field" in p


def test_search_many_batch_shares_one_scan(six):
    """The batched default path scans the blocks store ONCE for the whole
    term-query group, pruned to the union of every query's terms."""
    s = Searcher(six)
    queries = {
        0: Q.Or([Q.Term("text", "merge"), Q.Term("text", "join")]),
        1: Q.And([Q.Term("text", "hash"), Q.Term("text", "join")]),
        2: Q.DisjunctionMax(
            [Q.Term("text", "spark"), Q.Term("text", "window")]),
    }
    p = _plan(s.search_many(queries, limit=10))
    scans = re.findall(r"FileScan parquet \[field#\d+,term#\d+,block_id", p)
    assert len(scans) == 1
    assert re.search(r"In\(term, \[hash,join,merge,spark,window", p)


def test_sampler_plan_shapes(spark):
    """Bernoulli samplers are pure scan-stage filters (zero Exchange);
    stratified sampling pays exactly its one stratum-keyed window
    shuffle."""
    from whoosh_spark.pipeline import (hash_sample, stratified_sample,
                                       weighted_hash_sample)

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p1 = _plan(hash_sample(docs, 0.3).select("doc_id"))
    p2 = _plan(weighted_hash_sample(docs, "n_chars", 0.002).select("doc_id"))
    assert "Exchange" not in p1 and "Exchange" not in p2
    p3 = _plan(stratified_sample(docs, "lang", 5).select("doc_id"))
    assert p3.count("Exchange hashpartitioning") == 1


def test_pack_sequences_windows_partition_by_pid(spark):
    """The corpus-sized cumsum windows must be PARTITIONED by _pid (parallel);
    the only global-order window in the plan runs over the per-partition
    totals frame (P rows), and those totals come back by broadcast."""
    from pyspark.sql import functions as F
    from whoosh_spark.pipeline import pack_sequences

    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"), F.lit(7).alias("n_tokens"))
    p = _plan(pack_sequences(docs, 64, partitions=8, eager=False))
    # per-row cumsum window is keyed by _pid -> parallel
    assert re.search(r"windowspecdefinition\(_pid", p)
    # totals rejoin by broadcast, not a corpus shuffle join
    assert "BroadcastHashJoin" in p


def test_substring_dedup_single_gram_shuffle(spark):
    """The duplicated-gram detection is ONE count window keyed by the
    16-byte gram hash (count + keep positions in the same pass — the
    groupBy + join-back shape recomputed the explode+md5 and was
    A/B-benched 4x slower); plus the doc-keyed island window. No third
    corpus exchange, no cartesian."""
    from whoosh_spark.pipeline import duplicate_substring_spans
    from pyspark.sql import functions as F

    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.repeat(F.lit("abcdefghij"), 5).alias("text"))
    p = _plan(duplicate_substring_spans(docs))
    assert p.count("Exchange hashpartitioning") == 2
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p


def test_paragraph_dedup_plan_shape(spark):
    """Group labeling is the single-shuffle window shape (count+min over
    the paragraph key — no groupBy + join-back recompute); the doc_id
    reassembly groupBy partial-aggregates map-side; no cartesian."""
    from pyspark.sql import functions as F
    from whoosh_spark.pipeline import paragraph_dedup

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("para one\npara two\n"), F.col("id").cast("string"))
        .alias("text"))
    p = _plan(paragraph_dedup(docs))
    assert re.search(r"HashAggregate.*partial", p) or "partial_count" in p
    # no cartesian anywhere in the rebuild
    assert "CartesianProduct" not in p


def test_dsir_distributions_join_broadcast(spark):
    """The bucket distributions collapse to <= `buckets` rows by
    construction, so they must rejoin the corpus-sized feature frame by
    BROADCAST — a shuffle join here re-keys the whole corpus twice."""
    from pyspark.sql import functions as F
    from whoosh_spark.pipeline import dsir_logweights

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.lit("spark sql shuffle join").alias("text"))
    p = _plan(dsir_logweights(docs, docs.where(F.col("doc_id") < 50)))
    assert "BroadcastHashJoin" in p


def test_token_budget_sample_single_stratum_shuffle(spark):
    """Token counting stays a scan-stage expression; the only corpus
    exchange is the one stratum-keyed window cumsum."""
    from pyspark.sql import functions as F
    from whoosh_spark.pipeline import token_budget_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = _plan(token_budget_sample(docs, {"en": 1000}).select("doc_id"))
    assert p.count("Exchange hashpartitioning") == 1


def test_dsir_gumbel_topk_is_take_ordered(spark):
    """The resampling top-k must be TakeOrderedAndProject (per-partition
    heaps), never a global Sort + Limit."""
    from pyspark.sql import functions as F
    from whoosh_spark.pipeline import dsir_gumbel_topk

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.lit("spark sql shuffle join").alias("text"))
    p = _plan(dsir_gumbel_topk(docs, docs.where(F.col("doc_id") < 50), n=10))
    assert "TakeOrderedAndProject" in p


def test_sessionize_single_shuffle_no_python(spark):
    """The time-axis wave stays pure-JVM with ONE conv-keyed shuffle: the
    lag and the running sum share the partition/order, so the Window
    nodes pipeline over one Exchange + one Sort; nothing drops to Python."""
    import re

    from whoosh_spark.pipeline.conversations import sessionize
    from whoosh_spark.transcripts import synth_turns

    t = synth_turns(spark, 2000)
    p = _plan(sessionize(t, 600))
    assert len(re.findall(r"\bExchange\b", p)) == 1
    assert len(re.findall(r"\bSort\b", p)) == 1
    assert "PythonUDF" not in p and "ArrowEval" not in p and "mapInArrow" not in p


def test_session_stats_partial_agg_over_one_shuffle(spark):
    """session_stats adds only a map-side-combined groupBy on top of the
    sessionize shuffle — (conv_id, session_idx) is a refinement of the
    window's conv_id partitioning, so no SECOND exchange is required
    before the final aggregate."""
    import re

    from whoosh_spark.pipeline.conversations import session_stats
    from whoosh_spark.transcripts import synth_turns

    t = synth_turns(spark, 2000)
    p = _plan(session_stats(t, 600))
    assert "HashAggregate" in p
    # one window shuffle; the agg must reuse the conv_id partitioning
    assert len(re.findall(r"\bExchange\b", p)) == 1


def test_rrf_fuse_take_ordered_two_exchanges(spark):
    """RRF fusion over shortlists: the per-list rank window pays one
    exchange on the list index, the fuse groupBy one on the doc id, and
    the final top-k is TakeOrderedAndProject — never a global Sort of
    the fused set."""
    from pyspark.sql import functions as F
    from whoosh_spark.search.hybrid import rrf_fuse

    a = spark.range(50).select(F.col("id").alias("doc_id"),
                               (F.col("id") * 1.5).alias("score"))
    b = spark.range(30).select(F.col("id").alias("doc_id"),
                               (F.col("id") * 0.5).alias("score"))
    p = _plan(rrf_fuse([a, b], k=10))
    assert "TakeOrderedAndProject" in p
    assert p.count("Exchange hashpartitioning") == 2
    assert "CartesianProduct" not in p


def test_bpe_word_counts_single_partial_agg_shuffle(spark):
    """The BPE corpus-scale stage is ONE map-side-combined groupBy over
    the exploded word stream — no second corpus exchange."""
    from pyspark.sql import functions as F
    from whoosh_spark.pipeline.bpe import bpe_word_counts

    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.lit("spark sql shuffle join scan").alias("text"))
    p = _plan(bpe_word_counts(docs))
    assert re.search(r"HashAggregate.*partial", p) or "partial_count" in p
    assert p.count("Exchange hashpartitioning") == 1


def test_doc_key_terms_no_cartesian_window_on_doc(spark):
    """Per-doc keyword tagging: stats equi-join + one doc-partitioned
    window; no cartesian/nested-loop anywhere."""
    from pyspark.sql import functions as F
    from whoosh_spark.fields import documents_schema
    from whoosh_spark.indexing import build_index
    from whoosh_spark.search.aux import doc_key_terms

    docs = (spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.lit("spark sql shuffle join scan").alias("text"))
        .withColumn("lang", F.lit("en"))
        .withColumn("source", F.lit("s"))
        .withColumn("n_chars", F.length("text")))
    ix = build_index(spark, docs, documents_schema())
    p = _plan(doc_key_terms(ix, "text", 3))
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    assert re.search(r"Window.*doc_id", p) or "row_number" in p


def test_hll_single_partial_agg_shuffle_no_python(spark):
    """The HLL register build is ONE map-side-combined groupBy over pure
    JVM expressions (md5/conv/shift/bin) — partial HashAggregates on both
    sides of a single Exchange, no Python anywhere, no distinct
    pre-shuffle (duplicates collapse into max(rho) map-side)."""
    import re

    from pyspark.sql import functions as F

    from whoosh_spark.pipeline.sketch import hll_registers

    df = spark.range(5000).select(F.concat(F.lit("u"), F.col("id")).alias("v"))
    p = _plan(hll_registers(df, "v", b=8))
    assert len(re.findall(r"\bExchange\b", p)) == 1
    assert p.count("HashAggregate") >= 2  # partial + final
    assert "PythonUDF" not in p and "ArrowEval" not in p


def test_cm_sketch_single_partial_agg_shuffle(spark):
    """CM cells: explode(x depth) then ONE map-side-combined groupBy —
    the sketch never shuffles the corpus, only (row, col_idx) partials."""
    import re

    from pyspark.sql import functions as F

    from whoosh_spark.pipeline.sketch import cm_sketch

    df = spark.range(5000).select(F.col("id").cast("string").alias("w"))
    p = _plan(cm_sketch(df, "w", depth=3, width=128))
    assert len(re.findall(r"\bExchange\b", p)) == 1
    assert p.count("HashAggregate") >= 2
    assert "PythonUDF" not in p and "ArrowEval" not in p


def test_hist_sketch_single_shuffle_and_bounded_quantile_walk(spark):
    """hist_sketch = one partial-agg shuffle of integer bucket ids; the
    quantile walk's windows run over the <= n_buckets sketch rows, never
    the corpus."""
    import re

    from pyspark.sql import functions as F

    from whoosh_spark.pipeline.sketch import hist_sketch

    df = spark.range(5000).select((F.col("id") / 7.0).alias("v"))
    p = _plan(hist_sketch(df, "v", subbits=5))
    assert len(re.findall(r"\bExchange\b", p)) == 1
    assert p.count("HashAggregate") >= 2
    assert "PythonUDF" not in p and "ArrowEval" not in p


def test_bloom_probe_broadcasts_bits(spark):
    """bloom_contains must bring the bit table to the probe side by
    BROADCAST joins only — a shuffle join here would move the 100 TB
    probe corpus instead of the <= m_bits filter."""
    import re

    from pyspark.sql import functions as F

    from whoosh_spark.pipeline.sketch import bloom_bits, bloom_contains

    keys = spark.range(300).select(F.concat(F.lit("k"), F.col("id")).alias("key"))
    bits = bloom_bits(keys, "key", m_bits=2048, k=3)
    p = _plan(bloom_contains(bits, keys, "key", m_bits=2048, k=3))
    assert len(re.findall(r"BroadcastHashJoin", p)) == 3  # one per hash row
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p


def test_strip_html_and_chunk_are_narrow_jvm_maps(spark):
    """strip_html is a whole-stage-codegen regexp chain and chunk_text a
    doc-local explode: NO exchange, NO Python — both run at scan speed
    on the 100 TB side."""
    import re

    from whoosh_spark.pipeline.textstats import chunk_text, strip_html
    from pyspark.sql import functions as F

    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("<b>t"), F.col("id").cast("string")).alias("text"))
    for frame in (strip_html(df), chunk_text(df, 8, 2)):
        p = _plan(frame)
        assert len(re.findall(r"\bExchange\b", p)) == 0
        assert "PythonUDF" not in p and "ArrowEval" not in p


def test_aggregation_suite_plan_shapes(spark):
    """The search-analytics aggs stay scale-shaped: group_stats is one
    stored-field join + one partial-agg exchange (no window, no Python);
    significant_terms' window runs over the per-bucket candidate vocab
    AFTER the (bucket, term) partial aggregate, with the match set
    broadcast — never a shuffle join of the postings against it."""
    import re

    from pyspark.sql import functions as F

    from whoosh_spark import query as Q
    from whoosh_spark.fields import ID, NUMERIC, Schema, TEXT
    from whoosh_spark.indexing import build_index
    from whoosh_spark.search import Searcher
    from whoosh_spark.search.aux import significant_terms

    docs = spark.createDataFrame(
        [(i, f"spark term{i % 7}", f"l{i % 3}", float(i)) for i in range(50)],
        "doc_id long, text string, lang string, v double")
    s = Searcher(build_index(spark, docs, Schema(TEXT("text"), ID("lang"),
                                                 NUMERIC("v"))))
    p = _plan(s.group_stats(Q.Term("text", "spark"), "lang", "v"))
    assert "HashAggregate" in p and "Window" not in p
    assert "PythonUDF" not in p and "ArrowEval" not in p

    db = s.compile(Q.Term("text", "spark")).join(
        s.index.docs.select("doc_id", F.col("lang").alias("bucket")),
        "doc_id").select("doc_id", "bucket")
    p2 = _plan(significant_terms(s.index, db, "text", 3))
    assert "BroadcastHashJoin" in p2  # match set broadcasts onto postings
    assert p2.count("Window [") == 1  # one bounded per-bucket window exec
    assert "PythonUDF" not in p2 and "ArrowEval" not in p2


def test_nb_classifier_plan_shapes(spark):
    """nb_train: the count table builds as ONE map-side-combined groupBy
    (partial + final HashAggregate around one Exchange) over pure JVM
    expressions, and the totals/prior attach via broadcast — no shuffle
    join, no Python. nb_score: the weights side joins the per-doc tf
    stream without a cartesian, and the final top-level plan carries no
    Python either."""
    from pyspark.sql import functions as F

    from whoosh_spark.pipeline.classify import nb_score, nb_train

    docs = spark.createDataFrame(
        [(i, f"spark join word{i % 11} term{i % 5}", "en" if i % 2 else "de")
         for i in range(200)],
        "doc_id long, text string, lang string")
    # train with eager=False so the FULL lineage (counts included) is
    # visible in one plan
    w = nb_train(docs, F.col("lang") == "en", min_df=2, eager=False)
    p = _plan(w)
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert "SortMergeJoin" not in p
    assert "PythonUDF" not in p and "ArrowEval" not in p
    # the counts sub-plan is a partial agg: at least one Exchange carries
    # partial_sum on both class counters
    assert "partial_sum" in p.lower() or p.count("HashAggregate") >= 2

    s = nb_score(docs, nb_train(docs, F.col("lang") == "en", min_df=2))
    p2 = _plan(s)
    assert "CartesianProduct" not in p2
    assert "PythonUDF" not in p2 and "ArrowEval" not in p2


def test_shard_shuffle_single_exchange(spark):
    """shard_shuffle = ONE hash Exchange on the shard key + an in-partition
    sort under the window — no global (single-partition) exchange, no
    Python."""
    from pyspark.sql import functions as F

    from whoosh_spark.pipeline.sampling import shard_shuffle

    docs = spark.range(1000).select(F.col("id").alias("doc_id"))
    p = _plan(shard_shuffle(docs, 8))
    assert len(re.findall(r"\bExchange\b", p)) == 1
    assert "SinglePartition" not in p
    assert "PythonUDF" not in p and "ArrowEval" not in p


def test_collocations_single_corpus_shuffle(spark):
    """Collocation extraction: the ONLY corpus-sized exchange is the
    bigram groupBy; margins/totals aggregate the reduced pair table, the
    final ordering is a TakeOrderedAndProject, and nothing is Python."""
    from pyspark.sql import functions as F
    from whoosh_spark.pipeline import collocations

    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.lit("hash join sort merge hash join").alias("text"))
    p = _plan(collocations(docs, min_count=1, top_n=10))
    assert "TakeOrderedAndProject" in p
    # the only nested-loop is the broadcast cross attaching the 1-row
    # grand total (the repo's scalar-attach idiom); no real cartesian
    assert "CartesianProduct" not in p
    assert p.count("BroadcastNestedLoopJoin") <= 1
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # bigram stream shuffles once; every later exchange repartitions the
    # vocab^2-bounded pair table or a scalar
    assert re.search(r"HashAggregate.*partial", p) or "partial_count" in p


def test_trending_terms_partial_agg_and_bounded_rank(spark):
    """Trending terms: map-side-combined (win, term) groupBy, totals as
    second-stage aggregates, per-window bounded row_number — no Python,
    no cartesian, broadcast totals only."""
    from pyspark.sql import functions as F
    from whoosh_spark.pipeline import trending_terms

    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.to_timestamp(F.lit("2025-01-01 00:00:00")).alias("ts"),
        F.lit("spark sql shuffle join scan").alias("text"))
    p = _plan(trending_terms(docs))
    assert re.search(r"HashAggregate.*partial", p) or "partial_count" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    assert re.search(r"Window.*win", p) or "row_number" in p


def test_ngram_novelty_two_exchanges_no_python(spark):
    """n-gram novelty: (doc,gram)-distinct pre-reduction, gram groupBy,
    join back, doc groupBy — all JVM, no cartesian/nested-loop."""
    from pyspark.sql import functions as F
    from whoosh_spark.pipeline import ngram_novelty

    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.lit("one two three four five six seven eight nine").alias("text"))
    p = _plan(ngram_novelty(docs, n=8))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p


def test_rocchio_expand_broadcast_queries_no_python(spark):
    """Rocchio: the corpus side joins broadcast queries (stage 1 and the
    re-rank); the expansion runs on queries x feedback x dim rows with
    no cartesian blowup and no Python."""
    from pyspark.sql import functions as F
    from whoosh_spark.search.hybrid import rocchio_topk

    emb = spark.range(60).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") * (i + 1) % 7).cast("float")
                  for i in range(4)]).alias("embedding"))
    p = _plan(rocchio_topk(emb, emb.where("vec_id < 2"), k=5, feedback=3))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "BroadcastExchange" in p
