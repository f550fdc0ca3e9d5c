"""Physical segment store: pack/unpack roundtrip, resume, WAND parity.

Mirrors the reference's test_codecs (block contents), test_quality
(block-max metadata + skipping equivalence) and test_indexing (multisegment
correctness, mpwriter parallel ≡ serial).
"""

import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from whoosh_spark import query as Q
from whoosh_spark.fields import transcript_schema
from whoosh_spark.indexing import build_index
from whoosh_spark.indexing.segments import (
    BLOCK_SIZE,
    build_segments,
    open_segments,
)
from whoosh_spark.search import Searcher
from whoosh_spark.search.wand import wand_topk
from whoosh_spark.transcripts import transcript_corpus

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def corpus(spark):
    c = transcript_corpus(spark, SF).persist()
    c.count()
    return c


@pytest.fixture(scope="module")
def seg_path(spark, corpus, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("segix") / "ix")
    build_segments(spark, corpus, transcript_schema(), path, n_segments=3)
    return path


@pytest.fixture(scope="module")
def six(spark, corpus, seg_path):
    return open_segments(spark, seg_path, corpus, transcript_schema())


@pytest.fixture(scope="module")
def lix(spark, corpus):
    return build_index(spark, corpus, transcript_schema()).persist()


def test_unpack_roundtrip_exact(six, lix):
    a = six.postings.orderBy("field", "term", "doc_id").toPandas()
    b = lix.postings.orderBy("field", "term", "doc_id").toPandas()
    assert len(a) == len(b)
    for col in ("field", "term", "doc_id"):
        assert a[col].tolist() == b[col].tolist()
    assert (a["weight"].to_numpy() == b["weight"].to_numpy()).all()
    assert a["dl"].fillna(-1).tolist() == b["dl"].fillna(-1).tolist()
    pos_a = [None if x is None else list(x) for x in a["positions"]]
    pos_b = [None if x is None else list(x) for x in b["positions"]]
    assert pos_a == pos_b


def test_block_invariants(six):
    pdf = six.blocks.toPandas()
    assert (pdf["n"] <= BLOCK_SIZE).all()
    assert (pdf["min_doc"] <= pdf["max_doc"]).all()
    # block-max metadata is a true bound over the decoded postings
    row = pdf[pdf["n"] > 4].iloc[0]
    w = np.frombuffer(row["weights"], dtype=np.float32)
    assert w.max() == row["max_weight"]
    dls = np.frombuffer(row["dls"], dtype=np.uint16)
    assert dls.min() == row["min_dl"]


def test_terms_stats_match_logical(six, lix):
    a = six.terms.orderBy("field", "term").toPandas()
    b = lix.terms.orderBy("field", "term").toPandas()
    assert a["term"].tolist() == b["term"].tolist()
    assert a["df"].tolist() == b["df"].tolist()
    assert np.abs(a["total_weight"] - b["total_weight"]).max() < 1e-9


def test_search_parity_segmented_vs_logical(six, lix):
    qs = [
        Q.Term("text", "spark"),
        Q.And([Q.Term("text", "hash"), Q.Term("text", "join")]),
        Q.Or([Q.Term("text", "merge"), Q.Term("text", "window")]),
        Q.Phrase("text", ["hash", "join"]),
        Q.Prefix("text", "sp"),
    ]
    sa, sb = Searcher(six), Searcher(lix)
    for q in qs:
        assert sa.search(q, optimize=False).collect() == sb.search(q).collect(), q


def test_wand_pruned_equals_unpruned_equals_executor(six):
    s = Searcher(six)
    cases = [
        (["spark"], "or"),
        (["merge", "join", "window"], "or"),
        (["hash", "join"], "and"),
        (["data", "line", "the"], "or"),
        (["merge", "join", "window"], "max"),
        (["hash", "spark"], "max"),
    ]
    for terms, mode in cases:
        mk = {"or": Q.Or, "and": Q.And, "max": Q.DisjunctionMax}[mode]
        ref = [(r.doc_id, r.score)
               for r in s.search(mk([Q.Term("text", t) for t in terms]),
                                 optimize=False).collect()]
        for prune in (False, True):
            for seed in (2, 16):
                got = [
                    (r.doc_id, r.score)
                    for r in wand_topk(six, "text", terms, mode=mode, prune=prune,
                                       seed_blocks=seed).collect()
                ]
                assert got == ref, (terms, mode, prune, seed)  # bit-exact


def test_wand_missing_term(six):
    assert wand_topk(six, "text", ["zzzznope"], mode="or").count() == 0
    assert wand_topk(six, "text", ["spark", "zzzznope"], mode="and").count() == 0
    # OR with one missing term == OR of remaining
    a = wand_topk(six, "text", ["spark", "zzzznope"], mode="or").collect()
    b = wand_topk(six, "text", ["spark"], mode="or").collect()
    assert a == b



def test_search_optimize_routes_to_wand(six, lix):
    """Searcher.search(optimize=True) over a PHYSICAL index routes
    eligible top-k shapes through the block-max WAND kernels (the engine's
    form of the reference's default matcher-quality pruning —
    searching.py::Searcher.search optimize=True) and returns EXACTLY the
    unpruned executor rows; ineligible shapes keep the executor plan."""
    from whoosh_spark.search.scoring import TF_IDF

    s = Searcher(six)
    eligible = [
        Q.Term("text", "spark"),
        Q.Or([Q.Term("text", "merge"), Q.Term("text", "window")]),
        Q.And([Q.Term("text", "hash"), Q.Term("text", "join")]),
        Q.Phrase("text", ["hash", "join"], slop=2),
        Q.Phrase("text", ["window", "merge", "join"], slop=2),
        Q.DisjunctionMax([Q.Term("text", "merge"), Q.Term("text", "window")]),
    ]
    for q in eligible:
        assert s._wand_route(q, 10) is not None, q
        assert (
            s.search(q, limit=10).collect()
            == s.search(q, limit=10, optimize=False).collect()
        ), q  # bit-exact: pruned plan, identical rows
    # r4: Or-of-kernel-eligible-children is TA-decomposable — at this
    # corpus size the cost gate keeps search() on the executor, but the
    # route itself must produce the identical rows (full coverage incl.
    # the gate in tests/test_or_mixed_route.py)
    q_mixed = Q.Or([Q.Term("text", "merge"), Q.Phrase("text", ["hash", "join"])])
    qn_mixed = q_mixed.normalize()
    assert s._or_mixed_desc(qn_mixed) is not None
    assert s._wand_route(q_mixed, 10) is None  # below the cost gate
    assert (s._or_mixed_route(qn_mixed, 10).collect()
            == s.search(q_mixed, limit=10, optimize=False).collect())
    ineligible = [
        Q.Term("text", "spark", boost=2.0),  # boosted
        Q.Or([Q.Term("text", "merge"), Q.Term("role", "user")]),  # non-scorable member
        Q.Or([Q.Term("text", "merge"), Q.Term("text", "window")], scale=0.5),
        Q.Or([Q.Term("text", "merge"), Q.Term("text", "window")], minmatch=2),
        Q.DisjunctionMax(
            [Q.Term("text", "merge"), Q.Term("text", "window")], tiebreak=0.3
        ),
        Q.Prefix("text", "sp"),
        Q.Term("role", "user"),  # ID field: not scorable
    ]
    for q in ineligible:
        assert s._wand_route(q, 10) is None, q
        # and the executor plan still answers them under the default flag
        s.search(q, limit=3).collect()
    # a logical (non-segmented) index never routes
    assert Searcher(lix)._wand_route(Q.Term("text", "spark"), 10) is None
    # non-BM25F models keep the executor path (block bounds are BM25-shaped)
    assert Searcher(six, TF_IDF())._wand_route(Q.Term("text", "spark"), 10) is None
    # flags that change collection semantics bypass the route
    ref = s.search(Q.Term("text", "spark"), limit=None, optimize=True)
    assert ref.orderBy(F.desc("score"), F.asc("doc_id")).collect() == \
        s.search(Q.Term("text", "spark"), limit=None, optimize=False) \
         .orderBy(F.desc("score"), F.asc("doc_id")).collect()


def test_wand_batch_equals_per_query(spark, six):
    """wand_topk_many (one action for the whole query set) returns EXACTLY
    each query's wand_topk rows — bit-identical scores, same tie order —
    including a query with a globally-missing term and mixed overlap of
    terms across queries (shared-term block rows replicate per query)."""
    from whoosh_spark.search.wand import wand_topk_many

    queries = {
        0: ["spark"],
        1: ["merge", "join", "window"],
        2: ["data", "line", "the"],
        3: ["spark", "zzzznope"],  # missing term: OR degrades to the rest
        7: ["join", "merge"],      # overlaps q1's terms
    }
    batch = wand_topk_many(six, "text", queries, k=10).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r.query_id, []).append((r.doc_id, r.score))
    assert set(by_q) <= set(queries)
    for qid, terms in queries.items():
        solo = [(r.doc_id, r.score)
                for r in wand_topk(six, "text", terms, k=10).collect()]
        assert by_q.get(qid, []) == solo, qid


@pytest.mark.parametrize("shard_docs", ["auto", 100])
def test_wand_batch_and_mode_and_deletes(spark, corpus, tmp_path_factory, shard_docs):
    """Batched AND-mode parity on an index WITH deletions: the delete
    markers must replicate into every query's kernel groups, and with
    doc-range shards into every (query, shard) group."""
    from whoosh_spark.indexing.segments import delete_docs
    from whoosh_spark.search.wand import wand_topk_many

    path = str(tmp_path_factory.mktemp("batchdel") / "ix")
    build_segments(spark, corpus, transcript_schema(), path, n_segments=3)
    six0 = open_segments(spark, path, corpus, transcript_schema())
    victims = [r.doc_id
               for r in wand_topk(six0, "text", ["spark"], k=3).collect()]
    delete_docs(spark, path, victims)
    six = open_segments(spark, path, corpus, transcript_schema())

    queries = {0: ["hash", "join"], 1: ["spark", "data"]}
    batch = wand_topk_many(six, "text", queries, k=8, mode="and",
                           shard_docs=shard_docs).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r.query_id, []).append((r.doc_id, r.score))
    for qid, terms in queries.items():
        solo = [(r.doc_id, r.score)
                for r in wand_topk(six, "text", terms, k=8,
                                   mode="and").collect()]
        assert by_q.get(qid, []) == solo, qid
        assert not set(victims) & {d for d, _ in by_q.get(qid, [])}


def test_search_many_optimize_routes_batched_wand(six):
    """search_many(optimize=True) routes WAND-eligible set members through
    the batched block-max kernel (ONE pruned scan per field, per-query
    modes) and phrases through the phrase kernel, while ineligible members
    keep the tagged executor union — all in one plan, rows bit-identical
    to optimize=False (which in turn equals per-query search())."""
    s = Searcher(six)
    queries = {
        0: Q.Term("text", "spark"),
        1: Q.And([Q.Term("text", "hash"), Q.Term("text", "join")]),
        2: Q.Or([Q.Term("text", "merge"), Q.Term("text", "window")]),
        3: Q.DisjunctionMax(
            [Q.Term("text", "merge"), Q.Term("text", "window")]),
        4: Q.Phrase("text", ["hash", "join"]),
        5: Q.Prefix("text", "sp"),                       # executor path
        6: Q.Or([Q.Term("text", "merge"), Q.Term("text", "window")],
                minmatch=2),                             # executor path
        9: Q.Term("text", "zzzznope"),                   # empty result
    }
    ref_df = s.search_many(queries, limit=8, optimize=False)
    opt_df = s.search_many(queries, limit=8, optimize=True)
    # the batched kernel is an applyInPandas group map; the executor union
    # is pure JVM SQL — presence/absence discriminates the routing
    assert "FlatMapGroupsInPandas" in opt_df._jdf.queryExecution().toString()
    assert ("FlatMapGroupsInPandas"
            not in ref_df._jdf.queryExecution().toString())
    ref = [(r.query_id, r.doc_id, r.score) for r in ref_df.collect()]
    got = [(r.query_id, r.doc_id, r.score) for r in opt_df.collect()]
    assert got == ref
    # and the unoptimized batch equals per-query search (both paths)
    by_q = {}
    for qid, doc, sc in ref:
        by_q.setdefault(qid, []).append((doc, sc))
    for qid, q in queries.items():
        solo = [(r.doc_id, r.score)
                for r in s.search(q, limit=8, optimize=False).collect()]
        assert by_q.get(qid, []) == solo, qid


def test_parallelism_invariance(spark, corpus, tmp_path_factory, six):
    """mpwriter analogue: different segment counts -> identical search."""
    path2 = str(tmp_path_factory.mktemp("segix2") / "ix")
    build_segments(spark, corpus, transcript_schema(), path2, n_segments=1)
    six_1 = open_segments(spark, path2, corpus, transcript_schema())
    q = Q.Or([Q.Term("text", "spark"), Q.Term("text", "join")])
    assert (Searcher(six_1).search(q, optimize=False).collect()
            == Searcher(six).search(q, optimize=False).collect())
    assert (
        wand_topk(six_1, "text", ["spark", "join"]).collect()
        == wand_topk(six, "text", ["spark", "join"]).collect()
    )


# NOTE: runs LAST — it rewrites segment files under seg_path, which would
# invalidate the module-scoped `six` fixture's cached file listing for any
# test that follows it.
def test_resume_completes_missing_segment(spark, corpus, tmp_path_factory):
    # own index dir: deleting + rebuilding segment 1 rewrites parquet part
    # files, which would invalidate the module-scoped `six` handle's file
    # listing for every later test (stale-scan FILE_NOT_EXIST)
    path = str(tmp_path_factory.mktemp("resumeix") / "ix")
    build_segments(spark, corpus, transcript_schema(), path, n_segments=3)
    ix0 = open_segments(spark, path, corpus, transcript_schema())
    before = Searcher(ix0).search(Q.Term("text", "spark"), optimize=False).collect()
    os.remove(os.path.join(path, "_manifest", "seg_1.json"))
    shutil.rmtree(os.path.join(path, "blocks", "segment_id=1"))
    man = build_segments(spark, corpus, transcript_schema(), path, n_segments=3)
    assert sorted(man) == [0, 1, 2]
    assert all(m["status"] == "committed" for m in man.values())
    assert {"n_docs", "n_postings", "n_blocks", "n_terms", "lineage"} <= set(man[1])
    six2 = open_segments(spark, path, corpus, transcript_schema())
    assert (Searcher(six2).search(Q.Term("text", "spark"), optimize=False)
            .collect() == before)


def test_merge_segments_salted(spark, corpus, tmp_path_factory):
    """Merge all segments with a low hot threshold (exercises the salted
    hot-term split): identical stats + search, fewer blocks (boundary
    partials coalesce), TOC lists only the merged segment."""
    import json

    from whoosh_spark.indexing.segments import MERGED_BASE, merge_segments

    path = str(tmp_path_factory.mktemp("segm") / "ix")
    build_segments(spark, corpus, transcript_schema(), path, n_segments=4)
    six_a = open_segments(spark, path, corpus, transcript_schema())
    stats_before = six_a.terms.orderBy("field", "term").toPandas()
    nb_before = six_a.blocks.count()
    q = Q.Or([Q.Term("text", "spark"), Q.Term("text", "join")])
    res_before = Searcher(six_a).search(q, optimize=False).collect()
    wand_before = wand_topk(six_a, "text", ["merge", "window"]).collect()

    merge_segments(spark, path, hot_term_blocks=4, target_blocks_per_salt=4)

    six_b = open_segments(spark, path, corpus, transcript_schema())
    with open(os.path.join(path, "_meta.json")) as f:
        meta = json.load(f)
    # merged ids live in their own namespace (never collide with a future
    # stream micro-batch id — see segments.MERGED_BASE)
    assert meta["active_segments"] == [MERGED_BASE]
    assert six_b.blocks.count() < nb_before
    stats_after = six_b.terms.orderBy("field", "term").toPandas()
    assert stats_before["term"].tolist() == stats_after["term"].tolist()
    assert stats_before["df"].tolist() == stats_after["df"].tolist()
    assert np.abs(stats_before["total_weight"] - stats_after["total_weight"]).max() < 1e-9
    assert Searcher(six_b).search(q, optimize=False).collect() == res_before
    assert wand_topk(six_b, "text", ["merge", "window"]).collect() == wand_before
    assert six_b.manifest[MERGED_BASE]["lineage"]["merged_segments"] == [0, 1, 2, 3]


def test_vector_physical_matches_logical(spark, tmp_path):
    from whoosh_spark.fields import ID, NUMERIC, Schema, TEXT
    from whoosh_spark.indexing import build_index
    from whoosh_spark.indexing.segments import build_segments, open_segments

    docs = [
        {"doc_id": i, "text": f"alpha beta gamma{i % 3} delta " * (1 + i % 2), "role": "u", "n": i}
        for i in range(20)
    ]
    schema = Schema(TEXT("text"), ID("role"), NUMERIC("n"))
    sdf = spark.createDataFrame(docs)
    logical = build_index(spark, sdf, schema)
    path = str(tmp_path / "vec_ix")
    build_segments(spark, sdf, schema, path, n_segments=2)
    physical = open_segments(spark, path, sdf, schema)
    for did in (0, 7, 19):
        a = [(r["term"], r["weight"]) for r in logical.vector(did, "text").collect()]
        b = [(r["term"], r["weight"]) for r in physical.vector(did, "text").collect()]
        assert a == b and len(a) > 0


def test_wand_prune_with_overlapping_merged_blocks(spark, corpus, tmp_path_factory):
    """Regression (round-2 advice): after a salted hot-term merge, blocks of
    ONE term can carry overlapping [min_doc, max_doc] ranges (salt groups
    coalesce partial blocks from different segments independently). The WAND
    refine bound must interval-sum over ALL covering pruned blocks; a single
    searchsorted hit under-estimates and returns under-scored top-k. Force
    heavy pruning (seed_blocks=1) and assert pruned == unpruned bit-exactly.
    """
    from whoosh_spark.indexing.segments import merge_segments

    path = str(tmp_path_factory.mktemp("ovl") / "ix")
    build_segments(spark, corpus, transcript_schema(), path, n_segments=4)
    merge_segments(spark, path, hot_term_blocks=1, target_blocks_per_salt=2)
    six = open_segments(spark, path, corpus, transcript_schema())

    # the fixture must actually produce per-term overlapping block ranges
    pdf = (
        six.blocks.where(F.col("field") == "text")
        .select("term", "min_doc", "max_doc")
        .toPandas()
    )
    overlapping = False
    for _t, g in pdf.groupby("term"):
        if len(g) < 2:
            continue
        g = g.sort_values(["min_doc", "max_doc"]).reset_index(drop=True)
        if (g["min_doc"].to_numpy()[1:] <= g["max_doc"].to_numpy()[:-1]).any():
            overlapping = True
            break
    assert overlapping, "merge produced no overlapping ranges; strengthen fixture"

    for terms in (["spark"], ["merge", "join", "window"], ["hash", "spark", "query"]):
        ref = wand_topk(six, "text", terms, k=10, prune=False).collect()
        got = wand_topk(six, "text", terms, k=10, prune=True, seed_blocks=1).collect()
        assert got == ref, terms


def test_build_with_tiny_doc_chunk_equivalent(spark, corpus, lix, tmp_path_factory):
    """Hot-term bound at BUILD time: packing shuffles on (field, term,
    doc-chunk) so no single task ever owns a zipfian term's whole posting
    list. Force many chunks (doc_chunk=64) and assert the index is
    IDENTICAL in content: postings roundtrip equals the logical build, term
    stats match, and WAND pruned == unpruned despite cross-chunk overlapping
    block ranges."""
    path = str(tmp_path_factory.mktemp("chunked") / "ix")
    build_segments(spark, corpus, transcript_schema(), path, n_segments=2,
                   doc_chunk=64)
    six = open_segments(spark, path, corpus, transcript_schema())

    a = six.postings.orderBy("field", "term", "doc_id").toPandas()
    b = lix.postings.orderBy("field", "term", "doc_id").toPandas()
    assert len(a) == len(b)
    assert a["doc_id"].tolist() == b["doc_id"].tolist()
    assert (a["weight"].to_numpy() == b["weight"].to_numpy()).all()

    sa = six.terms.orderBy("field", "term").toPandas()
    sb = lix.terms.orderBy("field", "term").toPandas()
    assert sa["df"].tolist() == sb["df"].tolist()

    for terms in (["spark"], ["merge", "join", "window"]):
        ref = wand_topk(six, "text", terms, k=10, prune=False).collect()
        got = wand_topk(six, "text", terms, k=10, prune=True, seed_blocks=1).collect()
        assert got == ref, terms


def test_wand_doc_shard_equivalence(spark, corpus, seg_path):
    """Horizontal WAND: sharding a segment into doc ranges (blocks
    replicated across boundaries + range-filtered after decode) must be
    bit-identical to per-segment WAND, pruned and unpruned, and with
    deletes in play.

    Re-opens the index: the module-scoped ``six`` fixture's file listing is
    stale after the resume test rewrites segment 1's parquet files."""
    six = open_segments(spark, seg_path, corpus, transcript_schema())
    for terms, mode in ((["spark"], "or"), (["merge", "join", "window"], "or"),
                        (["hash", "join"], "and")):
        base = wand_topk(six, "text", terms, k=10, mode=mode).collect()
        for shard in (64, 257, 10**9):
            got = wand_topk(six, "text", terms, k=10, mode=mode,
                            shard_docs=shard).collect()
            assert got == base, (terms, mode, shard)
        got = wand_topk(six, "text", terms, k=10, mode=mode,
                        shard_docs=100, seed_blocks=1).collect()
        assert got == base, (terms, mode, "pruned+sharded")


def test_wand_doc_shard_with_deletes(spark, corpus, tmp_path_factory):
    from whoosh_spark.indexing.segments import delete_docs

    path = str(tmp_path_factory.mktemp("sharddel") / "ix")
    build_segments(spark, corpus, transcript_schema(), path, n_segments=2)
    six0 = open_segments(spark, path, corpus, transcript_schema())
    top = wand_topk(six0, "text", ["spark"], k=5).collect()
    delete_docs(spark, path, [r.doc_id for r in top[:2]])
    six1 = open_segments(spark, path, corpus, transcript_schema())
    base = wand_topk(six1, "text", ["spark"], k=10).collect()
    got = wand_topk(six1, "text", ["spark"], k=10, shard_docs=97).collect()
    assert got == base
    assert {r.doc_id for r in top[:2]}.isdisjoint({r.doc_id for r in got})


def test_wand_field_b_override_matches_searcher(spark, corpus, seg_path):
    """Regression (query-path deep review): wand_topk resolved B as
    fs.B-else-weighting.B, skipping weighting.field_B — the canonical
    order is field_B > fs.B > B (scoring.BM25F._b_for)."""
    from whoosh_spark.search.scoring import BM25F

    # fresh open: the module-scoped fixture goes stale after the resume
    # test rewrites segment files (cached file listings)
    six = open_segments(spark, seg_path, corpus, transcript_schema())
    w = BM25F(field_B={"text": 0.3})
    got = wand_topk(six, "text", ["spark", "join"], k=10, weighting=w).collect()
    from whoosh_spark import query as Q

    exp = (
        Searcher(six, w)
        .search(Q.Or([Q.Term("text", "spark"), Q.Term("text", "join")]), limit=10,
                optimize=False)
        .collect()
    )
    assert [r.doc_id for r in got] == [r.doc_id for r in exp]
    for a, b in zip(got, exp):
        assert a.score == pytest.approx(b.score, rel=1e-9)


def test_wand_doc_range_exact(spark, six):
    """doc_range slice: pruned + sharded WAND over [lo, hi) must equal the
    UNPRUNED full computation restricted to the same slice — candidates
    filtered, stats global (FilterMatcher semantics)."""
    from whoosh_spark.search.wand import wand_topk

    lo, hi = 200, 1400
    got = [(r.doc_id, round(r.score, 6)) for r in wand_topk(
        six, "text", ["merge", "join", "window"], k=10,
        doc_range=(lo, hi), shard_docs=500).collect()]
    full = wand_topk(six, "text", ["merge", "join", "window"],
                     k=5000, prune=False, shard_docs=None)
    want = [(r.doc_id, round(r.score, 6))
            for r in full.where(f"doc_id >= {lo} AND doc_id < {hi}")
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(10).collect()]
    assert got == want and len(got) == 10
    assert all(lo <= d < hi for d, _ in got)


def test_wand_doc_range_and_mode_and_validation(spark, six):
    from whoosh_spark.search.wand import wand_topk

    out = wand_topk(six, "text", ["hash", "join"], mode="and",
                    doc_range=(0, 800)).collect()
    assert all(r.doc_id < 800 for r in out)
    full = {r.doc_id for r in wand_topk(six, "text", ["hash", "join"],
                                        mode="and", k=5000).collect()
            if r.doc_id < 800}
    assert {r.doc_id for r in out} <= full
    with pytest.raises(ValueError, match="empty doc_range"):
        wand_topk(six, "text", ["hash"], doc_range=(10, 10))


def test_doc_range_for_time_slice(spark, six, corpus):
    """End-to-end time-slice search: ts predicate -> covering docnum range
    -> doc_range WAND; docnum order == ts order by construction here, so
    the covering range is exactly the ts slice."""
    from whoosh_spark.search.wand import wand_topk

    cutoff = corpus.selectExpr(
        "timestamp_seconds(percentile(unix_timestamp(ts), 0.5))").first()[0]
    rng = six.doc_range_for(F.col("ts") < cutoff)
    assert rng is not None and rng[0] == 0
    expected_hi = corpus.where(F.col("ts") < cutoff).count()
    assert rng[1] == expected_hi  # monotone ts => tight covering range
    out = wand_topk(six, "text", ["merge", "join"], doc_range=rng).collect()
    assert out and all(r.doc_id < expected_hi for r in out)
    assert six.doc_range_for(F.col("ts") < F.lit("1970-01-01")) is None


def test_wand_many_doc_range_matches_serial(spark, six):
    """Batched doc-subset evaluation == per-query wand_topk with the same
    doc_range, bit-identical."""
    from whoosh_spark.search.wand import wand_topk, wand_topk_many

    qs = {0: ["merge", "join"], 1: ["spark"], 2: ["window", "batch"]}
    rng = (300, 1800)
    batch = wand_topk_many(six, "text", qs, k=5, doc_range=rng).collect()
    got = {(r.query_id, r.doc_id, r.score) for r in batch}
    want = set()
    for q, ts in qs.items():
        for r in wand_topk(six, "text", ts, k=5, doc_range=rng).collect():
            want.add((q, r.doc_id, r.score))
    assert got == want and len(got) == 15
    assert all(rng[0] <= d < rng[1] for _, d, _ in got)


def _all_kinds_schema():
    from whoosh_spark.analysis import AnalyzerSpec
    from whoosh_spark.fields import (BOOLEAN, ID, KEYWORD, MULTILANG_TEXT,
                                     NUMERIC, TEXT, Schema)

    return Schema(
        ID("conv_id"),
        NUMERIC("turn_idx"),
        TEXT("text"),
        MULTILANG_TEXT("body", lang_col="lang", default="en"),
        TEXT("title", field_boost=1.5),
        TEXT("tagged", analyzer=AnalyzerSpec(
            pattern=r"[^ \t\r\n]+", stoplist=None, minsize=1,
            delimited_boost="^")),
        ID("lang"),
        BOOLEAN("flag"),
        KEYWORD("tags"),
    )


def _all_kinds_rows(n=240, seed=5):
    """Rows exercising every indexed field kind, with NULLs, empty
    strings, repeated keywords, stopwords, unknown languages and
    binary-exact delimited boosts."""
    rng = np.random.default_rng(seed)
    words = np.array(["spark", "join", "the", "merge", "a", "window",
                      "hash", "laufen", "parler", "walking", "stream"])
    langs = ["en", "de", "fr", "zz", None]
    rows = []
    for i in range(n):
        w = rng.choice(words, size=int(rng.integers(0, 9)))
        tags = " ".join(rng.choice(["x", "y", "zz", "x"], size=int(rng.integers(0, 5))))
        rows.append((
            None if i % 17 == 0 else ("" if i % 13 == 0 else f"c{i // 4}"),
            i % 4,
            " ".join(w),
            " ".join(rng.permutation(w)),
            langs[i % len(langs)],
            " ".join(w[:3]),
            " ".join(f"{t}^{b}" for t, b in zip(w, ["2", "0.5", "1.25"] * 3)),
            None if i % 7 == 0 else bool(i % 3),
            None if i % 11 == 0 else ("  " + tags if i % 5 == 0 else tags),
        ))
    return rows


_ALL_KINDS_DDL = ("conv_id string, turn_idx long, text string, body string, "
                  "lang string, title string, tagged string, flag boolean, "
                  "tags string")


def _sorted_postings(ix):
    pdf = ix.postings.orderBy("field", "term", "doc_id").toPandas()
    pdf["positions"] = [None if p is None else list(p) for p in pdf["positions"]]
    pdf["dl"] = pdf["dl"].astype("float64")
    return pdf


@pytest.mark.parametrize("doc_chunk", [None, 50])
def test_segments_equal_build_index_every_field_kind(spark, tmp_path, doc_chunk):
    """The in-task inverter and build_index share one postings producer:
    decoded segment postings (weights, positions, dl) and term stats
    equal build_index's for TEXT, MULTILANG_TEXT, ID, BOOLEAN, KEYWORD,
    a field_boost and a delimited-boost analyzer — with one doc chunk per
    segment and with many."""
    schema = _all_kinds_schema()
    rows = _all_kinds_rows()
    docs = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(rows)], "doc_id long, " + _ALL_KINDS_DDL
    ).persist()
    path = str(tmp_path / "ix")
    kw = {} if doc_chunk is None else {"doc_chunk": doc_chunk}
    man = build_segments(spark, docs, schema, path, n_segments=3, **kw)
    six = open_segments(spark, path, docs, schema)
    lix = build_index(spark, docs, schema)

    a, b = _sorted_postings(six), _sorted_postings(lix)
    assert set(b["field"]) == {"conv_id", "text", "body", "title", "tagged",
                               "lang", "flag", "tags"}
    assert len(a) == len(b)
    for col in ("field", "term", "doc_id", "weight", "positions"):
        assert a[col].tolist() == b[col].tolist(), col
    assert a["dl"].fillna(-1).tolist() == b["dl"].fillna(-1).tolist()
    # the cases the kinds exist for actually occur
    assert (b.loc[b["field"] == "tags", "weight"] > 1).any()
    assert (b.loc[b["field"] == "tagged", "weight"] % 1 != 0).any()
    assert (b.loc[b["field"] == "title", "weight"] == 1.5).any()

    cols = ["field", "term", "df", "total_weight", "max_weight", "min_doc", "max_doc"]
    sa = six.terms.select(*cols).orderBy("field", "term").toPandas()
    sb = lix.terms.select(*cols).orderBy("field", "term").toPandas()
    assert sa.astype({"max_weight": float}).values.tolist() == \
        sb.astype({"max_weight": float}).values.tolist()
    # manifest counts, whichever way a segment's terms were counted
    per_seg = six.blocks.groupBy("segment_id").agg(
        F.count_distinct("field", "term").alias("t"), F.sum("n").alias("p"),
        F.count("*").alias("b")).collect()
    assert {r["segment_id"]: (r["t"], r["p"], r["b"]) for r in per_seg} == {
        s: (m["n_terms"], m["n_postings"], m["n_blocks"]) for s, m in man.items()}
    docs.unpersist()


def test_append_batch_round_trips_postings(spark, tmp_path):
    """append_batch writes its segment through the same inverter: the
    decoded postings and term stats of the streamed segment equal
    build_index over the stored (doc-id-assigned) batch."""
    from whoosh_spark.streaming.incremental import IncrementalIndexer

    schema = _all_kinds_schema()
    batch = spark.createDataFrame(_all_kinds_rows(n=120, seed=9), _ALL_KINDS_DDL)
    ixer = IncrementalIndexer(spark, str(tmp_path / "ix"), schema)
    ixer.append_batch(batch, 0)
    stored = ixer.stored_docs().persist()
    six = open_segments(spark, ixer.path, stored, schema)
    lix = build_index(spark, stored, schema)
    a, b = _sorted_postings(six), _sorted_postings(lix)
    assert len(a) == len(b) > 0
    for col in ("field", "term", "doc_id", "weight", "positions"):
        assert a[col].tolist() == b[col].tolist(), col
    assert a["dl"].fillna(-1).tolist() == b["dl"].fillna(-1).tolist()
    sa = six.terms.select("field", "term", "df", "total_weight").orderBy(
        "field", "term").toPandas()
    sb = lix.terms.select("field", "term", "df", "total_weight").orderBy(
        "field", "term").toPandas()
    assert sa.values.tolist() == sb.values.tolist()
    # the streamed manifest carries the counts its write observed
    assert _block_counts(six) == _manifest_counts(six.manifest)
    assert [m["n_docs"] for m in six.manifest.values()] == [120]
    stored.unpersist()


def _block_counts(six) -> dict:
    """segment id -> (n_terms, n_postings, n_blocks) aggregated over the
    segment's written block rows."""
    rows = six.blocks.groupBy("segment_id").agg(
        F.count_distinct("field", "term").alias("t"), F.sum("n").alias("p"),
        F.count("*").alias("b")).collect()
    return {r["segment_id"]: (r["t"], r["p"], r["b"]) for r in rows}


def _manifest_counts(man: dict) -> dict:
    return {s: (m["n_terms"], m["n_postings"], m["n_blocks"])
            for s, m in man.items()}


@pytest.mark.parametrize("doc_chunk", [None, 50])
def test_manifest_counts_equal_written_blocks(spark, corpus, tmp_path, doc_chunk):
    """Manifest counts observed on the segment write, over sparse doc ids
    (every 7th id dropped): n_docs is the real row count of the segment's
    range, and n_terms / n_postings / n_blocks equal the aggregates of the
    written blocks — with one doc chunk per segment (terms counted from
    block_id 0) and with many (terms counted over the written blocks)."""
    docs = corpus.where(F.col("doc_id") % 7 != 0)
    n = corpus.count()
    path = str(tmp_path / "ix")
    kw = {} if doc_chunk is None else {"doc_chunk": doc_chunk}
    man = build_segments(spark, docs, transcript_schema(), path, n_segments=3,
                         doc_count=n, **kw)
    six = open_segments(spark, path, docs, transcript_schema())
    assert len(man) == 3
    for m in man.values():
        assert m["n_docs"] == docs.where(
            (F.col("doc_id") >= m["doc_lo"]) & (F.col("doc_id") < m["doc_hi"])
        ).count() > 0
    assert _block_counts(six) == _manifest_counts(man)
    if doc_chunk is not None:
        # terms restart at each chunk: block_id 0 rows overcount the terms
        zeros = dict(six.blocks.where("block_id = 0").groupBy("segment_id")
                     .count().collect())
        assert all(zeros[s] > m["n_terms"] for s, m in man.items())


def test_many_term_lookups_do_not_overflow(six, lix):
    """prefetch_stats / pairs_postings over 2,500 distinct (field, term)
    pairs: the lookup predicate is one term IN-list per field, not an OR
    chain of one equality per term (which overflowed the JVM stack)."""
    real = [r["term"] for r in lix.terms.where(F.col("field") == "text")
            .orderBy("term").limit(400).collect()]
    pairs = ([("text", t) for t in real] + [("role", "user")]
             + [("text", f"zz{i:05d}") for i in range(2100)])
    assert len(set(pairs)) >= 2000
    for ix in (six, lix):
        ix._lexicon_cache = None
        ix.prefetch_stats(pairs)
        cache = ix._stats_cache()
        assert cache[("text", "zz00007")] == (0, 0.0)
        exp = {(r["field"], r["term"]): (int(r["df"]), float(r["total_weight"]))
               for r in lix.terms.where(
                   (F.col("field") == "text") & F.col("term").isin(real)).collect()}
        assert {p: cache[p] for p in exp} == exp
        assert cache[("role", "user")][0] > 0
        got = ix.pairs_postings(pairs).groupBy("field").count().collect()
        n_text = sum(d for d, _ in exp.values())
        assert {r["field"]: r["count"] for r in got} == {
            "text": n_text, "role": cache[("role", "user")][0]}


def test_pack_partition_matches_per_block_loop(lix):
    """The packer builds each binary column from one buffer + block
    offsets; a plain per-block loop over the sorted postings is the
    reference for every byte, positional and non-positional blocks
    alike."""
    import pyarrow as pa

    from whoosh_spark.indexing.segments import _pack_partition
    from whoosh_spark.util import varint_encode_lengths

    pdf = lix.postings.orderBy("field", "term", "doc_id").toPandas()
    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    out = pa.Table.from_batches(list(_pack_partition(iter(tbl.to_batches(1000)))))
    got = out.to_pylist()
    i = 0
    for blk in got:
        rows = pdf.iloc[i:i + blk["n"]]
        i += blk["n"]
        assert {blk["field"]} == set(rows["field"]) and {blk["term"]} == set(rows["term"])
        doc = rows["doc_id"].to_numpy()
        deltas = np.diff(doc, prepend=0)
        deltas[0] = doc[0]
        assert blk["doc_deltas"] == varint_encode_lengths(deltas)[0]
        assert blk["weights"] == rows["weight"].to_numpy(np.float32).tobytes()
        dl = np.minimum(rows["dl"].fillna(0).to_numpy(np.int64), 65535)
        assert blk["dls"] == dl.astype(np.uint16).tobytes()
        pos = [list(p) if p is not None else [] for p in rows["positions"]]
        if any(pos):
            counts = np.array([len(p) for p in pos], dtype=np.uint16)
            assert blk["pos_counts"] == counts.tobytes()
            flat = np.array([v for p in pos for v in p], dtype=np.int64)
            assert blk["pos_vals"] == varint_encode_lengths(flat)[0]
        else:
            assert blk["pos_counts"] is None and blk["pos_vals"] is None
    assert i == len(pdf)
    assert {b["pos_vals"] is None for b in got} == {True, False}
