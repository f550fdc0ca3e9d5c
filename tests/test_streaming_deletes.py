"""Incremental (streaming) indexing and deletion semantics."""

import os

import pytest
from pyspark.sql import functions as F

from whoosh_spark import query as Q
from whoosh_spark.fields import transcript_schema
from whoosh_spark.indexing import build_index
from whoosh_spark.indexing.segments import (
    build_segments,
    delete_by_term,
    delete_docs,
    merge_segments,
    open_segments,
    read_deletes,
)
from whoosh_spark.search import Searcher
from whoosh_spark.search.wand import wand_topk
from whoosh_spark.streaming import IncrementalIndexer, index_stream
from whoosh_spark.transcripts import transcript_corpus

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def corpus(spark):
    c = transcript_corpus(spark, SF).persist()
    c.count()
    return c


# ------------------------------------------------------------- streaming


def test_incremental_batches_match_batch_build(spark, corpus, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stream") / "ix")
    ixer = IncrementalIndexer(spark, path, transcript_schema())
    turns = corpus.drop("doc_id")
    n = corpus.count()
    b0 = turns.where(F.col("conv_id") < "c00000300")
    b1 = turns.where(F.col("conv_id") >= "c00000300")
    ixer.append_batch(b0, 0)
    ixer.append_batch(b1, 1)

    stored = ixer.stored_docs()
    assert stored.count() == n
    six = open_segments(spark, path, stored, transcript_schema())
    lix = build_index(spark, corpus, transcript_schema()).persist()

    # same stats (df/total_weight are docnum-independent)
    a = six.terms.orderBy("field", "term").toPandas()
    b = lix.terms.orderBy("field", "term").toPandas()
    assert a["term"].tolist() == b["term"].tolist()
    assert a["df"].tolist() == b["df"].tolist()

    # same results by (conv_id, turn_idx) identity and scores
    q = Q.Or([Q.Term("text", "spark"), Q.Term("text", "join")])
    ra = (
        Searcher(six)
        .with_stored_fields(Searcher(six).search(q), "conv_id", "turn_idx")
        .select("conv_id", "turn_idx", F.round("score", 9).alias("s"))
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    rb = (
        Searcher(lix)
        .with_stored_fields(Searcher(lix).search(q), "conv_id", "turn_idx")
        .select("conv_id", "turn_idx", F.round("score", 9).alias("s"))
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    assert ra == rb


def test_batch_replay_is_idempotent(spark, corpus, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("replay") / "ix")
    ixer = IncrementalIndexer(spark, path, transcript_schema())
    turns = corpus.drop("doc_id").limit(100)
    ixer.append_batch(turns, 0)
    six1 = open_segments(spark, path, ixer.stored_docs(), transcript_schema())
    n1 = six1.postings.count()
    ixer.append_batch(turns, 0)  # replayed micro-batch
    six2 = open_segments(spark, path, ixer.stored_docs(), transcript_schema())
    assert six2.postings.count() == n1
    assert sorted(six2.manifest) == [1_000_000]


def test_structured_streaming_file_source(spark, corpus, tmp_path_factory):
    base = tmp_path_factory.mktemp("ss")
    src_dir, path, ckpt = str(base / "in"), str(base / "ix"), str(base / "ckpt")
    corpus.drop("doc_id").limit(200).write.parquet(src_dir)
    stream = (
        spark.readStream.schema(spark.read.parquet(src_dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = index_stream(stream, path, transcript_schema(), ckpt)
    q.processAllAvailable()
    q.stop()
    ixer = IncrementalIndexer(spark, path, transcript_schema())
    assert ixer.stored_docs().count() == 200
    six = open_segments(spark, path, ixer.stored_docs(), transcript_schema())
    res = Searcher(six).search(Q.Term("text", "spark")).collect()
    assert len(res) > 0


# ------------------------------------------------------------- deletions


@pytest.fixture()
def seg(spark, corpus, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("del") / "ix")
    build_segments(spark, corpus, transcript_schema(), path, n_segments=3)
    return path


def test_delete_semantics(spark, corpus, seg):
    six = open_segments(spark, seg, corpus, transcript_schema())
    before = Searcher(six).search(Q.Term("text", "spark"), limit=None).collect()
    victim = before[0].doc_id
    survivors = {r.doc_id: r.score for r in before if r.doc_id != victim}

    delete_docs(spark, seg, [victim])
    six2 = open_segments(spark, seg, corpus, transcript_schema())
    after = Searcher(six2).search(Q.Term("text", "spark"), limit=None).collect()
    assert victim not in {r.doc_id for r in after}
    # idf counts deleted docs (doc_count_all): survivor scores UNCHANGED
    assert {r.doc_id: r.score for r in after} == survivors
    # WAND path masks deletions too
    wand = wand_topk(six2, "text", ["spark"], k=len(before)).collect()
    assert victim not in {r.doc_id for r in wand}
    # Every / Not see only live docs
    n_all = corpus.count()
    assert Searcher(six2).compile(Q.Every()).count() == n_all - 1


def test_delete_by_term_and_merge_expunge(spark, corpus, seg):
    six = open_segments(spark, seg, corpus, transcript_schema())
    target_ids = {r.doc_id for r in six.term_postings("text", "window").select("doc_id").collect()}
    n_del = delete_by_term(spark, six, "text", "window")
    assert n_del == len(target_ids) > 0

    six2 = open_segments(spark, seg, corpus, transcript_schema())
    assert Searcher(six2).search(Q.Term("text", "window")).collect() == []
    keep = Searcher(six2).search(Q.Term("text", "merge"), limit=None).collect()

    # merge expunges: postings physically gone, delete set cleared
    merge_segments(spark, seg)
    six3 = open_segments(spark, seg, corpus, transcript_schema())
    assert read_deletes(spark, seg) is None
    assert six3.deleted is None
    raw_blocks = six3.blocks.where(F.col("term") == "window")
    assert raw_blocks.count() == 0  # physically expunged
    # expunge updates doc_count/totals (Whoosh optimize recomputes stats),
    # so scores change but the LIVE doc set is identical
    assert six3.doc_count == six2.doc_count - len(target_ids)
    after = Searcher(six3).search(Q.Term("text", "merge"), limit=None).collect()
    assert {r.doc_id for r in after} == {r.doc_id for r in keep}
    # Regression (round-2 advice): expunged docs must NOT resurrect in
    # live_docs()/Every/Not — the merge records them as tombstones because
    # the external stored-docs table still holds their rows.
    n_all = corpus.count()
    assert Searcher(six3).compile(Q.Every()).count() == n_all - len(target_ids)
    live_ids = {r.doc_id for r in six3.live_docs().select("doc_id").collect()}
    assert live_ids.isdisjoint(target_ids)


def test_merge_every_does_not_drop_next_batch(spark, corpus, tmp_path_factory):
    """Regression (round-2 advice, HIGH): merged-segment ids used to collide
    with the id the NEXT micro-batch computes (STREAM_BASE+k+1), silently
    dropping that batch while the checkpoint advanced. Also: a replayed
    batch whose segment was merged away must stay a no-op — idempotency
    keys on lineage batch_id carried through merge manifests."""
    from whoosh_spark.indexing.segments import MERGED_BASE, _read_manifest

    path = str(tmp_path_factory.mktemp("mergeevery") / "ix")
    ixer = IncrementalIndexer(spark, path, transcript_schema(), merge_every=2)
    rows = corpus.drop("doc_id")
    batches = [rows.where(F.pmod(F.xxhash64("conv_id"), F.lit(3)) == i) for i in range(3)]
    counts = [b.count() for b in batches]
    assert all(c > 0 for c in counts)

    ixer.append_batch(batches[0], 0)
    ixer.append_batch(batches[1], 1)  # triggers the merge (merge_every=2)
    done = _read_manifest(path)
    assert all(s >= MERGED_BASE for s in done), done.keys()

    ixer.append_batch(batches[2], 2)  # the batch the old id scheme dropped
    six = open_segments(spark, path, ixer.stored_docs(), transcript_schema())
    assert six.doc_count == sum(counts)

    # per-term stats equal the batch build of the full corpus (doc ids
    # differ; df/total_weight are id-invariant)
    lix = build_index(spark, corpus, transcript_schema()).persist()
    a = six.terms.orderBy("field", "term").toPandas()
    b = lix.terms.orderBy("field", "term").toPandas()
    assert a["term"].tolist() == b["term"].tolist()
    assert a["df"].tolist() == b["df"].tolist()

    # replaying any batch — including one merged away — is a no-op
    n_post = six.postings.count()
    for i in range(3):
        ixer.append_batch(batches[i], i)
    six2 = open_segments(spark, path, ixer.stored_docs(), transcript_schema())
    assert six2.postings.count() == n_post
    assert six2.doc_count == sum(counts)


def test_mass_delete_dataframe_merge_expunge(spark, corpus, tmp_path_factory):
    """Scale-path deletes: a dedup-sweep-sized delete set arrives as a
    DataFrame (never a Python list), masks reads, then a merge expunges it
    physically — doc_count, Every, tombstones, and remaining postings all
    consistent, with zero driver collect of ids anywhere."""
    from whoosh_spark.indexing.segments import (
        delete_docs, merge_segments, read_deletes, read_tombstones,
    )

    path = str(tmp_path_factory.mktemp("massdel") / "ix")
    build_segments(spark, corpus, transcript_schema(), path, n_segments=3)
    n_all = corpus.count()

    # delete ~half the corpus, as a frame derived from a predicate
    victims = corpus.where(F.col("doc_id") % 2 == 0).select("doc_id")
    n_victims = victims.count()
    total = delete_docs(spark, path, victims)
    assert total == n_victims

    six = open_segments(spark, path, corpus, transcript_schema())
    assert six.doc_count == n_all  # doc_count_all: deletes don't shrink idf
    assert Searcher(six).compile(Q.Every()).count() == n_all - n_victims
    hits = Searcher(six).search(Q.Term("text", "spark"), limit=None).collect()
    assert all(r.doc_id % 2 == 1 for r in hits)
    wand = wand_topk(six, "text", ["spark"], k=50).collect()
    assert all(r.doc_id % 2 == 1 for r in wand)

    merge_segments(spark, path)
    six2 = open_segments(spark, path, corpus, transcript_schema())
    assert read_deletes(spark, path) is None  # fully expunged
    tomb = read_tombstones(spark, path)
    assert tomb is not None and tomb.count() == n_victims
    assert six2.doc_count == n_all - n_victims
    assert Searcher(six2).compile(Q.Every()).count() == n_all - n_victims
    # postings physically contain no even doc ids
    assert six2.postings.where(F.col("doc_id") % 2 == 0).count() == 0
    # same query results pre/post expunge (scores change with doc_count,
    # membership must not)
    hits2 = Searcher(six2).search(Q.Term("text", "spark"), limit=None).collect()
    assert {r.doc_id for r in hits2} == {r.doc_id for r in hits}


def test_merge_expunge_writes_manifest_once_atomically(spark, corpus, tmp_path_factory,
                                                       monkeypatch):
    """An expunging merge commits its manifest once, through a tmp file and
    a rename: a direct write to a committed ``seg_*.json`` could be cut
    short by a crash and leave JSON that no later open can parse."""
    import builtins

    from whoosh_spark.indexing import segments
    from whoosh_spark.indexing.segments import _read_manifest

    path = str(tmp_path_factory.mktemp("mergeonce") / "ix")
    build_segments(spark, corpus, transcript_schema(), path, n_segments=3)
    victims = corpus.where(F.col("doc_id") % 5 == 0).select("doc_id")
    n_victims = victims.count()
    delete_docs(spark, path, victims)

    def guarded_open(file, mode="r", *args, **kwargs):
        name = os.path.basename(str(file))
        if "w" in mode and name.startswith("seg_") and name.endswith(".json"):
            raise AssertionError(f"in-place write to committed manifest {name}")
        return builtins.open(file, mode, *args, **kwargs)

    monkeypatch.setattr(segments, "open", guarded_open, raising=False)
    merge_segments(spark, path)
    monkeypatch.undo()

    (man,) = _read_manifest(path).values()
    assert man["n_docs"] == corpus.count() - n_victims
    assert open_segments(spark, path, corpus, transcript_schema()).doc_count == man["n_docs"]


def test_second_merge_repacks_in_doc_order(spark, corpus, tmp_path_factory):
    """Regression (round-2 deep review): merge #2 mixes the MERGED_BASE
    segment (LOWEST doc ids, HIGHEST segment id) with newer stream
    segments, so block order is not doc order; without the in-repack
    (field, term, doc_id) sort the delta-varint pack corrupts doc ids
    silently (df/count stats still look right — only decoded ids break)."""
    from whoosh_spark.indexing.segments import MERGED_BASE, _read_manifest

    path = str(tmp_path_factory.mktemp("merge2") / "ix")
    ixer = IncrementalIndexer(spark, path, transcript_schema(), merge_every=2)
    rows = corpus.drop("doc_id")
    batches = [rows.where(F.pmod(F.xxhash64("conv_id"), F.lit(3)) == i)
               for i in range(3)]
    for i, b in enumerate(batches):
        ixer.append_batch(b, i)  # batch2 triggers the second merge
    done = _read_manifest(path)
    assert all(s >= MERGED_BASE for s in done)
    assert len(done) == 1  # everything folded into one merged segment

    stored = ixer.stored_docs()
    six = open_segments(spark, path, stored, transcript_schema())
    # the actual corruption vector: block headers are first/last-of-block,
    # so an unsorted repack produces INVERTED [min_doc, max_doc] ranges
    # (decoded ids survive via signed varint round-trip — only the
    # metadata breaks, killing WAND bounds and delete range-attachment)
    assert six.blocks.where(F.col("min_doc") > F.col("max_doc")).count() == 0
    lix = build_index(spark, stored, transcript_schema()).persist()
    q = Q.Or([Q.Term("text", "spark"), Q.Term("text", "join")])
    a = Searcher(six).search(q, limit=None).collect()
    b = Searcher(lix).search(q, limit=None).collect()
    assert [r.doc_id for r in a] == [r.doc_id for r in b]
    for ra, rb in zip(a, b):
        assert ra.score == pytest.approx(rb.score, rel=1e-9)
    # block-max pruning over the repacked metadata == unpruned
    w_pruned = wand_topk(six, "text", ["spark", "join"], k=10).collect()
    top10 = Searcher(six).search(q, limit=10).collect()
    assert [(r.doc_id, r.score) for r in w_pruned] == [
        (r.doc_id, pytest.approx(r.score, rel=1e-9)) for r in top10
    ]


def test_upsert_replay_does_not_delete_own_docs(spark, tmp_path_factory):
    """Regression (round-2 deep review): a REPLAYED upsert batch used to run
    the delete pass against its own committed docs (their unique values now
    match), permanently masking them while append_batch no-opped."""
    from whoosh_spark.fields import ID, Schema, TEXT
    from whoosh_spark.streaming.incremental import upsert_batch

    path = str(tmp_path_factory.mktemp("upsertreplay") / "ix")
    schema = Schema(ID("docid", unique=True), TEXT("text"))
    ixer = IncrementalIndexer(spark, path, schema)
    df = spark.createDataFrame(
        [("a", "alpha beta"), ("b", "gamma delta")], "docid string, text string"
    )
    assert upsert_batch(ixer, df, 0, ["docid"]) == 0  # nothing to delete yet
    # at-least-once delivery: the exact same batch replays after a crash
    assert upsert_batch(ixer, df, 0, ["docid"]) == 0
    six = open_segments(spark, path, ixer.stored_docs(), schema)
    hits = Searcher(six).search(Q.Term("text", "alpha"), limit=None).collect()
    assert len(hits) == 1
    assert read_deletes(spark, path) is None


def test_merged_input_manifest_resurrection_ignored(spark, corpus, tmp_path_factory):
    """Regression (round-2 deep review): a crash between the merge's TOC
    swap and its input-manifest cleanup leaves input manifests on disk;
    the merge lineage must win or the inputs resurrect (duplicate docs)."""
    import json as _json

    from whoosh_spark.indexing.segments import _manifest_dir, _read_manifest

    path = str(tmp_path_factory.mktemp("resurrect") / "ix")
    ixer = IncrementalIndexer(spark, path, transcript_schema())
    rows = corpus.drop("doc_id")
    ixer.append_batch(rows.where(F.col("conv_id") < "c00000300"), 0)
    ixer.append_batch(rows.where(F.col("conv_id") >= "c00000300"), 1)
    done_before = _read_manifest(path)
    saved = {
        s: open(os.path.join(_manifest_dir(path), f"seg_{s}.json")).read()
        for s in done_before
    }
    merge_segments(spark, path)
    merged_done = _read_manifest(path)
    n_total = corpus.count()
    # simulate the crash window: an input manifest survives the merge
    stale_id, stale_body = next(iter(saved.items()))
    with open(os.path.join(_manifest_dir(path), f"seg_{stale_id}.json"), "w") as f:
        f.write(stale_body)
    done = _read_manifest(path)
    assert set(done) == set(merged_done)  # stale input excluded via lineage
    assert sum(m["n_docs"] for m in done.values()) == n_total
    # and the next batch's doc_count bookkeeping stays correct
    extra = spark.createDataFrame(
        [("zz", 0, "user", "brand new turn text", "t", None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    ixer.append_batch(extra, 2)
    _json.load(open(os.path.join(path, "_meta.json")))["doc_count"] == n_total + 1


def test_id_set_survives_mid_swap_crash(spark, corpus, tmp_path_factory):
    """Regression (round-2 deep review): _write_id_set used to rmtree the
    live directory before installing the new one — a crash in between lost
    every delete. Now the live dir is renamed to .old first, and the
    reader falls back to it."""
    from whoosh_spark.indexing.segments import _deletes_path

    path = str(tmp_path_factory.mktemp("idset") / "ix")
    corpus2 = corpus.limit(50)
    build_segments(spark, corpus2, transcript_schema(), path, n_segments=1,
                   doc_count=50)
    delete_docs(spark, path, [1, 2, 3])
    # simulate the crash window: live dir renamed away, new dir not yet in
    os.replace(_deletes_path(path), _deletes_path(path) + ".old")
    dels = read_deletes(spark, path)
    assert dels is not None
    assert {r.doc_id for r in dels.collect()} == {1, 2, 3}


def test_delete_docs_requires_doc_id_column(spark, corpus, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("delcol") / "ix")
    build_segments(spark, corpus.limit(50), transcript_schema(), path,
                   n_segments=1, doc_count=50)
    # multi-column frame without doc_id: clear error, not silent column-0
    bad = spark.createDataFrame([(9, 1)], "rank long, other long")
    with pytest.raises(ValueError):
        delete_docs(spark, path, bad)
    # doc_id among several columns is selected by NAME
    good = spark.createDataFrame([(9, 1)], "rank long, doc_id long")
    delete_docs(spark, path, good)
    assert {r.doc_id for r in read_deletes(spark, path).collect()} == {1}


def test_range_queries_exclude_deleted_docs(spark, corpus, tmp_path_factory):
    """Regression (query-path deep review): NumericRange/DateRange used to
    scan index.docs directly, so deleted docs matched range queries even
    though every term query and Every() excluded them."""
    path = str(tmp_path_factory.mktemp("rangedel") / "ix")
    sub = corpus.limit(40)
    build_segments(spark, sub, transcript_schema(), path, n_segments=1,
                   doc_count=40)
    six = open_segments(spark, path, sub, transcript_schema())
    victim = sub.select("doc_id", "turn_idx").collect()[0]
    delete_docs(spark, path, [int(victim.doc_id)])
    six = open_segments(spark, path, sub, transcript_schema())
    q = Q.NumericRange("turn_idx", int(victim.turn_idx), int(victim.turn_idx))
    hits = {r.doc_id for r in Searcher(six).search(q, limit=None).collect()}
    assert victim.doc_id not in hits
    # and the surviving matches are exactly the undeleted same-turn_idx docs
    expect = {
        r.doc_id for r in sub.where(F.col("turn_idx") == victim.turn_idx).collect()
    } - {victim.doc_id}
    assert hits == expect


def test_upsert_delete_lookup_stays_distributed(spark, tmp_path_factory, monkeypatch):
    """Round-3 scale fix: upsert_batch must not collect the batch's key
    values or the matching doc ids to the driver — the id FRAME flows
    straight into delete_docs; only the deleted-count scalar is local."""
    from pyspark.sql import DataFrame

    from whoosh_spark.fields import ID, Schema, TEXT
    from whoosh_spark.indexing import segments as S
    from whoosh_spark.streaming.incremental import upsert_batch

    path = str(tmp_path_factory.mktemp("upsertdist") / "ix")
    schema = Schema(ID("docid", unique=True), TEXT("text"))
    ixer = IncrementalIndexer(spark, path, schema)
    df0 = spark.createDataFrame(
        [("a", "alpha beta"), ("b", "gamma delta"), ("c", "epsilon zeta")],
        "docid string, text string",
    )
    assert upsert_batch(ixer, df0, 0, ["docid"]) == 0

    seen = {}
    real = S.delete_docs

    def spy(spark_, path_, ids):
        seen["is_frame"] = isinstance(ids, DataFrame)
        return real(spark_, path_, ids)

    monkeypatch.setattr(S, "delete_docs", spy)
    df1 = spark.createDataFrame(
        [("b", "gamma rewritten"), ("d", "eta theta")], "docid string, text string"
    )
    assert upsert_batch(ixer, df1, 1, ["docid"]) == 1
    assert seen["is_frame"] is True  # id frame, never a collected list
    six = open_segments(spark, path, ixer.stored_docs(), schema)
    hits = Searcher(six).search(Q.Term("text", "gamma"), limit=None).collect()
    assert len(hits) == 1  # old 'b' deleted; only the rewritten 'b' matches
    hits = Searcher(six).search(Q.Term("text", "delta"), limit=None).collect()
    assert len(hits) == 0


# ------------------------------------------- incremental term stats (gen'd)


STATS_COLS = ["field", "term", "df", "total_weight", "max_weight",
              "min_doc", "max_doc"]


def _stats_pdf(spark, path):
    from whoosh_spark.indexing.segments import read_term_stats

    return (read_term_stats(spark, path).orderBy("field", "term")
            .toPandas()[STATS_COLS])


def test_incremental_stats_match_full_recompute(spark, corpus, tmp_path_factory):
    """Round-3 scale fix: per-batch _finalize writes ONLY the new segment's
    vocabulary as a fresh LSM delta layer; readers fold the layers with the
    decomposable aggregate. The folded view must be BIT-EXACT vs a full
    recompute, layers must accumulate under the compaction bound, and
    superseded stats dirs must be cleaned up after the TOC swap."""
    import json

    from whoosh_spark.indexing.segments import _finalize

    path = str(tmp_path_factory.mktemp("incstats") / "ix")
    ixer = IncrementalIndexer(spark, path, transcript_schema())
    turns = corpus.drop("doc_id")
    cuts = ["c00000150", "c00000300", "c00000450"]
    batches = [
        turns.where(F.col("conv_id") < cuts[0]),
        turns.where((F.col("conv_id") >= cuts[0]) & (F.col("conv_id") < cuts[1])),
        turns.where((F.col("conv_id") >= cuts[1]) & (F.col("conv_id") < cuts[2])),
        turns.where(F.col("conv_id") >= cuts[2]),
    ]
    for i, b in enumerate(batches):
        ixer.append_batch(b, i)

    with open(os.path.join(path, "_meta.json")) as f:
        meta = json.load(f)
    # batch 0 publishes the base layer (gen 0), batches 1-3 delta layers
    assert meta["stats"]["generation"] == 3
    assert sorted(meta["stats"]["segments"]) == meta["active_segments"]
    assert len(meta["stats"]["layers"]) == 4  # base + 3 deltas, under bound
    # on-disk dirs are exactly the published layer set
    dirs = sorted(n for n in os.listdir(path) if n.startswith("terms_global"))
    assert dirs == sorted(meta["stats"]["layers"])

    layered = _stats_pdf(spark, path)
    # force a full recompute of the SAME active set by pointing the stats
    # provenance at a missing generation (NOT by deleting the key: gen 0's
    # dir uses the legacy flat name, so a keyless TOC would be trusted as a
    # legacy layout covering the whole active set — correct for real legacy
    # TOCs, which always recomputed before swapping)
    meta["stats"] = {"generation": 999, "segments": [],
                     "layers": ["terms_global_g999"]}
    with open(os.path.join(path, "_meta.json"), "w") as f:
        json.dump(meta, f)
    _finalize(spark, path, meta["doc_count"], meta["active_segments"])
    with open(os.path.join(path, "_meta.json")) as f:
        meta2 = json.load(f)
    assert len(meta2["stats"]["layers"]) == 1  # recompute = one base layer
    full = _stats_pdf(spark, path)
    for col in STATS_COLS:
        assert layered[col].tolist() == full[col].tolist(), col


def test_stats_layer_compaction(spark, corpus, tmp_path_factory, monkeypatch):
    """Crossing STATS_LAYERS_MAX folds every layer + the delta into ONE
    sorted run; the folded content is unchanged and reads stay bounded."""
    import json

    from whoosh_spark.indexing import segments as S

    monkeypatch.setattr(S, "STATS_LAYERS_MAX", 2)
    path = str(tmp_path_factory.mktemp("compact") / "ix")
    ixer = IncrementalIndexer(spark, path, transcript_schema())
    turns = corpus.drop("doc_id")
    cuts = ["c00000150", "c00000300"]
    batches = [
        turns.where(F.col("conv_id") < cuts[0]),
        turns.where((F.col("conv_id") >= cuts[0]) & (F.col("conv_id") < cuts[1])),
        turns.where(F.col("conv_id") >= cuts[1]),
    ]
    ixer.append_batch(batches[0], 0)  # base layer
    ixer.append_batch(batches[1], 1)  # delta layer (2 layers = at bound)
    with open(os.path.join(path, "_meta.json")) as f:
        assert len(json.load(f)["stats"]["layers"]) == 2
    before = _stats_pdf(spark, path)

    ixer.append_batch(batches[2], 2)  # would be 3 layers -> compaction
    with open(os.path.join(path, "_meta.json")) as f:
        meta = json.load(f)
    assert len(meta["stats"]["layers"]) == 1
    dirs = [n for n in os.listdir(path) if n.startswith("terms_global")]
    assert dirs == meta["stats"]["layers"]  # superseded layers cleaned up

    # compacted stats = full recompute over all three batches, and the
    # pre-compaction fold is a subset-consistent view (batch 0+1 only)
    from whoosh_spark.indexing.segments import _finalize

    after = _stats_pdf(spark, path)
    del meta["stats"]
    with open(os.path.join(path, "_meta.json"), "w") as f:
        json.dump(meta, f)
    _finalize(spark, path, meta["doc_count"], meta["active_segments"])
    full = _stats_pdf(spark, path)
    for col in STATS_COLS:
        assert after[col].tolist() == full[col].tolist(), col
    assert before["df"].sum() < after["df"].sum()

    # searches against the compacted index are exact
    six = open_segments(spark, path, ixer.stored_docs(), transcript_schema())
    assert six.doc_count == corpus.count()
    assert wand_topk(six, "text", ["spark"], k=5).count() == 5


def test_stats_generation_crash_window(spark, corpus, tmp_path_factory,
                                       monkeypatch):
    """A crash between writing the next stats generation and the _meta.json
    swap leaves a garbage gen dir under the OLD TOC (which still reads its
    own, untouched generation); the replayed batch retries into the same
    gen dir and lands the swap."""
    import json

    from whoosh_spark.indexing import segments as S

    path = str(tmp_path_factory.mktemp("crashstats") / "ix")
    ixer = IncrementalIndexer(spark, path, transcript_schema())
    turns = corpus.drop("doc_id")
    b0 = turns.where(F.col("conv_id") < "c00000300")
    b1 = turns.where(F.col("conv_id") >= "c00000300")
    ixer.append_batch(b0, 0)
    n0 = ixer.stored_docs().count()

    # crash AT the TOC swap: segment + manifest + next-gen stats all written,
    # _meta.json untouched
    real_replace = os.replace

    def failing_swap(src, dst):
        if str(dst).endswith("_meta.json"):
            raise OSError("simulated crash at TOC swap")
        return real_replace(src, dst)

    monkeypatch.setattr(S.os, "replace", failing_swap)
    with pytest.raises(OSError, match="simulated crash"):
        ixer.append_batch(b1, 1)
    monkeypatch.undo()

    # old TOC is intact and still opens against ITS stats generation
    with open(os.path.join(path, "_meta.json")) as f:
        meta = json.load(f)
    assert meta["stats"]["generation"] == 0
    six = open_segments(spark, path, b0, transcript_schema())
    assert six.doc_count == n0

    # replay: manifest present but segment absent from the TOC -> the
    # re-finalize path retries the gen write (overwrite) and lands the swap
    ixer.append_batch(b1, 1)
    with open(os.path.join(path, "_meta.json")) as f:
        meta = json.load(f)
    assert meta["stats"]["generation"] == 1
    six = open_segments(spark, path, ixer.stored_docs(), transcript_schema())
    assert six.doc_count == corpus.count()
    assert wand_topk(six, "text", ["spark"], k=5).count() == 5


def test_legacy_flat_stats_layout_opens(spark, corpus, tmp_path_factory):
    """An index published by the pre-generation code (flat terms_global dir,
    no `stats` key in _meta.json) must open unchanged, and the next
    _finalize over a superset must take the DELTA path from the legacy dir."""
    import json

    from whoosh_spark.indexing.segments import _published_stats

    path = str(tmp_path_factory.mktemp("legacy") / "ix")
    ixer = IncrementalIndexer(spark, path, transcript_schema())
    turns = corpus.drop("doc_id")
    ixer.append_batch(turns.where(F.col("conv_id") < "c00000300"), 0)
    # strip the stats key to forge a legacy TOC (gen 0 dir name is the flat
    # historical name, so the layout on disk is identical)
    with open(os.path.join(path, "_meta.json")) as f:
        meta = json.load(f)
    assert meta["stats"]["generation"] == 0
    legacy = {k: v for k, v in meta.items() if k != "stats"}
    with open(os.path.join(path, "_meta.json"), "w") as f:
        json.dump(legacy, f)

    six = open_segments(spark, path, ixer.stored_docs(), transcript_schema())
    assert six.terms.count() > 0  # legacy open works
    assert _published_stats(path) == (0, legacy["active_segments"],
                                      ["terms_global"])

    ixer.append_batch(turns.where(F.col("conv_id") >= "c00000300"), 1)
    with open(os.path.join(path, "_meta.json")) as f:
        meta2 = json.load(f)
    assert meta2["stats"]["generation"] == 1  # delta-merged off the flat dir
    six = open_segments(spark, path, ixer.stored_docs(), transcript_schema())
    assert six.doc_count == corpus.count()
