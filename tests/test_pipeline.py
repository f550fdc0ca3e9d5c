"""Training-data pipeline operators: dedup, similarity, text stats, media."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from whoosh_spark.pipeline import (
    ann_topk,
    cosine_topk,
    decode_image,
    exact_duplicates,
    fake_decode_meta,
    ivf_topk,
    langid,
    minhash_dedup_pairs,
    minhash_lsh_candidates,
    minhash_signatures,
    quality_scores,
    shingle_jaccard_pairs,
    simhash_pairs,
    synth_assets,
    token_counts,
    winnow_fingerprints,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet").persist()
    d.count()
    return d


@pytest.fixture(scope="module")
def emb(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet").persist()
    e.count()
    return e


def test_exact_duplicates_finds_planted_copies(spark, docs):
    # plant copies: every doc with id < 5 appears twice
    copies = docs.where("doc_id < 5").withColumn("doc_id", F.col("doc_id") + 100000)
    dup = exact_duplicates(docs.unionByName(copies))
    groups = dup.where("n_copies > 1")
    assert groups.count() == 10  # 5 groups x 2 members
    assert groups.where("is_canonical").count() == 5
    assert dup.where("n_copies = 1").count() == docs.count() - 5


def test_minhash_lsh_equals_exact_jaccard(spark, docs):
    exact = shingle_jaccard_pairs(docs, threshold=0.8).select("i", "j").orderBy("i", "j")
    lsh = minhash_dedup_pairs(docs, threshold=0.8).select("i", "j").orderBy("i", "j")
    assert exact.collect() == lsh.collect()
    assert exact.count() > 0  # corpus contains planted near-dups


def test_minhash_signature_shape_and_determinism(spark, docs):
    s1 = minhash_signatures(docs.limit(20), n_hashes=32).orderBy("doc_id").collect()
    s2 = minhash_signatures(docs.limit(20).repartition(7), n_hashes=32).orderBy(
        "doc_id"
    ).collect()
    assert [r.sig for r in s1] == [r.sig for r in s2]  # partition-invariant
    assert all(len(r.sig) == 32 for r in s1)


def test_lsh_candidates_superset_of_high_jaccard(spark, docs):
    sigs = minhash_signatures(docs)
    cand = {(r.i, r.j) for r in minhash_lsh_candidates(sigs).collect()}
    exact = {(r.i, r.j) for r in shingle_jaccard_pairs(docs, threshold=0.9).collect()}
    assert exact <= cand  # recall ~1 at J>=0.9 with b=16,r=4


def test_simhash_pairs_sane(spark, docs):
    pairs = simhash_pairs(docs, maxdist=3).collect()
    near = {(r.i, r.j) for r in shingle_jaccard_pairs(docs, threshold=0.3).collect()}
    got = {(r.i, r.j) for r in pairs}
    # simhash hits should be mostly real near-dups (64-bit sketch on short
    # docs is noisy — this pins gross regressions, not precision)
    assert len(got) > 0
    assert len(got & near) / len(got) > 0.6


def test_cosine_topk_matches_numpy(spark, emb):
    got = cosine_topk(emb, emb.where("vec_id = 0"), k=5).collect()
    pdf = emb.orderBy("vec_id").toPandas()
    mat = np.array([np.array(v, dtype=np.float64) for v in pdf["embedding"]])
    ids = pdf["vec_id"].to_numpy()
    q = mat[ids == 0][0]
    cos = (mat @ q) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    cos[ids == 0] = -np.inf
    top = ids[np.lexsort((ids, -cos))][:5]
    assert [r.vec_id for r in got] == top.tolist()
    assert got[0].cosine == pytest.approx(float(np.sort(cos)[-1]), rel=1e-9)


def test_ivf_recall(spark, emb):
    q = emb.where("vec_id < 5")
    exact = {(r.query_id, r.vec_id) for r in cosine_topk(emb, q, k=10).collect()}
    approx = {
        (r.query_id, r.vec_id)
        for r in ivf_topk(emb, q, k=10, n_clusters=16, n_probe=6).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.7  # near-random vectors


def test_ivf_full_probe_is_exact(spark, emb):
    q = emb.where("vec_id < 3")
    exact = cosine_topk(emb, q, k=5).select("query_id", "vec_id").orderBy(
        "query_id", "vec_id"
    )
    full = ivf_topk(emb, q, k=5, n_clusters=8, n_probe=8).select(
        "query_id", "vec_id"
    ).orderBy("query_id", "vec_id")
    assert exact.collect() == full.collect()


def test_ann_hyperplane_runs(spark, emb):
    out = ann_topk(emb, emb.where("vec_id < 2"), k=5, n_planes=8, multiprobe_bits=2)
    rows = out.collect()
    assert all(r.query_id in (0, 1) for r in rows)


def test_token_counts_fixture(spark):
    df = spark.createDataFrame([(0, "Hello, world 42  x")], "doc_id long, text string")
    r = token_counts(df).collect()[0]
    assert (r.ws_tokens, r.word_tokens, r.bpe_tokens) == (4, 4, 6)
    # bpe: Hello , world 4 2 x


def test_quality_and_langid_deterministic(spark, docs):
    q1 = quality_scores(docs).orderBy("doc_id").collect()
    q2 = quality_scores(docs.repartition(5)).orderBy("doc_id").collect()
    assert q1 == q2
    en = langid(
        spark.createDataFrame(
            [(0, "the cat and the dog are in the house")], "doc_id long, text string"
        )
    ).collect()[0]
    assert en.lang_pred == "en"
    de = langid(
        spark.createDataFrame(
            [(1, "der hund und die katze sind nicht im haus")],
            "doc_id long, text string",
        )
    ).collect()[0]
    assert de.lang_pred == "de"


def test_winnow_fingerprints_detect_shared_substring(spark):
    a = "the quick brown fox jumps over the lazy dog near the river bank today"
    b = "completely different prefix text but jumps over the lazy dog near the end"
    df = spark.createDataFrame([(0, a), (1, b), (2, "zzz unrelated qqq")],
                               "doc_id long, text string")
    fps = winnow_fingerprints(df).toPandas()
    s0 = set(fps[fps.doc_id == 0]["fp"])
    s1 = set(fps[fps.doc_id == 1]["fp"])
    s2 = set(fps[fps.doc_id == 2]["fp"])
    assert len(s0 & s1) >= 2  # shared 28-char substring yields shared prints
    assert len(s0 & s2) == 0


def test_multimodal_plumbing(spark, docs):
    assets = synth_assets(docs.limit(10))
    meta = fake_decode_meta(assets).orderBy("doc_id").collect()
    assert len(meta) == 10
    assert all(0 <= r.width < 4096 and 0 <= r.height < 4096 for r in meta)
    assert all(r.n_bytes == 16 for r in meta)
    # determinism across partitionings
    meta2 = fake_decode_meta(synth_assets(docs.limit(10).repartition(4))).orderBy(
        "doc_id"
    ).collect()
    assert meta == meta2
    with pytest.raises(NotImplementedError):
        decode_image(assets)


def test_minhash_dedup_against_incremental(spark, docs):
    """Incremental dedup: new-batch-vs-existing pairs equal the cross
    subset of the full-corpus pairs, and passing precomputed existing
    signatures (the lake-side reuse path) gives identical output."""
    from whoosh_spark.pipeline import minhash_dedup_against, minhash_dedup_pairs
    from whoosh_spark.pipeline.dedup import minhash_signatures

    new = docs.where("doc_id >= 400")
    old = docs.where("doc_id < 400")
    full = {
        (r.i, r.j)
        for r in minhash_dedup_pairs(docs, threshold=0.8).collect()
    }
    cross_expected = {
        (max(i, j), min(i, j)) for i, j in full if (i >= 400) != (j >= 400)
    }
    got = minhash_dedup_against(new, old, threshold=0.8).collect()
    assert {(r.i, r.j) for r in got} == cross_expected
    sigs_old = minhash_signatures(old).persist()
    got2 = minhash_dedup_against(new, old, sigs_existing=sigs_old,
                                 threshold=0.8).collect()
    assert sorted((r.i, r.j, round(r.jaccard, 6)) for r in got2) == sorted(
        (r.i, r.j, round(r.jaccard, 6)) for r in got
    )
    sigs_old.unpersist()


# ---------------------------------------------------------------- IVF-PQ


def test_pq_encode_shape_and_determinism(spark, emb):
    from whoosh_spark.pipeline.similarity import pq_codebooks, pq_encode

    books = pq_codebooks(emb, m=8, ksub=16)
    assert books.shape == (8, 16, 8)
    codes = pq_encode(emb, books).orderBy("vec_id").collect()
    assert len(codes) == 500
    assert all(len(r.code) == 8 for r in codes)
    # deterministic: same books -> same codes
    codes2 = pq_encode(emb, books).orderBy("vec_id").collect()
    assert [r.code for r in codes] == [r.code for r in codes2]


def test_ivf_pq_recall_and_exact_rerank(spark, emb):
    from whoosh_spark.pipeline.similarity import cosine_topk, ivf_pq_topk

    qs = emb.where("vec_id < 5")
    exact = cosine_topk(emb, qs, k=10).collect()
    ex, exv = {}, {}
    for r in exact:
        ex.setdefault(r.query_id, set()).add(r.vec_id)
        exv[(r.query_id, r.vec_id)] = r.cosine

    approx = ivf_pq_topk(emb, qs, k=10, n_probe=6, refine=4).collect()
    ap = {}
    for r in approx:
        ap.setdefault(r.query_id, set()).add(r.vec_id)
        if (r.query_id, r.vec_id) in exv:
            # the refine stage re-scores exactly — overlap cosines match
            assert r.cosine == pytest.approx(exv[(r.query_id, r.vec_id)], abs=1e-12)
    recall = sum(len(ex[q] & ap.get(q, set())) / len(ex[q]) for q in ex) / len(ex)
    assert recall >= 0.55  # probed 6/16 clusters, coarse 8x16 codes


def test_ivf_pq_recall_improves_with_resolution(spark, emb):
    from whoosh_spark.pipeline.similarity import (
        cosine_topk, ivf_pq_topk, pq_codebooks)

    qs = emb.where("vec_id < 5")
    exact = cosine_topk(emb, qs, k=10).collect()
    ex = {}
    for r in exact:
        ex.setdefault(r.query_id, set()).add(r.vec_id)
    books = pq_codebooks(emb, m=16, ksub=32)
    full = ivf_pq_topk(emb, qs, k=10, n_probe=16, refine=8, m=16, ksub=32,
                       codebooks=books).collect()
    fp = {}
    for r in full:
        fp.setdefault(r.query_id, set()).add(r.vec_id)
    recall = sum(len(ex[q] & fp.get(q, set())) / len(ex[q]) for q in ex) / len(ex)
    assert recall >= 0.9  # full probe + fine codes: shortlist ~= exact


def test_cluster_neardup_recall_vs_exact(spark, emb):
    from whoosh_spark.pipeline.similarity import (
        cluster_neardup_pairs, cosine_neardup_pairs)

    exact = {(r.i, r.j) for r in cosine_neardup_pairs(emb, threshold=0.4).collect()}
    blocked_rows = cluster_neardup_pairs(emb, threshold=0.4, n_clusters=8).collect()
    blocked = {(r.i, r.j) for r in blocked_rows}
    # subset of the exact pairs (cosines are exact inside blocks)...
    assert blocked <= exact
    # ...with usable recall on this corpus, and real pruning
    assert exact, "fixture should contain near-dup pairs at 0.4"
    assert len(blocked) / len(exact) >= 0.3


def test_sample_frames_plumbing(spark, docs):
    from whoosh_spark.pipeline.multimodal import sample_frames, synth_assets

    assets = synth_assets(docs.where("doc_id < 10"))
    frames = sample_frames(assets, frame_bytes=4, stride=2).collect()
    # 16-byte payload / 4-byte frames, stride 2 -> exactly frames 0 and 2
    assert len(frames) == 20
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r.doc_id, []).append(r)
    payloads = {r.doc_id: bytes(r.payload) for r in assets.collect()}
    for did, rows in by_doc.items():
        assert sorted(r.frame_idx for r in rows) == [0, 2]
        for r in rows:
            lo = r.frame_idx * 4
            assert bytes(r.frame) == payloads[did][lo:lo + 4]


def test_exact_duplicates_null_texts_stay_singletons(spark):
    rows = [(i, None) for i in range(5)] + [(10, "same"), (11, "same")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from whoosh_spark.pipeline.dedup import exact_duplicates, normalized_duplicates

    for fn in (exact_duplicates, normalized_duplicates):
        out = {r.doc_id: r for r in fn(df).collect()}
        for i in range(5):  # NULL texts: no bogus duplicate group
            assert out[i].n_copies == 1 and out[i].is_canonical
        assert out[10].n_copies == 2 and out[10].is_canonical
        assert out[11].n_copies == 2 and not out[11].is_canonical


def test_simhash_rejects_unblockable_maxdist(spark, docs):
    from whoosh_spark.pipeline.dedup import simhash_pairs

    with pytest.raises(ValueError):
        simhash_pairs(docs, maxdist=4)


def _uf_clusters(n_nodes, edges):
    """Driver-side union-find reference for connected_components."""
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in range(n_nodes)}


@pytest.mark.parametrize("edges,n", [
    # long path: diameter 64 — converges only if rounds are O(log n),
    # the topology that kills naive min-label propagation in max_iter
    ([(i, i + 1) for i in range(64)], 65),
    # two cliques bridged by one edge + separate pair + singletons
    ([(a, b) for a in range(5) for b in range(a + 1, 5)]
     + [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
     + [(4, 10), (20, 21)], 25),
    # star written child-first and reversed edge directions
    ([(5, 0), (0, 6), (7, 0), (0, 8)], 9),
])
def test_connected_components_vs_union_find(spark, edges, n):
    from whoosh_spark.pipeline import connected_components

    pairs = spark.createDataFrame(edges, "i long, j long")
    got = {r.node: r.cluster_id
           for r in connected_components(pairs).collect()}
    ref = _uf_clusters(n, edges)
    nodes_in_pairs = {v for e in edges for v in e}
    # every non-root node labeled with its component min; roots absent
    for v in nodes_in_pairs:
        if ref[v] == v:
            assert v not in got or got[v] == v
        else:
            assert got[v] == ref[v], v


def test_dedup_sweep_labels_all_docs(spark):
    from whoosh_spark.pipeline import dedup_sweep

    docs = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "i long, j long")
    rows = {r.doc_id: (r.cluster_id, r.is_canonical)
            for r in dedup_sweep(docs, pairs).collect()}
    assert len(rows) == 10
    assert rows[1] == (1, True) and rows[2] == (1, False)
    assert rows[3] == (1, False) and rows[8] == (7, False)
    assert rows[0] == (0, True) and rows[9] == (9, True)  # singletons
    kept = {d for d, (_, canon) in rows.items() if canon}
    assert kept == {0, 1, 4, 5, 6, 7, 9}


def test_repetition_stats_hand_computed(spark):
    from whoosh_spark.pipeline import repetition_stats

    docs = spark.createDataFrame([
        (0, "a b a b a b"),          # "a b" x3 overlap-counted, capped
        (1, "x"),                    # single word: no bigrams
        (2, ""),                     # empty text
        (3, "one two three four"),   # all distinct
    ], "doc_id long, text string")
    rows = {r.doc_id: r for r in repetition_stats(docs).collect()}
    r0 = rows[0]
    assert r0.n_words == 6 and abs(r0.dup_word_frac - 4 / 6) < 1e-12
    assert r0.top_bigram == "a b"
    assert abs(r0.top_bigram_frac - 9 / 11) < 1e-12
    assert r0.dup_trigram_frac == 1.0        # 20/11 capped at 1.0
    assert rows[1].top_bigram is None and rows[1].top_bigram_frac == 0.0
    assert rows[2].n_words == 0 and rows[2].dup_word_frac == 0.0
    r3 = rows[3]
    assert r3.dup_word_frac == 0.0 and r3.dup_trigram_frac == 0.0
    # all-count-1 ties break to the lexicographically smallest bigram
    assert r3.top_bigram == "one two"


def test_hash_sample_partitioning_invariant(spark, docs):
    from whoosh_spark.pipeline import hash_sample

    a = sorted(r.doc_id for r in hash_sample(
        docs.repartition(1), 0.3).select("doc_id").collect())
    b = sorted(r.doc_id for r in hash_sample(
        docs.repartition(16), 0.3).select("doc_id").collect())
    assert a == b and 0 < len(a) < docs.count()
    # monotone: a smaller fraction selects a subset
    c = set(r.doc_id for r in hash_sample(
        docs, 0.1).select("doc_id").collect())
    assert c <= set(a)
    with pytest.raises(ValueError):
        hash_sample(docs, 1.5)


def test_stratified_sample_exact_quota(spark, docs):
    from whoosh_spark.pipeline import stratified_sample

    sizes = {r.lang: r.n for r in
             docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    got = stratified_sample(docs, "lang", 5).groupBy("lang").agg(
        F.count("*").alias("n")).collect()
    assert {r.lang: r.n for r in got} == {
        lg: min(5, n) for lg, n in sizes.items()}
    # deterministic under repartitioning
    a = sorted((r.lang, r.doc_id) for r in
               stratified_sample(docs.repartition(13), "lang", 5).collect())
    b = sorted((r.lang, r.doc_id) for r in
               stratified_sample(docs.repartition(2), "lang", 5).collect())
    assert a == b


def test_merge_cluster_labels_equals_full_recluster(spark):
    """Incremental fold-in == full recluster: old labels re-enter as star
    edges for touched clusters only; untouched labels pass through."""
    from whoosh_spark.pipeline import dedup_sweep, merge_cluster_labels

    old_edges = [(0, 1), (1, 2), (5, 6), (10, 11), (20, 21), (30, 31)]
    # bridges old clusters (2-5 merges {0,1,2}+{5,6}), extends one (6-40),
    # all-new pair (41-42), duplicate edge (11-10), new-to-old (50-21)
    new_edges = [(2, 5), (6, 40), (41, 42), (11, 10), (50, 21)]
    docs = spark.createDataFrame([(i,) for i in range(60)], "doc_id long")
    labels_old = dedup_sweep(
        docs, spark.createDataFrame(old_edges, "i long, j long")
    ).select("doc_id", "cluster_id")
    merged = merge_cluster_labels(
        labels_old, spark.createDataFrame(new_edges, "i long, j long"))
    full = dedup_sweep(
        docs, spark.createDataFrame(old_edges + new_edges, "i long, j long"))
    got = {r.doc_id: r.cluster_id for r in merged.collect()}
    ref = {r.doc_id: r.cluster_id for r in full.collect()}
    assert got == ref
    # the untouched cluster kept its old labels
    assert got[30] == 30 and got[31] == 30
    # the bridged mega-cluster re-rooted at the global min
    assert got[40] == 0 and got[5] == 0 and got[2] == 0


def test_contamination_pairs_cross_corpus(spark):
    from whoosh_spark.pipeline import contamination_pairs

    shared = "jumps over the lazy dog near the river bank"
    corpus = spark.createDataFrame([
        (0, "totally clean document about spark shuffles and joins here"),
        (1, "contaminated one " + shared + " with extra prose"),
    ], "doc_id long, text string")
    bench = spark.createDataFrame([
        (100, "benchmark item " + shared + " question answer"),
        (101, "an unrelated benchmark prompt about quantum pigeons"),
    ], "doc_id long, text string")
    rows = contamination_pairs(corpus, bench, min_common=2).collect()
    assert {(r.corpus_id, r.bench_id) for r in rows} == {(1, 100)}
    assert rows[0].common >= 2


def test_connected_components_raises_on_exhausted_iterations(spark):
    from whoosh_spark.pipeline import connected_components

    pairs = spark.createDataFrame([(0, 1), (1, 2)], "i long, j long")
    with pytest.raises(RuntimeError, match="did not converge"):
        # convergence detection needs a confirming round; 1 can never prove
        # a fixpoint, so this must raise rather than return silent labels
        connected_components(pairs, max_iter=1)


def test_proportional_sample_quotas_and_determinism(spark, docs):
    from whoosh_spark.pipeline import proportional_sample

    total = 97
    out = proportional_sample(docs, "lang", total)
    rows = out.select("doc_id", "lang").collect()
    assert len(rows) == total  # largest remainder sums exactly
    sizes = {r.lang: r.n for r in
             docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    n_corpus = sum(sizes.values())
    got = {}
    for r in rows:
        got[r.lang] = got.get(r.lang, 0) + 1
    for lg, n in sizes.items():
        exact = total * n / n_corpus
        assert abs(got.get(lg, 0) - exact) < 1  # within one seat
    # deterministic across partitionings
    b = sorted((r.lang, r.doc_id) for r in proportional_sample(
        docs.repartition(11), "lang", total).select("doc_id", "lang").collect())
    assert sorted((r.lang, r.doc_id) for r in rows) == b
    with pytest.raises(ValueError):
        proportional_sample(docs, "lang", 10**9)


def test_weighted_hash_sample_rate_and_determinism(spark, docs):
    from whoosh_spark.pipeline import weighted_hash_sample

    a = sorted(r.doc_id for r in weighted_hash_sample(
        docs.repartition(1), "n_chars", 0.002).select("doc_id").collect())
    b = sorted(r.doc_id for r in weighted_hash_sample(
        docs.repartition(9), "n_chars", 0.002).select("doc_id").collect())
    assert a == b and 0 < len(a) < docs.count()
    # rate 0 keeps nothing; huge rate (p capped at 1) keeps everything
    assert weighted_hash_sample(docs, "n_chars", 0.0).count() == 0
    assert weighted_hash_sample(docs, "n_chars", 1e9).count() == docs.count()
    # longer docs are kept at a higher rate than shorter docs
    stats = docs.selectExpr("percentile(n_chars, 0.5) AS med").collect()[0]
    kept = set(a)
    import numpy as np
    rows = docs.select("doc_id", "n_chars").collect()
    long_keep = np.mean([r.doc_id in kept for r in rows if r.n_chars > stats.med])
    short_keep = np.mean([r.doc_id in kept for r in rows if r.n_chars <= stats.med])
    assert long_keep > short_keep
    with pytest.raises(ValueError):
        weighted_hash_sample(docs, "n_chars", -0.1)


def test_redact_pii_hand_cases(spark):
    from whoosh_spark.pipeline import redact_pii

    docs = spark.createDataFrame([
        (0, "mail a.b+c@test-domain.org or 10.0.0.1 now"),
        (1, "call +1 (415) 555-0100 ok"),
        (2, "clean text, no pii"),
    ], "doc_id long, text string")
    rows = {r.doc_id: r for r in redact_pii(docs).collect()}
    assert rows[0].text_redacted == "mail <EMAIL> or <IP> now"
    assert rows[0].n_redactions == 2
    assert rows[1].text_redacted == "call <PHONE> ok"
    assert rows[1].n_redactions == 1
    assert rows[2].n_redactions == 0 and "pii" in rows[2].text_redacted


def test_duplicate_substring_spans_hand_case(spark):
    from whoosh_spark.pipeline import (
        duplicate_substring_spans,
        remove_duplicate_substrings,
    )

    shared = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123"  # 30 chars, planted twice
    p0, s0 = "left-prefix-unique-x", "post-unique-tail-zzz"
    p1 = "other-prefix-ending-y"
    docs = spark.createDataFrame([
        (0, p0 + shared + s0),       # shared mid-doc
        (1, p1 + shared),            # shared at end, different neighbors
        (2, "Q" * 45),               # within-doc repeat: uniform run
        (3, "totally distinct words, no repeats here!"),
        (4, "short < 20 chars"),     # below minlen: never enters grams
    ], "doc_id long, text string")
    spans = {(r.doc_id, r.span_start, r.span_end, r.span_len)
             for r in duplicate_substring_spans(docs).collect()}
    # the planted copies: exactly the shared block (neighbors differ, so
    # no boundary-crossing 20-gram duplicates)
    assert (0, len(p0) + 1, len(p0) + 30, 30) in spans
    assert (1, len(p1) + 1, len(p1) + 30, 30) in spans
    # the uniform run: every 20-gram equal => one whole-doc span
    assert (2, 1, 45, 45) in spans
    assert len(spans) == 3  # docs 3 and 4 contribute nothing

    clean = {r.doc_id: r for r in remove_duplicate_substrings(docs).collect()}
    assert clean[0].text_clean == p0 + s0 and clean[0].n_spans == 1
    assert clean[1].text_clean == p1 and clean[1].dup_chars == 30
    assert clean[2].text_clean == "" and clean[2].dup_chars == 45
    assert clean[3].text_clean == "totally distinct words, no repeats here!"
    assert clean[3].n_spans == 0 and clean[3].dup_chars == 0
    assert clean[4].text_clean == "short < 20 chars"


def test_remove_duplicate_substrings_length_invariant(spark, docs):
    from pyspark.sql import functions as F
    from whoosh_spark.pipeline import remove_duplicate_substrings

    out = remove_duplicate_substrings(docs)
    bad = (out.join(docs.select("doc_id", F.length("text").alias("n")), "doc_id")
           .where(F.length("text_clean") != F.col("n") - F.col("dup_chars")))
    assert bad.count() == 0


def test_pack_sequences_hand_case(spark):
    from whoosh_spark.pipeline import pack_sequences

    # md5('pack:'||id) order for ids 0..3: computed below, so the case
    # stays valid whatever the hash order is
    import hashlib
    ids = [0, 1, 2, 3]
    n = {0: 5, 1: 0, 2: 12, 3: 7}  # doc 2 straddles capacity=10 windows
    order = sorted(ids, key=lambda i: (hashlib.md5(f"pack:{i}".encode()).hexdigest(), i))
    docs = spark.createDataFrame([(i, n[i]) for i in ids], "doc_id long, n_tokens long")
    rows = {r.doc_id: r for r in pack_sequences(docs, capacity=10, partitions=3).collect()}
    off = 0
    for i in order:
        r = rows[i]
        assert r.begin_offset == off, (i, r)
        assert r.seq_id == off // 10 and r.seq_offset == off % 10
        assert r.end_seq_id == (off + max(n[i], 1) - 1) // 10
        off += n[i]
    assert max(r.begin_offset + r.n_tokens for r in rows.values()) == sum(n.values())


def test_pack_sequences_partitioning_invariant(spark, docs):
    from whoosh_spark.pipeline import pack_sequences, token_counts

    tc = token_counts(docs)
    a = sorted(map(tuple, pack_sequences(
        tc.repartition(1), 512, token_col="bpe_tokens", partitions=2).collect()))
    b = sorted(map(tuple, pack_sequences(
        tc.repartition(16), 512, token_col="bpe_tokens", partitions=11,
        eager=False).collect()))
    assert a == b and len(a) > 0


def test_exact_ngram_contamination_hand_case(spark):
    from whoosh_spark.pipeline import exact_ngram_contamination

    seq = " ".join(f"w{i}" for i in range(15))       # 15 shared words
    corpus = spark.createDataFrame([
        (0, "lead in text " + seq + " trailing words"),
        (1, "nothing shared here at all beyond these isolated tokens"),
        (2, seq),                                     # exactly the overlap
        (3, " ".join(f"w{i}" for i in range(12))),    # 12 words: below n=13
    ], "doc_id long, text string")
    bench = spark.createDataFrame([(100, "bench prefix " + seq)],
                                  "doc_id long, text string")
    rows = {(r.corpus_id, r.bench_id): r.n_shared
            for r in exact_ngram_contamination(corpus, bench, n=13).collect()}
    # a 15-word shared run yields 15-13+1 = 3 distinct shared 13-grams
    assert rows[(0, 100)] == 3 and rows[(2, 100)] == 3
    assert (1, 100) not in rows and (3, 100) not in rows
    assert len(rows) == 2


def test_unigram_logprob_hand_case(spark):
    import math
    from whoosh_spark.pipeline import unigram_logprob

    # corpus counts: aa=3, bb=2, cc=1 -> T=6
    docs = spark.createDataFrame([
        (0, "aa bb aa"),
        (1, "aa bb cc"),
        (2, ""),
    ], "doc_id long, text string")
    rows = {r.doc_id: r for r in unigram_logprob(docs).collect()}
    lp = {"aa": math.log(3 / 6), "bb": math.log(2 / 6), "cc": math.log(1 / 6)}
    assert rows[0].n_tokens == 3
    assert abs(rows[0].mean_logprob - round((2 * lp["aa"] + lp["bb"]) / 3, 4)) < 5e-5
    assert abs(rows[1].mean_logprob - round((lp["aa"] + lp["bb"] + lp["cc"]) / 3, 4)) < 5e-5
    assert rows[2].n_tokens == 0 and rows[2].mean_logprob == 0.0
    # rare-token doc scores lower than common-token doc
    assert rows[1].mean_logprob < rows[0].mean_logprob


def _mini_turns(spark):
    rows = [
        ("c1", 0, "user", "hello there friend", None),
        ("c1", 1, "assistant", "hi how can i help", None),
        ("c1", 2, "assistant", "still me two in a row", "search"),
        ("c1", 3, "user", "thanks bye", None),
        ("c2", 0, "assistant", "i speak first", None),
        ("c2", 1, "user", "ok", ""),
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string")


def test_conversation_stats_hand_case(spark):
    from whoosh_spark.pipeline import conversation_stats

    s = {r.conv_id: r for r in conversation_stats(_mini_turns(spark)).collect()}
    c1 = s["c1"]
    assert (c1.n_turns, c1.n_user, c1.n_assistant, c1.n_tool_calls) == (4, 2, 2, 1)
    assert c1.role_repeats == 1          # the assistant double-turn
    assert c1.started_by_user is True
    assert c1.total_words == 3 + 5 + 6 + 2
    c2 = s["c2"]
    assert c2.started_by_user is False and c2.n_tool_calls == 0


def test_assemble_conversations_order_and_roles(spark):
    from whoosh_spark.pipeline import assemble_conversations

    # feed turns in scrambled order; assembly must sort by turn_idx
    scrambled = _mini_turns(spark).orderBy(F.desc("turn_idx"))
    out = {r.conv_id: r for r in assemble_conversations(scrambled).collect()}
    assert out["c1"].text == ("user: hello there friend\n"
                              "assistant: hi how can i help\n"
                              "assistant: still me two in a row\n"
                              "user: thanks bye")
    assert out["c1"].n_turns == 4
    plain = {r.conv_id: r.text
             for r in assemble_conversations(scrambled, sep=" ", with_roles=False).collect()}
    assert plain["c2"] == "i speak first ok"


def test_truncate_conversations_budget(spark):
    from whoosh_spark.pipeline import truncate_conversations

    kept = truncate_conversations(_mini_turns(spark), 8).collect()
    by_conv = {}
    for r in kept:
        by_conv.setdefault(r.conv_id, []).append(r.turn_idx)
    # c1: 3 + 5 = 8 <= 8, third turn would hit 14 -> keep first two
    assert sorted(by_conv["c1"]) == [0, 1]
    # c2: 4 + 1 = 5 -> keep both
    assert sorted(by_conv["c2"]) == [0, 1]
    # first-turn-over-budget keeps nothing
    big = spark.createDataFrame(
        [("c3", 0, "user", " ".join(["w"] * 20), None)],
        "conv_id string, turn_idx int, role string, text string, tool string")
    assert truncate_conversations(big, 8).count() == 0


def test_sliding_turn_windows_hand_case(spark):
    from whoosh_spark.pipeline import sliding_turn_windows

    out = sliding_turn_windows(_mini_turns(spark), k=3).collect()
    by_key = {(r.conv_id, r.start_idx): r for r in out}
    # c1 has 4 turns -> windows starting at 0 and 1; c2 (2 turns) yields none
    assert set(by_key) == {("c1", 0), ("c1", 1)}
    assert by_key[("c1", 0)].end_idx == 2
    assert by_key[("c1", 1)].text == ("assistant: hi how can i help\n"
                                      "assistant: still me two in a row\n"
                                      "user: thanks bye")


def test_paragraph_dedup_hand_case(spark):
    from whoosh_spark.pipeline import paragraph_dedup

    docs = spark.createDataFrame([
        (1, "aa\nbb\naa"),      # 'aa' repeats inside one doc
        (2, "bb\ncc"),          # 'bb' first seen in doc 1
        (3, "\n"),              # two empty paragraphs: never dedup'd
    ], "doc_id long, text string")
    rows = {r.doc_id: r for r in paragraph_dedup(docs).collect()}
    # keep-first: doc 1 keeps aa@0 and bb@1, drops aa@2
    assert rows[1].text_clean == "aa\nbb"
    assert rows[1].n_paras == 3 and rows[1].n_dropped == 1
    # doc 2 loses bb (first occurrence is (1,1)), keeps cc
    assert rows[2].text_clean == "cc"
    assert rows[2].n_paras == 2 and rows[2].n_dropped == 1
    # empty paragraphs survive verbatim
    assert rows[3].text_clean == "\n" and rows[3].n_dropped == 0


def test_paragraph_dedup_drop_all_boilerplate(spark):
    from whoosh_spark.pipeline import paragraph_dedup

    docs = spark.createDataFrame([
        (1, "footer\nbody one"),
        (2, "footer\nbody two"),
        (3, "footer\nbody three"),
    ], "doc_id long, text string")
    rows = {r.doc_id: r for r in
            paragraph_dedup(docs, keep_first=False, min_count=3).collect()}
    # keep_first=False drops EVERY occurrence once count >= min_count
    assert all(rows[i].text_clean == f"body {w}" for i, w in
               [(1, "one"), (2, "two"), (3, "three")])
    assert all(rows[i].n_dropped == 1 for i in (1, 2, 3))


def test_bigram_logprob_hand_case(spark):
    import math
    from whoosh_spark.pipeline import bigram_logprob

    # corpus counts: C(a)=3, C(b)=2, C(x)=1, T=6
    # bigram instances: (a,b)x1, (b,a)x2
    docs = spark.createDataFrame([
        (0, "a b a"),
        (1, "b a"),
        (2, "x"),      # single token: no bigrams
    ], "doc_id long, text string")
    rows = {r.doc_id: r for r in bigram_logprob(docs, lam=0.7).collect()}
    ca, cb, t = 3, 2, 6
    p_ab = 0.7 * (1 / ca) + 0.3 * (cb / t)
    p_ba = 0.7 * (2 / cb) + 0.3 * (ca / t)
    assert rows[0].n_bigrams == 2
    exp0 = round((math.log(p_ab) + math.log(p_ba)) / 2, 4)
    assert abs(rows[0].mean_logprob - exp0) < 5e-5
    assert rows[1].n_bigrams == 1
    assert abs(rows[1].mean_logprob - round(math.log(p_ba), 4)) < 5e-5
    assert rows[2].n_bigrams == 0 and rows[2].mean_logprob == 0.0


def test_dsir_logweights_hand_props(spark):
    from whoosh_spark.pipeline import dsir_logweights

    # target = docs about 'spark sql'; a raw doc repeating the target
    # vocabulary must outscore one with disjoint vocabulary
    docs = spark.createDataFrame([
        (0, "spark sql spark sql spark sql", "en"),
        (1, "banana kiwi mango papaya lychee", "fr"),
        (2, "", "en"),
    ], "doc_id long, text string, lang string")
    target = docs.where(F.col("doc_id") == 0)
    rows = {r.doc_id: r for r in dsir_logweights(docs, target).collect()}
    assert rows[0].log_weight > rows[1].log_weight
    # n_feats = unigram instances + bigram instances = 6 + 5
    assert rows[0].n_feats == 11
    assert rows[2].n_feats == 0 and rows[2].log_weight == 0.0


def test_token_budget_sample_hand_case(spark):
    from whoosh_spark.pipeline import token_budget_sample

    docs = spark.createDataFrame([
        (i, "w " * 10, "en") for i in range(5)
    ] + [(10, "w w w", "fr")], "doc_id long, text string, lang string")
    # en: 5 docs x 10 tokens, budget 25 -> exactly the first 2 md5-ordered
    # docs fit (cum 10, 20; the 3rd would hit 30 > 25)
    out = token_budget_sample(docs, {"en": 25}, by="lang")
    rows = out.collect()
    assert len(rows) == 2 and all(r.lang == "en" for r in rows)
    assert sorted(r._cum_tokens for r in rows) == [10, 20]
    # fr absent from the plan -> dropped entirely
    assert not [r for r in rows if r.lang == "fr"]
    # partitioning invariance
    alt = sorted(r.doc_id for r in token_budget_sample(
        docs.repartition(7), {"en": 25}, by="lang").collect())
    assert alt == sorted(r.doc_id for r in rows)


def test_dsir_gumbel_topk_props(spark):
    from whoosh_spark.pipeline import dsir_gumbel_topk

    docs = spark.createDataFrame([
        (i, "spark sql query" if i % 2 == 0 else "banana kiwi mango", "en")
        for i in range(20)
    ], "doc_id long, text string, lang string")
    target = docs.where(F.col("doc_id") % 2 == 0)
    top = dsir_gumbel_topk(docs, target, n=8).collect()
    assert len(top) == 8
    # gumbel noise is bounded enough here that target-like docs dominate
    evens = sum(1 for r in top if r.doc_id % 2 == 0)
    assert evens >= 6
    # determinism under repartitioning
    again = dsir_gumbel_topk(docs.repartition(5), target, n=8).collect()
    assert sorted(r.doc_id for r in again) == sorted(r.doc_id for r in top)


def test_loss_mask_spans_tile_assembled_text(spark):
    from whoosh_spark.pipeline import assemble_conversations, loss_mask_spans

    turns = spark.createDataFrame([
        ("c1", 0, "user", "hello"),
        ("c1", 1, "assistant", "hi there"),
        ("c1", 2, "tool", "ran"),
        ("c2", 5, "assistant", "solo"),
    ], "conv_id string, turn_idx int, role string, text string")
    spans = {(r.conv_id, r.turn_idx): r for r in loss_mask_spans(turns).collect()}
    docs = {r.conv_id: r.text for r in assemble_conversations(turns).collect()}
    # every span slices exactly its own rendered line out of the doc
    for (cid, _), r in spans.items():
        line = docs[cid][r.char_start:r.char_end]
        assert ": " in line and "\n" not in line
    assert docs["c1"][spans[("c1", 1)].char_start:spans[("c1", 1)].char_end] \
        == "assistant: hi there"
    # spans tile: last char_end == len(doc); next start == prev end + sep
    assert spans[("c1", 2)].char_end == len(docs["c1"])
    assert spans[("c1", 1)].char_start == spans[("c1", 0)].char_end + 1
    # trainable only on assistant turns
    assert [spans[("c1", i)].trainable for i in (0, 1, 2)] == [0, 1, 0]
    assert spans[("c2", 5)].trainable == 1 and spans[("c2", 5)].char_start == 0


def test_paragraph_dedup_idempotent(spark, docs):
    """After keep-first paragraph dedup every distinct paragraph occurs
    exactly once corpus-wide, so a second pass must drop nothing."""
    from whoosh_spark.pipeline import paragraph_dedup

    w = F.split(F.col("text"), " ")
    paras = F.transform(
        F.sequence(F.lit(0), F.ceil(F.size(w) / 12).cast("int") - 1),
        lambda g: F.array_join(F.slice(w, g * 12 + 1, 12), " "),
    )
    pdocs = docs.select("doc_id", F.array_join(paras, "\n").alias("text"))
    once = paragraph_dedup(pdocs).select(
        "doc_id", F.col("text_clean").alias("text"))
    twice = paragraph_dedup(once)
    assert twice.agg(F.sum("n_dropped")).collect()[0][0] == 0


def test_token_budget_sample_maximal_prefix(spark, docs):
    """Per stratum: kept token sum <= budget AND the FIRST dropped doc in
    md5 order would have exceeded it (the prefix is maximal)."""
    from whoosh_spark.pipeline import token_budget_sample
    from whoosh_spark.pipeline.sampling import _hash_u32

    budgets = {"en": 700, "de": 400}
    kept = token_budget_sample(docs, budgets).collect()
    by_lang = {}
    for r in kept:
        by_lang.setdefault(r.lang, []).append(r)
    toks = F.size(F.regexp_extract_all(
        F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)).cast("long")
    ordered = docs.select(
        "doc_id", "lang", toks.alias("t"),
        _hash_u32("doc_id", "ws1").alias("h")).collect()
    for lang, budget in budgets.items():
        got = sum(r._tokens for r in by_lang.get(lang, []))
        assert got <= budget
        kept_ids = {r.doc_id for r in by_lang.get(lang, [])}
        rest = sorted((r for r in ordered
                       if r.lang == lang and r.doc_id not in kept_ids),
                      key=lambda r: (r.h, r.doc_id))
        if rest:  # adding the next-in-order doc must bust the budget
            assert got + rest[0].t > budget


def test_select_canonical_picks_best_quality(spark):
    from whoosh_spark.pipeline import select_canonical

    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (9, 9)],
        "doc_id long, cluster_id long")
    scores = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (9, 0.1)],
        "doc_id long, quality double")
    rows = {r.doc_id: r for r in select_canonical(labels, scores).collect()}
    # max quality wins; tie (2 vs 3 at 0.9) breaks to min doc_id
    assert [rows[i].is_canonical for i in (1, 2, 3)] == [False, True, False]
    # singleton cluster is its own canonical
    assert rows[9].is_canonical
    assert sum(1 for r in rows.values() if r.is_canonical) == 2


def test_curation_labels_keep_best_quality(spark, docs):
    from whoosh_spark.pipeline import curation_labels

    base = curation_labels(docs).orderBy("doc_id").collect()
    best = curation_labels(docs, keep_best_quality=True).orderBy("doc_id").collect()
    # same clusters, exactly one canonical per cluster in both modes
    assert [r.cluster_id for r in base] == [r.cluster_id for r in best]
    import collections
    per = collections.Counter(r.cluster_id for r in best if r.cluster_canonical)
    assert all(v == 1 for v in per.values())
    n_clusters = len({r.cluster_id for r in best})
    assert sum(per.values()) == n_clusters
    # the chosen canonical always has the cluster-max quality
    qmax = collections.defaultdict(float)
    for r in best:
        qmax[r.cluster_id] = max(qmax[r.cluster_id], r.quality)
    assert all(r.quality == qmax[r.cluster_id]
               for r in best if r.cluster_canonical)


def test_curation_labels_classifier_stage(spark, docs):
    from pyspark.sql import functions as F

    from whoosh_spark.pipeline import curation_labels, nb_score, nb_train

    w = nb_train(docs, F.length("text") > 20)
    base = {r.doc_id: r for r in curation_labels(docs).collect()}
    clf = {r.doc_id: r for r in
           curation_labels(docs, classifier_weights=w,
                           classifier_min=0.0).collect()}
    scores = {r.doc_id: r.score for r in nb_score(docs, w).collect()}
    assert set(clf) == set(base)
    for i, r in clf.items():
        assert r.clf_score == scores[i]
        # keep = base keep AND the classifier gate; never newly true
        assert r.keep == (base[i].keep and scores[i] >= 0.0)
    # default path is unchanged (no clf_score column)
    assert "clf_score" not in base[next(iter(base))].__fields__


# ---------------------- FFD boundary-preserving packing ---------------------


def test_pack_bins_ffd_invariants(spark):
    from pyspark.sql import functions as F
    from whoosh_spark.pipeline.packing import pack_bins_ffd

    docs = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.xxhash64("id"), F.lit(900)) + 1).alias("n_tokens"))
    out = pack_bins_ffd(docs, 1024, num_shards=16).toPandas()
    # every doc exactly once
    assert sorted(out["doc_id"]) == list(range(2000))
    # no bin over capacity; bin_fill is the true bin sum
    g = out.groupby("bin_id").agg(fill=("n_tokens", "sum"),
                                  rep=("bin_fill", "first"),
                                  shard=("shard", "nunique"))
    assert (g["fill"] <= 1024).all()
    assert (g["fill"] == g["rep"]).all()
    assert (g["shard"] == 1).all()          # bins never cross shards
    # FFD fill efficiency well above the ~50% next-fit floor
    eff = out["n_tokens"].sum() / (out["bin_id"].nunique() * 1024)
    assert eff > 0.85


def test_pack_bins_ffd_deterministic_across_partitioning(spark):
    from pyspark.sql import functions as F
    from whoosh_spark.pipeline.packing import pack_bins_ffd

    docs = spark.range(1500).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.xxhash64("id", F.lit(2)), F.lit(500)) + 1).alias("n_tokens"))
    a = pack_bins_ffd(docs, 700, num_shards=8).orderBy("doc_id").toPandas()
    b = (pack_bins_ffd(docs.repartition(13), 700, num_shards=8)
         .orderBy("doc_id").toPandas())
    assert a["bin_id"].tolist() == b["bin_id"].tolist()
    assert a["bin_fill"].tolist() == b["bin_fill"].tolist()


def test_pack_bins_ffd_oversized_doc_flagged(spark):
    from whoosh_spark.pipeline.packing import pack_bins_ffd

    docs = spark.createDataFrame(
        [(1, 50), (2, 3000), (3, 60)], "doc_id long, n_tokens long")
    out = pack_bins_ffd(docs, 1024, num_shards=1).toPandas()
    big = out[out.doc_id == 2].iloc[0]
    # singleton overflow bin, visible via bin_fill > capacity
    assert big.bin_fill == 3000
    assert (out[out.bin_id == big.bin_id]["doc_id"] == 2).all()


# ------------------------------------------------ strip_html / chunk_text


def test_strip_html_all_stages(spark):
    from whoosh_spark.pipeline.textstats import strip_html

    df = spark.createDataFrame(
        [(1, '<html><head><script>var a = "<b>x</b>";</script>'
             '<style>p { color: red }</style></head>'
             '<body class="c">Hello &amp; <b>world</b><!-- note -->'
             ' &lt;tag&gt;&nbsp;&quot;q&quot; &#39;s</body></html>'),
         (2, 'no markup at all'),
         (3, '')],
        "doc_id long, text string")
    out = {r.doc_id: r for r in strip_html(df).collect()}
    assert out[1].text_clean == 'Hello & world <tag> "q" \'s'
    assert out[1].n_clean_chars == len(out[1].text_clean)
    assert out[2].text_clean == "no markup at all"
    assert out[3].text_clean == "" and out[3].n_clean_chars == 0


def test_strip_html_multiline_script(spark):
    from whoosh_spark.pipeline.textstats import strip_html

    df = spark.createDataFrame(
        [(1, "a<script>\nline1\nline2\n</script>b<SCRIPT>x</SCRIPT>c")],
        "doc_id long, text string")
    # (?is): dotall across newlines AND case-insensitive tag names
    assert strip_html(df).collect()[0].text_clean == "a b c"


def test_chunk_text_coverage_and_overlap(spark):
    from whoosh_spark.pipeline.textstats import chunk_text

    text = "abcdefghijklmnopqrstuvwxyz0123456789"  # 36 chars
    df = spark.createDataFrame([(7, text), (8, "")], "doc_id long, text string")
    rows = sorted(chunk_text(df, size=10, overlap=3).collect(),
                  key=lambda r: r.chunk_idx)
    assert all(r.doc_id == 7 for r in rows)  # empty doc emits nothing
    # stride 7: begins 0,7,14,21,28 — ceil((36-3)/7) = 5 chunks
    assert [r.begin for r in rows] == [0, 7, 14, 21, 28]
    for r in rows:
        assert r.chunk_text == text[r.begin:r.begin + 10]
    # consecutive chunks share exactly `overlap` chars
    for a, b in zip(rows, rows[1:]):
        assert a.chunk_text[-3:] == b.chunk_text[:3]
    # whole text covered
    assert "".join(r.chunk_text[:7] for r in rows[:-1]) + rows[-1].chunk_text == text


def test_chunk_text_short_doc_single_chunk(spark):
    from whoosh_spark.pipeline.textstats import chunk_text

    df = spark.createDataFrame([(1, "ab")], "doc_id long, text string")
    rows = chunk_text(df, size=10, overlap=3).collect()
    assert len(rows) == 1 and rows[0].chunk_text == "ab"


def test_chunk_text_validation(spark):
    import pytest

    from whoosh_spark.pipeline.textstats import chunk_text

    df = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    with pytest.raises(ValueError, match="size > overlap"):
        chunk_text(df, size=5, overlap=5)


def test_strip_html_escaped_markup_stays_escaped(spark):
    from whoosh_spark.pipeline.textstats import strip_html

    # '&amp;lt;' is the ESCAPED text '&lt;' — decoding &amp; last keeps
    # it as text instead of double-unescaping into live markup chars
    df = spark.createDataFrame(
        [(1, "use &amp;lt;script&amp;gt; tags &amp; enjoy")],
        "doc_id long, text string")
    out = strip_html(df).collect()[0]
    assert out.text_clean == "use &lt;script&gt; tags & enjoy"


def test_upsample_repeat_invariants(spark):
    from whoosh_spark.pipeline.sampling import upsample_repeat

    df = spark.range(5000).select(
        F.col("id").alias("doc_id"), F.lit(2.3).alias("w"))
    out = upsample_repeat(df, "w")
    n = out.count()
    assert abs(n - 11500) < 250  # E[copies] == w exactly
    # copy_idx dense 0..k-1 per doc
    per = out.groupBy("doc_id").agg(
        F.count("*").alias("k"), F.max("copy_idx").alias("mx"),
        F.min("copy_idx").alias("mn")).collect()
    assert all(r.mn == 0 and r.mx == r.k - 1 and r.k in (2, 3) for r in per)
    # deterministic under partitioning
    a = sorted((r.doc_id, r.copy_idx) for r in
               upsample_repeat(df.repartition(1), "w").collect())
    b = sorted((r.doc_id, r.copy_idx) for r in
               upsample_repeat(df.repartition(13), "w").collect())
    assert a == b
    # w < 1 downsamples, w <= 0 drops
    assert abs(upsample_repeat(
        df.withColumn("w", F.lit(0.25)), "w").count() - 1250) < 120
    assert upsample_repeat(df.withColumn("w", F.lit(0.0)), "w").count() == 0


def test_shard_shuffle_invariants(spark):
    from whoosh_spark.pipeline.sampling import shard_shuffle

    docs = spark.range(0, 200).select(
        F.col("id").alias("doc_id"), F.lit("x").alias("text"))
    out = shard_shuffle(docs, 4).collect()
    assert len(out) == 200
    by_shard: dict[int, list[int]] = {}
    for r in out:
        assert 0 <= r["shard"] < 4
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    # every shard's positions are a dense 0..n-1 range
    for poss in by_shard.values():
        assert sorted(poss) == list(range(len(poss)))
    # partitioning invariance: identical (doc_id, shard, pos) under a
    # different layout
    base = sorted((r["doc_id"], r["shard"], r["pos"]) for r in out)
    shuf = sorted(
        (r["doc_id"], r["shard"], r["pos"])
        for r in shard_shuffle(docs.repartition(7), 4).collect())
    assert shuf == base
    # a different salt produces a different order (the shuffle actually
    # shuffles), but the same shard-size profile up to hash variation
    alt = sorted(
        (r["doc_id"], r["shard"], r["pos"])
        for r in shard_shuffle(docs, 4, salt="other").collect())
    assert alt != base
    # n_shards=1 degenerates to one total order over the whole corpus
    one = shard_shuffle(docs, 1).collect()
    assert {r["shard"] for r in one} == {0}
    assert sorted(r["pos"] for r in one) == list(range(200))
    import pytest as _pytest
    with _pytest.raises(ValueError):
        shard_shuffle(docs, 0)


def test_conversation_qa_flags(spark):
    from whoosh_spark.pipeline import conversation_qa

    turns = spark.createDataFrame(
        [
            # c1: perfectly formed
            ("c1", 0, "user", "hi"), ("c1", 1, "assistant", "hello"),
            # c2: role repeat at turn 1
            ("c2", 0, "user", "a"), ("c2", 1, "user", "b"),
            ("c2", 2, "assistant", "c"),
            # c3: empty turn (whitespace only)
            ("c3", 0, "user", "x"), ("c3", 1, "assistant", "   "),
            # c4: index gap (0 then 2)
            ("c4", 0, "user", "x"), ("c4", 2, "assistant", "y"),
            # c5: duplicate turn_idx
            ("c5", 0, "user", "x"), ("c5", 0, "assistant", "y"),
            ("c5", 1, "user", "z"),
            # c6: opens with assistant
            ("c6", 0, "assistant", "x"), ("c6", 1, "user", "y"),
        ],
        "conv_id string, turn_idx int, role string, text string")
    rows = {r.conv_id: r for r in conversation_qa(turns).collect()}
    assert rows["c1"].valid and rows["c1"].n_role_repeats == 0
    assert rows["c2"].n_role_repeats == 1 and not rows["c2"].valid
    assert rows["c3"].n_empty == 1 and not rows["c3"].valid
    assert rows["c4"].has_idx_gap and not rows["c4"].valid
    assert rows["c5"].n_dup_idx == 1 and not rows["c5"].valid
    assert rows["c6"].first_role == "assistant" and not rows["c6"].valid
    assert rows["c1"].first_role == "user"
    # partitioning invariance
    again = {r.conv_id: r for r in
             conversation_qa(turns.repartition(5)).collect()}
    assert again == rows


def test_group_centroids_matches_numpy(spark, emb, docs):
    from whoosh_spark.pipeline import group_centroids

    labels = docs.select(F.col("doc_id").alias("vec_id"), "lang")
    got = {r.lang: (r.n, list(r.centroid))
           for r in group_centroids(emb, labels, "lang").collect()}
    pdf = emb.join(labels, "vec_id").toPandas()
    for lang, grp in pdf.groupby("lang"):
        mat = np.array([np.asarray(v, dtype=np.float64)
                        for v in grp["embedding"]])
        n, cent = got[lang]
        assert n == len(grp)
        assert np.allclose(cent, mat.mean(axis=0), atol=1e-12)
        assert len(cent) == mat.shape[1]
    # partitioning invariance
    again = {r.lang: (r.n, [round(x, 9) for x in r.centroid])
             for r in group_centroids(emb.repartition(7), labels,
                                      "lang").collect()}
    base = {k: (n, [round(x, 9) for x in c]) for k, (n, c) in got.items()}
    assert again == base


def test_group_centroids_mean_is_order_independent(spark):
    """Double addition is not associative: 1e16 + 1.0 rounds the 1.0 away,
    so a double ``avg`` over (1e16, 1, -1e16, 1) reads 0.25 or 0.5 by the
    order partial sums meet in. The decimal sum is exact at every layout."""
    from pyspark.sql import types as T

    from whoosh_spark.pipeline import group_centroids

    vals = [1e16, 1.0, -1e16, 1.0]
    emb = spark.createDataFrame(
        [(i, [v]) for i, v in enumerate(vals)],
        T.StructType([T.StructField("vec_id", T.LongType()),
                      T.StructField("embedding", T.ArrayType(T.DoubleType()))]))
    labels = spark.createDataFrame([(i, "g") for i in range(len(vals))],
                                   ["vec_id", "g"])
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for parts in (1, 3, 4):
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            for layout in (emb.coalesce(1), emb.repartition(4, "vec_id"),
                           emb.repartition(2).sortWithinPartitions(F.desc("vec_id"))):
                [row] = group_centroids(layout, labels, "g").collect()
                assert (row.n, list(row.centroid)) == (4, [0.5])
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


# ------------------------------------------------ c4_line_filter


def test_c4_line_filter_rules(spark):
    from whoosh_spark.pipeline.textstats import c4_line_filter

    df = spark.createDataFrame(
        [
            # two good lines + one no-punct + one short + one javascript
            (0, "alpha beta gamma delta epsilon.\n"
                "one two three four five six!\n"
                "this line has no terminal punctuation\n"
                "too short.\n"
                "enable JavaScript to view this content now."),
            # three good lines -> keep
            (1, 'first good line with five words."\n'
                "second good line with five words?\n"
                "third good line with five words."),
            # lorem ipsum kills the doc even with good lines
            (2, "good line with five words here.\n"
                "more good words in this line.\n"
                "a third fine line right here.\n"
                "Lorem Ipsum dolor sit amet."),
            # brace kills the doc
            (3, "good line with five words here.\n"
                "more good words in this line.\n"
                "function f() { return 1; } ok."),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in c4_line_filter(df).collect()}
    r0 = out[0]
    assert r0.n_lines == 5 and r0.n_kept == 2 and not r0.keep
    assert r0.text_clean == ("alpha beta gamma delta epsilon.\n"
                             "one two three four five six!")
    r1 = out[1]
    assert r1.n_kept == 3 and r1.keep  # end-quote counts as terminal
    r2 = out[2]
    assert r2.n_kept == 4 and r2.has_lorem and not r2.keep
    r3 = out[3]
    assert r3.has_brace and not r3.keep
    # a lone closing brace also counts (C4 removes any curly bracket)
    rb = c4_line_filter(spark.createDataFrame(
        [(9, "good line with five words here.\n"
             "more good words in this line.\n"
             "return x; } end of function ok.")],
        "doc_id long, text string")).collect()[0]
    assert rb.has_brace and not rb.keep
    r4 = out[4]
    assert r4.n_lines == 1 and r4.n_kept == 0 and r4.text_clean == "" and not r4.keep
    # min_words / min_kept_lines are tunable
    loose = {r.doc_id: r for r in
             c4_line_filter(df, min_words=2, min_kept_lines=2).collect()}
    assert loose[0].n_kept == 3 and loose[0].keep  # 'too short.' now passes


def test_c4_line_filter_no_shuffle(spark):
    from whoosh_spark.pipeline.textstats import c4_line_filter

    df = spark.createDataFrame([(0, "a.\nb.")], "doc_id long, text string")
    plan = c4_line_filter(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # narrow map: cleans at scan speed


def test_line_shape_stats_rules(spark):
    """MassiveText line-shape rules (Rae 2021 A1.1): bullet-start,
    ellipsis-end, and symbol-to-word thresholds."""
    from whoosh_spark.pipeline.textstats import line_shape_stats

    df = spark.createDataFrame(
        [
            # 10 lines, 10 bullets -> bullet_frac 1.0 > 0.9 -> drop
            (0, "\n".join(f"- item {i}" for i in range(10))),
            # 10 lines, 9 bullets -> 0.9 boundary is kept (rule is >90%)
            (1, "plain line here\n" + "\n".join(f"* b {i}" for i in range(9))),
            # 2 of 5 lines end with ellipsis -> 0.4 > 0.3 -> drop
            (2, "one fine line\ntrails off...\nanother fine\nmore...\nlast"),
            # symbols: 4 hashes vs 8 words -> 0.5 > 0.1 -> drop
            (3, "alpha # beta # gamma # delta # epsilon zeta eta theta"),
            # clean doc keeps; empty lines ignored
            (4, "hello world\n\n   \ngood line"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in line_shape_stats(df).collect()}
    assert out[0].bullet_line_frac == 1.0 and not out[0].keep
    assert out[1].bullet_line_frac == 0.9 and out[1].keep
    assert out[2].ellipsis_line_frac == 0.4 and not out[2].keep
    assert out[3].symbol_word_ratio > 0.1 and not out[3].keep
    assert out[4].n_lines == 2 and out[4].keep
    assert out[5].n_lines == 0 and out[5].keep  # vacuous doc passes
    # per-symbol thresholds (Gopher: 'either the hash symbol or the
    # ellipsis'): 1 hash (0.05) + 2 '...' (0.10) over 20 words — each
    # symbol is within 0.1 so the doc KEEPS, though the sum is 0.15
    per = line_shape_stats(spark.createDataFrame(
        [(8, "# " + "w " * 14 + "trail... and more x... end")],
        "doc_id long, text string")).collect()[0]  # 20 words, 1 '#', 2 '...'
    assert per.symbol_word_ratio == 0.1 and per.keep
    # unicode ellipsis counts too
    u = line_shape_stats(spark.createDataFrame(
        [(9, "first line…\nsecond line\nthird line\nfourth line")],
        "doc_id long, text string")).collect()[0]
    assert u.ellipsis_line_frac == 0.25


def test_line_shape_stats_no_shuffle(spark):
    from whoosh_spark.pipeline.textstats import line_shape_stats

    df = spark.createDataFrame([(0, "a\nb")], "doc_id long, text string")
    plan = line_shape_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_curation_labels_line_shape_stage(spark, docs):
    from whoosh_spark.pipeline import curation_labels

    base = {r.doc_id: r for r in curation_labels(docs).collect()}
    # inject one bullet-wall doc; everything else untouched
    bad_id = 990_001
    bad = spark.createDataFrame(
        [(bad_id, "\n".join(f"- bullet {i} here now" for i in range(12)))],
        "doc_id long, text string",
    )
    aug = docs.select("doc_id", "text").unionByName(bad)
    shaped = {r.doc_id: r for r in
              curation_labels(aug, line_shape=True).collect()}
    assert "shape_ok" in shaped[bad_id].asDict()
    assert not shaped[bad_id].shape_ok and not shaped[bad_id].keep
    # single-line testdata docs all pass the shape gate: keep unchanged
    for d, r in base.items():
        assert shaped[d].shape_ok
        assert shaped[d].keep == r.keep


def test_dedup_lines(spark):
    """Within-doc duplicate-line removal: first occurrence wins, order
    preserved, trimmed comparison, blank lines pass through."""
    from whoosh_spark.pipeline.textstats import dedup_lines

    df = spark.createDataFrame(
        [
            (0, "nav bar\ncontent one\nnav bar\ncontent two\n  nav bar  \nend"),
            (1, "a\n\nb\n\na\nb"),   # blanks kept, repeats dropped
            (2, "only line"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup_lines(df).collect()}
    # trimmed compare: '  nav bar  ' is a dup of 'nav bar'
    assert out[0].text_clean == "nav bar\ncontent one\ncontent two\nend"
    assert out[0].n_lines == 6 and out[0].n_kept == 4
    assert out[1].text_clean == "a\n\nb\n"  # both blanks survive
    assert out[1].n_kept == 4
    assert out[2].text_clean == "only line"
    assert out[3].n_lines == 1 and out[3].n_kept == 1  # '' splits to ['']
    plan = dedup_lines(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_temperature_mixture(spark, docs):
    """mC4/XLM-R alpha-rebalance: n_i^alpha targets, exact total, small
    strata up-sampled with deterministic whole epochs."""
    import math

    import pytest as _pt

    from whoosh_spark.pipeline import temperature_mixture

    sizes = {r["lang"]: r["n"] for r in
             docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    total = sum(sizes.values()) + 100  # force with-replacement somewhere
    out = temperature_mixture(docs, "lang", total, alpha=0.5).collect()
    assert len(out) == total  # exact total, epochs included
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    # targets follow sqrt shares via largest remainder
    z = sum(math.sqrt(n) for n in sizes.values())
    for lang, rows in by_lang.items():
        target = total * math.sqrt(sizes[lang]) / z
        assert abs(len(rows) - target) <= 1.0  # integerized +-1 seat
        # with-replacement semantics: distinct docs bounded by stratum
        # size; every doc's copy count differs by at most 1
        per_doc = {}
        for r in rows:
            per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + 1
        assert len(per_doc) <= sizes[lang]
        assert max(per_doc.values()) - min(per_doc.values()) <= 1
        # epoch indexes are dense 0..c-1 per doc
        for d, c in per_doc.items():
            eps = sorted(r["epoch"] for r in rows if r["doc_id"] == d)
            assert eps == list(range(c))
    # alpha=1 degenerates to the proportional split
    prop = temperature_mixture(docs, "lang", 100, alpha=1.0).collect()
    assert len(prop) == 100 and all(r["epoch"] == 0 for r in prop)
    # determinism
    again = temperature_mixture(docs, "lang", total, alpha=0.5).collect()
    assert sorted((r["doc_id"], r["epoch"]) for r in again) == \
        sorted((r["doc_id"], r["epoch"]) for r in out)
    with _pt.raises(ValueError, match="alpha"):
        temperature_mixture(docs, "lang", 10, alpha=0.0)


def test_dedup_lines_idempotent(spark, docs):
    """dedup_lines is a projection: applying it twice == once (over the
    doubled-doc derived corpus, where every line recurs)."""
    from whoosh_spark.pipeline.textstats import dedup_lines

    derived = docs.select(
        "doc_id",
        F.expr("replace(text, ' a ', chr(10)) || chr(10) || "
               "replace(text, ' a ', chr(10))").alias("text"))
    once = dedup_lines(derived)
    twice = dedup_lines(once.select("doc_id",
                                    F.col("text_clean").alias("text")))
    a = {r.doc_id: r.text_clean for r in once.collect()}
    b = {r.doc_id: r.text_clean for r in twice.collect()}
    assert a == b
    # and kept lines are unique after trimming (blanks aside)
    for txt in a.values():
        seen = [ln.strip() for ln in txt.split("\n") if ln.strip()]
        assert len(seen) == len(set(seen))


def test_collocations_hand_case(spark):
    import math
    from whoosh_spark.pipeline import collocations

    # bigram events: (a,b)x3, (b,a)x2, (a,c)x1  ->  N=6
    # margins: c1x(a)=4, c1x(b)=2; cx2(b)=3, cx2(a)=2, cx2(c)=1
    docs = spark.createDataFrame([
        (0, "a b a b a b"),   # (a,b)x3, (b,a)x2
        (1, "a c"),           # (a,c)x1
    ], "doc_id long, text string")
    rows = {(r.w1, r.w2): r
            for r in collocations(docs, min_count=1, top_n=10).collect()}
    assert set(rows) == {("a", "b"), ("b", "a"), ("a", "c")}

    def xlx(x):
        return x * math.log(x) if x > 0 else 0.0

    n = 6
    for (w1, w2), (c12, c1x, cx2) in {
        ("a", "b"): (3, 4, 3), ("b", "a"): (2, 2, 2), ("a", "c"): (1, 4, 1),
    }.items():
        k11, k12 = c12, c1x - c12
        k21, k22 = cx2 - c12, n - c1x - cx2 + c12
        llr = 2.0 * (xlx(k11) + xlx(k12) + xlx(k21) + xlx(k22)
                     - xlx(c1x) - xlx(n - c1x) - xlx(cx2) - xlx(n - cx2)
                     + xlx(n))
        pmi = math.log(c12 * n / (c1x * cx2))
        r = rows[(w1, w2)]
        assert r.c12 == c12
        assert abs(r.llr - round(llr, 4)) < 5e-5, (w1, w2)
        assert abs(r.pmi - round(pmi, 4)) < 5e-5, (w1, w2)


def test_collocations_min_count_and_invariance(spark):
    from whoosh_spark.pipeline import collocations

    docs = spark.createDataFrame(
        [(i, "hash join " * (2 + i % 3) + "sort merge") for i in range(40)],
        "doc_id long, text string")
    base = collocations(docs, min_count=3, top_n=20).collect()
    # every surviving pair meets the threshold
    assert base and all(r.c12 >= 3 for r in base)
    # rare pair pruned: (merge, hash) occurs < 3 times? build one explicitly
    docs2 = docs.union(spark.createDataFrame(
        [(100, "rare pair")], "doc_id long, text string"))
    got = {(r.w1, r.w2) for r in
           collocations(docs2, min_count=3, top_n=50).collect()}
    assert ("rare", "pair") not in got
    # partitioning invariance: same rows under a different layout
    alt = collocations(docs.repartition(13), min_count=3, top_n=20).collect()
    key = lambda r: (r.w1, r.w2)
    assert sorted(map(tuple, base), key=lambda t: t[:2]) == \
           sorted(map(tuple, alt), key=lambda t: t[:2])


def test_trending_terms_hand_case(spark):
    import math
    from whoosh_spark.pipeline import trending_terms

    # two 1-hour windows; 'burst' spikes in window 1
    docs = spark.createDataFrame([
        (0, "2025-01-01 00:00:00", "alpha beta alpha beta"),
        (1, "2025-01-01 00:30:00", "alpha beta burst alpha"),
        (2, "2025-01-01 01:00:00", "burst burst burst alpha"),
        (3, "2025-01-01 01:30:00", "burst beta burst alpha"),
    ], "doc_id long, ts_s string, text string")
    docs = docs.select("doc_id", F.to_timestamp("ts_s").alias("ts"), "text")
    rows = trending_terms(docs, window_s=3600, top_n=5, min_count=2).collect()
    got = {(r.win, r.term): (r.c, r.zscore) for r in rows}
    # counts: w0: alpha 4, beta 3, burst 1(<min_count) ; w1: burst 5, alpha 2, beta 1
    # totals: alpha 6, beta 4, burst 6, n=16, nw0=8, nw1=8
    def z(c, ct, nw, n=16):
        e = ct * nw / n
        return round((c - e) / math.sqrt(e), 4)
    assert got[(0, "alpha")] == (4, z(4, 6, 8))
    assert got[(0, "beta")] == (3, z(3, 4, 8))
    assert (0, "burst") not in got          # min_count prunes c=1
    assert got[(1, "burst")] == (5, z(5, 6, 8))
    assert got[(1, "alpha")] == (2, z(2, 6, 8))
    # ranking: burst leads window 1
    top_w1 = sorted((r for r in rows if r.win == 1),
                    key=lambda r: (-r.zscore, r.term))[0]
    assert top_w1.term == "burst"


def test_trending_terms_invariance(spark):
    from whoosh_spark.pipeline import trending_terms
    from whoosh_spark.transcripts import turns_from_documents

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    t = turns_from_documents(docs)
    a = trending_terms(t, window_s=3600).collect()
    b = trending_terms(t.repartition(13), window_s=3600).collect()
    key = lambda r: (r.win, r.term)
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_ngram_novelty_hand_case(spark):
    from whoosh_spark.pipeline import ngram_novelty

    shared = "one two three four five six seven eight"       # 8 tokens
    docs = spark.createDataFrame([
        (0, shared + " alpha"),        # grams: shared(1..8), 2..9 -> 2 grams
        (1, shared),                   # 1 gram, equal to doc0's first
        (2, "tiny doc"),               # < 8 tokens -> vacuously novel
        (3, shared + " " + shared),    # contains shared gram repeatedly
    ], "doc_id long, text string")
    rows = {r.doc_id: r for r in ngram_novelty(docs, n=8).collect()}
    # doc1's only gram appears in docs 0, 1, 3 -> not novel
    assert rows[1].n_grams == 1 and rows[1].n_novel == 0
    assert rows[1].novelty == 0.0
    # doc0: gram1 shared, gram2 (two..alpha) unique -> novelty 0.5
    assert rows[0].n_grams == 2 and rows[0].n_novel == 1
    assert rows[0].novelty == 0.5
    # doc2: no grams, vacuous 1.0
    assert rows[2].n_grams == 0 and rows[2].novelty == 1.0
    # doc3: 16 tokens -> 9 gram positions, but position 9 repeats the
    # all-shared gram (distinct counting) -> 8 distinct grams; the shared
    # one not novel, the 7 wrap-around grams unique to doc3
    assert rows[3].n_grams == 8 and rows[3].n_novel == 7


def test_ngram_novelty_invariance_and_validation(spark):
    import pytest
    from whoosh_spark.pipeline import ngram_novelty

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = sorted(map(tuple, ngram_novelty(docs, n=5).collect()))
    b = sorted(map(tuple, ngram_novelty(docs.repartition(9), n=5).collect()))
    assert a == b
    with pytest.raises(ValueError):
        ngram_novelty(docs, n=1)
