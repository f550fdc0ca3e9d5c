"""Similarity search over embedding columns (array<float>).

Two tiers, same contract:
- **Exact** (cosine_topk / cosine_neardup_pairs): brute-force cosine via
  JVM higher-order functions (zip_with dot product — whole-stage codegen,
  no Python). The oracle path, and the right tool when one side is small
  enough to broadcast (query batches, a candidate set).
- **Scale** (hyperplane_buckets / ann_topk): random-hyperplane LSH. Plane
  matrices are derived deterministically from xxhash64 (no RNG state), the
  sign-bit signature is computed by ONE numpy matmul per Arrow batch
  (mapInArrow), and search probes only the query's bucket (optionally
  multi-probe by flipping low-margin bits). Recall < 1 by construction —
  the exact tier is the correctness oracle; tests pin recall on the
  testdata corpus.

At 100 TB: brute-force is O(N) per query and only viable broadcast-side;
the bucketed variant turns ANN into a bucket-pruned scan (partition by
bucket prefix), which is the IVF/LSH layout a vector store would use.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def with_norm(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    v = F.col(vec_col).cast("array<double>")
    return emb.withColumn("_norm", _norm(v))


def _normed_queries(queries: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    return queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    ).withColumn("_qn", _norm(F.col("_qv")))


def _normed_corpus(emb: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    return emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("_ev"),
    ).withColumn("_en", _norm(F.col("_ev")))


def _cosine_topk_of(j: DataFrame, k: int) -> DataFrame:
    """Shared exact-scoring tail: (query_id, vec_id, _qv,_qn,_ev,_en) rows
    -> per-query top-k by (cosine desc, vec_id asc). The ONE definition of
    cosine + tie-break used by the exact tier and every approximate tier's
    re-rank, so the tiers cannot drift apart."""
    cos = (_dot(F.col("_qv"), F.col("_ev")) / (F.col("_qn") * F.col("_en"))).alias("cosine")
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        j.select("query_id", "vec_id", cos)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def _exact_rerank(candidates: DataFrame, emb: DataFrame, queries: DataFrame,
                  k: int, vec_col: str, id_col: str,
                  exclude_self: bool = True) -> DataFrame:
    """Exact top-k over a (query_id, vec_id) candidate frame."""
    j = (candidates.join(_normed_corpus(emb, vec_col, id_col), "vec_id")
         .join(F.broadcast(_normed_queries(queries, vec_col, id_col)), "query_id"))
    if exclude_self:
        j = j.where(F.col("vec_id") != F.col("query_id"))
    return _cosine_topk_of(j, k)


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    include_self: bool = False,
) -> DataFrame:
    """Exact top-k cosine neighbors per query -> (query_id, vec_id, cosine).

    ``queries`` (small) is broadcast against the corpus — no shuffle of the
    big side; the window top-k runs on corpus_rows × n_queries scored rows.
    Ties break by ascending vec_id (same discipline as search top-k).
    """
    j = _normed_corpus(emb, vec_col, id_col).crossJoin(
        F.broadcast(_normed_queries(queries, vec_col, id_col))
    )
    if not include_self:
        j = j.where(F.col("vec_id") != F.col("query_id"))
    return _cosine_topk_of(j, k)


def _pair_cosines(e: DataFrame, threshold: float,
                  block_col: str | None = None) -> DataFrame:
    """(i, j, cosine >= threshold) pairs from a normed frame
    (vec_id, _v, _n [, block_col]); all-pairs when block_col is None, else
    within-block only. One definition of the pair cosine + i<j dedup for
    the exact and blocked tiers."""
    keep = ([block_col] if block_col else [])
    a = e.select(*keep, F.col("vec_id").alias("i"),
                 F.col("_v").alias("_va"), F.col("_n").alias("_na"))
    b = e.select(*keep, F.col("vec_id").alias("j"),
                 F.col("_v").alias("_vb"), F.col("_n").alias("_nb"))
    pairs = (a.join(b, block_col) if block_col else a.crossJoin(b)).where(
        F.col("i") < F.col("j")
    )
    cos = (_dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))).alias("cosine")
    return pairs.select("i", "j", cos).where(F.col("cosine") >= threshold)


def _normed_pairs_input(emb: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    return emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).withColumn("_n", _norm(F.col("_v")))


def cosine_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact all-pairs cosine >= threshold -> (i, j, cosine). Quadratic —
    verify/oracle tier; generate candidates with hyperplane_buckets at scale."""
    return _pair_cosines(_normed_pairs_input(emb, vec_col, id_col), threshold)


# ------------------------------------------------------------ LSH scale path


def _planes(dim: int, n_planes: int, seed: int = 7) -> np.ndarray:
    """Deterministic pseudo-gaussian hyperplanes from splitmix64 — identical
    on driver and every executor, no RNG state shipped."""
    # seed offset computed in Python ints with an explicit 2^64 wrap —
    # numpy scalar uint64 multiply would warn on the intended overflow
    offset = (seed * 0x9E3779B97F4A7C15) % (1 << 64)
    idx = np.arange(dim * n_planes, dtype=np.uint64) + np.uint64(offset)
    z = idx * np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    z = z ^ (z >> np.uint64(31))
    u = (z >> np.uint64(11)).astype(np.float64) / float(1 << 53)  # U[0,1)
    # sum of 4 uniforms ~ approx gaussian (Irwin–Hall), centered
    g = u.reshape(n_planes, dim)
    g2 = np.roll(g, 1, axis=1) + np.roll(g, 2, axis=1) + np.roll(g, 3, axis=1) + g
    return g2 - 2.0


def hyperplane_buckets(
    emb: DataFrame,
    n_planes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 7,
) -> DataFrame:
    """(vec_id, bucket) sign-bit LSH bucket per vector — one numpy matmul
    per Arrow batch, no per-row Python."""
    import pyarrow as pa

    dim = len(emb.select(vec_col).first()[0])
    planes = _planes(dim, n_planes, seed)

    def gen(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(batch.schema.get_field_index(id_col)).to_numpy(
                zero_copy_only=False
            )
            vecs = batch.column(batch.schema.get_field_index(vec_col))
            flat = vecs.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            mat = flat.reshape(len(ids), dim)
            signs = (mat @ planes.T) > 0  # (n, planes)
            bucket = (signs.astype(np.int64) << np.arange(n_planes, dtype=np.int64)).sum(axis=1)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, type=pa.int64()), pa.array(bucket, type=pa.int64())],
                names=["vec_id", "bucket"],
            )

    return emb.select(id_col, vec_col).mapInArrow(gen, "vec_id long, bucket long")


def ann_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 12,
    multiprobe_bits: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 7,
) -> DataFrame:
    """Approximate top-k: probe the query's bucket plus every bucket within
    ``multiprobe_bits`` bit flips, score exactly inside the probed set.

    Probe fan-out C(n_planes, <=multiprobe_bits); the probed fraction of
    the corpus is ~fan_out / 2^n_planes — the knob that trades recall for
    scan cost at scale.
    """
    from itertools import combinations

    buckets = hyperplane_buckets(emb, n_planes, vec_col, id_col, seed)
    qb = hyperplane_buckets(queries, n_planes, vec_col, id_col, seed).withColumnRenamed(
        "vec_id", "query_id"
    )
    flips = [0]
    for r in range(1, multiprobe_bits + 1):
        for comb in combinations(range(n_planes), r):
            m = 0
            for c in comb:
                m |= 1 << c
            flips.append(m)
    probes = qb.select(
        "query_id",
        F.explode(F.array(*[F.lit(m) for m in flips])).alias("_m"),
    ).join(qb, "query_id").select(
        "query_id", F.col("bucket").bitwiseXOR(F.col("_m")).alias("bucket")
    )
    cand = probes.join(buckets, "bucket").select("query_id", "vec_id").distinct()
    # exact cosine inside the candidate set only
    e = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("_ev"),
    ).withColumn("_en", _norm(F.col("_ev")))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    ).withColumn("_qn", _norm(F.col("_qv")))
    j = cand.join(e, "vec_id").join(F.broadcast(q), "query_id").where(
        F.col("vec_id") != F.col("query_id")
    )
    cos = (_dot(F.col("_qv"), F.col("_ev")) / (F.col("_qn") * F.col("_en"))).alias("cosine")
    scored = j.select("query_id", "vec_id", cos)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


# ---------------------------------------------------------------- IVF-flat


def _assign_clusters(emb: DataFrame, centroids: np.ndarray, vec_col: str,
                     id_col: str) -> DataFrame:
    """(vec_id, cluster): nearest centroid by cosine — one matmul/batch."""
    import pyarrow as pa

    cnorm = centroids / np.maximum(np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12)
    dim = centroids.shape[1]

    def gen(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            flat = batch.column(1).flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            mat = flat.reshape(len(ids), dim)
            mn = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            cl = np.argmax(mn @ cnorm.T, axis=1)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, type=pa.int64()), pa.array(cl.astype(np.int32))],
                names=["vec_id", "cluster"],
            )

    return emb.select(id_col, vec_col).mapInArrow(gen, "vec_id long, cluster int")


def ivf_centroids(emb: DataFrame, n_clusters: int = 16, lloyd_iters: int = 1,
                  vec_col: str = "embedding", id_col: str = "vec_id") -> np.ndarray:
    """Deterministic IVF centroids: seed with the ``n_clusters`` lowest
    vec_ids, then ``lloyd_iters`` distributed k-means steps (assign =
    mapInArrow matmul, update = groupBy mean over exploded components —
    both single-shuffle, fully scalable)."""
    seeds = (
        emb.orderBy(id_col).limit(n_clusters).select(vec_col).toPandas()[vec_col].tolist()
    )
    centroids = np.asarray([np.asarray(v, dtype=np.float64) for v in seeds])
    for _ in range(lloyd_iters):
        assigned = _assign_clusters(emb, centroids, vec_col, id_col)
        means = (
            emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v"))
            .join(assigned, "vec_id")
            .select("cluster", F.posexplode(F.col("_v").cast("array<double>")))
            .groupBy("cluster", "pos")
            .agg(F.avg("col").alias("m"))
            .toPandas()
        )
        for c, grp in means.groupby("cluster"):
            centroids[int(c)] = grp.sort_values("pos")["m"].to_numpy()
    return centroids


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 4,
    centroids: np.ndarray | None = None,
    assigned: DataFrame | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-flat ANN: probe the ``n_probe`` nearest clusters per query and
    score exactly inside them. Probed fraction ~= n_probe / n_clusters —
    the recall/cost knob; n_probe == n_clusters degenerates to exact.

    At 100 TB the assignment table is written once, partitioned by
    cluster, and a query touches only its probed partitions (classic
    IVF/Faiss layout as a Spark table)."""
    if centroids is None:
        centroids = ivf_centroids(emb, n_clusters, 1, vec_col, id_col)
    if assigned is None:
        # part of the ANN index at scale — pass the persisted table in
        assigned = _assign_clusters(emb, centroids, vec_col, id_col)

    probes, _ = _probe_clusters(queries, centroids, n_probe, vec_col, id_col)
    probe_df = _probe_frame(emb.sparkSession, probes)

    cand = probe_df.join(assigned, "cluster").select("query_id", "vec_id")
    return _exact_rerank(cand, emb, queries, k, vec_col, id_col)


def _probe_clusters(queries: DataFrame, centroids: np.ndarray, n_probe: int,
                    vec_col: str, id_col: str):
    """Per-query coarse probe: -> ([(query_id, cluster), ...],
    {query_id: normalized query vector}). Shared by IVF-flat and IVF-PQ so
    the coarse stage cannot diverge between the tiers."""
    qp = queries.select(id_col, vec_col).toPandas()
    cnorm = centroids / np.maximum(np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12)
    probes: list[tuple[int, int]] = []
    qvecs: dict[int, np.ndarray] = {}
    for _, row in qp.iterrows():
        qid = int(row[id_col])
        v = np.asarray(row[vec_col], dtype=np.float64)
        v = v / max(np.linalg.norm(v), 1e-12)
        qvecs[qid] = v
        top = np.argsort(-(cnorm @ v))[:n_probe]
        probes.extend((qid, int(c)) for c in top)
    return probes, qvecs


def _probe_frame(spark, probes: list) -> DataFrame:
    """(query_id, cluster) rows as a literal-expression frame — a driver
    createDataFrame costs ~1 s of py4j round-trips per query batch;
    util.inline_rows handles the empty and large-batch fallbacks."""
    from whoosh_spark.util import inline_rows

    return inline_rows(spark, probes, "query_id long, cluster int")


# ---------------------------------------------------------------- IVF-PQ


def pq_codebooks(emb: DataFrame, m: int = 8, ksub: int = 16,
                 sample_n: int = 2048, lloyd_iters: int = 5,
                 vec_col: str = "embedding",
                 id_col: str = "vec_id") -> np.ndarray:
    """Train product-quantization codebooks -> (m, ksub, dim/m) float64.

    Vectors are L2-normalized first (so PQ inner products approximate
    cosine), split into ``m`` contiguous subspaces, and each subspace gets
    its own ``ksub``-centroid k-means. Training runs driver-side on a
    DETERMINISTIC sample (the ``sample_n`` lowest ids — the corpus-size-
    independent Faiss practice: codebook quality needs a bounded sample,
    never the full corpus), seeded with the sample's first ``ksub`` rows."""
    pdf = (emb.orderBy(id_col).limit(sample_n)
           .select(vec_col).toPandas()[vec_col].tolist())
    x = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf])
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    if x.shape[0] < ksub:
        raise ValueError(
            f"codebook training needs >= ksub={ksub} sample vectors, got {x.shape[0]}"
        )
    books = np.empty((m, ksub, dsub))
    for j in range(m):
        sub = x[:, j * dsub:(j + 1) * dsub]
        cent = sub[:ksub].copy()
        for _ in range(lloyd_iters):
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(ksub):
                mask = assign == c
                if mask.any():
                    cent[c] = sub[mask].mean(axis=0)
        books[j] = cent
    return books


def pq_encode(emb: DataFrame, codebooks: np.ndarray,
              vec_col: str = "embedding",
              id_col: str = "vec_id") -> DataFrame:
    """Encode vectors to ``m`` uint8 codes -> (vec_id, code: binary).

    One numpy pass per Arrow batch; at 100 TB the codes table is ~m bytes
    per vector (64-dim float32 -> 8 bytes = 32x smaller), written once and
    partitioned alongside the IVF assignment."""
    import pyarrow as pa

    m, ksub, dsub = codebooks.shape
    books = codebooks.copy()

    def gen(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            flat = batch.column(1).flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            x = flat.reshape(len(ids), m * dsub)
            x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
            codes = np.empty((len(ids), m), dtype=np.uint8)
            for j in range(m):
                sub = x[:, j * dsub:(j + 1) * dsub]
                d2 = ((sub[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = np.argmin(d2, axis=1)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, type=pa.int64()),
                 pa.array(list(codes.tobytes(order="C")[i * m:(i + 1) * m]
                               for i in range(len(ids))), type=pa.binary())],
                names=["vec_id", "code"],
            )

    return emb.select(id_col, vec_col).mapInArrow(gen, "vec_id long, code binary")


def ivf_pq_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 4,
    m: int = 8,
    ksub: int = 16,
    refine: int = 4,
    centroids: np.ndarray | None = None,
    codebooks: np.ndarray | None = None,
    codes: DataFrame | None = None,
    assigned: DataFrame | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ ANN with exact refine -> (query_id, vec_id, cosine).

    The 100 TB shape: coarse IVF probe prunes to ~n_probe/n_clusters of
    the corpus; inside the probed clusters candidates are ranked by
    asymmetric-distance (ADC) TABLE LOOKUPS over m uint8 codes — no float
    vectors are read until the final exact re-rank of the top
    ``refine * k`` shortlist (pass ``codes`` = a persisted pq_encode
    output to skip re-encoding). Returned cosines are exact; only the
    shortlist selection is approximate (recall pinned in tests)."""
    import pyarrow as pa

    if centroids is None:
        centroids = ivf_centroids(emb, n_clusters, 1, vec_col, id_col)
    if codebooks is None:
        codebooks = pq_codebooks(emb, m, ksub, vec_col=vec_col, id_col=id_col)
    if codes is None:
        codes = pq_encode(emb, codebooks, vec_col, id_col)
    m_, ksub_, dsub = codebooks.shape

    if assigned is None:
        # part of the ANN index at scale — pass the persisted table in
        assigned = _assign_clusters(emb, centroids, vec_col, id_col)
    probes, qvecs = _probe_clusters(queries, centroids, n_probe, vec_col, id_col)
    # per-query ADC lookup tables: T[q][j][c] = <q_sub_j, codebook[j][c]>
    tables = {
        qid: np.stack([
            codebooks[j] @ v[j * dsub:(j + 1) * dsub] for j in range(m_)
        ]).astype(np.float32)  # (m, ksub)
        for qid, v in qvecs.items()
    }
    probe_df = _probe_frame(emb.sparkSession, probes)

    cand = (probe_df.join(assigned, "cluster")
            .where(F.col("vec_id") != F.col("query_id"))
            .join(codes, "vec_id"))

    def adc(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            d = batch.to_pydict()
            vids = np.asarray(d["vec_id"], dtype=np.int64)
            qids = np.asarray(d["query_id"], dtype=np.int64)
            cds = np.frombuffer(b"".join(d["code"]), dtype=np.uint8).reshape(len(vids), m_)
            score = np.empty(len(vids), dtype=np.float32)
            for qid in np.unique(qids):
                sel = qids == qid
                t = tables[int(qid)]  # (m, ksub)
                score[sel] = t[np.arange(m_)[None, :], cds[sel]].sum(axis=1)
            yield pa.RecordBatch.from_arrays(
                [pa.array(qids), pa.array(vids), pa.array(score)],
                names=["query_id", "vec_id", "adc"],
            )

    scored = cand.select("query_id", "vec_id", "code").mapInArrow(
        adc, "query_id long, vec_id long, adc float"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("vec_id"))
    shortlist = (scored.withColumn("_rn", F.row_number().over(w))
                 .where(F.col("_rn") <= refine * k).select("query_id", "vec_id"))

    # exact re-rank of the shortlist (reads float vectors for ~refine*k
    # rows); self-matches were already dropped building `cand`
    return _exact_rerank(shortlist, emb, queries, k, vec_col, id_col,
                         exclude_self=False)


def cluster_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    n_clusters: int = 16,
    centroids: np.ndarray | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Centroid-blocked semantic near-dup (the SemDeDup shape): assign each
    vector to its nearest k-means centroid, then exact all-pairs cosine
    ONLY within each cluster -> (i, j, cosine >= threshold).

    The third standard dedup tier next to exact all-pairs (oracle) and
    hyperplane-LSH: quadratic cost shrinks by ~n_clusters (within-block
    pairs only), and at 100 TB the assignment is a partition column so each
    block's pairs compute co-located, no cross-partition shuffle. Recall <
    1 by construction — near-dups straddling a centroid boundary are
    missed; pinned vs the exact tier in tests."""
    if centroids is None:
        centroids = ivf_centroids(emb, n_clusters, 1, vec_col, id_col)
    assigned = _assign_clusters(emb, centroids, vec_col, id_col)
    e = _normed_pairs_input(emb, vec_col, id_col).join(assigned, "vec_id")
    return _pair_cosines(e, threshold, block_col="cluster")


def group_centroids(emb: DataFrame, labels: DataFrame, by: str,
                    vec_col: str = "embedding",
                    id_col: str = "vec_id") -> DataFrame:
    """Per-group mean embedding -> (by, n, centroid) — the pooling
    primitive behind domain-centroid analysis (SemDeDup's cluster means,
    domain drift monitoring, conversation-level vectors from turn
    vectors).

    ``labels`` maps ``id_col`` to the grouping column ``by``. Plan: join
    on the id, posexplode the vector, ONE groupBy(group, pos) mean (the
    dimension-wise partial aggregate — never a collect_list of whole
    vectors, whose per-group state would be members x dim at web scale),
    then reassemble each centroid with a bounded sort over its own dim
    entries. Two key shuffles total, state bounded by groups x dim.

    The mean is ``sum(cast(v as decimal(38,18))) / count(v)``: for
    |v| < 1e20 the decimal sum is exact, so the centroid does not depend
    on the order partial sums meet in, as a double ``avg``'s last bits do.
    """
    joined = emb.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")) \
        .join(labels.select(F.col(id_col).alias("_id"), F.col(by)), "_id")
    dims = (
        joined.select(by, F.posexplode(F.col("_v").cast("array<double>")))
        .groupBy(by, "pos")
        .agg(
            (F.sum(F.col("col").cast("decimal(38,18)")) / F.count("col"))
            .cast("double").alias("_m"),
            F.count(F.lit(1)).alias("_n"),
        )
    )
    return (
        dims.groupBy(by)
        .agg(
            F.max("_n").alias("n"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "_m"))),
                lambda s: s["_m"],
            ).alias("centroid"),
        )
    )
