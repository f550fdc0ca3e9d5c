"""Block-max WAND top-k over the physical block store.

Re-expresses the reference's scored-search fast path — TopCollector's
block-quality pruning loop (src/whoosh/collectors.py::TopCollector ~L250,
pruning in ScoredCollector.collect_matches ~L300) driving
W3LeafMatcher.block_quality/skip_to_quality (src/whoosh/codec/whoosh3.py
~L950) with the BM25 bound from scoring.py::WeightLengthScorer
.block_quality — as a **vectorized two-phase algorithm** instead of a
doc-at-a-time iterator, because numpy batch work is the fast path in a
Python-on-Spark executor while per-doc Python iteration is the slow path.

Per segment (one applyInPandas group; segments are doc shards, so
per-segment top-k -> global top-k is exact):

1. Every candidate block carries the codec's block-max metadata:
   ``ub(block) = bm25(idf_t, max_weight, min_dl)`` — the highest score any
   posting in the block can produce (max weight + min length = reference
   block_quality).
2. **Phase 1 (seed θ):** decode the top ``seed`` blocks by ub, score their
   postings (vectorized BM25), aggregate per doc. Partial scores are lower
   bounds of true scores, so the k-th best partial is a valid pruning
   threshold θ.
3. **Prune:** block b of term t is skipped iff
   ``ub(b) + Σ_{t'≠t} term_max(t') < θ`` (term_max = max ub over the
   term's blocks). Safety: any doc appearing ONLY in pruned blocks has
   true score ≤ max over its covering blocks of (ub + Σ other term_max)
   < θ, so no top-k doc is lost.
4. **Refine:** docs seen in decoded blocks may still miss contributions
   from pruned blocks. For each such doc, bound the missing mass by the SUM
   of ub over every pruned block whose [min_doc, max_doc] range covers it
   (interval-stabbing difference array — block ranges of one term may
   overlap after a salted hot-term merge); docs whose
   partial + missing-bound ≥ θ get those blocks decoded and their scores
   completed exactly. Everything reported is therefore an EXACT BM25
   score; pruned ≡ unpruned is asserted in tests/test_segments.py
   (test_wand_pruned_equals_unpruned_equals_executor) and
   tests/test_fixture_queries.py (q22).

The Parquet scan already pruned to the query's (field, term) rows via
row-group min/max on the sorted term column — WAND here saves decode +
score work on long posting lists, exactly the role block skipping plays in
the reference (I/O seek saving), with ~(k / corpus) of the postings decoded
for hot terms.

**Kernel input.** ``wand_topk``, ``wand_phrase_topk`` and
``wand_topk_many`` build it the same way (:func:`_kernel_input`), as one
Spark action:

- The block rows of the query's (field, term) pairs, scanned with the term
  predicate pushed down (row-group min/max on the sorted term column).
  Position payloads are dropped before the scan unless the phrase kernel
  reads them.
- Each row carries its term's exact integer ``df``, broadcast-joined from
  the terms table — no separate per-query stats job. The kernel computes
  idf with the same Python ``scoring.idf`` the executor uses, so scores
  are bit-identical. A term missing from the index brings no rows: OR
  scores the rest, AND and phrases match nothing.
- ``doc_range=(lo, hi)`` (term kernels only) restricts candidates to a
  docnum slice (``SegmentedIndex.doc_range_for``): whole blocks outside it
  prune on their min/max metadata before the scan, straddling blocks are
  filtered after decode. df/idf/avgdl stay corpus-global (Whoosh
  FilterMatcher semantics), and block bounds only overestimate, so
  θ-pruning stays exact.
- Kernel groups are ``(segment_id[, _shard])``, prefixed by ``_qid`` on
  the batch path, which broadcast-joins a (term -> query_id) map so a
  shared term's rows replicate to every query using it. With
  ``shard_docs`` set, shards are doc-disjoint ranges of that many docs: a
  block straddling a boundary replicates to each shard it touches and is
  range-filtered after decode, so every doc's postings for all query terms
  sit in one group and per-group top-k -> global top-k stays exact (the
  per-segment argument, one level down). ``"auto"`` sizes shards to ~4
  groups per core with a 65536-doc floor: a small index keeps one group per
  segment (the plain per-segment plan), while a big or fully merged index
  stays parallel — a 1-segment sf1 index served a WAND query in 23.9 s
  before sharding because per-segment grouping put the kernel on one task
  (BENCH.md round-3 addendum). ``None`` is one group per segment; an int
  pins the shard size (~10^7 at 10^9-doc segments).
- Deleted doc ids join the same shuffle as marker rows (``_del_doc`` not
  null), routed to their segment and shard by the manifest doc ranges and,
  on the batch path, replicated to every query. The delete set never
  reaches the driver. Kernels strip the markers and mask those docs right
  after decode; block bounds only overestimate, so results stay exact.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whoosh_spark.indexing.segments import SegmentedIndex
from whoosh_spark.search.scoring import BM25F, bm25_np, idf as idf_fn
from whoosh_spark.util import inline_rows, segmented_cumsum, varint_decode


class _KernelInput(NamedTuple):
    data: DataFrame  # block rows (+ delete markers), one group per kernel call
    group_cols: list[str]
    shard_docs: int | None  # "auto" resolved
    n: int  # doc_count_all
    avgdl: float
    B: float
    K1: float


def _kernel_input(ix: SegmentedIndex, fieldname: str,
                  weighting: BM25F | None, terms: list[str],
                  shard_docs: int | str | None, doc_range: tuple | None = None,
                  positions: bool = False,
                  queries: "dict[int, list[str]] | None" = None) -> _KernelInput:
    """Check the field and weighting, then lay out the kernel input
    described in the module docstring. ``positions`` keeps the position
    payloads (phrase kernel); ``queries`` (query_id -> terms) adds the
    batch path's (term -> query_id) join and per-query delete markers."""
    w = weighting or BM25F()
    if getattr(w, "use_final", False):
        why = ("" if positions or queries is not None else
               " (non-monotone transforms invalidate block bounds, same as "
               "the reference disabling block quality under use_final)")
        raise ValueError("final()-hook models are excluded from block-max "
                         f"pruning{why} — use Searcher.search instead")
    fs = ix.schema[fieldname]
    if not fs.scorable:
        hint = "" if queries is not None else " — use Searcher.search"
        raise ValueError(
            f"block-max {'phrase WAND' if positions else 'WAND'} needs a "
            f"scorable field; {fieldname!r} is not{hint}")
    # the ONE B-resolution order (weighting.field_B > fs.B > weighting.B),
    # shared with score_expr/score_np so WAND == executor for every config
    B, K1 = w._b_for(fs), w.K1
    avgdl = ix.avg_field_length(fieldname)
    n = ix.doc_count
    wanted = (F.col("field") == fieldname) & F.col("term").isin(terms)
    stats = ix.terms.where(wanted).select("term", "df")
    blocks = ix.blocks if positions else ix.blocks.drop("pos_counts", "pos_vals")
    blocks = blocks.where(wanted).join(F.broadcast(stats), "term")
    group_cols = ["segment_id"]
    if queries is not None:
        qmap = inline_rows(ix.spark,
                           [(t, q) for q, ts in queries.items() for t in ts],
                           "term string, _qid long")
        blocks = blocks.join(F.broadcast(qmap), "term")
        group_cols.insert(0, "_qid")
    if doc_range is not None:
        lo, hi = doc_range
        if lo >= hi:
            raise ValueError(f"empty doc_range {doc_range}")
        blocks = blocks.where((F.col("max_doc") >= lo) & (F.col("min_doc") < hi))
    if shard_docs == "auto":
        par = max(ix.spark.sparkContext.defaultParallelism, 1)
        # below the floor every doc lands in shard 0 anyway — skip the
        # explode entirely and keep the plain per-segment plan
        shard_docs = max(-(-n // (4 * par)), 65536) if n > 65536 else None
    if shard_docs:
        blocks = blocks.withColumn(
            "_shard",
            F.explode(F.sequence(F.floor(F.col("min_doc") / shard_docs),
                                 F.floor(F.col("max_doc") / shard_docs))),
        )
        group_cols.append("_shard")
    deleted = getattr(ix, "deleted", None)
    if deleted is not None:
        marks = deleted.join(
            F.broadcast(ix.seg_ranges()),
            (F.col("doc_id") >= F.col("doc_lo")) & (F.col("doc_id") < F.col("doc_hi")),
        ).select("segment_id", F.col("doc_id").alias("_del_doc"))
        if queries is not None:
            marks = marks.withColumn("_qid", F.explode(F.array(
                *[F.lit(q).cast("long") for q in queries])))
        if shard_docs:
            marks = marks.withColumn(
                "_shard", F.floor(F.col("_del_doc") / shard_docs).cast("long"))
        blocks = blocks.withColumn("_del_doc", F.lit(None).cast("long")).unionByName(
            marks, allowMissingColumns=True)
    return _KernelInput(blocks, group_cols, shard_docs, n, avgdl, B, K1)


def _empty() -> pd.DataFrame:
    return pd.DataFrame({"doc_id": pd.Series([], dtype=np.int64),
                         "score": pd.Series([], dtype=np.float64)})


def _open_group(pdf: pd.DataFrame, shard_docs: int | None):
    """Split one kernel group into (block rows, deleted doc ids or None,
    the group's [lo, hi) shard bounds or None); None when the group holds
    no block row."""
    deleted = None
    if "_del_doc" in pdf.columns:
        marks = pdf["_del_doc"].notna()
        if marks.any():
            deleted = np.unique(pdf.loc[marks, "_del_doc"].to_numpy(dtype=np.int64))
            pdf = pdf[~marks]
    if len(pdf) == 0:
        return None
    shard = None
    if shard_docs and "_shard" in pdf.columns:
        sh = int(pdf["_shard"].iloc[0])
        shard = (sh * shard_docs, (sh + 1) * shard_docs)
    return pdf, deleted, shard


def _keep_mask(doc: np.ndarray, deleted, *ranges) -> np.ndarray:
    """Mask of decoded docs the group scores: inside every given [lo, hi)
    range (shard, doc_range; None = unbounded) and not deleted."""
    keep = np.ones(doc.size, dtype=bool)
    for r in ranges:
        if r is not None:
            keep &= (doc >= r[0]) & (doc < r[1])
    if deleted is not None:
        keep &= ~np.isin(doc, deleted)
    return keep


def _decode_blocks(rows: pd.DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Block rows (n, doc_deltas, weights, dls) -> flat (doc, tf, dl)
    arrays, postings in row order."""
    n_per = rows["n"].to_numpy(dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(n_per)))[:-1]
    doc = segmented_cumsum(varint_decode(b"".join(rows["doc_deltas"])), starts)
    tf = np.frombuffer(b"".join(rows["weights"]), dtype=np.float32).astype(np.float64)
    dl = np.frombuffer(b"".join(rows["dls"]), dtype=np.uint16).astype(np.float64)
    return doc, tf, dl


def _topk_partial(doc: np.ndarray, contrib: np.ndarray, tc: np.ndarray):
    """Aggregate contributions per doc -> (docs, scores) dense arrays.

    Contributions are summed in (doc, term-code) order, left-associative —
    the same order as the reference's matcher tree (UnionMatcher sums child
    scores in query order) and our executor's ordered fold, so pruned /
    unpruned / DataFrame paths produce bit-identical float64 scores.
    """
    order = np.lexsort((tc, doc))
    doc_s, contrib_s = doc[order], contrib[order]
    uniq, inv = np.unique(doc_s, return_inverse=True)
    sums = np.bincount(inv, weights=contrib_s)
    return uniq, sums


def _topk_partial_max(doc: np.ndarray, contrib: np.ndarray, tc: np.ndarray):
    """Per-doc MAX of contributions (DisjunctionMax semantics,
    matching/wrappers.py::DisMaxMatcher.score = max of children). IEEE max
    is order-insensitive, so no canonical fold is needed for bit-parity
    with the executor's F.max aggregate."""
    del tc
    uniq, inv = np.unique(doc, return_inverse=True)
    maxs = np.full(uniq.size, -np.inf)
    np.maximum.at(maxs, inv, contrib)
    return uniq, maxs


def make_segment_wand(terms: list[str], n_docs: int, avgdl: float, B: float,
                      K1: float, k: int, mode: str, prune: bool, seed_blocks: int,
                      shard_docs: int | None = None,
                      doc_range: tuple | None = None):
    """Build the per-group applyInPandas function over the kernel input
    (module docstring): idf per term from the attached ``df``, block
    bounds, then the seed / prune / refine passes above."""
    n_terms = len(terms)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        group = _open_group(pdf, shard_docs)
        if group is None:
            return _empty()
        pdf, deleted, shard = group
        tcode_map = {t: c for c, t in enumerate(terms)}
        pdf = pdf.assign(_tcode=pdf["term"].map(tcode_map))
        # idf per term from the attached exact integer df — same scalar
        # Python function as the driver path, so floats are bit-identical;
        # terms absent from this group keep idf 0 and are never scored
        idfs = np.zeros(n_terms)
        tc_col = pdf["_tcode"].to_numpy(dtype=np.int64)
        df_col = pdf["df"].to_numpy(dtype=np.int64)
        for code in np.unique(tc_col):
            idfs[code] = idf_fn(n_docs, int(df_col[tc_col == code][0]))
        ub = bm25_np(
            idfs[tc_col],
            pdf["max_weight"].to_numpy(dtype=np.float64),
            pdf["min_dl"].to_numpy(dtype=np.float64),
            avgdl, B, K1,
        )
        pdf = pdf.assign(_ub=ub)

        def score_rows(rows: pd.DataFrame):
            doc, tf, dl = _decode_blocks(rows)
            tc = np.repeat(rows["_tcode"].to_numpy(dtype=np.int64),
                           rows["n"].to_numpy(dtype=np.int64))
            keep = _keep_mask(doc, deleted, shard, doc_range)
            doc, tf, dl, tc = doc[keep], tf[keep], dl[keep], tc[keep]
            return doc, bm25_np(idfs[tc], tf, dl, avgdl, B, K1), tc

        agg = _topk_partial_max if mode == "max" else _topk_partial

        if mode == "and" or not prune or len(pdf) <= seed_blocks:
            doc, contrib, tc = score_rows(pdf)
            uniq, sums = agg(doc, contrib, tc)
            if mode == "and":
                nterm = np.bincount(np.searchsorted(uniq, doc))
                keep = nterm == n_terms  # one posting per (doc, term)
                uniq, sums = uniq[keep], sums[keep]
            return _head_k(uniq, sums, k)

        # ---- phase 1: seed θ from the highest-bound blocks ----
        order = np.argsort(-pdf["_ub"].to_numpy())
        seed_idx = order[:seed_blocks]
        seed_rows = pdf.iloc[seed_idx]
        doc_s, contrib_s, tc_s = score_rows(seed_rows)
        uniq_s, sums_s = agg(doc_s, contrib_s, tc_s)
        if uniq_s.size >= k:
            theta = np.partition(sums_s, uniq_s.size - k)[uniq_s.size - k]
        else:
            theta = -np.inf

        rest_idx = order[seed_blocks:]
        rest = pdf.iloc[rest_idx]
        if mode == "max":
            # ---- max-mode prune: a block whose own bound is < θ cannot
            # raise ANY doc's max to >= θ (every contribution <= block ub),
            # so the survive test is the block bound alone and NO refine
            # pass is needed: any doc whose true max >= θ has that max in a
            # surviving block; docs whose every block was pruned are < θ
            # and θ is a lower bound on the final k-th score (>= k seed
            # docs already scored >= θ whenever pruning is armed) ----
            survive = rest["_ub"].to_numpy() >= theta
            doc_r, contrib_r, tc_r = score_rows(rest[survive])
            uniq, sums = agg(
                np.concatenate([doc_s, doc_r]),
                np.concatenate([contrib_s, contrib_r]),
                np.concatenate([tc_s, tc_r]),
            )
            return _head_k(uniq, sums, k)

        # ---- prune: term-max WAND test on the remaining blocks ----
        term_max = np.full(n_terms, 0.0)
        np.maximum.at(term_max, tc_col, pdf["_ub"].to_numpy())
        others = term_max.sum() - term_max  # Σ_{t'≠t} term_max(t')
        lhs = rest["_ub"].to_numpy() + others[rest["_tcode"].to_numpy(dtype=np.int64)]
        survive = lhs >= theta
        pruned = rest[~survive]

        # reuse the phase-1 seed decode/scores — _topk_partial lexsorts by
        # (doc, term-code) internally, so concatenation order cannot change
        # the canonical fold (bit-exact vs re-decoding the seed blocks)
        doc_r, contrib_r, tc_r = score_rows(rest[survive])
        doc_d = np.concatenate([doc_s, doc_r])
        contrib_d = np.concatenate([contrib_s, contrib_r])
        tc_d = np.concatenate([tc_s, tc_r])
        uniq, sums = _topk_partial(doc_d, contrib_d, tc_d)

        if len(pruned) and uniq.size:
            # ---- refine: complete scores that pruned blocks could raise ----
            # A term's blocks may carry OVERLAPPING [min_doc, max_doc]
            # ranges after a salted hot-term merge (salt groups repack
            # independently, segments.py::merge_segments), so a doc can fall
            # inside SEVERAL pruned blocks of one term. The missing-mass
            # bound therefore sums ub over EVERY covering block — an
            # interval-stabbing sum via a difference array over the sorted
            # doc array — never a single searchsorted hit, which would
            # under-estimate the bound and return under-scored top-k.
            # (Summing over all covering blocks only overestimates: the
            # doc's actual posting lives in exactly one of them.)
            pr = pruned.reset_index(drop=True)
            lo_all = pr["min_doc"].to_numpy(dtype=np.int64)
            hi_all = pr["max_doc"].to_numpy(dtype=np.int64)
            ub_all = pr["_ub"].to_numpy()
            start_idx = np.searchsorted(uniq, lo_all, side="left")
            end_idx = np.searchsorted(uniq, hi_all, side="right")
            diff = np.zeros(uniq.size + 1)
            np.add.at(diff, start_idx, ub_all)
            np.add.at(diff, end_idx, -ub_all)
            miss = np.cumsum(diff)[:-1]
            refine = (sums + miss >= theta) & (miss > 0)
            if refine.any():
                # decode every pruned block covering a refinable doc
                ref_docs = uniq[refine]
                s2 = np.searchsorted(ref_docs, lo_all, side="left")
                e2 = np.searchsorted(ref_docs, hi_all, side="right")
                need_blocks_mask = e2 > s2
                doc_r, contrib_r, tc_r = score_rows(pr[need_blocks_mask])
                # keep only contributions of docs already tracked (any doc
                # living solely in pruned blocks was proven < θ) and
                # RE-AGGREGATE from scratch so the (doc, term) canonical sum
                # order is preserved — incremental += would change float
                # association and break pruned ≡ unpruned bit-equality
                sel = np.isin(doc_r, uniq[refine])
                if sel.any():
                    doc_all = np.concatenate((doc_d, doc_r[sel]))
                    contrib_all = np.concatenate((contrib_d, contrib_r[sel]))
                    tc_all2 = np.concatenate((tc_d, tc_r[sel]))
                    uniq, sums = _topk_partial(doc_all, contrib_all, tc_all2)
        return _head_k(uniq, sums, k)

    return run


def _head_k(docs: np.ndarray, scores: np.ndarray, k: int) -> pd.DataFrame:
    order = np.lexsort((docs, -scores))[:k]  # (score desc, doc_id asc) — A.7
    return pd.DataFrame({"doc_id": docs[order].astype(np.int64),
                         "score": scores[order]})


def wand_topk(
    ix: SegmentedIndex,
    fieldname: str,
    terms: list[str],
    k: int = 10,
    mode: str = "or",
    prune: bool = True,
    seed_blocks: int = 16,
    weighting: BM25F | None = None,
    shard_docs: int | str | None = "auto",
    doc_range: tuple | None = None,
) -> DataFrame:
    """Top-k (doc_id, score) for an Or/And/DisMax of terms via per-group
    WAND. ``mode``: "or" sums matching-term scores (UnionMatcher), "and"
    keeps docs matching every term (IntersectionMatcher), "max" takes the
    per-doc maximum (wrappers.py::DisMaxMatcher, tiebreak=0) with the
    tighter single-block prune bound.

    Plan shape: the kernel input (module docstring; ``shard_docs`` and
    ``doc_range`` there) -> per-group vectorized WAND -> global
    orderBy(score desc, doc_id asc).limit(k) over ≤ k rows per group.
    Sharded ≡ unsharded and the ``doc_range`` slice ≡ its unpruned
    evaluation are pinned in tests/test_segments.py.
    """
    terms = list(dict.fromkeys(terms))  # dedupe, keep order (tcode identity)
    inp = _kernel_input(ix, fieldname, weighting, terms, shard_docs, doc_range)
    fn = make_segment_wand(terms, inp.n, inp.avgdl, inp.B, inp.K1, k, mode,
                           prune, seed_blocks, shard_docs=inp.shard_docs,
                           doc_range=doc_range)
    local = inp.data.groupBy(*inp.group_cols).applyInPandas(fn, "doc_id long, score double")
    return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def _decode_block_positions(pc, pv, n: int) -> tuple[np.ndarray, np.ndarray]:
    """One block's position payload -> (offsets[n+1], values) arrays.
    ``pc`` (uint16 per-posting counts) may be None for non-positional
    blocks (ID/KEYWORD fields) — those yield zero positions per posting,
    which makes every phrase chain over them empty, matching the executor's
    null-positions no-match semantics."""
    if pc is None:
        return np.zeros(int(n) + 1, dtype=np.int64), np.empty(0, dtype=np.int64)
    counts = np.frombuffer(pc, dtype=np.uint16).astype(np.int64)
    vals = varint_decode(pv) if pv else np.empty(0, dtype=np.int64)
    return np.concatenate(([0], np.cumsum(counts))), vals


def make_segment_phrase_wand(words: list[str], n_docs: int, avgdl: float,
                             B: float, K1: float, k: int, slop: int,
                             prune: bool = True,
                             shard_docs: int | None = None,
                             verify_chunk: int | None = None):
    """Per-group phrase top-k kernel over the kernel input (module
    docstring), positions kept.

    Three vectorized stages, each skipping work the reference's
    doc-at-a-time intersection+positions matcher (positional.py::Phrase ->
    SpanNear2 over W3LeafMatcher.skip_to) saves with seeks:

    1. **Candidate intersection with block-range skipping**: decode the
       RAREST word's postings first (fewest blocks); every other word's
       blocks are decoded only if their [min_doc, max_doc] range stabs a
       surviving candidate (vectorized searchsorted interval test — the
       batch form of skip_to). Candidates shrink monotonically, cheapest
       word first.
    2. **Conjunction scores**: the phrase score IS the And score (the span
       chain filters, it does not rescore — executor._c_phrase), so scores
       for all candidates come from the already-decoded tf/dl arrays,
       summed in WORD order (duplicate words contribute once per slot) with
       the same left-associative float64 fold as the executor's reduce —
       bit-identical scores.
    3. **Score-ordered positional verification with early exit**: position
       payloads are varint-decoded lazily PER BLOCK, only for blocks
       holding docs reached by the verify frontier. Candidates are checked
       in (score desc, doc asc) order in chunks; once k phrase matches
       exist and the next candidate's conjunction score cannot outrank the
       k-th match (ties resolve doc-asc, and the verify order already IS
       the final order), the remaining candidates' positions are never
       decoded. The chain test per chunk is one sorted searchsorted pass
       per word over composite (doc, position) int64 keys — the
       SpanNear2 window (prev < x <= prev + slop) with no per-doc Python
       loop in the match test.
    """
    uniq_terms = list(dict.fromkeys(words))
    idf_slot_of = [uniq_terms.index(w) for w in words]

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        group = _open_group(pdf, shard_docs)
        if group is None:
            return _empty()
        pdf, deleted, shard = group
        pdf = pdf.reset_index(drop=True)
        present = set(pdf["term"])
        if any(t not in present for t in uniq_terms):
            return _empty()  # AND semantics: a word absent here matches nothing
        term_rows = {t: pdf[pdf["term"] == t] for t in uniq_terms}
        idfs_u = np.array([
            idf_fn(n_docs, int(term_rows[t]["df"].iloc[0])) for t in uniq_terms
        ])

        # ---- stage 1: candidate intersection, cheapest word first ----
        order_terms = sorted(uniq_terms,
                             key=lambda t: int(term_rows[t]["n"].sum()))
        data: dict[str, tuple] = {}
        C = None  # sorted candidate doc ids (unique: one posting per doc/term)
        for ti, t in enumerate(order_terms):
            rows = term_rows[t]
            if C is not None:
                # block-range skipping: decode only blocks stabbing a candidate
                lo = np.searchsorted(C, rows["min_doc"].to_numpy(dtype=np.int64), side="left")
                hi = np.searchsorted(C, rows["max_doc"].to_numpy(dtype=np.int64), side="right")
                rows = rows[hi > lo]
                if len(rows) == 0:
                    return _empty()
            doc, tf, dl = _decode_blocks(rows)
            n_per = rows["n"].to_numpy(dtype=np.int64)
            # each posting's block row (for the lazy position decode) and
            # its slot inside that block
            rowrep = np.repeat(rows.index.to_numpy(), n_per)
            inblk = np.arange(doc.size, dtype=np.int64) - np.repeat(
                np.cumsum(n_per) - n_per, n_per)
            arrs = (doc, tf, dl, rowrep, inblk)
            if ti == 0:
                m = _keep_mask(doc, deleted, shard)
            else:
                # candidate membership implies shard + delete filtering
                m = np.isin(doc, C, assume_unique=False)
            if not m.all():
                arrs = tuple(a[m] for a in arrs)
                doc = arrs[0]
            if doc.size == 0:
                return _empty()
            srt = np.argsort(doc)
            arrs = tuple(a[srt] for a in arrs)
            data[t] = arrs
            C = arrs[0]
        # earlier-decoded terms may still hold docs dropped by later words
        for t in uniq_terms:
            arrs = data[t]
            if arrs[0].size != C.size:
                sel = np.isin(arrs[0], C, assume_unique=True)
                data[t] = tuple(a[sel] for a in arrs)
        # every data[t][0] now equals C exactly (sorted, aligned)

        # ---- stage 2: conjunction scores, word-order left-assoc fold ----
        score = None
        for s, wd in enumerate(words):
            _, tf_t, dl_t, _, _ = data[wd]
            contrib = bm25_np(idfs_u[idf_slot_of[s]], tf_t, dl_t, avgdl, B, K1)
            score = contrib if score is None else score + contrib

        # ---- stage 3: score-ordered positional verify, early exit ----
        vorder = np.lexsort((C, -score))
        pos_cache: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        pc_col = pdf["pos_counts"].to_numpy()
        pv_col = pdf["pos_vals"].to_numpy()
        n_col = pdf["n"].to_numpy(dtype=np.int64)

        def keys_for(word: str, cand_idx: np.ndarray) -> np.ndarray:
            """(chunk-local doc index << 32 | position) keys, sorted."""
            _, _, _, rowrep, inblk = data[word]
            rws, ibs = rowrep[cand_idx], inblk[cand_idx]
            parts = []
            for li in range(cand_idx.size):
                r = int(rws[li])
                ent = pos_cache.get(r)
                if ent is None:
                    ent = pos_cache[r] = _decode_block_positions(
                        pc_col[r], pv_col[r], n_col[r])
                offs, vals = ent
                b = int(ibs[li])
                p = vals[offs[b]:offs[b + 1]]
                if p.size:
                    parts.append((np.int64(li) << np.int64(32)) + p)
            if not parts:
                return np.empty(0, dtype=np.int64)
            return np.sort(np.concatenate(parts))

        chunk = (C.size if not prune
                 else (verify_chunk or max(4 * k, 64)))
        matched_docs: list[np.ndarray] = []
        matched_scores: list[np.ndarray] = []
        n_matched = 0
        pos0 = 0
        base_mask = np.int64(-1) << np.int64(32)
        while pos0 < vorder.size:
            ci = vorder[pos0:pos0 + chunk]
            cur = keys_for(words[0], ci)
            for wd in words[1:]:
                if cur.size == 0:
                    break
                x = keys_for(wd, ci)
                if x.size == 0:
                    cur = x
                    break
                lo_val = np.maximum(x - slop, x & base_mask)
                lo = np.searchsorted(cur, lo_val, side="left")
                hi = np.searchsorted(cur, x - 1, side="right")
                cur = x[hi > lo]
            if cur.size:
                loc = np.unique(cur >> np.int64(32))
                hit = ci[loc]
                matched_docs.append(C[hit])
                matched_scores.append(score[hit])
                n_matched += loc.size
            pos0 += chunk
            if prune and n_matched >= k and pos0 < vorder.size:
                kth = np.concatenate(matched_scores)[k - 1]
                # verify order == final (score desc, doc asc) order: an
                # unverified candidate with score == kth has a LARGER
                # doc_id than the k-th match, so it cannot enter the top-k
                if score[vorder[pos0]] <= kth:
                    break
        if not matched_docs:
            return _empty()
        return _head_k(np.concatenate(matched_docs),
                       np.concatenate(matched_scores), k)

    return run


def wand_phrase_topk(
    ix: SegmentedIndex,
    fieldname: str,
    words: list[str],
    k: int = 10,
    slop: int = 1,
    prune: bool = True,
    weighting: BM25F | None = None,
    shard_docs: int | str | None = "auto",
    verify_chunk: int | None = None,
) -> DataFrame:
    """Pruned phrase top-k (doc_id, score) over the physical block store —
    the scale path for positional queries.

    The executor's phrase plan (executor._c_phrase, mirroring the
    reference's positional.py::Phrase -> SpanNear2 chain) inner-joins the
    FULL posting lists of every word and runs the position chain on every
    co-occurring doc; for a phrase of common words at corpus scale that
    decodes positions for millions of docs that can never reach the top-k.
    This kernel keeps the exact same semantics (results are bit-identical,
    pinned in tests/test_phrase_wand.py) but bounds the work three ways:
    block-range candidate skipping (only blocks of the non-rarest words
    that can contain a surviving candidate are decoded — the vectorized
    form of the reference matcher's skip_to), conjunction-score bounds
    (the phrase score is exactly the And score, so candidates are
    position-verified in score order and verification STOPS once the k-th
    best verified match dominates every remaining candidate), and lazy
    per-block position decode (position payloads — the bulk of a
    positional index — are only varint-decoded for blocks the verify
    frontier actually touches).

    Plan shape: the kernel input with positions kept (module docstring) ->
    per-group kernel -> global orderBy(score desc, doc_id asc).limit(k).
    Fields indexed without positions (phrase=False) return no matches,
    same as the executor's null-positions semantics.
    """
    inp = _kernel_input(ix, fieldname, weighting, list(dict.fromkeys(words)),
                        shard_docs, positions=True)
    if not words:
        return ix.spark.createDataFrame([], "doc_id long, score double")
    fn = make_segment_phrase_wand(words, inp.n, inp.avgdl, inp.B, inp.K1, k,
                                  int(slop), prune, shard_docs=inp.shard_docs,
                                  verify_chunk=verify_chunk)
    local = inp.data.groupBy(*inp.group_cols).applyInPandas(fn, "doc_id long, score double")
    return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def wand_topk_many(
    ix: SegmentedIndex,
    fieldname: str,
    queries: "dict[int, list[str]]",
    k: int = 10,
    mode: "str | dict[int, str]" = "or",
    prune: bool = True,
    seed_blocks: int = 16,
    weighting: BM25F | None = None,
    shard_docs: int | str | None = "auto",
    doc_range: tuple | None = None,
) -> DataFrame:
    """Batched WAND: an entire query SET as ONE Spark action, returning
    (query_id, doc_id, score) with per-query top-k.

    This is the reference-query-set evaluation pattern (the north rule
    grades rank-identity over a query set, and offline eval / relevance
    sweeps at 100 TB run thousands of queries against one index): serial
    per-query execution pays a ~0.8 s/query driver-orchestration floor
    that neither grows with data nor shrinks with cores (BENCH.md
    "Query-side scaling"); batching amortizes it across the whole set —
    one scan pruned to the UNION of all query terms, one shuffle, one
    kernel wave, one collect.

    Plan shape: the batch path's kernel input (module docstring: a shared
    term's rows and the delete markers replicate per query; queries are
    independent top-k problems sharing the scan, not the kernel) ->
    the SAME single-query kernel per (query_id, segment_id[, shard]) group
    (make_segment_wand, bit-identical scores by construction) -> per-query
    window top-k. Per-query results are EXACTLY wand_topk's (pinned in
    tests/test_segments.py)."""
    if not queries:
        return ix.spark.createDataFrame(
            [], "query_id long, doc_id long, score double")
    queries = {int(q): list(dict.fromkeys(ts)) for q, ts in queries.items()}
    # ``mode`` may be per-query (dict) — Searcher.search_many batches a
    # heterogeneous set (Or/And/DisMax) through one call
    modes = (
        {q: mode.get(q, "or") for q in queries}
        if isinstance(mode, dict)
        else {q: mode for q in queries}
    )
    all_terms = sorted({t for ts in queries.values() for t in ts})
    inp = _kernel_input(ix, fieldname, weighting, all_terms, shard_docs,
                        doc_range, queries=queries)
    kernels = {
        q: make_segment_wand(ts, inp.n, inp.avgdl, inp.B, inp.K1, k, modes[q],
                             prune, seed_blocks, shard_docs=inp.shard_docs,
                             doc_range=doc_range)
        for q, ts in queries.items()
    }

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["_qid"].iloc[0])
        out = kernels[qid](pdf)
        out.insert(0, "query_id", np.int64(qid))
        return out

    local = inp.data.groupBy(*inp.group_cols).applyInPandas(
        run, "query_id long, doc_id long, score double")
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("query_id").orderBy(F.desc("score"),
                                               F.asc("doc_id")))
    return (local.withColumn("_rn", rn).where(F.col("_rn") <= k)
            .drop("_rn").orderBy("query_id", F.desc("score"), F.asc("doc_id")))
