"""Physical index: doc-sharded segments of packed, block-compressed postings.

Spark-first re-expression of the reference's segment codec
(src/whoosh/codec/whoosh3.py::W3Codec / W3FieldWriter / W3Block ~L700:
<=128 postings per block, delta+varint doc ids, per-block max-weight and
min/max-length metadata = block-max WAND skip data; src/whoosh/codec/
base.py::Segment = immutable doc shard; src/whoosh/index.py::TOC =
generation manifest):

- A **segment is a doc_id range shard** (exactly Whoosh's segment = docs
  added between commits, and the MpWriter sub-segment model,
  src/whoosh/multiproc.py::MpWriter ~L150). Queries run per-segment in
  parallel and merge — MultiMatcher with docnum offsets, for free.
- A segment is built by ONE task (one per BUILD_DOC_CHUNK range of a
  larger segment) in ONE mapInArrow pass over its doc range: analyze each
  docs batch, keep only the postings arrays, then invert in-task — sort
  by (field, term, doc_id) in numpy/Arrow — and pack into block rows.
  There is no term shuffle: postings never become Spark rows. Blocks hold
  doc ids delta+LEB128-varint encoded (PFOR spirit), weights float32,
  lengths as uint16 of the byte-quantized value, positions as plain
  varints with uint16 counts. Per-block metadata (max_weight, min_dl,
  min/max doc) feeds block-max WAND pruning (search/wand.py) and lets the
  reader skip whole blocks without decoding.
- The block table is written as Parquet partitioned by segment_id; files
  are sorted by (field, term), so Parquet row-group min/max statistics give
  term-range pruning on read (the analogue of the reference's ordered term
  dictionary seek, src/whoosh/filedb/filetables.py::OrderedHashWriter).
  On a production cluster this table is the Iceberg `postings` table — the
  layout and the manifest below are Iceberg-snapshot-shaped on purpose.
- **Checkpoint/resume + lineage** (north rule): each segment commits
  atomically — blocks parquet, then a JSON manifest row
  `_manifest/seg_<id>.json` with doc range, counts, wall time and lineage;
  the global term stats and the TOC follow in :func:`_finalize`. The
  counts are observed during the block write (like the reference's
  SegmentWriter, which tallies docs, postings and terms as it writes,
  src/whoosh/writing.py::SegmentWriter.commit ~L800): no job reads a
  segment back to count it. A re-run of build_segments() skips committed
  segments (the reference's TOC generation swap, made per-partition).
- Every read of engine-written Parquet (blocks, term stats, id sets)
  passes its known schema, so opening an index runs no schema-inference
  job.

At 100 TB: doc chunks bound the memory of any build task and the skew of
any single (field, term) group — a term's postings in one task can't
exceed BUILD_DOC_CHUNK; cross-segment merge (merge_segments) re-shards hot
terms by block group (salted) instead of by bare term for the same reason.
"""

from __future__ import annotations

import json
import math
import os
import time
from dataclasses import dataclass, field as dc_field
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from whoosh_spark import __version__ as _code_version
from whoosh_spark.fields import Schema
from whoosh_spark.indexing.build import (
    POSTINGS_SCHEMA,
    InvertedIndex,
    _postings_producer,
    _postings_source,
    pairs_filter,
)
from whoosh_spark.util import (
    segmented_cumsum,
    varint_decode,
    varint_encode_lengths,
)

BLOCK_SIZE = 128  # reference parity: codec blocklimit (SURVEY A.8)

# Segment id namespaces. Batch builds use [0, n_segments); streamed
# micro-batches use STREAM_BASE + batch_id (streaming/incremental.py);
# merge results use MERGED_BASE + counter. The namespaces are disjoint so a
# merged segment can NEVER occupy the id a future micro-batch will compute
# — with a shared namespace, merging streamed segments {base..base+k}
# committed id base+k+1, exactly batch k+1's id, and append_batch then
# silently dropped that batch as "already replayed".
STREAM_BASE = 1_000_000
MERGED_BASE = 2_000_000_000

# A segment inverts in one task per floor(doc_id / BUILD_DOC_CHUNK) range:
# the task holds its range's postings in memory, so the chunk bounds task
# memory and any (field, term) group at BUILD_DOC_CHUNK postings, while
# keeping blocks doc-clustered (chunks are contiguous doc ranges). A term
# that spans chunks restarts its blocks at each boundary; segments inside
# one chunk produce one block run per term. Cross-chunk block ranges of one
# term may overlap after this split — the WAND refine bound and all readers
# tolerate that (see search/wand.py).
# Sized from the build task's Python worker peak RSS on transcript turns
# (~16 postings each, 4-CPU host): 0.8–1.0 GB with 80k docs in one task,
# 1.2–1.3 GB with 320k, 1.1–1.25 GB with 1 << 18; 1 << 20 extrapolates to
# 2–3 GB. Smaller chunks also mean more build tasks per segment, and one
# more partial block per term at each chunk boundary.
BUILD_DOC_CHUNK = 1 << 18

BLOCKS_SCHEMA = T.StructType(
    [
        T.StructField("field", T.StringType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("n", T.IntegerType(), False),
        T.StructField("min_doc", T.LongType(), False),
        T.StructField("max_doc", T.LongType(), False),
        T.StructField("max_weight", T.FloatType(), False),
        T.StructField("min_dl", T.IntegerType(), False),
        T.StructField("weight_sum", T.DoubleType(), False),
        T.StructField("doc_deltas", T.BinaryType(), False),
        T.StructField("weights", T.BinaryType(), False),
        T.StructField("dls", T.BinaryType(), False),
        T.StructField("pos_counts", T.BinaryType(), True),
        T.StructField("pos_vals", T.BinaryType(), True),
    ]
)
# block rows read back with their partition column (see _segment_blocks)
SEGMENT_BLOCKS_SCHEMA = T.StructType(
    BLOCKS_SCHEMA.fields + [T.StructField("segment_id", T.IntegerType())])
# one row per (field, term) of a term-stats layer (see _stats_agg)
STATS_SCHEMA = T.StructType(
    [T.StructField(n, t) for n, t in (
        ("field", T.StringType()), ("term", T.StringType()),
        ("df", T.LongType()), ("total_weight", T.DoubleType()),
        ("max_weight", T.DoubleType()), ("min_doc", T.LongType()),
        ("max_doc", T.LongType()))])


# ---------------------------------------------------------------- packing


def _binary_column(data: bytes, offsets: np.ndarray,
                   valid: np.ndarray | None = None) -> "pa.Array":
    """Binary array whose i-th value is ``data[offsets[i]:offsets[i+1]]``
    (NULL where ``valid`` is False; those slices must be empty), built
    from the buffers without copying."""
    import pyarrow as pa

    n = offsets.size - 1
    bitmap = None
    if valid is not None:
        bitmap = pa.py_buffer(np.packbits(valid, bitorder="little").tobytes())
    return pa.Array.from_buffers(
        pa.binary(), n,
        [bitmap, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(data)],
        null_count=-1 if valid is None else int(n - valid.sum()))


def _pack_partition(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
    """Pack one sorted postings partition into block rows, vectorized.

    Input: postings sorted by (field, term, doc_id) within the partition.
    A term may span partitions (one doc chunk per build task, see
    BUILD_DOC_CHUNK; salt groups in a merge), which only yields an extra
    partial block per boundary, never wrong data. Nothing loops per block
    or per posting in Python: every encode runs once over the whole
    partition and each binary column is sliced from one buffer.
    """
    import pyarrow as pa

    tables = [pa.Table.from_batches([b]) for b in batches]
    if not tables:
        return
    tbl = pa.concat_tables(tables).combine_chunks()
    if tbl.num_rows == 0:
        return
    field_arr = np.asarray(tbl.column("field").to_pandas(), dtype=object)
    term_arr = np.asarray(tbl.column("term").to_pandas(), dtype=object)
    doc = tbl.column("doc_id").to_numpy(zero_copy_only=False).astype(np.int64)
    weight = tbl.column("weight").to_numpy(zero_copy_only=False)
    dl = tbl.column("dl").to_pandas().fillna(0).to_numpy(dtype=np.int64)
    pos_col = tbl.column("positions").chunk(0) if tbl.column("positions").num_chunks else None
    n_rows = doc.size

    # group (= field, term run) boundaries; input is sorted so runs are contiguous
    change = np.concatenate(
        ([True], (term_arr[1:] != term_arr[:-1]) | (field_arr[1:] != field_arr[:-1]))
    )
    group_starts = np.flatnonzero(change)
    group_sizes = np.diff(np.concatenate((group_starts, [n_rows])))
    idx_in_group = np.arange(n_rows) - np.repeat(group_starts, group_sizes)
    block_no = idx_in_group // BLOCK_SIZE
    blk_change = change | np.concatenate(([False], block_no[1:] != block_no[:-1]))
    blk_starts = np.flatnonzero(blk_change)
    blk_ends = np.concatenate((blk_starts[1:], [n_rows]))
    nb = blk_starts.size

    # doc id deltas, absolute at block starts; ONE varint pass for everything
    deltas = np.empty_like(doc)
    deltas[0] = doc[0]
    np.subtract(doc[1:], doc[:-1], out=deltas[1:])
    deltas[blk_starts] = doc[blk_starts]
    dbuf, dlens = varint_encode_lengths(deltas)
    dbyte_off = np.concatenate(([0], np.cumsum(dlens)))

    w32 = weight.astype(np.float32)
    dl16 = np.minimum(dl, 65535).astype(np.uint16)

    # positions: flat plain varints + uint16 counts (phrase fields only)
    has_pos = pos_col is not None and pos_col.null_count < n_rows
    if has_pos:
        flat_vals = np.asarray(pos_col.flatten().to_numpy(zero_copy_only=False), dtype=np.int64)
        # per-posting counts (null -> 0)
        offs = pos_col.offsets.to_numpy(zero_copy_only=False)
        counts = np.diff(offs)
        valid = pos_col.is_valid().to_numpy(zero_copy_only=False)
        counts = np.where(valid, counts, 0).astype(np.int64)
        pbuf, plens = varint_encode_lengths(flat_vals)
        # per-posting byte length of its positions
        p_off_per_post = np.concatenate(([0], np.cumsum(counts)))
        plen_cum = np.concatenate(([0], np.cumsum(plens)))
        post_pbytes_off = plen_cum[p_off_per_post]
        cnt16 = counts.astype(np.uint16)

    # per-block reductions
    maxw = np.maximum.reduceat(w32, blk_starts).astype(np.float32)
    mindl = np.minimum.reduceat(dl16.astype(np.int64), blk_starts)
    wsum = np.add.reduceat(weight, blk_starts)

    # every binary column is ONE buffer + per-block offsets, built
    # zero-copy — no per-block Python bytes objects
    bounds = np.append(blk_starts, n_rows)
    doc_deltas_col = _binary_column(dbuf, dbyte_off[bounds])
    weights_col = _binary_column(w32.tobytes(), 4 * bounds)
    dls_col = _binary_column(dl16.tobytes(), 2 * bounds)
    if has_pos:
        # non-positional (ID/KEYWORD) blocks store no position payload
        blk_has = np.add.reduceat(counts, blk_starts) > 0
        blk_n = blk_ends - blk_starts
        pos_counts_col = _binary_column(
            cnt16[np.repeat(blk_has, blk_n)].tobytes(),
            np.concatenate(([0], np.cumsum(np.where(blk_has, 2 * blk_n, 0)))),
            blk_has)
        pos_vals_col = _binary_column(pbuf, post_pbytes_off[bounds], blk_has)
    else:
        pos_counts_col = pos_vals_col = pa.nulls(nb, pa.binary())

    yield pa.RecordBatch.from_arrays(
        [
            pa.array(field_arr[blk_starts], type=pa.string()),
            pa.array(term_arr[blk_starts], type=pa.string()),
            pa.array(block_no[blk_starts].astype(np.int32)),
            pa.array((blk_ends - blk_starts).astype(np.int32)),
            pa.array(doc[blk_starts], type=pa.int64()),
            pa.array(doc[blk_ends - 1], type=pa.int64()),
            pa.array(maxw, type=pa.float32()),
            pa.array(mindl.astype(np.int32)),
            pa.array(wsum, type=pa.float64()),
            doc_deltas_col,
            weights_col,
            dls_col,
            pos_counts_col,
            pos_vals_col,
        ],
        names=[f.name for f in BLOCKS_SCHEMA.fields],
    )


def _inverter(schema: Schema):
    """mapInArrow function inverting one doc range into block rows.

    Every docs batch runs through the shared postings producer
    (build._postings_producer — the same rows build_index emits) and only
    the postings arrays are kept; the docs text is dropped batch by batch.
    At the end the range's postings are sorted by (field, term, doc_id)
    and packed by :func:`_pack_partition`, so postings never become Spark
    rows and never cross the Python/JVM boundary — block rows are the
    task's only output, in (field, term, block_id) order.
    """
    produce = _postings_producer(schema)

    def invert(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa
        import pyarrow.compute as pc

        parts = [rb for b in batches if b.num_rows for rb in produce(b)]
        if not parts:
            return
        postings = pa.Table.from_batches(parts)
        del parts
        order = pc.sort_indices(postings, sort_keys=[
            ("field", "ascending"), ("term", "ascending"), ("doc_id", "ascending")])
        # rebind: the unsorted copy is freed before packing starts
        postings = postings.take(order)
        del order
        yield from _pack_partition(iter(postings.to_batches()))

    return invert


def _invert_range(docs: DataFrame, schema: Schema, lo: int, hi: int,
                  doc_chunk: int, doc_id_col: str = "doc_id"
                  ) -> tuple[DataFrame, list[Observation]]:
    """Block rows of the docs with ``lo <= doc_id < hi``: one task per
    BUILD_DOC_CHUNK-aligned piece of the range, each scanning its piece
    (the range filter pushes into the docs scan) and inverting it in ONE
    Python pass (:func:`_inverter`). No exchange anywhere — a segment is a
    doc-range shard, so there is nothing to shuffle by term. Also returns
    one Observation per piece counting its docs (``n_docs``), filled by
    whichever action runs the frame."""
    from functools import reduce

    src = _postings_source(docs, schema, doc_id_col)
    invert = _inverter(schema)
    pieces, doc_obs = [], []
    for a, b in _chunk_ranges(lo, hi, doc_chunk):
        doc_obs.append(Observation())
        pieces.append(
            src.where((F.col("doc_id") >= a) & (F.col("doc_id") < b))
            .observe(doc_obs[-1], F.count(F.lit(1)).alias("n_docs"))
            .coalesce(1)
            .mapInArrow(invert, BLOCKS_SCHEMA))
    return reduce(DataFrame.union, pieces), doc_obs


def _write_segment(docs: DataFrame, schema: Schema, lo: int, hi: int,
                   doc_chunk: int, seg_path: str,
                   doc_id_col: str = "doc_id") -> dict:
    """Invert the docs in ``[lo, hi)`` into the block file at ``seg_path``
    and return the segment's manifest counts (n_docs, n_postings, n_blocks,
    n_terms), observed on the write job itself — the reference's
    SegmentWriter likewise tallies while it writes. Block ids restart at 0
    once per (field, term) in each build task, so ``block_id = 0`` rows
    count the terms exactly when the segment is one task; a segment of
    several doc chunks restarts a term at each chunk and counts its
    distinct terms over the written blocks instead (Spark rejects DISTINCT
    in observed metrics)."""
    blocks, doc_obs = _invert_range(docs, schema, lo, hi, doc_chunk, doc_id_col)
    obs = Observation()
    # each task's blocks come out sorted by (field, term, block_id), so
    # Parquet min/max stats prune term lookups to few row groups
    # (ordered term dict analogue) with no extra sort
    blocks.observe(
        obs,
        F.coalesce(F.sum("n"), F.lit(0)).alias("n_postings"),
        F.count(F.lit(1)).alias("n_blocks"),
        F.count_if(F.col("block_id") == 0).alias("n_terms"),
    ).write.mode("overwrite").parquet(seg_path)
    counts = {"n_docs": sum(o.get["n_docs"] for o in doc_obs), **obs.get}
    if len(doc_obs) > 1:
        counts["n_terms"] = (
            docs.sparkSession.read.schema(BLOCKS_SCHEMA).parquet(seg_path)
            .select(F.count_distinct("field", "term")).first()[0])
    return counts


def _chunk_ranges(lo: int, hi: int, doc_chunk: int) -> list[tuple[int, int]]:
    """``[lo, hi)`` cut at multiples of ``doc_chunk`` (at least one piece,
    possibly empty): the doc ranges of a segment's build tasks."""
    return [(max(lo, c * doc_chunk), min(hi, (c + 1) * doc_chunk))
            for c in range(lo // doc_chunk, max(lo, hi - 1) // doc_chunk + 1)]


# --------------------------------------------------------------- unpacking


def _unpack_partition(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
    """Block rows -> postings rows (POSTINGS_SCHEMA), vectorized.

    All blocks in the batch are decoded in ONE varint pass each for doc ids
    and positions (segmented cumsum restores absolute ids per block).
    """
    import pyarrow as pa

    for batch in batches:
        if batch.num_rows == 0:
            continue
        tbl = batch
        names = {f.name: i for i, f in enumerate(tbl.schema)}

        def col(name):
            return tbl.column(names[name])

        n_per = col("n").to_numpy(zero_copy_only=False).astype(np.int64)
        total = int(n_per.sum())
        if total == 0:
            continue
        post_starts = np.concatenate(([0], np.cumsum(n_per)))[:-1]

        dbuf = b"".join(col("doc_deltas").to_pylist())
        deltas = varint_decode(dbuf)
        doc_ids = segmented_cumsum(deltas, post_starts)

        weights = np.frombuffer(b"".join(col("weights").to_pylist()), dtype=np.float32)
        dls = np.frombuffer(b"".join(col("dls").to_pylist()), dtype=np.uint16).astype(np.int64)

        field_rep = np.repeat(np.asarray(col("field").to_pandas(), dtype=object), n_per)
        term_rep = np.repeat(np.asarray(col("term").to_pandas(), dtype=object), n_per)

        pc = col("pos_counts").to_pylist() if "pos_counts" in names else []
        if any(c is not None for c in pc):
            cbuf = b"".join(
                c if c is not None else b"\x00\x00" * int(n)
                for c, n in zip(pc, n_per)
            )
            counts = np.frombuffer(cbuf, dtype=np.uint16).astype(np.int64)
            pos_vals = varint_decode(b"".join(v for v in col("pos_vals").to_pylist() if v))
            pos_offs = np.concatenate(([0], np.cumsum(counts))).astype(np.int32)
            positions = pa.ListArray.from_arrays(
                pa.array(pos_offs),
                pa.array(pos_vals.astype(np.int32)),
                mask=pa.array(counts == 0),  # ID/KEYWORD postings: null, not []
            )
        else:
            positions = pa.nulls(total, pa.list_(pa.int32()))

        yield pa.RecordBatch.from_arrays(
            [
                pa.array(field_rep, type=pa.string()),
                pa.array(term_rep, type=pa.string()),
                pa.array(doc_ids, type=pa.int64()),
                pa.array(weights.astype(np.float64)),
                positions,
                pa.array(np.where(dls == 0, None, dls), type=pa.int64(), from_pandas=True),
            ],
            names=[f.name for f in POSTINGS_SCHEMA.fields],
        )


# ------------------------------------------------------------ build / write


def _manifest_dir(path: str) -> str:
    return os.path.join(path, "_manifest")


def _commit_json(dst: str, obj: dict) -> None:
    """Write ``obj`` to a tmp file, then rename it over ``dst``: a crash
    leaves the old file or the new one, never a truncated one."""
    tmp = dst + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, dst)


def _commit_manifest(path: str, manifest: dict) -> None:
    _commit_json(os.path.join(_manifest_dir(path),
                              f"seg_{manifest['segment_id']}.json"), manifest)


def _read_manifest(path: str) -> dict[int, dict]:
    out = {}
    mdir = _manifest_dir(path)
    if os.path.isdir(mdir):
        for fn in os.listdir(mdir):
            if fn.startswith("seg_") and fn.endswith(".json"):
                with open(os.path.join(mdir, fn)) as f:
                    m = json.load(f)
                if m.get("status") == "committed":
                    out[m["segment_id"]] = m
    # A crash between merge_segments' TOC swap and its input-manifest
    # cleanup leaves the inputs' manifests on disk; trusting them would
    # resurrect merged-away segments (duplicate postings, double-counted
    # docs). The merge manifest's lineage is authoritative: anything it
    # lists as an input is dead, whether or not its file survived.
    merged_away = {
        int(s)
        for m in out.values()
        for s in m.get("lineage", {}).get("merged_segments", [])
    }
    for s in merged_away:
        out.pop(s, None)
    return out


def build_segments(
    spark: SparkSession,
    docs: DataFrame,
    schema: Schema,
    path: str,
    n_segments: int = 4,
    doc_count: int | None = None,
    doc_id_col: str = "doc_id",
    resume: bool = True,
    doc_chunk: int = BUILD_DOC_CHUNK,
) -> dict:
    """Build (or resume) the physical segmented index at ``path``.

    Returns the manifest dict {segment_id: metadata}. Each segment covers a
    contiguous doc_id range and commits independently — killing the build
    and calling again with ``resume=True`` (default) completes only the
    missing segments (north rule: checkpoint-resumable per partition with
    lineage and term/posting count metrics).

    Build parallelism is one task per segment — or one per ``doc_chunk``
    range of a segment larger than that — like the reference's MpWriter
    sub-writers (src/whoosh/multiproc.py::MpWriter): each task scans its
    doc range, analyzes, inverts and packs it in one Python pass
    (:func:`_invert_range`) and writes its block file; no postings
    shuffle. A build with fewer tasks than cores leaves the other cores
    idle (n_segments=4 with segments under ``doc_chunk`` docs uses 4
    cores); raise ``n_segments`` to match a larger cluster. Segments build
    CONCURRENTLY (one driver thread per pending segment, at most
    ``defaultParallelism``): a serial per-segment loop would put the
    wall-clock floor at n_segments x single-segment time no matter how
    large the cluster is. Each thread still commits its own
    manifest atomically, so resume semantics are unchanged under any
    interleaving of failures.
    """
    os.makedirs(_manifest_dir(path), exist_ok=True)
    done = _read_manifest(path) if resume else {}
    if doc_count is None:
        doc_count = docs.count()
    per_seg = math.ceil(doc_count / n_segments) if doc_count else 1

    # each build thread runs its jobs under the caller's job group and
    # description (its own copy: Spark SQL sets per-thread properties)
    caller_props = spark.sparkContext._jsc.sc().getLocalProperties().clone()

    def _build_one(seg_id: int) -> tuple[int, dict]:
        spark.sparkContext._jsc.sc().setLocalProperties(caller_props.clone())
        lo, hi = seg_id * per_seg, min((seg_id + 1) * per_seg, doc_count)
        t0 = time.perf_counter()
        seg_path = os.path.join(path, "blocks", f"segment_id={seg_id}")
        counts = _write_segment(docs, schema, lo, hi, doc_chunk, seg_path,
                                doc_id_col)
        manifest = {
            "segment_id": seg_id,
            "doc_lo": lo,
            "doc_hi": hi,
            **counts,
            "wall_s": round(time.perf_counter() - t0, 3),
            "lineage": {
                "source": "docs-dataframe",
                "order": [doc_id_col],
                "block_size": BLOCK_SIZE,
                "code_version": _code_version,
                "schema_fields": schema.names(),
            },
            "status": "committed",
        }
        _commit_manifest(path, manifest)
        return seg_id, manifest

    pending = [s for s in range(n_segments) if s not in done]
    if pending:
        from concurrent.futures import ThreadPoolExecutor

        threads = min(len(pending), spark.sparkContext.defaultParallelism)
        with ThreadPoolExecutor(threads) as pool:
            for seg_id, manifest in pool.map(_build_one, pending):
                done[seg_id] = manifest

    _finalize(spark, path, doc_count, sorted(done))
    return done


def _segment_blocks(spark: SparkSession, path: str, segment_ids: list[int]) -> DataFrame:
    """Block rows of the given segments, with the segment_id partition col."""
    base = os.path.join(path, "blocks")
    dirs = [os.path.join(base, f"segment_id={s}") for s in segment_ids]
    return (spark.read.schema(SEGMENT_BLOCKS_SCHEMA)
            .option("basePath", base).parquet(*dirs))


def _stats_dir(path: str, generation: int) -> str:
    """Directory of the term-stats table at ``generation`` (gen 0 keeps the
    historical flat name so pre-generation indexes open unchanged)."""
    name = "terms_global" if generation == 0 else f"terms_global_g{generation}"
    return os.path.join(path, name)


# A publish that would exceed this many stats layers compacts them into one
# (the LSM compaction bound: reads touch ≤ this many sorted runs).
STATS_LAYERS_MAX = 8

def _stats_agg(df: DataFrame) -> DataFrame:
    """Re-fold partial term stats — every column is a decomposable
    aggregate, so folding layer unions is exact."""
    return df.groupBy("field", "term").agg(
        F.sum("df").alias("df"),
        F.sum("total_weight").alias("total_weight"),
        F.max("max_weight").cast("double").alias("max_weight"),
        F.min("min_doc").alias("min_doc"),
        F.max("max_doc").alias("max_doc"),
    )


def _published_stats(path: str) -> tuple[int, list[int], list[str]] | None:
    """(generation, covered segment ids, layer dir names) of the currently
    published term stats, or None if no TOC / no stats ever published."""
    meta_path = os.path.join(path, "_meta.json")
    if not os.path.exists(meta_path):
        return None
    with open(meta_path) as f:
        meta = json.load(f)
    stats = meta.get("stats")
    if stats is None:
        # legacy TOC (pre-generation layout): stats live at the flat dir and
        # cover exactly the TOC's active set
        if os.path.exists(_stats_dir(path, 0)):
            return 0, list(meta.get("active_segments", [])), ["terms_global"]
        return None
    gen = int(stats["generation"])
    layers = list(stats.get("layers")
                  or [os.path.basename(_stats_dir(path, gen))])
    if not all(os.path.exists(os.path.join(path, n)) for n in layers):
        return None  # TOC names a missing stats dir (tampered/partial
    return gen, list(stats["segments"]), layers  # restore): recompute


def read_term_stats(spark: SparkSession, path: str,
                    meta: dict | None = None) -> DataFrame:
    """The published global term stats as one logical table.

    Single layer (batch-built or freshly compacted index): a plain scan of
    the sorted range-bucketed parquet — point/range lookups prune to one
    file's row groups, the plan is identical to the pre-layer layout.
    Multiple layers (streaming appends since the last compaction): the
    union of ≤ STATS_LAYERS_MAX sorted runs re-folded with the decomposable
    aggregate; a point lookup still prunes each run independently, so it
    reads ≤ layers row groups instead of one — the standard LSM read
    amplification, bounded by the compaction threshold."""
    if meta is None:
        with open(os.path.join(path, "_meta.json")) as f:
            meta = json.load(f)
    stats = meta.get("stats")
    if stats is None:
        dirs = [os.path.join(path, "terms_global")]
    else:
        names = stats.get("layers") or [
            os.path.basename(_stats_dir(path, int(stats["generation"])))]
        dirs = [os.path.join(path, n) for n in names]
    df = spark.read.schema(STATS_SCHEMA).parquet(*dirs)
    return _stats_agg(df) if len(dirs) > 1 else df


def _finalize(spark: SparkSession, path: str, doc_count: int,
              active_segments: list[int], lexicon_buckets: int | None = None) -> None:
    """(Re)write global term stats, then atomically publish the TOC.

    The `_meta.json` swap is the commit point (the reference's TOC
    generation swap, src/whoosh/index.py::TOC.write ~L420): readers only
    see `active_segments`, so a crash between publishing a merged segment
    and deleting its inputs leaves garbage files, never duplicate docs.

    Term stats are LSM-LAYERED: when the new active set is a superset of
    the set the published stats cover (the streaming append case — every
    micro-batch adds one segment), the publish writes ONLY the new
    segments' block aggregate as a fresh delta layer — per-batch stats cost
    is O(batch vocabulary), independent of the cold tier's size AND of the
    global lexicon's size (a 10^9-term lexicon is never rewritten per
    micro-batch). Readers fold the ≤ STATS_LAYERS_MAX sorted runs with the
    decomposable aggregate (read_term_stats); a publish that would exceed
    the bound COMPACTS every layer plus the delta into one run — classic
    LSM: O(1) amortized writes, bounded read amplification. Any other
    transition (merge, first build, unknown provenance) recomputes one base
    layer from all active blocks.

    Every layer is written to a FRESH directory and the set is published by
    the atomic `_meta.json` swap — a crash mid-write leaves a garbage dir
    under the old TOC, never a half-written table under the new one (the
    overwrite-in-place of the pre-generation layout had that window).
    Superseded layers are deleted after the swap, same garbage discipline
    as merge_segments' input cleanup.

    Each layer is RANGE-bucketed on (field, term) with a per-file sort —
    every bucket is a disjoint sorted key range, so point/range lookups
    still prune to one file's row groups via Parquet min/max stats (the
    ordered-term-dictionary seek), while the sort itself fans out across
    ``lexicon_buckets`` reducers instead of one global task (a 10^9-term
    lexicon cannot sort on a single reducer).
    """
    if lexicon_buckets is None:
        lexicon_buckets = max(spark.sparkContext.defaultParallelism // 4, 2)

    def _block_stats(segment_ids: list[int]) -> DataFrame:
        return (
            _segment_blocks(spark, path, segment_ids)
            .groupBy("field", "term")
            .agg(
                F.sum("n").alias("df"),
                F.sum("weight_sum").alias("total_weight"),
                F.max("max_weight").cast("double").alias("max_weight"),
                F.min("min_doc").alias("min_doc"),
                F.max("max_doc").alias("max_doc"),
            )
        )

    prev = _published_stats(path)
    active = sorted(active_segments)
    gen = 0 if prev is None else prev[0] + 1
    layers: list[str] = []
    if prev is not None and sorted(prev[1]) == active:
        # stats already cover exactly this set (checkpoint-resume republish,
        # append_batch's crash-window re-finalize of an already-covered TOC)
        gen, layers = prev[0], prev[2]
    elif prev is not None and prev[1] and set(prev[1]) <= set(active):
        delta_ids = sorted(set(active) - set(prev[1]))
        new_dir = _stats_dir(path, gen)
        if len(prev[2]) + 1 > STATS_LAYERS_MAX:
            # compaction: fold every published layer + the delta into ONE
            # sorted run (reads layers + the delta's blocks, never the cold
            # tier's blocks)
            prev_dirs = [os.path.join(path, n) for n in prev[2]]
            stats = _stats_agg(
                spark.read.schema(STATS_SCHEMA).parquet(*prev_dirs).unionByName(
                    _block_stats(delta_ids))
            )
            _write_stats(stats, new_dir, lexicon_buckets)
            layers = [os.path.basename(new_dir)]
        else:
            # delta layer: just the new segments' vocabulary
            _write_stats(_block_stats(delta_ids), new_dir, lexicon_buckets)
            layers = prev[2] + [os.path.basename(new_dir)]
    elif active:
        _write_stats(_block_stats(active), _stats_dir(path, gen),
                     lexicon_buckets)
        layers = [os.path.basename(_stats_dir(path, gen))]
    else:
        gen = None  # empty index: no stats table (matches _finalize_empty)
    meta = {
        "doc_count": doc_count,
        "active_segments": active,
        "block_size": BLOCK_SIZE,
    }
    if gen is not None:
        meta["stats"] = {"generation": gen, "segments": active,
                         "layers": layers}
    _commit_json(os.path.join(path, "_meta.json"), meta)
    # superseded layers are crash-safe garbage once the swap landed
    import shutil

    keep = set(layers)
    for name in os.listdir(path):
        if name.startswith("terms_global") and name not in keep:
            shutil.rmtree(os.path.join(path, name), ignore_errors=True)


def _write_stats(stats: DataFrame, out_dir: str, lexicon_buckets: int) -> None:
    (
        stats.repartitionByRange(lexicon_buckets, "field", "term")
        .sortWithinPartitions("field", "term")
        .write.mode("overwrite")  # overwrite: a crashed attempt at the SAME
        .parquet(out_dir)         # generation retries into the same dir
    )


# ------------------------------------------------------------------- merge


def _coalesce_ranges(ranges: list[list[int]]) -> list[list[int]]:
    """Sort [lo, hi) ranges and merge overlapping/adjacent ones."""
    out: list[list[int]] = []
    for lo, hi in sorted([int(a), int(b)] for a, b in ranges):
        if out and lo <= out[-1][1]:
            out[-1][1] = max(out[-1][1], hi)
        else:
            out.append([lo, hi])
    return out


def merge_segments(
    spark: SparkSession,
    path: str,
    segment_ids: list[int] | None = None,
    hot_term_blocks: int = 64,
    target_blocks_per_salt: int = 256,
    pack_partitions: int | None = None,
) -> dict:
    """Merge segments into one (reference: MERGE_SMALL / OPTIMIZE policies,
    src/whoosh/writing.py::MERGE_SMALL ~L60, SegmentWriter.add_reader ~L680
    — but posting-level: blocks are decoded and repacked, never re-analyzed).

    This is the **salted repartition-by-term with explicit hot-term
    splitting** from the north rule: block rows shuffle on
    (field, term, salt), where salt = 0 for ordinary terms and
    ``hash(min_doc) % ceil(n_blocks / target)`` for terms with more than
    ``hot_term_blocks`` blocks — so a zipfian term whose merged posting
    list exceeds one task's share is split across tasks deterministically
    by doc range, while each salt group still holds doc-monotone blocks
    (segments are doc-ordered shards) and can repack independently. AQE
    skew-join splitting cannot do this: a single group-by key cannot be
    subdivided by the engine, which is why the salt is explicit.

    Doc ids are global, so merge never rewrites them (cheaper than the
    reference, which remaps docnums through add_reader).
    """
    done = _read_manifest(path)
    if segment_ids is None:
        segment_ids = sorted(done)
    if len(segment_ids) < 2:
        return done
    if pack_partitions is None:
        pack_partitions = max(spark.sparkContext.defaultParallelism // 2, 2)
    # merged ids live in their own namespace (see MERGED_BASE note above)
    new_id = max((s for s in done if s >= MERGED_BASE), default=MERGED_BASE - 1) + 1
    # stream batches folded into this merge, carried forward so the
    # streaming sink's idempotency check survives the source manifests
    # being deleted below (keyed on lineage batch_id, not segment id)
    merged_batch_ids = sorted(
        {
            int(done[s]["lineage"]["batch_id"])
            for s in segment_ids
            if done[s]["lineage"].get("source") == "stream-batch"
        }
        | {
            int(b)
            for s in segment_ids
            for b in done[s]["lineage"].get("merged_batch_ids", [])
        }
    )
    t0 = time.perf_counter()

    blocks = _segment_blocks(spark, path, segment_ids)
    # per-term block counts -> hot set + per-term salt fan-out
    tstats = blocks.groupBy("field", "term").agg(F.count("*").alias("_nb"))
    n_salts = F.when(
        F.col("_nb") > hot_term_blocks,
        F.ceil(F.col("_nb") / target_blocks_per_salt).cast("int"),
    ).otherwise(F.lit(1))
    salted = blocks.join(F.broadcast(tstats.withColumn("_ns", n_salts)), ["field", "term"]).withColumn(
        "_salt", F.pmod(F.xxhash64("min_doc"), F.greatest(F.col("_ns"), F.lit(1))).cast("int")
    )
    # Deletes falling inside the merged doc ranges are expunged physically
    # (reference: optimize/add_reader skips deleted docs); others are kept.
    # The delete set stays a DataFrame end-to-end: a broadcast RANGE join
    # attaches each delete id to the blocks whose [min_doc, max_doc] covers
    # it, so the ids travel WITH the block rows through the term shuffle —
    # a mass delete (10^9 ids from a dedup sweep) never lands on the driver.
    del_df = read_deletes(spark, path)
    n_expunged = 0
    dels_in_range: DataFrame | None = None
    # Precise per-segment doc ranges, NOT the envelope: a merged segment's
    # [doc_lo, doc_hi) may span holes belonging to segments outside this
    # merge (subset merges), and expunging a delete id from such a hole
    # would resurrect a deleted doc that still has live postings elsewhere.
    def _seg_ranges(m: dict) -> list[list[int]]:
        return m.get("lineage", {}).get("doc_ranges") or [[m["doc_lo"], m["doc_hi"]]]

    merged_ranges = _coalesce_ranges(
        [r for s in segment_ids for r in _seg_ranges(done[s])]
    )
    if del_df is not None:
        from functools import reduce as _reduce

        in_range_cond = _reduce(
            lambda a, b: a | b,
            [(F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
             for lo, hi in merged_ranges],
        )
        dels_in_range = del_df.where(in_range_cond).persist()
        n_expunged = dels_in_range.count()
        if not n_expunged:
            dels_in_range.unpersist()
    if n_expunged:
        key_cols = ["segment_id", "field", "term", "block_id"]
        # Route each delete id to its source segment first (ranges are
        # disjoint across active segments), then join blocks<->deletes on
        # the segment EQUI key with the doc-range condition as a residual —
        # a shuffled hash/sort-merge join, so a mass delete (10^9 ids from
        # a dedup sweep) never needs either side broadcast.
        seg_route = None
        for s in segment_ids:
            for lo, hi in _seg_ranges(done[s]):
                cond = (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
                seg_route = (F.when(cond, F.lit(s)) if seg_route is None
                             else seg_route.when(cond, F.lit(s)))
        dels_seg = dels_in_range.select(
            seg_route.cast("long").alias("segment_id"),
            F.col("doc_id").alias("_del_doc"),
        )
        bk = salted.select(*key_cols, "min_doc", "max_doc")
        hits = (
            bk.join(
                dels_seg,
                (bk["segment_id"] == dels_seg["segment_id"])
                & (F.col("_del_doc") >= F.col("min_doc"))
                & (F.col("_del_doc") <= F.col("max_doc")),
            )
            .drop(dels_seg["segment_id"])
            .groupBy(*key_cols)
            .agg(F.collect_list("_del_doc").alias("_dels"))
        )
        salted = salted.join(hits, key_cols, "left")
    else:
        salted = salted.withColumn("_dels", F.lit(None).cast("array<long>"))

    def _repack(it):
        import pyarrow as pa

        batches = [b for b in it if b.num_rows]
        if not batches:
            return
        # union of the partition's attached delete ids; filtering every
        # block by the union is correct (deletion is a global per-doc fact)
        flat = [
            np.asarray(
                b.column(b.schema.get_field_index("_dels"))
                .flatten()
                .to_numpy(zero_copy_only=False),
                dtype=np.int64,
            )
            for b in batches
        ]
        cat = np.concatenate(flat) if flat else np.empty(0, dtype=np.int64)
        dels_np = np.unique(cat) if cat.size else None
        keep = [n for n in batches[0].schema.names if n != "_dels"]
        tbl = pa.Table.from_batches(
            list(_unpack_partition(iter(b.select(keep) for b in batches)))
        )
        if tbl.num_rows == 0:
            return
        # The decoded postings MUST be re-sorted by (field, term, doc_id)
        # before repacking: block order alone is NOT doc order once the
        # inputs include a salted hot-term merge output (one term's blocks
        # repacked per salt group -> interleaved doc ranges) or a merged
        # segment (MERGED_BASE id sorts after newer stream ids while
        # holding the LOWEST doc ids). Decoded ids survive an unsorted
        # pack (signed varint deltas round-trip), but the per-block
        # min_doc/max_doc headers are first/last-of-block and go wrong —
        # breaking WAND's refine bound and the merge delete range-join.
        # The partition is already materialized for the delete union
        # above, so the sort adds no extra memory tier.
        tbl = tbl.sort_by(
            [("field", "ascending"), ("term", "ascending"), ("doc_id", "ascending")]
        )
        inner = iter(tbl.to_batches(max_chunksize=65536))
        if dels_np is None:
            yield from _pack_partition(inner)
            return

        def filtered():
            for b in inner:
                doc = b.column(b.schema.get_field_index("doc_id")).to_numpy(
                    zero_copy_only=False
                )
                live = ~np.isin(doc, dels_np)
                if live.all():
                    yield b
                elif live.any():
                    yield b.filter(pa.array(live))

        yield from _pack_partition(filtered())

    merged = (
        salted.repartition(pack_partitions, "field", "term", "_salt")
        # min_doc (not segment_id) approximates doc order for the repack's
        # streaming decode; the authoritative (field, term, doc_id) sort
        # happens on the decoded postings inside _repack
        .sortWithinPartitions("field", "term", "min_doc", "block_id")
        .drop("_nb", "_ns", "_salt", "segment_id")
        .mapInArrow(_repack, BLOCKS_SCHEMA)
    )
    seg_path = os.path.join(path, "blocks", f"segment_id={new_id}")
    merged.sortWithinPartitions("field", "term", "block_id").write.mode(
        "overwrite"
    ).parquet(seg_path)

    new_blocks = spark.read.schema(BLOCKS_SCHEMA).parquet(seg_path)
    stats = new_blocks.agg(
        F.sum("n").alias("n_postings"),
        F.count("*").alias("n_blocks"),
        F.count_distinct("field", "term").alias("n_terms"),
    ).collect()[0]
    manifest = {
        "segment_id": new_id,
        "doc_lo": min(done[s]["doc_lo"] for s in segment_ids),
        "doc_hi": max(done[s]["doc_hi"] for s in segment_ids),
        # expunging a doc removes it from n_docs and doc_count (Whoosh
        # optimize semantics: stats recomputed from the rewritten segments)
        "n_docs": sum(done[s]["n_docs"] for s in segment_ids) - n_expunged,
        "n_postings": int(stats["n_postings"] or 0),
        "n_blocks": int(stats["n_blocks"] or 0),
        "n_terms": int(stats["n_terms"] or 0),
        "wall_s": round(time.perf_counter() - t0, 3),
        "lineage": {
            "source": "merge",
            "merged_segments": segment_ids,
            "merged_batch_ids": merged_batch_ids,
            "doc_ranges": merged_ranges,
            "hot_term_blocks": hot_term_blocks,
            "block_size": BLOCK_SIZE,
            "code_version": _code_version,
        },
        "status": "committed",
    }
    _commit_manifest(path, manifest)
    done[new_id] = manifest
    with open(os.path.join(path, "_meta.json")) as f:
        doc_count = json.load(f)["doc_count"] - n_expunged
    if n_expunged:
        # Expunged ids become TOMBSTONES: their postings are physically gone
        # from the new segment, but the stored docs table (external to the
        # index dir) still holds their rows, so live_docs()/Every/Not must
        # keep masking them. Written BEFORE the TOC swap — under the old TOC
        # the same ids are still in the delete set, so double-masking is
        # harmless, and under the new TOC the tombstones are required.
        existing_tomb = read_tombstones(spark, path)
        all_tomb = (
            dels_in_range
            if existing_tomb is None
            else existing_tomb.unionByName(dels_in_range).distinct()
        )
        _write_id_set(spark, _tombstones_path(path), all_tomb)
    # TOC swap = the commit point; everything after is crash-safe garbage
    active = [s for s in done if s not in segment_ids]
    _finalize(spark, path, doc_count, active)
    # Expunged ids leave the delete set AFTER the swap: a crash in between
    # re-masks already-expunged ids under the new TOC (harmless); rewriting
    # the set before the swap would UNMASK them under the old TOC (wrong).
    if n_expunged:
        _write_id_set(spark, _deletes_path(path), del_df.where(~in_range_cond))
        dels_in_range.unpersist()
    import shutil

    for s in segment_ids:
        os.remove(os.path.join(_manifest_dir(path), f"seg_{s}.json"))
        shutil.rmtree(os.path.join(path, "blocks", f"segment_id={s}"), ignore_errors=True)
        done.pop(s)
    return done


# ------------------------------------------------------------------ reader


@dataclass
class SegmentedIndex(InvertedIndex):
    """InvertedIndex over the physical block store.

    ``postings`` is the full unpack view (used by stats queries); point
    lookups go through :meth:`term_postings`, which filters the BLOCK rows
    first — the term predicate is pushed into the Parquet scan (row-group
    min/max pruning on the sorted term column) and only matching blocks are
    decoded. mapInArrow is a pushdown barrier, so filtering after unpacking
    would decode the whole index per query.
    """

    path: str = ""
    blocks: DataFrame | None = None
    manifest: dict = dc_field(default_factory=dict)
    deleted: DataFrame | None = None  # (doc_id) rows; None = nothing deleted
    # ids expunged from postings by a merge but still rows in the external
    # docs table; masked by live_docs() (postings no longer contain them)
    tombstones: DataFrame | None = None
    _ranges_df: DataFrame | None = dc_field(default=None, repr=False)

    def _unpack(self, blocks: DataFrame, positions: bool = True) -> DataFrame:
        if not positions:
            # drop the position binaries BEFORE the scan: Parquet column
            # pruning then never reads them — positions are the bulk of the
            # index bytes and only Phrase/span queries need them
            blocks = blocks.drop("pos_counts", "pos_vals")
        out = blocks.mapInArrow(_unpack_partition, POSTINGS_SCHEMA)
        return self._mask_deleted(out)

    def doc_range_for(self, predicate) -> tuple[int, int] | None:
        """Smallest ``[lo, hi)`` docnum range covering every doc matching
        ``predicate`` (a Column over the external docs table) — the
        translation step for doc-subset WAND: e.g.
        ``wand_topk(ix, ..., doc_range=ix.doc_range_for(F.col("ts") <
        cutoff))``. One min/max agg over the column-pruned docs scan;
        None when nothing matches. The range is COVERING, not exact —
        tight when docnum order correlates with the predicate column
        (ts, conv_id: true by construction for the (conv_id, turn_idx)
        add order), merely loose-but-correct otherwise (WAND still
        scores only real matches of the query; the range is a prune
        hint, docs inside it that fail ``predicate`` are NOT excluded —
        compose with a FilterCollector for exact predicate semantics).
        """
        row = (
            self.docs.where(predicate)
            .agg(F.min(self.doc_id_col), F.max(self.doc_id_col))
            .first()
        )
        if row is None or row[0] is None:
            return None
        return int(row[0]), int(row[1]) + 1

    @property
    def field_totals(self) -> dict[str, float]:
        """Exact totals from BLOCK metadata (weight_sum), NOT the masked
        postings view: Whoosh keeps field_length_total unchanged under
        deletion (totals drop only when a merge rewrites the postings),
        and reading per-block sums avoids decoding anything.

        Atomic publication under ``_stats_lock`` (same discipline as the
        base class): the TA route's concurrent child kernels hit this cold
        — a half-built dict reads as avgdl == 0.0 and zeroes one thread's
        BM25 scores (the round-4 sf1 regression)."""
        if self._field_totals is None:
            with self._stats_lock:
                if self._field_totals is None:
                    totals: dict[str, float] = {}
                    plain = [fs.name for fs in self.schema.text_fields()
                             if fs.analyzer.delimited_boost is None]
                    if plain:
                        rows = (
                            self.blocks.where(F.col("field").isin(plain))
                            .groupBy("field")
                            .agg(F.sum("weight_sum").alias("total_len"))
                            .collect()
                        )
                        for r in rows:
                            # weight_sum carries field_boost; totals are raw token counts
                            boost = float(self.schema[r["field"]].field_boost)
                            totals[r["field"]] = float(r["total_len"]) / (boost or 1.0)
                    for fs in self.schema.text_fields():
                        # delimited per-token boosts contaminate weight_sum —
                        # recount exact token totals from the stored docs
                        # (minus tombstones), see InvertedIndex._exact_token_total
                        if fs.analyzer.delimited_boost is not None:
                            totals[fs.name] = self._exact_token_total(fs)
                    self._field_totals = totals
        return self._field_totals

    def _mask_deleted(self, df: DataFrame) -> DataFrame:
        """Whoosh deletion semantics (reading.py::SegmentReader.is_deleted
        ~L300): deletions are a lazy doc-id set filtered at read time;
        doc_count_all (and therefore idf) still counts deleted docs. The
        delete set is tiny relative to postings -> broadcast anti-join."""
        if self.deleted is None:
            return df
        return df.join(F.broadcast(self.deleted), "doc_id", "left_anti")

    def live_docs(self) -> DataFrame:
        out = self._mask_deleted(super().live_docs())
        if self.tombstones is not None:
            out = out.join(F.broadcast(self.tombstones), "doc_id", "left_anti")
        return out

    def seg_ranges(self) -> DataFrame:
        """(segment_id, doc_lo, doc_hi) of the active segments — a
        manifest-sized frame, cached; used to route per-doc side data
        (e.g. delete ids) to the segment task that owns the doc range."""
        if self._ranges_df is None:
            rows = [
                (int(sid), int(m["doc_lo"]), int(m["doc_hi"]))
                for sid, m in sorted(self.manifest.items())
            ]
            self._ranges_df = self.spark.createDataFrame(
                rows, "segment_id int, doc_lo long, doc_hi long"
            )
        return self._ranges_df

    def term_postings(self, fieldname: str, term: str,
                      positions: bool = False) -> DataFrame:
        return self._unpack(
            self.blocks.where((F.col("field") == fieldname) & (F.col("term") == term)),
            positions=positions,
        )

    def terms_postings(self, fieldname: str, terms: list[str],
                       positions: bool = False) -> DataFrame:
        return self._unpack(
            self.blocks.where((F.col("field") == fieldname) & F.col("term").isin(list(terms))),
            positions=positions,
        )

    def pairs_postings(self, pairs: list[tuple[str, str]]) -> DataFrame:
        return self._unpack(self.blocks.where(pairs_filter(pairs)))

    def terms_df_postings(self, fieldname: str, terms_df: DataFrame) -> DataFrame:
        """Distributed pairs_postings (see InvertedIndex.terms_df_postings):
        the term set joins against the packed BLOCK rows BEFORE decode —
        only blocks whose term is in the batch are unpacked, and the batch
        values never pass through the driver."""
        return self._unpack(
            self.blocks.where(F.col("field") == fieldname).join(
                F.broadcast(terms_df.select("term").distinct()), "term"
            ),
            positions=False,
        )

    def vector(self, doc_id: int, field_name: str) -> DataFrame:
        """Forward-index read over the block store: prune BLOCK rows by the
        per-block doc-id range (min_doc/max_doc header metadata, SURVEY D7)
        before decoding — at most one block per term survives, so a
        single-doc vector never decodes the index. Mirrors the reference's
        skip-pointer seek (codec W3LeafMatcher.skip_to) applied to a docnum
        instead of a quality bound."""
        pruned = self.blocks.where(
            (F.col("field") == field_name)
            & (F.col("min_doc") <= doc_id)
            & (F.col("max_doc") >= doc_id)
        )
        return (
            self._unpack(pruned, positions=False)
            .where(F.col("doc_id") == doc_id)
            .select("term", "weight")
            .orderBy("term")
        )

# -------------------------------------------------------------- deletions


def _deletes_path(path: str) -> str:
    return os.path.join(path, "_deletes")


def _tombstones_path(path: str) -> str:
    return os.path.join(path, "_tombstones")


def _read_id_set(spark: SparkSession, p: str) -> DataFrame | None:
    def ok(d):
        return os.path.isdir(d) and any(f.endswith(".parquet") for f in os.listdir(d))

    if ok(p):
        return spark.read.schema("doc_id long").parquet(p)
    if ok(p + ".old"):
        # crash landed mid-swap in _write_id_set: the pre-write set is the
        # committed one
        return spark.read.schema("doc_id long").parquet(p + ".old")
    return None


def read_deletes(spark: SparkSession, path: str) -> DataFrame | None:
    return _read_id_set(spark, _deletes_path(path))


def read_tombstones(spark: SparkSession, path: str) -> DataFrame | None:
    """Ids expunged from postings by a merge but still present in the
    (external) stored docs table — masked by live_docs() forever."""
    return _read_id_set(spark, _tombstones_path(path))


def _write_id_set(spark: SparkSession, dir_path: str, df: DataFrame) -> int:
    """Atomically (re)write a doc-id set directory from a DataFrame.

    The input may derive from the CURRENT directory contents, so the new
    files land in a tmp dir first, then swap. An empty set removes the
    directory. The set never touches the driver — only its count does.
    """
    df = df.select(F.col("doc_id").cast("long").alias("doc_id")).persist()
    n = df.count()
    tmp = dir_path + ".tmp"
    if n:
        df.coalesce(max(1, min(200, n // 5_000_000 + 1))).write.mode(
            "overwrite"
        ).parquet(tmp)
    df.unpersist()
    import shutil as _sh

    # two renames, never a window with NO directory on disk: a crash
    # between them leaves ".old", which the reader falls back to (the set
    # it held is the pre-write one — correct, the write never committed)
    old = dir_path + ".old"
    _sh.rmtree(old, ignore_errors=True)
    if os.path.isdir(dir_path):
        os.replace(dir_path, old)
    if n:
        os.replace(tmp, dir_path)
    _sh.rmtree(old, ignore_errors=True)
    return n


def delete_docs(spark: SparkSession, path: str,
                doc_ids: "list[int] | DataFrame") -> int:
    """Mark doc ids deleted (reference: IndexWriter.delete_document —
    lazy set, applied at read; expunged physically by merge_segments).
    Accepts a Python list (small, driver-originated deletes) or a
    DataFrame with a doc_id column (mass deletes, e.g. a dedup sweep —
    stays distributed). Returns the delete-set size after the union."""
    existing = read_deletes(spark, path)
    if isinstance(doc_ids, DataFrame):
        if "doc_id" in doc_ids.columns:
            col = "doc_id"
        elif len(doc_ids.columns) == 1:
            col = doc_ids.columns[0]  # single unnamed id column is unambiguous
        else:
            raise ValueError(
                f"delete_docs needs a doc_id column; got {doc_ids.columns}"
            )
        new = doc_ids.select(F.col(col).cast("long").alias("doc_id"))
    else:
        from whoosh_spark.util import inline_rows

        new = inline_rows(spark, [(int(i),) for i in doc_ids], "doc_id long")
    allDel = new if existing is None else existing.unionByName(new)
    return _write_id_set(spark, _deletes_path(path), allDel.distinct())


def delete_by_term(spark: SparkSession, ix: "SegmentedIndex", fieldname: str,
                   term: str) -> int:
    """delete_by_term(field, text) (reference: writing.py::IndexWriter
    .delete_by_term ~L480): resolve matching doc ids into the delete set.
    The matching ids flow as a DataFrame (term-pruned block scan -> id
    column), never through the driver."""
    ids = ix.term_postings(fieldname, term).select("doc_id")
    if not ids.take(1):
        return 0
    return delete_docs(spark, ix.path, ids)


def open_segments(
    spark: SparkSession,
    path: str,
    docs: DataFrame,
    schema: Schema,
    doc_id_col: str = "doc_id",
) -> SegmentedIndex:
    """Open a committed physical index for searching."""
    with open(os.path.join(path, "_meta.json")) as f:
        meta = json.load(f)
    blocks = _segment_blocks(spark, path, meta["active_segments"])
    terms = read_term_stats(spark, path, meta)
    ix = SegmentedIndex(
        spark=spark,
        schema=schema,
        docs=docs,
        postings=None,  # set below (needs self.blocks)
        terms=terms,
        doc_id_col=doc_id_col,
        path=path,
        blocks=blocks,
        manifest=_read_manifest(path),
    )
    ix._doc_count = int(meta["doc_count"])
    ix.deleted = read_deletes(spark, path)
    ix.tombstones = read_tombstones(spark, path)
    ix.postings = ix._unpack(blocks)
    return ix
