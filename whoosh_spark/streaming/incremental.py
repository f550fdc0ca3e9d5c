"""Incremental / streaming index maintenance.

Reference analogue: BufferedWriter (periodic commits of buffered docs,
src/whoosh/writing.py::BufferedWriter ~L950) and AsyncWriter (~L880) — the
closest thing Whoosh has to a stream sink. Spark-first form: a Structured
Streaming ``foreachBatch`` sink where every micro-batch becomes ONE new
segment (Whoosh: every BufferedWriter period commit creates a segment),
and the background merge policy (MERGE_SMALL) coalesces small segments.

Exactly-once: foreachBatch can re-run a batch after failure, so the
segment id is derived from the BATCH ID — a replayed batch overwrites the
same segment directory and re-commits the same manifest (idempotent), the
same discipline as the build checkpoint (segments.py). doc_ids for
streamed docs are allocated per-batch above a base offset so they never
collide with existing segments: (base + batch_id * batch_capacity + row).

At scale this is the standard "hot tier + compaction" layout: small fresh
segments absorb arrivals, merge_segments() folds them into the cold tier;
readers always see a consistent TOC (atomic _meta.json swap).

Term stats stay incremental under append (segments.py::_finalize): each
batch's _finalize merges the published stats generation with the NEW
segment's block aggregate (decomposable folds), so per-batch term-stats
cost is O(lexicon + batch blocks) — independent of how many postings the
cold tier holds. Full recompute happens only on non-append transitions
(merge). The remaining per-batch cost that grows with index AGE is the
lexicon-sized merge itself (one row per distinct term), the standard
LSM-compaction trade.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from whoosh_spark import __version__ as _code_version
from whoosh_spark.fields import Schema
from whoosh_spark.indexing.segments import (
    BLOCK_SIZE,
    BUILD_DOC_CHUNK,
    STREAM_BASE,
    _commit_json,
    _commit_manifest,
    _finalize,
    _manifest_dir,
    _read_manifest,
    _write_segment,
    merge_segments,
)

# doc_id address space reserved per micro-batch; collisions impossible while
# a batch stays under this row count (checked at append time).
BATCH_CAPACITY = 10_000_000


def _committed_batch_ids(done: dict[int, dict]) -> set[int]:
    """Every stream batch id the manifest set accounts for: live stream-batch
    segments plus batch ids folded into merged segments (merge lineage)."""
    out: set[int] = set()
    for m in done.values():
        lin = m.get("lineage", {})
        if lin.get("source") == "stream-batch" and lin.get("batch_id") is not None:
            out.add(int(lin["batch_id"]))
        out.update(int(b) for b in lin.get("merged_batch_ids", []))
    return out


class IncrementalIndexer:
    """Appends micro-batches of docs to a segmented index, one segment per
    batch, idempotent under batch replay."""

    def __init__(self, spark: SparkSession, path: str, schema: Schema,
                 doc_id_base: int | None = None, merge_every: int | None = None,
                 hot_term_blocks: int = 64):
        self.spark = spark
        self.path = path
        self.schema = schema
        self.merge_every = merge_every
        self.hot_term_blocks = hot_term_blocks
        os.makedirs(_manifest_dir(path), exist_ok=True)
        if not os.path.exists(os.path.join(path, "_meta.json")):
            _finalize_empty(path)
        if doc_id_base is None:
            # attaching to an EXISTING index must not reuse its doc ids:
            # default the base past every committed segment, rounded to the
            # batch capacity (replayed batches never reach the assignment
            # path, so a recomputed base across restarts stays safe)
            hi = max((m["doc_hi"] for m in _read_manifest(path).values()),
                     default=0)
            doc_id_base = -(-hi // BATCH_CAPACITY) * BATCH_CAPACITY if hi else 0
        self.doc_id_base = doc_id_base

    # -- the foreachBatch sink ------------------------------------------

    def append_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """One micro-batch -> one committed segment (idempotent by batch_id).

        ``batch_df`` rows are transcript turns WITHOUT doc ids; dense ids
        are assigned within the batch's reserved address range in
        (conv_id, turn_idx) order.
        """
        seg_id = STREAM_BASE + int(batch_id)  # streamed segments namespace
        done = _read_manifest(self.path)
        # Idempotency keys on the BATCH id, not the bare segment id: a merge
        # deletes the per-batch manifests but carries their batch ids forward
        # in its lineage (segments.py merge_segments merged_batch_ids), so a
        # replayed batch whose segment was merged away is still recognized —
        # and merged ids live in a disjoint namespace (MERGED_BASE), so a
        # future batch can never mistake a merged segment for its own commit.
        if seg_id in done or int(batch_id) in _committed_batch_ids(done):
            # replayed batch, already committed — but if the crash landed
            # BETWEEN the manifest commit and _finalize, the segment is not
            # yet in the published TOC: re-publish before returning, or the
            # committed docs stay invisible until some future batch commits
            with open(os.path.join(self.path, "_meta.json")) as f:
                active = set(json.load(f)["active_segments"])
            if seg_id in done and seg_id not in active:
                doc_count = sum(m["n_docs"] for m in done.values())
                _finalize(self.spark, self.path, doc_count, sorted(done))
            return
        n = batch_df.count()
        if n == 0:
            return
        if n > BATCH_CAPACITY:
            raise ValueError(f"micro-batch of {n} rows exceeds BATCH_CAPACITY")
        t0 = time.perf_counter()
        lo = self.doc_id_base + int(batch_id) * BATCH_CAPACITY
        # deterministic in-batch order: the full transcript key when present
        # (north-rule parity), else all columns (generic schemas via compat
        # — a partial key would leave tie order nondeterministic)
        if "conv_id" in batch_df.columns and "turn_idx" in batch_df.columns:
            order_cols = ["conv_id", "turn_idx"]
        else:
            order_cols = list(batch_df.columns)
        w = Window.orderBy(*order_cols)  # micro-batch: small, one task
        docs = batch_df.withColumn(
            "doc_id", (F.row_number().over(w) - 1 + F.lit(lo)).cast("long")
        )
        # the batch is one segment, inverted, written and counted in-task
        # like build_segments'
        seg_path = os.path.join(self.path, "blocks", f"segment_id={seg_id}")
        counts = _write_segment(docs, self.schema, lo, lo + n, BUILD_DOC_CHUNK,
                                seg_path)
        # stored fields for the streamed docs (docs table lives next to blocks)
        docs.write.mode("overwrite").parquet(
            os.path.join(self.path, "docs", f"segment_id={seg_id}")
        )
        manifest = {
            "segment_id": seg_id,
            "doc_lo": lo,
            "doc_hi": lo + n,
            **counts,
            "wall_s": round(time.perf_counter() - t0, 3),
            "lineage": {
                "source": "stream-batch",
                "batch_id": int(batch_id),
                "block_size": BLOCK_SIZE,
                "code_version": _code_version,
            },
            "status": "committed",
        }
        _commit_manifest(self.path, manifest)
        done = _read_manifest(self.path)
        doc_count = sum(m["n_docs"] for m in done.values())
        _finalize(self.spark, self.path, doc_count, sorted(done))
        if self.merge_every and len(done) >= self.merge_every:
            merge_segments(self.spark, self.path, sorted(done),
                           hot_term_blocks=self.hot_term_blocks)

    def stored_docs(self) -> DataFrame:
        """All streamed stored-field rows (join target for results)."""
        return self.spark.read.parquet(os.path.join(self.path, "docs"))


def _finalize_empty(path: str) -> None:
    _commit_json(os.path.join(path, "_meta.json"),
                 {"doc_count": 0, "active_segments": [], "block_size": BLOCK_SIZE})


def index_stream(
    stream_df: DataFrame,
    path: str,
    schema: Schema,
    checkpoint: str,
    trigger_seconds: int | None = None,
    merge_every: int | None = None,
):
    """Attach the incremental indexer to a streaming DataFrame.

    ``stream_df`` = readStream of transcript turns. Returns the
    StreamingQuery; stop() it to end ingestion. The Spark checkpoint gives
    at-least-once batch delivery; append_batch's manifest check makes the
    sink effectively exactly-once.
    """
    indexer = IncrementalIndexer(stream_df.sparkSession, path, schema,
                                 merge_every=merge_every)
    writer = stream_df.writeStream.foreachBatch(indexer.append_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


# --------------------------------------------------------------- upsert


def upsert_batch(
    indexer: IncrementalIndexer,
    batch_df: "DataFrame",
    batch_id: int,
    unique_fields: list[str],
) -> int:
    """update_document semantics (reference: src/whoosh/writing.py::
    IndexWriter.update_document ~L520): delete every existing doc whose
    value in ANY unique field matches an incoming row, then add the batch
    as a new segment. Returns the number of deleted doc ids.

    The delete lookup stays distributed end-to-end: the batch's distinct
    unique-field values broadcast-join against the term-pruned block scan
    (terms_df_postings) and the matching doc-id FRAME flows straight into
    delete_docs — only the deleted-count scalar reaches the driver, so a
    dedup-sweep-sized upsert cannot bottleneck or OOM the driver.
    """
    from whoosh_spark.indexing.segments import delete_docs, open_segments

    path = indexer.path
    done = _read_manifest(path)
    # Idempotency FIRST (same key as append_batch): on a replayed batch the
    # unique-field values now match the batch's OWN committed docs, so
    # running the delete pass again would delete what the first attempt
    # wrote — permanent data loss under at-least-once delivery.
    seg_id = STREAM_BASE + int(batch_id)
    if seg_id in done or int(batch_id) in _committed_batch_ids(done):
        indexer.append_batch(batch_df, batch_id)  # re-finalize if needed
        return 0
    n_deleted = 0
    if done:
        from functools import reduce

        ix = open_segments(indexer.spark, path, indexer.stored_docs(), indexer.schema)
        hit_frames = [
            ix.terms_df_postings(
                fldname,
                batch_df.select(F.col(fldname).cast("string").alias("term"))
                .where(F.col("term").isNotNull()),
            ).select("doc_id")
            for fldname in unique_fields
        ]
        hits = reduce(DataFrame.unionByName, hit_frames).distinct().persist()
        try:
            n_deleted = hits.count()
            if n_deleted:
                delete_docs(indexer.spark, path, hits)
        finally:
            hits.unpersist()
    indexer.append_batch(batch_df, batch_id)
    return n_deleted
