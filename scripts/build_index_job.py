"""spark-submit entry point: build (or resume) a segmented transcript index.

The north-rule deployment shape:

    python scripts/make_dist.py
    spark-submit --py-files dist/whoosh_spark.zip \\
        scripts/build_index_job.py \\
        --turns 2000000 --segments 8 --out /data/ix [--source path.parquet]

- With --source, indexes an existing transcript parquet/Iceberg table
  (columns conv_id, turn_idx, role, text, tool, ts); otherwise generates
  the deterministic synthetic corpus at --turns scale.
- The build is checkpoint-resumable: re-submitting the same command after
  a failure completes only the missing segments (manifest under
  <out>/_manifest/).
- Prints one JSON line of build metrics (turns/sec, per-segment wall
  times, posting/term counts) for the run ledger.
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--turns", type=int, default=100_000)
    ap.add_argument("--segments", type=int, default=4)
    ap.add_argument("--source", default=None)
    ap.add_argument("--no-resume", action="store_true")
    args = ap.parse_args()

    spark = (
        SparkSession.builder.appName("whoosh-spark-build")
        # 20k-row Arrow batches pipeline best through the Python workers
        # (measured A/B/A in bench.py make_spark; bigger batches reduce
        # JVM-scan / UDF-compute overlap)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .getOrCreate()
    )
    # imports AFTER session start: on a cluster the package arrives via
    # --py-files and is importable on driver + executors from the zip
    from whoosh_spark.fields import transcript_schema
    from whoosh_spark.indexing.docids import assign_doc_ids
    from whoosh_spark.indexing.segments import build_segments
    from whoosh_spark.transcripts import synth_turns

    if args.source:
        docs = spark.read.parquet(args.source)
        if "doc_id" not in docs.columns:
            docs = assign_doc_ids(docs, ["conv_id", "turn_idx"])
    else:
        docs = synth_turns(spark, args.turns)
    docs = docs.persist()
    n = docs.count()

    t0 = time.perf_counter()
    manifest = build_segments(
        spark,
        docs,
        transcript_schema(),
        args.out,
        n_segments=args.segments,
        doc_count=n,
        resume=not args.no_resume,
    )
    wall = time.perf_counter() - t0
    print(
        json.dumps(
            {
                "turns": n,
                "wall_sec": round(wall, 3),
                "turns_per_sec": round(n / wall, 1),
                "segments": {
                    str(k): {
                        "n_docs": m["n_docs"],
                        "n_postings": m["n_postings"],
                        "n_terms": m["n_terms"],
                        "wall_s": m["wall_s"],
                    }
                    for k, m in manifest.items()
                },
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
