"""whoosh_spark — a PySpark-native full-text index build + BM25 top-k query engine.

A from-scratch rebuild of the query and data-processing capabilities of the
reference (soad241/whoosh, a fork of the pure-Python Whoosh library),
re-expressed Spark-first:

- index build = DataFrame pipeline (analyzer pandas UDF -> explode ->
  term-bucketed shuffle), not a single-process posting pool
  (reference: src/whoosh/writing.py::SegmentWriter, externalsort.py::SortingPool)
- boolean/positional query operators = joins / aggregations on posting
  DataFrames (reference: src/whoosh/matching/*, src/whoosh/query/*)
- BM25F scoring = constant-folded column expressions + numpy inside the
  block-max WAND path (reference: src/whoosh/scoring.py::BM25F)
- physical index = partitioned parquet tables of packed posting blocks with
  block-max metadata (reference: src/whoosh/codec/whoosh3.py::W3Codec)

Nothing is copied from the reference; semantics are mirrored from public
Whoosh behavior and validated against hand-computed fixtures and the
driver's DuckDB oracle.
"""

__version__ = "0.1.0"

from whoosh_spark.fields import FieldSpec, Schema  # noqa: F401

from whoosh_spark import _worker

_worker.install()
