"""The three benchmark workloads and the traced run's layer metrics.

Every workload is a single-client closed loop: the next call starts when the
previous one has returned. Each timed operation runs inside a span named
after the engine function it calls (module path + function), so the traced
run can attribute Spark jobs and time to layers. Correctness checks run off
the clock and are never traced.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

from perfbench import gen
from perfbench.session import RssSampler, warm_workers
from perfbench.trace import BUNDLE, SparkStatus, Tracer, attribute

SIZES = {
    # 80k turns is where build throughput levels off on a 4-CPU host (6k:
    # 1.2k turns/s, 20k: 3.9k, 40k: 6.1k, 80k: 9.0k, 160k: 9.6k), so per-turn
    # work, not per-call Spark cost, is most of a bulk build. Query latency
    # stays at 0.5-0.8 s from 6k to 320k turns, so the serving index is
    # sized for set-up time. One run (session start, warm-up, window,
    # checks) stays near a minute.
    "full": dict(bulk_turns=80_000, warm_turns=20_000, serve_turns=40_000,
                 queries=27, batch_turns=1_000, rules=1_000, max_batches=9,
                 checked_rules=4, sample_turns=50_000, tour_turns=500),
    # the benchmark's own tests
    "tiny": dict(bulk_turns=1_500, warm_turns=500, serve_turns=1_500, queries=9,
                 batch_turns=300, rules=40, max_batches=2, checked_rules=2,
                 sample_turns=1_000, tour_turns=200),
}

LAYERS = (
    "analysis.postings_arrays",
    "indexing.build.build_index",
    "indexing.segments.build_segments",
    "indexing.segments.open_segments",
    "query.parser.parse",
    "search.executor.search",
    "search.executor.search_many",
    "search.wand.wand_topk",
    "streaming.incremental.append_batch",
    "streaming.percolate.percolate_indexed",
)
DRIVER_LAYERS = ("analysis.postings_arrays", "query.parser.parse")
# the bundle reported per Spark layer; spill (0 at these sizes) and, outside
# the two layers that allocate enough to collect, GC time stay in the span
# file only, since a figure that is always 0 moves with nothing
SPARK_KEYS = tuple(k for k in BUNDLE if k not in ("gc_s", "spill_bytes"))
GC_LAYERS = ("indexing.segments.build_segments", "search.executor.search_many")
SHAPE_CLASS = {"head": "terms", "torso": "terms", "tail": "terms", "and2": "terms",
               "or3": "terms", "phrase2": "phrase", "prefix": "expand",
               "fuzzy": "expand", "mixed": "mixed"}
CLASSES = ("terms", "phrase", "expand", "mixed")

SCORE_RTOL = 1e-9
MIN_BUILDS = 3  # a median that outvotes one slow build, whatever --seconds is


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def same_rows(a, b) -> bool:
    """Rank-identical top-k: same doc ids in the same order, scores equal to
    ``SCORE_RTOL``."""
    if [r["doc_id"] for r in a] != [r["doc_id"] for r in b]:
        return False
    return all(math.isclose(x["score"], y["score"], rel_tol=SCORE_RTOL)
               for x, y in zip(a, b))


class Bench:
    """One run: a workload's set-up, timed window, checks and metrics."""

    def __init__(self, spark, tracer: Tracer, seed: int, seconds: float,
                 size: str, work: str, t_start: float):
        from whoosh_spark.fields import transcript_schema
        from whoosh_spark.query.parser import QueryParser

        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.seconds = seconds
        self.size = SIZES[size]
        self.work = work
        self.t_start = t_start
        self.schema = transcript_schema()
        self.parser = QueryParser("text", self.schema)
        self.vocab = gen.vocabulary()
        self.rss = RssSampler()
        self.attempted = 0
        self.failed = 0
        self.setup_s = float("nan")
        self.e2e: dict[str, float] = {}
        self.samples: dict[str, int] = {}
        self.named: dict[str, dict] = {}  # the workload's own metric names
        self.index = None  # the workload's current SegmentedIndex
        self.pool: list[tuple[str, str]] = []
        self.corpus_df = None
        self.phases: dict[str, float] = {}  # set-up phase -> seconds
        self._phase_t = time.perf_counter()
        warm_workers(spark)
        self.phase("warm_workers")

    # -- plumbing ---------------------------------------------------------

    def op(self, name: str, fn, request: str | None = None, **attrs):
        """Run one engine call inside a span -> (result, wall seconds)."""
        with self.tracer.span(name, request, **attrs):
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
        self.rss.sample()
        return out, dt

    def annotate(self, **attrs) -> None:
        """Attach counters to the most recent span."""
        if self.tracer.enabled and self.tracer.spans:
            self.tracer.spans[-1].attrs.update(attrs)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)

    def guarded(self, fn, what: str) -> tuple[bool, float]:
        """Run one timed operation -> (completed, wall seconds). It counts as
        attempted, and as failed if it raises."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            fn()
            return True, time.perf_counter() - t0
        except Exception:
            self.failed += 1
            print(f"perfbench: {what} raised", file=sys.stderr)
            traceback.print_exc()
            return False, time.perf_counter() - t0

    def phase(self, name: str) -> None:
        """Close a set-up phase: its wall time goes into the run record."""
        now = time.perf_counter()
        self.phases[name] = now - self._phase_t
        self._phase_t = now

    def mark_setup_done(self) -> None:
        self.phase("warm_up")
        self.rss.sample()
        self.setup_s = time.perf_counter() - self.t_start

    def put(self, name: str, values: list[float], unit: str, how=median) -> None:
        """Record one of the workload's own metrics with its sample count
        (value ``None`` when no sample was taken)."""
        self.named[name] = {"value": how(values) if values else None, "unit": unit,
                            "samples": len(values)}

    def parse(self, qs: str, request: str | None = None):
        q, dt = self.op("query.parser.parse", lambda: self.parser.parse(qs), request)
        return q, dt

    def search(self, q, shape: str, request: str | None = None):
        from whoosh_spark.search import Searcher

        s = Searcher(self.index)
        rows, dt = self.op("search.executor.search",
                           lambda: s.search(q, limit=10).collect(), request,
                           shape=shape, cls=SHAPE_CLASS[shape])
        self.annotate(rows=len(rows))
        return rows, dt

    def wand(self, q, request: str | None = None):
        """wand_topk called directly on a Term / And / Or query."""
        from whoosh_spark.query import nodes as Q
        from whoosh_spark.search.wand import wand_topk

        qn = q.normalize()
        if isinstance(qn, Q.Term):
            terms, mode = [qn.text], "or"
        else:
            terms = [k.text for k in qn.subqueries]
            mode = "and" if isinstance(qn, Q.And) else "or"
        return self.op("search.wand.wand_topk",
                       lambda: wand_topk(self.index, "text", terms, k=10, mode=mode).collect(),
                       request)

    def write_turns(self, corpus: gen.Corpus, name: str):
        return gen.to_spark(self.spark, corpus.turns, os.path.join(self.work, name))

    def build(self, df, n: int, path: str, request: str | None = None):
        """build_segments + open_segments -> (manifests, build wall seconds,
        open wall seconds)."""
        from whoosh_spark.indexing.segments import build_segments, open_segments

        shutil.rmtree(path, ignore_errors=True)
        man, t_build = self.op(
            "indexing.segments.build_segments",
            lambda: build_segments(self.spark, df, self.schema, path, n_segments=4,
                                   doc_count=n), request)
        self.annotate(index_bytes=dir_bytes(path),
                      postings=sum(m["n_postings"] for m in man.values()),
                      blocks=sum(m["n_blocks"] for m in man.values()),
                      segment_wall_max_s=max(m["wall_s"] for m in man.values()))
        self.index, t_open = self.op(
            "indexing.segments.open_segments",
            lambda: open_segments(self.spark, path, df, self.schema), request)
        self.annotate(**self.meta_counts(path))
        return man, t_build, t_open

    @staticmethod
    def meta_counts(path: str) -> dict:
        with open(os.path.join(path, "_meta.json")) as f:
            meta = json.load(f)
        return {"stats_layers": len(meta.get("stats", {}).get("layers", [])),
                "active_segments": len(meta["active_segments"]),
                "doc_count": int(meta["doc_count"])}

    def common_metrics(self, text_bytes: int, index_path: str) -> None:
        self.e2e["setup_s"] = self.setup_s
        self.e2e["peak_rss_mb"] = self.rss.peak_mb
        self.e2e["index_bytes_per_text_byte"] = dir_bytes(index_path) / text_bytes
        self.samples.update(setup_s=1, peak_rss_mb=self.rss.samples,
                            index_bytes_per_text_byte=1)
        self.put("setup_s", [self.setup_s], "s")
        self.put("peak_rss_mb", [self.rss.peak_mb], "MB")

    # -- workloads --------------------------------------------------------

    def bulk_build(self) -> None:
        z = self.size
        n = z["bulk_turns"]
        corpus = gen.make_corpus(n, self.seed, self.vocab)
        df = self.write_turns(corpus, "bulk.parquet")
        self.corpus_df, self.pool = df, gen.query_pool(corpus, self.seed)
        # warm-up: the same build on a smaller corpus of the same seed
        w = z["warm_turns"]
        warm = self.write_turns(gen.make_corpus(w, self.seed, self.vocab,
                                                conv_base=99 * 10**6), "warm.parquet")
        self.phase("inputs")
        self.build(warm, w, os.path.join(self.work, "bulk_warm"), "warmup")
        self.mark_setup_done()

        walls, builds, busy, i, last = [], [], 0.0, 0, None
        while busy < self.seconds or i < MIN_BUILDS:
            path = os.path.join(self.work, f"bulk_ix{i % 2}")
            out = {}

            def one():
                with self.tracer.span("op.build", f"build{i}"):
                    out["man"], out["build"], t_open = self.build(df, n, path, f"build{i}")
                out["wall"] = out["build"] + t_open

            ok, dt = self.guarded(one, f"build {i}")
            if ok:
                walls.append(out["wall"])
                builds.append(out["build"])
                last = (path, out["man"])
            busy += out["wall"] if ok else dt
            i += 1
        if last is None:
            raise RuntimeError("no build completed")

        path, man = last
        self.check(all(m["status"] == "committed" for m in man.values()),
                   "every manifest committed")
        self.check(sum(m["n_docs"] for m in man.values()) == n, "sum n_docs == turns")
        from whoosh_spark.search import Searcher

        s = Searcher(self.index)
        for shape, qs in self.pool:
            if shape in ("and2", "phrase2"):
                q = self.parser.parse(qs)
                self.check(same_rows(s.search(q, limit=10).collect(),
                                     s.search(q, limit=10, optimize=False).collect()),
                           f"pruned == unpruned for {qs!r}")

        # op_p50_s is the wall until the corpus is searchable; throughput is
        # the write cost of build_segments alone
        self.e2e["op_p50_s"] = median(walls)
        self.e2e["throughput_per_s"] = n / median(builds)
        self.samples.update(op_p50_s=len(walls), throughput_per_s=len(builds))
        self.common_metrics(corpus.text_bytes, path)
        self.put("build_turns_per_s", [n / w for w in builds], "1/s")
        self.named["index_bytes_per_text_byte"] = {
            "value": self.e2e["index_bytes_per_text_byte"], "unit": "ratio", "samples": 1}

    def serve_topk(self) -> None:
        from whoosh_spark.search import Searcher

        z = self.size
        n = z["serve_turns"]
        corpus = gen.make_corpus(n, self.seed, self.vocab)
        df = self.write_turns(corpus, "serve.parquet")
        self.corpus_df = df
        path = os.path.join(self.work, "serve_ix")
        self.phase("inputs")
        self.build(df, n, path, "setup")
        self.phase("index_build")
        self.pool = gen.query_pool(corpus, self.seed, z["queries"])
        parsed = [self.parser.parse(qs) for _, qs in self.pool]
        s = Searcher(self.index)
        warm = {}
        for (shape, _), q in zip(self.pool, parsed):
            warm.setdefault(SHAPE_CLASS[shape], q)
        for q in warm.values():  # warm-up: one query of every shape class
            s.search(q, limit=10).collect()
        self.mark_setup_done()

        # whole rounds over the pool, so every shape weighs the same in the
        # median whatever the number of rounds; the pool holds several
        # queries of each shape, so the median does not hang on one seed's
        # choice of words
        lat, by_shape, results, busy, k = [], {}, [], 0.0, 0
        while busy < self.seconds:
            for j, (shape, qs) in enumerate(self.pool):
                out = {}

                def one():
                    req = f"q{k}"
                    with self.tracer.span("op.query", req):
                        q, t_parse = self.parse(qs, req)
                        out["rows"], t_search = self.search(q, shape, req)
                    out["wall"] = t_parse + t_search
                    if self.tracer.enabled and SHAPE_CLASS[shape] == "terms":
                        self.wand(q, req)  # outside op.query: not in the latency

                ok, dt = self.guarded(one, f"query {qs!r}")
                if ok:
                    lat.append(out["wall"])
                    by_shape.setdefault(shape, []).append(out["wall"])
                    results.append((j, out["rows"]))
                busy += out["wall"] if ok else dt
                k += 1

        # search_many and the optimize=False check cover the first query of
        # every shape: over the whole pool they would take longer than the
        # serial loop itself
        first = len(gen.SHAPES)
        many = {}

        def batch():
            many["rows"], many["wall"] = self.op(
                "search.executor.search_many",
                lambda: Searcher(self.index).search_many(dict(enumerate(parsed[:first])),
                                                         limit=10).collect(), "many")

        if self.guarded(batch, "search_many")[0]:
            by_q: dict[int, list] = {}
            for r in many["rows"]:
                by_q.setdefault(r["query_id"], []).append(r)
            for j, rows in results:
                if j < first:
                    self.check(same_rows(rows, by_q.get(j, [])),
                               f"search == search_many for {self.pool[j][1]!r}")
            self.named["batch_qps"] = {"value": first / many["wall"], "unit": "1/s",
                                       "samples": 1}
        s = Searcher(self.index)
        for j, (shape, qs) in enumerate(self.pool[:first]):
            if shape in ("and2", "phrase2"):
                self.check(same_rows(s.search(parsed[j], limit=10).collect(),
                                     s.search(parsed[j], limit=10,
                                              optimize=False).collect()),
                           f"optimized == optimize=False for {qs!r}")

        self.e2e["op_p50_s"] = median(lat)
        self.e2e["throughput_per_s"] = len(lat) / sum(lat)
        self.samples.update(op_p50_s=len(lat), throughput_per_s=len(lat))
        self.common_metrics(corpus.text_bytes, path)
        self.put("query_p50_s", lat, "s")
        self.named["serial_qps"] = {"value": len(lat) / sum(lat), "unit": "1/s",
                                    "samples": len(lat)}
        if len(lat) >= 100:  # a percentile is named only with >= 10 beyond it
            self.put("query_p90_s", lat, "s",
                     how=lambda xs: statistics.quantiles(xs, n=10)[-1])
        self.named["query_p50_s_by_shape"] = {
            sh: {"value": median(v), "samples": len(v)} for sh, v in by_shape.items()}

    def stream_ingest(self) -> None:
        from whoosh_spark.indexing.segments import open_segments
        from whoosh_spark.streaming import IncrementalIndexer
        from whoosh_spark.streaming.percolate import percolate, percolate_indexed

        z = self.size
        b_n = z["batch_turns"]
        batches = [gen.make_corpus(b_n, self.seed, self.vocab, conv_base=(b + 1) * 10**6)
                   for b in range(z["max_batches"])]
        dfs = [self.write_turns(c, f"batch{b}.parquet") for b, c in enumerate(batches)]
        rule_text = gen.rule_set(batches[0], self.seed, z["rules"])
        rules = {name: self.parser.parse(r) for name, r in rule_text.items()}
        self.pool = gen.query_pool(batches[0], self.seed)
        parsed = [self.parser.parse(qs) for _, qs in self.pool]
        self.phase("inputs")
        # warm-up: one small append / open / percolate / search cycle
        warm_path = os.path.join(self.work, "warm_stream")
        warm = self.write_turns(gen.make_corpus(z["tour_turns"], self.seed, self.vocab,
                                                conv_base=99 * 10**6), "warm.parquet")
        try:
            percolate_indexed(self.spark, warm, rules, self.schema).count()
        except Exception:  # the timed batches count the failure
            print("perfbench: warm-up percolate_indexed raised", file=sys.stderr)
        IncrementalIndexer(self.spark, warm_path, self.schema).append_batch(
            warm.drop("doc_id"), 0)
        self.index = open_segments(self.spark, warm_path, warm, self.schema)
        from whoosh_spark.search import Searcher

        Searcher(self.index).search(parsed[0], limit=10).collect()
        path = os.path.join(self.work, "stream_ix")
        ixer = IncrementalIndexer(self.spark, path, self.schema)
        self.corpus_df = dfs[0]
        self.mark_setup_done()

        alert, visible, fresh, cycle, busy, appended, b = [], [], [], [], 0.0, 0, 0
        text_bytes = 0
        while busy < self.seconds and b < len(dfs):
            bdf, req, out = dfs[b], f"batch{b}", {}

            def alerts():
                counts, out["alert"] = self.op(
                    "streaming.percolate.percolate_indexed",
                    lambda: percolate_indexed(self.spark, bdf, rules, self.schema)
                    .groupBy("query_name").count().collect(), req)
                out["counts"] = {r["query_name"]: r["count"] for r in counts}
                self.annotate(matches=sum(out["counts"].values()))

            def publish():
                before = dir_bytes(path)
                _, t_append = self.op("streaming.incremental.append_batch",
                                      lambda: ixer.append_batch(bdf.drop("doc_id"), b), req)
                self.annotate(bytes_written=dir_bytes(path) - before)
                self.index, t_open = self.op(
                    "indexing.segments.open_segments",
                    lambda: open_segments(self.spark, path, ixer.stored_docs(), self.schema),
                    req)
                out["meta"] = self.meta_counts(path)
                self.annotate(**out["meta"])
                out["visible"] = t_append + t_open
                out["fresh"] = []
                for j in (2 * b) % len(parsed), (2 * b + 1) % len(parsed):
                    q, t_parse = self.parse(self.pool[j][1], req)
                    _, t_q = self.search(q, self.pool[j][0], req)
                    out["fresh"].append(t_parse + t_q)

            # percolation and publishing are separate operations: a batch
            # whose alerts fail is still indexed and queried
            with self.tracer.span("op.batch", req):
                ok_alert, t_alert = self.guarded(alerts, f"percolate_indexed on batch {b}")
                ok, dt = self.guarded(publish, f"append/open/query of batch {b}")
            if ok_alert:
                t_alert = out["alert"]
                alert.append(t_alert)
            busy += t_alert + ((out["visible"] + sum(out["fresh"])) if ok else dt)
            if ok:
                appended += b_n
                text_bytes += batches[b].text_bytes
                visible.append(out["visible"])
                fresh.extend(out["fresh"])
                cycle.append(t_alert + out["visible"])
                self.check(out["meta"]["doc_count"] == appended,
                           f"doc_count == turns appended after batch {b}")
            if ok_alert and b == 0:  # the indexed tier agrees with the plan-branch tier
                names = sorted(rules)[: z["checked_rules"]]
                ref = percolate(self.spark, bdf, {nm: rules[nm] for nm in names},
                                self.schema, with_scores=False) \
                    .groupBy("query_name").count().collect()
                ref = {r["query_name"]: r["count"] for r in ref}
                self.check(all(ref.get(nm, 0) == out["counts"].get(nm, 0) for nm in names),
                           "percolate_indexed == percolate on a rule subset")
            b += 1
        if not visible:
            raise RuntimeError("no batch completed")

        self.e2e["op_p50_s"] = median(visible)
        # a percolation that raised counts with its wall until it raised
        self.e2e["throughput_per_s"] = appended / sum(cycle)
        self.samples.update(op_p50_s=len(visible), throughput_per_s=len(cycle))
        self.common_metrics(text_bytes, path)
        self.named["ingest_turns_per_s"] = {"value": appended / sum(cycle), "unit": "1/s",
                                            "samples": len(cycle)}
        self.put("alert_p50_s", alert, "s")
        self.put("visible_p50_s", visible, "s")
        self.put("fresh_query_p50_s", fresh, "s")

    # -- traced run -------------------------------------------------------

    def tour(self) -> None:
        """Call, once each, the layers the workload itself did not reach, or
        reached only with calls that raised, so the traced run measures every
        per-layer metric; then time the two layer probes that run only here."""
        import pandas as pd

        from whoosh_spark.analysis import postings_arrays
        from whoosh_spark.indexing.build import build_index
        from whoosh_spark.search import Searcher

        z = self.size
        seen = {s.name for s in self.tracer.spans if not s.attrs.get("error")}
        seen_cls = {s.attrs.get("cls") for s in self.tracer.spans
                    if s.name == "search.executor.search"}
        parsed = {i: self.parse(qs, "tour")[0] for i, (_, qs) in enumerate(self.pool)}
        for i, (shape, _) in enumerate(self.pool):
            cls = SHAPE_CLASS[shape]
            if cls not in seen_cls:
                self.search(parsed[i], shape, "tour")
                seen_cls.add(cls)
        if "search.wand.wand_topk" not in seen:
            for i, (shape, _) in enumerate(self.pool):
                if SHAPE_CLASS[shape] == "terms":
                    self.search(parsed[i], shape, f"tour{i}")
                    self.wand(parsed[i], f"tour{i}")
        if "search.executor.search_many" not in seen:
            self.op("search.executor.search_many",
                    lambda: Searcher(self.index).search_many(parsed, limit=10).collect(),
                    "tour")
        if ("streaming.incremental.append_batch" not in seen
                or "streaming.percolate.percolate_indexed" not in seen):
            from whoosh_spark.streaming import IncrementalIndexer
            from whoosh_spark.streaming.percolate import percolate_indexed

            c = gen.make_corpus(z["tour_turns"], self.seed, self.vocab, conv_base=77 * 10**6)
            tdf = self.write_turns(c, "tour.parquet")
            rules = {k: self.parser.parse(v) for k, v in gen.rule_set(c, self.seed, 50).items()}
            counts, _ = self.op("streaming.percolate.percolate_indexed",
                                lambda: percolate_indexed(self.spark, tdf, rules, self.schema)
                                .groupBy("query_name").count().collect(), "tour")
            self.annotate(matches=sum(r["count"] for r in counts))
            path = os.path.join(self.work, "tour_stream")
            self.op("streaming.incremental.append_batch",
                    lambda: IncrementalIndexer(self.spark, path, self.schema)
                    .append_batch(tdf.drop("doc_id"), 0), "tour")
            self.annotate(bytes_written=dir_bytes(path))
        if "indexing.segments.build_segments" not in seen:
            self.build(self.corpus_df, self.corpus_df.count(),
                       os.path.join(self.work, "tour_ix"), "tour")
        # the analyzer on a fixed driver-side sample
        c = gen.make_corpus(z["sample_turns"], self.seed, self.vocab)
        texts = c.turns["text"]
        _, dt = self.op("analysis.postings_arrays", lambda: postings_arrays(pd.Series(texts)),
                        "sample")
        self.annotate(turns_per_s=len(texts) / dt)
        # the logical build, forced through its term statistics
        self.op("indexing.build.build_index",
                lambda: build_index(self.spark, self.corpus_df, self.schema,
                                    materialize=False).terms.count(), "probe")

    def layer_metrics(self, status: SparkStatus) -> dict[str, float]:
        """Per-call medians of each layer's span bundle and counters, in
        :func:`layer_metric_specs` order."""
        jobs, stages = status.settled()
        bundles = attribute(self.tracer.spans, jobs, stages)
        self.span_bundles = bundles
        by_name: dict[str, list] = {}
        for s in self.tracer.spans:
            if s.attrs.get("error"):  # a call that raised measures no layer
                continue
            by_name.setdefault(s.name, []).append(s)
        searches = by_name.get("search.executor.search", [])
        wand_by_req = {s.request: s.wall_s for s in by_name.get("search.wand.wand_topk", [])}
        out: dict[str, float] = {}
        for name, _unit, _better in layer_metric_specs():
            layer, key = name.rsplit(".", 1)
            spans = by_name.get(layer, [])
            if layer.rsplit(".", 1)[-1] in CLASSES:  # search.executor.search.<class>
                cls = layer.rsplit(".", 1)[-1]
                mine = [s for s in searches if s.attrs.get("cls") == cls]
                out[name] = median([bundles[s.sid][key] for s in mine])
            elif key in BUNDLE:
                out[name] = median([bundles[s.sid][key] for s in spans])
            elif key in ("stats_layers", "active_segments"):
                out[name] = max(s.attrs[key] for s in spans if key in s.attrs)
            elif key == "parse_us":
                out[name] = median([s.wall_s * 1e6 for s in spans])
            elif key == "route_overhead_s":
                # search minus wand_topk on the same request: routing/compile
                out[name] = median([s.wall_s - wand_by_req[s.request] for s in searches
                                    if s.request in wand_by_req])
            else:
                out[name] = median([s.attrs[key] for s in spans if key in s.attrs])
            if not math.isfinite(out[name]):
                raise RuntimeError(f"layer metric {name} was not measured")
        return out


LAYER_EXTRAS = {
    "analysis.postings_arrays": ("turns_per_s",),
    "indexing.segments.build_segments": ("index_bytes", "postings", "blocks",
                                         "segment_wall_max_s"),
    "indexing.segments.open_segments": ("stats_layers", "active_segments"),
    "query.parser.parse": ("parse_us",),
    "search.wand.wand_topk": ("route_overhead_s",),
    "streaming.incremental.append_batch": ("bytes_written",),
    "streaming.percolate.percolate_indexed": ("matches",),
}
HIGHER_IS_BETTER = ("turns_per_s", "matches")


def unit_of(key: str) -> str:
    if key == "turns_per_s":
        return "1/s"
    if key.endswith("_s"):
        return "s"
    if key.endswith("_bytes") or key == "bytes_written":
        return "bytes"
    if key == "parse_us":
        return "us"
    return "count"


def layer_metric_specs() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric a traced run reports."""
    specs = []
    for layer in LAYERS:
        if layer == "query.parser.parse":
            keys = ()  # parse_us only: parsing runs no Spark job
        elif layer in DRIVER_LAYERS:
            keys = ("wall_s",)
        else:
            keys = SPARK_KEYS + (("gc_s",) if layer in GC_LAYERS else ())
        keys += LAYER_EXTRAS.get(layer, ())
        if layer == "search.executor.search":
            keys += tuple(f"{c}.{k}" for c in CLASSES for k in ("wall_s", "jobs"))
        for k in keys:
            leaf = k.rsplit(".", 1)[-1]
            specs.append((f"{layer}.{k}", unit_of(leaf),
                          "higher" if leaf in HIGHER_IS_BETTER else "lower"))
    return specs
