"""The benchmark's own tests: generator determinism, job attribution, the
metric lists against BENCHMARK.json, and tiny-size passes of every workload
and of the traced run.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, REPO)

from perfbench import gen  # noqa: E402
from perfbench.run import E2E_UNITS, WORKLOADS  # noqa: E402
from perfbench.trace import Span, Tracer, attribute  # noqa: E402
from perfbench.workloads import layer_metric_specs  # noqa: E402


def _bench_json():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload, trace, cwd=REPO, seed=3):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    return p


def _result(p):
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["record"], json.loads(lines[-1])


def test_generator_is_seeded():
    v = gen.vocabulary()
    assert len(v) == gen.VOCAB_SIZE and len(set(v)) == gen.VOCAB_SIZE
    a, b = gen.make_corpus(500, 1, v), gen.make_corpus(500, 1, v)
    assert a.turns.equals(b.turns)
    assert gen.query_pool(a, 1) == gen.query_pool(b, 1)
    c = gen.make_corpus(500, 2, v)
    assert not a.turns["text"].equals(c.turns["text"])
    shapes = [s for s, _ in gen.query_pool(a, 1, n=9)]
    assert shapes == list(gen.SHAPES)


def test_stopwords_hold_the_top_ranks():
    from whoosh_spark.analysis import STOP_WORDS

    v = gen.vocabulary()
    assert set(v[:gen.n_stop()]) == STOP_WORDS
    assert not STOP_WORDS & set(v[gen.n_stop():])


def test_rule_words_come_from_every_band():
    v = gen.vocabulary()
    c = gen.make_corpus(1000, 4, v)
    words = {w for r in gen.rule_set(c, 4, 300).values()
             for w in r.split() if w not in ("AND", "OR")}
    for band in gen.bands(c):
        assert words & set(v[band])


def test_phrases_are_generated_bigrams():
    v = gen.vocabulary()
    c = gen.make_corpus(300, 5, v)
    texts = " | ".join(c.turns["text"])
    for shape, q in gen.query_pool(c, 5, n=45):
        if shape == "phrase2":
            assert q.strip('"') in texts


def test_attribution_picks_innermost_span():
    outer = Span("op.query", 100.0, 110.0, sid=0)
    inner = Span("search.executor.search", 101.0, 105.0, parent=0, sid=1)
    jobs = [
        {"jobId": 0, "submissionTime": "1970-01-01T00:01:42.000GMT", "stageIds": [0]},
        {"jobId": 1, "submissionTime": "1970-01-01T00:01:47.000GMT", "stageIds": [1, 2]},
    ]
    stages = [
        {"stageId": 0, "attemptId": 0, "status": "COMPLETE", "numCompleteTasks": 4,
         "executorRunTime": 2000, "jvmGcTime": 0, "shuffleWriteBytes": 10,
         "memoryBytesSpilled": 0, "diskBytesSpilled": 0,
         "submissionTime": "1970-01-01T00:01:42.000GMT",
         "completionTime": "1970-01-01T00:01:44.000GMT"},
        {"stageId": 1, "attemptId": 0, "status": "COMPLETE", "numCompleteTasks": 1,
         "executorRunTime": 500, "jvmGcTime": 100, "shuffleWriteBytes": 0,
         "memoryBytesSpilled": 0, "diskBytesSpilled": 0,
         "submissionTime": "1970-01-01T00:01:47.000GMT",
         "completionTime": "1970-01-01T00:01:48.000GMT"},
        {"stageId": 2, "attemptId": 0, "status": "SKIPPED"},
    ]
    b = attribute([outer, inner], jobs, stages)
    assert (b[1]["jobs"], b[1]["stages"], b[1]["tasks"]) == (1, 1, 4)
    assert b[1]["driver_s"] == pytest.approx(2.0)
    assert (b[0]["jobs"], b[0]["stages"], b[0]["tasks"]) == (2, 2, 5)
    assert b[0]["task_s"] == pytest.approx(2.5)
    assert b[0]["driver_s"] == pytest.approx(10.0 - 3.0)


def test_a_span_whose_call_raises_is_marked():
    t = Tracer(True)
    with pytest.raises(ValueError):
        with t.span("streaming.percolate.percolate_indexed"):
            raise ValueError
    with t.span("indexing.segments.open_segments"):
        pass
    assert [s.attrs.get("error", False) for s in t.spans] == [True, False]


def test_benchmark_json_names_what_the_code_reports():
    bj = _bench_json()
    assert set(bj) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                       "per_layer"}
    assert {w["name"] for w in bj["workloads"]} <= set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bj["end_to_end"]} == E2E_UNITS
    assert [(m["name"], m["unit"], m["better"]) for m in bj["per_layer"]] == \
        layer_metric_specs()


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_untraced_run(workload):
    record, res = _result(_run(workload, 0))
    assert res["failed"] == 0 and res["correct"] and res["attempted"] >= 1
    assert set(res["metrics"]) == set(E2E_UNITS)
    for name, m in res["metrics"].items():
        assert m["unit"] == E2E_UNITS[name]
        assert math.isfinite(m["value"]) and m["value"] > 0, name
    assert record["samples"]["op_p50_s"] >= 1


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_traced_run(workload):
    record, res = _result(_run(workload, 1))
    assert res["failed"] == 0 and res["correct"]
    assert list(res["metrics"]) == [n for n, _, _ in layer_metric_specs()]
    for name, m in res["metrics"].items():
        assert math.isfinite(m["value"]), name
    assert set(record["e2e"]) == set(E2E_UNITS)


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(REPO, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("bulk_build", 0, cwd=tmp_path)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
