"""PL2 / FunctionWeighting / MultiWeighting, facet key sources,
MultifieldParser, and term-vector reads (SURVEY §2.6/§2.7/§2.8/§2.9)."""

import math

import numpy as np
import pytest

from tests.pyoracle import PyIndex
from tests.test_search import DOCS, ix, oracle, searcher  # noqa: F401 (fixtures)
from whoosh_spark import query as Q
from whoosh_spark.fields import documents_schema
from whoosh_spark.query.parser import MultifieldParser
from whoosh_spark.search import (
    BM25F,
    FieldFacet,
    Frequency,
    FunctionFacet,
    FunctionWeighting,
    MultiWeighting,
    PL2,
    ScoreFacet,
    Searcher,
    StoredFieldFacet,
)
from whoosh_spark.util import quantized_length


def _pl2_expected(oracle: PyIndex, term: str, c: float = 1.0) -> dict[int, float]:
    cf = sum(t[term] for t in oracle.tf.values() if term in t)
    lam = cf / oracle.n
    out = {}
    for i in oracle.matching(term):
        tf = oracle.tf[i][term]
        dl = quantized_length(oracle.raw_len[i])
        tfn = tf * math.log2(1.0 + c * oracle.avgdl / dl)
        out[i] = (1.0 / (tfn + 1.0)) * (
            tfn * math.log2(tfn / lam)
            + (lam - tfn) * (1.0 / math.log(2.0))
            + 0.5 * math.log2(2.0 * math.pi * tfn)
        )
    return out


def test_pl2_expr_matches_hand_formula(ix, oracle):
    s = Searcher(ix, PL2())
    got = {r["doc_id"]: r["score"] for r in s.compile(Q.Term("text", "spark")).collect()}
    exp = _pl2_expected(oracle, "spark")
    assert got.keys() == exp.keys()
    for i in exp:
        assert got[i] == pytest.approx(exp[i], rel=1e-9)


def test_pl2_expr_np_twin_identical(ix, oracle):
    s = Searcher(ix, PL2())
    fs = ix.schema["text"]
    m = PL2()
    lam = m.term_scalar(fs, ix.doc_count, ix.doc_frequency("text", "merge"),
                        ix.frequency("text", "merge"))
    rows = s.compile(Q.Term("text", "merge")).collect()
    p = {r["doc_id"]: r["score"] for r in rows}
    for i in sorted(p):
        tf = oracle.tf[i]["merge"]
        dl = quantized_length(oracle.raw_len[i])
        v = m.score_np(fs, lam, ix.avg_field_length("text"),
                       np.array([float(tf)]), np.array([float(dl)]))[0]
        assert p[i] == pytest.approx(v, rel=1e-12)


def test_pl2_prefix_expansion(ix):
    # the expansion path routes term_scalar (lambda), not idf
    s = Searcher(ix, PL2())
    got = {r["doc_id"]: r["score"] for r in s.compile(Q.Prefix("text", "sca")).collect()}
    per_term = [
        {r["doc_id"]: r["score"] for r in s.compile(Q.Term("text", t)).collect()}
        for t in ("scale", "scan", "scatter")
    ]
    exp = {}
    for d in per_term:
        for i, v in d.items():
            exp[i] = exp.get(i, 0.0) + v
    assert got.keys() == exp.keys()
    for i in exp:
        assert got[i] == pytest.approx(exp[i], rel=1e-9)


def test_function_weighting(ix, oracle):
    fw = FunctionWeighting(
        lambda idf_c, avgdl, w, dl: idf_c * w / (dl.cast("double") + w)
    )
    s = Searcher(ix, fw)
    got = {r["doc_id"]: r["score"] for r in s.compile(Q.Term("text", "hash")).collect()}
    for i in oracle.matching("hash"):
        tf = oracle.tf[i]["hash"]
        dl = quantized_length(oracle.raw_len[i])
        assert got[i] == pytest.approx(oracle.idf("hash") * tf / (dl + tf), rel=1e-9)


def test_multi_weighting_dispatch(ix, oracle):
    mw = MultiWeighting(default=BM25F(), fields={"text": Frequency()})
    s = Searcher(ix, mw)
    got = {r["doc_id"]: r["score"] for r in s.compile(Q.Term("text", "hash")).collect()}
    assert got == {i: float(oracle.tf[i]["hash"]) for i in oracle.matching("hash")}
    # role is dispatched to the default model (unscorable ID -> weight 1.0)
    got_role = {r["doc_id"]: r["score"] for r in s.compile(Q.Term("role", "tool")).collect()}
    assert got_role == {5: 1.0, 7: 1.0}


def test_multifield_parser_structure():
    p = MultifieldParser(["text", "lang"], documents_schema())
    q = p.parse("en", normalize=False)
    assert isinstance(q, Q.Or)
    assert {(c.fieldname, c.text) for c in q.subqueries} == {("text", "en"), ("lang", "en")}
    # explicit field pins; boosts apply per field
    q2 = MultifieldParser(["text", "lang"], documents_schema(),
                          fieldboosts={"text": 2.0}).parse("lang:en spark")
    assert isinstance(q2, Q.And)


def test_multifield_parser_executes(ix, searcher, oracle):
    from whoosh_spark.fields import ID, NUMERIC, TEXT, Schema

    p = MultifieldParser(["text", "role"], Schema(TEXT("text"), ID("role"), NUMERIC("n")))
    got = {r["doc_id"]: r["score"] for r in searcher.compile(p.parse("tool")).collect()}
    # no 'tool' token in any text; role:tool matches docs 5 and 7 at weight 1
    assert got == {5: 1.0, 7: 1.0}


def test_term_vector(ix, oracle):
    rows = ix.vector(3, "text").collect()
    got = [(r["term"], r["weight"]) for r in rows]
    exp = sorted((t, float(w)) for t, w in oracle.tf[3].items())
    assert got == exp


def test_sortedby_string_and_field_facet_equal(searcher):
    a = searcher.search(Q.Term("text", "spark"), sortedby="role", limit=None)
    b = searcher.search(Q.Term("text", "spark"), sortedby=[FieldFacet("role")], limit=None)
    assert [r["doc_id"] for r in a.collect()] == [r["doc_id"] for r in b.collect()]


def test_score_facet_orders_like_default(searcher):
    default = searcher.search(Q.Term("text", "spark"), limit=None)
    faceted = searcher.search(Q.Term("text", "spark"), sortedby=[ScoreFacet()], limit=None)
    assert [r["doc_id"] for r in default.collect()] == [
        r["doc_id"] for r in faceted.collect()
    ]


def test_function_facet_key(searcher):
    out = searcher.search(
        Q.Term("text", "spark"),
        sortedby=[FunctionFacet(lambda fns: fns.col("n") % 3, columns=("n",), name="k")],
        limit=None,
    ).collect()
    ks = [r["k"] for r in out]
    assert ks == sorted(ks)
    # ties broken by ascending doc_id
    for a, b in zip(out, out[1:]):
        if a["k"] == b["k"]:
            assert a["doc_id"] < b["doc_id"]


def test_stored_field_facet_reverse(searcher):
    out = searcher.search(
        Q.Term("text", "spark"), sortedby=[StoredFieldFacet("n", reverse=True)], limit=None
    ).collect()
    ns = [r["n"] for r in out]
    assert ns == sorted(ns, reverse=True)


def test_variations_is_or_over_present_forms(searcher, oracle):
    from whoosh_spark.query.nodes import variation_forms

    forms = variation_forms("merge")
    assert "merge" in forms and "merges" in forms and "merged" in forms
    got = {r["doc_id"]: r["score"] for r in searcher.compile(Q.Variations("text", "merge")).collect()}
    present = [t for t in forms if oracle.matching(t)]
    exp = oracle.or_scores(present)
    assert got.keys() == exp.keys()
    for i in exp:
        assert got[i] == pytest.approx(exp[i], rel=1e-9)


def test_final_weighting_hook(spark):
    """Named final() hook (reference: WeightingModel.final + use_final):
    the transform applies to the ACCUMULATED per-doc score before ordering,
    and final-hook models are rejected by the WAND fast path."""
    from pyspark.sql import functions as F

    from whoosh_spark import query as Q
    from whoosh_spark.fields import Schema, TEXT
    from whoosh_spark.indexing import build_index
    from whoosh_spark.search import BM25F, FinalWeighting, Searcher

    docs = spark.createDataFrame(
        [(0, "spark join"), (1, "spark spark join"), (2, "merge")],
        "doc_id long, text string",
    )
    ix = build_index(spark, docs, Schema(TEXT("text"))).persist()
    base = Searcher(ix, BM25F())
    fw = Searcher(ix, FinalWeighting(BM25F(), lambda s: s * 10 + 1))
    q = Q.Or([Q.Term("text", "spark"), Q.Term("text", "join")])
    a = {r.doc_id: r.score for r in base.search(q, limit=None).collect()}
    b = {r.doc_id: r.score for r in fw.search(q, limit=None).collect()}
    assert set(a) == set(b)
    for d in a:
        assert b[d] == pytest.approx(a[d] * 10 + 1, rel=1e-12)

    import pytest as _pt

    from whoosh_spark.indexing.segments import build_segments, open_segments
    from whoosh_spark.search.wand import wand_topk
    import tempfile

    path = tempfile.mkdtemp(prefix="ws_final_") + "/ix"
    build_segments(spark, docs, Schema(TEXT("text")), path, n_segments=1)
    six = open_segments(spark, path, docs, Schema(TEXT("text")))
    with _pt.raises(ValueError):
        wand_topk(six, "text", ["spark"], weighting=FinalWeighting(BM25F(), lambda s: -s))


def test_group_stats(spark):
    from pyspark.sql import functions as F

    from whoosh_spark import query as Q
    from whoosh_spark.fields import ID, NUMERIC, Schema, TEXT
    from whoosh_spark.indexing import build_index
    from whoosh_spark.search import Searcher

    docs = spark.createDataFrame(
        [(0, "spark fast", "en", 10), (1, "spark slow", "en", 30),
         (2, "spark mid", "de", 20), (3, "other", "en", 99),
         (4, "spark none", "fr", None)],
        "doc_id long, text string, lang string, n long")
    s = Searcher(build_index(spark, docs, Schema(TEXT("text"), ID("lang"),
                                                 NUMERIC("n"))))
    out = {r.lang: r for r in
           s.group_stats(Q.Term("text", "spark"), "lang", "n").collect()}
    assert set(out) == {"en", "de", "fr"}
    en = out["en"]
    assert (en.n, en.min_value, en.max_value, en.sum_value, en.avg_value) == \
        (2, 10.0, 30.0, 40.0, 20.0)
    # NULL value rows count toward n but not the numeric aggs
    fr = out["fr"]
    assert fr.n == 1 and fr.sum_value is None
    # bucket totals agree with group_counts
    counts = {r.lang: r["count"] for r in
              s.group_counts(Q.Term("text", "spark"), "lang").collect()}
    assert {k: v.n for k, v in out.items()} == counts
    # max_score is the bucket's best BM25 score
    best = {r.lang: r.score for r in
            s.group_best(Q.Term("text", "spark"), "lang").collect()}
    assert all(abs(out[k].max_score - best[k]) < 1e-12 for k in out)


def test_group_cardinality_and_quantiles(spark):
    from pyspark.sql import functions as F

    from whoosh_spark import query as Q
    from whoosh_spark.fields import ID, NUMERIC, Schema, TEXT
    from whoosh_spark.indexing import build_index
    from whoosh_spark.search import Searcher

    rows = [(i, "spark " + ("x" if i % 2 else "y"), f"src{i % 3}",
             "en" if i % 2 else "de", float(10 * (i % 7) + 5))
            for i in range(40)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string, v double")
    s = Searcher(build_index(spark, docs, Schema(
        TEXT("text"), ID("source"), ID("lang"), NUMERIC("v"))))
    q = Q.Term("text", "spark")
    # exact cardinality == ground truth
    card = {r.lang: r.distinct_count
            for r in s.group_cardinality(q, "lang", "source").collect()}
    truth = {r.lang: r.c for r in docs.groupBy("lang").agg(
        F.countDistinct("source").alias("c")).collect()}
    assert card == truth
    # hll tier agrees at tiny cardinality (exact-ish small-range path)
    hll = {r.lang: r.hll_estimate for r in
           s.group_cardinality(q, "lang", "source", exact=False).collect()}
    assert all(abs(hll[k] - truth[k]) < 0.5 for k in truth)
    # quantile estimates within the bucket-granularity bound of the
    # exact lower quantile per group
    est = {(r.lang, r.q): r.est for r in
           s.group_quantiles(q, "lang", "v", [0.5], scale=1.0,
                             subbits=5).collect()}
    import math
    for lang in ("en", "de"):
        vals = sorted(r[4] for r in rows if r[3] == lang)
        exact = vals[math.ceil(0.5 * len(vals)) - 1]
        assert exact * (1 - 2 ** -5) - 1.0 <= est[(lang, 0.5)] <= exact


def test_translate_facet(searcher):
    """TranslateFacet (sorting.py::TranslateFacet): fn applied to the
    wrapped facet's key; reverse inherited unless overridden."""
    from whoosh_spark.search.facets import TranslateFacet

    tf = TranslateFacet(lambda c: c % 3, FieldFacet("n"), name="k")
    out = searcher.search(Q.Term("text", "spark"), sortedby=[tf], limit=None).collect()
    ks = [r["k"] for r in out]
    assert ks == sorted(ks)
    for a, b in zip(out, out[1:]):
        if a["k"] == b["k"]:
            assert a["doc_id"] < b["doc_id"]
    # string shorthand wraps through as_facet; reverse inherits then flips
    rev = TranslateFacet(lambda c: c % 3, "n", name="k", reverse=True)
    out_r = searcher.search(Q.Term("text", "spark"), sortedby=[rev], limit=None).collect()
    assert [r["k"] for r in out_r] == sorted(ks, reverse=True)
    inh = TranslateFacet(lambda c: c % 3, FieldFacet("n", reverse=True), name="k")
    assert inh.reverse is True


def test_unnamed_computed_facets_keep_raw_columns_and_leak_no_slots(searcher):
    """An unnamed computed key (TranslateFacet, ScoreFacet) sorts
    through a positional slot: the raw doc column keeps its value
    and no ``_sk{i}`` column reaches the result schema — in search() and
    in sorted partials alike. Plain FieldFacet keys keep their name."""
    from whoosh_spark.search.facets import TranslateFacet

    q = Q.Term("text", "spark")
    tf = TranslateFacet(lambda c: c % 3, FieldFacet("n"))
    df = searcher.search(q, sortedby=[tf, ScoreFacet(), FieldFacet("role")],
                         limit=None)
    assert not [c for c in df.columns if c.startswith("_sk")]
    assert "role" in df.columns
    out = df.collect()
    raw = {d["doc_id"]: d["n"] for d in DOCS if "spark" in d["text"].split()}
    assert {r["doc_id"]: r["n"] for r in out} == raw  # untranslated values
    keys = [(r["n"] % 3, -r["score"], r["role"], r["doc_id"]) for r in out]
    assert keys == sorted(keys)

    part = searcher.search_with_time_limit(q, timelimit=120.0, limit=3,
                                           use_partials=True,
                                           sortedby=[tf, ScoreFacet()])
    assert part.partial is False
    assert [r["doc_id"] for r in part] == [r["doc_id"] for r in out[:3]]
    assert all(not k.startswith("_sk") for r in part for k in r.asDict())

    # only the slots assigned for unnamed keys are dropped: a key the
    # caller named ``_sk1`` stays in the result like any output_name
    named = TranslateFacet(lambda c: c % 3, FieldFacet("n"), name="_sk1")
    df = searcher.search(q, sortedby=[ScoreFacet(), named], limit=None)
    assert "_sk1" in df.columns and "_sk0" not in df.columns
    assert {r["doc_id"]: r["_sk1"] for r in df.collect()} == {
        d: n % 3 for d, n in raw.items()}
