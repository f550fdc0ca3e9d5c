"""Query percolation: standing queries vs incoming documents, batch kernel
and the foreachBatch streaming twin."""

import math

import pytest

from pyspark.sql import functions as F

from whoosh_spark import query as Q
from whoosh_spark.fields import ID, NUMERIC, Schema, TEXT
from whoosh_spark.streaming import percolate, percolate_stream

_SCHEMA = Schema(TEXT("text"), ID("lang"), NUMERIC("n_chars"))


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, n_chars long",
    )


QUERIES = {
    "has_spark": Q.Term("text", "spark"),
    "spark_and_join": Q.And([Q.Term("text", "spark"), Q.Term("text", "join")]),
    "hash_phrase": Q.Phrase("text", ["hash", "join"]),
}


def test_percolate_hand_case(spark):
    docs = _docs(
        spark,
        [
            (1, "spark shuffles data"),
            (2, "spark join strategies and the hash join"),
            (3, "join the hash club"),  # 'hash join' not adjacent in order
            (4, "nothing relevant here"),
        ],
    )
    out = percolate(spark, docs, QUERIES, schema=_SCHEMA)
    got = {(r.query_name, r.doc_id) for r in out.collect()}
    assert got == {
        ("has_spark", 1),
        ("has_spark", 2),
        ("spark_and_join", 2),
        ("hash_phrase", 2),
    }
    # scores are batch-local BM25: positive finite doubles
    assert all(
        r.score > 0 and math.isfinite(r.score) for r in out.collect()
    )


def test_percolate_empty_rules_and_membership_mode(spark):
    docs = _docs(spark, [(1, "spark")])
    assert percolate(spark, docs, {}, schema=_SCHEMA).count() == 0
    cols = percolate(
        spark, docs, {"q": Q.Term("text", "spark")}, schema=_SCHEMA,
        with_scores=False,
    ).columns
    assert cols == ["query_name", "doc_id"]


def test_percolate_full_query_surface(spark):
    # range + fuzzy + boolean-not rules through the same kernel
    docs = _docs(
        spark,
        [
            (1, "sparc processors"),          # fuzzy 'spark'~1
            (2, "short"),
            (3, "a much longer document body with many words inside"),
        ],
    )
    rules = {
        "fuzzy_spark": Q.FuzzyTerm("text", "spark", maxdist=1),
        "long_docs": Q.NumericRange("n_chars", 20, 10_000),
        "not_short": Q.Not(Q.Term("text", "short")),
    }
    got = {(r.query_name, r.doc_id) for r in percolate(spark, docs, rules, schema=_SCHEMA).collect()}
    assert ("fuzzy_spark", 1) in got
    assert {d for (q, d) in got if q == "long_docs"} == {3}
    assert {d for (q, d) in got if q == "not_short"} == {1, 3}


def test_percolate_stream_equals_batch(spark, tmp_path):
    src, out, ckpt = (str(tmp_path / p) for p in ("src", "out", "ckpt"))
    docs = spark.range(120).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("turn "),
            F.when(F.col("id") % 3 == 0, "spark join").otherwise("filler text"),
            F.when(F.col("id") % 5 == 0, F.lit(" hash join plan")).otherwise(F.lit("")),
        ).alias("text"),
        F.lit("en").alias("lang"),
        F.lit(42).alias("n_chars"),
    )
    docs.write.parquet(src)
    stream = spark.readStream.schema(
        "doc_id long, text string, lang string, n_chars long"
    ).parquet(src)
    q = percolate_stream(stream, QUERIES, out, ckpt, schema=_SCHEMA)
    q.awaitTermination(120)
    got = {
        (r.query_name, r.doc_id)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r.query_name, r.doc_id)
        for r in percolate(spark, spark.read.parquet(src), QUERIES, schema=_SCHEMA).collect()
    }
    assert got == want and len(got) > 40


# ---------------------------------------------------------------- indexed


def _corpus(spark, n=200):
    words = ["spark", "join", "hash", "merge", "window", "scan", "filter",
             "batch", "stream", "table"]
    return spark.createDataFrame(
        [(i, " ".join(words[(i + k) % len(words)] for k in range(1 + i % 5)),
          "en", 20) for i in range(n)],
        "doc_id long, text string, lang string, n_chars long",
    )


def test_percolate_indexed_bit_identical_to_plan_branches(spark):
    from whoosh_spark.streaming import percolate_indexed

    docs = _corpus(spark)
    rules = {
        "t": Q.Term("text", "spark"),
        "t_boost": Q.Term("text", "hash", boost=2.0),
        "a": Q.And([Q.Term("text", "spark"), Q.Term("text", "join")]),
        "o": Q.Or([Q.Term("text", "merge"), Q.Term("text", "window", boost=0.5)]),
        "o_min": Q.Or([Q.Term("text", "scan"), Q.Term("text", "filter"),
                       Q.Term("text", "batch")], minmatch=2),
        "a_boost": Q.And([Q.Term("text", "table"), Q.Term("text", "stream")],
                         boost=3.0),
    }
    a = {(r.query_name, r.doc_id): r.score
         for r in percolate(spark, docs, rules, schema=_SCHEMA).collect()}
    b = {(r.query_name, r.doc_id): r.score
         for r in percolate_indexed(spark, docs, rules, schema=_SCHEMA).collect()}
    assert a == b  # full-precision bit equality, same ordered fold
    assert len(a) > 100
    assert any(q == "o_min" for q, _ in a)


def test_percolate_indexed_zero_df_terms(spark):
    from whoosh_spark.streaming import percolate_indexed

    docs = _corpus(spark, 30)
    rules = {
        "and_dead": Q.And([Q.Term("text", "spark"), Q.Term("text", "zzznope")]),
        "or_alive": Q.Or([Q.Term("text", "spark"), Q.Term("text", "zzznope")]),
        "all_dead": Q.Term("text", "zzznope"),
    }
    got = {r.query_name for r in
           percolate_indexed(spark, docs, rules, schema=_SCHEMA).collect()}
    assert got == {"or_alive"}  # AND with an absent term can never match


def _rows(df):
    return {(r.query_name, r.doc_id): r.score for r in df.collect()}


def test_percolate_indexed_validation(spark):
    from whoosh_spark.streaming import percolate_indexed

    docs = _corpus(spark, 10)
    for rules in (
        # shapes the kernel cannot compile — foreign fields, Not, and
        # phrase sides mixed with deep boolean sides — take plan branches
        # inside percolate_indexed: the same rows as percolate()
        {"wrongfield": Q.Term("lang", "en")},
        {"wrongfield_deep": Q.And([
            Q.Or([Q.Term("text", "spark"), Q.Term("lang", "en")], boost=2.0),
            Q.Term("text", "join")])},
        {"not_inner": Q.Or([Q.Term("text", "spark"),
                            Q.Not(Q.Term("text", "join"))])},
        {"phrase_deep_mix": Q.AndNot(
            Q.Phrase("text", ["join", "hash"]),
            Q.And([Q.Or([Q.Term("text", "c"), Q.Term("text", "d")],
                        boost=2.0),
                   Q.Term("text", "e")]))},
    ):
        want = _rows(percolate(spark, docs, rules, schema=_SCHEMA))
        assert _rows(percolate_indexed(spark, docs, rules, schema=_SCHEMA)) == want
        assert want, f"{rules} matched nothing"
    assert percolate_indexed(spark, docs, {}, schema=_SCHEMA).count() == 0
    # duplicate children dedupe in normalize() BEFORE the flattener, so
    # Or([spark, spark]) runs as a plain Term rule
    dup = percolate_indexed(
        spark, docs,
        {"dup": Q.Or([Q.Term("text", "spark"), Q.Term("text", "spark")])},
        schema=_SCHEMA)
    term = percolate_indexed(
        spark, docs, {"dup": Q.Term("text", "spark")}, schema=_SCHEMA)
    assert sorted(map(tuple, dup.collect())) == sorted(map(tuple, term.collect()))


def test_percolate_indexed_large_rule_set(spark):
    """500 generated rules in ONE O(1)-size plan; a sampled subset must
    agree with the plan-branch tier exactly."""
    from whoosh_spark.streaming import percolate, percolate_indexed

    docs = _corpus(spark)
    words = ["spark", "join", "hash", "merge", "window", "scan", "filter",
             "batch", "stream", "table"]
    rules = {}
    for i in range(500):
        w1, w2 = words[i % 10], words[(i // 10) % 10]
        if w1 == w2:
            rules[f"r{i}"] = Q.Term("text", w1, boost=1.0 + (i % 3))
        elif i % 2:
            rules[f"r{i}"] = Q.And([Q.Term("text", w1), Q.Term("text", w2)])
        else:
            rules[f"r{i}"] = Q.Or([Q.Term("text", w1), Q.Term("text", w2)])
    out = percolate_indexed(spark, docs, rules, schema=_SCHEMA)
    got = {(r.query_name, r.doc_id): r.score for r in out.collect()}
    assert len({q for q, _ in got}) > 400
    sample = {k: rules[k] for k in ("r0", "r7", "r123", "r499")}
    want = {(r.query_name, r.doc_id): r.score
            for r in percolate(spark, docs, sample, schema=_SCHEMA).collect()}
    assert {kv for kv in got.items() if kv[0][0] in sample} == set(want.items())


def test_percolate_indexed_andnot_require_parity(spark):
    """AndNot/Require rules through the indexed tier: bit-identical to the
    plan-branch tier (executor left_anti / left_semi semantics)."""
    from whoosh_spark.streaming import percolate, percolate_indexed

    docs = _corpus(spark)
    rules = {
        "n1": Q.AndNot(Q.Term("text", "spark"), Q.Term("text", "join")),
        "n2": Q.AndNot(
            Q.Or([Q.Term("text", "merge"), Q.Term("text", "window")]),
            Q.And([Q.Term("text", "scan"), Q.Term("text", "filter")])),
        "n3": Q.AndNot(Q.Term("text", "hash"), Q.Term("text", "zzznope")),
        "r1": Q.Require(Q.Term("text", "spark"), Q.Term("text", "join")),
        "r2": Q.Require(
            Q.And([Q.Term("text", "merge"), Q.Term("text", "window")]),
            Q.Or([Q.Term("text", "batch"), Q.Term("text", "stream")])),
        "r3": Q.Require(Q.Term("text", "hash"), Q.Term("text", "zzznope")),
        "b": Q.AndNot(Q.Term("text", "spark", boost=2.0),
                      Q.Term("text", "join")),
    }
    a = {(r.query_name, r.doc_id): r.score
         for r in percolate(spark, docs, rules, schema=_SCHEMA).collect()}
    b = {(r.query_name, r.doc_id): r.score
         for r in percolate_indexed(spark, docs, rules, schema=_SCHEMA).collect()}
    assert a == b
    # sanity on semantics: n3 (exclude an absent term) == plain term set;
    # r3 (require an absent term) is empty
    names = {q for q, _ in a}
    assert "n3" in names and "r3" not in names
    # AndNot really excludes: some spark docs contain join
    spark_only = {d for q, d in a if q == "n1"}
    plain = {r.doc_id for r in percolate(
        spark, docs, {"t": Q.Term("text", "spark")}, schema=_SCHEMA).collect()}
    assert spark_only < plain


def test_percolate_indexed_phrase_parity(spark):
    """Phrase rules through the indexed tier: the positional chain closes
    inside the (rule, doc) group — bit-identical to the plan-branch tier
    incl. slop, boost, and an AndNot with a phrase a-side."""
    from whoosh_spark.streaming import percolate, percolate_indexed

    docs = _corpus(spark)
    rules = {
        "p1": Q.Phrase("text", ["join", "hash"]),
        "p_slop": Q.Phrase("text", ["merge", "scan"], slop=2),
        "p_boost": Q.Phrase("text", ["join", "hash"], boost=2.5),
        "p3": Q.Phrase("text", ["scan", "filter", "batch"]),
        "p_missing": Q.Phrase("text", ["hash", "zzznope"]),
        "mix_flat": Q.Or([Q.Term("text", "spark"), Q.Term("text", "batch")]),
        "andnot_pa": Q.AndNot(Q.Phrase("text", ["join", "hash"]),
                              Q.Term("text", "table")),
    }
    a = {(r.query_name, r.doc_id): r.score
         for r in percolate(spark, docs, rules, schema=_SCHEMA).collect()}
    b = {(r.query_name, r.doc_id): r.score
         for r in percolate_indexed(spark, docs, rules, schema=_SCHEMA).collect()}
    assert a == b
    names = {q for q, _ in a}
    assert "p1" in names and "p_missing" not in names
    # a phrase is stricter than its AND: every phrase doc contains both
    # words but not vice versa (corpus has non-adjacent co-occurrences)
    p1 = {d for q, d in a if q == "p1"}
    both = {r.doc_id for r in percolate(
        spark, docs,
        {"t": Q.And([Q.Term("text", "join"), Q.Term("text", "hash")])},
        schema=_SCHEMA).collect()}
    assert p1 <= both


def test_percolate_indexed_phrase_b_side_and_dup_words(spark):
    """r4: the two shapes that used to raise toward the plan-branch tier
    — a Phrase on the AndNot/Require b-side and duplicate-word phrases —
    are now indexed-tier paths, bit-identical to percolate(). One
    awkward rule among 100k standing queries must not force the
    O(rules)-plan tier (VERDICT r3 #6)."""
    from whoosh_spark.streaming import percolate, percolate_indexed

    # _corpus rotates distinct words; add docs with REPEATED words so the
    # duplicate-word rules have something to match
    docs = _corpus(spark).unionByName(_docs(spark, [
        (900, "join the big join table"),
        (901, "hash stuff hash table hash"),
        (902, "spark join join hash"),
    ]))
    rules = {
        # phrase b-sides: excluded / required, slopped, absent-word
        "np": Q.AndNot(Q.Term("text", "spark"),
                       Q.Phrase("text", ["join", "hash"])),
        "np_slop": Q.AndNot(Q.Or([Q.Term("text", "merge"),
                                  Q.Term("text", "window")]),
                            Q.Phrase("text", ["merge", "scan"], slop=2)),
        "np_dead": Q.AndNot(Q.Term("text", "hash"),
                            Q.Phrase("text", ["hash", "zzznope"])),
        "rp": Q.Require(Q.Term("text", "spark"),
                        Q.Phrase("text", ["join", "hash"])),
        "rp_dead": Q.Require(Q.Term("text", "hash"),
                             Q.Phrase("text", ["hash", "zzznope"])),
        # phrase a-side AND phrase b-side in one rule
        "pp": Q.AndNot(Q.Phrase("text", ["join", "hash"]),
                       Q.Phrase("text", ["scan", "filter"])),
        # duplicate-word phrases: two distinct occurrences required
        "dup": Q.Phrase("text", ["join", "join"]),
        "dup_slop": Q.Phrase("text", ["hash", "hash"], slop=3),
        "dup_b": Q.Require(Q.Term("text", "spark"),
                           Q.Phrase("text", ["join", "join"])),
    }
    a = {(r.query_name, r.doc_id): r.score
         for r in percolate(spark, docs, rules, schema=_SCHEMA).collect()}
    b = {(r.query_name, r.doc_id): r.score
         for r in percolate_indexed(spark, docs, rules, schema=_SCHEMA).collect()}
    assert a == b
    names = {q for q, _ in a}
    # an unmatchable b-phrase: AndNot == plain a; Require == empty
    assert "np_dead" in names and "rp_dead" not in names
    # the phrase b really excludes positionally: np keeps spark docs whose
    # 'join hash' words co-occur NON-adjacently (the AND would drop them)
    np_docs = {d for q, d in a if q == "np"}
    and_b = {(r.query_name, r.doc_id)
             for r in percolate(
                 spark, docs,
                 {"x": Q.AndNot(Q.Term("text", "spark"),
                                Q.And([Q.Term("text", "join"),
                                       Q.Term("text", "hash")]))},
                 schema=_SCHEMA).collect()}
    assert {d for _, d in and_b} <= np_docs
    # duplicate-word semantics: 'join join' adjacent only in doc 902;
    # two 'hash' within slop 3 only in doc 901; the dup b-side requires
    # doc 902's double join
    assert {d for q, d in a if q == "dup"} == {902}
    assert {d for q, d in a if q == "dup_slop"} == {901}
    assert {d for q, d in a if q == "dup_b"} == {902}


def test_percolate_stream_indexed_tier(spark, tmp_path):
    """Each micro-batch runs the large-rule-set kernel: results == the
    batch indexed tier == the plan-branch tier, and the per-batch index
    cache is released after each batch."""
    from whoosh_spark.streaming import percolate_indexed, percolate_stream

    docs = _corpus(spark, 60)
    src, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    docs.repartition(3).write.parquet(src)
    rules = {
        "t": Q.Term("text", "spark"),
        "a": Q.And([Q.Term("text", "join"), Q.Term("text", "hash")]),
        "p": Q.Phrase("text", ["join", "hash"]),
    }
    stream = (spark.readStream.schema(spark.read.parquet(src).schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = percolate_stream(stream, rules, out, ckpt, schema=_SCHEMA)
    q.processAllAvailable()
    q.stop()
    got = {(r.query_name, r.doc_id)
           for r in spark.read.parquet(out).collect()}
    # scores are batch-local (per-micro-batch stats), so the cross-check
    # is MEMBERSHIP: the union over batches equals the whole-corpus
    # match set of the batch indexed tier (a match is decided by the
    # batch's own postings, which always contain the doc's own terms)
    whole = {(r.query_name, r.doc_id)
             for r in percolate_indexed(spark, docs, rules,
                                        schema=_SCHEMA).collect()}
    assert got == whole and len(got) > 20


def test_percolate_stream_not_rule_matches_batch(spark, tmp_path):
    """A Not rule (a plan branch inside each micro-batch) streams beside a
    kernel rule and matches percolate(); a final()-hook weighting still
    fails at start() time, not as a mid-run StreamingQueryException."""
    from whoosh_spark.search.scoring import BM25F, FinalWeighting
    from whoosh_spark.streaming import percolate_stream

    src, out = str(tmp_path / "in"), str(tmp_path / "out")
    docs = _corpus(spark, 30)
    docs.write.parquet(src)
    rules = {"not_rule": Q.Or([Q.Term("text", "spark"),
                               Q.Not(Q.Term("text", "join"))]),
             "t": Q.Term("text", "hash")}
    stream = (spark.readStream.schema(spark.read.parquet(src).schema)
              .parquet(src))
    with pytest.raises(ValueError, match="final"):
        percolate_stream(stream, rules, out, str(tmp_path / "ck0"),
                         schema=_SCHEMA,
                         weighting=FinalWeighting(BM25F(), lambda s: s))
    q = percolate_stream(stream, rules, out, str(tmp_path / "ck"),
                         schema=_SCHEMA, with_scores=False)
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.columns == ["query_name", "doc_id", "_batch_id"]
    want = set(_rows(percolate(spark, docs, rules, schema=_SCHEMA)))
    assert {(r.query_name, r.doc_id) for r in got.collect()} == want
    assert {n for n, _ in want} == {"not_rule", "t"}


def test_percolate_indexed_or_scale_parity(spark):
    # Or(scale=) coord weighting in the indexed tier: bit-identical to
    # the plan-branch tier (and hence to Searcher.compile) across plain,
    # boosted, minmatch, and AndNot-a-side scaled rules
    from whoosh_spark.streaming import percolate, percolate_indexed

    docs = _corpus(spark)
    rules = {
        "sc": Q.Or([Q.Term("text", "merge"), Q.Term("text", "window")],
                   scale=0.5),
        "sc_boost": Q.Or([Q.Term("text", "spark"),
                          Q.Term("text", "hash", boost=2.0)],
                         scale=0.9, boost=3.0),
        "sc_min": Q.Or([Q.Term("text", "scan"), Q.Term("text", "filter"),
                        Q.Term("text", "batch")], scale=0.25, minmatch=2),
        "sc_andnot": Q.AndNot(
            Q.Or([Q.Term("text", "join"), Q.Term("text", "table")],
                 scale=0.75),
            Q.Term("text", "stream")),
    }
    a = {(r.query_name, r.doc_id): r.score
         for r in percolate(spark, docs, rules, schema=_SCHEMA).collect()}
    b = {(r.query_name, r.doc_id): r.score
         for r in percolate_indexed(spark, docs, rules, schema=_SCHEMA).collect()}
    assert a == b  # full-precision bit equality
    assert len(a) > 50
    # a partially-matched scaled group scores LOWER than unscaled: find a
    # doc matching exactly one of the two "sc" children and check the
    # coord factor (1-s) + s*1/2 = 0.75 applied vs the unscaled twin
    plain = {(r.query_name, r.doc_id): r.score
             for r in percolate(
                 spark, docs,
                 {"p": Q.Or([Q.Term("text", "merge"),
                             Q.Term("text", "window")])},
                 schema=_SCHEMA).collect()}
    import math
    partial = [d for (q, d) in a if q == "sc"
               and not math.isclose(a[("sc", d)], plain[("p", d)])]
    assert partial, "expected at least one partially-matching doc"
    for d in partial[:5]:
        assert math.isclose(a[("sc", d)], plain[("p", d)] * 0.75, rel_tol=1e-12)


def test_percolate_indexed_two_level_parity(spark):
    # TWO-LEVEL trees in the indexed tier: CNF (And-of-Ors) and DNF
    # (Or-of-Ands) rules bit-identical to the plan-branch tier across
    # inner minmatch, leaf boosts, outer boost/minmatch/scale combos
    from whoosh_spark.streaming import percolate, percolate_indexed

    docs = _corpus(spark)
    rules = {
        "cnf": Q.And([Q.Or([Q.Term("text", "merge"), Q.Term("text", "window")]),
                      Q.Term("text", "spark")]),
        "cnf_min": Q.And([
            Q.Or([Q.Term("text", "scan"), Q.Term("text", "filter"),
                  Q.Term("text", "batch")], minmatch=2),
            Q.Or([Q.Term("text", "table"), Q.Term("text", "merge")])]),
        "cnf_leafboost": Q.And([
            Q.Or([Q.Term("text", "table", boost=2.0), Q.Term("text", "stream")]),
            Q.Term("text", "spark", boost=0.5)], boost=3.0),
        "dnf": Q.Or([Q.And([Q.Term("text", "hash"), Q.Term("text", "join")]),
                     Q.Term("text", "window")]),
        "dnf_min": Q.Or([Q.And([Q.Term("text", "merge"), Q.Term("text", "scan")]),
                         Q.And([Q.Term("text", "filter"), Q.Term("text", "batch")]),
                         Q.Term("text", "stream")], minmatch=2),
        "dnf_scale": Q.Or([Q.And([Q.Term("text", "spark"), Q.Term("text", "table")]),
                           Q.Term("text", "filter")], scale=0.5),
    }
    a = {(r.query_name, r.doc_id): r.score
         for r in percolate(spark, docs, rules, schema=_SCHEMA).collect()}
    b = {(r.query_name, r.doc_id): r.score
         for r in percolate_indexed(spark, docs, rules, schema=_SCHEMA).collect()}
    assert a == b  # full-precision bit equality
    for name in rules:
        assert any(q == name for q, _ in a), f"{name} matched nothing"
    # semantic spot-check: a doc matching only the partial And of "dnf"
    # (hash without join) must NOT appear under dnf unless window hits
    docs_terms = {r.doc_id: set(r.text.split()) for r in docs.collect()}
    for (q, d) in a:
        if q == "dnf":
            t = docs_terms[d]
            assert ("window" in t) or ("hash" in t and "join" in t)


def test_percolate_indexed_two_level_b_side_parity(spark):
    # TWO-LEVEL b-sides on AndNot/Require: b matches on its
    # satisfied-group count, bit-identical to the executor's
    # left_anti/left_semi over the fully-compiled b tree
    from whoosh_spark.streaming import percolate, percolate_indexed

    docs = _corpus(spark)
    rules = {
        "not_cnf": Q.AndNot(
            Q.Term("text", "spark"),
            Q.And([Q.Or([Q.Term("text", "join"), Q.Term("text", "hash")]),
                   Q.Term("text", "merge")])),
        "req_dnf": Q.Require(
            Q.Term("text", "window"),
            Q.Or([Q.And([Q.Term("text", "scan"), Q.Term("text", "filter")]),
                  Q.Term("text", "merge")])),
        "not_dnf_min": Q.AndNot(
            Q.Or([Q.Term("text", "table"), Q.Term("text", "stream")]),
            Q.Or([Q.And([Q.Term("text", "hash"), Q.Term("text", "join")]),
                  Q.Term("text", "scan")], minmatch=2)),
    }
    a = {(r.query_name, r.doc_id): r.score
         for r in percolate(spark, docs, rules, schema=_SCHEMA).collect()}
    b = {(r.query_name, r.doc_id): r.score
         for r in percolate_indexed(spark, docs, rules, schema=_SCHEMA).collect()}
    assert a == b  # full-precision bit equality
    for name in rules:
        assert any(q == name for q, _ in a), f"{name} matched nothing"


def test_percolate_indexed_deep_tree_parity(spark):
    # ARBITRARY-DEPTH rule trees (VERDICT r4 #4): 3- and 4-level
    # And/Or/DisMax/AndMaybe/AndNot/Require nests, inner-node
    # boost/minmatch/scale/tiebreak, and duplicate terms across
    # subtrees all compile to the post-order program path — and stay
    # bit-identical to the plan-branch tier.
    from whoosh_spark.streaming import percolate, percolate_indexed

    def T(t, **kw):
        return Q.Term("text", t, **kw)

    docs = _corpus(spark)
    rules = {
        "three_level": Q.And([
            Q.Or([Q.And([T("hash"), T("join")]), T("spark", boost=2.0)]),
            T("merge")]),
        "four_level": Q.Or([
            Q.And([Q.Or([Q.And([T("hash"), T("join")]), T("scan")]),
                   T("merge")]),
            T("batch", boost=0.5)]),
        "inner_boost_or": Q.And([Q.Or([T("spark"), T("table")], boost=3.0),
                                 T("stream")]),
        "inner_scale_min": Q.And([
            Q.Or([T("spark"), T("merge"), T("filter")], scale=0.5, minmatch=2),
            T("join")]),
        "inner_dismax": Q.And([
            Q.DisjunctionMax([T("spark"), T("hash")], tiebreak=0.3),
            T("join")]),
        "inner_andmaybe": Q.Or([Q.AndMaybe(T("hash", boost=2.0), T("join")),
                                T("merge")], scale=0.25),
        "inner_andnot": Q.Or([Q.AndNot(T("spark"), T("scan")),
                              Q.And([T("spark"), T("filter")])]),
        "inner_require": Q.And([Q.Require(T("batch"), T("table")),
                                T("stream")]),
        "dup_terms": Q.Or([Q.And([T("spark"), T("join")]),
                           Q.And([T("spark"), T("hash")])]),
        "top_andmaybe": Q.AndMaybe(T("merge"), T("scan")),
        # flat controls riding the same broadcast
        "flat_and": Q.And([T("hash"), T("join")]),
        "flat_or_min": Q.Or([T("scan"), T("filter"), T("batch")], minmatch=2),
    }
    a = {(r.query_name, r.doc_id): r.score
         for r in percolate(spark, docs, rules, schema=_SCHEMA).collect()}
    b = {(r.query_name, r.doc_id): r.score
         for r in percolate_indexed(spark, docs, rules, schema=_SCHEMA).collect()}
    assert a == b  # full-precision bit equality
    for name in rules:
        assert any(q == name for q, _ in a), f"{name} matched nothing"


def test_percolate_indexed_deep_zero_df_and_boundaries(spark):
    # a zero-df leaf inside a deep AND kills only that branch; inside a
    # deep OR the other branch still fires; phrase-mixed-with-deep and
    # an inner Not take plan branches with the same rows as percolate()
    from whoosh_spark.streaming import percolate, percolate_indexed

    def T(t, **kw):
        return Q.Term("text", t, **kw)

    docs = _corpus(spark)
    rules = {
        "dead_and_branch": Q.Or([Q.And([T("zzz_nope"), T("spark")]),
                                 Q.And([T("hash"), T("join", boost=2.0)])]),
        "all_dead": Q.And([Q.Or([T("zzz_nope"), T("qqq_nope")], boost=2.0),
                           T("spark")]),
    }
    a = {(r.query_name, r.doc_id): r.score
         for r in percolate(spark, docs, rules, schema=_SCHEMA).collect()}
    b = {(r.query_name, r.doc_id): r.score
         for r in percolate_indexed(spark, docs, rules, schema=_SCHEMA).collect()}
    assert a == b
    assert any(q == "dead_and_branch" for q, _ in b)
    assert not any(q == "all_dead" for q, _ in b)

    beyond = {
        # phrase a-side with a deep boolean b-side
        "mix": Q.AndNot(
            Q.Phrase("text", ["join", "hash"]),
            Q.And([Q.Or([T("spark"), T("merge")], boost=2.0), T("scan")])),
        # Not is not per-doc-local over present leaves
        "n": Q.And([T("spark"), Q.Or([T("x"), Q.Not(T("join"))])]),
    }
    want = _rows(percolate(spark, docs, beyond, schema=_SCHEMA))
    assert _rows(percolate_indexed(spark, docs, beyond, schema=_SCHEMA)) == want
    assert {q for q, _ in want} == {"mix", "n"}


def test_percolate_indexed_routes_each_rule_by_shape(spark):
    """One rule dict mixing kernel rules with rules only plan branches
    compile (range, prefix, inner Not, foreign field, a phrase a-side
    with a deep b-side): the union is bit-identical to percolate(), also
    on a batch where no kernel term occurs but plan-branch rules match."""
    from whoosh_spark.search.scoring import BM25F, FinalWeighting
    from whoosh_spark.streaming import percolate_indexed
    from whoosh_spark.streaming.percolate import _kernel_rule, _NotKernel

    def T(t, **kw):
        return Q.Term("text", t, **kw)

    def b_side(boost):
        return Q.And([Q.Or([T("scan"), T("filter")], boost=boost), T("batch")])

    join_hash = Q.Phrase("text", ["join", "hash"])
    rules = {
        "flat": Q.And([T("spark"), T("join")]),
        "phrase": join_hash,
        "phrase_two_level_b": Q.AndNot(join_hash, b_side(1.0)),
        "deep": Q.Or([Q.And([T("merge"), T("window")], boost=2.0), T("table")]),
        "range": Q.NumericRange("n_chars", 15, 25),
        "prefix": Q.Prefix("text", "str"),
        "inner_not": Q.And([T("spark"), Q.Or([T("hash"), Q.Not(T("join"))])]),
        "foreign": Q.Term("lang", "en"),
        "phrase_deep_b": Q.AndNot(join_hash, b_side(2.0)),
    }
    branches = set()
    for name, q in rules.items():
        try:
            _kernel_rule(q.normalize(), "text")
        except _NotKernel:
            branches.add(name)
    assert branches == {"range", "prefix", "inner_not", "foreign",
                        "phrase_deep_b"}

    want = _rows(percolate(spark, _corpus(spark), rules, schema=_SCHEMA))
    assert _rows(percolate_indexed(spark, _corpus(spark), rules,
                                   schema=_SCHEMA)) == want
    assert {q for q, _ in want} == set(rules)
    # no kernel term occurs in this batch (n_chars 14 and 19)
    quiet = _docs(spark, [(500, "zebra crossing"), (501, "strange quiet words")])
    want = _rows(percolate(spark, quiet, rules, schema=_SCHEMA))
    assert _rows(percolate_indexed(spark, quiet, rules, schema=_SCHEMA)) == want
    assert set(want) == {("range", 501), ("prefix", 501), ("foreign", 500),
                         ("foreign", 501)}
    with pytest.raises(ValueError, match="final"):
        percolate_indexed(spark, quiet, rules, schema=_SCHEMA,
                          weighting=FinalWeighting(BM25F(), lambda s: s))


def test_percolate_indexed_deep_tree_fuzz(spark):
    """Randomized composition net for the deep-tree program path: 40
    random boolean trees (depth <= 4, every supported node type, random
    boosts/minmatch/scale/tiebreak, duplicate terms allowed) must be
    bit-identical between the stack-machine tier and the plan-branch
    tier. Catches composition bugs (e.g. DisMax under AndNot under Or)
    no hand-written case covers."""
    import random

    from whoosh_spark.streaming import percolate, percolate_indexed

    rng = random.Random(20260821)
    words = ["spark", "join", "hash", "merge", "window", "scan", "filter",
             "batch", "stream", "table"]

    def term():
        boost = rng.choice([1.0, 1.0, 2.0, 0.5, 3.0])
        return Q.Term("text", rng.choice(words), boost=boost)

    def tree(depth):
        if depth <= 0 or rng.random() < 0.35:
            return term()
        kind = rng.randrange(6)
        kids = [tree(depth - 1) for _ in range(rng.randrange(2, 4))]
        boost = rng.choice([1.0, 1.0, 1.5, 0.5])
        if kind == 0:
            return Q.And(kids, boost=boost)
        if kind == 1:
            mm = rng.choice([0, 0, 2])
            sc = rng.choice([None, None, 0.5, 0.25])
            return Q.Or(kids, boost=boost, minmatch=mm, scale=sc)
        if kind == 2:
            tb = rng.choice([0.0, 0.0, 0.3])
            return Q.DisjunctionMax(kids, boost=boost, tiebreak=tb)
        if kind == 3:
            return Q.AndMaybe(kids[0], kids[1])
        if kind == 4:
            return Q.AndNot(kids[0], kids[1])
        return Q.Require(kids[0], kids[1])

    docs = _corpus(spark)
    rules = {}
    i = 0
    while len(rules) < 40:
        q = tree(4).normalize()
        if isinstance(q, Q.NullQuery):
            continue
        rules[f"f{i}"] = q
        i += 1
    a = {(r.query_name, r.doc_id): r.score
         for r in percolate(spark, docs, rules, schema=_SCHEMA).collect()}
    b = {(r.query_name, r.doc_id): r.score
         for r in percolate_indexed(spark, docs, rules,
                                    schema=_SCHEMA).collect()}
    assert a == b  # full-precision bit equality
    # the net must actually exercise matching rules, not 40 dead trees
    assert len({q for q, _ in a}) >= 10


def test_deep_min_leaves_bound_is_sound():
    """Property: for random deep trees, ANY leaf-presence subset that
    satisfies the root contains at least _deep_min_leaves(tree) present
    leaves — i.e. the kernel's prune can never drop a matching group.
    Pure-Python: tree semantics evaluated directly over presence sets."""
    import random

    from whoosh_spark.streaming.percolate import _deep_min_leaves

    rng = random.Random(5)
    words = [f"w{i}" for i in range(12)]

    def tree(depth):
        if depth <= 0 or rng.random() < 0.3:
            return Q.Term("text", rng.choice(words))
        kind = rng.randrange(6)
        kids = [tree(depth - 1) for _ in range(rng.randrange(2, 4))]
        if kind == 0:
            return Q.And(kids)
        if kind == 1:
            return Q.Or(kids, minmatch=rng.choice([0, 2]))
        if kind == 2:
            return Q.DisjunctionMax(kids)
        if kind == 3:
            return Q.AndMaybe(kids[0], kids[1])
        if kind == 4:
            return Q.AndNot(kids[0], kids[1])
        return Q.Require(kids[0], kids[1])

    def leaves(q, acc):
        # DFS leaf slots, mirroring _deep_rule's numbering
        if isinstance(q, Q.Term):
            acc.append(q)
        elif isinstance(q, (Q.And, Q.Or, Q.DisjunctionMax)):
            for k in q.subqueries:
                leaves(k, acc)
        else:
            leaves(q.a, acc)
            leaves(q.b, acc)
        return acc

    def sat(q, present, counter):
        # present: per-slot booleans consumed in DFS order (duplicate
        # terms are distinct slots, like the kernel's broadcast rows)
        if isinstance(q, Q.Term):
            i = counter[0]
            counter[0] += 1
            return present[i]
        if isinstance(q, Q.And):
            vals = [sat(k, present, counter) for k in q.subqueries]
            return all(vals)
        if isinstance(q, Q.Or):
            vals = [sat(k, present, counter) for k in q.subqueries]
            return sum(vals) >= max(int(q.minmatch or 1), 1)
        if isinstance(q, Q.DisjunctionMax):
            vals = [sat(k, present, counter) for k in q.subqueries]
            return any(vals)
        if isinstance(q, Q.AndMaybe):
            a = sat(q.a, present, counter)
            sat(q.b, present, counter)
            return a
        if isinstance(q, Q.AndNot):
            a = sat(q.a, present, counter)
            b = sat(q.b, present, counter)
            return a and not b
        a = sat(q.a, present, counter)
        b = sat(q.b, present, counter)
        return a and b  # Require

    checked_sat = 0
    for _ in range(300):
        t = tree(3)
        n = len(leaves(t, []))
        bound = _deep_min_leaves(t)
        assert 0 <= bound <= n
        for _ in range(40):
            present = [rng.random() < 0.4 for _ in range(n)]
            if sat(t, present, [0]):
                checked_sat += 1
                assert sum(present) >= bound, (t, present, bound)
    assert checked_sat > 500  # the net must exercise satisfying subsets
