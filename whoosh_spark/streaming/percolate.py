"""Query percolation: match incoming documents against a registered set
of standing queries — the INVERSE of search (alerting / routing: "which
of my saved searches does this new document satisfy?"). Whoosh has no
percolator; this is part of the streaming extension over the same engine
(the shape popularized by Elasticsearch's percolate API).

Both batch calls analyze + index the incoming batch ONCE through the
same verified build path as the main engine (``build_index`` —
mapInArrow analyzer, postings + stats frames), persist that per-batch
index, and score with its batch-local BM25 stats (a percolation batch IS
the corpus for alerting purposes).

- ``percolate`` compiles every rule to its own plan branch
  (``Searcher.compile``) over the shared postings and unions the tagged
  match sets into ONE Spark action: the full query surface, one branch
  per rule. It is the reference the kernel below is tested against.
- ``percolate_indexed`` takes the same rules and routes each one by its
  shape. **Kernel rules** ride as broadcast DATA joined onto one scored
  postings scan, so the plan is O(1) in the rule count: flat Term/And/Or
  rows, Phrase chains, two-level And-of-Ors / Or-of-Ands, AndNot/Require
  whose b is one of those, and arbitrary-depth And / Or / DisjunctionMax
  / AndMaybe / AndNot / Require trees of Terms (stack-machine programs).
  **Every other rule** takes a ``percolate`` plan branch over the same
  index and weighting: a leaf on a field other than ``fieldname``,
  Not / Otherwise, range / prefix / wildcard / fuzzy leaves, a Phrase
  side mixed with a deep boolean side, or a rule beyond the kernel's
  24/12/12-bit (slot, group, group-req) pack. The two outputs are
  unioned, and both are bit-identical to ``percolate``.

Streaming twin: ``percolate_stream`` runs ``percolate_indexed`` per
micro-batch via ``foreachBatch``, appends matches to a parquet sink and
releases the batch's index; streaming == batch is pinned in
tests/test_percolate.py via an availableNow run over the same rows.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whoosh_spark import query as Q
from whoosh_spark.fields import Schema, documents_schema
from whoosh_spark.indexing import build_index
from whoosh_spark.search import Searcher
from whoosh_spark.search.scoring import BM25F

__all__ = ["percolate", "percolate_indexed", "percolate_stream"]


def _empty(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], "query_name string, doc_id long, score double")


def percolate(
    spark: SparkSession,
    docs: DataFrame,
    queries: dict[str, Q.Query],
    schema: Schema | None = None,
    with_scores: bool = True,
) -> DataFrame:
    """Match every standing query against ``docs`` ->
    (query_name, doc_id[, score]): one row per (query, matching doc).

    ``queries`` may be arbitrary compiled trees (boolean, phrase, range,
    fuzzy, ...) — the full query surface of the engine applies. Scores
    are the per-batch BM25 scores (stats are batch-local: a percolation
    batch IS the corpus for alerting purposes); pass
    ``with_scores=False`` for pure membership.
    """
    if not queries:
        return _empty(spark)
    # persist the analyzed frames for the duration of the multi-query
    # union — every branch shares the same postings scan
    ix = build_index(spark, docs, schema or documents_schema()).persist()
    return _plan_branches(ix, queries, with_scores)


def _plan_branches(ix, queries, with_scores=True, weighting=None) -> DataFrame:
    """One ``Searcher.compile`` branch per rule over ``ix``, unioned."""
    s = Searcher(ix, weighting)
    branches = []
    for name, q in queries.items():
        cols = [F.lit(name).alias("query_name"), "doc_id"]
        if with_scores:
            cols.append(F.col("score"))
        branches.append(s.compile(q).select(*cols))
    return reduce(DataFrame.unionByName, branches)


def _kernel_weighting(weighting):
    w = weighting or BM25F()
    if getattr(w, "use_final", False):
        raise ValueError("final()-hook weightings are per-result-set; "
                         "use percolate()")
    return w


def percolate_stream(
    stream_docs: DataFrame,
    queries: dict[str, Q.Query],
    out_path: str,
    checkpoint: str,
    schema: Schema | None = None,
    with_scores: bool = True,
    available_now: bool = True,
    fieldname: str = "text",
    weighting=None,
):
    """Percolate a document STREAM: each micro-batch runs
    :func:`percolate_indexed` and appends (query_name, doc_id[, score],
    _batch_id) parquet rows to ``out_path``. Returns the started
    StreamingQuery (caller awaits / stops). State is per-batch only —
    percolation is stateless across batches by definition, so no
    watermark is needed and a restart resumes cleanly from the
    checkpoint's source offsets.
    """
    # a final()-hook weighting fails here, at start() time, not as a
    # mid-run StreamingQueryException from the first micro-batch
    w = _kernel_weighting(weighting)

    def _one_batch(bdf: DataFrame, batch_id: int) -> None:
        out, ix = _percolate_indexed_with_ix(
            bdf.sparkSession, bdf, queries, schema, fieldname, w)
        if not with_scores:
            out = out.drop("score")
        try:
            (out.withColumn("_batch_id", F.lit(batch_id))
                .write.mode("append").parquet(out_path))
        finally:
            if ix is not None:
                ix.unpersist()  # per-batch cache; percolation is stateless

    writer = (
        stream_docs.writeStream.foreachBatch(_one_batch)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


class _NotKernel(Exception):
    """A rule shape the kernel cannot compile: the rule takes a plan
    branch (``_flat_rule`` raising it falls back to ``_deep_rule`` first)."""


@dataclass
class _Rule:
    """One standing rule compiled for the kernel. Every row list holds
    (term, slot, leaf_boost, group, group_req) rows: ``pos`` rows score
    (role 0); ``neg`` (AndNot.b, role 1) and ``req`` (Require.b, role 2)
    rows are pure match sets with leaf_boost 0.0. A side matches when
    >= its ``*required`` groups are satisfied; a ``*slop`` marks a Phrase
    side; ``scale``/``n_children`` are the a-side's Or(scale=) coord. A
    deep rule carries its whole tree, b-sides included, in ``prog`` (every
    leaf a role-0 row, n_required 0, boost 1.0 — the program carries all
    boosts) and its prune bound in ``minl``."""
    pos: list
    n_required: int = 0
    rboost: float = 1.0
    slop: int | None = None
    scale: float | None = None
    n_children: float | None = None
    neg: list = field(default_factory=list)
    neg_required: int | None = None
    neg_slop: int | None = None
    req: list = field(default_factory=list)
    req_required: int | None = None
    req_slop: int | None = None
    prog: list | None = None
    minl: int = 0

    # flat-rule fast path: when every group of a side is a singleton with
    # req 1 (all flat Term/And/Or and Phrase sides), satisfied-group count
    # == plain row count and the grouped total == the plain ordered fold —
    # the kernel then skips the struct-accumulator group scan entirely, so
    # the 100k-flat-rule hot case pays exactly the pre-grouping cost. Deep
    # rules mark aflat too: their score/match comes from the program, so
    # the group scan must not run for them either.
    @property
    def aflat(self) -> bool:
        return self.deep or _singletons(self.pos)

    @property
    def nflat(self) -> bool:
        return _singletons(self.neg)

    @property
    def rflat(self) -> bool:
        return _singletons(self.req)

    @property
    def deep(self) -> bool:
        return self.prog is not None


def _singletons(rows) -> bool:
    return (all(r[4] == 1 for r in rows)
            and len({r[3] for r in rows}) == len(rows))


# The per-rule broadcast columns in broadcast order: (_Rule attribute,
# Spark type, name after the per-(rule, doc) aggregate); the broadcast
# column is "_<attribute>". The deep columns ride only when some rule is
# deep, so the flat-rule hot path's broadcast, agg and plan stay
# byte-identical otherwise.
_RULE_COLS = (
    ("n_required", "int", "_req"),
    ("neg_required", "int", "_negr"),
    ("req_required", "int", "_reqr"),
    ("rboost", "double", "_rb"),
    ("slop", "int", "_sl"),
    ("neg_slop", "int", "_nsl"),
    ("req_slop", "int", "_rsl"),
    ("scale", "double", "_sc"),
    ("n_children", "double", "_nch"),
    ("aflat", "boolean", "_aflat"),
    ("nflat", "boolean", "_nflat"),
    ("rflat", "boolean", "_rflat"),
)
_DEEP_COLS = (
    ("deep", "boolean", "_deep"),
    ("prog", "array<struct<op:int,n:int,q:bigint,boost:double,mm:int,"
             "scale:double>>", "_prog"),
    ("minl", "int", "_minl"),
)


def _flat_rule(q: Q.Query, fieldname: str) -> _Rule:
    """Flatten one rule side into grouped-leaf rows (see ``_Rule``);
    ``slop`` is set for Phrase rules. Shapes beyond this path raise
    ``_NotKernel`` and ``_kernel_rule`` retries them on the deep-tree
    program path (``_deep_rule``).

    Every rule reduces to ONE uniform grouped-leaf semantics: leaves are
    numbered in DFS order; each top-level child is a GROUP, satisfied
    when the (rule, doc) pair holds >= group_req of its leaves; the rule
    matches when >= n_required groups are satisfied; a leaf contributes
    score iff its group is satisfied. Flat Term/And/Or are the 1-leaf-
    per-group special case, and TWO-LEVEL trees ride the same machinery:

    - And-of-(Term | Or-of-Terms)  (CNF): Or-group req = its minmatch,
      n_required = n_children — e.g. And(Or(a, b), c).
    - Or-of-(Term | And-of-Terms)  (DNF): And-group req = its size,
      n_required = minmatch — e.g. Or(And(a, b), c).

    The flat fold over contributing leaves in DFS order is bit-identical
    to the executor's nested left-assoc fold (each group's subtotal is a
    contiguous prefix-ordered run, and x + 0.0 == x for the positive
    BM25 partials) — so nested rules stay exactly percolate()-equal.
    INNER node boost/scale would break flat-fold associativity
    ((a+b)*2 != 2a+2b bitwise), so those trees go deep; leaf Term boosts
    and the OUTER boost/scale/minmatch are supported here."""
    def leaf(t: Q.Term, pos: int, grp: int, grp_req: int):
        if t.fieldname != fieldname:
            raise _NotKernel(f"field {t.fieldname!r}")
        return (t.text, pos, float(t.boost), grp, grp_req)

    if isinstance(q, Q.Term):
        return _Rule([leaf(q, 0, 0, 1)], 1)
    if isinstance(q, Q.Phrase):
        if q.fieldname != fieldname:
            raise _NotKernel(f"field {q.fieldname!r}")
        # duplicate words are fine: each word SLOT is its own broadcast
        # row (distinct _q), so a duplicated term joins the same posting
        # once per slot and the positional chain still demands strictly
        # increasing positions — exactly the executor's _c_phrase joins
        rows = [(w, i, 1.0, i, 1) for i, w in enumerate(q.words)]
        return _Rule(rows, len(q.words), float(q.boost), int(q.slop))
    if not isinstance(q, (Q.And, Q.Or)):
        raise _NotKernel(type(q).__name__)
    kids = q.subqueries
    if not kids:
        raise _NotKernel(f"empty {type(q).__name__}")
    inner_cls = Q.Or if isinstance(q, Q.And) else Q.And
    rows, qi = [], 0
    for gi, k in enumerate(kids):
        if isinstance(k, Q.Term):
            rows.append(leaf(k, qi, gi, 1))
            qi += 1
            continue
        if not (isinstance(k, inner_cls)
                and k.subqueries
                and all(isinstance(g, Q.Term) for g in k.subqueries)):
            raise _NotKernel("deeper than two levels")
        if float(k.boost) != 1.0 or getattr(k, "scale", None):
            raise _NotKernel("inner-node boost/scale")
        grp_req = (max(int(getattr(k, "minmatch", 1) or 1), 1)
                   if isinstance(k, Q.Or) else len(k.subqueries))
        for g in k.subqueries:
            rows.append(leaf(g, qi, gi, grp_req))
            qi += 1
    if len({r[0] for r in rows}) != len(rows):
        raise _NotKernel("duplicate terms in one rule")
    if isinstance(q, Q.And):
        return _Rule(rows, len(kids), float(q.boost))
    rule = _Rule(rows, max(int(getattr(q, "minmatch", 1) or 1), 1),
                 float(q.boost))
    if getattr(q, "scale", None):
        # Or(scale=s): executor coord weighting — the summed score is
        # multiplied by (1 - s) + s * matched_children / n_children
        # (executor.py::_c_or); matched children == satisfied groups
        rule.scale, rule.n_children = float(q.scale), float(len(kids))
    return rule


_DEEP_OPS = {Q.And: 1, Q.Or: 2, Q.DisjunctionMax: 3, Q.AndMaybe: 4,
             Q.AndNot: 5, Q.Require: 6}


def _deep_rule(q: Q.Query, fieldname: str) -> _Rule:
    """Compile an ARBITRARY-DEPTH boolean rule tree into leaf rows
    [(term, q_index, leaf_boost, 0, 1)] and a program: a post-order
    instruction list [(op, n, q_packed, boost, mm, scale)] a stack
    machine evaluates per (rule, doc) group inside the kernel (one
    F.aggregate pass over the broadcast program; see ``deep_eval``).

    Node coverage — each op mirrors the executor's compile bit-for-bit
    over the group's present leaves (absent leaf == unmatched child ==
    no row in the executor's tagged union; 0.0 + x == x keeps the
    left-assoc folds identical when unmatched children are skipped):

    - op 0  Term leaf: push (present?, leaf score from the group map)
    - op 1  And: all n children sat; score = left-assoc child sum
    - op 2  Or: >= max(minmatch, 1) children sat; sum over sat children;
            optional coord  sum * ((1-s) + s*nsat/n)  (executor _c_or)
    - op 3  DisjunctionMax: >= 1 sat; max over sat children, optional
            tiebreak  max + tb*(sum - max)  (rides the scale slot)
    - op 4  AndMaybe: sat = a; score = a + (b if b sat else 0)
    - op 5  AndNot: sat = a and not b; score = a
    - op 6  Require: sat = a and b; score = a

    Every node's score is then multiplied by its boost (x * 1.0 is the
    IEEE identity, so the unconditional multiply matches the executor's
    boost==1.0 skip bitwise). Inner-node boost / Or(minmatch=, scale=) /
    DisMax(tiebreak=) are therefore supported at any depth. Duplicate
    terms across the tree are fine (each leaf is its own slot/map key).
    Not / Otherwise / positional or multi-term leaves (Phrase, ranges,
    wildcards) are not per-doc-local over present leaves: they raise
    ``_NotKernel`` and the rule takes a plan branch."""
    leaves: list[tuple] = []
    prog: list[tuple] = []

    def walk(node: Q.Query) -> None:
        if isinstance(node, Q.Term):
            if node.fieldname != fieldname:
                raise _NotKernel(f"field {node.fieldname!r}")
            qi = len(leaves)
            leaves.append((node.text, qi, float(node.boost), 0, 1))
            # q_packed mirrors the kernel's (q, grp, grp_req) pack with
            # grp=0, grp_req=1 — the map key the LEAF op looks up
            prog.append((0, 0, qi * 16777216 + 1, 1.0, 0, None))
            return
        if isinstance(node, (Q.And, Q.Or, Q.DisjunctionMax)):
            kids = node.subqueries
            if not kids:
                raise _NotKernel(f"empty {type(node).__name__}")
            for k in kids:
                walk(k)
            mm, sc = 0, None
            if isinstance(node, Q.Or):
                mm = max(int(node.minmatch or 1), 1)
                sc = float(node.scale) if node.scale else None
            elif isinstance(node, Q.DisjunctionMax):
                sc = float(node.tiebreak) if node.tiebreak else None
            prog.append((_DEEP_OPS[type(node)], len(kids), 0,
                         float(node.boost), mm, sc))
            return
        if isinstance(node, (Q.AndMaybe, Q.AndNot, Q.Require)):
            walk(node.a)
            walk(node.b)
            prog.append((_DEEP_OPS[type(node)], 2, 0, float(node.boost),
                         0, None))
            return
        raise _NotKernel(type(node).__name__)

    walk(q)
    return _Rule(leaves, prog=prog, minl=_deep_min_leaves(q))


def _deep_min_leaves(q: Q.Query) -> int:
    """Lower bound on the number of PRESENT leaf slots a (rule, doc)
    group must hold for the deep rule's root to possibly be satisfied.
    The kernel skips the stack-machine eval for groups below this bound
    (most groups hold 1-2 present leaves; And-rooted trees need
    several) — a pure prune: a group failing the bound can never have
    sat(root), so filtering it pre-eval changes nothing.

    Duplicate terms are safe: leaves are distinct broadcast slots, so a
    doc containing a term shared by two subtrees yields TWO items."""
    if isinstance(q, Q.Term):
        return 1
    if isinstance(q, Q.And):
        return sum(_deep_min_leaves(k) for k in q.subqueries)
    if isinstance(q, Q.Or):
        mm = max(int(q.minmatch or 1), 1)
        mins = sorted(_deep_min_leaves(k) for k in q.subqueries)
        return sum(mins[:mm])
    if isinstance(q, Q.DisjunctionMax):
        return min(_deep_min_leaves(k) for k in q.subqueries)
    if isinstance(q, (Q.AndMaybe, Q.AndNot)):
        return _deep_min_leaves(q.a)
    if isinstance(q, Q.Require):
        return _deep_min_leaves(q.a) + _deep_min_leaves(q.b)
    raise ValueError(f"unexpected deep node {type(q).__name__}")


def _grouped_rule(q: Q.Query, fieldname: str) -> _Rule:
    """``_flat_rule``, plus AndNot(a, b) / Require(a, b) whose sides it
    flattens: a is scored; the doc is excluded when it matches b
    (executor's left_anti) or kept only when it does (left_semi). b keeps
    its (group, group_req) labels, so it matches on the same
    satisfied-group count the a-side uses: an AND-shaped b when all its
    terms hit, an OR-shaped b when minmatch of them hit, a two-level b
    group-aware, a Phrase b when all word slots hit AND its positional
    chain survives — exactly the compiled semantics of b as a match set.
    b's slots keep word order; its boosts and coord are unused."""
    if not isinstance(q, (Q.AndNot, Q.Require)):
        return _flat_rule(q, fieldname)
    rule = _flat_rule(q.a.normalize(), fieldname)
    b = _flat_rule(q.b.normalize(), fieldname)
    rule.rboost *= float(q.boost)
    b_rows = [(t, slot, 0.0, g, gr) for t, slot, _lb, g, gr in b.pos]
    if isinstance(q, Q.AndNot):
        rule.neg, rule.neg_required, rule.neg_slop = b_rows, b.n_required, b.slop
    else:
        rule.req, rule.req_required, rule.req_slop = b_rows, b.n_required, b.slop
    return rule


def _kernel_rule(q: Q.Query, fieldname: str) -> _Rule:
    """Compile one normalized rule for the kernel — flat/grouped rows
    first, else a deep program — or raise ``_NotKernel``."""
    try:
        rule = _grouped_rule(q, fieldname)
    except _NotKernel:
        rule = _deep_rule(q, fieldname)
    # the (q, group, group_req) pack budgets 24/12/12 bits — far beyond
    # any real rule
    if any(r[1] >= 16777216 or r[3] >= 4096 or r[4] >= 4096
           for r in rule.pos + rule.neg + rule.req):
        raise _NotKernel("beyond the 24/12/12-bit pack")
    return rule


def percolate_indexed(
    spark: SparkSession,
    docs: DataFrame,
    queries: dict[str, Q.Query],
    schema: Schema | None = None,
    fieldname: str = "text",
    weighting=None,
) -> DataFrame:
    """Large-rule-set percolation -> (query_name, doc_id, score), the
    same rows as :func:`percolate` for every rule. Kernel rules (see the
    module docstring) ride ONE broadcast-rule kernel whose plan size is
    O(1) in the rule count; the rest take ``percolate`` plan branches
    over the same per-batch index, scored with ``weighting`` (BM25F by
    default; final()-hook weightings raise)."""
    df, _ix = _percolate_indexed_with_ix(
        spark, docs, queries, schema, fieldname, weighting)
    return df


def _percolate_indexed_with_ix(
    spark: SparkSession,
    docs: DataFrame,
    queries: dict[str, Q.Query],
    schema: Schema | None = None,
    fieldname: str = "text",
    weighting=None,
):
    """:func:`percolate_indexed` plus its persisted per-batch index (None
    when there are no rules), for callers that release it after use."""
    w = _kernel_weighting(weighting)
    if not queries:
        return _empty(spark), None
    kernel, branches = {}, {}
    for name, q in queries.items():
        try:
            kernel[name] = _kernel_rule(q.normalize(), fieldname)
        except _NotKernel:
            branches[name] = q
    ix = build_index(spark, docs, schema or documents_schema()).persist()
    parts = []
    if kernel:
        parts.append(_kernel(spark, ix, kernel, fieldname, w))
    if branches:
        parts.append(_plan_branches(ix, branches, weighting=w))
    return reduce(DataFrame.unionByName, parts), ix


def _kernel(spark, ix, rules: dict[str, _Rule], fieldname: str, w) -> DataFrame:
    """The rule set as DATA, not plan branches.

    ``percolate`` compiles one plan branch per rule — right for tens of
    rules, but a 10,000-rule monitoring set would build a 10,000-branch
    union and choke the optimizer. This kernel is the classic
    term->query inverted index over the RULES: every rule's leaves
    become (query_name, term, slot, leaf_boost, role, group, group_req)
    rows carrying the rule's ``_RULE_COLS``; every distinct rule term is
    scored over the batch postings in ONE scan (per-term idf rides in the
    rule rows, per-posting score expression); the rule rows
    broadcast-join onto the scored postings; and each (rule, doc) group
    closes with the SAME query-ordered left-associative score fold the
    executor uses — so the output is BIT-IDENTICAL to
    percolate()/Searcher.compile (pinned in tests/test_percolate.py).

    AND rules require all terms (a zero-df term correctly makes the rule
    unmatchable); OR rules honor ``minmatch`` and ``scale`` (the coord
    factor with the executor's exact expression order). Phrase positions
    decode only when a phrase rule exists and only ON the phrase rows;
    the positional chain closes inside the (rule, doc) group with the
    executor's exact ``_phrase_step`` fold. AndNot/Require b rows are
    non-scoring NEGATIVE / REQUIRE rows; the group filter excludes docs
    where b matches (the left_anti semantics) or demands a b match
    (left_semi). Two-level rules scan their groups (``group_scan``);
    deep rules run their program (``deep_eval``) only on groups that
    hold ``_deep_min_leaves`` present leaves. Broadcast sizing at scale:
    each DEEP rule's program rides on its own leaf rows only
    (~50 B/instruction x leaves), so even a pathological 100k-deep-rule
    set stays a few-hundred-MB broadcast.
    """
    # roles: 0 = scoring positive row, 1 = negative (AndNot.b),
    # 2 = require (Require.b); neg/req rows never contribute score.
    # Phrase rules ride the same rows with ``_slop`` set — their
    # positional chain closes inside the same (rule, doc) group. A
    # phrase B-SIDE rides its role's rows with ``_neg_slop``/``_req_slop``
    # set and word slots in ``_q``, closing its own chain the same way.
    any_phrase = any(s is not None for r in rules.values()
                     for s in (r.slop, r.neg_slop, r.req_slop))
    deep_cols = _DEEP_COLS if any(r.deep for r in rules.values()) else ()
    cols = _RULE_COLS + deep_cols
    rows = []
    for name, rule in rules.items():
        per_rule = tuple(getattr(rule, a) for a, _, _ in cols)
        for role, role_rows in enumerate((rule.pos, rule.neg, rule.req)):
            for t, slot, lboost, grp, grp_req in role_rows:
                rows.append((name, t, slot, lboost, role, grp, grp_req)
                            + per_rule)

    fs = ix.schema[fieldname]
    avgdl = ix.avg_field_length(fieldname)
    all_terms = sorted({r[1] for r in rows})
    ix.prefetch_stats([(fieldname, t) for t in all_terms])
    idf = {}
    for t in all_terms:
        dfreq = ix.doc_frequency(fieldname, t)
        if dfreq:
            idf[t] = float(w.term_scalar(
                fs, ix.doc_count, dfreq, ix.frequency(fieldname, t)))
    if not idf:
        return _empty(spark)

    # per-term idf rides INSIDE the broadcast rule rows (no literal-map
    # size ceiling: a 100k-rule set is still one small broadcast).
    # Positions decode only when some rule is a phrase.
    pcols = ["doc_id", "term", "weight", "dl"] + (
        ["positions"] if any_phrase else []
    )
    p = ix.terms_postings(fieldname, sorted(idf),
                          positions=any_phrase).select(*pcols)
    rules_df = spark.createDataFrame(
        [r + (idf[r[1]],) for r in rows if r[1] in idf],
        "query_name string, term string, _q int, _lboost double, _role int, "
        "_grp int, _grp_req int, "
        + "".join(f"_{a} {typ}, " for a, typ, _ in cols) + "_idf double",
    )
    base = w.score_expr(fs, F.col("_idf"), avgdl, F.col("weight"), F.col("dl"))
    # positions ride ONLY on rows whose role participates in a positional
    # chain (phrase a-side on role 0, phrase b-side on its role) — with
    # one phrase rule among 100k boolean rules, the boolean rows' payload
    # must not multiply by the positions size
    if any_phrase:
        pos_needed = (
            ((F.col("_role") == 0) & F.col("_slop").isNotNull())
            | ((F.col("_role") == 1) & F.col("_neg_slop").isNotNull())
            | ((F.col("_role") == 2) & F.col("_req_slop").isNotNull())
        )
        pos_col = F.when(pos_needed, F.col("positions"))
    else:
        pos_col = F.lit(None).cast("array<int>")
    # (q, group, group_req) PACK into one long with q in the high bits:
    # array_sort on the item struct still orders by q (q is distinct per
    # rule), the struct stays 3 fields (the collect/sort payload is the
    # kernel's hot cost — a 5-field struct measured ~2x on the 961-rule
    # A/B), and group_scan decodes g/gr only on the grouped slow path
    packed_q = (F.col("_q").cast("long") * F.lit(16777216)
                + F.col("_grp").cast("long") * F.lit(4096)
                + F.col("_grp_req").cast("long"))
    jcols = (
        ["query_name", "doc_id", packed_q.alias("_q"), F.col("_role")]
        + [F.col(f"_{a}") for a, _, _ in _RULE_COLS]
        + [(base * F.col("_lboost")).alias("score"), pos_col.alias("_pos")]
        + [F.col(f"_{a}") for a, _, _ in deep_cols]
    )
    j = p.join(F.broadcast(rules_df), "term").select(*jcols)
    # the executor's _ordered_sum: left-assoc fold in query order, so a
    # 2-term AND scores bit-identically to Searcher.compile(And([...]));
    # other roles are nulled out of each list (collect_list skips nulls)
    def role_items(r):
        return F.array_sort(
            F.collect_list(
                F.when(
                    F.col("_role") == r,
                    F.struct(F.col("_q").alias("q"),
                             F.col("score").alias("s"),
                             F.col("_pos").alias("p")),
                )
            )
        )

    n_role = lambda r: F.sum(F.when(F.col("_role") == r, 1).otherwise(0))  # noqa: E731
    grouped = (
        j.groupBy("query_name", "doc_id")
        .agg(role_items(0).alias("_items"),
             role_items(1).alias("_nitems"), role_items(2).alias("_ritems"),
             n_role(0).alias("_n"), n_role(1).alias("_neg"), n_role(2).alias("_hasreq"),
             *(F.first(f"_{a}").alias(alias) for a, _, alias in cols))
    )
    # grouped-leaf semantics (see _flat_rule): walk the q-sorted items
    # once (each group's leaves are a contiguous DFS run) collecting the
    # groups whose present-leaf count meets their req. Flat rules are
    # the every-leaf-its-own-group case: sat == all present leaves, so
    # every expression below reduces bit-exactly to the pre-grouped fold.
    def _pk_g(x):
        return F.shiftright(x["q"], 12) % F.lit(4096)

    def _pk_gr(x):
        return x["q"] % F.lit(4096)

    def group_scan(items_name: str):
        """ONE left-assoc pass over the q-sorted items of a role: each
        contiguous (g, gr) group closes by adding its in-order partial
        sum to the total iff its present-leaf count met its req, and
        bumping the satisfied-group count. Returns struct(total, nsat).

        Bit-exactness vs the executor's nested fold: the total is
        g1sum + g2sum + ... over satisfied groups in DFS order with each
        group partial left-assoc over its leaves — exactly the
        executor's association (0.0 + x == x for the positive BM25
        partials), and for flat rules (every leaf its own group) it
        reduces to the plain ordered sum. A single O(items) pass per
        (rule, doc) row — no per-element membership probes.
        """
        return F.aggregate(
            F.col(items_name),
            F.struct(
                F.lit(-1).cast("long").alias("g"), F.lit(0).alias("c"),
                F.lit(1).cast("long").alias("r"),
                F.lit(0.0).alias("gsum"), F.lit(0.0).alias("total"),
                F.lit(0).alias("nsat"),
            ),
            lambda acc, x: F.struct(
                _pk_g(x).alias("g"),
                F.when(_pk_g(x) == acc["g"], acc["c"] + 1)
                 .otherwise(F.lit(1)).alias("c"),
                _pk_gr(x).alias("r"),
                F.when(_pk_g(x) == acc["g"], acc["gsum"] + x["s"])
                 .otherwise(x["s"]).alias("gsum"),
                F.when(
                    (_pk_g(x) != acc["g"]) & (acc["g"] >= 0)
                    & (acc["c"] >= acc["r"]),
                    acc["total"] + acc["gsum"],
                ).otherwise(acc["total"]).alias("total"),
                F.when(
                    (_pk_g(x) != acc["g"]) & (acc["g"] >= 0)
                    & (acc["c"] >= acc["r"]),
                    acc["nsat"] + 1,
                ).otherwise(acc["nsat"]).alias("nsat"),
            ),
            lambda acc: F.struct(
                F.when((acc["g"] >= 0) & (acc["c"] >= acc["r"]),
                       acc["total"] + acc["gsum"])
                 .otherwise(acc["total"]).alias("total"),
                F.when((acc["g"] >= 0) & (acc["c"] >= acc["r"]),
                       acc["nsat"] + 1)
                 .otherwise(acc["nsat"]).alias("nsat"),
            ),
        )

    def deep_eval(items_name: str):
        """Evaluate the rule's post-order program over this (rule, doc)
        group's present leaves -> struct(sat, s). A stack machine in ONE
        F.aggregate pass over the broadcast ``_prog`` array: LEAF ops
        push (present?, leaf score) looked up in a q->score map built
        from the group's items; node ops pop their n children (the top
        n stack slots, in child order) and combine with the executor's
        exact expressions (see ``_deep_rule`` op table). Bit-exactness
        vs ``percolate()``: child sums are left-assoc in child order
        with unmatched children contributing 0.0 (the executor's tagged
        union simply lacks those rows, and 0.0 + x == x for the
        positive partials); every node multiplies by its boost (IEEE
        identity at 1.0); coord / tiebreak mirror _c_or / _c_dismax
        operand order. Cost: O(program length) array ops per (rule,
        doc) row, deep rules only — flat rules skip this column. The
        q->score map lives in its own per-row column (``_dmap``), built
        once per (rule, doc) group rather than inlined into every LEAF
        instruction (measured neutral vs the inline form — Catalyst's
        subexpression elimination already collapsed it — but the hoist
        keeps the program fold readable and the intent explicit)."""
        m = F.col("_dmap")
        stack_t = "array<struct<sat:boolean,s:double>>"

        def step(acc, ins):
            hit = F.element_at(m, ins["q"])
            push_leaf = F.concat(acc, F.array(F.struct(
                hit.isNotNull().alias("sat"),
                F.coalesce(hit, F.lit(0.0)).alias("s"))))
            n = ins["n"]
            ch = F.slice(acc, F.size(acc) - n + 1, n)
            rest = F.slice(acc, F.lit(1), F.size(acc) - n)
            csum = F.aggregate(
                ch, F.lit(0.0),
                lambda a, x: a + F.when(x["sat"], x["s"]).otherwise(F.lit(0.0)))
            nsat = F.size(F.filter(ch, lambda x: x["sat"]))
            sat1 = F.element_at(ch, 1)["sat"]
            s1 = F.element_at(ch, 1)["s"]
            sat2 = F.element_at(ch, 2)["sat"]
            s2 = F.element_at(ch, 2)["s"]
            mx = F.array_max(F.transform(
                F.filter(ch, lambda x: x["sat"]), lambda x: x["s"]))
            or_s = F.when(
                ins["scale"].isNotNull(),
                csum * ((F.lit(1.0) - ins["scale"])
                        + ins["scale"] * nsat.cast("double")
                        / n.cast("double")),
            ).otherwise(csum)
            dm_s = F.when(
                ins["scale"].isNotNull(),
                mx + ins["scale"] * (csum - mx),
            ).otherwise(mx)
            node = (
                F.when(ins["op"] == 1, F.struct(
                    (nsat == n).alias("sat"),
                    (csum * ins["boost"]).alias("s")))
                .when(ins["op"] == 2, F.struct(
                    (nsat >= ins["mm"]).alias("sat"),
                    (or_s * ins["boost"]).alias("s")))
                .when(ins["op"] == 3, F.struct(
                    (nsat >= 1).alias("sat"),
                    (dm_s * ins["boost"]).alias("s")))
                .when(ins["op"] == 4, F.struct(
                    sat1.alias("sat"),
                    ((s1 + F.when(sat2, s2).otherwise(F.lit(0.0)))
                     * ins["boost"]).alias("s")))
                .when(ins["op"] == 5, F.struct(
                    (sat1 & ~sat2).alias("sat"),
                    (s1 * ins["boost"]).alias("s")))
                .otherwise(F.struct(
                    (sat1 & sat2).alias("sat"),
                    (s1 * ins["boost"]).alias("s")))
            )
            return F.when(ins["op"] == 0, push_leaf) \
                    .otherwise(F.concat(rest, F.array(node)))

        return F.element_at(
            F.aggregate(F.col("_prog"), F.array().cast(stack_t), step), 1)

    grouped = (
        grouped
        .withColumn("_gs", F.when(~F.col("_aflat"), group_scan("_items")))
        .withColumn("_ngs", F.when(~F.col("_nflat"), group_scan("_nitems")))
        .withColumn("_rgs", F.when(~F.col("_rflat"), group_scan("_ritems")))
    )
    if deep_cols:
        # the _minl guard prunes the stack-machine eval for groups that
        # cannot satisfy the rule's root (fewer present leaf slots than
        # _deep_min_leaves' bound); the null _dres then fails the match
        # predicate, which is exactly what the full eval would conclude
        deep_live = F.col("_deep") & (F.col("_n") >= F.col("_minl"))
        grouped = grouped.withColumn(
            "_dmap",
            F.when(
                deep_live,
                F.map_from_entries(
                    F.transform(F.col("_items"),
                                lambda x: F.struct(x["q"].alias("key"),
                                                   x["s"].alias("value")))),
            ),
        ).withColumn(
            "_dres", F.when(deep_live, deep_eval("_items")))
    plain_fold = F.aggregate(F.col("_items"), F.lit(0.0),
                             lambda acc, x: acc + x["s"])
    n_sat = F.when(F.col("_aflat"), F.col("_n")) \
             .otherwise(F.col("_gs")["nsat"].cast("long"))
    fold = F.when(F.col("_aflat"), plain_fold) \
            .otherwise(F.col("_gs")["total"])
    # Or(scale=) coord weighting — the executor's exact expression order:
    # sum * ((1 - scale) + scale * matched / n_children), matched =
    # count_distinct of matched children == satisfied groups. Unscaled
    # rules multiply by nothing.
    coord_fold = F.when(
        F.col("_sc").isNotNull(),
        fold * ((F.lit(1.0) - F.col("_sc"))
                + F.col("_sc") * n_sat / F.col("_nch")),
    ).otherwise(fold)

    # positional chain over word-slot-ordered items — EXACTLY the
    # executor's _phrase_step fold (keep x in next where some c in
    # current has c < x <= c + slop). Guarded: only computed for groups
    # with >= 1 item of that role (element_at(…, 1) would raise under
    # ANSI on an empty array — e.g. a neg-rows-only group).
    def chain_ok(items_name: str, slop_col):
        items = F.col(items_name)
        chain = F.when(
            slop_col.isNotNull() & (F.size(items) >= 1),
            F.aggregate(
                F.slice(items, 2, F.greatest(F.size(items) - 1, F.lit(0))),
                F.element_at(items, 1)["p"],
                lambda acc, x: F.filter(
                    x["p"],
                    lambda v: F.exists(acc, lambda c: (v > c) & (v <= c + slop_col)),
                ),
            ),
        ).otherwise(F.lit(None).cast("array<int>"))
        return slop_col.isNull() | (F.size(chain) > 0)

    phrase_ok = chain_ok("_items", F.col("_sl"))
    # b-side MATCH predicates: b matches on its satisfied-group count
    # (== plain hit count for flat/phrase b, group-aware for two-level b)
    # plus, for a phrase b, its own surviving chain. AndNot keeps docs
    # where b does NOT match; Require keeps docs where it does.
    neg_sat = F.when(F.col("_nflat"), F.col("_neg")) \
               .otherwise(F.col("_ngs")["nsat"].cast("long"))
    req_sat = F.when(F.col("_rflat"), F.col("_hasreq")) \
               .otherwise(F.col("_rgs")["nsat"].cast("long"))
    neg_matches = (neg_sat >= F.col("_negr")) & chain_ok(
        "_nitems", F.col("_nsl"))
    req_matches = (req_sat >= F.col("_reqr")) & chain_ok(
        "_ritems", F.col("_rsl"))
    a_match = n_sat >= F.col("_req")
    score_fold = coord_fold
    if deep_cols:
        # deep rules: the program's root decides match AND score; the
        # flat/grouped predicates stay untouched for everything else
        # (_req is 0 for deep rules, so the flat predicate is inert, but
        # the explicit branch keeps the deep path self-describing)
        a_match = F.when(F.col("_deep"), F.col("_dres")["sat"]) \
                   .otherwise(a_match)
        score_fold = F.when(F.col("_deep"), F.col("_dres")["s"]) \
                      .otherwise(coord_fold)
    return (
        grouped.where(
            a_match
            & (F.col("_negr").isNull() | ~neg_matches)
            & (F.col("_reqr").isNull() | req_matches)
        )
        .where(phrase_ok)
        .select("query_name", "doc_id",
                (score_fold * F.col("_rb")).alias("score"))
    )
