"""DistributedSearcher plan shape and compiled-expression parity.

Every query runs as one fixed plan: the term leaves come from one
pruned scan and one Python decode + score pass, ONE groupBy(doc_id)
builds the per-doc map cidx -> score, and the boolean tree is one
compiled Column over that map.  The shape test locks that (one Python
map node, one shuffle, no join but the deletes anti-join, at most two
Spark jobs); the parity test covers the operators and edge cases of
the compiler against LocalSearcher and the numpy oracle."""

import re

import numpy as np
import pytest

from lucene_solr_spark.query.dismax import dismax_node

pytestmark = pytest.mark.spark

K = 10

T = ("term", "retry"), ("term", "deploy"), ("term", "cache")

#: query per plan-shape case, over the corpus's three most frequent terms
SHAPES = {
    "single": lambda a, b, c: a,
    "and2": lambda a, b, c: f"{a} AND {b}",
    "or3": lambda a, b, c: f"{a} OR {b} OR {c}",
    "mixed": lambda a, b, c: f"({a} OR {b}) AND {c}",
    "andnot": lambda a, b, c: f"{a} -{b}",
    "msm": lambda a, b, c: f"({a} {b} {c})@2",
    "dismax": lambda a, b, c: dismax_node(
        [("term", a), ("term", b), ("term", c)], 0.3),
    "boosted_nested": lambda a, b, c: ("boost", ("and", [
        ("or", [("boost", ("term", a), 2.0), ("term", b)]),
        ("term", c)]), 1.5),
}


@pytest.fixture(scope="module")
def ds(spark, index_dir):
    from lucene_solr_spark.query.distributed import DistributedSearcher

    return DistributedSearcher(spark, index_dir)


@pytest.mark.parametrize("name", sorted(SHAPES))
def test_plan_shape_is_fixed(spark, ds, oracle, name):
    top = sorted(oracle.postings,
                 key=lambda t: (-oracle.postings[t][0].size, t))
    q = SHAPES[name](*top[:3])
    plan = ds.search_df(q, K)._jdf.queryExecution().executedPlan().toString()
    ops = [ln.strip(" +-:") for ln in plan.splitlines()]
    python_maps = [o for o in ops
                   if re.match(r"(MapInPandas|\w*MapInArrow)", o)]
    assert len(python_maps) == 1, plan
    shuffles = [o for o in ops if o.startswith("Exchange ")]
    assert len(shuffles) == 1, plan
    joins = [o for o in ops if re.match(r"\w*Join\b", o)
             and "LeftAnti" not in o]
    assert not joins, plan
    sc = spark.sparkContext
    group = f"distributed-plan-{name}"
    sc.setJobGroup(group, name)
    try:
        hits = ds.search(q, K)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert hits
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2


def _overlapping_prefix(oracle):
    """A prefix whose expansion has a doc matching two of its terms."""
    terms = sorted(oracle.postings)
    for n in (2, 3):
        by_prefix: dict[str, list[str]] = {}
        for t in terms:
            if len(t) > n:
                by_prefix.setdefault(t[:n], []).append(t)
        for p, ts in sorted(by_prefix.items()):
            docs = [set(oracle.postings[t][0].tolist()) for t in ts]
            seen: set = set()
            for d in docs:
                if seen & d:
                    return p
                seen |= d
    raise AssertionError("no prefix with overlapping expansions")


def _cases(oracle):
    r, d, c = T
    absent = ("term", "zzzabsentterm")
    top = sorted(oracle.postings, key=lambda t: -oracle.postings[t][0].size)
    many = [("term", t) for t in (top * 200)[:200]]
    return [
        ("or", [r, r]),
        ("and", [r, r]),
        ("and", [r, absent]),
        ("and", [absent, d]),
        ("or", [r, absent]),
        ("or", [absent, absent]),
        ("or", [("prefix", _overlapping_prefix(oracle)), c]),
        ("or", many),
        ("reqopt", r, d),
        ("reqopt", ("or", [r, c]), absent),
        ("reqfilter", r, d),
        ("reqfilter", ("or", [r, d]), ("fterm", "role", "user")),
        ("filter0", d),
        ("filter0", ("or", [r, c])),
        dismax_node([r, d, c], 0.0),
        dismax_node([r, ("boost", d, 2.0), c], 0.3),
    ]


def _text_terms(node):
    """Text terms of a rewritten tree's term and const_or leaves."""
    if node[0] == "term":
        yield node[1]
    elif node[0] == "const_or":
        yield from node[1]
    else:
        for c in node[1:]:
            for x in c if isinstance(c, list) else [c]:
                if isinstance(x, tuple):
                    yield from _text_terms(x)


def _eval64(node, leaf) -> dict:
    """Reference evaluation of a rewritten tree over float64 leaf scores
    ({doc: score} from `leaf`), in the compiled plan's arithmetic: double
    sums over the present children in clause order."""
    kind = node[0]
    if kind in ("term", "fterm"):
        return leaf(node)
    if kind == "matchnone":
        return {}
    if kind == "const_or":
        return {d: 1.0 for t in node[1] for d in leaf(("term", t))}
    if kind == "boost":
        return {d: s * node[2] for d, s in _eval64(node[1], leaf).items()}
    if kind == "filter0":
        return dict.fromkeys(_eval64(node[1], leaf), 0.0)
    if kind in ("andnot", "reqfilter", "reqopt"):
        a, b = _eval64(node[1], leaf), _eval64(node[2], leaf)
        if kind == "reqopt":
            return {d: s + b.get(d, 0.0) for d, s in a.items()}
        return {d: s for d, s in a.items() if (d in b) == (kind != "andnot")}
    kids = [_eval64(c, leaf) for c in node[2 if kind == "msm_or" else 1]]
    need = {"and": len(kids), "msm_or": node[1]}.get(kind, 1)
    out = {}
    for d in set().union(*kids):
        xs = [k[d] for k in kids if d in k]
        if len(xs) < need:
            continue
        s = 0.0
        for x in xs:
            s += x
        out[d] = max(xs) + (s - max(xs)) * node[2] if kind == "dismax" else s
    return out


def test_compiled_operators_parity(spark, index_dir, oracle, ds):
    """float32: distributed == LocalSearcher == oracle.  float64 (gate
    mode, exact dl — its ranks legitimately differ from the quantized
    float32 ones): every match equals a reference evaluation over the
    float64 term-leaf scores, bit for bit, and the match set equals the
    float32 one."""
    from lucene_solr_spark.query.distributed import DistributedSearcher
    from lucene_solr_spark.query.engine import LocalSearcher

    ls = LocalSearcher(index_dir)
    ds64 = DistributedSearcher(spark, index_dir, dtype="float64")
    cases = _cases(oracle)
    terms = sorted({t for n in cases for t in _text_terms(ds64.rewrite(n))})
    leaves: dict = {}
    for r in ds64._scored_terms_df(
            {t: [j] for j, t in enumerate(terms)}).collect():
        leaves.setdefault(("term", terms[r["cidx"]]), {})[r["doc_id"]] = \
            r["score"]
    fterm = ("fterm", "role", "user")
    leaves[fterm] = dict(ds64.search(fterm, 10**6))
    n_nonempty = 0
    for node in cases:
        want = [(x, np.float32(s)) for x, s in oracle.search(node, K)]
        local = [(x, np.float32(s)) for x, s in ls.search(node, K)]
        got = [(x, np.float32(s)) for x, s in ds.search(node, K)]
        assert got == local == want, node[0]
        n_nonempty += bool(want)
        ref = _eval64(ds64.rewrite(node), lambda n: leaves.get(n, {}))
        got64 = ds64.search(node, 10**6)
        assert got64 == sorted(ref.items(), key=lambda h: (-h[1], h[0])), \
            node[0]
        assert {x for x, _ in got64} == {x for x, _ in ds.search(node, 10**6)}
    assert n_nonempty == len(cases) - 3  # the three absent-term cases


def test_sql_literals_round_trip(spark):
    """The compiled SQL text carries terms and boosts as literals: they
    must come back from Spark exactly as Python holds them."""
    from lucene_solr_spark.query.distributed import _double, _sql_str

    strs = ["it's", "a\\b", "\\'", "''", "x\ny", "naïve", "%_*"]
    floats = [0.3, 1e-05, 1.5, 2.0, 1 / 3, 123456.789]
    row = spark.range(1).selectExpr(
        *[f"{_sql_str(s)} AS s{i}" for i, s in enumerate(strs)],
        *[f"{_double(x)} AS f{i}" for i, x in enumerate(floats)],
    ).first()
    assert [row[f"s{i}"] for i in range(len(strs))] == strs
    assert [row[f"f{i}"] for i in range(len(floats))] == floats
