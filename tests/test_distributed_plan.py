"""DistributedSearcher plan shape and operator parity.

Every query runs as one fixed plan: ONE Python map over a Range of S
shards, each a LocalSearcher on one doc range evaluating the whole
tree, then the top-k merge.  The shape test locks that (one Python map
node over a Range, no shuffle, no join, one Spark job); the parity test
covers the operators and edge cases against LocalSearcher and the numpy
oracle, and gate mode against a float64 reference evaluation."""

import os
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
    ops = [re.sub(r"^\*\(\d+\) ", "", ln.strip(" +-:"))
           for ln in plan.splitlines()]
    python_maps = [i for i, o in enumerate(ops)
                   if re.match(r"(MapInPandas|\w*MapInArrow)", o)]
    assert len(python_maps) == 1, plan
    # the map's only input is the Range of shard ids
    below = [o for o in ops[python_maps[0] + 1:] if o]
    assert len(below) == 1 and below[0].startswith("Range ("), plan
    assert not [o for o in ops if o.startswith("Exchange")], plan
    assert not [o for o in ops if re.match(r"\w*Join\b", o)], plan
    sc = spark.sparkContext
    group = f"distributed-plan-{name}"
    sc.setJobGroup(group, name)
    try:
        hits = ds.search(q, K)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert hits
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_unknown_dtype_raises_before_spark(spark, index_dir):
    """An unknown score dtype is refused with ValueError (not an assert,
    which `python -O` strips) before any Spark job runs."""
    from lucene_solr_spark.query.distributed import DistributedSearcher
    from lucene_solr_spark.query.engine import LocalSearcher

    sc = spark.sparkContext
    sc.setJobGroup("bad-dtype", "bad-dtype")
    try:
        for bad in ("float16", "double", None):
            with pytest.raises(ValueError):
                DistributedSearcher(spark, index_dir, dtype=bad)
            with pytest.raises(ValueError):
                LocalSearcher(index_dir, dtype=bad)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup("bad-dtype")


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
    ({doc: score} from `leaf`), in gate mode's arithmetic: double sums
    over the present children in clause order."""
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
    float64 term-leaf scores (the model's ``score64`` over the docmap
    `dl`), bit for bit, and the match set equals the float32 one."""
    import pyarrow.dataset as pads

    from lucene_solr_spark.index.builder import read_field_stats
    from lucene_solr_spark.query.distributed import DistributedSearcher
    from lucene_solr_spark.query.engine import LocalSearcher
    from lucene_solr_spark.query.similarities import make_similarity

    ls = LocalSearcher(index_dir)
    ds64 = DistributedSearcher(spark, index_dir, dtype="float64")
    cases = _cases(oracle)
    terms = sorted({t for n in cases for t in _text_terms(ds64.rewrite(n))})
    dm = pads.dataset(os.path.join(index_dir, "docmap"),
                      partitioning="hive").to_table(columns=["doc_id", "dl"])
    dl = dict(zip(dm.column("doc_id").to_pylist(),
                  dm.column("dl").to_pylist()))
    fs = read_field_stats(index_dir)
    sim = make_similarity("bm25", fs["doc_count"], fs["sum_total_term_freq"])
    leaves: dict = {}
    for t in terms:
        if t not in oracle.postings:
            continue
        docs, tfs = oracle.postings[t]
        sc = sim.score64(sim.weight64([(docs.size, int(tfs.sum()))]), tfs,
                         np.array([dl[int(x)] for x in docs]))
        leaves[("term", t)] = dict(zip(docs.tolist(), sc.tolist()))
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
