"""Seeded, vectorized inputs for the benchmark: corpus, reference set, stream.

The corpus follows the transcript shape of FIXTURES.md §3 with a
vocabulary-size parameter; it never imports the engine's own generator
(`lucene_solr_spark.sources`), so editing that module cannot change a
workload's inputs.  Everything here is a pure function of its arguments.

Corpus shape per conversation: 5-40 turns.  Per turn: 2% empty, 4% drawn
from a pool of short duplicate texts (exact score ties across docIDs), 8%
long (200-500 tokens), the rest 1-60 tokens.  Content tokens follow a
Zipf(1.1) law over the vocabulary, 10% are capitalized, 3% carry trailing
punctuation, and about 25% extra stopwords are interleaved.  One token of
300 characters per corpus exercises the drop-but-count rule.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

ZIPF_S = 1.1

# the 33-word StandardAnalyzer stop set, written out so the inputs do not
# depend on engine code
STOPWORDS = np.array(sorted(
    """a an and are as at be but by for if in into is it no not of on or such
    that the their then there these they this to was will with""".split()
))

TIE_POOL = np.array([
    "retry deploy pipeline", "fix test flake", "cache miss again",
    "merge conflict resolved", "rollback bad release",
    "timeout raised limit", "schema drift detected", "index rebuild done",
])

_SYL = np.array(
    "ba be bi bo bu da de di do du ka ke ki ko ku la le li lo lu "
    "ma me mi mo mu na ne ni no nu ra re ri ro ru sa se si so su "
    "ta te ti to tu va ve vi vo vu za ze zi zo zu".split()
)
_PUNCT = np.array([",", ".", "?", "!", ";"])
_ROLES = np.array(["user", "assistant", "tool"])
_TOOLS = np.array(["search", "bash", "editor", "browser", "none"])
_EPOCH = np.datetime64("2026-01-01T00:00:00", "us")


def make_vocab(size: int) -> np.ndarray:
    """`size` distinct lowercase ALPHANUM words, most-frequent first.

    Words are 2-4 syllables; every 17th carries a two-digit suffix.  The
    vocabulary depends on `size` only, not on the seed."""
    rng = np.random.default_rng(np.random.Philox(key=20260101))
    words: list[str] = []
    seen = set(STOPWORDS.tolist())
    while len(words) < size:
        n = 4 * (size - len(words)) + 64
        n_syl = rng.integers(2, 5, n)
        syl = _SYL[rng.integers(0, _SYL.size, (n, 4))]
        cand = syl[:, 0].astype(object) + syl[:, 1]
        cand = np.where(n_syl >= 3, cand + syl[:, 2], cand)
        cand = np.where(n_syl >= 4, cand + syl[:, 3], cand)
        for i, w in enumerate(cand.tolist()):
            if (len(words) + i) % 17 == 0:
                w = f"{w}{(len(words) + i) % 100}"
            if w not in seen:
                seen.add(w)
                words.append(w)
            if len(words) == size:
                break
    return np.array(words, dtype=object)


def zipf_cdf(n: int) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** ZIPF_S
    return np.cumsum(w / w.sum())


def gen_corpus(n_convs: int, seed: int, vocab: np.ndarray,
               conv_base: int = 0) -> pa.Table:
    """Transcript rows for conversations conv_base .. conv_base+n_convs-1,
    in (conv_id, turn_idx) order, so an appended batch made with a higher
    `conv_base` sorts after the base corpus."""
    rng = np.random.default_rng(np.random.Philox(key=[seed, conv_base]))
    turns = rng.integers(5, 41, n_convs)
    n = int(turns.sum())
    conv = np.repeat(np.arange(conv_base, conv_base + n_convs), turns)
    starts = np.cumsum(turns) - turns
    turn_idx = (np.arange(n) - np.repeat(starts, turns)).astype(np.int32)

    kind = rng.random(n)
    empty, tie = kind < 0.02, (kind >= 0.02) & (kind < 0.06)
    long_ = (kind >= 0.06) & (kind < 0.14)
    dl = np.where(long_, rng.integers(200, 501, n), rng.integers(1, 61, n))
    dl[empty | tie] = 0
    n_stop = dl // 4
    length = dl + n_stop

    # flat token stream: per turn, dl content tokens then n_stop stopwords,
    # shuffled within the turn by a random sort key
    total = int(length.sum())
    owner = np.repeat(np.arange(n), length)
    offs = np.cumsum(length) - length
    slot = np.arange(total) - np.repeat(offs, length)
    is_stop = slot >= np.repeat(dl, length)
    cdf = zipf_cdf(vocab.size)
    ranks = np.minimum(np.searchsorted(cdf, rng.random(total)), vocab.size - 1)
    toks = vocab[ranks]
    caps = rng.random(total) < 0.10
    toks[caps] = np.char.capitalize(toks[caps].astype(str)).astype(object)
    punct = rng.random(total) < 0.03
    toks[punct] = toks[punct] + _PUNCT[rng.integers(0, _PUNCT.size,
                                                    int(punct.sum()))]
    toks[is_stop] = STOPWORDS[rng.integers(0, STOPWORDS.size,
                                           int(is_stop.sum()))]
    order = np.lexsort((rng.random(total), owner))
    toks = toks[order]

    lists = pa.ListArray.from_arrays(
        pa.array(np.append(offs, total).astype(np.int32)),
        pa.array(toks, pa.string()),
    )
    text = pc.binary_join(lists, " ").to_numpy(zero_copy_only=False)
    text[tie] = TIE_POOL[rng.integers(0, TIE_POOL.size, int(tie.sum()))]
    text[empty] = ""
    if conv_base == 0 and n > 1:
        text[1] = text[1] + " " + "x" * 300  # >255-char token

    return pa.table({
        "conv_id": pa.array(np.char.add("conv", np.char.zfill(
            conv.astype(str), 8))),
        "turn_idx": pa.array(turn_idx, pa.int32()),
        "role": pa.array(_ROLES[(conv + turn_idx) % 3]),
        "text": pa.array(text, pa.string()),
        "tool": pa.array(_TOOLS[(conv * 3 + turn_idx) % 5]),
        "ts": pa.array(_EPOCH + np.timedelta64(1, "s")
                       * (conv * 1000 + turn_idx * 7)),
    })


# reference-set classes and counts (FIXTURES.md §4)
QUERY_CLASSES = (("single", 10), ("and2", 10), ("and3", 5), ("or2", 10),
                 ("or_n", 5), ("mixed", 10), ("stop", 3))
ABSENT = "zzzzabsentterm"


def reference_set(terms: list[str]) -> list[str]:
    """The 53-query reference set over `terms`, most frequent first:
    single terms from every frequency decile plus an absent one, 2- and
    3-term AND, 2- and 3..5-term OR, one level of nesting, and stopword
    interaction."""
    n = len(terms)

    def at(frac: float) -> str:
        return terms[min(int(frac * n), n - 1)]

    hi, hi2, rare = terms[0], terms[1], terms[-1]
    mid, mid2, mid3 = at(0.40), at(0.45), at(0.50)
    low, low2, a = at(0.90), at(0.95), ABSENT
    q = [hi, hi2, mid, mid2, mid3, low, low2, rare, a, at(0.2)]
    q += [f"{x} AND {y}" for x, y in [
        (hi, mid), (hi, rare), (mid, mid2), (low, low2), (hi, hi2),
        (mid, low), (hi, low2), (mid2, mid3), (rare, low), (hi, a)]]
    q += [" AND ".join(t) for t in [
        (hi, hi2, mid), (hi, mid, low), (mid, mid2, mid3), (hi, mid, a),
        (hi2, mid2, low2)]]
    q += [f"{x} OR {y}" for x, y in [
        (hi, hi2), (hi, rare), (mid, mid2), (low, low2), (rare, a),
        (hi, mid), (mid, low2), (hi2, mid3), (low, rare), (mid2, a)]]
    q += [" OR ".join(t) for t in [
        (hi, mid, low), (hi, hi2, mid2, rare), (hi, mid, mid2, low, low2),
        (rare, low, a), ("the", "of", "and")]]
    q += [f"({hi} OR {hi2}) AND {mid}", f"({mid} OR {low}) AND {hi}",
          f"({rare} OR {low2}) AND {mid2}", f"({hi} OR {rare}) AND {a}",
          f"({mid} OR {mid2}) AND ({low} OR {low2})",
          f"({hi} OR {mid}) AND {rare}", f"({low} OR {rare}) AND {hi}",
          f"({hi2} OR {mid3}) AND {mid}",
          f"({hi} OR {low}) AND ({hi2} OR {mid2})",
          f"({mid3} OR {low2}) AND {hi2}"]
    q += [f"the {hi}", f"{mid} AND of", f"(the OR {low}) AND {hi}"]
    return q


def query_stream(terms: list[str], n: int, seed: int) -> list[str]:
    """`n` queries in the reference set's class mix, terms drawn Zipf(1.1)
    over `terms`, most frequent first."""
    rng = np.random.default_rng(np.random.Philox(key=[seed, 7]))
    names = [c for c, k in QUERY_CLASSES for _ in range(k)]
    cls = np.array(names)[rng.integers(0, len(names), n)]
    words = np.array(terms, dtype=object)
    cdf = zipf_cdf(words.size)
    draw = words[np.minimum(np.searchsorted(cdf, rng.random((n, 5))),
                            words.size - 1)]
    width = rng.integers(3, 6, n)
    out = []
    for c, t, w in zip(cls.tolist(), draw.tolist(), width.tolist()):
        if c == "single":
            out.append(t[0])
        elif c == "and2":
            out.append(f"{t[0]} AND {t[1]}")
        elif c == "and3":
            out.append(f"{t[0]} AND {t[1]} AND {t[2]}")
        elif c == "or2":
            out.append(f"{t[0]} OR {t[1]}")
        elif c == "or_n":
            out.append(" OR ".join(t[:w]))
        elif c == "mixed":
            out.append(f"({t[0]} OR {t[1]}) AND {t[2]}")
        else:
            out.append(f"the {t[0]}")
    return out
