"""Scoring models: one class per similarity, the only place a scoring
formula lives.

The reference switches the scoring model at query time with
``IndexSearcher.setSimilarity``, and every scorer asks the Similarity for
its SimScorer.  Here ``make_similarity`` builds the model object for one
field's collection stats (doc_count, sum_total_term_freq), and
LocalSearcher and DistributedSearcher call it in every execution mode.
All models decode the same floatToByte315 norm byte, so switching the
model needs no reindex.

Each object has:

- ``weight(clauses)`` / ``score(w, freq, norms)`` — float32 serving mode.
  `clauses` is the list of (docFreq, totalTermFreq) pairs the weight is
  built from (the termStats[] handed to Similarity.computeWeight): one
  pair for a term, duplicates kept for a phrase, deduplicated for a span,
  ``[(max df, sum ttf)]`` for a synonym (SynonymQuery.java:134-147).
  `freq` is float32 and `norms` the norm bytes; ``norms=None`` is an
  omitNorms keyword field.  Java float discipline: float32 arithmetic,
  Math.log/log2/pow in double cast back to float at each expression
  boundary; multi-clause scores of the LM and SimilarityBase models sum
  the per-clause float32 scores (MultiSimilarity.MultiSimScorer).
- ``weight64(clauses)`` / ``score64(w, freq, dl)`` — float64 gate mode:
  all-double with the EXACT docmap length `dl`, in the operation order
  of the ANSI-SQL twin (DuckDB, ``oracle/simbase_sql.py`` and
  ``__spark_entry__``; ``LN(1+x)``, not log1p).  numpy's ``np.log``
  differs from libm's ``log`` by one ulp on about a fifth of doubles,
  so gate scores match the twin after the gates' ``ROUND(score, 4)``,
  not bit for bit; ``dl=None`` is the omitNorms case.
- ``block_bound(w, max_tf, min_ntab)`` — for ``prunable`` models: a
  sound upper bound of ``score`` over a posting block from its stored
  (max_tf, min_ntab) metadata.  ``prunable`` also promises score > 0 at
  every posting, which the dense-table and threshold fast paths rely on:
  true for bm25, classic and lmjm; lmd and dfi can score a present
  posting exactly 0.
- ``name`` and ``explain(clause, omit_norms)`` — the explanation leaf.

Models: ``bm25`` (BM25Similarity), ``classic`` (ClassicSimilarity TF-IDF),
``lmd`` (LMDirichletSimilarity), ``lmjm`` (LMJelinekMercerSimilarity) and
the SimilarityBase five ``dfr``, ``ib``, ``dfi``, ``ax``, ``bool``, which
score ``score(stats, freq, docLen)`` with docLen decoded from the shared
norm byte (1/f^2, the table BM25 uses too — SimilarityBase.java:220-227).
"""
from __future__ import annotations

import math

import numpy as np

from ..oracle.smallfloat import NORM_TABLE, byte315_to_float

F32_0 = np.float32(0.0)
F32_1 = np.float32(1.0)
_LN2 = math.log(2.0)


def make_similarity(name: str, doc_count, sum_ttf, k1: float = 1.2,
                    b: float = 0.75, mu: float = 2000.0,
                    lmjm_lambda: float = 0.1) -> "Similarity":
    """The `name` model over one field's collection stats."""
    doc_count, sum_ttf = int(doc_count or 0), int(sum_ttf or 0)
    if name == "bm25":
        return BM25(doc_count, sum_ttf, k1, b)
    if name == "lmd":
        return LMDirichlet(doc_count, sum_ttf, mu)
    if name == "lmjm":
        return LMJelinekMercer(doc_count, sum_ttf, lmjm_lambda)
    if name not in _PLAIN:
        raise ValueError(f"unknown similarity {name!r}")
    return _PLAIN[name](doc_count, sum_ttf)


class Similarity:
    """Collection stats shared by every model; subclasses add the
    formulas (module docstring)."""

    name = "Similarity"
    prunable = False

    def __init__(self, doc_count: int, sum_ttf: int):
        self.doc_count, self.sum_ttf = doc_count, sum_ttf
        # fillBasicStats: avgFieldLength = tokens / docs, 1 for an
        # empty field (SimilarityBase.java:100-140)
        ok = sum_ttf > 0 and doc_count > 0
        self.avgdl = np.float32(sum_ttf / float(doc_count)) if ok else F32_1
        self.avgdl64 = sum_ttf / float(doc_count) if ok else 1.0

    def weight64(self, clauses):
        return self.weight(clauses)


class BM25(Similarity):
    """BM25Similarity (BM25Similarity.java:213-254): weight =
    idf * (k1 + 1) with idf = ln(1 + (N - df + 0.5) / (df + 0.5)) summed
    over clauses; score = weight * freq / (freq + k1 * ((1 - b) +
    b * docLen / avgdl)) through the 256-entry norm cache; omitNorms uses
    k1 as the norm value."""

    name = "BM25Similarity"
    prunable = True

    def __init__(self, doc_count, sum_ttf, k1, b):
        super().__init__(doc_count, sum_ttf)
        self.k1, self.b = np.float32(k1), np.float32(b)
        self.k1d, self.bd = float(k1), float(b)
        self.cache = (
            self.k1 * ((F32_1 - self.b) + self.b * NORM_TABLE / self.avgdl)
        ).astype(np.float32)

    def _idf(self, clauses) -> np.float32:
        idf = F32_0
        for df, _ in clauses:
            idf = np.float32(idf + np.float32(
                np.log(1 + (self.doc_count - df + 0.5) / (df + 0.5))
            ))
        return idf

    def weight(self, clauses):
        return np.float32(self._idf(clauses) * (self.k1 + F32_1))

    def score(self, w, freq, norms):
        norm = self.k1 if norms is None else self.cache[norms]
        return (w * freq / (freq + norm)).astype(np.float32)

    def weight64(self, clauses):
        return sum(
            math.log(1.0 + (self.doc_count - df + 0.5) / (df + 0.5))
            for df, _ in clauses
        )

    def score64(self, w, freq, dl):
        fq = freq.astype(np.float64)
        norm = self.k1d if dl is None else self.k1d * (
            (1.0 - self.bd) + self.bd * dl.astype(np.float64) / self.avgdl64
        )
        return w * (self.k1d + 1.0) * fq / (fq + norm)

    def block_bound(self, w, max_tf, min_ntab):
        """score <= w * max_tf / (max_tf + k1 * ((1-b) + b * min_ntab /
        avgdl)): increasing in tf, decreasing in docLen; the 1+1e-6
        guard covers float32 scores against the float64 bound."""
        c = float(self.k1) * (
            (1.0 - float(self.b)) + float(self.b) * min_ntab
            / float(self.avgdl)
        )
        return float(w) * max_tf / (max_tf + c) * (1.0 + 1e-6)

    def explain(self, clause, omit_norms=False):
        out = {"idf": float(self._idf([clause])), "k1": float(self.k1)}
        if omit_norms:
            out["norm"] = float(self.k1)
        else:
            out.update(b=float(self.b), avgdl=float(self.avgdl))
        return out


class Classic(Similarity):
    """ClassicSimilarity (TF-IDF, ClassicSimilarity.java:50-79,
    TFIDFSimilarity.java:98-110): weight = idf summed over clauses with
    idf = ln((N + 1) / (df + 1)) + 1; raw = sqrt(freq) * weight, times
    the norm byte315ToFloat(norm) (1/sqrt(dl) in gate mode); omitNorms
    returns raw."""

    name = "ClassicSimilarity"
    prunable = True

    def __init__(self, doc_count, sum_ttf):
        super().__init__(doc_count, sum_ttf)
        self.norm_table = byte315_to_float(np.arange(256, dtype=np.uint8))

    def weight(self, clauses):
        idf = F32_0
        for df, _ in clauses:
            idf = np.float32(idf + np.float32(
                np.log((self.doc_count + 1) / float(df + 1)) + 1.0
            ))
        return idf

    def score(self, w, freq, norms):
        raw = (np.sqrt(freq, dtype=np.float32) * w).astype(np.float32)
        if norms is None:
            return raw
        return (raw * self.norm_table[norms]).astype(np.float32)

    def weight64(self, clauses):
        return sum(
            math.log((self.doc_count + 1.0) / (df + 1.0)) + 1.0
            for df, _ in clauses
        )

    def score64(self, w, freq, dl):
        raw = np.sqrt(freq.astype(np.float64)) * w
        return raw if dl is None else raw / np.sqrt(dl.astype(np.float64))

    def block_bound(self, w, max_tf, min_ntab):
        """score <= sqrt(max_tf) * w / sqrt(min_ntab): the norm
        byte315ToFloat(b) = 1/sqrt(NORM_TABLE[b]) falls as docLen grows."""
        with np.errstate(divide="ignore"):
            ub = np.sqrt(max_tf) * float(w) / np.sqrt(min_ntab)
        return ub * (1.0 + 1e-6)

    def explain(self, clause, omit_norms=False):
        return {"idf": float(self.weight([clause]))}


class _LM(Similarity):
    """LM family weight: per clause the collection probability
    pc = (ttf + 1) / (numberOfFieldTokens + 1)
    (LMSimilarity.DefaultCollectionModel) — float32 division in serving
    mode, double in gate mode."""

    def weight(self, clauses):
        return [float(np.float32(np.float32(ttf + 1.0)
                                 / np.float32(self.sum_ttf + 1.0)))
                for _, ttf in clauses]

    def weight64(self, clauses):
        return [(ttf + 1.0) / (self.sum_ttf + 1.0) for _, ttf in clauses]

    def explain(self, clause, omit_norms=False):
        return {"collectionProbability": self.weight([clause])[0]}


def _logs(dl):
    """(log, docLen) for LM gate scoring: omitNorms (dl None) is the
    keyword-field constant with docLen 1, evaluated with math.log like
    the gate's scalar literals; otherwise numpy over the exact dl."""
    if dl is None:
        return np.vectorize(math.log, otypes=[np.float64]), 1.0
    return np.log, dl.astype(np.float64)


class LMDirichlet(_LM):
    """LMDirichletSimilarity (LMDirichletSimilarity.java:66-71): per
    clause max(0, ln(1 + freq / (mu * pc)) + ln(mu / (docLen + mu))) —
    a matching doc can score exactly 0, so not prunable."""

    name = "LMDirichletSimilarity"

    def __init__(self, doc_count, sum_ttf, mu):
        super().__init__(doc_count, sum_ttf)
        self.mu = float(mu)

    def score(self, w, freq, norms):
        mu, fq = self.mu, freq.astype(np.float64)
        dl = 1.0 if norms is None else NORM_TABLE[norms].astype(np.float64)
        dnorm = np.log(mu / (dl + mu))
        total = np.zeros(fq.size, dtype=np.float32)
        for pc in w:
            s = (np.log1p(fq / (mu * pc)) + dnorm).astype(np.float32)
            total = (total + np.maximum(s, F32_0)).astype(np.float32)
        return total

    def score64(self, w, freq, dl):
        mu, fq = self.mu, freq.astype(np.float64)
        log, dl = _logs(dl)
        dnorm = log(mu / (dl + mu))
        total = np.zeros(fq.size, dtype=np.float64)
        for pc in w:
            total += np.maximum(log(1.0 + fq / (mu * pc)) + dnorm, 0.0)
        return total

    def explain(self, clause, omit_norms=False):
        return {"mu": self.mu, **super().explain(clause)}


class LMJelinekMercer(_LM):
    """LMJelinekMercerSimilarity (LMJelinekMercerSimilarity.java:54-59):
    per clause ln(1 + ((1 - lambda) * freq / docLen) / (lambda * pc)) —
    strictly positive at every posting."""

    name = "LMJelinekMercerSimilarity"
    prunable = True

    def __init__(self, doc_count, sum_ttf, lam):
        super().__init__(doc_count, sum_ttf)
        self.lam = float(lam)

    def score(self, w, freq, norms):
        lam, fq = self.lam, freq.astype(np.float64)
        dl = 1.0 if norms is None else NORM_TABLE[norms].astype(np.float64)
        total = np.zeros(fq.size, dtype=np.float32)
        for pc in w:
            s = np.log1p(((1.0 - lam) * fq / dl) / (lam * pc))
            total = (total + s.astype(np.float32)).astype(np.float32)
        return total

    def score64(self, w, freq, dl):
        lam, fq = self.lam, freq.astype(np.float64)
        log, dl = _logs(dl)
        total = np.zeros(fq.size, dtype=np.float64)
        for pc in w:
            total += log(1.0 + ((1.0 - lam) * fq / dl) / (lam * pc))
        return total

    def block_bound(self, w, max_tf, min_ntab):
        """Rises with tf, falls with docLen (min_ntab is the block's
        smallest decoded docLen)."""
        lam, ub = self.lam, 0.0
        with np.errstate(divide="ignore"):
            for pc in w:
                ub = ub + np.log1p(((1.0 - lam) * max_tf / min_ntab)
                                   / (lam * pc))
        return ub * (1.0 + 1e-6)

    def explain(self, clause, omit_norms=False):
        return {"lambda": self.lam, **super().explain(clause)}


class SimilarityBase(Similarity):
    """SimilarityBase: the weight is the clause list itself, df clamped
    >= 1 (the reference only builds a SimScorer for terms that exist);
    the score sums one ``_clause`` per pair — float32 in serving mode,
    double in gate mode.  avgdl and numberOfFieldTokens come from the
    field's stats (fillBasicStats)."""

    def weight(self, clauses):
        return [(max(int(df), 1), int(ttf)) for df, ttf in clauses]

    def score(self, w, freq, norms):
        dl = (np.ones(freq.size, dtype=np.float32) if norms is None
              else NORM_TABLE[norms])
        total = np.zeros(freq.size, dtype=np.float32)
        for df, ttf in w:
            total = (total + self._clause32(freq, dl, df, ttf)).astype(
                np.float32)
        return total

    def score64(self, w, freq, dl):
        fq = freq.astype(np.float64)
        dl = np.ones(fq.size) if dl is None else dl.astype(np.float64)
        total = np.zeros(fq.size, dtype=np.float64)
        for df, ttf in w:
            total += self._clause64(fq, dl, df, ttf)
        return total

    def explain(self, clause, omit_norms=False):
        return {"totalTermFreq": int(clause[1]),
                "numberOfFieldTokens": self.sum_ttf,
                "avgFieldLength": float(self.avgdl)}

    # NormalizationH2 (c=1): tfn = tf * log2(1 + avgdl / docLen)
    # (NormalizationH2.java:52-54), shared by dfr and ib
    def _tfn32(self, freq, dl):
        """``(float)(tf * log2(1 + c*avgdl/len))``: the ratio and the
        ``1 +`` in float32, the log2 and the product in double."""
        inner = (F32_1 + (self.avgdl / dl).astype(np.float32)).astype(
            np.float32)
        return (
            freq.astype(np.float64)
            * (np.log(inner.astype(np.float64)) / _LN2)
        ).astype(np.float32)

    def _tfn64(self, fq, dl):
        return fq * (np.log(1.0 + self.avgdl64 / dl) / _LN2)


class DFR(SimilarityBase):
    """DFRSimilarity(BasicModelIn, AfterEffectL, NormalizationH2(c=1)),
    "I(n)L2": tfn * log2((N+1)/(n+0.5)) / (tfn+1)
    (DFRSimilarity.java:110-114, BasicModelIn.java:33-37,
    AfterEffectL.java:32-34)."""

    name = "DFRSimilarity(I(n)L2)"

    def _clause32(self, freq, dl, df, ttf):
        tfn = self._tfn32(freq, dl)
        i_n = np.float32(math.log((self.doc_count + 1) / (df + 0.5)) / _LN2)
        basic = (tfn * i_n).astype(np.float32)
        ae = (F32_1 / (tfn + F32_1)).astype(np.float32)
        return (basic * ae).astype(np.float32)

    def _clause64(self, fq, dl, df, ttf):
        tfn = self._tfn64(fq, dl)
        i_n = math.log((self.doc_count + 1) / (df + 0.5)) / _LN2
        return tfn * i_n / (tfn + 1.0)


class IB(SimilarityBase):
    """IBSimilarity(DistributionLL, LambdaDF, NormalizationH2(c=1)),
    "IB LL-D2": -ln(lambda / (tfn + lambda)), lambda = (df+1)/(N+1)
    (IBSimilarity.java:98-104, DistributionLL.java:33-35,
    LambdaDF.java:31-34)."""

    name = "IBSimilarity(LL-D2)"

    def _clause32(self, freq, dl, df, ttf):
        tfn = self._tfn32(freq, dl)
        # lambda (df+1F)/(N+1F) float; the ratio is float division, the
        # log double
        lam = np.float32(np.float32(df + 1.0)
                         / np.float32(self.doc_count + 1.0))
        x = (lam / (tfn + lam)).astype(np.float32)
        return (-np.log(x.astype(np.float64))).astype(np.float32)

    def _clause64(self, fq, dl, df, ttf):
        tfn = self._tfn64(fq, dl)
        lam = (df + 1.0) / (self.doc_count + 1.0)
        return -np.log(lam / (tfn + lam))


class DFI(SimilarityBase):
    """DFISimilarity(IndependenceChiSquared): expected =
    (ttf+1) * docLen / (tokens+1); 0 when tf <= expected, else
    log2((tf - expected)^2 / expected + 1) (DFISimilarity.java:53-64,
    IndependenceChiSquared.java:36-39) — can score a posting 0."""

    name = "DFISimilarity(ChiSquared)"

    def _clause32(self, freq, dl, df, ttf):
        # long*float/long — all float32 in Java.  The multiply can
        # overflow to inf for extreme ttf*dl exactly as Java float
        # arithmetic does, so the numpy warning is silenced, not a defect
        with np.errstate(over="ignore", invalid="ignore"):
            expected = (
                (np.float32(ttf + 1) * dl).astype(np.float32)
                / np.float32(self.sum_ttf + 1)
            ).astype(np.float32)
            d = (freq - expected).astype(np.float32)
            measure = (d * d / expected).astype(np.float32)
        s = (
            np.log((measure + F32_1).astype(np.float64)) / _LN2
        ).astype(np.float32)
        return np.where(freq <= expected, F32_0, s)

    def _clause64(self, fq, dl, df, ttf):
        expected = (ttf + 1.0) * dl / (self.sum_ttf + 1.0)
        d = fq - expected
        s = np.log(d * d / expected + 1.0) / _LN2
        return np.where(fq <= expected, 0.0, s)


class Axiomatic(SimilarityBase):
    """AxiomaticF2EXP(s=0.25, k=0.35): tf / (tf + s + s*docLen/avgdl) *
    ((N+1)/df)^k (Axiomatic.java:96-107, AxiomaticF2EXP.java:58-88)."""

    name = "AxiomaticF2EXP"
    S, K = 0.25, 0.35

    def _clause32(self, freq, dl, df, ttf):
        s_c = np.float32(self.S)
        # freq + s + s*docLen/avgdl: Java float ops left to right
        denom = (
            (freq + s_c).astype(np.float32)
            + ((s_c * dl).astype(np.float32) / self.avgdl).astype(np.float32)
        ).astype(np.float32)
        tfln = (freq / denom).astype(np.float32)
        # (float) Math.pow((N + 1.0) / df, k): double pow, float cast
        idf = np.float32(math.pow((self.doc_count + 1.0) / df, self.K))
        return (tfln * idf).astype(np.float32)

    def _clause64(self, fq, dl, df, ttf):
        return (fq / (fq + self.S + self.S * dl / self.avgdl64)
                * math.pow((self.doc_count + 1.0) / df, self.K))

    def explain(self, clause, omit_norms=False):
        return {"s": self.S, "k": self.K, **super().explain(clause)}


class BooleanSim(SimilarityBase):
    """BooleanSimilarity: every clause scores its boost, 1
    (BooleanSimilarity.java:30-72)."""

    name = "BooleanSimilarity"

    def _clause32(self, freq, dl, df, ttf):
        return np.full(freq.size, F32_1, dtype=np.float32)

    def _clause64(self, fq, dl, df, ttf):
        return 1.0

    def explain(self, clause, omit_norms=False):
        return {}


_PLAIN = {"classic": Classic, "dfr": DFR, "ib": IB, "dfi": DFI,
          "ax": Axiomatic, "bool": BooleanSim}
