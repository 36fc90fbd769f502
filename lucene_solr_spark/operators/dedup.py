"""Deduplication operators for training-data pipelines.

MinHash+LSH near-dup, SimHash, and n-gram Jaccard — all as
pure built-in-function DataFrame plans (no Python UDFs: every hash is
md5 over strings so whole-stage codegen applies and a DuckDB oracle can
reproduce results bit-for-bit).

Scale notes (100 TB): every operator here is a narrow map plus one
hash-partitioned shuffle (groupBy band / shingle); the LSH
band join replaces the O(n^2) all-pairs comparison with
O(sum of bucket^2) on near-duplicate buckets only — the standard
MinHash banding argument.  Hot buckets (boilerplate text) are bounded by
`max_bucket` to cap the quadratic blowup, mirroring the hot-term
salting strategy of the index build.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

#: MinHash signature size and LSH banding (k = bands * rows_per_band)
MINHASH_K = 8
LSH_BANDS = 4
LSH_ROWS = 2


def _tokens(text_col: str):
    return F.filter(F.split(F.col(text_col), " "), lambda x: x != "")


def word_shingles(docs: DataFrame, n: int = 3, text_col: str = "text",
                  key_col: str = "doc_id") -> DataFrame:
    """(key, shingle): distinct n-word shingles per doc, built with array
    built-ins (slice/transform) — no UDF."""
    toks = _tokens(text_col)
    # guard: sequence(1, m) with m < 1 generates DESCENDING [1, 0] in
    # Spark; emit an empty shingle set for docs shorter than n tokens
    sh = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select(F.col(key_col), F.explode(F.array_distinct(sh)).alias("shingle"))
    )


def minhash_signature(shingles: DataFrame, k: int = MINHASH_K,
                      key_col: str = "doc_id") -> DataFrame:
    """MinHash signature per doc: h_i = min over shingles of
    md5(shingle || '#' || i), for i in 0..k-1.  Lexicographic min over
    md5 hex strings is a valid min-wise hash family and is reproducible
    in any SQL engine."""
    aggs = [
        F.min(F.md5(F.concat(F.col("shingle"), F.lit(f"#{i}")))).alias(f"h{i}")
        for i in range(k)
    ]
    return shingles.groupBy(key_col).agg(*aggs)


def lsh_bands(sig: DataFrame, bands: int = LSH_BANDS, rows: int = LSH_ROWS,
              key_col: str = "doc_id") -> DataFrame:
    """(key, band, bucket): banding over the signature; docs sharing any
    (band, bucket) are near-dup candidates."""
    cols = []
    for b in range(bands):
        parts = [F.col(f"h{b * rows + r}") for r in range(rows)]
        cols.append(
            F.struct(F.lit(b).alias("band"),
                     F.md5(F.concat(*parts)).alias("bucket"))
        )
    return sig.select(
        F.col(key_col), F.explode(F.array(*cols)).alias("bb")
    ).select(key_col, F.col("bb.band").alias("band"),
             F.col("bb.bucket").alias("bucket"))


def near_dup_pairs(docs: DataFrame, n: int = 3, k: int = MINHASH_K,
                   bands: int = LSH_BANDS, rows: int = LSH_ROWS,
                   text_col: str = "text", key_col: str = "doc_id",
                   max_bucket: int = 1000) -> DataFrame:
    """Candidate near-duplicate pairs (a < b) via MinHash LSH banding.

    `max_bucket` drops degenerate buckets (boilerplate shared by huge
    doc sets) whose quadratic pair expansion would dominate at scale —
    the skew guard."""
    sh = word_shingles(docs, n, text_col, key_col)
    bb = lsh_bands(minhash_signature(sh, k, key_col), bands, rows, key_col)
    sized = bb.groupBy("band", "bucket").agg(
        F.collect_list(key_col).alias("ks"), F.count("*").alias("n")
    ).filter(F.col("n").between(2, max_bucket))
    pairs = sized.select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        F.col("ks"),
                        lambda a: F.transform(
                            F.col("ks"), lambda b: F.struct(
                                a.alias("a"), b.alias("b"))
                        ),
                    )
                ),
                lambda p: p["a"] < p["b"],
            )
        ).alias("p")
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b")).distinct()
    return pairs


def jaccard_pairs(docs: DataFrame, pairs: DataFrame, n: int = 3,
                  text_col: str = "text", key_col: str = "doc_id") -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs (the verify
    stage after LSH): (a, b, jaccard)."""
    sh = word_shingles(docs, n, text_col, key_col)
    sizes = sh.groupBy(key_col).agg(F.count("*").alias("sz"))
    sha = sh.select(F.col(key_col).alias("a"), "shingle")
    shb = sh.select(F.col(key_col).alias("b"), "shingle")
    inter = (
        pairs.join(sha, "a").join(shb, ["b", "shingle"])
        .groupBy("a", "b").agg(F.count("*").alias("inter"))
    )
    out = (
        inter.join(sizes.select(F.col(key_col).alias("a"),
                                F.col("sz").alias("sza")), "a")
        .join(sizes.select(F.col(key_col).alias("b"),
                           F.col("sz").alias("szb")), "b")
        .select(
            "a", "b",
            (F.col("inter")
             / (F.col("sza") + F.col("szb") - F.col("inter"))).alias("jaccard"),
        )
    )
    return out


def simhash(docs: DataFrame, nbits: int = 16, text_col: str = "text",
            key_col: str = "doc_id") -> DataFrame:
    """SimHash fingerprint (nbits <= 32) from term md5s weighted by tf.

    Bit j of a term's hash = parity of hex digit j of md5(term); the
    fingerprint bit is the sign of the tf-weighted sum — the standard
    Charikar construction with an md5-derived bit family so SQL oracles
    reproduce it exactly.  (Production-scale variant would use a 64-bit
    integer hash; semantics identical.)"""
    toks = _tokens(text_col)
    tf = (
        docs.select(F.col(key_col), F.explode(toks).alias("term"))
        .groupBy(key_col, "term").agg(F.count("*").alias("tf"))
        .withColumn("h", F.md5(F.col("term")))
    )
    bit_sums = tf.groupBy(key_col).agg(
        *[
            F.sum(
                F.col("tf")
                * F.when(
                    F.expr(
                        f"(instr('0123456789abcdef', substring(h, {j + 1}, 1)) - 1) % 2"
                    ) == 1,
                    F.lit(1),
                ).otherwise(F.lit(-1))
            ).alias(f"s{j}")
            for j in range(nbits)
        ]
    )
    fp = bit_sums.select(
        F.col(key_col),
        sum(
            (F.when(F.col(f"s{j}") > 0, F.lit(1)).otherwise(F.lit(0))
             * F.lit(1 << j)).cast("long")
            for j in range(nbits)
        ).alias("simhash"),
    )
    return fp
