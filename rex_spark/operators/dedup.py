"""Document deduplication family (training-data pipeline ops).

All operate on the ``documents`` table shape
(doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT).

- ``exact_dedup``          hash-groupBy on normalized text (scale path:
                           one shuffle on the group key, map-side partial).
- ``ngram_jaccard_pairs``  EXACT near-dup pairs via an inverted shingle
                           index: explode n-grams -> self-equi-join on
                           the shingle -> per-pair common counts ->
                           Jaccard.  This is also the verifier for the
                           probabilistic variants.
- ``minhash_lsh_pairs``    MinHash signatures + LSH banding: candidates
                           only meet inside a band bucket, verified with
                           exact Jaccard.  The 100 TB path (cost ~
                           O(docs x bands), never all-pairs).  Its
                           pieces (_band_frame, lsh_pairs) are also the
                           graph plane's surface linking
                           (canonical._lsh_edges).
- ``simhash_pairs``        64-bit SimHash, blocked by 4x16-bit chunks
                           (pigeonhole: hamming<=3 pairs share a chunk),
                           verified by exact hamming distance.
- ``embedding_neardup_pairs``  cosine >= t over an embedding column.

Each returns a DataFrame; __spark_entry__ wires them to DuckDB oracles
where expressible (exact variants) and rows-only checks otherwise.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..kernels.hashing import (
    band_keys_batch,
    minhash_params,
    minhash_signatures_batch,
    simhash64,
)
from ..kernels.textnorm import ngrams
from .similarity import _cosine, _normed


def _parallelize(df: DataFrame) -> DataFrame:
    """Repartition an UNDER-parallelized input up to the cluster's
    default parallelism before a CPU-heavy Python stage.

    Small parquet files scan as one partition (maxPartitionBytes), so
    the UDF would run on one core; at real scale the scan already has
    >= defaultParallelism partitions and this is a no-op (no shuffle).
    """
    dp = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < dp:
        return df.repartition(dp)
    return df


def _norm_text(col):
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def _tokens(col):
    return F.split(_norm_text(col), " ")


def _shingles(col, n: int):
    """Distinct token n-grams, JVM-side (transform over sequence)."""
    toks = _tokens(col)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    short = F.array(F.concat_ws(" ", toks))  # len<n -> whole text shingle
    return F.array_distinct(F.when(F.size(toks) >= n, grams).otherwise(short))


def exact_dedup(documents: DataFrame) -> DataFrame:
    """One row per distinct normalized text: kept doc_id (min), dup count."""
    return (
        documents.select("doc_id", _norm_text(F.col("text")).alias("norm"))
        .groupBy("norm")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .select("doc_id", "dup_count")
    )


def ngram_jaccard_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard >= threshold pairs via inverted index.

    Scale shape: |postings| = sum of per-doc distinct shingles; the
    self-join meets only docs sharing a shingle (never all-pairs), and
    AQE skew-join splits hot shingles.

    ``max_df`` is the stop-shingle cap: a shingle appearing in more
    than ``max_df`` documents is dropped from the POSTINGS before the
    self-join (per-doc sizes keep the full shingle set, so reported
    Jaccard can only be under-estimated, never inflated).  At web
    scale this is load-bearing — one stopword shingle shared by d
    documents otherwise yields d^2 join rows — and a pair that
    overlaps ONLY on stop-shingles is noise, not a near-duplicate.
    None = exact (the verifier form).
    """
    sh = documents.select(
        "doc_id", F.explode(_shingles(F.col("text"), n)).alias("shingle")
    ).dropDuplicates(["doc_id", "shingle"])
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))

    postings = sh
    if max_df is not None:
        # df count + rejoin share the shingle-key shuffle with the
        # self-join below (co-partitioned, no extra exchange round)
        df_counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        postings = sh.join(
            df_counts.where(F.col("df") <= max_df).select("shingle"), "shingle"
        )
    a = postings.select(F.col("doc_id").alias("a"), "shingle")
    b = postings.select(F.col("doc_id").alias("b"), "shingle")
    common = (
        a.join(b, "shingle")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    out = (
        common.join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("n_sh", "na"), "a")
        .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("n_sh", "nb"), "b")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("na") + F.col("nb") - F.col("common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )
    return out


_BAND_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("band_id", IntegerType(), False),
        StructField("band_key", LongType(), False),
    ]
)

NUM_PERM = 128
NUM_BANDS = 32


def _band_frame(ids, shingle_sets, params, num_bands: int) -> pd.DataFrame:
    """MinHash band keys for one batch: ``ids`` with their shingle sets
    -> ``len(ids) * num_bands`` rows (doc_id, band_id, band_key).

    The only place band keys are built, for document near-dup, surface
    linking (canonical._lsh_edges) and their in-process replicas.
    Band-key convention: ``band_keys_batch``'s uint64 keys are stored
    as int64 by bit reinterpretation (the two's-complement view), not
    by an offset shift.  The streaming near-dup state persists these
    rows, so keys from every producer must stay join-comparable.
    """
    import numpy as np

    ids = np.asarray(ids, dtype=np.int64)
    sigs = minhash_signatures_batch(shingle_sets, params)
    keys = band_keys_batch(sigs, num_bands)  # (D, bands) uint64
    return pd.DataFrame(
        {
            "doc_id": np.repeat(ids, num_bands),
            "band_id": np.tile(np.arange(num_bands, dtype=np.int32), len(ids)),
            "band_key": keys.reshape(-1).view(np.int64),
        }
    )


def _doc_shingles(text, n: int) -> set:
    """Distinct token n-grams of lowercased, whitespace-split text."""
    return set(ngrams(" ".join((text or "").lower().split()).split(" "), n))


def band_rows(
    documents: DataFrame,
    n: int = 3,
    num_perm: int = NUM_PERM,
    num_bands: int = NUM_BANDS,
) -> DataFrame:
    """(doc_id, text) -> one row per (doc_id, band_id, band_key):
    the MinHash band signatures minhash_lsh_pairs blocks on, exposed
    so the incremental path (streaming/incremental.py) can maintain
    them as a persistent stage table with the batch kernels."""
    params = minhash_params(num_perm)

    def band_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _band_frame(
                pdf["doc_id"].to_numpy(),
                [_doc_shingles(text, n) for text in pdf["text"]],
                params,
                num_bands,
            )

    src = _parallelize(documents.select("doc_id", "text"))
    return src.mapInPandas(band_batches, schema=_BAND_SCHEMA)


def shingle_rows(documents: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, text) -> (doc_id, sh: sorted distinct shingles) — the
    exact-Jaccard verify side of minhash_lsh_pairs, exposed for the
    incremental path.  An Arrow UDF rather than the JVM
    transform/slice expression: building slice-and-concat results per
    document in Catalyst codegen measured ~4x slower than the same
    loop in Python for long documents."""
    src = _parallelize(documents.select("doc_id", "text"))

    def sh_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "sh": [sorted(_doc_shingles(text, n)) for text in pdf["text"]],
                }
            )

    return src.mapInPandas(sh_batches, schema="doc_id long, sh array<string>")


def verify_jaccard_pairs(
    cand: DataFrame, sh: DataFrame, threshold: float
) -> DataFrame:
    """(a, b) candidates x (doc_id, sh) shingles -> exact-Jaccard
    verified pairs (a, b, jaccard >= threshold)."""
    return (
        cand.join(sh.select(F.col("doc_id").alias("a"), F.col("sh").alias("sh_a")), "a")
        .join(sh.select(F.col("doc_id").alias("b"), F.col("sh").alias("sh_b")), "b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )


def lsh_pairs(
    banded: DataFrame,
    sh: DataFrame,
    threshold: float,
    max_bucket: int | None = None,
) -> DataFrame:
    """(doc_id, band_id, band_key) band rows x (doc_id, sh) shingles ->
    verified pairs (a, b, jaccard): every pair a < b sharing a band
    bucket is a candidate, kept if its exact Jaccard >= threshold.

    ``max_bucket`` drops buckets with more rows than that before the
    self-join.  Such buckets are degenerate (structural shingles that
    many short strings share), and one bucket of k rows alone yields
    k^2 / 2 join rows.  None keeps every bucket."""
    if max_bucket is not None:
        sizes = banded.groupBy("band_id", "band_key").agg(
            F.count(F.lit(1)).alias("bsz")
        )
        banded = banded.join(
            sizes.where(F.col("bsz") <= max_bucket), ["band_id", "band_key"]
        )
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["band_id", "band_key"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    return verify_jaccard_pairs(cand, sh, threshold)


def minhash_lsh_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    num_perm: int = NUM_PERM,
    num_bands: int = NUM_BANDS,
) -> DataFrame:
    """LSH-blocked candidate pairs verified by exact Jaccard.

    With r = num_perm/num_bands rows per band, the detection
    probability at similarity s is 1-(1-s^r)^b (r=4, b=32: ~0.998 at
    s=0.5).  Output schema matches ngram_jaccard_pairs; at high
    thresholds the two agree with overwhelming probability, which the
    tests exploit.

    Composed from band_rows (banding), shingle_rows (verify side) and
    lsh_pairs (self-join + verify_jaccard_pairs).  The incremental
    streaming dedup reuses band_rows, shingle_rows and
    verify_jaccard_pairs around its own new-x-history band join.  Verify shingles ride their
    own Arrow pass and are joined only to the candidate set, rather
    than being carried on the band rows: carrying them was measured
    slower at sf0.1 (median 1.54 s vs 1.46 s, 3 runs), because the
    32x-duplicated arrays widen the band self-join shuffle by more
    than the saved scan.
    """
    banded = band_rows(documents, n=n, num_perm=num_perm, num_bands=num_bands)
    return lsh_pairs(banded, shingle_rows(documents, n=n), threshold)


_SIMHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("simhash", LongType(), False),
    ]
)


def simhash_pairs(documents: DataFrame, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs: 4x16-bit chunk blocking + exact hamming.

    Any pair with hamming <= 3 over 64 bits shares at least one of the
    4 chunks (pigeonhole), so blocking is lossless for max_hamming<=3.
    """

    def sim_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = (text or "").lower().split()
                rows.append((doc_id, simhash64(toks) - (1 << 63)))
            yield pd.DataFrame(rows, columns=["doc_id", "simhash"])

    sims = _parallelize(documents.select("doc_id", "text")).mapInPandas(
        sim_batches, schema=_SIMHASH_SCHEMA
    )
    chunks = sims.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_id"),
                        F.shiftright("simhash", 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("doc_id", "simhash", "c.chunk_id", "c.chunk")
    cand = (
        chunks.alias("x")
        .join(chunks.alias("y"), ["chunk_id", "chunk"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("a"),
            F.col("y.doc_id").alias("b"),
            F.col("x.simhash").alias("ha"),
            F.col("y.simhash").alias("hb"),
        )
        .dropDuplicates(["a", "b"])
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .where(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def embedding_neardup_pairs(
    embeddings: DataFrame, threshold: float = 0.95, max_query_id: int | None = None
) -> DataFrame:
    """Cosine >= threshold pairs over (vec_id, embedding ARRAY<FLOAT>).

    Brute-force baseline with an optional query-side bound (the scale
    path is LSH bucketing in similarity.py).  Dot products stay
    JVM-side via zip_with + aggregate — no Python in the O(n^2) loop.
    """
    e = _normed(embeddings)
    left = e
    if max_query_id is not None:
        left = e.where(F.col("vec_id") < max_query_id)
    return (
        left.alias("x")
        .join(e.alias("y"), F.col("x.vec_id") < F.col("y.vec_id"))
        .select(
            F.col("x.vec_id").alias("a"),
            F.col("y.vec_id").alias("b"),
            _cosine(
                F.col("x.v"), F.col("y.v"), F.col("x.norm"), F.col("y.norm")
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
        .select("a", "b", F.round("cosine", 6).alias("cosine"))
    )
