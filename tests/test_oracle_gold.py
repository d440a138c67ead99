"""Pins for the materialized-gold oracle layer (rex_spark/oracle_gold.py):
the in-process replicas it uses must equal the distributed operators
bit-for-bit, otherwise the driver's DuckDB comparison certifies nothing.
"""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from rex_spark import oracle_gold as og

SF_SMALL = "/root/testdata/sf0.001"


def test_normalize_surface_py_matches_spark(spark):
    """The Python normalizer must equal the Spark normalize_surface
    (Java regex classes) on every gold surface and on adversarial
    inputs (unicode punctuation, NBSP, mixed scripts)."""
    from rex_spark.operators.canonical import normalize_surface

    *_rest, freq = og._kg_scalar_run(n_pages=60)
    samples = sorted(freq) + [
        "Acme, Corp.", "  spaced\tout ", "naïve—dash", "foo bar",
        "中文。句子", "½ measure", "a_b-c.d", "№5", "éclair", "",
        "MiXeD123cAsE!!!", "tab\there\nnewline",
    ]
    df = spark.createDataFrame([(s,) for s in samples], ["surface"])
    got = {
        r["surface"]: r["norm"]
        for r in df.select(
            "surface", normalize_surface(F.col("surface")).alias("norm")
        ).collect()
    }
    for s in samples:
        assert og.normalize_surface_py(s) == got[s], repr(s)


def test_bucket_rows_match_spark_bucketed(spark):
    """_bucket_rows (serial-fold numpy replica, the gold side) and the
    Spark matmul UDF must make the same sign decisions on real
    embedding data: the default cell on two scale factors, plus a
    non-square planes x tables cell so a table/plane axis swap in the
    UDF's reshape cannot pass."""
    import pyarrow.parquet as pq

    from rex_spark.operators.similarity import _normed, bucketed

    cells = [
        (SF_SMALL, 4, 16),
        (SF_SMALL, 6, 8),
        (os.path.join(os.path.dirname(SF_SMALL), "sf0.1"), 4, 16),
    ]
    for sf, n_planes, n_tables in cells:
        path = f"{sf}/embeddings.parquet"
        rows = (
            bucketed(
                _normed(spark.read.parquet(path)),
                n_planes=n_planes, n_tables=n_tables, dim=64,
            )
            .select("vec_id", "table_id", "bucket")
            .collect()
        )
        spark_buckets = {(r["vec_id"], r["table_id"]): r["bucket"] for r in rows}

        t = pq.read_table(path, columns=["vec_id", "embedding"])
        vec_ids = t.column("vec_id").to_pylist()
        out_t, out_b = og._bucket_rows(
            t.column("embedding").to_pylist(),
            n_planes=n_planes, n_tables=n_tables, dim=64,
        )
        assert len(spark_buckets) == len(rows) == len(vec_ids) * n_tables
        i = 0
        for vid in vec_ids:
            for tt in range(n_tables):
                assert out_t[i] == tt
                assert spark_buckets[(vid, tt)] == out_b[i], (sf, n_planes, vid, tt)
                i += 1


def test_embedding_neardup_lsh_matches_brute_on_planted(spark):
    """On planted near-duplicates (cos ~0.99+) the LSH-bucketed
    near-dup must equal the brute-force verifier exactly (miss
    probability ~2e-6 per pair at the defaults)."""
    from rex_spark.operators.dedup import embedding_neardup_pairs
    from rex_spark.operators.similarity import embedding_neardup_lsh

    rng = np.random.RandomState(7)
    rows = []
    vid = 0
    for base in range(8):
        v = rng.randn(64)
        for dup in range(2):  # two near-identical copies of each base
            w = v + rng.randn(64) * 0.02
            rows.append((vid, [float(np.float32(x)) for x in w]))
            vid += 1
    for _ in range(40):  # plus unrelated vectors
        rows.append((vid, [float(np.float32(x)) for x in rng.randn(64)]))
        vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    key = lambda r: (r["a"], r["b"], r["cosine"])  # noqa: E731
    brute = sorted(map(key, embedding_neardup_pairs(emb, threshold=0.9).collect()))
    lsh = sorted(map(key, embedding_neardup_lsh(emb, threshold=0.9).collect()))
    assert len(brute) >= 8  # the plant worked
    assert lsh == brute


def test_kg_gold_counts_are_stable():
    """The gold generator is deterministic: regenerating yields the
    same files (byte-identical parquet payloads)."""
    import pyarrow.parquet as pq

    paths = og.ensure_kg_gold()
    first = {k: pq.read_table(v) for k, v in paths.items()}
    og._done.discard("kg")
    paths = og.ensure_kg_gold()
    for k, v in paths.items():
        assert pq.read_table(v).equals(first[k]), k
