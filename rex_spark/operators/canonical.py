"""Graph plane: entity canonicalization + entity/edge materialization.

North-star requirement with no reference implementation (REx's nearest
analog is the exact-surface bag key, rex/data/transforms/bag_re.py:68-78).
Pipeline:

1. ``surface_nodes``      distinct mention surfaces -> stable 64-bit ids
                          (xxhash64, JVM-side).
2. ``similarity_edges``   three edge sources union-ed:
                          a) exact normalized-form match (lower, collapse
                             whitespace, strip punctuation) — built-ins;
                          b) KB alias table (broadcast join) — the
                             rel2id.json-style side input;
                          c) MinHash-LSH blocking over char-3-gram
                             shingles + exact-Jaccard verification —
                             the fuzzy path, on dedup's near-dup
                             pieces (_band_frame, lsh_pairs).
3. ``connected_components``  iterative large-star / small-star on an
                          edges DataFrame (Kiveris et al., "Connected
                          Components in MapReduce and Beyond"), with
                          per-iteration localCheckpoint to cut lineage
                          and AQE skew-join handling; converges in
                          O(log^2 n) rounds (4 measured at 300k
                          open-vocabulary surfaces).
4. ``entities_from_labeled`` / ``edges_from_labeled``  canonical
                          entity table (component -> surfaces,
                          canonical = most frequent surface) and edge
                          table aggregated to canonical ids with
                          support counts, salted-repartition ready.

Scale notes: LSH band join is the only quadratic-risk step; banding
keys bound bucket sizes and a bucket-size cap drops degenerate buckets
(counted, not silent).  Component ids are min-node-id, so results are
deterministic.
"""

from __future__ import annotations

from itertools import combinations
from typing import Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..kernels import kb
from ..kernels.hashing import minhash_params
from ..kernels.textnorm import char_shingles
from .dedup import _BAND_SCHEMA, _band_frame, lsh_pairs

NUM_PERM = 64
NUM_BANDS = 16
JACCARD_THRESHOLD = 0.60
MAX_BUCKET = 200  # LSH buckets larger than this are degenerate; dropped


def normalize_surface(col):
    """casefold + strip punctuation + collapse whitespace (built-in)."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^\p{L}\p{Nd}\s]+", " ")
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return c


def surface_nodes(mentions: DataFrame) -> DataFrame:
    """Distinct surfaces with stable ids and frequency (for canonical
    name election and skew diagnostics)."""
    return (
        mentions.groupBy("surface")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("node_id", F.xxhash64("surface"))
        .withColumn("norm", normalize_surface(F.col("surface")))
    )


def _kb_alias_surfaces() -> Iterator[Tuple[str, str]]:
    """(canonical, surface) for every KB alias, spelled the way the text
    plane emits surfaces: whitespace collapsed, zh characters joined by
    single spaces."""
    for canonical, (_etype, surfaces) in kb.ENTITIES.items():
        for s in surfaces:
            yield canonical, (" ".join(s) if kb._is_zh(s) else " ".join(s.split()))


def _alias_edges(spark, nodes: DataFrame) -> DataFrame:
    """KB alias side input: surfaces of the same canonical entity are
    linked via a broadcast join (a is the min-id surface per canonical)."""
    alias_df = spark.createDataFrame(
        list(_kb_alias_surfaces()), ["canonical", "surface"]
    )
    linked = nodes.join(F.broadcast(alias_df), "surface").select(
        "canonical", "node_id"
    )
    reps = linked.groupBy("canonical").agg(F.min("node_id").alias("rep"))
    return (
        linked.join(F.broadcast(reps), "canonical")
        .where(F.col("node_id") != F.col("rep"))
        .select(F.col("node_id").alias("a"), F.col("rep").alias("b"))
    )


def _exact_norm_edges(nodes: DataFrame) -> DataFrame:
    """Surfaces sharing a normalized form: link to the min node id."""
    reps = nodes.groupBy("norm").agg(F.min("node_id").alias("rep"))
    return (
        nodes.join(reps, "norm")
        .where(F.col("node_id") != F.col("rep"))
        .select(F.col("node_id").alias("a"), F.col("rep").alias("b"))
    )


_SHINGLE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("sh", ArrayType(StringType()), False),
    ]
)


def _shingle_table(nodes: DataFrame) -> DataFrame:
    """One Arrow pass: (doc_id = node_id, sh = sorted char-3-gram
    shingles of norm), the shingle shape of dedup.lsh_pairs;
    empty-shingle surfaces are dropped (they cannot LSH-link)."""

    def shingle_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, shs = [], []
            for node_id, norm in zip(pdf["doc_id"], pdf["norm"]):
                sh = sorted(set(char_shingles(norm or "", 3)))
                if sh:
                    ids.append(node_id)
                    shs.append(sh)
            yield pd.DataFrame({"doc_id": ids, "sh": shs})

    return nodes.select(F.col("node_id").alias("doc_id"), "norm").mapInPandas(
        shingle_batches, schema=_SHINGLE_SCHEMA
    )


def _lsh_edges(nodes: DataFrame) -> DataFrame:
    """MinHash-LSH candidates verified with exact Jaccard (J6), on the
    document near-dup path (dedup._band_frame, dedup.lsh_pairs) with
    surfaces as documents.

    Shingling runs in one Arrow pass, and the band keys are derived
    from that shingle table in a second.  The band rows entering the
    bucket-size and self-join shuffles are narrow (doc_id, band_id,
    band_key); shingle arrays are joined back only for the verified
    candidate set, which is much smaller than the band rows.
    """
    from pyspark import StorageLevel

    params = minhash_params(NUM_PERM)
    # surface-vocab-sized; persisted because the band pass and the two
    # verification joins all consume it within the first action below.
    sh = _shingle_table(nodes).persist(StorageLevel.MEMORY_AND_DISK)

    def band_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _band_frame(
                pdf["doc_id"].to_numpy(),
                [set(s) for s in pdf["sh"]],
                params,
                NUM_BANDS,
            )

    banded = sh.mapInPandas(band_batches, schema=_BAND_SCHEMA)
    verified = lsh_pairs(
        banded, sh, JACCARD_THRESHOLD, max_bucket=MAX_BUCKET
    ).select("a", "b")
    # materialize eagerly (edge-set-sized, tiny next to the shingle
    # table) so the sh cache can be RELEASED here instead of leaking a
    # persisted DataFrame per canonicalize_surfaces call for the
    # session lifetime — same contract as the nodes persist/unpersist
    # pair in canonicalize_surfaces.  Cluster caveat as there:
    # localCheckpoint -> .checkpoint() on a real deployment.
    verified = verified.localCheckpoint(eager=True)
    sh.unpersist()
    return verified


def similarity_edges(spark, nodes: DataFrame) -> DataFrame:
    """Union of alias, exact-normalized and LSH edge sources."""
    return (
        _alias_edges(spark, nodes)
        .unionByName(_exact_norm_edges(nodes))
        .unionByName(_lsh_edges(nodes))
        .dropDuplicates(["a", "b"])
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor larger than u to u's min neighborhood id."""
    sym = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    mins = sym.groupBy("a").agg(F.least(F.min("b"), F.first("a")).alias("m"))
    return (
        sym.join(mins, "a")
        .where(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .where(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor <= u (and u) to the min neighborhood id."""
    # orient edges high->low so each node aggregates its smaller neighbors
    lo = F.least("a", "b")
    hi = F.greatest("a", "b")
    oriented = edges.select(hi.alias("a"), lo.alias("b")).where(
        F.col("a") != F.col("b")
    )
    mins = oriented.groupBy("a").agg(F.min("b").alias("m"))
    relinked = (
        oriented.join(mins, "a")
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .unionByName(mins.select(F.col("a"), F.col("m").alias("b")))
        .where(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
    )
    return relinked


def _edge_digest(edges: DataFrame) -> Tuple[int, int]:
    """(row count, order-independent hash-xor) of the canonical edge set
    — one cheap aggregation job, computed on the already-checkpointed
    iteration output so nothing upstream re-runs.  bit_xor is overflow-
    free under ANSI mode, unlike a hash sum."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(a, b))").alias("h"),
    ).first()
    return (row["n"], row["h"])


def _driver_union_find(rows) -> list:
    """Union-find over collected (a, b) edges; component id = min node
    id, matching the distributed algorithm's labeling exactly."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        ra, rb = find(r[0]), find(r[1])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp_min: dict = {}
    for node in parent:
        root = find(node)
        comp_min[root] = min(comp_min.get(root, node), node)
    return [(node, comp_min[find(node)]) for node in parent]


# Edge sets at or below this size are solved with driver-side
# union-find (one collect job, microseconds of CPU) instead of the
# iterative join loop — the same small-input escape hatch AQE applies
# when it converts a shuffle join to broadcast.  200k edges collect to
# ~3 MB; the distributed loop exists for everything beyond.
DRIVER_CC_MAX_EDGES = 200_000

# Large-star/small-star rounds before the loop gives up.  Kiveris et
# al. (SoCC 2014) bound the alternation at O(log^2 n) rounds; measured,
# the 300k-surface open-vocabulary soak converges in 4 (BASELINE.md,
# tools/cc_soak.py).  A raise here means: raise CC_MAX_ROUNDS, or
# investigate an edge set that keeps changing.
CC_MAX_ROUNDS = 12


def connected_components(
    edges: DataFrame,
    driver_max_edges: int | None = None,
    checkpoint_dir: str | None = None,
) -> Tuple[DataFrame, int]:
    """Large-star/small-star alternation until the edge set is a stable
    star forest.  Returns (node_id -> component_id mapping, iterations).

    Scale-adaptive: the canonical edge set is first probed with a
    ``limit(threshold + 1)`` collect; if it fits, union-find runs on
    the driver (0 iterations reported) — at web scale the surface graph
    exceeds the threshold and the iterative DataFrame loop below runs
    instead.  Both paths label every node with its component's min node
    id, so results are identical.

    Each round materializes via localCheckpoint: cuts the join-loop
    lineage (REx's pickle-cache analog for iterative state) and gives
    the optimizer fresh statistics per round.  localCheckpoint blocks
    live on executors and do NOT survive executor loss — fine on
    local[*], a liability on a 1000-executor cluster where one
    preempted node would fail the whole loop.  Pass ``checkpoint_dir``
    to switch every round to reliable ``.checkpoint()`` into that
    (HDFS/object-store) directory instead; results are identical
    (pinned by tests/test_canonical_cc.py).  Convergence is detected
    by an order-independent (count, hash-sum) digest of the edge set —
    a single aggregation per round instead of two exceptAll jobs.  A
    digest collision between two DIFFERENT edge sets would stop the
    loop before convergence and could yield wrong labels; with a
    64-bit hash-sum the per-round collision probability is ~2^-64,
    which we accept in exchange for halving the per-round job count
    (an exact exceptAll check would double it back).  Raises
    RuntimeError if the digest has not settled after ``CC_MAX_ROUNDS``
    rounds: the edge set is then not yet a star forest, and its labels
    would be wrong.
    """
    canon = (
        edges.select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
    )
    threshold = (
        DRIVER_CC_MAX_EDGES if driver_max_edges is None else driver_max_edges
    )
    if threshold > 0:
        probe = canon.limit(threshold + 1).collect()
        if len(probe) <= threshold:
            mapping = _driver_union_find([(r["a"], r["b"]) for r in probe])
            spark = edges.sparkSession
            schema = "node_id long, component long"
            return spark.createDataFrame(mapping, schema=schema), 0

    if checkpoint_dir is not None:
        edges.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

        def _materialize(df: DataFrame) -> DataFrame:
            return df.checkpoint(eager=True)

    else:

        def _materialize(df: DataFrame) -> DataFrame:
            return df.localCheckpoint()

    cur = _materialize(canon)
    prev_digest = _edge_digest(cur)
    iterations = 0
    for _ in range(CC_MAX_ROUNDS):
        iterations += 1
        cur = _materialize(_small_star(_large_star(cur)))
        digest = _edge_digest(cur)
        if digest == prev_digest:
            break
        prev_digest = digest
    else:
        raise RuntimeError(
            f"connected_components did not converge in {CC_MAX_ROUNDS} rounds"
        )
    # stable state is a star forest: b is the component min for every a
    membership = cur.select(
        F.col("a").alias("node_id"), F.col("b").alias("component")
    )
    # roots themselves
    roots = membership.select(F.col("component").alias("node_id")).distinct()
    membership = (
        membership.unionByName(roots.withColumn("component", F.col("node_id")))
        .groupBy("node_id")
        .agg(F.min("component").alias("component"))
    )
    return membership, iterations


# Surface vocabularies at or below this size canonicalize driver-side
# (one Spark job to collect distinct surfaces, then the SAME alias /
# exact-norm / MinHash-band / union-find algorithms in-process; the
# band keys come from the same dedup._band_frame).  A
# fixed KB-bounded gazetteer stays tiny however large the corpus is;
# an open-vocabulary web crawl blows past this and takes the
# distributed path.  Both paths are pinned identical by
# tests/test_canonical_cc.py.
DRIVER_CANON_MAX_SURFACES = 100_000


def _driver_similarity_edges(rows) -> set:
    """In-process replica of similarity_edges over collected
    (surface, freq, node_id, norm) rows — same kernels, same banding
    (dedup._band_frame), same bucket cap, so the edge set is identical
    to the distributed plan's."""
    sid = {r["surface"]: r["node_id"] for r in rows}
    # (a) KB alias table and (b) exact normalized form: each group of
    # ids links to its min id
    groups: dict = {}
    for canonical, surf in _kb_alias_surfaces():
        if surf in sid:
            groups.setdefault(("kb", canonical), []).append(sid[surf])
    for r in rows:
        groups.setdefault(("norm", r["norm"]), []).append(r["node_id"])
    edges: set = set()
    for ids in groups.values():
        rep = min(ids)
        edges.update((i, rep) for i in ids if i != rep)
    # (c) MinHash-LSH banding + exact-Jaccard verification
    shingle_of = {}
    for r in rows:
        sh = set(char_shingles(r["norm"] or "", 3))
        if sh:
            shingle_of[r["node_id"]] = sh
    banded = _band_frame(
        np.fromiter(shingle_of, dtype=np.int64, count=len(shingle_of)),
        list(shingle_of.values()),
        minhash_params(NUM_PERM),
        NUM_BANDS,
    )
    # bucket = run of equal (band_id, band_key) after sorting; node ids
    # ascend inside a run, and a node has one key per band, so
    # combinations() yields each in-bucket pair once as (a < b)
    banded = banded.sort_values(["band_id", "band_key", "doc_id"])
    node, bid, key = (
        banded[c].to_numpy() for c in ("doc_id", "band_id", "band_key")
    )
    starts = np.flatnonzero(
        np.r_[True, (bid[1:] != bid[:-1]) | (key[1:] != key[:-1]), True]
    )
    cand = set()
    for lo, hi in zip(starts[:-1].tolist(), starts[1:].tolist()):
        if 1 < hi - lo <= MAX_BUCKET:
            cand.update(combinations(node[lo:hi].tolist(), 2))
    for a, b in cand:
        sa, sb = shingle_of[a], shingle_of[b]
        inter = len(sa & sb)
        if inter / (len(sa) + len(sb) - inter) >= JACCARD_THRESHOLD:
            edges.add((a, b))
    return edges


def canonicalize_surfaces(
    spark, mentions: DataFrame, driver_max_surfaces: int | None = None
) -> DataFrame:
    """mentions -> labeled surface table (surface, freq, node_id,
    entity_id): the checkpointable output of the canonicalization
    stage, consumed by both the entity and edge materializers."""
    from pyspark import StorageLevel

    threshold = (
        DRIVER_CANON_MAX_SURFACES
        if driver_max_surfaces is None
        else driver_max_surfaces
    )
    if threshold > 0:
        probe = surface_nodes(mentions).limit(threshold + 1).collect()
        if len(probe) <= threshold:
            edges = _driver_similarity_edges(probe)
            comp = dict(_driver_union_find(edges))
            rows = [
                (
                    r["surface"],
                    r["freq"],
                    r["node_id"],
                    comp.get(r["node_id"], r["node_id"]),
                )
                for r in probe
            ]
            return spark.createDataFrame(
                rows, "surface string, freq long, node_id long, entity_id long"
            )

    # nodes feeds three edge sources plus the final label join: persist
    # so the mention scan + surface groupBy runs once, not four times.
    nodes = surface_nodes(mentions).persist(StorageLevel.MEMORY_AND_DISK)
    comp, _iters = connected_components(similarity_edges(spark, nodes))
    labeled = (
        nodes.join(comp, "node_id", "left")
        .withColumn("entity_id", F.coalesce("component", "node_id"))
        .select("surface", "freq", "node_id", "entity_id")
        # surface-vocab-sized (one row per surface, not per mention):
        # materialize eagerly so the nodes cache can be released now
        # instead of leaking across repeated calls in one session.
        # Cluster caveat: localCheckpoint blocks don't survive executor
        # loss; a real deployment lands this stage in the StageStore
        # (and passes checkpoint_dir= to connected_components above,
        # which switches its loop to reliable .checkpoint()).
        .localCheckpoint(eager=True)
    )
    nodes.unpersist()
    return labeled


def entities_from_labeled(labeled: DataFrame) -> DataFrame:
    """entities: entity_id BIGINT, canonical STRING (most frequent
    surface, ties broken lexicographically-max), surfaces
    ARRAY<STRING>, n_mentions BIGINT."""
    return labeled.groupBy("entity_id").agg(
        F.max_by("surface", F.struct(F.col("freq"), F.col("surface"))).alias(
            "canonical"
        ),
        F.sort_array(F.collect_set("surface")).alias("surfaces"),
        F.sum("freq").alias("n_mentions"),
    )


def edges_from_labeled(
    labeled: DataFrame, triples: DataFrame, salt_partitions: int = 0
) -> DataFrame:
    """edges: src BIGINT, pred STRING, dst BIGINT, support BIGINT.

    ``salt_partitions`` > 0 enables the J7 hub-entity skew defusal: a
    deterministic salt spreads each hot (src, pred, dst) key over
    ``salt_partitions`` partial counts, then a second (tiny)
    aggregation sums them.  For a plain count, Spark's own map-side
    partial aggregation already bounds what any reducer receives
    (partials, not raw rows), so the salt is belt-and-braces here; it
    becomes load-bearing when the support aggregation grows non-partial
    state (collect_list of provenance urls, exact distinct counts),
    which is the production shape for edge evidence tracking.
    """
    # surface->entity resolution: the surface dimension is much smaller
    # than the triples fact table but NOT guaranteed broadcastable at
    # 10^12 documents, so no forced broadcast hint — AQE converts to a
    # runtime broadcast join whenever the built dimension fits under
    # spark.sql.autoBroadcastJoinThreshold, else shuffles both sides.
    surf2ent = labeled.select("surface", "entity_id")
    t = (
        triples.select("subj", "pred", "obj")
        .join(
            surf2ent.withColumnRenamed("surface", "subj").withColumnRenamed(
                "entity_id", "src"
            ),
            "subj",
        )
        .join(
            surf2ent.withColumnRenamed("surface", "obj").withColumnRenamed(
                "entity_id", "dst"
            ),
            "obj",
        )
    )
    if salt_partitions > 0:
        # two-phase skew-proof aggregation: salt on a deterministic hash
        # of the full row (no rand(): rerun-stable)
        salted = t.withColumn(
            "_salt",
            F.pmod(F.xxhash64("src", "pred", "dst", "subj"), F.lit(salt_partitions)),
        )
        partial = salted.groupBy("src", "pred", "dst", "_salt").agg(
            F.count(F.lit(1)).alias("c")
        )
        return partial.groupBy("src", "pred", "dst").agg(
            F.sum("c").alias("support")
        )
    return t.groupBy("src", "pred", "dst").agg(F.count(F.lit(1)).alias("support"))

