"""The benchmark's workloads: inputs from a seed, the job, and the check.

Each workload generates its inputs in set-up, computes the reference
its outputs must equal (in process, from the program's scalar kernels),
and then runs its job any number of times.  A job is what a user runs:
the same public calls ``jobs/kg_job.py`` makes, on the generated input.
"""

from __future__ import annotations

import os
import time
from collections import Counter
from dataclasses import dataclass

from pyspark.sql import functions as F

from rex_spark.io.stages import StageStore
from rex_spark.io.warc import encode_warc_gz, read_warc
from rex_spark.operators.canonical import (
    canonicalize_surfaces,
    edges_from_labeled,
    entities_from_labeled,
)
from rex_spark.oracle_gold import _canonicalize_py
from rex_spark.pipeline import run_pipeline

from kgbench.tracing import ROOT, TracedStageStore, Tracer, span, traced_canonicalization

# kg_job's default J7 salting width for the edge aggregation
SALT_PARTITIONS = 8


@dataclass
class Check:
    ok: bool
    detail: dict


@dataclass
class KgReference:
    triples: set  # (url, subj, pred, obj)
    entities: set  # frozenset of surfaces per entity
    edges: dict  # (subj entity, pred, obj entity) -> support
    surfaces: int


def kg_reference(triples: set, sent_triples: list, freq: Counter) -> KgReference:
    """Entity partition and edge supports implied by the scalar run, via
    the driver canonicalizer (component partition is id-invariant)."""
    ent_of = _canonicalize_py(freq)
    members: dict = {}
    for surface, comp in ent_of.items():
        members.setdefault(comp, set()).add(surface)
    part = {comp: frozenset(s) for comp, s in members.items()}
    edges = Counter(
        (part[ent_of[s]], p, part[ent_of[o]]) for s, p, o in sent_triples
    )
    return KgReference(triples, set(part.values()), dict(edges), len(freq))


def scalar_kg_untrusted_lang(pages: list) -> tuple:
    """The scalar composition of ``_kg_scalar_run`` (triples, sentence
    triples, mention frequencies) for pages whose ``lang`` is unknown:
    the input a job started from raw WARC receives."""
    from rex_spark.kernels.extractor import extract_document, extract_mentions
    from rex_spark.kernels.textnorm import html_to_text

    triples, sent_triples, freq = set(), [], Counter()
    for p in pages:
        clean = html_to_text(p["html"])
        for _sid, _sent, tokens, scored in extract_document(clean, None, max_pairs=400):
            for surface, _et, _s, _e in extract_mentions(tokens):
                freq[surface] += 1
            for t in scored:
                triples.add((p["url"], t[0], t[1], t[2]))
                sent_triples.append((t[0], t[1], t[2]))
    return triples, sent_triples, freq


def check_kg(result: dict, ref: KgReference) -> Check:
    """Triple set, entity partition and edge supports equal the reference."""
    got = {tuple(r) for r in result["triple_set"].collect()}
    members = {
        r["entity_id"]: frozenset(r["surfaces"])
        for r in result["entities"].select("entity_id", "surfaces").collect()
    }
    edges = {
        (members[r["src"]], r["pred"], members[r["dst"]]): r["support"]
        for r in result["edges"].collect()
    }
    hit = len(got & ref.triples)
    detail = {
        "triples": len(got),
        "triple_precision": hit / len(got) if got else 0.0,
        "triple_recall": hit / len(ref.triples) if ref.triples else 0.0,
        "entities": len(members),
        "edges": len(edges),
    }
    ok = (
        got == ref.triples
        and set(members.values()) == ref.entities
        and edges == ref.edges
    )
    return Check(ok, detail)


class Workload:
    """Inputs and reference made once in ``setup``; ``job`` then runs as
    often as the benchmark asks, and ``check`` judges each run."""

    name = ""
    # units of work per job, for the rate metrics
    n_triples = 0
    n_surfaces = 0

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.timings: dict = {}

    def setup(self, spark) -> None:
        t = time.perf_counter()
        self.make_inputs(spark)
        self.timings["inputs_s"] = time.perf_counter() - t
        t = time.perf_counter()
        self.make_reference()
        self.timings["reference_s"] = time.perf_counter() - t

    def make_inputs(self, spark) -> None:
        raise NotImplementedError

    def make_reference(self) -> None:
        raise NotImplementedError

    def job(self, spark, out_dir: str, tracer: Tracer | None):
        raise NotImplementedError

    def check(self, outputs) -> Check:
        raise NotImplementedError


class KgWarc(Workload):
    """run_pipeline over a raw gzip WARC dump with text/lang null, with a
    fresh parquet StageStore: ``kg_job --pages-warc --stage-root``."""

    name = "kg_warc"
    PAGES = 3000
    # file sizes in pages: one file four times the size of the others
    FILE_SHARES = (4, 1, 1, 1, 1)

    def make_inputs(self, spark) -> None:
        from rex_spark.kernels.synth import make_pages

        self.pages, _planted = make_pages(self.PAGES, seed=self.seed)
        self.warc_dir = os.path.join(self.work, "warc")
        os.makedirs(self.warc_dir)
        unit = self.PAGES // sum(self.FILE_SHARES)
        start = 0
        for i, share in enumerate(self.FILE_SHARES):
            end = self.PAGES if i == len(self.FILE_SHARES) - 1 else start + share * unit
            rows = [(p["url"], p["warc_ts"], p["html"]) for p in self.pages[start:end]]
            with open(os.path.join(self.warc_dir, f"part-{i:02d}.warc.gz"), "wb") as fh:
                fh.write(encode_warc_gz(rows))
            start = end

    def make_reference(self) -> None:
        # the job never sees the synthetic lang column, so the reference
        # must not either (zh pages are segmented with en rules)
        self.ref = kg_reference(*scalar_kg_untrusted_lang(self.pages))
        self.n_triples = len(self.ref.triples)
        self.n_surfaces = self.ref.surfaces
        del self.pages

    def read_pages(self, spark, tracer):
        pages = (
            read_warc(spark, self.warc_dir)
            .withColumn("text", F.lit(None).cast("string"))
            .withColumn("lang", F.lit(None).cast("string"))
        )
        if tracer is None:
            return pages
        # read_warc is lazy and would run inside the docs stage's tasks;
        # the traced run materializes it first so it has its own span
        with tracer.span("warc.read") as s:
            pages = pages.persist()
            s.counts["rows"] = pages.count()
        return pages

    def job(self, spark, out_dir, tracer):
        with span(tracer, ROOT), traced_canonicalization(tracer):
            store = (
                StageStore(spark, out_dir)
                if tracer is None
                else TracedStageStore(spark, out_dir, tracer)
            )
            pages = self.read_pages(spark, tracer)
            return run_pipeline(spark, pages, store=store, salt_partitions=SALT_PARTITIONS)

    def check(self, outputs) -> Check:
        return check_kg(outputs, self.ref)


class CanonOpenVocab(Workload):
    """The graph plane alone, at an open vocabulary: canonicalize_surfaces,
    entities_from_labeled and edges_from_labeled over cc_soak's
    Zipfian four-variant surface vocabulary, with triples over those
    surfaces synthesized from the seed."""

    name = "canon_openvocab"
    GROUPS = 2000
    N_PREDICATES = 8
    TRIPLE_FILES = 4
    # the vocabulary (4 x GROUPS surfaces) is below the driver escape's
    # threshold, so the escape is switched off through its public knob
    # to run the distributed path that a larger vocabulary takes
    DRIVER_MAX_SURFACES = 0

    def make_inputs(self, spark) -> None:
        import random

        import pyarrow as pa
        import pyarrow.parquet as pq

        from tools.cc_soak import build_surface_mentions_zipf

        mentions, _n, _head = build_surface_mentions_zipf(spark, self.GROUPS)
        self.mentions_dir = os.path.join(self.work, "mentions")
        self.triples_dir = os.path.join(self.work, "triples")
        mentions.write.parquet(self.mentions_dir)
        freq = sorted(
            Counter(pq.read_table(self.mentions_dir).column("surface").to_pylist()).items()
        )
        # one triple per mention: the subject is the mention's surface (so
        # subjects are as Zipfian as the mentions); predicate and object
        # are drawn from the seed
        rng = random.Random(self.seed)
        vocab = [s for s, _c in freq]
        subj = [s for s, c in freq for _ in range(c)]
        pred = [f"rel_{rng.randrange(self.N_PREDICATES)}" for _ in subj]
        obj = [rng.choice(vocab) for _ in subj]
        os.makedirs(self.triples_dir)
        step = -(-len(subj) // self.TRIPLE_FILES)
        for k in range(self.TRIPLE_FILES):
            part = slice(k * step, (k + 1) * step)
            pq.write_table(
                pa.table({"subj": subj[part], "pred": pred[part], "obj": obj[part]}),
                os.path.join(self.triples_dir, f"part-{k}.parquet"),
            )
        self.n_triples = len(subj)
        self.n_surfaces = len(vocab)

    def make_reference(self) -> None:
        from tools.cc_soak import expected_components_py

        self.expected = expected_components_py(self.GROUPS)["expected_components"]

    def job(self, spark, out_dir, tracer):
        entities_dir = os.path.join(out_dir, "entities")
        edges_dir = os.path.join(out_dir, "edges")
        with span(tracer, ROOT):
            mentions = spark.read.parquet(self.mentions_dir)
            triples = spark.read.parquet(self.triples_dir)
            with span(tracer, "canonical.surfaces"), traced_canonicalization(tracer):
                labeled = canonicalize_surfaces(
                    spark, mentions, driver_max_surfaces=self.DRIVER_MAX_SURFACES
                )
            with span(tracer, "canonical.entities"):
                entities_from_labeled(labeled).write.parquet(entities_dir)
            with span(tracer, "canonical.edges"):
                edges_from_labeled(
                    labeled, triples, salt_partitions=SALT_PARTITIONS
                ).write.parquet(edges_dir)
        return spark.read.parquet(entities_dir), spark.read.parquet(edges_dir)

    def check(self, outputs) -> Check:
        entities, edges = outputs
        row = entities.agg(
            F.count(F.lit(1)).alias("n"), F.countDistinct("entity_id").alias("ids")
        ).first()
        support = edges.agg(F.sum("support")).first()[0] or 0
        detail = {
            "entities": row["n"],
            "expected_components": self.expected,
            "edge_support": support,
            "triples_synthesized": self.n_triples,
        }
        ok = row["n"] == row["ids"] == self.expected and support == self.n_triples
        return Check(ok, detail)


WORKLOADS = {w.name: w for w in (KgWarc, CanonOpenVocab)}
