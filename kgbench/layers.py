"""The per-layer metrics the traced runs report, and their names.

Every workload reports every name; a layer its job does not run reads 0.
"""

from __future__ import annotations

import statistics
import sys

from kgbench.tracing import (
    LINEAGE,
    ROOT,
    SPAN_METRICS,
    STAGE_SPANS,
    layer_metrics,
    self_times,
)

LAYERS = (
    "warc.read",
    "textplane.docs",
    "textplane.sentences",
    "extraction.triples",
    "extraction.mentions",
    "canonical.surfaces",
    "canonical.surface_nodes",
    "canonical.similarity_edges",
    "canonical.connected_components",
    "canonical.entities",
    "canonical.edges",
)

UNITS = {
    "wall_s": "s",
    "cpu_s": "s",
    "py_run_s": "s",
    "py_start_s": "s",
    "arrow_out_mb": "MB",
    "arrow_in_mb": "MB",
    "rows_out": "count",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "task_skew": "ratio",
}

# (layer, metric) pairs that read 0 on every workload, so are not
# reported: nothing spills at these sizes, the JVM-only graph layers
# run no Python UDF, the text plane and the driver-escape surfaces step
# shuffle nothing, and the one-UDF-per-stage layers reuse the Python
# workers the warm-up started
_JVM_ONLY = (
    "canonical.surfaces",
    "canonical.surface_nodes",
    "canonical.connected_components",
    "canonical.entities",
    "canonical.edges",
)
_TEXT_PLANE = (
    "textplane.docs",
    "textplane.sentences",
    "extraction.triples",
    "extraction.mentions",
)
ALWAYS_ZERO = frozenset(
    [(layer, "spill_mb") for layer in LAYERS]
    + [
        (layer, m)
        for layer in _JVM_ONLY
        for m in ("py_run_s", "py_start_s", "arrow_out_mb", "arrow_in_mb")
    ]
    + [(layer, "shuffle_write_mb") for layer in (*_TEXT_PLANE, "canonical.surfaces")]
    + [(layer, "py_start_s") for layer in ("warc.read", *_TEXT_PLANE)]
)

EXTRA = {
    "stages.lineage_s": "s",
    "stages.written_mb": "MB",
    "canonical.similarity_edges.edges_per_surface": "ratio",
    "canonical.surfaces.driver_escape": "flag",
    "trace.wall_s": "s",
    "trace.untraced_wall_s": "s",
    "trace.overhead_s": "s",
    "trace.unattributed_frac": "ratio",
}


def metric_names() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    names = {
        f"{layer}.{m}": UNITS[m]
        for layer in LAYERS
        for m in SPAN_METRICS
        if (layer, m) not in ALWAYS_ZERO
    }
    names.update(EXTRA)
    return names


def unattributed_frac(tracer) -> float:
    """Share of the traced job's wall that no named layer accounts for:
    the root span's self time over its duration."""
    root = next(s for s in tracer.spans if s.name == ROOT)
    return self_times(tracer.spans)[root.span_id] / root.duration


def coverage_failures(runs, coverage: float) -> int:
    """Number of traced runs whose named layers cover less than
    ``coverage`` of the traced wall; each counts as a failed run."""
    failures = 0
    for r in runs:
        if not (r.traced and r.ok):
            continue
        covered = 1.0 - unattributed_frac(r.tracer)
        r.detail["layer_coverage"] = round(covered, 4)
        if covered < coverage:
            failures += 1
            print(
                f"SELF-TIME CHECK FAILED: named layers cover {covered:.3f} "
                f"of the traced wall, need >= {coverage:.2f}",
                file=sys.stderr,
            )
    return failures


def _one_run(tracer, stats) -> dict[str, float]:
    lm = layer_metrics(tracer, stats)
    root = next(s for s in tracer.spans if s.name == ROOT)
    values = {
        f"{layer}.{m}": lm[layer][m] if layer in lm else 0.0
        for layer in LAYERS
        for m in SPAN_METRICS
    }

    def count(name, key):
        return sum(s.counts.get(key, 0) for s in tracer.spans if s.name == name)

    surfaces = count("canonical.surface_nodes", "rows")
    store_spans = [n for n in (*STAGE_SPANS.values(), LINEAGE) if n in lm]
    values.update(
        {
            "stages.lineage_s": lm[LINEAGE]["wall_s"] if LINEAGE in lm else 0.0,
            "stages.written_mb": (
                sum(lm[n]["written_mb"] for n in store_spans) if LINEAGE in lm else 0.0
            ),
            "canonical.similarity_edges.edges_per_surface": (
                count("canonical.similarity_edges", "rows") / surfaces if surfaces else 0.0
            ),
            # the surfaces step ran without building similarity edges in
            # Spark: it took the driver canonicalization escape
            "canonical.surfaces.driver_escape": float(
                "canonical.surfaces" in lm and "canonical.similarity_edges" not in lm
            ),
            "trace.wall_s": root.duration,
            "trace.unattributed_frac": unattributed_frac(tracer),
        }
    )
    return values


def per_layer(runs, stats):
    """(name -> (value, unit), span reports) over the traced runs: the
    median of each metric across them."""
    traced = [r for r in runs if r.traced and r.ok]
    untraced = [r.wall_s for r in runs if not r.traced and r.ok]
    if not traced:
        raise SystemExit("no successful traced run")
    per_run = [_one_run(r.tracer, stats) for r in traced]
    values = {k: statistics.median(v[k] for v in per_run) for k in per_run[0]}
    values["trace.untraced_wall_s"] = statistics.median(untraced)
    values["trace.overhead_s"] = values["trace.wall_s"] - values["trace.untraced_wall_s"]
    names = metric_names()
    metrics = {k: (values[k], unit) for k, unit in names.items()}
    return metrics, [r.tracer.report() for r in traced]
