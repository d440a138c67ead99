"""Config system: defaults -> YAML files -> dotlist, in REx's merge order.

Re-expresses the reference's OmegaConf pipeline
(rex/utils/config.py:96-160: DefaultBaseConfig dataclass, then each
``-c`` yaml with later files overriding earlier, then ``-a`` dotlist
overrides) with stdlib dataclasses + PyYAML — no OmegaConf dependency,
same precedence semantics.  The resolved config is dumped next to the
stage root (the analog of the reference's task-dir config dump,
rex/tasks/base_task.py:61-66) so every run is reproducible from its
artifacts.
"""

from __future__ import annotations

import dataclasses
import json
import os
from dataclasses import dataclass
from typing import Any

import yaml


@dataclass
class PipelineConfig:
    """Defaults (the DefaultBaseConfig analog)."""

    # input
    pages_table: str | None = None
    synthetic_pages: int | None = None
    seed: int = 42
    # execution
    master: str | None = None
    shuffle_partitions: int | None = None
    # stages
    stage_root: str | None = None
    # StageStore backend: "parquet" (directory + commit marker) or
    # "iceberg" (stage_root is then a <catalog>.<namespace>; needs the
    # Iceberg runtime jar — io/stages.py mapping table)
    store_backend: str = "parquet"
    salt_partitions: int = 8
    include_sentence_text: bool = True
    # triple extraction mechanism for the M1 slot: "fused" pair scorer
    # or "casrel" two-stage pointer decode (M3)
    extractor: str = "fused"
    # extra pipeline-level T3 cut on top of the kernel's own threshold
    # (the conf pred_threshold analog); None = kernel threshold only
    score_threshold: float | None = None
    # canonicalization
    driver_max_surfaces: int | None = None
    # documents-stage corpus-quality filters (operators/docfilters.py);
    # all None/False = filters off
    min_quality: float | None = None
    max_top_token_frac: float | None = None
    max_rep_2gram_frac: float | None = None
    langs: list[str] | None = None
    scrub_pii: bool = False

    def doc_filters(self):
        """Build the DocFilters spec (or None when nothing is enabled)."""
        from .operators.docfilters import DocFilters

        f = DocFilters(
            min_quality=self.min_quality,
            max_top_token_frac=self.max_top_token_frac,
            max_rep_2gram_frac=self.max_rep_2gram_frac,
            langs=tuple(self.langs) if self.langs is not None else None,
            scrub_pii=self.scrub_pii,
        )
        return f if f.active() else None

    def merged_with(self, overrides: dict[str, Any]) -> "PipelineConfig":
        known = {f.name for f in dataclasses.fields(self)}
        unknown = set(overrides) - known
        if unknown:
            raise KeyError(f"unknown config keys: {sorted(unknown)}")
        return dataclasses.replace(self, **overrides)


def _parse_scalar(text: str) -> Any:
    """Dotlist value parsing with YAML scalar semantics (so
    ``-a salt_partitions=16`` gives an int, ``-a master=null`` None)."""
    return yaml.safe_load(text)


def load_config(
    yaml_paths: list[str] | None = None,
    dotlist: list[str] | None = None,
) -> PipelineConfig:
    """defaults -> each yaml (later wins) -> dotlist (wins over all).

    Mirrors rex/utils/config.py:96-160 precedence exactly.
    """
    cfg = PipelineConfig()
    for path in yaml_paths or []:
        with open(path, encoding="utf-8") as fh:
            data = yaml.safe_load(fh) or {}
        if not isinstance(data, dict):
            raise ValueError(f"{path}: top level must be a mapping")
        cfg = cfg.merged_with(data)
    overrides: dict[str, Any] = {}
    for item in dotlist or []:
        if "=" not in item:
            raise ValueError(f"dotlist item must be key=value: {item!r}")
        key, _, value = item.partition("=")
        overrides[key.strip()] = _parse_scalar(value)
    return cfg.merged_with(overrides)


def dump_config(cfg: PipelineConfig, directory: str) -> str:
    """Write the resolved config (json, stable ordering) into the run
    directory; returns the path."""
    os.makedirs(directory, exist_ok=True)
    path = os.path.join(directory, "resolved_config.json")
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(dataclasses.asdict(cfg), fh, indent=2, sort_keys=True)
    return path
