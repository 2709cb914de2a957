"""Loaders for :class:`~crawler_engine_spark.frontier.rounds.CrawlConfig`,
using the reference's knob names.

The reference loads ``ExtractorConfig`` from env vars prefixed
``INTELLIGENT_EXTRACTOR_*`` (models/config.py:248-394) and from yaml/json
files with sectioned keys (models/config.py:323-394 ``from_file`` /
``from_dict``); this engine accepts the same names where they have a
distributed analog, plus crawl-specific knobs.  AI/browser knobs have no
analog in fetch-simulate mode and are intentionally absent.  Every default
is ``CrawlConfig()``'s.

Precedence matches the reference: an explicit config file overrides env
(``load(path)`` starts from ``from_env()`` and applies the file's keys on
top; keys absent from the file keep their env/default values).
"""

from __future__ import annotations

import json
import os
from dataclasses import replace
from typing import Any, Mapping

from .frontier.rounds import CrawlConfig

# file key (``extraction`` section) → env var, for ExtractOptions fields
_EXTRACT_ENV = {
    "relevance_threshold": "INTELLIGENT_EXTRACTOR_RELEVANCE_THRESHOLD",
    "confidence_threshold": "INTELLIGENT_EXTRACTOR_CONFIDENCE_THRESHOLD",
    "min_content_length": "INTELLIGENT_EXTRACTOR_MIN_CONTENT_LENGTH",
    "remove_ads": "INTELLIGENT_EXTRACTOR_REMOVE_ADS",
    "remove_navigation": "INTELLIGENT_EXTRACTOR_REMOVE_NAVIGATION",
    "enable_hidden_content_handling": "INTELLIGENT_EXTRACTOR_ENABLE_HIDDEN_CONTENT",
    "extract_tables": "INTELLIGENT_EXTRACTOR_EXTRACT_TABLES",
    "extract_lists": "INTELLIGENT_EXTRACTOR_EXTRACT_LISTS",
    "extract_forms": "INTELLIGENT_EXTRACTOR_EXTRACT_FORMS",
    "extract_links": "INTELLIGENT_EXTRACTOR_EXTRACT_LINKS",
    "extract_images": "INTELLIGENT_EXTRACTOR_EXTRACT_IMAGES",
}
# file key (``crawl`` section) → env var, for CrawlConfig fields
_CRAWL_ENV = {
    "round_seconds": "CRAWL_ROUND_SECONDS",
    "num_salts": "CRAWL_NUM_SALTS",
    "bloom_partitions": "CRAWL_BLOOM_PARTITIONS",
    "bloom_bits_per_segment": "CRAWL_BLOOM_BITS",
    "max_rounds": "CRAWL_MAX_ROUNDS",
    "trap_threshold": "CRAWL_TRAP_THRESHOLD",
    "trap_keep_per_pattern": "CRAWL_TRAP_KEEP",
    "link_rank_budget": "CRAWL_LINK_RANK",
    "link_rank_iterations": "CRAWL_LINK_RANK_ITERS",
    "link_rank_every": "CRAWL_LINK_RANK_EVERY",
    "link_rank_focus": "CRAWL_LINK_RANK_FOCUS",
}


def _env(name: str, default):
    """Env var parsed as ``default``'s type; unset or unparsable → default."""
    v = os.environ.get(name)
    if v is None:
        return default
    if isinstance(default, bool):
        return v.strip().lower() in ("1", "true", "yes", "on")
    try:
        return type(default)(v)
    except ValueError:
        return default


def _env_fields(obj, env_names: Mapping[str, str]) -> dict:
    return {k: _env(name, getattr(obj, k)) for k, name in env_names.items()}


def from_env() -> CrawlConfig:
    cfg = CrawlConfig()
    return replace(
        cfg,
        mode=os.environ.get("INTELLIGENT_EXTRACTOR_STRATEGY") or cfg.mode,
        extract_opts=replace(cfg.extract_opts, **_env_fields(cfg.extract_opts, _EXTRACT_ENV)),
        **_env_fields(cfg, _CRAWL_ENV),
    )


# -- file / dict loaders (reference models/config.py:323-394) --------------


def from_dict(data: Mapping[str, Any], base: CrawlConfig | None = None) -> CrawlConfig:
    """Sectioned dict → config, overriding ``base`` (defaults if None).

    Sections mirror the reference's ``from_dict``: ``extraction`` (strategy
    + kernel thresholds/toggles) plus this engine's ``crawl`` section.
    Unknown sections and keys are ignored, like the reference."""
    cfg = base if base is not None else CrawlConfig()
    ex = dict(data.get("extraction") or {})
    if "strategy" in ex:
        cfg = replace(cfg, mode=ex["strategy"] or None)
    opt_overrides = {k: ex[k] for k in _EXTRACT_ENV if k in ex}
    if opt_overrides:
        cfg = replace(cfg, extract_opts=replace(cfg.extract_opts, **opt_overrides))
    crawl = dict(data.get("crawl") or {})
    return replace(cfg, **{k: crawl[k] for k in _CRAWL_ENV if k in crawl})


def from_file(filepath: str, base: CrawlConfig | None = None) -> CrawlConfig:
    """yaml/json config file → config (suffix-dispatched, like the
    reference's ``from_file``)."""
    lower = filepath.lower()
    if lower.endswith((".yaml", ".yml")):
        try:
            import yaml
        except ImportError as exc:  # pragma: no cover - yaml is bundled
            raise ValueError(
                f"pyyaml is required to load {filepath}; use a .json config"
            ) from exc
        with open(filepath, encoding="utf-8") as f:
            data = yaml.safe_load(f) or {}
    elif lower.endswith(".json"):
        with open(filepath, encoding="utf-8") as f:
            data = json.load(f)
    else:
        raise ValueError(f"Unsupported configuration file format: {filepath}")
    return from_dict(data, base=base)


def load(config_file: str | None = None) -> CrawlConfig:
    """The CLI entrypoint: env first, then the file's keys on top."""
    cfg = from_env()
    if config_file:
        cfg = from_file(config_file, base=cfg)
    return cfg


def to_dict(cfg: CrawlConfig) -> dict:
    """Sectioned dict that round-trips through from_dict (file-settable
    knobs only — the rest of CrawlConfig is API surface)."""
    return {
        "extraction": {
            "strategy": cfg.mode,
            **{k: getattr(cfg.extract_opts, k) for k in _EXTRACT_ENV},
        },
        "crawl": {k: getattr(cfg, k) for k in _CRAWL_ENV},
    }
