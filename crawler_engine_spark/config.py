"""Crawl configuration mirroring the reference's knob names.

The reference loads ``ExtractorConfig`` from env vars prefixed
``INTELLIGENT_EXTRACTOR_*`` (models/config.py:248-394) and from yaml/json
files with sectioned keys (models/config.py:323-394 ``from_file`` /
``from_dict``); this engine accepts the same names where they have a
distributed analog, plus crawl-specific knobs.  :data:`KNOBS` lists every
knob settable from outside Python; the env loader, the file loader, the
file writer and the ``crawl.py init`` templates are all derived from it.

Reference knobs with no analog, and therefore absent:

* AI/browser knobs — fetch-simulate mode has no model and no browser.
* ``requests_per_second`` / ``delay_between_requests`` — politeness is a
  per-host per-round budget from robots crawl delays (frontier/politeness.py).
* ``confidence_threshold`` — no strategy gates on it.

Env vars and file keys outside the table (these included) are ignored.

Precedence matches the reference: an explicit config file overrides env
(``CrawlConfig.load(path)`` starts from ``from_env()`` and applies the
file's keys on top; keys absent from the file keep their env/default
values).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, replace
from typing import Any, Mapping, Optional

from .frontier import bloom, politeness
from .kernels.extract import DEFAULT_OPTIONS, ExtractOptions

# (file section, file key, env var) per knob.  ``crawl`` keys are
# CrawlConfig fields; ``extraction`` keys are ExtractOptions fields, except
# ``strategy``, which sets CrawlConfig.mode.
KNOBS = (
    ("extraction", "strategy", "INTELLIGENT_EXTRACTOR_STRATEGY"),
    ("extraction", "relevance_threshold", "INTELLIGENT_EXTRACTOR_RELEVANCE_THRESHOLD"),
    ("extraction", "min_content_length", "INTELLIGENT_EXTRACTOR_MIN_CONTENT_LENGTH"),
    ("extraction", "remove_ads", "INTELLIGENT_EXTRACTOR_REMOVE_ADS"),
    ("extraction", "remove_navigation", "INTELLIGENT_EXTRACTOR_REMOVE_NAVIGATION"),
    ("extraction", "enable_hidden_content_handling", "INTELLIGENT_EXTRACTOR_ENABLE_HIDDEN_CONTENT"),
    ("extraction", "extract_tables", "INTELLIGENT_EXTRACTOR_EXTRACT_TABLES"),
    ("extraction", "extract_lists", "INTELLIGENT_EXTRACTOR_EXTRACT_LISTS"),
    ("extraction", "extract_forms", "INTELLIGENT_EXTRACTOR_EXTRACT_FORMS"),
    ("extraction", "extract_links", "INTELLIGENT_EXTRACTOR_EXTRACT_LINKS"),
    ("extraction", "extract_images", "INTELLIGENT_EXTRACTOR_EXTRACT_IMAGES"),
    ("crawl", "round_seconds", "CRAWL_ROUND_SECONDS"),
    ("crawl", "num_salts", "CRAWL_NUM_SALTS"),
    ("crawl", "bloom_partitions", "CRAWL_BLOOM_PARTITIONS"),
    ("crawl", "bloom_bits_per_segment", "CRAWL_BLOOM_BITS"),
    ("crawl", "trap_threshold", "CRAWL_TRAP_THRESHOLD"),
    ("crawl", "trap_keep_per_pattern", "CRAWL_TRAP_KEEP"),
    ("crawl", "link_rank_budget", "CRAWL_LINK_RANK"),
    ("crawl", "link_rank_iterations", "CRAWL_LINK_RANK_ITERS"),
    ("crawl", "link_rank_every", "CRAWL_LINK_RANK_EVERY"),
    ("crawl", "link_rank_focus", "CRAWL_LINK_RANK_FOCUS"),
)


@dataclass
class CrawlConfig:
    round_seconds: float = politeness.DEFAULT_ROUND_SECONDS
    num_salts: int = politeness.DEFAULT_NUM_SALTS
    # Seen-set geometry (frontier/bloom.py).  Fixed at round 0: an engine
    # resuming a state dir reads it from the round-0 commit record, so a
    # changed value applies only to a fresh crawl.
    bloom_partitions: int = bloom.DEFAULT_NUM_PARTITIONS
    bloom_bits_per_segment: int = bloom.DEFAULT_BITS_PER_SEGMENT
    mode: Optional[str] = None  # None → adaptive (reference dispatch)
    extract_opts: ExtractOptions = DEFAULT_OPTIONS
    max_rounds: int = 100
    # Token-bucket burst capacity in units of one round's refill; 1 ≡ the
    # stateless per-round budget, >1 lets idle hosts accumulate allowance.
    burst_rounds: int = 1
    # Compact the exact seen set every N committed rounds (0 = never).  The
    # per-round deltas are kept either way (they are the fetched log /
    # resume source of truth); compaction only bounds the anti-join's read
    # fan-in on long crawls.
    compact_every: int = 0
    # Crawl-trap guard (frontier/traps.py): flag any (host, URL-template)
    # whose next-frontier distinct-URL count reaches trap_threshold and keep
    # only the trap_keep_per_pattern lowest-hash URLs from it.  0 disables —
    # the default, because the threshold is corpus-relative (10^4 is noise at
    # the 10^10 design point, a whole site at toy scale).
    trap_threshold: int = 0
    trap_keep_per_pattern: int = 100
    # Link-graph budget feedback (operators/linkrank.py): PageRank the
    # crawl's own accumulated host→host link graph each round and scale
    # every eligible host's politeness budget by its authority (0.5×–2×,
    # ≥1 liveness floor) — well-linked hosts earn throughput, obscure ones
    # are throttled, never starved.  Off by default: the signal needs ≥1
    # committed round of discovered edges before it can bite.
    link_rank_budget: bool = False
    link_rank_iterations: int = 5
    # Focused crawling: teleport the budget PageRank to the crawl's own
    # round-0 seed hosts, so "authoritative" means authoritative AS SEEN
    # FROM the seeds (topic-local), not globally — off-topic hub farms
    # discovered late earn less budget than under the uniform restart.
    link_rank_focus: bool = False
    # Re-rank cadence: recompute PageRank only when the last rank table is
    # ≥ this many rounds old, reusing the written table in between.  The
    # rank table changes slowly relative to the frontier, so at the design
    # point (10^9-edge graph) ranking every N rounds divides the feedback
    # cost by N for near-identical schedules.
    link_rank_every: int = 1

    def _get(self, section: str, key: str) -> Any:
        if key == "strategy":
            return self.mode
        return getattr(self.extract_opts if section == "extraction" else self, key)

    def _with(self, values: Mapping[tuple, Any]) -> "CrawlConfig":
        """Copy with ``values`` ((section, key) → value) applied."""
        top = {k: v for (s, k), v in values.items() if s == "crawl"}
        opts = {k: v for (s, k), v in values.items() if s == "extraction"}
        if "strategy" in opts:
            top["mode"] = opts.pop("strategy") or None
        return replace(self, extract_opts=replace(self.extract_opts, **opts), **top)

    @classmethod
    def from_env(cls) -> "CrawlConfig":
        """Each set env var is parsed by the type of its knob's default; an
        unparsable value keeps the default."""
        base = cls()
        values = {}
        for section, key, env in KNOBS:
            raw = os.environ.get(env)
            if raw is None:
                continue
            default = base._get(section, key)
            if isinstance(default, bool):
                values[section, key] = raw.strip().lower() in ("1", "true", "yes", "on")
            elif default is None:
                values[section, key] = raw
            else:
                try:
                    values[section, key] = type(default)(raw)
                except ValueError:
                    pass
        return base._with(values)

    # -- file / dict loaders (reference models/config.py:323-394) ----------

    @classmethod
    def from_dict(cls, data: Mapping[str, Any], base: "CrawlConfig" | None = None) -> "CrawlConfig":
        """Sectioned dict → config, overriding ``base`` (defaults if None).

        Sections mirror the reference's ``from_dict``: ``extraction``
        (strategy + kernel thresholds/toggles), plus this engine's ``crawl``
        section.  Unknown sections and keys are ignored, like the
        reference."""
        cfg = base if base is not None else cls()
        return cfg._with({
            (section, key): data[section][key]
            for section, key, _ in KNOBS
            if key in (data.get(section) or {})
        })

    @classmethod
    def from_file(cls, filepath: str, base: "CrawlConfig" | None = None) -> "CrawlConfig":
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
        return cls.from_dict(data, base=base)

    @classmethod
    def load(cls, config_file: str | None = None) -> "CrawlConfig":
        """The CLI entrypoint: env first, then the file's keys on top."""
        cfg = cls.from_env()
        if config_file:
            cfg = cls.from_file(config_file, base=cfg)
        return cfg

    def to_dict(self) -> dict:
        """Sectioned dict of every knob; round-trips through from_dict."""
        out: dict = {}
        for section, key, _ in KNOBS:
            out.setdefault(section, {})[key] = self._get(section, key)
        return out

    def to_env(self) -> str:
        """``.env`` body setting every knob; round-trips through from_env."""
        lines = ["# crawler_engine_spark configuration (reference knob names, env.example parity)"]
        for section, key, env in KNOBS:
            v = self._get(section, key)
            if isinstance(v, bool):
                v = str(v).lower()
            lines.append(f"{env}={'' if v is None else v}")
        return "\n".join(lines) + "\n"
