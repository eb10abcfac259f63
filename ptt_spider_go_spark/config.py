"""Crawl configuration — mirrors the reference's YAML config surface.

Reference: /root/reference/config/config.go:15-57 (shape),
:116-141 (load), :156-171 (validation clamps). Time-based knobs
(random delay envelope) become per-superstep politeness budgets
(SURVEY T1): the reference's delay range bounds requests/sec/worker,
which at superstep granularity is a per-host row budget.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

_VALID_BOARD = re.compile(r"^[A-Za-z0-9_-]+$")  # crawler/crawler.go:39

# constants/constants.go:32-42
RETRY_MAX_ATTEMPTS = 3
RETRY_INITIAL_DELAY_MS = 1000
RETRY_MAX_DELAY_MS = 30000
RETRY_BACKOFF_FACTOR = 2
MAX_IMAGE_SIZE_BYTES = 50 * 1024 * 1024
DEFAULT_BOARD = "beauty"
DEFAULT_PAGES = 3
DEFAULT_PUSH_RATE = 10


@dataclass
class CrawlConfig:
    board: str = DEFAULT_BOARD
    pages: int = DEFAULT_PAGES
    push_rate: int = DEFAULT_PUSH_RATE
    # Politeness: the reference sleeps U[min_delay_ms, max_delay_ms) per
    # request per worker (config.go:89-92). With W workers over a superstep
    # window of `superstep_ms`, the per-host budget is
    #   W * superstep_ms / avg_delay_ms   fetches per superstep.
    workers: int = 10
    min_delay_ms: int = 500
    max_delay_ms: int = 2000
    superstep_ms: int = 60_000
    # Skew: lanes a single host's budget is spread over (SURVEY T6).
    host_salt: int = 8
    # Seen-set bloom shards (SURVEY D4).
    bloom_shards: int = 8
    bloom_fpp: float = 0.01
    # Cuckoo-filter verification pass on Bloom probable hits
    # (north_star; operators/dedup.py CuckooShardSet). Engages
    # adaptively once the seen set passes cuckoo_min_seen rows: below
    # that the exact anti-join it shrinks is already cheap and the
    # extra probe pass is pure overhead (measured +3 s on a 6k-URL
    # crawl); at the 10^10-URL design point it cuts the join input
    # ~99% on top of the Bloom layer.
    cuckoo_min_seen: int = 5_000_000
    max_supersteps: int = 8

    def __post_init__(self):
        self.validate()

    def validate(self):
        if not _VALID_BOARD.match(self.board):
            from ptt_spider_go_spark.errors import new_validation_error

            raise new_validation_error(
                f"invalid board name (path traversal guard): {self.board!r}"
            )
        # Clamp pass mirroring config.go:156-171.
        self.pages = max(1, self.pages)
        self.workers = max(1, self.workers)
        if self.max_delay_ms <= self.min_delay_ms:
            self.max_delay_ms = self.min_delay_ms
        self.host_salt = max(1, self.host_salt)
        self.bloom_shards = max(1, self.bloom_shards)

    @property
    def host_budget_per_superstep(self) -> int:
        avg_delay = (self.min_delay_ms + self.max_delay_ms) / 2 or 1
        return max(1, int(self.workers * self.superstep_ms / avg_delay))


# ---------------------------------------------------------------------------
# Reference-shaped nested YAML surface (config/config.go:15-57).
#
# The reference's config.yaml is `crawler: {workers, parserCount,
# channels: {...}, delays: {minMs, maxMs}, http: {...duration strings}}`.
# Semantics reproduced exactly:
#   - missing file -> defaults (config.go:117-121)
#   - partial YAML merges over defaults (yaml.Unmarshal into DefaultConfig)
#   - duration strings parse Go-style; invalid/empty -> per-field default
#     (config.go:62-68, config_test.go:127-175)
#   - clamp pass (config.go:156-171): workers/parserCount < 1 -> default,
#     channel buffers < 0 -> default, delay ms < 0 -> default
# ---------------------------------------------------------------------------

#: DefaultConfig() twin (config.go:80-104).
REFERENCE_DEFAULTS = {
    "crawler": {
        "workers": 10,
        "parserCount": 10,
        "channels": {"articleInfo": 100, "downloadTask": 200, "markdownTask": 100},
        "delays": {"minMs": 500, "maxMs": 2000},
        "http": {
            "timeout": "30s",
            "maxIdleConns": 100,
            "maxIdleConnsPerHost": 20,
            "idleConnTimeout": "90s",
            "tlsHandshakeTimeout": "10s",
            "expectContinueTimeout": "1s",
        },
    }
}

#: per-field duration defaults in ms (config.go:71-76)
_DURATION_DEFAULTS_MS = {
    "timeout": 30_000,
    "idleConnTimeout": 90_000,
    "tlsHandshakeTimeout": 10_000,
    "expectContinueTimeout": 1_000,
}

_GO_DURATION = re.compile(r"([0-9]*\.?[0-9]+)(ns|us|µs|μs|ms|s|m|h)")
_GO_UNIT_MS = {"ns": 1e-6, "us": 1e-3, "µs": 1e-3, "μs": 1e-3,
               "ms": 1.0, "s": 1000.0, "m": 60_000.0, "h": 3_600_000.0}


def parse_go_duration_ms(s, default_ms: float) -> float:
    """Go time.ParseDuration twin -> milliseconds; invalid/empty input
    falls back to `default_ms` (parseDurationWithDefault,
    config.go:62-68). Supports unit sequences like '2h45m', '1.5s'."""
    if not isinstance(s, str) or not s:
        return default_ms
    body, sign = s, 1.0
    if body[0] in "+-":
        sign = -1.0 if body[0] == "-" else 1.0
        body = body[1:]
    if body == "0":  # Go special-cases a bare unitless zero
        return 0.0
    pos, total = 0, 0.0
    for m in _GO_DURATION.finditer(body):
        if m.start() != pos:
            return default_ms
        total += float(m.group(1)) * _GO_UNIT_MS[m.group(2)]
        pos = m.end()
    if pos != len(body) or pos == 0:
        return default_ms
    return sign * total


def _fix_int(value, min_allowed: int, default: int) -> int:
    """fixIntIfInvalid (config.go:149-155): below-minimum -> default."""
    if not isinstance(value, int) or isinstance(value, bool) or value < min_allowed:
        return default
    return value


def _deep_merge(base: dict, over: dict) -> dict:
    """Merge a raw YAML dict over defaults with Go yaml.Unmarshal-into-
    prefilled-struct semantics (ADVICE r2): a null section (`crawler:`
    with no body) leaves the defaults untouched (yaml unmarshals null
    as a no-op); a scalar where a mapping is expected is an unmarshal
    type error -> ConfigError, mirroring Load's error return
    (config.go:116-141)."""
    out = dict(base)
    for k, v in (over or {}).items():
        if isinstance(out.get(k), dict):
            if v is None:
                continue
            if not isinstance(v, dict):
                from ptt_spider_go_spark.errors import CONFIG_ERROR, CrawlerError

                raise CrawlerError(
                    CONFIG_ERROR,
                    f"cannot unmarshal {type(v).__name__} into section {k!r}",
                )
            out[k] = _deep_merge(out[k], v)
        else:
            out[k] = v
    return out


def load_reference_yaml(path: str | None) -> dict:
    """Load a reference-shaped nested config.yaml into a plain dict with
    the reference's merge + clamp + duration semantics applied. Missing
    file -> defaults (Load, config.go:116-141). The returned dict also
    carries parsed `*_ms` duration values under http."""
    import os

    import yaml

    raw = {}
    if path is not None and os.path.exists(path):
        with open(path) as f:
            raw = yaml.safe_load(f) or {}
    cfg = _deep_merge(REFERENCE_DEFAULTS, raw if isinstance(raw, dict) else {})
    c = cfg["crawler"]
    d = REFERENCE_DEFAULTS["crawler"]

    # validateAndFix (config.go:156-171)
    c["workers"] = _fix_int(c.get("workers"), 1, d["workers"])
    c["parserCount"] = _fix_int(c.get("parserCount"), 1, d["parserCount"])
    for ch in ("articleInfo", "downloadTask", "markdownTask"):
        c["channels"][ch] = _fix_int(c["channels"].get(ch), 0, d["channels"][ch])
    for dl in ("minMs", "maxMs"):
        c["delays"][dl] = _fix_int(c["delays"].get(dl), 0, d["delays"][dl])

    # parseHTTPDurations (config.go:71-76)
    for name, default_ms in _DURATION_DEFAULTS_MS.items():
        c["http"][f"{name}_ms"] = parse_go_duration_ms(
            c["http"].get(name), default_ms
        )
    return cfg


def reference_to_crawl_config(ref: dict, **overrides) -> CrawlConfig:
    """Map the reference's nested knobs onto the engine's CrawlConfig:
    workers -> workers (politeness-budget numerator), delays -> the
    politeness delay envelope (SURVEY T1: budget = workers * superstep /
    avg_delay). parserCount and the channel buffer sizes have no
    batch-engine analogue (Spark sizes the parse stage by its
    partitions; materialization boundaries replace bounded channels,
    SURVEY T4) but are preserved, clamped, in the dict for callers that
    need them."""
    c = ref["crawler"]
    kwargs = dict(
        workers=c["workers"],
        min_delay_ms=c["delays"]["minMs"],
        max_delay_ms=c["delays"]["maxMs"],
    )
    kwargs.update(overrides)
    return CrawlConfig(**kwargs)


def load_yaml(path: str) -> CrawlConfig:
    """Load a YAML config file. Accepts BOTH shapes: the reference's
    nested `crawler:` layout (converted with full merge/clamp/duration
    semantics) and the engine's flat dataclass-field dict."""
    import yaml

    with open(path) as f:
        raw = yaml.safe_load(f) or {}
    if "crawler" in raw:
        return reference_to_crawl_config(load_reference_yaml(path))
    known = {f_.name for f_ in CrawlConfig.__dataclass_fields__.values()}
    return CrawlConfig(**{k: v for k, v in raw.items() if k in known})
