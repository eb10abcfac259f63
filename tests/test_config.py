"""Reference-shaped nested YAML config surface.

Ports the reference's config suite (config/config_test.go): clamp pass
(TestValidateAndFix:385-466, TestLoad_InvalidNumericValues:469-505),
duration parsing with per-field fallback (TestGetTimeoutDuration:
127-175, TestHTTPTimeoutParsing:240-330), partial-YAML merge over
defaults, and missing-file -> defaults (config.go:116-141)."""

import textwrap

import pytest

from ptt_spider_go_spark.config import (
    REFERENCE_DEFAULTS,
    CrawlConfig,
    load_reference_yaml,
    load_yaml,
    parse_go_duration_ms,
    reference_to_crawl_config,
)

# --- duration parsing (config.go:62-68) -----------------------------------

@pytest.mark.parametrize(
    "s,default,want",
    [
        ("45s", 30_000, 45_000),            # valid
        ("invalid", 30_000, 30_000),        # invalid -> default
        ("", 30_000, 30_000),               # empty -> default
        (None, 30_000, 30_000),             # absent -> default
        ("120s", 90_000, 120_000),
        ("1.5s", 0, 1_500),
        ("2h45m", 0, 2 * 3_600_000 + 45 * 60_000),
        ("300ms", 0, 300),
        ("0", 30_000, 0),                   # Go's bare-zero special case
        ("-5s", 0, -5_000),                 # Go accepts signed durations
        ("5", 30_000, 30_000),              # missing unit -> invalid
        ("5s extra", 30_000, 30_000),       # trailing junk -> invalid
    ],
)
def test_parse_go_duration(s, default, want):
    assert parse_go_duration_ms(s, default) == want


# --- clamp pass (TestValidateAndFix) --------------------------------------

def _load(tmp_path, body: str) -> dict:
    p = tmp_path / "config.yaml"
    p.write_text(textwrap.dedent(body))
    return load_reference_yaml(str(p))


def test_workers_zero_falls_back_to_default(tmp_path):
    cfg = _load(tmp_path, "crawler:\n  workers: 0\n")
    assert cfg["crawler"]["workers"] == 10


def test_workers_negative_falls_back_to_default(tmp_path):
    cfg = _load(tmp_path, "crawler:\n  workers: -5\n")
    assert cfg["crawler"]["workers"] == 10


def test_parser_count_zero_falls_back(tmp_path):
    cfg = _load(tmp_path, "crawler:\n  parserCount: 0\n")
    assert cfg["crawler"]["parserCount"] == 10


def test_negative_channel_buffer_falls_back(tmp_path):
    cfg = _load(tmp_path, "crawler:\n  channels:\n    downloadTask: -1\n")
    assert cfg["crawler"]["channels"]["downloadTask"] == 200


def test_negative_delays_fall_back(tmp_path):
    cfg = _load(
        tmp_path, "crawler:\n  delays:\n    minMs: -100\n    maxMs: -200\n"
    )
    assert cfg["crawler"]["delays"]["minMs"] == 500
    assert cfg["crawler"]["delays"]["maxMs"] == 2000


def test_legal_values_not_modified(tmp_path):
    cfg = _load(tmp_path, "crawler:\n  workers: 3\n")
    assert cfg["crawler"]["workers"] == 3


def test_load_invalid_numeric_values(tmp_path):
    """TestLoad_InvalidNumericValues: every illegal knob reverts."""
    cfg = _load(
        tmp_path,
        """\
        crawler:
          workers: 0
          parserCount: -3
          channels:
            articleInfo: -1
            downloadTask: -1
            markdownTask: -1
        """,
    )
    c = cfg["crawler"]
    assert c["workers"] == 10 and c["parserCount"] == 10
    assert c["channels"] == {"articleInfo": 100, "downloadTask": 200,
                             "markdownTask": 100}


# --- merge + missing-file semantics ---------------------------------------

def test_missing_file_yields_defaults():
    cfg = load_reference_yaml("/nonexistent/config.yaml")
    assert cfg["crawler"]["workers"] == REFERENCE_DEFAULTS["crawler"]["workers"]
    assert cfg["crawler"]["http"]["timeout_ms"] == 30_000


def test_partial_yaml_merges_over_defaults(tmp_path):
    cfg = _load(
        tmp_path,
        """\
        crawler:
          workers: 20
          http:
            timeout: "60s"
        """,
    )
    c = cfg["crawler"]
    assert c["workers"] == 20
    assert c["parserCount"] == 10                  # untouched default
    assert c["delays"] == {"minMs": 500, "maxMs": 2000}
    assert c["http"]["timeout_ms"] == 60_000
    assert c["http"]["idleConnTimeout_ms"] == 90_000


def test_null_section_keeps_defaults(tmp_path):
    """`crawler:` with no body is YAML null; Go's yaml.Unmarshal into a
    prefilled struct treats it as a no-op, so defaults survive
    (ADVICE r2: this crashed with AttributeError before)."""
    cfg = _load(tmp_path, "crawler:\n")
    assert cfg["crawler"]["workers"] == 10
    assert cfg["crawler"]["http"]["timeout_ms"] == 30_000
    # nested null section too
    cfg = _load(tmp_path, "crawler:\n  channels:\n  workers: 7\n")
    assert cfg["crawler"]["workers"] == 7
    assert cfg["crawler"]["channels"]["articleInfo"] == 100


def test_scalar_section_raises_config_error(tmp_path):
    """A scalar where a mapping is expected is an unmarshal type error
    in the reference's Load; the twin raises the ConfigError taxonomy
    instead of an unstructured TypeError."""
    from ptt_spider_go_spark.errors import CONFIG_ERROR, CrawlerError

    with pytest.raises(CrawlerError) as ei:
        _load(tmp_path, "crawler:\n  channels: 5\n")
    assert ei.value.is_type(CONFIG_ERROR)
    with pytest.raises(CrawlerError):
        _load(tmp_path, "crawler: 3\n")


def test_invalid_duration_falls_back_per_field(tmp_path):
    cfg = _load(
        tmp_path,
        'crawler:\n  http:\n    timeout: "invalid"\n    idleConnTimeout: "2m"\n',
    )
    assert cfg["crawler"]["http"]["timeout_ms"] == 30_000
    assert cfg["crawler"]["http"]["idleConnTimeout_ms"] == 120_000


# --- verbatim reference config.yaml shape ---------------------------------

REFERENCE_STYLE_YAML = """\
# Go PTT Spider 配置檔案
crawler:
  workers: 10
  parserCount: 10
  channels:
    articleInfo: 100
    downloadTask: 200
    markdownTask: 100
  delays:
    minMs: 500
    maxMs: 2000
  http:
    timeout: "30s"
    maxIdleConns: 100
    maxIdleConnsPerHost: 20
    idleConnTimeout: "90s"
    tlsHandshakeTimeout: "10s"
    expectContinueTimeout: "1s"
"""


def test_reference_style_yaml_to_crawl_config(tmp_path):
    """A verbatim reference-layout config.yaml maps onto CrawlConfig:
    delays to the politeness envelope, workers to the budget numerator
    (parserCount stays, clamped, in the loaded dict only)."""
    p = tmp_path / "config.yaml"
    p.write_text(REFERENCE_STYLE_YAML)
    cfg = load_yaml(str(p))
    assert isinstance(cfg, CrawlConfig)
    assert cfg.workers == 10
    assert cfg.min_delay_ms == 500
    assert cfg.max_delay_ms == 2000
    # the delay envelope drives the per-host budget (SURVEY T1)
    assert cfg.host_budget_per_superstep == int(10 * 60_000 / 1250)


def test_flat_yaml_still_supported(tmp_path):
    p = tmp_path / "flat.yaml"
    p.write_text("board: Beauty\npages: 5\npush_rate: 20\n")
    cfg = load_yaml(str(p))
    assert (cfg.board, cfg.pages, cfg.push_rate) == ("Beauty", 5, 20)


def test_reference_overrides_pass_through():
    ref = load_reference_yaml(None)
    cfg = reference_to_crawl_config(ref, board="Beauty", pages=4)
    assert cfg.board == "Beauty" and cfg.pages == 4 and cfg.workers == 10
