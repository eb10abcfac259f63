"""robots.txt parsing -> the engine's host/pattern rule table.

The reference crawler does NOT parse robots.txt (its politeness is
delay-only; config/config.go:89-92); robots handling is engine-native
[north_rule: "politeness, robots"]. This module turns raw robots.txt
bodies stored in the pages table into the (host, path_prefix, allowed)
rule rows that `operators.politeness.apply_robots` consumes with its
broadcast per-host rule arrays. `path_prefix` holds the rule's value
verbatim: an RFC 9309 path pattern whose `*` and trailing `$` are
interpreted only at match time, against the URL's path + `?query`.

Parsing semantics (the original REP subset every major crawler agrees
on — RFC 9309 §2):

- groups start at one or more `User-agent:` lines; rules bind to the
  nearest preceding agent set;
- the group matched is the one naming `agent` exactly (case-insensitive),
  else the `*` group; rules from multiple groups for the same agent
  merge (RFC 9309 §2.2.1);
- `Allow:` / `Disallow:` values are path patterns; an EMPTY Disallow
  means "allow all" and contributes no rule;
- `#` starts a comment; unknown directives (Crawl-delay, Sitemap) are
  ignored;
- matching (RFC 9309 §2.2.3) and precedence (most pattern octets wins,
  Allow wins ties; RFC 9309 §2.2.2) are applied later by
  politeness.robots_allowed.

The parse itself is an Arrow-batched mapInPandas over the (tiny —
one per host) robots pages; at 10^10-URL scale the rule table stays
|hosts| * avg_rules rows, broadcast-sized by construction.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RULES_SCHEMA = "host string, path_prefix string, allowed boolean"


def parse_robots_txt(body: str, agent: str = "*") -> list[tuple[str, bool]]:
    """robots.txt body -> [(path pattern, allowed)] for `agent`.

    Pure Python (also used inside the Arrow kernel); deterministic rule
    order = file order, so downstream tie-breaks are stable.
    """
    groups: list[tuple[list[str], list[tuple[str, bool]]]] = []
    cur_agents: list[str] | None = None
    cur_rules: list[tuple[str, bool]] | None = None
    in_agent_run = False

    for raw in body.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if not in_agent_run:
                cur_agents, cur_rules = [], []
                groups.append((cur_agents, cur_rules))
            cur_agents.append(val.lower())
            in_agent_run = True
            continue
        in_agent_run = False
        if cur_rules is None:
            continue  # rules before any User-agent line are ignored
        if key == "disallow":
            if val:  # empty Disallow = allow everything (no rule)
                cur_rules.append((val, False))
        elif key == "allow":
            if val:
                cur_rules.append((val, True))
        # other directives (crawl-delay, sitemap, ...) ignored

    agent_l = agent.lower()
    exact = [r for agents, rules in groups if agent_l in agents for r in rules]
    if exact:
        return exact
    return [r for agents, rules in groups if "*" in agents for r in rules]


def parse_crawl_delay(body: str, agent: str = "*") -> float | None:
    """Crawl-delay (seconds) for `agent`: exact-agent group wins over
    `*`; first parsable value in the winning groups; None if absent.
    (Crawl-delay is a de-facto extension, not RFC 9309 — Google ignores
    it, Bing/Yandex honor it; the engine maps it onto the per-host
    politeness budget.)"""
    groups: list[tuple[list[str], list[float]]] = []
    cur: tuple[list[str], list[float]] | None = None
    in_agent_run = False
    for raw in body.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if not in_agent_run:
                cur = ([], [])
                groups.append(cur)
            cur[0].append(val.lower())
            in_agent_run = True
            continue
        in_agent_run = False
        if cur is not None and key == "crawl-delay":
            try:
                cur[1].append(float(val))
            except ValueError:
                pass
    agent_l = agent.lower()
    for agents, delays in groups:
        if agent_l in agents and delays:
            return delays[0]
    for agents, delays in groups:
        if "*" in agents and delays:
            return delays[0]
    return None


DELAYS_SCHEMA = "host string, crawl_delay_s double"


def crawl_delays_from_pages(pages: DataFrame, agent: str = "*") -> DataFrame:
    """robots.txt pages -> (host, crawl_delay_s) for hosts that declare
    one; feed through politeness.budgets_from_crawl_delays to get
    per-host budget overrides."""
    robots = pages.filter(
        F.try_parse_url(F.col("url"), F.lit("PATH")) == "/robots.txt"
    ).select(
        F.try_parse_url(F.col("url"), F.lit("HOST")).alias("host"),
        F.col("text").alias("body"),
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"host": [], "crawl_delay_s": []}
            for host, body in zip(pdf["host"], pdf["body"]):
                d = parse_crawl_delay(body or "", agent)
                if d is not None:
                    out["host"].append(host)
                    out["crawl_delay_s"].append(float(d))
            yield pd.DataFrame(out)

    return robots.mapInPandas(run, DELAYS_SCHEMA)


def robots_rules_from_pages(pages: DataFrame, agent: str = "*") -> DataFrame:
    """pages rows whose url path is /robots.txt -> rule table
    (host, path_prefix, allowed) ready for apply_robots."""
    robots = pages.filter(
        F.try_parse_url(F.col("url"), F.lit("PATH")) == "/robots.txt"
    ).select(
        F.try_parse_url(F.col("url"), F.lit("HOST")).alias("host"),
        F.col("text").alias("body"),
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"host": [], "path_prefix": [], "allowed": []}
            for host, body in zip(pdf["host"], pdf["body"]):
                for prefix, allowed in parse_robots_txt(body or "", agent):
                    out["host"].append(host)
                    out["path_prefix"].append(prefix)
                    out["allowed"].append(allowed)
            yield pd.DataFrame(out)

    return robots.mapInPandas(run, RULES_SCHEMA)


def sitemap_directives(robots_pages: DataFrame) -> DataFrame:
    """(host, sitemap_url): the `Sitemap:` directives of each host's
    robots.txt — the discovery link between the robots source (R1) and
    the sitemap seed source (X59): fetch robots -> collect these URLs
    -> fetch them -> sitemap_entries() flattens pages into the
    frontier.

    Per RFC 9309 §2.3 / sitemaps.org, Sitemap lines are GLOBAL (not
    part of any user-agent group) and the field name is
    case-insensitive, so extraction is one (?im) multiline regex over
    the body — a stateless column projection (`robots_pages` needs
    (host, body)), no mapInPandas required, and the DuckDB oracle runs
    the SAME regex."""
    urls = F.regexp_extract_all(
        F.col("body"),
        F.lit("(?im)^\\s*sitemap\\s*:\\s*(\\S+)"),
        F.lit(1),
    )
    return robots_pages.select(
        "host", F.explode(urls).alias("sitemap_url")
    )


# --- X90: RFC 9309 wildcard patterns ---------------------------------------

def robots_pattern_regex(pattern: str) -> str:
    """Robots path pattern -> anchored regex, RFC 9309 §2.2.3 full
    matching: `*` matches any octet span, a TRAILING `$` anchors the
    end (a `$` anywhere else is a literal), every other char literal.

    Pure-Python twin of politeness.robots_pattern_rx (the JVM chain the
    operator uses); a parity test pins the two byte-identical over a
    generated pattern corpus. The output uses only `^ .* \\ $`-escape
    constructs valid in BOTH Java regex and RE2, so Spark's RLIKE and
    DuckDB's regexp_matches agree on every translated pattern.
    """
    anchored = pattern.endswith("$")
    core = pattern[:-1] if anchored else pattern
    out = ["^"]
    for ch in core:
        if ch == "*":
            out.append(".*")
        elif ch in ".^$+?()[]{}|\\":
            out.append("\\" + ch)
        else:
            out.append(ch)
    if anchored:
        out.append("$")
    return "".join(out)


def robots_failure_policy(statuses: DataFrame,
                          cache_age_col: str | None = None,
                          cache_max_age_days: int = 30) -> DataFrame:
    """Annotate robots.txt FETCH OUTCOMES with the RFC 9309 §2.3.1
    access policy — the rule for what a crawler may do when the robots
    file itself cannot be read (the reference never fetches robots at
    all; a general crawler must decide per host):

      2xx  'parse'           use the body's rules (R1/X90 parsers);
      3xx  'follow_redirect' MUST follow (≥5 hops — the X74 resolver);
      4xx  'allow_all'       unavailable = no restrictions (§2.3.1.3);
      5xx  'disallow_all'    unreachable = complete disallow
                             (§2.3.1.4) — UNLESS a cached copy newer
                             than `cache_max_age_days` exists
                             (pass its age via `cache_age_col`), in
                             which case 'use_cache'.

    Anything else (network-error sentinel statuses < 100, NULL) maps
    to 'disallow_all' — fail closed, like the 5xx rung. Pure when-
    chain projection, zero shuffles; the 'disallow_all' hosts compose
    into budget_gate as (host, 0) overrides and 'use_cache' hosts keep
    their stored rule tables (the X101 refresh planner schedules the
    re-fetch)."""
    s = F.col("status")
    base = (
        F.when((s >= 200) & (s < 300), F.lit("parse"))
        .when((s >= 300) & (s < 400), F.lit("follow_redirect"))
        .when((s >= 400) & (s < 500), F.lit("allow_all"))
        .otherwise(F.lit("disallow_all"))
    )
    if cache_age_col is not None:
        age = F.col(cache_age_col)
        policy = F.when(
            (s >= 500) & age.isNotNull()
            & (age <= F.lit(cache_max_age_days)),
            F.lit("use_cache"),
        ).otherwise(base)
    else:
        policy = base
    return statuses.withColumn("policy", policy)
