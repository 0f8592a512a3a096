"""Robots Exclusion Protocol (RFC 9309) for the crawl frontier.

A 10^12-page crawl spends its politeness budget per registrable
domain; the frontier filter is "may agent A fetch URL u under
domain d's robots.txt?". This module implements it Spark-first:

* ``parse_robots_txt`` — a real REP parser (pure Python, run once per
  domain inside mapInPandas): group selection by user-agent with
  longest-agent-match and ``*`` fallback, comment stripping,
  Allow/Disallow lines, ``*`` wildcards and ``$`` end-anchor.
* ``robots_rules`` — explode each domain's robots.txt into rule rows
  (domain, allow, like_pat, rule_len). Rule patterns are translated
  to SQL LIKE patterns so MATCHING runs JVM-side — the Python parser
  touches each robots.txt once (O(domains), ~10^7 rows at full
  crawl), never the 10^12 URL rows.
* ``apply_robots`` — broadcast the tiny rule frame, LIKE-join on
  domain, pick the RFC 9309 winner (longest rule, allow wins ties)
  with one max_by aggregation keyed by the URL row. No window, no
  per-row Python.

Rule-precedence semantics follow RFC 9309 §2.2.2: most specific
(longest octet-length) match wins; on equal length Allow wins.
Unmatched URLs and domains with no robots.txt are allowed.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

__all__ = ["parse_robots_txt", "robots_rules", "apply_robots"]


def _pattern_to_like(pat: str) -> str:
    """Translate a REP path pattern to a SQL LIKE pattern.

    ``*`` matches any run (→ ``%``); a terminal ``$`` anchors the end
    (→ no trailing ``%``); LIKE metacharacters in the literal parts
    are backslash-escaped (Spark and ANSI default escape)."""
    anchored = pat.endswith("$")
    if anchored:
        pat = pat[:-1]
    out = []
    for ch in pat:
        if ch == "*":
            out.append("%")
        elif ch in ("%", "_", "\\"):
            out.append("\\" + ch)
        else:
            out.append(ch)
    if not anchored:
        out.append("%")
    return "".join(out)


def parse_robots_txt(txt: str, agent: str = "askg-spark"
                     ) -> list[tuple[bool, str, int]]:
    """Rules applying to `agent`: [(allow, path_pattern, rule_len)].

    Group selection per RFC 9309 §2.2.1: collect the group(s) whose
    user-agent token is the longest prefix of `agent`
    (case-insensitive); if none match, the ``*`` group applies.
    ``rule_len`` is the octet length of the original pattern — the
    precedence key."""
    agent_l = agent.lower()
    groups: dict[str, list[tuple[bool, str, int]]] = {}
    current: list[str] = []
    last_was_agent = False
    for raw in txt.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            token = value.lower()
            if not last_was_agent:
                current = []
            current.append(token)
            groups.setdefault(token, [])
            last_was_agent = True
            continue
        last_was_agent = False
        if field in ("allow", "disallow") and current:
            if not value:
                # empty Disallow = allow everything; RFC: no rule
                continue
            rule = (field == "allow", value, len(value.encode()))
            for token in current:
                groups[token].append(rule)

    best_token, best_len = None, -1
    for token in groups:
        if token == "*":
            continue
        if agent_l.startswith(token) and len(token) > best_len:
            best_token, best_len = token, len(token)
    if best_token is not None:
        return groups[best_token]
    return groups.get("*", [])


def robots_rules(robots: DataFrame, agent: str = "askg-spark") -> DataFrame:
    """(domain, robots_txt) -> (domain, allow, like_pat, rule_len) —
    one row per applicable rule. Python runs once per DOMAIN row;
    output is broadcast-sized (a handful of rules per domain)."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            doms, allows, pats, lens = [], [], [], []
            for dom, txt in zip(pdf["domain"], pdf["robots_txt"]):
                if txt is None:
                    continue
                for allow, pat, rlen in parse_robots_txt(str(txt), agent):
                    doms.append(dom)
                    allows.append(allow)
                    pats.append(_pattern_to_like(pat))
                    lens.append(rlen)
            yield pd.DataFrame({"domain": doms, "allow": allows,
                                "like_pat": pats, "rule_len": lens})

    return robots.mapInPandas(
        run, schema="domain string, allow boolean, like_pat string, "
                    "rule_len int")


def apply_robots(urls: DataFrame, rules: DataFrame) -> DataFrame:
    """`urls` (domain, path, ...) plus an ``allowed`` int column (1
    fetchable, 0 blocked).

    Plan shape: broadcast hash join urls×rules on domain with the
    LIKE predicate evaluated JVM-side (column-valued pattern), then
    ONE partial-aggregating max_by groupBy on the url key — the only
    shuffle, and it is on the frame we were about to shuffle into the
    frontier anyway. RFC 9309 winner = max (rule_len, allow)."""
    # row-preserving: a crawl frontier may legitimately hold duplicate
    # (domain, path) rows; key the winner aggregation on a per-row id
    # so the output has exactly one row per INPUT row
    key = [c for c in urls.columns]
    urls = urls.withColumn("_rid", F.monotonically_increasing_id())
    matched = (urls.join(
        F.broadcast(rules),
        (urls["domain"] == rules["domain"]) &
        F.like(urls["path"], rules["like_pat"]),
        "left")
        .drop(rules["domain"]))
    decided = (matched
               .groupBy("_rid", *key)
               .agg(F.max_by(
                   F.col("allow"),
                   F.struct(F.col("rule_len"), F.col("allow")))
                   .alias("_winner")))
    return decided.select(
        *key,
        F.coalesce(F.col("_winner"), F.lit(True))
         .cast("int").alias("allowed"))
