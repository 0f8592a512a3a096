"""Deterministic synthetic `pages` corpus generator (FIXTURES.md §1).

Pure function of (seed, server_index): every page's url/html/text is
derived from md5(seed:index:field) — no RNG state, no driver-side data,
so generation is distributed (spark.range -> mapInPandas) and identical
at any parallelism. Page families mirror the reference's four sources:

  * mcp.so detail pages   (~60%) — exercises every branch of the
    reference's detail extraction (h1 "Name by Author", meta-description
    vs first-<p> fallback, first github link, tag spans, url-segment
    fallback)                       [/root/reference/src/scrapers.py:611-690]
  * github README pages   (~25%) — MCP-indicator predicate, category
    keywords in description, tool names carrying operation keywords
                                    [scrapers.py:309-337,115-156]
  * glama JSON pages      (~10%) — JSON body with servers[] (from_json +
    explode path)                   [scrapers.py:768-871]
  * noise pages           (~5%)  — security-checkpoint bodies, tiny and
    malformed HTML -> quarantine    [scrapers.py:1065-1069]

Entity design (dedup ground truth): each logical server appears on 1-3
registries with name variants; ~25% share one hot author and most carry
the hot `ai_ml` category (skew, per scale_assessment.py:126-128); a
designated subset gets a fuzzy twin (no shared repo, >0.85 name ratio,
same author); collision bait included.
"""

from __future__ import annotations

import hashlib
import html as html_mod
import json
from datetime import datetime, timedelta, timezone
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from askg_spark import schemas

EPOCH = datetime(2025, 6, 1, tzinfo=timezone.utc)

_WORDS1 = ["orbit", "quartz", "maple", "falcon", "delta", "ember", "cobalt",
           "lumen", "vertex", "harbor", "cinder", "aspen", "raven", "tundra",
           "zephyr", "basalt"]
_WORDS2 = ["bridge", "kit", "hub", "gate", "forge", "pilot", "scope",
           "works", "link", "desk", "flow", "cache", "vault", "beacon"]
_CATEGORY_SEED_WORDS = {
    "database": "postgres database",
    "file_system": "filesystem storage",
    "api_integration": "rest api webhook",
    "development_tools": "github code build",
    "cloud_services": "aws cloud kubernetes",
    "communication": "slack notification",
    "monitoring": "metrics observability",
    "search": "search index",
    "ai_ml": "ai model neural",
}
_CAT_KEYS = sorted(_CATEGORY_SEED_WORDS)
_TOOL_STEMS = ["get_records", "write_items", "search_entries", "run_job",
               "list_files", "create_ticket", "query_table", "execute_task"]
_LANGS = ["python", "typescript", "go", "rust"]


def _h(seed: int, *parts) -> int:
    raw = ":".join([str(seed)] + [str(p) for p in parts])
    return int.from_bytes(hashlib.md5(raw.encode()).digest()[:8], "big")


def server_profile(seed: int, k: int) -> dict:
    """The logical server k — the ground-truth entity behind its pages."""
    h = _h(seed, k, "base")
    # hex chunk keeps pairwise name similarity realistic as the corpus
    # grows: without it, thousands of servers share 16x14 word stems and
    # name-similar candidate pairs grow quadratically (a web corpus has
    # name entropy; a scoring benchmark should too)
    hexc = f"{_h(seed, k, 'hex') % 0xffffffff:08x}"
    name = f"{_WORDS1[h % len(_WORDS1)]}-{_WORDS2[(h >> 8) % len(_WORDS2)]}-{hexc}-{k}"
    hot = (h >> 16) % 4 == 0  # ~25% owned by the hot author
    author = "anthropic" if hot else f"dev-{(h >> 20) % 97}"
    # hot category skew: ~70% carry ai_ml (scale_assessment.py:126-128)
    cats = ["ai_ml"] if (h >> 28) % 10 < 7 else []
    cats.append(_CAT_KEYS[(h >> 32) % len(_CAT_KEYS)])
    cat_words = " ".join(_CATEGORY_SEED_WORDS[c] for c in sorted(set(cats)))
    # NB: no classifier keyword may appear outside cat_words (substring
    # semantics — e.g. "model" would add ai_ml to every server)
    description = (
        f"A connector for {name.replace('-', ' ')} "
        f"providing {cat_words} capabilities."
    )
    has_repo = (h >> 36) % 10 < 8  # ~80% repo-backed
    repo = f"https://github.com/{author}/{name}" if has_repo else None
    n_tools = (h >> 40) % 4
    tools = [
        {"name": _TOOL_STEMS[(h >> (44 + 3 * i)) % len(_TOOL_STEMS)] + f"_{k}",
         "description": f"tool {i} of {name}"}
        for i in range(n_tools)
    ]
    registries = ["mcp.so"]
    if (h >> 56) % 10 < 5:
        registries.append("github")
    if (h >> 60) % 10 < 3:
        registries.append("glama")
    # mcpmarket pages only for repo-backed servers so the J1 repo key
    # links them to the base entity (cards carry no independent author)
    if has_repo and _h(seed, k, "mm") % 10 < 3:
        registries.append("mcpmarket")
    # MCPResource / MCPPrompt sub-entities, carried by the glama JSON
    # form (models.py:47-57; the HTML families don't surface them)
    rp = _h(seed, k, "respro")
    resources = [
        {"uri": f"file:///{name}/res{i}", "name": f"res{i}",
         "description": f"resource {i} of {name}", "mime_type": "text/plain"}
        for i in range(rp % 3)
    ]
    prompts = [
        {"name": f"prompt_{i}_{k}", "description": f"prompt {i} of {name}"}
        for i in range((rp >> 4) % 3)
    ]
    return {
        "k": k, "name": name, "author": author, "description": description,
        "repository": repo, "tools": tools, "language": _LANGS[(h >> 52) % 4],
        "popularity": int(h % 5000), "registries": registries,
        "resources": resources, "prompts": prompts,
        # extra near-name page (same-org alt repo); requires a base repo so
        # the same-github-org component lifts the composite above 0.7
        "fuzzy_twin": k % 17 == 3 and has_repo,
    }


# ---------------------------------------------------------------- HTML builders

def _strip_tags_text(html_str: str) -> str:
    """Canonical visible-text rule for this corpus: drop script/style,
    strip tags, strip each text node, drop empties, join with \\n."""
    import re
    s = re.sub(r"(?s)<(script|style)\b.*?</\1>", "", html_str)
    parts = re.split(r"<[^>]+>", s)
    out = [html_mod.unescape(p).strip() for p in parts]
    return "\n".join(p for p in out if p)


def _mcpso_html(p: dict, variant: int, seed: int) -> tuple[str, str, str]:
    """Return (url, html, text) for an mcp.so-style detail page."""
    h = _h(seed, p["k"], "mcpso", variant)
    # name variants exercise the normalizer: case, affixes, separator swaps
    forms = [
        p["name"],
        p["name"].replace("-", " ").title(),
        "mcp-" + p["name"] + "-server",
        p["name"].replace("-", "_") + " MCP",
    ]
    display = forms[h % len(forms)]
    twin = variant == 1 and p["fuzzy_twin"]
    if twin:
        # fuzzy twin: one extra char + different repo in the SAME github
        # org -> misses J1/J2/J3, caught only by the fuzzy path
        # (name ratio > 0.85, composite = .3 author + .2 desc + .2 cats
        #  + .2 same-org = 0.9 > 0.7; deduplication.py:202-262)
        display = p["name"] + "x"
    url = f"https://mcp.so/server/{display.replace(' ', '-').lower()}/{p['author']}"
    use_meta = (h >> 8) % 2 == 0
    n_tags = (h >> 12) % 4
    tags = [f"#{t}" if i % 2 else t
            for i, t in enumerate(["tools", "agent", "mcp", "infra"][:n_tags])]
    drop_h1 = (h >> 20) % 10 == 0  # url-segment fallback branch
    lines = ["<html><head><title>%s by %s</title>" % (
        html_mod.escape(display), html_mod.escape(p["author"]))]
    if use_meta:
        lines.append('<meta name="description" content="%s">'
                     % html_mod.escape(p["description"]))
    lines.append("</head><body>")
    if not drop_h1:
        lines.append("<h1>%s by %s</h1>" % (
            html_mod.escape(display), html_mod.escape(p["author"])))
    if not use_meta:
        lines.append("<p>%s</p>" % html_mod.escape(p["description"]))
    if twin:
        lines.append('<a href="https://github.com/%s/%sx-alt">Repository</a>'
                     % (p["author"], p["name"]))
    elif p["repository"]:
        lines.append('<a href="%s">Repository</a>' % p["repository"])
    for t in tags:
        lines.append('<span class="tag">%s</span>' % html_mod.escape(t))
    lines.append("</body></html>")
    html_str = "".join(lines)
    return url, html_str, _strip_tags_text(html_str)


def _github_html(p: dict, seed: int, is_mcp: bool = True) -> tuple[str, str, str]:
    h = _h(seed, p["k"], "github")
    owner, repo = p["author"], p["name"]
    url = f"https://github.com/{owner}/{repo}"
    indicator = "model context protocol" if is_mcp else "general purpose library"
    tool_lines = "".join(
        "<li>%s</li>" % html_mod.escape(t["name"]) for t in p["tools"])
    html_str = (
        "<html><head><title>%s/%s</title></head><body>"
        "<h1>%s</h1><p>%s This is a %s implementation in %s.</p>"
        "<ul>%s</ul>"
        "<span>stars:%d</span>"
        "</body></html>"
        % (owner, repo, html_mod.escape(repo), html_mod.escape(p["description"]),
           indicator, p["language"], tool_lines, p["popularity"])
    )
    return url, html_str, _strip_tags_text(html_str)


def _glama_json(profiles: list[dict], page_no: int) -> tuple[str, str, str]:
    url = f"https://glama.ai/api/mcp/servers?page={page_no}"
    body = json.dumps({
        "servers": [
            {
                "name": p["name"], "description": p["description"],
                "author": p["author"], "repository": p["repository"],
                "tools": p["tools"], "language": p["language"],
                "popularity": p["popularity"],
                "resources": p["resources"], "prompts": p["prompts"],
            }
            for p in profiles
        ]
    }, sort_keys=True)
    return url, body, body


def _mcpmarket_page(p: dict, seed: int) -> tuple[str, str, str]:
    """mcpmarket page: card-HTML listing form or API-JSON form
    (scrapers.py:1110-1233), alternating per server hash."""
    h = _h(seed, p["k"], "mm_page")
    if h % 2 == 0:
        url = f"https://mcpmarket.com/servers/{p['k']}"
        html_str = (
            "<html><head><title>MCP Market</title></head><body>"
            "<article><h2>%s</h2><p>%s</p>"
            '<a href="%s">GitHub</a></article></body></html>'
            % (html_mod.escape(p["name"]), html_mod.escape(p["description"]),
               p["repository"])
        )
        return url, html_str, _strip_tags_text(html_str)
    url = f"https://mcpmarket.com/api/servers?page={p['k']}"
    # alias keys (title/owner/repo_url) exercise the API parser's
    # fallback chain (scrapers.py:1196-1207)
    body = json.dumps({"data": [{
        "title": p["name"], "owner": p["author"],
        "repo_url": p["repository"], "description": p["description"],
    }]}, sort_keys=True)
    return url, body, body


def _noise_page(seed: int, k: int) -> tuple[str, str, str]:
    h = _h(seed, k, "noise")
    kind = h % 3
    if kind == 0:
        html_str = ("<html><body><p>Checking your browser before accessing "
                    "the site.</p></body></html>")
        url = f"https://mcpmarket.com/server/blocked-{k}"
    elif kind == 1:
        html_str = "<html><body>tiny</body></html>"
        url = f"https://mcp.so/server/tiny-{k}/nobody"
    else:
        html_str = "<html><h1>broken"
        url = f"https://example.com/junk-{k}"
    return url, html_str, _strip_tags_text(html_str)


# ---------------------------------------------------------------- generation

def _rows_for_server(seed: int, k: int) -> Iterator[tuple]:
    p = server_profile(seed, k)
    ts0 = EPOCH + timedelta(minutes=int(_h(seed, k, "ts") % 100000))
    if "mcp.so" in p["registries"]:
        url, html_str, text = _mcpso_html(p, 0, seed)
        yield (url, ts0, html_str.encode(), text, "en")
    if p["fuzzy_twin"]:
        url, html_str, text = _mcpso_html(p, 1, seed)
        yield (url, ts0 + timedelta(minutes=1), html_str.encode(), text, "en")
    if "github" in p["registries"]:
        is_mcp = _h(seed, k, "ghmcp") % 10 != 0  # 10% non-MCP -> filtered out
        url, html_str, text = _github_html(p, seed, is_mcp)
        yield (url, ts0 + timedelta(minutes=2), html_str.encode(), text, "en")
    if "glama" in p["registries"]:
        url, html_str, text = _glama_json([p], k)
        yield (url, ts0 + timedelta(minutes=3), html_str.encode(), text, "en")
    if "mcpmarket" in p["registries"]:
        url, html_str, text = _mcpmarket_page(p, seed)
        yield (url, ts0 + timedelta(minutes=5), html_str.encode(), text, "en")
    # ~5% noise volume: one noise page per ~3 servers
    if k % 3 == 0:
        url, html_str, text = _noise_page(seed, k)
        lang = "de" if k % 9 == 0 else "en"
        yield (url, ts0 + timedelta(minutes=4), html_str.encode(), text, lang)


def _n_pages_for_server(seed: int, k: int) -> int:
    """Page count of ``_rows_for_server`` WITHOUT rendering any HTML —
    the count is a pure function of the server profile's registry
    membership / twin flag / noise modulus. Keep in lockstep with
    ``_rows_for_server``."""
    p = server_profile(seed, k)
    n = 0
    for reg in ("mcp.so", "github", "glama", "mcpmarket"):
        if reg in p["registries"]:
            n += 1
    if p["fuzzy_twin"]:
        n += 1
    if k % 3 == 0:
        n += 1
    return n


def _partitions(n_servers: int) -> int:
    return max(2, min(n_servers // 50 + 1, 256))


def count_pages(spark: SparkSession, n_servers: int, seed: int = 42) -> int:
    """Exact row count of ``generate_pages(...)`` at ~zero cost: a
    distributed sum of the per-server page count, skipping the HTML
    renderer entirely. (Counting the rendered frame re-executes the
    mapInPandas renderer — measured 792 core-s at 200k servers for a
    number that is pure profile arithmetic.) Verified against the
    rendered count in tests."""

    def cnt(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({"n": [sum(
                _n_pages_for_server(seed, int(k))
                for k in pdf["id"].tolist())]})

    rng = spark.range(0, n_servers, numPartitions=_partitions(n_servers))
    row = rng.mapInPandas(cnt, schema="n long").agg(F.sum("n")).collect()
    return int(row[0][0])


def generate_pages(
    spark: SparkSession, n_servers: int = 40, seed: int = 42,
) -> DataFrame:
    """Distributed generation: one task range per slice of server ids.

    Scale knob is ``n_servers`` (each yields ~2.3 pages). Pure in
    (seed, k): identical output at any partitioning/parallelism.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for k in pdf["id"].tolist():
                rows.extend(_rows_for_server(seed, int(k)))
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"])

    rng = spark.range(0, n_servers, numPartitions=_partitions(n_servers))
    return rng.mapInPandas(gen, schema=schemas.PAGES)
