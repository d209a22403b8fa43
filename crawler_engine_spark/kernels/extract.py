"""The fused per-row extraction kernel.

One pure-Python function, :func:`extract_page`, reimplements the *deterministic
execution path* of all five reference strategies (semantic / structured /
rule_based / hybrid / adaptive) plus the orchestrator's final-metrics pass.
It runs inside ``mapInPandas`` batches (see ``operators/extraction.py``) — no
per-row Python at the DataFrame level, Arrow-vectorized transfer, stdlib-only
parsing (the container has no lxml/bs4).

Reference parity map (file:line cites into /root/reference/src/intelligent_web_extractor):

* semantic     → strategies/semantic_strategy.py:91-401 (regex clean :190-204,
  DOM prune :206-228, chunk :239-269, keyword relevance :349-371, top-k
  :299-307, recombine :373-387, confidence :389-401, metadata :403-488)
* structured   → strategies/structured_strategy.py:92-556 (tables :238-282,
  lists :302-325, forms :345-383, links :403-424, images/videos :426-475,
  text :477-508, combine :510-534, confidence :536-556)
* rule_based   → strategies/rule_based_strategy.py:79-548 (cleaning rules
  :193-240&328-349, prioritized rules + early stop :351-410, metadata rules
  :138-191&444-515, confidence :517-548)
* hybrid       → strategies/hybrid_strategy.py:81-407 (content analysis
  :149-204, approach always "hybrid" on the deterministic path because the
  analysis dict pre-seeds ``recommended_approach`` :156 and :249-250,
  combination :317-407)
* adaptive     → strategies/adaptive_strategy.py:91-174 & 535-620 & 694-713
  (the six ``generate_response`` call sites raise AttributeError — the method
  does not exist on AIClient — so the deterministic fallbacks always run;
  intent falls back to ``raw_content`` :657-667 and the composite
  PAGE METADATA / HEADINGS / FULL TEXT / LINKS block is returned verbatim)
* final pass   → core/extractor.py:179-209 & 360-375 (metadata dict merge,
  word/char/reading-time recompute, completeness/accuracy overrides)
* out-links    → utils/web_utils.py:70-108 (frontier feed)

Documented deviations from the reference (each locked by golden tests):
1. ``hybrid`` tag/category merge uses ``sorted(set(...))`` — the reference's
   ``list(set(...))`` order is nondeterministic (hybrid_strategy.py:399-400).
2. The kernel is stateless per row: rule-performance counters reset per page
   (the reference accumulates them per-process, which is order-dependent).
3. ``adaptive`` parses the stored page HTML instead of re-navigating a live
   browser; ``innerText`` is approximated block-aware (htmlkit.dom.inner_text)
   — downstream whitespace collapse makes this exact for word content.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Any, Dict, List, Optional, Tuple
from urllib.parse import urljoin

from ..htmlkit import dom
from . import textops, urls as urlkit

# --------------------------------------------------------------------------
# Options (the slice of ExtractorConfig that reaches the kernel;
# defaults mirror models/config.py:110-147)
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class ExtractOptions:
    relevance_threshold: float = 0.6
    min_content_length: int = 100
    remove_ads: bool = True
    remove_navigation: bool = True
    enable_hidden_content_handling: bool = True
    semantic_max_chunks: int = 10
    extract_tables: bool = True
    extract_lists: bool = True
    extract_forms: bool = False
    extract_links: bool = True
    extract_images: bool = False
    content_selectors: Tuple[str, ...] = ()
    # User-defined rules (core/custom_extractor.py:75-105 →
    # rule_based_strategy.py:601-615): (name, selectors, priority), merged
    # with the built-in rules and applied in priority order (stable for
    # ties, matching the reference's sorted() over insertion order).
    custom_rules: Tuple[Tuple[str, Tuple[str, ...], int], ...] = ()


DEFAULT_OPTIONS = ExtractOptions()

MODES = ("adaptive", "semantic", "structured", "rule_based", "hybrid")

# --------------------------------------------------------------------------
# Shared DOM helpers
# --------------------------------------------------------------------------

_SEMANTIC_STRIP_PATTERNS_BASE = [
    r"<script[^>]*>.*?</script>",
    r"<style[^>]*>.*?</style>",
    r"<noscript[^>]*>.*?</noscript>",
]
_SEMANTIC_STRIP_PATTERNS_EMBEDS = [
    r"<iframe[^>]*>.*?</iframe>",
    r"<object[^>]*>.*?</object>",
    r"<embed[^>]*>.*?</embed>",
    r"<applet[^>]*>.*?</applet>",
]
_COMMENT_RE = re.compile(r"<!--.*?-->", re.DOTALL)
_WS_RE = re.compile(r"\s+")

_AD_SELECTORS = [
    '[class*="ad"]', '[class*="advertisement"]', '[id*="ad"]',
    '[class*="banner"]', '[class*="sponsor"]', '[class*="promo"]',
]


def _compiled_semantic_patterns(opts: ExtractOptions) -> List[re.Pattern]:
    pats = list(_SEMANTIC_STRIP_PATTERNS_BASE)
    if not opts.enable_hidden_content_handling:
        pats.extend(_SEMANTIC_STRIP_PATTERNS_EMBEDS)
    return [re.compile(p, re.DOTALL | re.IGNORECASE) for p in pats]


def _semantic_clean_html(html: str, opts: ExtractOptions) -> str:
    cleaned = html
    for pat in _compiled_semantic_patterns(opts):
        cleaned = pat.sub("", cleaned)
    cleaned = _COMMENT_RE.sub("", cleaned)
    cleaned = _WS_RE.sub(" ", cleaned)
    return cleaned.strip()


def _prune_for_text(root: dom.Node, opts: ExtractOptions) -> None:
    """The shared DOM-pruning pass (semantic_strategy.py:206-228,
    structured_strategy.py:477-500).

    All conditions are attribute-only, so the sequential reference passes
    collapse into ONE tree traversal with an identical final tree (removal
    order can't change what matches)."""
    selectors = ["script", "style", "noscript"]
    if not opts.enable_hidden_content_handling:
        selectors += ["iframe", "object", "embed", "applet"]
    if opts.remove_navigation:
        selectors += ["nav", "footer", "header"]
    if opts.remove_ads:
        selectors += _AD_SELECTORS
    for matches in root.select_multi(selectors):
        for el in matches:
            el.decompose()


def _extract_clean_text(root: dom.Node, opts: ExtractOptions) -> str:
    _prune_for_text(root, opts)
    text = root.get_text(separator=" ", strip=True)
    return textops.squeeze_whitespace(text)


# --------------------------------------------------------------------------
# Metadata (semantic_strategy.py:403-488 == structured_strategy.py:558-626)
# --------------------------------------------------------------------------

_AUTHOR_SELECTORS = [
    'meta[name="author"]', '[class*="author"]', '[data-author]',
    '.author', '[rel="author"]',
]
_DATE_SELECTORS = [
    'meta[property="article:published_time"]', 'meta[name="publish_date"]',
    'time[datetime]', '[data-date]', '.date', '.published',
]
_TAG_SELECTORS = [
    'meta[name="keywords"]', '[class*="tag"]', '[class*="category"]',
    '.tags', '.categories',
]


def _parse_date(date_str: str) -> Optional[str]:
    try:
        from dateutil import parser as dtparser

        return dtparser.parse(date_str).isoformat()
    except Exception:
        return None


def _empty_metadata() -> Dict[str, Any]:
    return {
        "title": None, "author": None, "publish_date": None,
        "last_modified": None, "language": None, "word_count": 0,
        "character_count": 0, "reading_time_minutes": 0.0,
        "content_type": None, "tags": [], "categories": [],
    }


def _extract_page_metadata(root: dom.Node) -> Dict[str, Any]:
    md = _empty_metadata()
    title_tag = root.find("title")
    if title_tag is not None:
        md["title"] = title_tag.get_text().strip()
    desc = root.find("meta", attrs={"name": "description"})
    if desc is not None:
        md["content_type"] = (desc.attrs.get("content") or "").strip()

    # Author/date/tag selector groups share one tree traversal.
    all_selectors = _AUTHOR_SELECTORS + _DATE_SELECTORS + _TAG_SELECTORS
    matches = root.select_multi(all_selectors)
    na, nd = len(_AUTHOR_SELECTORS), len(_DATE_SELECTORS)
    author_m, date_m, tag_m = matches[:na], matches[na : na + nd], matches[na + nd :]

    for m in author_m:
        if m:
            el = m[0]
            if el.name == "meta":
                md["author"] = (el.attrs.get("content") or "").strip()
            else:
                md["author"] = el.get_text().strip()
            break
    for m in date_m:
        if m:
            el = m[0]
            date_str = (
                el.attrs.get("datetime")
                or el.attrs.get("content")
                or el.get_text()
            )
            if date_str:
                md["publish_date"] = _parse_date(date_str)
            break
    html_el = root.find("html")
    if html_el is not None:
        md["language"] = html_el.attrs.get("lang", "")
    for m in tag_m:
        for el in m:
            if el.name == "meta":
                content = el.attrs.get("content", "")
                if content:
                    md["tags"].extend(t.strip() for t in content.split(","))
            else:
                text = el.get_text().strip()
                if text:
                    md["tags"].append(text)
    return md


# --------------------------------------------------------------------------
# Semantic strategy
# --------------------------------------------------------------------------


def extract_semantic(
    url: str, user_query: Optional[str], html: str, opts: ExtractOptions
) -> Dict[str, Any]:
    cleaned = _semantic_clean_html(html, opts)
    root = dom.parse(cleaned)
    text = _extract_clean_text(root, opts)

    chunks = textops.create_content_chunks(text)
    relevant = []
    for i, chunk in enumerate(chunks):
        score = textops.keyword_relevance(chunk, user_query)
        if score >= opts.relevance_threshold:
            relevant.append(
                {"content": chunk, "relevance_score": score, "chunk_index": i}
            )
    relevant.sort(key=lambda c: c["relevance_score"], reverse=True)  # stable
    relevant = relevant[: opts.semantic_max_chunks]

    ordered = sorted(relevant, key=lambda c: c["chunk_index"])
    content = "\n\n".join(c["content"] for c in ordered)

    if relevant:
        confidence = sum(c["relevance_score"] for c in relevant) / len(relevant)
        if len(relevant) >= 3:
            confidence *= 1.1
        confidence = min(1.0, confidence)
    else:
        confidence = 0.0

    metadata = _extract_page_metadata(root)
    return {
        "content": content,
        "metadata": metadata,
        "structured_data": _empty_structured(),
        "confidence_score": confidence,
        "relevance_score": confidence,
        "completeness_score": min(len(content) / 1000, 1.0),
        "accuracy_score": confidence,
        "success": True,
    }


# --------------------------------------------------------------------------
# Structured strategy
# --------------------------------------------------------------------------

_TABLE_SELECTORS = ["table", '[role="table"]', ".table", ".data-table", '[class*="table"]']
_LIST_SELECTORS = ["ul", "ol", '[role="list"]', ".list", '[class*="list"]']
_FORM_SELECTORS = ["form", '[role="form"]', ".form", '[class*="form"]']
_LINK_SELECTORS = ['a[href]', '[role="link"]', ".link", '[class*="link"]']


def _empty_structured() -> Dict[str, List]:
    return {"tables": [], "lists": [], "forms": [], "links": [], "images": [], "videos": []}


def _parse_table(table: dom.Node) -> Dict[str, Any]:
    headers: List[str] = []
    thead = table.find("thead")
    if thead is not None:
        headers = [c.get_text(strip=True) for c in thead.find_all(["th", "td"])]
    rows: List[List[str]] = []
    body = table.find("tbody") or table
    for tr in body.find_all("tr"):
        cells = tr.find_all(["td", "th"])
        row = [c.get_text(strip=True) for c in cells]
        if row:
            rows.append(row)
    if not headers and rows:
        headers = rows[0]
        rows = rows[1:]
    caption_el = table.find("caption")
    return {
        "headers": headers,
        "rows": rows,
        "row_count": len(rows),
        "column_count": len(headers) if headers else 0,
        "caption": caption_el.get_text(strip=True) if caption_el is not None else "",
    }


def _parse_list(el: dom.Node) -> Dict[str, Any]:
    items = []
    for li in el.find_all("li", recursive=False):
        t = li.get_text(strip=True)
        if t:
            items.append(t)
    return {
        "type": el.name,
        "items": items,
        "item_count": len(items),
        "id": el.attrs.get("id", ""),
        "class": el.get("class", []),
    }


def _parse_form(form: dom.Node) -> Dict[str, Any]:
    fields = []
    for f in form.find_all(["input", "textarea", "select"]):
        fd = {
            "type": f.attrs.get("type", f.name),
            "name": f.attrs.get("name", ""),
            "id": f.attrs.get("id", ""),
            "placeholder": f.attrs.get("placeholder", ""),
            "required": f.attrs.get("required") is not None,
            "value": f.attrs.get("value", ""),
        }
        if f.name == "select":
            fd["options"] = [
                {
                    "value": o.attrs.get("value", ""),
                    "text": o.get_text(strip=True),
                    "selected": o.attrs.get("selected") is not None,
                }
                for o in f.find_all("option")
            ]
        else:
            fd["options"] = []
        fields.append(fd)
    return {
        "action": form.attrs.get("action", ""),
        "method": form.attrs.get("method", "get"),
        "id": form.attrs.get("id", ""),
        "class": form.get("class", []),
        "fields": fields,
    }


def _structured_data(root: dom.Node, opts: ExtractOptions) -> Dict[str, List]:
    sd = _empty_structured()
    # Single traversal for every enabled selector family; per-selector match
    # lists preserve the reference's append order (incl. double-counting
    # when one element matches several selectors, structured_strategy.py:224-231).
    families: List[tuple] = []
    if opts.extract_tables:
        families += [("tables", s) for s in _TABLE_SELECTORS]
    if opts.extract_lists:
        families += [("lists", s) for s in _LIST_SELECTORS]
    if opts.extract_forms:
        families += [("forms", s) for s in _FORM_SELECTORS]
    if opts.extract_links:
        families += [("links", s) for s in _LINK_SELECTORS]
    matches = root.select_multi([s for _, s in families])
    by_family: Dict[str, List[dom.Node]] = {}
    for (family, _), m in zip(families, matches):
        by_family.setdefault(family, []).extend(m)
    for t in by_family.get("tables", []):
        sd["tables"].append(_parse_table(t))
    for l in by_family.get("lists", []):
        sd["lists"].append(_parse_list(l))
    for f in by_family.get("forms", []):
        sd["forms"].append(_parse_form(f))
    for a in by_family.get("links", []):
        href = a.attrs.get("href", "")
        if not href:
            continue
        sd["links"].append(
            {
                "href": href,
                "text": a.get_text(strip=True),
                "title": a.attrs.get("title", ""),
                "target": a.attrs.get("target", ""),
                "rel": a.get("rel", []),
                "id": a.attrs.get("id", ""),
                "class": a.get("class", []),
            }
        )
    if opts.extract_images:
        for img in root.find_all("img"):
            d = {
                "src": img.attrs.get("src", ""),
                "alt": img.attrs.get("alt", ""),
                "title": img.attrs.get("title", ""),
                "width": img.attrs.get("width", ""),
                "height": img.attrs.get("height", ""),
                "id": img.attrs.get("id", ""),
                "class": img.get("class", []),
            }
            if d["src"]:
                sd["images"].append(d)
    for v in root.find_all(["video", "iframe"]):
        d = {
            "type": v.name,
            "src": v.attrs.get("src", ""),
            "title": v.attrs.get("title", ""),
            "width": v.attrs.get("width", ""),
            "height": v.attrs.get("height", ""),
            "id": v.attrs.get("id", ""),
            "class": v.get("class", []),
        }
        if d["src"]:
            sd["videos"].append(d)
    return sd


def _combine_structured_content(text: str, sd: Dict[str, List]) -> str:
    parts: List[str] = []
    if text:
        parts.append(text)
    if sd["tables"]:
        parts.append(f"\n\nTables found: {len(sd['tables'])}")
        for i, table in enumerate(sd["tables"][:3]):
            if table.get("caption"):
                parts.append(f"Table {i + 1}: {table['caption']}")
    if sd["lists"]:
        parts.append(f"\nLists found: {len(sd['lists'])}")
    if sd["forms"]:
        parts.append(f"\nForms found: {len(sd['forms'])}")
    if sd["links"]:
        parts.append(f"\nLinks found: {len(sd['links'])}")
    return "\n".join(parts)


def extract_structured(
    url: str,
    user_query: Optional[str],
    html: str,
    opts: ExtractOptions,
    root: Optional[dom.Node] = None,
) -> Dict[str, Any]:
    if root is None:
        root = dom.parse(html)
    # Order matters: structured data sees the full DOM, then the SAME tree is
    # pruned for text (the reference mutates one soup, structured_strategy.py:119-122).
    sd = _structured_data(root, opts)
    text = _extract_clean_text(root, opts)
    content = _combine_structured_content(text, sd)

    confidence = 0.5
    if sd["tables"]:
        confidence += 0.2
    if sd["lists"]:
        confidence += 0.1
    if sd["forms"]:
        confidence += 0.1
    if sd["links"]:
        confidence += 0.05
    if len(text) > 1000:
        confidence += 0.1
    elif len(text) > 500:
        confidence += 0.05
    confidence = min(1.0, confidence)

    # Metadata runs on the (pruned) tree, as in the reference; the word/char
    # stats are always 0 there (structured_strategy.py:619-620 NameError guard).
    metadata = _extract_page_metadata(root)
    return {
        "content": content,
        "metadata": metadata,
        "structured_data": sd,
        "confidence_score": confidence,
        "relevance_score": confidence,
        "completeness_score": min(len(content) / 1000, 1.0),
        "accuracy_score": confidence,
        "success": True,
    }


# --------------------------------------------------------------------------
# Rule-based strategy
# --------------------------------------------------------------------------

_CONTENT_RULES = [
    # (name, selectors, priority) — rule_based_strategy.py:79-136
    ("main_content", ["main", "[role='main']", ".main-content", ".content",
                      ".post-content", ".article-content", ".entry-content",
                      "#content", "#main"], 1),
    ("article_content", ["article", ".article", ".post", ".entry", ".story"], 2),
    ("section_content", ["section", ".section", ".block", ".widget"], 3),
    ("paragraph_content", ["p", ".paragraph", ".text"], 4),
    ("div_content", ["div[class*='content']", "div[class*='text']",
                     "div[class*='body']"], 5),
]

_METADATA_RULES = {
    "title": (["h1", ".title", ".headline", "[class*='title']", "title"], "text"),
    "author": ([".author", "[class*='author']", "[data-author]", "[rel='author']",
                "meta[name='author']"], "text"),
    "date": ([".date", ".published", ".timestamp", "time", "[data-date]",
              "meta[property='article:published_time']"], "datetime"),
    "category": ([".category", ".tag", ".topic", "[class*='category']",
                  "[class*='tag']"], "text"),
}

_REMOVE_CLASS_PATTERNS = [
    "ad", "advertisement", "banner", "sponsor", "promo", "sidebar",
    "navigation", "menu", "footer", "header",
]
_REMOVE_ID_PATTERNS = [
    "ad", "advertisement", "banner", "sponsor", "promo", "sidebar",
    "navigation", "menu",
]


def _rule_cleaning_selectors(opts: ExtractOptions) -> List[str]:
    sels = ["script", "style", "noscript"]
    if not opts.enable_hidden_content_handling:
        sels.extend(["iframe", "object", "embed", "applet"])
    sels.extend(["nav", "footer", "header", ".advertisement", ".ad", ".banner",
                 ".sponsor", ".promo", ".sidebar", ".navigation", ".menu"])
    return sels


_REMOVE_CLASS_RX = [re.compile(p, re.IGNORECASE) for p in _REMOVE_CLASS_PATTERNS]
_REMOVE_ID_RX = [re.compile(p, re.IGNORECASE) for p in _REMOVE_ID_PATTERNS]


def _rule_clean(root: dom.Node, opts: ExtractOptions) -> None:
    """All removal conditions (selectors + class/id regexes) are attribute-
    only, so the reference's sequential sweeps collapse into one traversal
    with an identical final tree."""
    selector_matches = root.select_multi(_rule_cleaning_selectors(opts))
    to_remove = [el for m in selector_matches for el in m]
    for el in root.iter_elements():
        raw_cls = el.attrs.get("class")
        if raw_cls is not None:
            tokens = raw_cls.split()
            if any(
                any(rx.search(t) for t in tokens) or rx.search(raw_cls)
                for rx in _REMOVE_CLASS_RX
            ):
                to_remove.append(el)
                continue
        raw_id = el.attrs.get("id")
        if raw_id is not None and any(rx.search(raw_id) for rx in _REMOVE_ID_RX):
            to_remove.append(el)
    for el in to_remove:
        el.decompose()
    # The reference's comment sweep (rule_based_strategy.py:346-347) never
    # matches (bs4 Comment strings don't include the ``<!--`` markers) — no-op.


def extract_rule_based(
    url: str,
    user_query: Optional[str],
    html: str,
    opts: ExtractOptions,
    root: Optional[dom.Node] = None,
) -> Dict[str, Any]:
    if root is None:
        root = dom.parse(html)
    _rule_clean(root, opts)

    # Built-in rules + user-defined custom rules (custom_extractor.py
    # add_rule), applied in priority order — stable sort keeps the
    # reference's insertion-order tie-break (rule_based_strategy.py:356-359).
    content_rules = sorted(
        list(_CONTENT_RULES)
        + [(n, list(sels), prio) for n, sels, prio in opts.custom_rules],
        key=lambda r: r[2],
    )

    # Pre-evaluate every rule's selectors in one traversal (no mutation
    # happens during rule application, so the sequential-with-early-stop
    # semantics are unchanged — later rules' matches are simply unused).
    flat_selectors = [s for _n, sels, _p in content_rules for s in sels]
    flat_matches = root.select_multi(flat_selectors)
    rule_matches: List[List[dom.Node]] = []
    pos = 0
    for _n, sels, _p in content_rules:
        merged: List[dom.Node] = []
        for _ in sels:
            merged.extend(flat_matches[pos])
            pos += 1
        rule_matches.append(merged)

    extracted_parts: List[str] = []
    applied_rules = 0
    applied_rule_names: List[str] = []
    for (_name, _sels, _prio), els in zip(content_rules, rule_matches):
        content_parts: List[str] = []
        for el in els:
            t = el.get_text(separator=" ", strip=True)
            if t and len(t) > 50:
                content_parts.append(t)
        rule_content = "\n\n".join(content_parts)
        if rule_content:
            extracted_parts.append(rule_content)
            applied_rules += 1
            applied_rule_names.append(_name)
            if len(" ".join(extracted_parts)) > opts.min_content_length:
                break

    if opts.content_selectors:
        custom_parts: List[str] = []
        for selector in opts.content_selectors:
            try:
                for el in root.select(selector):
                    t = el.get_text(separator=" ", strip=True)
                    if t and len(t) > 50:
                        custom_parts.append(t)
            except Exception:
                continue
        custom = "\n\n".join(custom_parts)
        if custom:
            extracted_parts.append(custom)

    content = textops.clean_text("\n\n".join(extracted_parts))

    # Metadata rules over the cleaned tree (rule_based_strategy.py:444-515).
    metadata = _empty_metadata()
    fields = _metadata_fields(root)
    if fields["title"]:
        metadata["title"] = fields["title"]
    if fields["author"]:
        metadata["author"] = fields["author"]
    if fields["date"]:
        metadata["publish_date"] = _parse_date(fields["date"])
    if fields["category"]:
        metadata["categories"].append(fields["category"])
    html_el = root.find("html")
    if html_el is not None:
        metadata["language"] = html_el.attrs.get("lang", "")
    stats_text = root.get_text()
    metadata["word_count"] = len(stats_text.split())
    metadata["character_count"] = len(stats_text)
    metadata["reading_time_minutes"] = metadata["word_count"] / 200

    confidence = 0.5
    if len(content) > 1000:
        confidence += 0.2
    elif len(content) > 500:
        confidence += 0.1
    meta_score = 0.0
    if metadata["title"]:
        meta_score += 0.1
    if metadata["author"]:
        meta_score += 0.1
    if metadata["publish_date"]:
        meta_score += 0.1
    if metadata["language"]:
        meta_score += 0.05
    confidence += meta_score
    # Stateless-kernel deviation: success rate over this page's rules only
    # (denominator includes custom rules, rule_based_strategy.py:540-541).
    confidence += (applied_rules / len(content_rules)) * 0.1
    confidence = min(1.0, confidence)

    return {
        "content": content,
        "metadata": metadata,
        "structured_data": _empty_structured(),
        "confidence_score": confidence,
        "relevance_score": confidence,
        "completeness_score": min(len(content) / 1000, 1.0),
        "accuracy_score": confidence,
        "success": True,
        # A5 rule-performance lineage (rule_based_strategy.py:550-574):
        # which rules contributed, in application order — aggregated
        # downstream by groupBy('rule') instead of per-process counters.
        "applied_rules": applied_rule_names,
    }


def _metadata_fields(root: dom.Node) -> Dict[str, Optional[str]]:
    """All metadata rules in one traversal; per-field first-non-empty wins
    in selector order (rule_based_strategy.py:489-515)."""
    names = list(_METADATA_RULES)
    flat = [s for n in names for s in _METADATA_RULES[n][0]]
    matches = root.select_multi(flat)
    out: Dict[str, Optional[str]] = {}
    pos = 0
    for n in names:
        selectors, attribute = _METADATA_RULES[n]
        value: Optional[str] = None
        for _ in selectors:
            if value is None:
                for el in matches[pos]:
                    v = (
                        el.get_text(strip=True)
                        if attribute == "text"
                        else el.attrs.get(attribute, "")
                    )
                    if v:
                        value = v
                        break
            pos += 1
        out[n] = value
    return out


# --------------------------------------------------------------------------
# Hybrid strategy
# --------------------------------------------------------------------------


def extract_hybrid(
    url: str,
    user_query: Optional[str],
    html: str,
    opts: ExtractOptions,
    root: Optional[dom.Node] = None,
) -> Dict[str, Any]:
    # One raw parse serves both the content analysis and the structured
    # sub-strategy (analysis only reads; structured mutates afterwards).
    analysis_root = root if root is not None else dom.parse(html)
    counts = {
        "tables": len(analysis_root.find_all("table")),
        "lists": len(analysis_root.find_all(["ul", "ol"])),
        "forms": len(analysis_root.find_all("form")),
        "links": len(analysis_root.find_all("a")),
        "images": len(analysis_root.find_all("img")),
        "videos": len(analysis_root.find_all(["video", "iframe"])),
    }
    text_content = analysis_root.get_text()
    total_elements = len(analysis_root.find_all())
    text_ratio = min(1.0, len(text_content) / max(total_elements, 1))

    if counts["tables"] > 2:
        content_type = "data_heavy"
    elif counts["forms"] > 0:
        content_type = "interactive"
    elif text_ratio > 0.7:
        content_type = "text_heavy"
    elif counts["lists"] > 3:
        content_type = "list_heavy"
    else:
        content_type = "mixed"

    # The deterministic path always takes the "hybrid" approach: the analysis
    # dict pre-seeds recommended_approach (hybrid_strategy.py:156, 249-250).
    sem = extract_semantic(url, user_query, html, opts)
    st = extract_structured(url, user_query, html, opts, root=analysis_root)

    sc, tc = sem["content"], st["content"]
    if content_type == "text_heavy":
        content = sc if (sc and len(sc) > len(tc)) else tc
    elif content_type == "data_heavy":
        content = tc if (tc and len(tc) > len(sc)) else sc
    else:
        parts = [p for p in (sc, tc) if p]
        content = "\n\n--- Structured Data ---\n\n".join(parts)

    confidence = sem["confidence_score"] * 0.6 + st["confidence_score"] * 0.4
    relevance = sem["relevance_score"] * 0.6 + st["relevance_score"] * 0.4
    completeness = max(sem["completeness_score"], st["completeness_score"])
    accuracy = max(sem["accuracy_score"], st["accuracy_score"])

    sm, tm = sem["metadata"], st["metadata"]
    metadata = _empty_metadata()
    for key in ("title", "author", "publish_date", "last_modified", "language",
                "content_type"):
        metadata[key] = sm[key] or tm[key]
    # Deviation (documented): sorted() instead of nondeterministic set order.
    metadata["tags"] = sorted(set(sm["tags"] + tm["tags"]))
    metadata["categories"] = sorted(set(sm["categories"] + tm["categories"]))
    metadata["word_count"] = max(sm["word_count"], tm["word_count"])
    metadata["character_count"] = max(sm["character_count"], tm["character_count"])
    metadata["reading_time_minutes"] = max(
        sm["reading_time_minutes"], tm["reading_time_minutes"]
    )

    return {
        "content": content,
        "metadata": metadata,
        "structured_data": st["structured_data"],
        "confidence_score": confidence,
        "relevance_score": relevance,
        "completeness_score": completeness,
        "accuracy_score": accuracy,
        "success": True,
    }


# --------------------------------------------------------------------------
# Adaptive strategy (deterministic raw-content fallback)
# --------------------------------------------------------------------------


def extract_adaptive(
    url: str,
    user_query: Optional[str],
    html: str,
    opts: ExtractOptions,
    root: Optional[dom.Node] = None,
) -> Dict[str, Any]:
    if root is None:
        root = dom.parse(html)

    title_el = root.find("title")
    title = title_el.get_text().strip() if title_el is not None else ""

    headings = [
        f"{h.name.upper()}: {h.get_text()}"
        for h in root.find_all(["h1", "h2", "h3", "h4", "h5", "h6"])
    ]

    body = root.find("body")
    body_text = dom.inner_text(body) if body is not None else ""
    all_texts = []
    for el in root.iter_elements():
        t = el.get_text().strip()
        if t:
            all_texts.append(t)
    combined = _WS_RE.sub(" ", " ".join([body_text] + all_texts)).strip()

    link_lines = []
    for a in root.select("a[href]")[:50]:
        href = a.attrs.get("href", "")
        resolved = urljoin(url, href) if href else url
        link_lines.append(f"- {a.get_text()}: {resolved}")

    full_content = f"""
PAGE METADATA:
Title: {title}
URL: {url}

HEADINGS STRUCTURE:
{chr(10).join(headings)}

FULL TEXT CONTENT:
{combined}

LINKS FOUND:
{chr(10).join(link_lines)}
"""

    metadata = _empty_metadata()
    metadata["word_count"] = len(full_content.split())
    metadata["character_count"] = len(full_content)

    return {
        "content": full_content,
        "metadata": metadata,
        "structured_data": _empty_structured(),
        "confidence_score": 0.95,
        "relevance_score": 1.0,
        "completeness_score": 1.0,
        "accuracy_score": 0.95,
        "success": True,
    }


# --------------------------------------------------------------------------
# Out-links (frontier feed) — utils/web_utils.py:70-108
# --------------------------------------------------------------------------


def extract_out_links(html: str, base_url: str, root: Optional[dom.Node] = None) -> List[str]:
    if root is None:
        root = dom.parse(html)
    links: List[str] = []
    for a in root.find_all("a"):
        href = a.attrs.get("href")
        if href is None:
            continue
        resolved = urlkit.resolve_href(href, base_url)
        if resolved is not None:
            links.append(resolved)
    return links


# --------------------------------------------------------------------------
# Top-level fused kernel (strategy dispatch + final metrics pass)
# --------------------------------------------------------------------------

_STRATEGIES = {
    "semantic": extract_semantic,
    "structured": extract_structured,
    "rule_based": extract_rule_based,
    "hybrid": extract_hybrid,
    "adaptive": extract_adaptive,
}

_STRATEGY_NAMES = {
    "semantic": "SemanticExtractionStrategy",
    "structured": "StructuredExtractionStrategy",
    "rule_based": "RuleBasedExtractionStrategy",
    "hybrid": "HybridExtractionStrategy",
    "adaptive": "AdaptiveExtractionStrategy",
}


def extract_page(
    url: str,
    html: str,
    user_query: Optional[str] = None,
    mode: Optional[str] = None,
    opts: ExtractOptions = DEFAULT_OPTIONS,
) -> Dict[str, Any]:
    """Full per-page extraction: strategy dispatch (ADAPTIVE unless forced,
    core/extractor.py:318-342), strategy kernel, final metrics pass
    (core/extractor.py:360-375), and frontier out-link extraction."""
    effective_mode = mode if mode in _STRATEGIES else "adaptive"
    # One shared raw parse: out-links are collected BEFORE any strategy
    # mutates the tree (structured/rule_based decompose nodes); semantic
    # still parses its own regex-cleaned HTML string (different input).
    raw_root = dom.parse(html or "")
    out_links = extract_out_links(html or "", url, root=raw_root)
    try:
        if effective_mode == "semantic":
            res = extract_semantic(url, user_query, html or "", opts)
        else:
            res = _STRATEGIES[effective_mode](
                url, user_query, html or "", opts, root=raw_root
            )
        error_message = None
    except Exception as exc:  # parity: strategies catch-all → error result
        res = {
            "content": "",
            "metadata": _empty_metadata(),
            "structured_data": _empty_structured(),
            "confidence_score": 0.0,
            "relevance_score": 0.0,
            "completeness_score": 0.0,
            "accuracy_score": 0.0,
            "success": False,
        }
        error_message = str(exc)

    content = res["content"]
    metadata = res["metadata"]
    # Final metrics pass (core/extractor.py:360-375).
    if content:
        metadata["word_count"] = len(content.split())
        metadata["character_count"] = len(content)
        metadata["reading_time_minutes"] = metadata["word_count"] / 200
        res["completeness_score"] = min(len(content) / 1000, 1.0)
        res["accuracy_score"] = res["confidence_score"]

    return {
        "url": url,
        "mode": effective_mode,
        "strategy_name": _STRATEGY_NAMES[effective_mode],
        "success": res["success"],
        "error_message": error_message,
        "content": content,
        "metadata": metadata,
        "structured_data": res["structured_data"],
        "confidence_score": res["confidence_score"],
        "relevance_score": res["relevance_score"],
        "completeness_score": res["completeness_score"],
        "accuracy_score": res["accuracy_score"],
        "applied_rules": res.get("applied_rules", []),
        "out_links": out_links,
    }
