"""Input generation: the page store, crawl seeds and WARC archives.

Everything here is the load generator's cost, not the engine's: the engine
only ever sees the pages, seeds and robots table built here.  The page world
itself (``gen.html_of`` over ``WORLD_DOCS`` doc ids) does not depend on the
workload seed; the seed picks the crawl seed URLs and which doc ids go into
the archives.
"""

from __future__ import annotations

import hashlib
import os
import random
import re
import shutil
from typing import Dict, List, Sequence, Set, Tuple
from urllib.parse import urlparse

from crawler_engine_spark.data import gen
from crawler_engine_spark.sources.warc import build_warc

#: docs in the synthetic web every workload draws from
WORLD_DOCS = 20000

#: Share of extract_warc pages stored as windows-1252 bytes with a declared
#: charset.  W3Techs-style surveys put non-UTF-8 pages at roughly 1-2% of
#: the public web; 2% of the archive (48 of 2400 pages on 4 cores) is small
#: enough not to change the throughput mix and large enough that the count
#: of affected pages never rounds to zero at one core.
CHARSET_SHARE = 0.02
CHARSET_META = '<meta charset="windows-1252">'
CHARSET_MIME = "text/html; charset=windows-1252"

ROBOTS_SCHEMA = "host string, disallow_prefixes array<string>, crawl_delay_s double"
SEEDS_SCHEMA = "url string, seed_rank int, query string"

_DOC_RE = re.compile(r"/doc(\d+)$")


def doc_of(url: str) -> int:
    """Doc id of a world URL, or -1 when the URL is not in the world."""
    m = _DOC_RE.search(url)
    if not m:
        return -1
    doc = int(m.group(1))
    return doc if doc < WORLD_DOCS and gen.url_of(doc) == url else -1


def page_store(spark, cache_root: str) -> str:
    """Path of the parquet page store, generated once per source tree.

    The store is keyed by the generator's source hash, so a checkout whose
    ``gen.py`` differs never reuses another's pages."""
    with open(gen.__file__, "rb") as f:
        key = hashlib.sha256(f.read()).hexdigest()[:16]
    path = os.path.join(cache_root, f"pages-{WORLD_DOCS}-{key}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    tmp = path + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    cores = spark.sparkContext.defaultParallelism
    gen.gen_pages_df(spark, WORLD_DOCS, partitions=cores).write.parquet(tmp)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path


def _blocked(url: str, rules: Dict[str, List[str]]) -> bool:
    p = urlparse(url)
    return any(p.path.startswith(x) for x in rules.get(p.hostname or "", []))


def _links(doc: int) -> Set[str]:
    """Canonical out-link URLs of a world page, mirroring the anchor styles
    of ``gen._link_markup``: a relative link resolves against the linking
    page's own host, and every page carries two navigation links."""
    host = gen.url_of(doc).split("/")[2]
    targets = gen.out_link_ids(doc, WORLD_DOCS)
    out = {f"https://{host}/home", f"https://{host}/about"}
    for pos, t in enumerate(targets):
        style = gen._h(doc, f"lstyle:{pos}") % 5
        if style == 1:
            out.add(f"https://{host}/" + "/".join(gen.url_of(t).rsplit("/", 2)[-2:]))
        else:
            out.add(gen.url_of(targets[0] if style == 4 else t))
    return out


def _crawl_size(ids: Sequence[int], rounds: int, round_seconds: float) -> int:
    """URLs a crawl from ``ids`` fetches in ``rounds`` rounds, from the link
    graph and per-host round budgets alone (no HTML parsing).  Exact while
    only the last round is budget-limited."""
    rules = {r["host"]: r["disallow_prefixes"] for r in gen.gen_robots()}
    budget = {r["host"]: max(1, int(round_seconds / r["crawl_delay_s"]))
              for r in gen.gen_robots()}
    frontier = {gen.url_of(d) for d in ids}
    seen: Set[str] = set()
    total = 0
    for _ in range(rounds):
        by_host: Dict[str, List[str]] = {}
        for u in sorted(frontier):
            if _blocked(u, rules):
                seen.add(u)
            else:
                by_host.setdefault(u.split("/")[2], []).append(u)
        fetched = [u for h, us in by_host.items() for u in us[: budget.get(h, 1)]]
        total += len(fetched)
        seen.update(fetched)
        frontier = {u for us in by_host.values() for u in us} - set(fetched)
        for u in fetched:
            doc = doc_of(u)
            if doc >= 0:
                frontier |= {v for v in _links(doc) if v not in seen}
    return total


def pick_seeds(seed: int, n_seeds: int, rounds: int, round_seconds: float,
               draws: int = 41) -> List[dict]:
    """``n_seeds`` world URLs chosen by ``seed``, plus one URL absent from
    the store (the fetch-miss path), in ``gen.gen_seeds``' row shape.

    Of ``draws`` random seed sets the one of median crawl size is kept, so
    the work per run varies little from seed to seed while the URLs do."""
    rng = random.Random(seed)
    sets = [rng.sample(range(WORLD_DOCS), n_seeds) for _ in range(draws)]
    ranked = sorted(sets, key=lambda ids: _crawl_size(ids, rounds, round_seconds))
    ids = ranked[len(ranked) // 2]
    rows = [{"url": gen.url_of(d), "seed_rank": i, "query": None}
            for i, d in enumerate(ids)]
    rows.append({"url": f"https://host0.example/news/doc{WORLD_DOCS + 999}",
                 "seed_rank": len(ids), "query": None})
    return rows


# --------------------------------------------------------------------------
# archive pages (extract_warc)
# --------------------------------------------------------------------------


def true_html(doc: int, charset: bool) -> str:
    """The page's HTML as its author wrote it, before any byte encoding."""
    html = gen.html_of(doc, WORLD_DOCS)
    if charset:
        html = html.replace("<head>", "<head>" + CHARSET_META, 1)
    return html


def page_bytes(doc: int, charset: bool) -> bytes:
    return true_html(doc, charset).encode("cp1252" if charset else "utf-8")


def _cp1252_ok(doc: int) -> bool:
    try:
        true_html(doc, True).encode("cp1252")
    except UnicodeEncodeError:
        return False
    return True


def pick_archive_docs(seed: int, n_pages: int) -> Tuple[List[int], Set[int]]:
    """(doc ids, the subset stored as windows-1252) for ``n_pages`` pages."""
    rng = random.Random(seed)
    docs = sorted(rng.sample(range(WORLD_DOCS), n_pages))
    n_charset = max(1, round(CHARSET_SHARE * n_pages))
    charset: Set[int] = set()
    for d in rng.sample(docs, n_pages):
        if len(charset) == n_charset:
            break
        if _cp1252_ok(d):
            charset.add(d)
    return docs, charset


def build_archive(pages: Sequence[Tuple[int, bool]]) -> bytes:
    """Member-gzipped WARC of (doc, stored-as-windows-1252) pages; the
    windows-1252 ones declare their charset in the HTTP header too."""
    ts = gen.BASE_TS.strftime("%Y-%m-%dT%H:%M:%SZ")
    records = []
    for doc, charset in pages:
        mime = CHARSET_MIME if charset else "text/html; charset=utf-8"
        records.append((gen.url_of(doc), ts, page_bytes(doc, charset), 200, mime))
    return build_warc(records, gzip_members=True)
