"""In-process references the Spark outputs are checked against.

The functions at module level run in a ``spawn`` worker pool (they are
pickled by import path), so each takes and returns plain data.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from typing import Dict, List, Sequence, Tuple

from crawler_engine_spark.data import gen
from crawler_engine_spark.frontier import simulator
from crawler_engine_spark.kernels.extract import extract_out_links, extract_page
from crawler_engine_spark.operators.extraction import _OUT_COLUMNS, _row_to_flat

import world


def norm(value):
    """Spark rows, tuples and lists → nested tuples, so a collected output
    row and the kernel's flattened record compare with ``==``."""
    if isinstance(value, (list, tuple)):  # pyspark Row is a tuple
        return tuple(norm(v) for v in value)
    return value


def out_links(urls: Sequence[str]) -> Dict[str, List[str]]:
    """Out-links of world pages exactly as the simulator derives them from
    the stored bytes."""
    res = {}
    for url in urls:
        html = gen.html_of(world.doc_of(url), world.WORLD_DOCS).encode("utf-8")
        res[url] = extract_out_links(html.decode("utf-8", errors="replace"), url)
    return res


def reference_rows(items: Sequence[Tuple[str, int, bool]]) -> List[tuple]:
    """(url, normalized output row) of the kernel on each page's true HTML."""
    out = []
    for url, doc, charset in items:
        flat = _row_to_flat(extract_page(url, world.true_html(doc, charset)))
        out.append((url, tuple(norm(flat[c]) for c in _OUT_COLUMNS)))
    return out


_CONTROL_HTML = (
    '<html lang="en"><head><title>T</title></head><body><article><p>'
    + "word salad spark join merge " * 30
    + '</p></article><ul><li>alpha</li><li>src</li></ul>'
    + '<a href="/d/1">next</a>' * 3
    + "</body></html>"
)


def control_work(n_pages: int) -> float:
    """Kernel busy loop for the frequency-ceiling control; returns seconds."""
    t0 = time.perf_counter()
    for i in range(n_pages):
        extract_page(f"https://h.example/{i}", _CONTROL_HTML, None, "structured")
    return time.perf_counter() - t0


class WorldPages:
    """``simulate_crawl``'s page mapping over the generated world.

    ``get`` answers presence without rendering the page; the simulator's
    out-link extraction is served by :func:`prefilled_out_links`."""

    def get(self, url: str, default=None):
        return b"" if world.doc_of(url) >= 0 else default


@contextmanager
def prefilled_out_links(links: Dict[str, List[str]]):
    """Serve the simulator's out-link calls from ``links`` (computed by
    :func:`out_links` in the pool); any other URL is computed in place."""
    real = simulator.extract_out_links

    def lookup(_html: str, base_url: str) -> List[str]:
        if base_url not in links:
            links.update(out_links([base_url]))
        return links[base_url]

    simulator.extract_out_links = lookup
    try:
        yield
    finally:
        simulator.extract_out_links = real
