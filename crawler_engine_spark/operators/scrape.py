"""S7 — page metadata scrape operator (meta tags, ld+json, page stats)."""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..kernels.scrape import scrape_page_metadata
from .extraction import decode_html

SCRAPE_SCHEMA = (
    "url string, title string, meta_tags map<string,string>, "
    "ld_json array<string>, char_count int, word_count int, "
    "link_count int, image_count int, script_count int"
)


def scrape_metadata(pages: DataFrame) -> DataFrame:
    """Narrow mapInPandas over (url, html) — no shuffle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for url, html in zip(pdf["url"], pdf["html"]):
                rec = scrape_page_metadata(decode_html(html))
                rec["url"] = url
                out.append(rec)
            yield pd.DataFrame(out)

    return pages.select("url", "html").mapInPandas(run, schema=SCRAPE_SCHEMA)
