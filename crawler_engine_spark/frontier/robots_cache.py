"""Robots cache builder: raw robots.txt page store → broadcastable rules
table (host, disallow_prefixes, crawl_delay_s).

At crawl scale the robots bodies are fetched like any other page (they live
in the page store under ``https://<host>/robots.txt``); this operator parses
them vectorized and the resulting table broadcasts into every round's gate
join (frontier/politeness.py::apply_robots).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..kernels.robots import parse_robots_txt
from ..operators import urlops
from ..operators.extraction import decode_html

ROBOTS_SCHEMA = "host string, disallow_prefixes array<string>, crawl_delay_s double"


def build_robots_table(
    pages: DataFrame,
    agent: str = "crawler-engine-spark",
    default_crawl_delay: float = 0.5,
) -> DataFrame:
    """Extract and parse all ``/robots.txt`` pages from a page store."""
    robots_pages = pages.where(F.col("url").endswith("/robots.txt")).select(
        urlops.host_col(F.col("url")).alias("host"), "html"
    )

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for host, html in zip(pdf["host"], pdf["html"]):
                rec = parse_robots_txt(
                    decode_html(html), agent, default_crawl_delay
                )
                rows.append(
                    {
                        "host": host,
                        "disallow_prefixes": rec["disallow_prefixes"],
                        "crawl_delay_s": rec["crawl_delay_s"],
                    }
                )
            yield pd.DataFrame(rows, columns=["host", "disallow_prefixes", "crawl_delay_s"])

    return robots_pages.mapInPandas(parse, schema=ROBOTS_SCHEMA)
