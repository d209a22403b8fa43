"""The vectorized extraction operator: ``mapInPandas`` over the fused kernel.

Input: a pages DataFrame with at least ``(url string, html binary-or-string)``
and optional ``query`` / ``mode`` columns.  Output: one wide typed row per
page (text, metadata struct fields flattened, typed structured-data arrays,
metrics, out-links) — schema fixed at plan time so Catalyst can prune columns.

Scale notes:
* Arrow-batched (``spark.sql.execution.arrow.maxRecordsPerBatch`` sized for
  large HTML blobs in session.py) — no per-row Python.
* The operator is a narrow transformation: no shuffle is introduced; the
  upstream partitioning (frontier hash partitioning) is preserved.
"""

from __future__ import annotations

from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..kernels.extract import DEFAULT_OPTIONS, ExtractOptions, extract_page

_CLS = T.ArrayType(T.StringType())

TABLE_TYPE = T.StructType(
    [
        T.StructField("headers", T.ArrayType(T.StringType())),
        T.StructField("rows", T.ArrayType(T.ArrayType(T.StringType()))),
        T.StructField("row_count", T.IntegerType()),
        T.StructField("column_count", T.IntegerType()),
        T.StructField("caption", T.StringType()),
    ]
)
LIST_TYPE = T.StructType(
    [
        T.StructField("type", T.StringType()),
        T.StructField("items", T.ArrayType(T.StringType())),
        T.StructField("item_count", T.IntegerType()),
        T.StructField("id", T.StringType()),
        T.StructField("class", _CLS),
    ]
)
OPTION_TYPE = T.StructType(
    [
        T.StructField("value", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("selected", T.BooleanType()),
    ]
)
FIELD_TYPE = T.StructType(
    [
        T.StructField("type", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("id", T.StringType()),
        T.StructField("placeholder", T.StringType()),
        T.StructField("required", T.BooleanType()),
        T.StructField("value", T.StringType()),
        T.StructField("options", T.ArrayType(OPTION_TYPE)),
    ]
)
FORM_TYPE = T.StructType(
    [
        T.StructField("action", T.StringType()),
        T.StructField("method", T.StringType()),
        T.StructField("id", T.StringType()),
        T.StructField("class", _CLS),
        T.StructField("fields", T.ArrayType(FIELD_TYPE)),
    ]
)
LINK_TYPE = T.StructType(
    [
        T.StructField("href", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("target", T.StringType()),
        T.StructField("rel", T.ArrayType(T.StringType())),
        T.StructField("id", T.StringType()),
        T.StructField("class", _CLS),
    ]
)
IMAGE_TYPE = T.StructType(
    [
        T.StructField("src", T.StringType()),
        T.StructField("alt", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("width", T.StringType()),
        T.StructField("height", T.StringType()),
        T.StructField("id", T.StringType()),
        T.StructField("class", _CLS),
    ]
)
VIDEO_TYPE = T.StructType(
    [
        T.StructField("type", T.StringType()),
        T.StructField("src", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("width", T.StringType()),
        T.StructField("height", T.StringType()),
        T.StructField("id", T.StringType()),
        T.StructField("class", _CLS),
    ]
)

EXTRACTION_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("mode", T.StringType()),
        T.StructField("strategy_name", T.StringType()),
        T.StructField("success", T.BooleanType()),
        T.StructField("error_message", T.StringType()),
        T.StructField("content", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("author", T.StringType()),
        T.StructField("publish_date", T.StringType()),
        T.StructField("language", T.StringType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("word_count", T.IntegerType()),
        T.StructField("character_count", T.IntegerType()),
        T.StructField("reading_time_minutes", T.DoubleType()),
        T.StructField("tags", T.ArrayType(T.StringType())),
        T.StructField("categories", T.ArrayType(T.StringType())),
        T.StructField("confidence_score", T.DoubleType()),
        T.StructField("relevance_score", T.DoubleType()),
        T.StructField("completeness_score", T.DoubleType()),
        T.StructField("accuracy_score", T.DoubleType()),
        T.StructField("tables", T.ArrayType(TABLE_TYPE)),
        T.StructField("lists", T.ArrayType(LIST_TYPE)),
        T.StructField("forms", T.ArrayType(FORM_TYPE)),
        T.StructField("links", T.ArrayType(LINK_TYPE)),
        T.StructField("images", T.ArrayType(IMAGE_TYPE)),
        T.StructField("videos", T.ArrayType(VIDEO_TYPE)),
        T.StructField("out_links", T.ArrayType(T.StringType())),
        # names of rule-based content rules that contributed (A5 lineage;
        # empty for other strategies)
        T.StructField("applied_rules", T.ArrayType(T.StringType())),
    ]
)

_OUT_COLUMNS = [f.name for f in EXTRACTION_SCHEMA.fields]


def _row_to_flat(rec: dict) -> dict:
    md = rec["metadata"]
    sd = rec["structured_data"]
    return {
        "url": rec["url"],
        "mode": rec["mode"],
        "strategy_name": rec["strategy_name"],
        "success": rec["success"],
        "error_message": rec["error_message"],
        "content": rec["content"],
        "title": md["title"],
        "author": md["author"],
        "publish_date": md["publish_date"],
        "language": md["language"],
        "content_type": md["content_type"],
        "word_count": md["word_count"],
        "character_count": md["character_count"],
        "reading_time_minutes": md["reading_time_minutes"],
        "tags": md["tags"],
        "categories": md["categories"],
        "confidence_score": rec["confidence_score"],
        "relevance_score": rec["relevance_score"],
        "completeness_score": rec["completeness_score"],
        "accuracy_score": rec["accuracy_score"],
        "tables": [tuple(t.values()) for t in sd["tables"]],
        "lists": [tuple(l.values()) for l in sd["lists"]],
        "forms": [
            (
                f["action"], f["method"], f["id"], f["class"],
                [
                    (
                        fd["type"], fd["name"], fd["id"], fd["placeholder"],
                        fd["required"], fd["value"],
                        [tuple(o.values()) for o in fd["options"]],
                    )
                    for fd in f["fields"]
                ],
            )
            for f in sd["forms"]
        ],
        "links": [tuple(l.values()) for l in sd["links"]],
        "images": [tuple(i.values()) for i in sd["images"]],
        "videos": [tuple(v.values()) for v in sd["videos"]],
        "out_links": rec["out_links"],
        "applied_rules": rec.get("applied_rules", []),
    }


def decode_html(value) -> str:
    """Page text of a stored ``html`` value (bytes are decoded as UTF-8,
    undecodable bytes replaced; None is the empty page)."""
    if value is None:
        return ""
    if isinstance(value, (bytes, bytearray)):
        return bytes(value).decode("utf-8", errors="replace")
    return str(value)


def extract_pages(
    pages: DataFrame,
    mode: Optional[str] = None,
    query: Optional[str] = None,
    opts: ExtractOptions = DEFAULT_OPTIONS,
    passthrough: Optional[list] = None,
) -> DataFrame:
    """Run the extraction kernel over a pages DataFrame.

    ``mode``/``query`` act as defaults; per-row ``mode`` / ``query`` columns
    (if present) take precedence — this realizes the reference's per-URL query
    zip (core/extractor.py:265-287).

    ``passthrough`` names input columns to echo unchanged into the output
    (appended after the extraction columns).  This lets callers keep lineage
    columns (fetch_seq, depth, ...) WITHOUT a post-kernel re-join — at scale
    that join is a full shuffle of the results table.
    """
    cols = set(pages.columns)
    has_mode, has_query = "mode" in cols, "query" in cols
    passthrough = list(passthrough or [])
    in_schema = {f.name: f for f in pages.schema.fields}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            modes = pdf["mode"] if has_mode else None
            queries = pdf["query"] if has_query else None
            for i in range(len(pdf)):
                row_mode = modes.iloc[i] if modes is not None else None
                row_query = queries.iloc[i] if queries is not None else None
                rec = extract_page(
                    url=pdf["url"].iloc[i],
                    html=decode_html(pdf["html"].iloc[i]),
                    user_query=row_query if row_query is not None else query,
                    mode=row_mode if row_mode is not None else mode,
                    opts=opts,
                )
                out.append(_row_to_flat(rec))
            res = pd.DataFrame(out, columns=_OUT_COLUMNS)
            for c in passthrough:
                res[c] = pdf[c].values
            yield res

    out_schema = T.StructType(
        list(EXTRACTION_SCHEMA.fields) + [in_schema[c] for c in passthrough]
    )
    needed = (
        ["url", "html"]
        + (["mode"] if has_mode else [])
        + (["query"] if has_query else [])
        + passthrough
    )
    needed = list(dict.fromkeys(needed))  # dedupe, keep order
    return pages.select(*needed).mapInPandas(run, schema=out_schema)
