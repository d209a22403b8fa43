"""URL operators — Spark-native column expressions (the scale path) plus
one Arrow-vectorized UDF, href resolution, which has no column form.

The column expressions compile to JVM-side whole-stage codegen (no Python in
the hot path); a property test asserts they agree with the pure-Python
kernels in ``kernels/urls.py`` (which define reference parity,
utils/web_utils.py:16-45 & 260-278).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..kernels import urls as urlkit

# --------------------------------------------------------------------------
# JVM-side column expressions (whole-stage codegen; use these in pipelines)
# --------------------------------------------------------------------------


def sanitized_url_col(url: Column) -> Column:
    """sanitize_url as a pure column expression: trim, default https scheme,
    lowercase the authority, keep path/params/query/fragment."""
    s = F.trim(url)
    s = F.when(s == "", F.lit("")).otherwise(
        F.when(s.rlike("^https?://"), s).otherwise(F.concat(F.lit("https://"), s))
    )
    netloc = F.regexp_extract(s, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    scheme = F.lower(F.regexp_extract(s, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rest = F.regexp_extract(s, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$", 1)
    return F.when(s == "", F.lit("")).otherwise(
        F.concat(scheme, F.lit("://"), F.lower(netloc), rest)
    )


def normalized_url_col(url: Column) -> Column:
    """normalize_url as a column expression: keep scheme+netloc+path, drop
    the last path segment's ``;params``, query, and fragment."""
    base = F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*[^?#]*)", 1)
    # urlparse treats ';' in the LAST path segment as params — normalize_url
    # drops them (web_utils.py:270-278 passes '' for params).
    return F.regexp_replace(base, r";[^/]*$", "")


def canonical_url_col(url: Column) -> Column:
    """The frontier key: sanitize ∘ normalize, all JVM-side."""
    return normalized_url_col(sanitized_url_col(url))


def url_hash_col(canonical_url: Column) -> Column:
    """64-bit frontier key hash (Spark built-in xxhash64)."""
    return F.xxhash64(canonical_url)


def host_col(canonical_url: Column) -> Column:
    """Lowercased host without userinfo/port — the politeness key."""
    netloc = F.regexp_extract(canonical_url, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    no_user = F.regexp_replace(netloc, r"^.*@", "")
    return F.lower(F.regexp_replace(no_user, r":.*$", ""))


def path_col(canonical_url: Column) -> Column:
    """URL path ('' when absent) — robots prefix matching input."""
    return F.regexp_extract(canonical_url, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)


def is_valid_url_col(url: Column) -> Column:
    """is_valid_url (web_utils.py:243-257): scheme and netloc both present."""
    return url.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+")


# --------------------------------------------------------------------------
# Arrow-vectorized UDF (odd href shapes the column fast path skips)
# --------------------------------------------------------------------------


@pandas_udf(T.StringType())
def resolve_href_udf(hrefs: pd.Series, bases: pd.Series) -> pd.Series:
    """kernels.urls.resolve_href (skip js/mailto/tel, stdlib urljoin —
    reference parity with utils/web_utils.py:70-108) over Arrow batches.
    Python is justified: RFC 3986 dot-segment resolution has no JVM
    column equivalent; callers keep absolute/root-relative hrefs on a
    pure-JVM fast path and route only the rest here."""
    return pd.Series(
        [
            urlkit.resolve_href(h, b) if h is not None else None
            for h, b in zip(hrefs, bases)
        ],
        dtype=object,
    )
