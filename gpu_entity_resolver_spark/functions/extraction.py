"""HTML → text extraction as an Arrow-vectorized pandas UDF.

Per-row invariant (BASELINE.json ``input_hint``): extraction is a pure,
deterministic function of the html bytes — byte-identical output per url
across runs and parallelism levels. The reference has no web-payload stage
(its analog is the libpostal address parse round-trip, resolver.py:205-219);
this is the web-corpus counterpart mandated by the north rule.

The extractor is deliberately dependency-free (no bs4/lxml in this
environment): strip script/style blocks, drop tags, decode the five
standard entities, collapse whitespace. All regex work happens on a whole
pandas Series per Arrow batch — no per-row Python loops.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

_ENTITY_MAP = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),  # must come last so &amp;lt; decodes to &lt;
]


def extract_text_series(html_bytes: pd.Series) -> pd.Series:
    """Pure extraction over a Series of html byte strings."""
    s = html_bytes.map(lambda b: b.decode("utf-8", "replace") if b is not None else "", na_action=None)
    s = s.astype("string").fillna("")
    s = s.str.replace(r"(?is)<(script|style)\b[^>]*>.*?</\1>", " ", regex=True)
    s = s.str.replace(r"(?s)<!--.*?-->", " ", regex=True)
    s = s.str.replace(r"(?s)<[^>]*>", " ", regex=True)
    for ent, ch in _ENTITY_MAP:
        s = s.str.replace(ent, ch, regex=False)
    s = s.str.replace(r"\s+", " ", regex=True).str.strip()
    return s.astype(object)


# DataType instance (not DDL string): keeps the module importable without an
# active SparkSession (DDL strings are parsed through the JVM at decoration).
@pandas_udf(StringType())
def extract_text_udf(html: pd.Series, text: pd.Series) -> pd.Series:
    """The extraction of ``html`` where it is non-null, else ``text``
    (null as ""). :func:`extracted_text` nulls the html of rows whose
    stored text it keeps, so this one test picks the branch."""
    return extract_text_series(html).where(html.notna(), text.fillna(""))


def extracted_text(html_col: Column, text_col: Column) -> Column:
    """Prefer the stored ground-truth extraction when present (non-null,
    non-empty); otherwise extract the html. The choice is made inside the
    UDF rather than by a CASE around it: a CASE between this UDF and a UDF
    that reads it (the normalizer) keeps Spark from chaining the two, and
    each unchained UDF starts its own Python runner per partition
    (TUNING.md, "Python worker floor"). html is nulled where the stored
    text is kept, so the Arrow transfer carries no unneeded bodies."""
    need = text_col.isNull() | (text_col == "")
    return extract_text_udf(F.when(need, html_col), text_col)
