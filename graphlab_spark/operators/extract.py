"""Stage C2 — trafilatura-style HTML→text extraction, byte-identical per url.

Reference parity: the ``paper_process`` job stage (status machine
``backend/app/models/research_paper.py:26``); the extraction itself is
specified by ``BASELINE.json`` ``north_star`` ("trafilatura-style
HTML-to-text extraction ... byte-identical per-url extracted text").

Spark-first: a scalar pandas UDF — Arrow batches in/out, pure-Python
deterministic core (regex pipeline, ``html.unescape``), no wall-clock,
no randomness. At 100 TB this stage is embarrassingly parallel; the only
knob is ``spark.sql.execution.arrow.maxRecordsPerBatch`` (HTML payloads
are large — keep batches ~10k rows to bound Arrow buffer size).

Per-url dedup (C13) keeps the LATEST ``warc_ts`` row per url via a
window top-1 — mirroring the reference's unique crawl keys
(``backend/app/models/research_paper.py:13-14``).
"""

from __future__ import annotations

import html as _html
import re

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Deterministic extraction pipeline — every normalization choice pinned
# (see SURVEY.md §7 "hard parts (a)").
_RE_SCRIPT = re.compile(rb"(?is)<script\b.*?</script\s*>")
_RE_STYLE = re.compile(rb"(?is)<style\b.*?</style\s*>")
_RE_COMMENT = re.compile(rb"(?s)<!--.*?-->")
_RE_BLOCK = re.compile(
    rb"(?i)</?(?:p|div|br|h[1-6]|li|ul|ol|tr|table|nav|footer|header|"
    rb"section|article|blockquote|pre|title|head|body|html)\b[^>]*>"
)
_RE_TAG = re.compile(rb"<[^>]+>")
# _RE_SPACES skips lone spaces (replacing one with itself is a no-op);
# _RE_BLANKS starts with a literal "\n\n", which the engine scans for
# directly instead of trying a repeat at every position.
_RE_SPACES = re.compile(r"[\t\r\f\v][ \t\r\f\v]*| [ \t\r\f\v]+")
_RE_BLANKS = re.compile(r"\n\n+")


def extract_text_bytes(html_bytes: bytes | None) -> str | None:
    """Deterministic HTML→text. Byte-identical output for identical input."""
    if html_bytes is None:
        return None
    b = _RE_SCRIPT.sub(b"", html_bytes)
    b = _RE_STYLE.sub(b"", b)
    b = _RE_COMMENT.sub(b"", b)
    b = _RE_BLOCK.sub(b"\n", b)
    b = _RE_TAG.sub(b" ", b)
    s = b.decode("utf-8", errors="replace")
    s = _html.unescape(s)
    s = _RE_SPACES.sub(" ", s)
    lines = [ln.strip() for ln in s.split("\n")]
    s = "\n".join(lines)
    s = _RE_BLANKS.sub("\n", s).strip()
    return s


@F.pandas_udf(T.StringType())
def extract_text_udf(html_col: pd.Series) -> pd.Series:
    return html_col.map(extract_text_bytes)


def dedup_pages(
    pages: DataFrame, strategy: str = "slim", canonical: bool = False
) -> DataFrame:
    """C13: keep latest warc_ts per url.

    ``slim`` (default): aggregate max(warc_ts) over the two slim columns
    only, then semi-join back. The join strategy is deliberately LEFT TO
    AQE: while the winners frame fits the broadcast threshold it becomes
    a broadcast join (heavy ``html`` never shuffles); past it — 10^9 urls
    is a driver OOM if broadcast were forced — AQE plans a shuffle join
    with skew splitting. Requires warc_ts unique per url (true for crawl
    data); on ties both rows survive.

    ``canonical=True``: key the dedup on the CANONICAL url
    (operators.urlnorm — case, default ports, fragments, tracking params)
    instead of the raw string, so ``http://A/?utm=x`` and ``http://A/``
    collapse to one page. Pure column expression — same plan shape.

    ``window``: classic window top-1 — shuffles the full row. At true
    10^12-doc scale the right answer is neither — bucket the Iceberg
    table by url at write time so dedup is shuffle-free partition-local.
    """
    key = "url"
    if canonical:
        from graphlab_spark.operators.urlnorm import canonical_url_col

        pages = pages.withColumn("_curl", canonical_url_col("url"))
        key = "_curl"
    if strategy == "slim":
        winners = pages.select(key, "warc_ts").groupBy(key).agg(
            F.max("warc_ts").alias("warc_ts")
        )
        out = pages.join(winners, [key, "warc_ts"], "left_semi")
        return out.drop("_curl") if canonical else out
    if canonical:
        w = Window.partitionBy("_curl").orderBy(
            F.col("warc_ts").desc(), F.col("lang").asc()
        )
        return (
            pages.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_curl")
        )
    w = Window.partitionBy("url").orderBy(F.col("warc_ts").desc(), F.col("lang").asc())
    return (
        pages.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def extract_stage(pages: DataFrame) -> DataFrame:
    """dedup per url → recompute text from html (ignores any stale text col)."""
    deduped = dedup_pages(pages)
    return deduped.withColumn("text", extract_text_udf(F.col("html")))
