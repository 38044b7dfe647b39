"""C2 extraction: determinism + byte-identity vs the frozen golden fixture."""

from __future__ import annotations

import re
from unittest import mock

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from graphlab_spark.operators import extract
from graphlab_spark.operators.extract import extract_text_bytes
from graphlab_spark.sources import corpus


def test_extract_deterministic():
    html = corpus.page_record(7)["html"]
    assert extract_text_bytes(html) == extract_text_bytes(bytes(html))


def test_extract_strips_script_style_comments():
    html = (
        b"<html><head><script>bad()</script><style>p{}</style></head>"
        b"<body><!-- hidden --><p>Hello &amp; goodbye.</p></body></html>"
    )
    text = extract_text_bytes(html)
    assert "bad()" not in text
    assert "p{}" not in text
    assert "hidden" not in text
    assert "Hello & goodbye." in text


def test_extract_inline_tags_and_whitespace():
    html = b"<p>Acme <b>Systems</b>   acquired\t<i>Borealis</i> Labs.</p>"
    assert extract_text_bytes(html) == "Acme Systems acquired Borealis Labs."


def test_extract_empty_and_none():
    assert extract_text_bytes(None) is None
    assert extract_text_bytes(b"") == ""
    assert extract_text_bytes(b"<p></p>") == ""


def test_byte_identity_vs_golden(repo_root):
    golden = pd.read_parquet(f"{repo_root}/fixtures/golden_text.parquet")
    latest: dict[str, int] = {}
    for i in range(300):
        rec = corpus.page_record(i)
        if latest.get(rec["url"], -1) < i:
            latest[rec["url"]] = i
    live = {url: extract_text_bytes(corpus.page_record(i)["html"]) for url, i in latest.items()}
    assert len(live) == len(golden)
    for row in golden.itertuples():
        assert live[row.url].encode("utf-8") == row.text.encode("utf-8"), row.url


# ---------------------- whitespace regexes == the plain run-collapsing form

_OLD_SPACES = re.compile(r"[ \t\r\f\v]+")
_OLD_BLANKS = re.compile(r"\n{2,}")
_WS_PIECES = [" ", "\t", "\r", "\f", "\v", "\n", "\xa0", "&nbsp;", "a", "Acme", "."]
_HTML_PIECES = _WS_PIECES + [
    "<p>", "</P>", "<DiV class=x>", "<pre x>", "</pre >", "<h7>", "<H1>",
    "<b>", "</b>", "<Br/>", "<script>s</script>", "<!-- c -->", "&amp;",
]


@settings(max_examples=1000, deadline=None)
@given(st.lists(st.sampled_from(_WS_PIECES), max_size=30).map("".join))
def test_whitespace_regexes_equal_plain_form(s):
    assert extract._RE_SPACES.sub(" ", s) == _OLD_SPACES.sub(" ", s)
    assert extract._RE_BLANKS.sub("\n", s) == _OLD_BLANKS.sub("\n", s)


@settings(max_examples=1000, deadline=None)
@given(st.lists(st.sampled_from(_HTML_PIECES), max_size=30).map("".join))
def test_extract_equals_plain_whitespace_form(html):
    b = html.encode("utf-8")
    with mock.patch.object(extract, "_RE_SPACES", _OLD_SPACES), mock.patch.object(
        extract, "_RE_BLANKS", _OLD_BLANKS
    ):
        want = extract_text_bytes(b)
    assert extract_text_bytes(b) == want
