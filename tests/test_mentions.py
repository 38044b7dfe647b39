"""C3 mention detection: gazetteer n-gram matching, span trimming, fallback."""

from __future__ import annotations

import re
import sys

from hypothesis import given, settings
from hypothesis import strategies as st

from graphlab_spark.operators.extract import extract_text_bytes
from graphlab_spark.operators.mentions import (
    _COMMON_WORDS,
    _first_token_gate,
    _gazetteer_scan_tokens,
    _norm_key,
    _trim_span,
    build_alias_map,
    find_mentions,
)
from graphlab_spark.sources import corpus


def _amap():
    return build_alias_map(corpus.alias_rows())


def test_gazetteer_hit_with_type():
    ms = find_mentions("Yesterday Acme Systems acquired a rival.", _amap())
    assert any(m["surface"] == "Acme Systems" and m["m_type"] == "ORG" for m in ms)


def test_trailing_dot_trimming():
    ms = find_mentions("Krypton Robotics develops Signal Loom.", _amap())
    surfaces = {m["surface"] for m in ms}
    assert "Signal Loom" in surfaces  # sentence dot trimmed
    ms2 = find_mentions("It was sold to Borealis S..", _amap())
    assert any(m["surface"] == "Borealis S." for m in ms2)  # initial keeps one dot


def test_abbreviation_alias_matches():
    ms = find_mentions("Alice A. works at Acme S. these days.", _amap())
    types = {m["surface"]: m["m_type"] for m in ms}
    assert types.get("Acme S.") == "ORG"
    assert types.get("Alice A.") == "PERSON"


def test_unknown_capitalized_span_flagged_unk():
    ms = find_mentions("Zorblat Dynamics announced a merger.", _amap())
    assert any(m["m_type"] == "UNK" and m["surface"] == "Zorblat Dynamics" for m in ms)


def test_norm_key():
    assert _norm_key("Acme Systems.") == "acme systems"
    assert _norm_key("Acme S.") == "acme s."
    assert _norm_key("OSLO") == "oslo"


def test_offsets_point_at_surface():
    text = "He said Acme Systems grew."
    for m in find_mentions(text, _amap()):
        assert text[m["start"] : m["end"]] == m["surface"]


def test_lead_word_token_fast_path_equivalent():
    """The hot-loop fast path must agree with the general regex form on
    every possible _TOKEN_RE token (charset [A-Za-z][\\w.&'-]*)."""
    import re

    from graphlab_spark.operators.mentions import (
        _TOKEN_RE,
        _lead_word,
        _lead_word_token,
    )

    samples = [
        "Acme", "U.S.", "O'Neill", "Jean-Luc", "AT&T", "Inc.", "x", "A.",
        "rock-'n'-roll", "A&B.C-d'e", "Word2Vec", "e.g", "Mr.", "CO-OP",
    ]
    for s in samples:
        m = _TOKEN_RE.match(s)
        assert m is not None and m.group(0) == s, s  # sample is a valid token
        assert _lead_word_token(s) == _lead_word(s), s
    # and across a realistic text
    text = "Dr. O'Brien of AT&T met Jean-Luc at the U.S. CO-OP's H.Q. today."
    for m in _TOKEN_RE.finditer(text):
        assert _lead_word_token(m.group(0)) == _lead_word(m.group(0)), m.group(0)


# ------------------------------- gate-regex scan == reference token scan

_OLD_CAP_SPAN_RE = re.compile(r"\b[A-Z][a-z]+(?: [A-Z][a-zA-Z.]*)*")


def _reference_find_mentions(text, alias_map, gate):
    """The per-token scan everywhere, plus the capitalized-span pass as
    it was written before the gate regex (one-word matches, linear
    overlap test) — the oracle for the fast path."""
    if not text:
        return []
    out = _gazetteer_scan_tokens(text, alias_map, gate)
    covered = [(h["start"], h["end"]) for h in out]
    for m in _OLD_CAP_SPAN_RE.finditer(text):
        s, e = m.start(), m.end()
        if any(s < ce and e > cs for cs, ce in covered):
            continue
        words = m.group(0).split(" ")
        while words and words[0].lower() in _COMMON_WORDS:
            s += len(words[0]) + 1
            words = words[1:]
        if len(words) >= 2:
            e2 = _trim_span(text, s, e)
            out.append(
                {"surface": text[s:e2], "start": s, "end": e2, "m_type": "UNK", "conf": 0.5}
            )
    out.sort(key=lambda d: (d["start"], d["end"]))
    return out


def test_gate_scan_equals_reference_on_corpus_pages():
    amap = _amap()
    gate = _first_token_gate(amap)
    n_hits = 0
    for i in range(2000):
        for heavy in (False, True):
            text = extract_text_bytes(corpus.page_record(i, heavy=heavy)["html"])
            got = find_mentions(text, amap, gate)
            assert got == _reference_find_mentions(text, amap, gate), (i, heavy)
            n_hits += len(got)
    assert n_hits > 10_000  # the pages really exercise both passes


# Aliases beyond the corpus: punctuation inside the first word, leading
# digits/underscores (can never lead a token), Greek sigma in both
# forms, a non-ASCII tail, and a 'k' reachable through KELVIN SIGN.
_FUZZ_ALIASES = [
    "acme&co", "1acme", "_acme", "x1acme", "aσ", "aς", "aσb", "café corp",
    "kelvin labs", "acme s.", "acme", "systems acme",
]
_FUZZ_PIECES = [
    "İ", "K", "ſ", "Σ", "σ", "ς", "é", "1acme", "_Acme", "x1Acme",
    "Acme&Co", "Acme S..", "During Acme Systems", "Acme", "acme", "AΣ",
    "Kelvin", "Labs", "Café", "Corp", "Systems", "B", "a", "x", " ", ".",
    "-", "'", "&", ":", "\n", "  ",
]


_FUZZ_MAP = _amap()
for _a in _FUZZ_ALIASES:
    _FUZZ_MAP.setdefault(_norm_key(_a), ("fuzz:" + _a, "ORG"))
_FUZZ_GATE = _first_token_gate(_FUZZ_MAP)


@settings(max_examples=3000, deadline=None)
@given(st.lists(st.sampled_from(_FUZZ_PIECES), max_size=24).map("".join))
def test_gate_scan_equals_reference_property(text):
    got = find_mentions(text, _FUZZ_MAP, _FUZZ_GATE)
    assert got == _reference_find_mentions(text, _FUZZ_MAP, _FUZZ_GATE)


def test_gate_scan_handles_context_sigma():
    """``text.lower()`` writes a medial sigma where the token's own
    ``lower()`` writes a final one (':' is case-ignorable, 'B' cased)."""
    text = "AΣ:B"
    assert text.lower()[1] == "σ" and "AΣ".lower()[1] == "ς"
    ms = find_mentions(text, _FUZZ_MAP, _FUZZ_GATE)
    assert ms == _reference_find_mentions(text, _FUZZ_MAP, _FUZZ_GATE)
    assert [m["surface"] for m in ms] == ["AΣ"]


def test_gate_scan_without_a_usable_gate_word():
    """No alias key leads with a letter: the gate regex matches nothing
    and only capitalized spans remain, as in the token scan."""
    text = "Yesterday Acme Systems met Zorblat Dynamics."
    for amap in ({}, {"1acme": ("org:x", "ORG")}):
        gate = _first_token_gate(amap)
        ms = find_mentions(text, amap, gate)
        assert ms == _reference_find_mentions(text, amap, gate)
        assert {m["m_type"] for m in ms} == {"UNK"}


def test_gate_scan_resumes_after_a_mention():
    """'Systems' leads the alias 'systems acme' but sits inside the
    mention 'Acme Systems': like the token scan, the gate scan skips it."""
    text = "Acme Systems Acme grew."
    ms = find_mentions(text, _FUZZ_MAP, _FUZZ_GATE)
    assert ms == _reference_find_mentions(text, _FUZZ_MAP, _FUZZ_GATE)
    assert [m["surface"] for m in ms if m["m_type"] != "UNK"] == ["Acme Systems", "Acme"]


def test_gate_regex_offset_precondition_holds_for_every_code_point():
    """The gate regex runs over ``text.lower()`` at ``text``'s offsets.
    ``find_mentions`` falls back to the token scan when ``len`` changes
    under ``lower()`` or the text holds U+212A; over all of Unicode these
    are the only ways a token start or end could look different there:
    - no non-word character lowercases to anything containing a word
      character (the gate's ``(?!\\w)`` still sees a token end);
    - U+212A is the only non-ASCII-letter character that lowercases to
      one character in ``[a-z]`` (the gate's ``(?<![a-z])`` still sees a
      token start);
    - lowercasing is per character except for capital sigma, whose final
      and medial forms the gate regex both accepts.
    """
    word = re.compile(r"\w")
    ascii_letters = set("ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz")
    into_az = []
    for cp in range(sys.maxunicode + 1):
        c = chr(cp)
        low = c.lower()
        if not word.match(c):
            assert not word.search(low), hex(cp)
        if len(low) == 1 and c not in ascii_letters and "a" <= low <= "z":
            into_az.append(cp)
        if c != "Σ":
            assert ("a" + c + "a").lower() == "a" + low + "a", hex(cp)
    assert into_az == [0x212A]
