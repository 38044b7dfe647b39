"""Stage C3 — mention detection (gazetteer + capitalized-span fallback).

Reference parity: analysis_type ``entity_extraction`` with JSON result +
confidence (``backend/app/models/paper_analysis.py:15-21``). The reference
declares this stage but ships no NLP code; semantics here follow
``BASELINE.json`` ``north_star`` ("SpanBERT/scispaCy-style mention
detection" → a deterministic gazetteer/rule stand-in).

Spark-first: one pandas UDF returning ``array<struct>`` + ``F.explode``.
The alias dictionary is the hot broadcast side (north_star C11): shipped
to executors once via ``SparkContext.broadcast``, looked up as an O(1)
hash map per token n-gram. Candidate tokens come from one compiled scan
for the alias keys' distinct leading words (a trie-shaped alternation,
far fewer than the names themselves), not from a Python loop over every
token.
"""

from __future__ import annotations

import re
import string
from bisect import bisect_right
from functools import lru_cache
from itertools import islice
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MENTION_STRUCT = T.StructType(
    [
        T.StructField("surface", T.StringType(), False),
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
        T.StructField("m_type", T.StringType(), False),
        T.StructField("conf", T.DoubleType(), False),
    ]
)

_RUN_CHARS = r"[\w.&'-]"
_TOKEN_RE = re.compile(r"[A-Za-z]" + _RUN_CHARS + "*")
# one-word matches are always dropped, so require a second word
_CAP_SPAN_RE = re.compile(r"\b[A-Z][a-z]+(?: [A-Z][a-zA-Z.]*)+")
_MAX_NGRAM = 3

# Sentence-initial capitalized function/common words are not name parts:
# "During Acme Systems ..." must yield "Acme Systems", not a three-token
# junk surface. Keeps the UNK vocabulary (and every vocabulary-sized
# stage downstream) bounded.
_COMMON_WORDS = frozenset(
    """the a an and or of to in on for with while during across over under
    this that these those it its his her their our your my was were is are
    be been has have had do does did not no yes but so if then than as at
    by from into onto after before between among against about
    market report shows steady growth regional sectors analysts expect
    further updates infrastructure supply chains quarterly revenue figures
    coming fiscal review period profit loss""".split()
)


def _norm_key(s: str) -> str:
    """Lookup key: lowercase; strip a trailing '.' unless it's an initial."""
    s = s.lower()
    if s.endswith(".") and len(s.split(" ")[-1]) > 2:
        s = s[:-1]
    return s


def _trim_span(text: str, start: int, end: int) -> int:
    """Trim trailing sentence dots: keep exactly one dot after an initial
    ("Borealis S.." → "Borealis S."), none after a full word
    ("Signal Loom." → "Signal Loom")."""
    e = end
    while e > start and text[e - 1] == ".":
        e -= 1
    word = text[start:e].split(" ")[-1] if e > start else ""
    if len(word) == 1 and e < end:
        e += 1  # it's an initial — keep one dot
    return e


_LEAD_W_RE = re.compile(r"\w+")


def _lead_word(s: str) -> str:
    """Leading maximal word-character run of ``s`` lowered ('' if none).
    General form — used at gate-BUILD time on alias keys, which may
    contain arbitrary punctuation."""
    m = _LEAD_W_RE.match(s.lower())
    return m.group(0) if m else ""


def _lead_word_token(s: str) -> str:
    """`_lead_word` fast path for the scan hot loop (once per token).
    Valid ONLY for ``_TOKEN_RE`` matches: their charset is
    ``[A-Za-z][\\w.&'-]*``, so the only possible non-``\\w`` characters
    are ``.&'-`` — a token containing none of them IS its own leading
    word-run (~2x gate speedup on heavy pages; equivalence vs
    ``_lead_word`` asserted in test_mentions.py)."""
    s = s.lower()
    if "." in s or "&" in s or "'" in s or "-" in s:
        m = _LEAD_W_RE.match(s)
        return m.group(0) if m else ""
    return s


def _first_token_gate(alias_map: dict[str, tuple[str, str]]) -> frozenset[str]:
    """Leading word-runs of every alias key — an O(1) prescreen.

    Superset proof: a candidate n-gram key is ``lower(text[tok_start:…])``
    and the token regex guarantees (a) the slice starts with the token's
    characters and (b) the character after the token's end is non-word —
    so the key's leading ``\\w+`` run equals the token's leading ``\\w+``
    run exactly (``_norm_key`` only lowercases and strips a trailing dot,
    which cannot touch the leading run). Gating the token's leading run
    against the alias keys' leading runs therefore never drops a possible
    match — including aliases with punctuation inside their first word
    ('j. smith', 'acme, inc'), which a naive first-WORD gate would lose.
    """
    return frozenset(_lead_word(k.split(" ")[0]) for k in alias_map)


def _gate_trie(words: list[str]) -> str:
    """Trie-shaped alternation of ``words``: a prefix shared by several
    words is matched once, not once per word. Both Greek small sigmas
    match either form: ``text.lower()`` picks final vs medial sigma from
    the WHOLE text's context, a token's ``lower()`` from the token's
    alone."""
    trie: dict = {}
    for w in words:
        node = trie
        for ch in w.replace("\u03c2", "\u03c3"):
            node = node.setdefault(ch, {})
        node[""] = {}

    def emit(node: dict) -> str:
        alts = [
            ("[\u03c3\u03c2]" if ch == "\u03c3" else re.escape(ch)) + emit(child)
            for ch, child in sorted(node.items())
            if ch
        ]
        if not alts:
            return ""
        body = alts[0] if len(alts) == 1 else "(?:" + "|".join(alts) + ")"
        return f"(?:{body})?" if "" in node else body

    return emit(trie)


@lru_cache(maxsize=8)
def _gate_regex(gate: frozenset[str]) -> re.Pattern:
    """One compiled scan per alias map (cached per worker process):
    ``(?<![a-z])(?=TRIE(?!\\w))`` over ``text.lower()`` hits every offset
    where a gate word starts after a non-ASCII-letter and ends before a
    non-word character. Gate words not starting with ``[a-z]`` can never
    lead a token and are left out; with no word left, nothing matches."""
    words = sorted(w for w in gate if "a" <= w[:1] <= "z")
    if not words:
        return re.compile(r"(?!)")
    return re.compile(r"(?<![a-z])(?=" + _gate_trie(words) + r"(?!\w))")


_RUN_CHAR_RE = re.compile(_RUN_CHARS)
_ASCII_LETTERS = frozenset(string.ascii_letters)


def _is_token_start(text: str, p: int) -> bool:
    """True iff ``text[p]`` is the first ASCII letter of its maximal
    ``[\\w.&'-]`` run — exactly where a ``_TOKEN_RE.finditer`` match
    begins (a match runs from that letter to the end of the run)."""
    if text[p] not in _ASCII_LETTERS:
        return False
    j = p - 1
    while j >= 0 and _RUN_CHAR_RE.match(text, j):
        if text[j] in _ASCII_LETTERS:
            return False
        j -= 1
    return True


def _ngram_hit(
    text: str, toks: list[tuple[int, int]], alias_map: dict[str, tuple[str, str]]
) -> tuple[dict, int] | None:
    """Longest alias match over the n-grams of ``toks`` (the token at the
    candidate and up to two followers): (mention, tokens consumed)."""
    start = toks[0][0]
    for n in range(len(toks), 0, -1):
        end = toks[n - 1][1]
        key = _norm_key(text[start:end])
        if key in alias_map:
            _cid, typ = alias_map[key]
            e = _trim_span(text, start, end)
            return {
                "surface": text[start:e], "start": start, "end": e, "m_type": typ, "conf": 0.9
            }, n
    return None


def _gazetteer_scan_tokens(
    text: str, alias_map: dict[str, tuple[str, str]], gate: frozenset[str]
) -> list[dict]:
    """Reference gazetteer scan: tokenize the whole text, gate every token
    in Python. Kept as the fallback for texts where the gate regex's
    offset argument does not hold (see :func:`find_mentions`)."""
    out: list[dict] = []
    toks = [(m.group(0), m.start(), m.end()) for m in _TOKEN_RE.finditer(text)]
    i = 0
    while i < len(toks):
        if _lead_word_token(toks[i][0]) not in gate:
            i += 1
            continue
        found = _ngram_hit(
            text, [(s, e) for _, s, e in toks[i : i + _MAX_NGRAM]], alias_map
        )
        if found:
            out.append(found[0])
            i += found[1]
        else:
            i += 1
    return out


def _gazetteer_scan_gate(
    text: str,
    lowered: str,
    alias_map: dict[str, tuple[str, str]],
    gate: frozenset[str],
    gate_re: re.Pattern,
) -> list[dict]:
    """Same hits as :func:`_gazetteer_scan_tokens`, reading only the
    tokens at gate-regex hits. A hit inside an earlier mention is skipped
    — the reference scan resumes at the token after a mention."""
    out: list[dict] = []
    resume = 0
    for m in gate_re.finditer(lowered):
        p = m.start()
        if p < resume or not _is_token_start(text, p):
            continue
        toks = [
            (t.start(), t.end())
            for t in islice(_TOKEN_RE.finditer(text, p), _MAX_NGRAM)
        ]
        if _lead_word_token(text[p : toks[0][1]]) not in gate:
            continue
        found = _ngram_hit(text, toks, alias_map)
        if found:
            out.append(found[0])
            resume = toks[found[1] - 1][1]
    return out


def _capitalized_spans(text: str, hits: list[dict]) -> list[dict]:
    """Capitalized multi-word spans not overlapping any gazetteer hit,
    leading common words trimmed (type UNK)."""
    # hits are sorted and disjoint, so their ends are strictly increasing
    starts = [h["start"] for h in hits]
    ends = [h["end"] for h in hits]
    out: list[dict] = []
    for m in _CAP_SPAN_RE.finditer(text):
        s, e = m.start(), m.end()
        k = bisect_right(ends, s)  # first hit ending after s
        if k < len(starts) and starts[k] < e:
            continue
        # trim leading capitalized function/common words (sentence starts)
        words = m.group(0).split(" ")
        while words and words[0].lower() in _COMMON_WORDS:
            s += len(words[0]) + 1
            words = words[1:]
        if len(words) >= 2:  # single capitalized words are too noisy
            e2 = _trim_span(text, s, e)
            out.append(
                {"surface": text[s:e2], "start": s, "end": e2, "m_type": "UNK", "conf": 0.5}
            )
    return out


def find_mentions(
    text: str | None,
    alias_map: dict[str, tuple[str, str]],
    gate: frozenset[str] | None = None,
) -> list[dict]:
    """Longest-match gazetteer scan over token n-grams, then capitalized
    spans in uncovered regions (type UNK — candidates for fuzzy linking).

    ``gate``: pass ``_first_token_gate(alias_map)`` computed once per
    batch (the UDFs do); recomputed per call when omitted.

    Gazetteer candidates come from ONE compiled scan of ``text.lower()``
    (:func:`_gate_regex`), not from tokenizing and gating every token in
    Python. Each regex hit is re-checked exactly — it must start a
    ``_TOKEN_RE`` token whose ``_lead_word_token`` is in ``gate`` — so
    the regex only has to be a superset of the real candidates. It is one
    when offsets in ``text.lower()`` are offsets in ``text`` and no
    non-ASCII character lowercases into ``[a-z]`` or a non-word character
    into a word character: then a token's lowered leading word sits at the
    token's own offset in ``text.lower()``, preceded by a non-``[a-z]``
    character and followed by a non-word one. Over all of Unicode that
    holds unless a character lowercases to several (``len`` changes, e.g.
    U+0130) or the text contains KELVIN SIGN U+212A (lowercases to
    ``k``); only final vs medial sigma depends on context, and the gate
    regex accepts either (tests/test_mentions.py checks every code point).
    Texts failing the precondition take the reference token scan.
    """
    if not text:
        return []
    if gate is None:
        gate = _first_token_gate(alias_map)
    lowered = text.lower()
    if len(lowered) != len(text) or "\u212a" in text:
        hits = _gazetteer_scan_tokens(text, alias_map, gate)
    else:
        hits = _gazetteer_scan_gate(text, lowered, alias_map, gate, _gate_regex(gate))
    out = hits + _capitalized_spans(text, hits)
    out.sort(key=lambda d: (d["start"], d["end"]))
    return out


def mentions_stage(
    spark: SparkSession, docs: DataFrame, alias_map: dict[str, tuple[str, str]]
) -> DataFrame:
    """docs(url, text, ...) → mentions(url, surface, start, end, m_type, conf).

    ``alias_map``: norm_key(alias) -> (canonical_id, entity_type); broadcast.
    The pipeline runs the fused ``parse.parse_stage``; this unfused stage
    is its test oracle.
    """
    bc = spark.sparkContext.broadcast(alias_map)

    @F.pandas_udf(T.ArrayType(MENTION_STRUCT))
    def detect(texts: pd.Series) -> pd.Series:
        amap = bc.value
        gate = _first_token_gate(amap)  # once per Arrow batch
        return texts.map(lambda t: find_mentions(t, amap, gate))

    return (
        docs.select("url", F.explode(detect(F.col("text"))).alias("m"))
        .select(
            "url",
            F.col("m.surface").alias("surface"),
            F.col("m.start").alias("start"),
            F.col("m.end").alias("end"),
            F.col("m.m_type").alias("m_type"),
            F.col("m.conf").alias("conf"),
        )
    )


def build_alias_map(alias_rows: Iterator[dict]) -> dict[str, tuple[str, str]]:
    """alias rows → lookup map (driver-side; dict is small/hot by design)."""
    return {_norm_key(r["alias"]): (r["canonical_id"], r["entity_type"]) for r in alias_rows}
