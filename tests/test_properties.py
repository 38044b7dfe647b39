"""Property-based tests (hypothesis) over the PURE kernels — the
functions every Spark stage delegates to. No SparkSession: these run in
milliseconds and pin invariants examples can miss."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from graphlab_spark.functions.embed import char_ngrams, embed_surface
from graphlab_spark.functions.slug import slugify
from graphlab_spark.operators.canonicalize import _driver_union_find
from graphlab_spark.operators.extract import extract_text_bytes
from graphlab_spark.operators.mentions import _norm_key

TEXT = st.text(max_size=200)


@given(TEXT)
@settings(max_examples=300, deadline=None)
def test_slugify_idempotent_and_charset(s):
    out = slugify(s)
    assert slugify(out) == out  # idempotent
    assert all(c.islower() or c.isdigit() or c in "-_" for c in out)
    assert not out.startswith("-") and not out.endswith("-")


@given(TEXT)
@settings(max_examples=300, deadline=None)
def test_norm_key_idempotent_and_lower(s):
    out = _norm_key(s)
    assert _norm_key(out) == out
    assert out == out.lower()


@given(st.binary(max_size=2000))
@settings(max_examples=200, deadline=None)
def test_extract_deterministic_and_tag_free(b):
    a = extract_text_bytes(b)
    assert a == extract_text_bytes(b)  # deterministic
    # block/script/style/comment structure never leaks through
    assert "<script" not in a.lower() and "<style" not in a.lower()
    assert "  " not in a  # horizontal whitespace collapsed
    assert "\n\n" not in a  # blank runs collapsed


@given(st.text(min_size=1, max_size=50))
@settings(max_examples=200, deadline=None)
def test_embedding_unit_norm_and_deterministic(s):
    import numpy as np

    v = embed_surface(s)
    assert v.shape == (64,)
    n = float(np.linalg.norm(v))
    assert n == 0.0 or abs(n - 1.0) < 1e-5
    assert (embed_surface(s) == v).all()
    assert len(char_ngrams(s)) >= 1


@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)), max_size=60
    )
)
@settings(max_examples=200, deadline=None)
def test_union_find_canonical_is_component_min(pairs):
    edges = [(f"n{a}", f"n{b}") for a, b in pairs if a != b]
    mapping = dict(_driver_union_find(edges))
    # root is a fixpoint and equals the min of its member set
    members: dict[str, list[str]] = {}
    for node, root in mapping.items():
        members.setdefault(root, []).append(node)
    for root, nodes in members.items():
        assert mapping[root] == root
        assert root == min(nodes + [root])
    # connectivity: every edge's endpoints share a root
    for a, b in edges:
        assert mapping[a] == mapping[b]


@given(TEXT)
@settings(max_examples=300, deadline=None)
def test_find_mentions_spans_are_valid_and_ordered(s):
    """Every mention's span indexes real text, surface == text[start:end],
    and output is sorted by (start, end) — over arbitrary text."""
    from graphlab_spark.operators.mentions import build_alias_map, find_mentions

    amap = build_alias_map(
        iter(
            [
                {"alias": "Acme Systems", "canonical_id": "org:acme", "entity_type": "ORG"},
                {"alias": "J. Smith", "canonical_id": "per:smith", "entity_type": "PER"},
            ]
        )
    )
    out = find_mentions(s, amap)
    prev = (-1, -1)
    for m in out:
        assert 0 <= m["start"] < m["end"] <= len(s)
        assert m["surface"] == s[m["start"]:m["end"]]
        assert m["m_type"] in ("ORG", "PER", "UNK")
        assert (m["start"], m["end"]) >= prev
        prev = (m["start"], m["end"])


@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(lambda p: p[0] != p[1]),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=200, deadline=None)
def test_pagerank_driver_invariants(pairs):
    """Ranks are positive and sum to 1 (dangling mass fully
    redistributed) for arbitrary directed graphs."""
    import numpy as np

    from graphlab_spark.operators.graph_query import _power_kernel

    ids = sorted({v for pair in pairs for v in pair})
    pos = {v: i for i, v in enumerate(ids)}
    src = np.array([pos[a] for a, _ in pairs])
    dst = np.array([pos[b] for _, b in pairs])
    p = 1.0 / np.bincount(src, minlength=len(ids))[src]
    tp = np.full(len(ids), 1.0 / len(ids))
    ranks, _ = _power_kernel(src, dst, p, tp, tp, damping=0.85, n_iter=20)
    assert all(r > 0 for r in ranks)
    assert abs(ranks.sum() - 1.0) < 1e-9


@given(st.integers(0, 2**16 - 1), st.integers(0, 2**16 - 1))
@settings(max_examples=200, deadline=None)
def test_zorder_interleave_roundtrips(a, b):
    """De-interleaving the Morton key recovers both coordinates exactly
    — every bit lands at its documented position and nowhere else."""
    z = 0
    for i in range(16):
        z |= ((a >> i) & 1) << (2 * i)
        z |= ((b >> i) & 1) << (2 * i + 1)
    ra = sum(((z >> (2 * i)) & 1) << i for i in range(16))
    rb = sum(((z >> (2 * i + 1)) & 1) << i for i in range(16))
    assert (ra, rb) == (a, b)
    assert 0 <= z < 2**32


@given(st.text(max_size=200))
@settings(max_examples=150, deadline=None)
def test_bpe_ids_length_equals_count(s):
    """encode_ids length == count_tokens for ANY text, and every id is
    inside the documented id space [0, 256 + n_merges]."""
    from graphlab_spark.functions.bpe import (
        count_tokens,
        encode_ids,
        merged_ids,
        train_merges,
    )

    merges = train_merges(["low low lower newest"], n_merges=6)
    ranks = {m: i for i, m in enumerate(merges)}
    mids = merged_ids(merges)
    unk = 256 + len(merges)
    ids = encode_ids(s, ranks, mids, unk)
    assert len(ids) == count_tokens(s, ranks)
    assert all(0 <= i <= unk for i in ids)


@given(st.binary(max_size=400))
@settings(max_examples=200, deadline=None)
def test_wav_parser_never_raises_unexpected(data):
    """parse_wav_header on arbitrary bytes either returns a valid tuple
    or raises ValueError — never struct.error/IndexError (a decode crash
    at 10^12 docs kills partitions)."""
    from graphlab_spark.operators.multimodal import parse_wav_header

    try:
        ch, rate, bits, n = parse_wav_header(data)
        assert ch >= 0 and rate >= 0 and n >= 0
    except ValueError:
        pass
