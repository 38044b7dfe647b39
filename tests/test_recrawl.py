"""Composed monthly re-crawl publication (plans/recrawl.py): the
published graph must track each snapshot exactly at O(delta) cost, the
delta report must classify correctly, and the SCD2 history must answer
point-in-time reads across crawls. Every test publishes under a plain
path and under a ``file://`` URI: a URI ``out_dir`` must find its
previous publication exactly as a path does."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphlab_spark.operators.scd import scd2_as_of
from graphlab_spark.plans.recrawl import recrawl_publish


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src string, pred string, dst string, n_docs long")


def _nodes(spark, rows):
    return spark.createDataFrame(rows, "id string, n_mentions long")


CRAWL1_E = [("a", "p", "b", 3), ("a", "p", "c", 1), ("b", "q", "c", 2)]
CRAWL1_N = [("a", 10), ("b", 5), ("c", 2)]
# crawl 2: (a,p,b) gains support, (b,q,c) disappears, (c,r,a) appears
CRAWL2_E = [("a", "p", "b", 4), ("a", "p", "c", 1), ("c", "r", "a", 1)]
CRAWL2_N = [("a", 12), ("b", 5), ("d", 1)]  # c gone, d new, a changed


def _out_dirs(tmp_path):
    """The same publication target spelled as a path and as a URI."""
    return [str(tmp_path / "path"), (tmp_path / "uri").as_uri()]


def _pub(spark, out_dir, e, n, cid):
    return recrawl_publish(spark, out_dir, _edges(spark, e), _nodes(spark, n), cid)


def test_published_graph_tracks_each_snapshot_exactly(spark, tmp_path):
    for out_dir in _out_dirs(tmp_path):
        _pub(spark, out_dir, CRAWL1_E, CRAWL1_N, 1)
        out = _pub(spark, out_dir, CRAWL2_E, CRAWL2_N, 2)
        got = {(r.src, r.pred, r.dst): r.n_docs for r in out["edges"].collect()}
        assert got == {(s, p, d): w for s, p, d, w in CRAWL2_E}, out_dir
        summary = {r.status: r.n_edges for r in out["summary"].collect()}
        assert summary == {"added": 1, "removed": 1, "changed": 1, "unchanged": 1}, out_dir


def test_first_publication_reports_all_added(spark, tmp_path):
    for out_dir in _out_dirs(tmp_path):
        out = _pub(spark, out_dir, CRAWL1_E, CRAWL1_N, 1)
        assert {r.status: r.n_edges for r in out["summary"].collect()} == {"added": 3}
        assert out["edges"].count() == 3
        hist = {
            (r.id, r.valid_from): (r.n_mentions, r.valid_to)
            for r in out["history"].collect()
        }
        assert hist == {("a", 1): (10, None), ("b", 1): (5, None), ("c", 1): (2, None)}


def test_history_answers_point_in_time_across_crawls(spark, tmp_path):
    for out_dir in _out_dirs(tmp_path):
        _pub(spark, out_dir, CRAWL1_E, CRAWL1_N, 1)
        out = _pub(spark, out_dir, CRAWL2_E, CRAWL2_N, 2)
        assert out["history"].count() == 5, out_dir
        at1 = {r.id: r.n_mentions for r in scd2_as_of(out["history"], 1).collect()}
        at2 = {r.id: r.n_mentions for r in scd2_as_of(out["history"], 2).collect()}
        assert at1 == {"a": 10, "b": 5, "c": 2}, out_dir
        assert at2 == {"a": 12, "b": 5, "d": 1}, out_dir


def test_republish_same_crawl_is_noop(spark, tmp_path):
    for out_dir in _out_dirs(tmp_path):
        _pub(spark, out_dir, CRAWL1_E, CRAWL1_N, 1)
        once = _pub(spark, out_dir, CRAWL2_E, CRAWL2_N, 2)
        e1 = sorted((r.src, r.pred, r.dst, r.n_docs) for r in once["edges"].collect())
        h1 = sorted(map(tuple, once["history"].collect()))
        twice = _pub(spark, out_dir, CRAWL2_E, CRAWL2_N, 2)
        summary = {r.status: r.n_edges for r in twice["summary"].collect()}
        assert summary == {"unchanged": 3}, out_dir
        e2 = sorted((r.src, r.pred, r.dst, r.n_docs) for r in twice["edges"].collect())
        assert e2 == e1
        assert sorted(map(tuple, twice["history"].collect())) == h1


def test_delta_pinned_before_apply(spark, tmp_path):
    """The returned delta must survive the published-table rewrite: it
    is collected AFTER apply_graph_delta overwrote the parquet it was
    derived from, and must still show the true crawl1→crawl2 diff."""
    for out_dir in _out_dirs(tmp_path):
        _pub(spark, out_dir, CRAWL1_E, CRAWL1_N, 1)
        out = _pub(spark, out_dir, CRAWL2_E, CRAWL2_N, 2)
        st = {(r.src, r.pred, r.dst): r.status for r in out["delta"].collect()}
        assert st[("a", "p", "b")] == "changed", out_dir
        assert st[("b", "q", "c")] == "removed"
        assert st[("c", "r", "a")] == "added"
        assert st[("a", "p", "c")] == "unchanged"
