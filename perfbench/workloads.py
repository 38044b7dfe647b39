"""The benchmark's workloads: seeded inputs, timed operations, output checks.

Each workload is a closed loop with one client. ``setup`` builds every
input from the seed and warms the JVM; ``rounds`` yields the operations
of one loop round. Each operation's output is checked outside its timed
region: a check that fails raises :class:`CheckFailed` and the harness
counts the operation as failed.

Why these workloads:

- ``kg_build``: the paper's headline path, ``run_pipeline_in_memory``
  over 10,000 heavy pages; parse does most of the work and linking
  takes the driver fast path.
- ``kg_increment``: the production path. A 10% crawl increment (2,000
  pages) is folded into an 18,000-page graph with the resumable
  ``run_pipeline(out_dir=...)``, then the finished graph is re-run,
  which must skip everything. Writes beside reads; the manifest does
  most of the work and linking takes the distributed path. Not listed
  in ``BENCHMARK.json``: the base graph and the fold are two resumable
  runs of 30-50 s each whatever the page count (4 cores: a 200-page fold
  took 31-33 s, a 600-page fold 31-32 s), so one run of this workload
  exceeds a listed run's share of the benchmark's time budget.
- ``corpus_ops``: a round-robin of one-query IVF-PQ, one-query IVF,
  3-term BM25 and a read-only incremental-dedup probe over the sf0.1
  ``documents`` / ``embeddings`` tables. These calls are bound by
  per-job overhead, not by data; the KG layers do nothing here.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# kg_build runs on half of bench.py's 20,000-page kg_pipeline input so
# that two builds fit a run next to set-up; kg_increment keeps 20,000.
BUILD_PAGES = 10_000
INCREMENT_PAGES = 20_000
INCREMENT_FRAC = 0.10
# corpus_ops reads a copy of the sf0.1 ``documents`` (5,000 rows) and
# ``embeddings`` (2,000 x 64) tables that bench.py's matching lines read
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
ANN_K = 10
# passed to ivf_topk / ivfpq_topk (their defaults) and used by the
# reference search
IVF_CELLS = 64
N_PROBE = 8
PQ_REFINE = 50
BM25_TOP = 10
# rounding of the operators' scores (4 dp) plus summation-order noise
SCORE_TOL = 1.01e-4


class CheckFailed(AssertionError):
    """An operation's output did not match its reference."""


def _check(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


@dataclass
class Op:
    """One timed call. ``run`` is timed; ``prepare`` and ``check`` are not."""

    kind: str
    run: Callable[[], Any]
    check: Callable[[Any], dict]
    prepare: Callable[[], None] = lambda: None


class SetupSteps(dict):
    """Wall seconds of each named set-up step, for the run's detail line."""

    @contextmanager
    def __call__(self, name: str):
        t0 = time.perf_counter()
        yield
        self[name] = time.perf_counter() - t0


def _link_tree(src: str, dst: str) -> None:
    """Copy a directory tree as hard links. Safe for pipeline outputs:
    Spark replaces and appends whole files, it never rewrites one."""
    shutil.copytree(src, dst, copy_function=os.link)


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def _pages_offset(seed: int) -> int:
    # page ids are timestamps in seconds after the corpus epoch: keep
    # them within a few decades
    return (seed % 100_000) * INCREMENT_PAGES


def write_pages(spark, path: str, start: int, end: int) -> None:
    """Heavy pages ``start..end-1`` (``corpus.page_record`` is a pure
    function of the page id) written to parquet."""
    from graphlab_spark.sources import corpus

    def gen(batches):
        for b in batches:
            rows = [corpus.page_record(int(i), heavy=True) for i in b["id"]]
            yield pd.DataFrame(rows, columns=corpus.PAGES_SCHEMA.fieldNames())

    parts = spark.sparkContext.defaultParallelism
    spark.range(start, end, numPartitions=parts).mapInPandas(
        gen, corpus.PAGES_SCHEMA
    ).write.mode("overwrite").parquet(path)


def golden_edges(path: str, start: int, end: int) -> int:
    """Write the (src, pred, dst) set of the relations planted in pages
    ``start..end-1`` to parquet, keeping only the latest crawl of each
    url (the pipeline's per-url dedup; ``warc_ts`` grows with the page
    id). Returns the number of edges."""
    from graphlab_spark.sources import corpus

    latest: dict[str, int] = {}
    for i in range(start, end):
        latest[corpus.page_record(i)["url"]] = i
    rows = sorted(
        {(s, p, o) for i in latest.values() for s, p, o, _, _ in corpus.page_relations(i)}
    )
    os.makedirs(path)
    pq.write_table(
        pa.table({k: [r[j] for r in rows] for j, k in enumerate(("src", "pred", "dst"))}),
        f"{path}/golden.parquet",
    )
    return len(rows)


def check_edges(edges, golden, n_golden: int) -> dict:
    """Edge (src, pred, dst) set equals the golden set: P = R = 1."""
    from graphlab_spark.operators.evaluate import triple_pr

    pr = triple_pr(edges.select("src", "pred", "dst"), golden).head()
    _check(
        pr["precision"] == 1.0 and pr["recall"] == 1.0 and pr["n_gold"] == n_golden,
        f"edges P={pr['precision']} R={pr['recall']} "
        f"n_pred={pr['n_pred']} n_gold={pr['n_gold']}",
    )
    return {"edges": pr["n_pred"]}


class KgBuild:
    """``run_pipeline_in_memory`` plus the edges count over 10,000 pages."""

    name = "kg_build"
    PRIMARY = ("build",)

    def __init__(self, seed: int, work: str):
        self.start = _pages_offset(seed)
        self.end = self.start + BUILD_PAGES
        self.pages_path = f"{work}/pages"
        self.golden_path = f"{work}/golden"

    def setup(self, spark) -> None:
        step = self.setup_steps = SetupSteps()
        with step("pages"):
            write_pages(spark, self.pages_path, self.start, self.end)
        with step("golden"):
            self.n_golden = golden_edges(self.golden_path, self.start, self.end)
        self._bind(spark)
        # full-size warm-up: the first heavy UDF job in a fresh JVM pays
        # one-off JIT, codegen and Python-worker start-up
        with step("warm_up"):
            self._build()

    def _bind(self, spark) -> None:
        from graphlab_spark.sources import corpus

        self.spark = spark
        self.pages = spark.read.parquet(self.pages_path)
        self.aliases = corpus.alias_df(spark)
        self.golden = spark.read.parquet(self.golden_path)

    def _build(self) -> dict:
        from graphlab_spark.plans.pipeline import run_pipeline_in_memory

        stages: dict[str, float] = {}
        t0 = time.time()
        res = run_pipeline_in_memory(
            self.spark, self.pages, self.aliases, stage_timings=stages
        )
        t_mat = time.time()
        n_edges = res["edges"].count()
        t_end = time.time()
        # layer windows (epoch seconds) for the tracer
        windows = {
            "parse": (t0, t0 + stages["parse"]),
            "entity_map": (
                t0 + stages["parse"],
                t0 + stages["parse"] + stages["link+canonicalize"],
            ),
            "materialize": (t_mat, t_end),
        }
        return {"res": res, "n_edges": n_edges, "windows": windows}

    def _check(self, out: dict) -> dict:
        got = check_edges(out["res"]["edges"], self.golden, self.n_golden)
        _check(out["n_edges"] == self.n_golden, f"edges count {out['n_edges']}")
        return {
            **got,
            "windows": out["windows"],
            "vocab": out["res"]["entity_map"].count(),
        }

    def rounds(self):
        while True:
            yield [Op("build", self._build, self._check)]

    def summary(self, samples: list[dict]) -> dict:
        walls = [s["wall_s"] for s in samples if s["kind"] == "build"]
        return {"docs_per_s": (BUILD_PAGES / float(np.median(walls)), "1/s")}


class KgIncrement:
    """Fold a 10% crawl increment into an existing graph with the
    resumable pipeline, then re-run the finished graph."""

    name = "kg_increment"
    PRIMARY = ("fold",)

    def __init__(self, seed: int, work: str):
        self.start = _pages_offset(seed)
        self.end = self.start + INCREMENT_PAGES
        self.split = self.end - int(INCREMENT_PAGES * INCREMENT_FRAC)
        self.base_path = f"{work}/pages_base"
        self.inc_path = f"{work}/pages_inc"
        self.golden_path = f"{work}/golden"
        self.out_dir = f"{work}/kg"
        self.snapshot = f"{work}/kg_base"

    def setup(self, spark) -> None:
        from graphlab_spark.plans.pipeline import run_pipeline

        step = self.setup_steps = SetupSteps()
        with step("pages"):
            write_pages(spark, self.base_path, self.start, self.split)
            write_pages(spark, self.inc_path, self.split, self.end)
        with step("golden"):
            self.n_golden = golden_edges(self.golden_path, self.start, self.end)
        self._bind(spark)
        self.input_bytes = dir_bytes(self.base_path) + dir_bytes(self.inc_path)
        with step("base_graph"):
            run_pipeline(spark, self.base, self.aliases, self.out_dir)
            _link_tree(self.out_dir, self.snapshot)
        self.folded = False

    def _bind(self, spark) -> None:
        from graphlab_spark.sources import corpus

        self.spark = spark
        self.base = spark.read.parquet(self.base_path)
        self.pages = self.base.unionByName(spark.read.parquet(self.inc_path))
        self.aliases = corpus.alias_df(spark)
        self.golden = spark.read.parquet(self.golden_path)

    def _restore(self) -> None:
        if self.folded:
            shutil.rmtree(self.out_dir)
            _link_tree(self.snapshot, self.out_dir)
        self.folded = True

    def _manifest_rows(self) -> int:
        return self.spark.read.parquet(f"{self.out_dir}/manifest").count()

    def _run(self) -> dict:
        from graphlab_spark.plans.pipeline import run_pipeline

        t0 = time.time()
        res = run_pipeline(self.spark, self.pages, self.aliases, self.out_dir)
        return {"res": res, "t0": t0}

    def _check_fold(self, out: dict) -> dict:
        got = check_edges(out["res"]["edges"], self.golden, self.n_golden)
        rows = self._fold_manifest_rows(out["t0"])
        _check(bool(rows), "fold appended no manifest rows")
        self.manifest_rows_after_fold = self._manifest_rows()
        return {
            **got,
            "manifest_rows": rows,
            "stored_bytes": dir_bytes(self.out_dir),
            "new_docs": self.end - self.split,
        }

    def _fold_manifest_rows(self, t0: float) -> list[dict]:
        from pyspark.sql import functions as F

        m = self.spark.read.parquet(f"{self.out_dir}/manifest")
        return [
            r.asDict()
            for r in m.filter(F.unix_micros("finished_at") >= int(t0 * 1e6))
            .select(
                "stage", "partition_id", "rows_in", "input_fp",
                (F.unix_micros("finished_at") / 1e6).alias("finished_s"),
            )
            .collect()
        ]

    def _check_rerun(self, out: dict) -> dict:
        # a re-run that skips everything serves the fold's files
        n_edges = out["res"]["edges"].count()
        _check(n_edges == self.n_golden, f"re-run edges count {n_edges}")
        rows = self._manifest_rows()
        _check(
            rows == self.manifest_rows_after_fold,
            f"re-run appended {rows - self.manifest_rows_after_fold} manifest rows",
        )
        return {"edges": n_edges}

    def rounds(self):
        while True:
            yield [
                Op("fold", self._run, self._check_fold, prepare=self._restore),
                Op("rerun", self._run, self._check_rerun),
            ]

    def summary(self, samples: list[dict]) -> dict:
        folds = [s for s in samples if s["kind"] == "fold" and s["ok"]]
        reruns = [s["wall_s"] for s in samples if s["kind"] == "rerun"]
        out = {}
        if folds:
            wall = float(np.median([s["wall_s"] for s in folds]))
            out["docs_per_s"] = ((self.end - self.split) / wall, "1/s")
            out["stored_bytes_per_input_byte"] = (
                folds[-1]["info"]["stored_bytes"] / self.input_bytes, "ratio",
            )
        if reruns:
            out["rerun_s"] = (float(np.median(reruns)), "s")
        return out


def _read_table(name: str) -> str:
    path = os.path.join(DATA_DIR, f"{name}.parquet")
    if not os.path.isfile(path):
        raise FileNotFoundError(f"corpus_ops input {path} is missing")
    return path


class AnnReference:
    """The output ``ivf_topk`` and ``ivfpq_topk(refine=...)`` must give,
    recomputed in numpy from the operators' documented rules: the unit
    vectors of the smallest ids seed the IVF cells, probes are the
    nearest cells in stable order, IVF-PQ assigns, encodes and scores in
    exact int64 against the frozen model, and every result is ranked by
    (4-dp score desc, id asc)."""

    def __init__(self, ids: np.ndarray, vecs: np.ndarray, model):
        from graphlab_spark.operators.ann_pq import SCALE

        order = np.argsort(ids)
        self.ids, x = ids[order], vecs[order]
        self.row = {int(v): i for i, v in enumerate(self.ids)}
        self.unit = x / np.linalg.norm(x, axis=1, keepdims=True)
        self.x = x
        self.cells = self.unit[:IVF_CELLS]
        self.ivf_cell = np.argmax(x @ self.cells.T, axis=1)
        self.cq, cb = model
        self.xq = np.floor(x * SCALE + 0.5).astype(np.int64)
        self.pq_cell = np.argmax(self.xq @ self.cq.T, axis=1)
        resid = self.xq - self.cq[self.pq_cell]
        n_sub, _, sub = cb.shape
        self.recon = self.cq[self.pq_cell].copy()
        for m in range(n_sub):
            part = slice(m * sub, (m + 1) * sub)
            d2 = ((resid[:, None, part] - cb[m][None, :, :]) ** 2).sum(axis=2)
            self.recon[:, part] += cb[m][np.argmin(d2, axis=1)]

    def cosine(self, q: int, neighbor: int) -> float:
        return float(self.unit[self.row[q]] @ self.unit[self.row[neighbor]])

    def _ranked(self, rows: np.ndarray, scores: np.ndarray, k: int):
        keep = np.lexsort((self.ids[rows], -scores))[:k]
        return rows[keep], scores[keep]

    def _probed(self, q: int, sims: np.ndarray, cell: np.ndarray) -> np.ndarray:
        probes = np.argsort(-sims, kind="stable")[:N_PROBE]
        return np.flatnonzero(np.isin(cell, probes) & (np.arange(len(self.ids)) != q))

    def _exact(self, q: int, rows: np.ndarray) -> np.ndarray:
        return np.round(self.unit[rows] @ self.unit[q], 4)

    def ivf(self, qid: int) -> tuple[np.ndarray, set]:
        """(top-k scores, ids of every candidate) of one query."""
        q = self.row[qid]
        cand = self._probed(q, self.x[q] @ self.cells.T, self.ivf_cell)
        _, scores = self._ranked(cand, self._exact(q, cand), ANN_K)
        return scores, set(self.ids[cand].tolist())

    def ivfpq(self, qid: int) -> tuple[np.ndarray, set]:
        q = self.row[qid]
        qv = self.xq[q]
        cand = self._probed(q, qv @ self.cq.T, self.pq_cell)
        r = self.recon[cand]
        pq = np.round(
            (r @ qv) / (np.sqrt(float(qv @ qv)) * np.sqrt((r * r).sum(axis=1).astype(np.float64))),
            4,
        )
        short, _ = self._ranked(cand, pq, PQ_REFINE)
        _, scores = self._ranked(short, self._exact(q, short), ANN_K)
        return scores, set(self.ids[cand].tolist())


def bm25_reference(
    doc_ids: list[int], toks: list[list[str]], terms: list[str], k1=1.2, b=0.75
) -> dict[int, float]:
    """Plain-Python BM25 with the formula of ``retrieval.bm25_scores``
    over whitespace-tokenized, lower-cased documents."""
    n = len(toks)
    avgdl = sum(len(t) for t in toks) / n
    tfs = [[t.count(term) for term in terms] for t in toks]
    df = [sum(1 for tf in tfs if tf[j] > 0) for j in range(len(terms))]
    idf = [np.log(1.0 + (n - d + 0.5) / (d + 0.5)) for d in df]
    out = {}
    for doc_id, tok, tf in zip(doc_ids, toks, tfs):
        if max(tf) == 0:
            continue
        norm = k1 * (1.0 - b + b * len(tok) / avgdl)
        out[doc_id] = sum(
            idf[j] * tf[j] * (k1 + 1.0) / (tf[j] + norm) for j in range(len(terms)) if tf[j]
        )
    return out


class CorpusOps:
    """Round-robin over ann_ivfpq, ann_ivf, bm25 and dedup_inc on the
    sf0.1 ``documents`` and ``embeddings`` tables; the seed picks the
    query vectors, the query terms and the 10% increment."""

    name = "corpus_ops"
    KINDS = ("ann_ivfpq", "ann_ivf", "bm25", "dedup_inc")
    PRIMARY = KINDS
    N_QUERIES = 32

    def __init__(self, seed: int, work: str):
        self.rng = random.Random(seed)
        self.docs_path = _read_table("documents")
        self.embs_path = _read_table("embeddings")
        self.index_dir = f"{work}/dedup_index"
        self.residue = self.rng.randrange(10)

    def setup(self, spark) -> None:
        from pyspark.sql import functions as F

        from graphlab_spark.operators import dedup as DD
        from graphlab_spark.operators.ann import brute_force_topk
        from graphlab_spark.operators.ann_pq import load_pq_model
        from graphlab_spark.operators.dedup_incremental import dedup_increment

        step = self.setup_steps = SetupSteps()
        self._bind(spark)
        docs = pq.read_table(self.docs_path, columns=["doc_id", "text"]).to_pandas()
        self.doc_ids = docs["doc_id"].tolist()
        self.toks = [t.lower().strip().split() for t in docs["text"]]
        vocab = sorted({w for t in self.toks for w in t})
        self.term_sets = [self.rng.sample(vocab, 3) for _ in range(self.N_QUERIES)]
        embs = pq.read_table(self.embs_path, columns=["vec_id", "embedding"]).to_pandas()
        ids = embs["vec_id"].to_numpy()
        self.queries = self.rng.sample(sorted(ids.tolist()), self.N_QUERIES)
        with step("pq_model"):
            self.model = load_pq_model(spark)
        with step("ann_reference"):
            ref = self.ann_ref = AnnReference(
                ids, np.stack([np.asarray(v, dtype=np.float64) for v in embs["embedding"]]),
                self.model,
            )
            self.expected = {
                "ann_ivf": {q: ref.ivf(q) for q in self.queries},
                "ann_ivfpq": {q: ref.ivfpq(q) for q in self.queries},
            }
            self.exact = {}
            for r in brute_force_topk(self.embs, self.queries, k=ANN_K).collect():
                self.exact.setdefault(r.query_id, set()).add(r.neighbor_id)
        # dedup: index the planted corpus outside the 10% slice; the
        # expected increment pairs are the one-shot pairs touching it
        with step("dedup_index"):
            in_slice = F.col("doc_id") % 10 == self.residue
            dedup_increment(spark, self.index_dir, self.planted.filter(~in_slice))
        with step("dedup_reference"):
            inc_ids = {r.doc_id for r in self.inc.select("doc_id").collect()}
            self.expected_pairs = {
                (r.a, r.b)
                for r in DD.minhash_lsh_pairs(self.planted, 0.8).collect()
                if r.a in inc_ids or r.b in inc_ids
            }
        with step("warm_up"):
            for op in self._round(0):  # one call of each kind
                op.run()

    def _bind(self, spark) -> None:
        from pyspark.sql import functions as F

        from graphlab_spark.operators import dedup as DD

        self.spark = spark
        self.docs = spark.read.parquet(self.docs_path)
        self.embs = spark.read.parquet(self.embs_path)
        self.planted = DD.with_planted_near_dups(self.docs)
        self.inc = self.planted.filter(F.col("doc_id") % 10 == self.residue)

    def _ann_check(self, kind: str, q: int, rows) -> dict:
        """The scores equal the reference search's top-k (so the result
        is the top-k up to ties), every row is a probed candidate with
        its exact score; recall@k against brute force is reported."""
        rows = sorted(rows, key=lambda r: r.rank)
        _check(
            [r.rank for r in rows] == list(range(1, ANN_K + 1)),
            f"{kind} query {q}: ranks {[r.rank for r in rows]}",
        )
        want, cand = self.expected[kind][q]
        got = np.array([r.score for r in rows])
        _check(
            bool(np.all(np.abs(got - want) <= SCORE_TOL)),
            f"{kind} query {q}: scores {got.tolist()}, reference {want.tolist()}",
        )
        ids = {r.neighbor_id for r in rows}
        _check(len(ids) == ANN_K, f"{kind} query {q}: repeated neighbours")
        for r in rows:
            _check(
                r.query_id == q
                and r.neighbor_id in cand
                and abs(r.score - self.ann_ref.cosine(q, r.neighbor_id)) <= SCORE_TOL,
                f"{kind} query {q}: row {r} is not a probed candidate with its exact score",
            )
        return {"recall": len(ids & self.exact[q]) / ANN_K}

    def _bm25_check(self, terms: list[str], rows) -> dict:
        ref = bm25_reference(self.doc_ids, self.toks, terms)
        top = sorted(ref.values(), reverse=True)[:BM25_TOP]
        _check(len(rows) == len(top), f"bm25 {terms}: {len(rows)} rows")
        for r, want in zip(rows, top):
            _check(
                abs(r.bm25 - want) < 1e-5 and abs(ref[r.doc_id] - r.bm25) < 1e-5,
                f"bm25 {terms}: row {r}, expected score {want}",
            )
        return {}

    def _dedup_check(self, rows) -> dict:
        got = {(r.a, r.b) for r in rows}
        _check(
            got == self.expected_pairs and len(rows) == len(got),
            f"dedup_inc: {len(got)} pairs, expected {len(self.expected_pairs)}",
        )
        return {"pairs": len(got)}

    def _round(self, i: int) -> list[Op]:
        from pyspark.sql import functions as F

        from graphlab_spark.operators.ann import ivf_topk
        from graphlab_spark.operators.ann_pq import ivfpq_topk
        from graphlab_spark.operators.dedup_incremental import apply_increment
        from graphlab_spark.operators.retrieval import bm25_scores

        q = self.queries[i % self.N_QUERIES]
        q2 = self.queries[(i + self.N_QUERIES // 2) % self.N_QUERIES]
        terms = self.term_sets[i % self.N_QUERIES]
        return [
            Op(
                "ann_ivfpq",
                lambda: ivfpq_topk(
                    self.embs, [q], k=ANN_K, n_probe=N_PROBE, refine=PQ_REFINE,
                    model=self.model,
                ).collect(),
                lambda rows: self._ann_check("ann_ivfpq", q, rows),
            ),
            Op(
                "ann_ivf",
                lambda: ivf_topk(
                    self.embs, [q2], k=ANN_K, n_centroids=IVF_CELLS, n_probe=N_PROBE
                ).collect(),
                lambda rows: self._ann_check("ann_ivf", q2, rows),
            ),
            Op(
                "bm25",
                lambda: bm25_scores(self.docs, terms)
                .orderBy(F.desc("bm25"), "doc_id")
                .limit(BM25_TOP)
                .collect(),
                lambda rows: self._bm25_check(terms, rows),
            ),
            Op(
                "dedup_inc",
                lambda: apply_increment(self.spark, self.index_dir, self.inc)["pairs"].collect(),
                self._dedup_check,
            ),
        ]

    def rounds(self):
        i = 1
        while True:
            yield self._round(i)
            i += 1

    def summary(self, samples: list[dict]) -> dict:
        out = {}
        for kind in self.KINDS:
            walls = [s["wall_s"] for s in samples if s["kind"] == kind]
            if walls:
                out[f"{kind}_p50_s"] = (float(np.median(walls)), "s")
            recall = [s["info"]["recall"] for s in samples if s["kind"] == kind and s["ok"]
                      and "recall" in s["info"]]
            if recall:
                out[f"{kind}_recall_at_10"] = (float(np.mean(recall)), "ratio")
        return out


WORKLOADS = {w.name: w for w in (KgBuild, KgIncrement, CorpusOps)}
