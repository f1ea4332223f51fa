"""The workloads. Each drives the library's public API the way a user
of this system does, as one closed-loop client.

A workload has ``setup()`` (prebuilt state plus a warm pass, charged to
set-up time), ``op(i)`` (one timed operation, whose return value is handed
to ``check``), ``check(i, result)`` (outside the timed region: None when the
answer is right, else the reason), and the per-run ``stored_bytes_ratio``
it reports. ``items(result)`` is the number of work items (pages or
queries) an operation completed.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
from pyspark.sql import functions as F

from auto_vectordb_spark.operators import bm25 as BM25
from auto_vectordb_spark.operators import dedup as DD
from auto_vectordb_spark.operators import knn as KNN
from auto_vectordb_spark.operators import pq as PQ
from auto_vectordb_spark.operators import retraction as RT
from auto_vectordb_spark.pipeline import VectorPipeline
from auto_vectordb_spark.session import release_materialized

from . import gen as G
from . import reference as R

DIM = 1024
TOP_K = 10
DOCS = "doc_id long, text string"


def nid_col():
    """The 60-bit numeric page id, for operators that key on a long."""
    return F.conv(F.substring("id", 1, 15), 16, 10).cast("long")


# Sizes per workload. Reasons are in perfbench/README.md.
SIZES = {
    "ingest": {"files": 24, "exact_share": 0.08, "near_share": 0.08, "ivf_cells": 8,
               "pq_m": 2, "pq_ksub": 16, "reindex": 6, "delete": 6, "queries": 16},
    "search": {"files": 48, "queries": 200, "filter_share": 0.3, "warm_queries": 4},
}


def du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def page_content(rel: str, text: str) -> str:
    """The text the pipeline stores for a page of a generated file: its
    context prefix (file stem and category path) and the page itself."""
    parts = rel.split(os.sep)
    cats = parts[parts.index("uploaded") + 1 : -1]
    stem = os.path.splitext(parts[-1])[0]
    return f"This page explains {stem} that belongs to {', '.join(cats)} categories.\n{text}"


class Embedder:
    """Reference embeddings with a per-token cache."""

    def __init__(self) -> None:
        self._tok: dict[str, tuple[int, float]] = {}

    def __call__(self, text: str) -> np.ndarray:
        v = np.zeros(DIM)
        for tok in str(text).lower().split():
            hit = self._tok.get(tok)
            if hit is None:
                one = R.embed(tok, DIM)
                b = int(np.flatnonzero(one)[0])
                hit = self._tok[tok] = (b, 1.0 if one[b] > 0 else -1.0)
            v[hit[0]] += hit[1]
        n = float(np.linalg.norm(v))
        return (v / n if n > 0 else v).astype(np.float32)


class Workload:
    name = ""

    def __init__(self, spark, tracer, gen: G.Generator, work_dir: str) -> None:
        self.spark = spark
        self.tracer = tracer
        self.gen = gen
        self.dir = work_dir
        self.size = SIZES[self.name]
        self.distortion: list[float] = []  # PQ reconstruction error per operation
        # (bytes on disk, bytes of generated text) per corpus written
        self.stored: list[tuple[int, int]] = []
        self.phases: dict[str, float] = {}  # set-up seconds by phase
        self._t = time.perf_counter()

    def phase(self, name: str) -> None:
        """Close the set-up phase ``name`` (it began where the last ended)."""
        now = time.perf_counter()
        self.phases[name] = now - self._t
        self._t = now

    def stored_bytes_ratio(self) -> float:
        """Bytes on disk over bytes of text, pooled over every corpus the run
        wrote; the warm batch counts, as its bytes are no different."""
        text = sum(t for _, t in self.stored)
        return sum(d for d, _ in self.stored) / text if text else float("nan")

    def prepare(self, i: int) -> None:
        """Work before operation ``i`` that is not part of it."""


# ---- ingest ----------------------------------------------------------------


def truth(root: str, man: dict) -> tuple[dict, set]:
    """The stored text of every written page by page id, and the page ids
    dedup must drop: all but the lowest-id member of each group of copies."""
    texts: dict[str, str] = {}
    groups: dict[str, list[str]] = {}
    for f in man["files"]:
        path = os.path.abspath(os.path.join(root, f["rel"]))
        for pg, text in enumerate(f["pages"]):
            pid = G.page_id(path, pg)
            texts[pid] = page_content(f["rel"], text)
            groups.setdefault(f"{f['of'] or f['rel']}#{pg}", []).append(pid)
    losers = {pid for g in groups.values() for pid in sorted(g, key=G.nid)[1:]}
    return texts, losers


def nearest_ok(dist: np.ndarray, chosen: np.ndarray) -> np.ndarray:
    """Per row: is ``chosen`` within rounding of the row's smallest
    distance (rows of ``dist``: one distance per candidate)."""
    best = dist.min(axis=1)
    got = dist[np.arange(len(chosen)), chosen]
    return got <= best + 1e-6 * np.maximum(1.0, np.abs(best))


def _postings_scan(name: str, desc: str) -> bool:
    """Plan nodes that read the BM25 postings (term, doc_id, tf) table."""
    return "Scan" in name and "tf#" in desc


class Ingest(Workload):
    """Raw files → parsed, embedded, deduplicated, persisted corpus with a
    BM25 index and an IVF-PQ index, then one append/delete epoch on an
    incremental BM25 index of that corpus and a query batch over it. Each
    operation ingests a fresh batch into a fresh corpus directory."""

    name = "ingest"

    def setup(self) -> None:
        self.query_texts = [t for t, _ in self.gen.queries(self.size["queries"])]
        self.queries = self.spark.createDataFrame(
            list(enumerate(self.query_texts)), "query_id long, query_text string")
        # the warm batch has the operations' size, so the timed operations
        # run the plan shapes it compiled
        warm = self._batch("warm")
        self.phase("generate")
        err = self.check(-1, self._ingest(warm))
        if err:
            raise RuntimeError(f"warm ingest wrong: {err}")
        self.phase("warm")

    def _batch(self, tag: str) -> dict:
        """Write one batch of files and draw its epoch's re-index and delete
        id sets from the pages that survive dedup."""
        s = self.size
        root = os.path.join(self.dir, "in", tag)
        man = self.gen.write_files(root, s["files"], f"{tag}x", s["exact_share"], s["near_share"])
        texts, losers = truth(root, man)
        kept = sorted(G.nid(pid) for pid in texts if pid not in losers)
        reindex, delete = self.gen.edits(kept, s["reindex"], s["delete"])
        return {"root": root, "man": man, "texts": texts, "losers": losers,
                "base": os.path.join(self.dir, "db", tag),
                "reindex": reindex, "delete": delete,
                "reindex_df": self.spark.createDataFrame(reindex, DOCS),
                "delete_df": self.spark.createDataFrame([(d,) for d in delete], "doc_id long")}

    def prepare(self, i: int) -> None:
        self.pending = self._batch(f"op{i}")

    def op(self, i: int):
        return self._ingest(self.pending)

    def _ingest(self, b: dict) -> dict:
        s, tr, base = self.size, self.tracer, b["base"]
        p = VectorPipeline(self.spark, base, dim=DIM)
        with tr.span("pipeline.parse"):
            pages = tr.materialize(p.parse(b["root"]))
        with tr.span("functions.embedding"):
            chunks = tr.materialize(p.embed(pages).withColumn("nid", nid_col()))
        with tr.span("operators.dedup") as sp:
            exact = DD.exact_dedup(chunks, "nid", "page_content")
            kept = chunks.join(exact.select(F.col("keep_id").alias("nid")), "nid", "left_semi")
            cand = DD.minhash_lsh_pairs(kept, "nid", "page_content").localCheckpoint(eager=True)
            # verified: the signatures agree in every band (estimated Jaccard 1)
            verified = cand.filter(F.col("n_bands") == DD.DEFAULT_BANDS)
            survivors = tr.materialize(DD.apply_dedup(kept, verified, "nid"))
            if sp is not None:
                sp.extra.update(pairs_candidate=cand.count(), pairs_verified=verified.count())
        with tr.span("pipeline.save_corpus"):
            p.save_corpus(survivors.drop("nid"))
        release_materialized(cand)
        with tr.span("pipeline.build_index"):
            p.build_index()
            for df in (p._bm25.postings, p._bm25.doc_lens, p._bm25.term_df):  # noqa: SLF001
                df.count()
        vec = p.corpus().select(nid_col().alias("vec_id"), F.col("embeddings").alias("embedding"))
        with tr.span("operators.knn"):
            cents = KNN.kmeans_centroids(vec, k=s["ivf_cells"], max_iter=5)
            cells = tr.materialize(KNN.ivf_build(vec, cents).select("vec_id", "centroid_id"))
        with tr.span("operators.pq"):
            books = PQ.pq_codebooks_kmeans(vec, m=s["pq_m"], ksub=s["pq_ksub"])
            PQ.pq_encode_broadcast(vec, books).join(cells, "vec_id").write.parquet(
                os.path.join(base, "ivfpq"))
        for df in (p._bm25.postings, p._bm25.doc_lens, p._bm25.term_df):  # noqa: SLF001
            df.unpersist()
        # one epoch on the incremental index: epoch 1 appends the corpus,
        # epoch 2 re-indexes and tombstones the batch's seeded id sets
        idx = os.path.join(base, "bm25inc")
        docs = p.corpus().select(nid_col().alias("doc_id"), F.col("page_content").alias("text"))
        with tr.span("operators.retraction"):
            RT.bm25_index_append(docs, idx, epoch=1)
            RT.bm25_index_append(b["reindex_df"], idx, epoch=2)
            RT.bm25_delete_docs(self.spark, idx, b["delete_df"], epoch=2)
            index = RT.bm25_index_with_deletes(self.spark, idx)
            if tr.enabled:
                index = BM25.BM25Index(tr.materialize(index.postings),
                                       tr.materialize(index.doc_lens),
                                       tr.materialize(index.term_df), index.stats)
        with tr.span("operators.bm25") as sp:
            rows = tr.collect(sp, BM25.search(index, self.queries, k=TOP_K))
            if sp is not None:
                sp.probes["postings_rows"] = _postings_scan
        return {"p": p, "batch": b, "cents": cents, "books": books, "rows": rows}

    def items(self, res) -> int:
        return res["batch"]["man"]["pages"]

    def check(self, i: int, res) -> str | None:
        b, p = res["batch"], res["p"]
        expected = set(b["texts"]) - b["losers"]
        got = [r["id"] for r in p.corpus().select("id").collect()]
        vecs = {r["vec_id"]: r["embedding"] for r in p.corpus().select(
            nid_col().alias("vec_id"), F.col("embeddings").alias("embedding")).collect()}
        codes = self.spark.read.parquet(os.path.join(b["base"], "ivfpq")).collect()
        self.stored.append((du(b["base"]), b["man"]["text_bytes"]))
        shutil.rmtree(b["base"], ignore_errors=True)
        shutil.rmtree(b["root"], ignore_errors=True)
        if len(got) != len(set(got)):
            return "duplicate ids in the corpus"
        if set(got) != expected:
            return (f"survivors differ: {len(set(got) - expected)} unexpected, "
                    f"{len(expected - set(got))} missing")
        if sorted(r["vec_id"] for r in codes) != sorted(vecs):
            return f"{len(codes)} PQ codes for {len(vecs)} pages"
        err, distortion = self.check_ann(res, vecs, codes)
        if err:
            return err
        if i >= 0:
            self.distortion.append(distortion)
        live = {G.nid(pid): b["texts"][pid] for pid in expected}
        live.update(b["reindex"])
        for d in b["delete"]:
            live.pop(d)
        ref = R.Bm25(live)
        per_query: dict[int, list] = {}
        for r in res["rows"]:
            per_query.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        for qid, text in enumerate(self.query_texts):
            top = sorted(per_query.get(qid, []), key=lambda x: (-x[1], x[0]))
            err = R.check_topk(top, R.leg_options(R.Leg(ref.scores(text), TOP_K)), TOP_K)
            if err:
                return f"delete-aware BM25 query {qid}: {err}"
        return None

    @staticmethod
    def check_ann(res, vecs: dict, codes: list) -> tuple[str | None, float]:
        """Every page sits in its nearest IVF cell (cosine) and carries the
        nearest codeword of every PQ subspace (L2). Also returns the PQ
        distortion: mean squared reconstruction error of the unit vectors."""
        X = np.array([vecs[r["vec_id"]] for r in codes], dtype=np.float64)
        cents = np.array([c["centroid"] for c in res["cents"].orderBy("centroid_id").collect()])
        cos = (X @ cents.T) / np.maximum(
            np.linalg.norm(X, axis=1)[:, None] * np.linalg.norm(cents, axis=1)[None, :], 1e-300)
        if not nearest_ok(-cos, np.array([r["centroid_id"] for r in codes])).all():
            return "a page is not in its nearest IVF cell", 0.0
        C = np.array([r["codes"] for r in codes])
        sub = X.shape[1] // len(res["books"])
        err = np.zeros(len(X))
        for j, book in enumerate(res["books"]):
            cb = np.array(book)
            part = X[:, j * sub : (j + 1) * sub]
            dist = ((part[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
            if not nearest_ok(dist, C[:, j]).all():
                return f"a PQ code is not the nearest codeword of subspace {j}", 0.0
            err += dist[np.arange(len(X)), C[:, j]]
        return None, float(err.mean())


# ---- search ------------------------------------------------------------------


class Search(Workload):
    """Interactive hybrid search: one ``VectorPipeline.search`` at a time over
    a corpus prebuilt in set-up; a seeded share carry a category filter."""

    name = "search"

    def setup(self) -> None:
        s = self.size
        root = os.path.join(self.dir, "in")
        man = self.gen.write_files(root, s["files"], "s")
        self.queries = self.gen.queries(s["queries"], s["filter_share"])
        self.phase("generate")
        # no dedup: this corpus is generated without copies
        self.p = VectorPipeline(self.spark, os.path.join(self.dir, "db"), dim=DIM)
        self.p.save_corpus(self.p.embed(self.p.parse(root)))
        self.p.build_index()
        self.stored.append((du(os.path.join(self.dir, "db", "corpus")), man["text_bytes"]))
        self.phase("corpus")
        docs, self.cat = {}, {}
        for f in man["files"]:
            path = os.path.abspath(os.path.join(root, f["rel"]))
            for pg, text in enumerate(f["pages"]):
                docs[G.page_id(path, pg)] = page_content(f["rel"], text)
                self.cat[G.page_id(path, pg)] = f["cats"][0]
        self.bm25 = R.Bm25(docs)
        emb = Embedder()
        ids = list(docs)
        self.vectors = R.Vectors(ids, np.stack([emb(docs[d]) for d in ids]))
        self.embed = emb
        self.phase("reference")
        # warm pass: the driver-side planning code of a search keeps getting
        # faster over its first few calls, so warm with several
        for q in self.gen.queries(s["warm_queries"], 0.5):
            err = self.check_query(q, self._search(q, None))
            if err:
                raise RuntimeError(f"warm search wrong: {err}")
        self.phase("warm")

    def _search(self, q, sp):
        text, cats = q
        return [(r["id"], r["score"]) for r in
                self.tracer.collect(sp, self.p.search(text, size=TOP_K, categories=cats))]

    def op(self, i: int):
        q = self.queries[i % len(self.queries)]
        with self.tracer.span("pipeline.search", str(i)) as sp:
            return q, self._search(q, sp)

    def items(self, res) -> int:
        return 1

    def check_query(self, q, got) -> str | None:
        text, cats = q
        keep = None if cats is None else {d for d, c in self.cat.items() if c in cats}
        # VectorPipeline.search cuts its BM25 leg at max(10 * size, 50)
        bm = R.Leg(self.bm25.scores(text), max(10 * TOP_K, 50))
        kn = R.Leg(self.vectors.cosine(self.embed(text), keep), None)
        opts = R.weighted_options(bm, kn)
        if keep is not None:
            opts = {d: o for d, o in opts.items() if d in keep}
        return R.check_topk(got, opts, TOP_K, min_score=0.0)

    def check(self, i: int, res) -> str | None:
        return self.check_query(*res)


WORKLOADS = {w.name: w for w in (Ingest, Search)}
