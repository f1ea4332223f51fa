"""End-to-end VectorPipeline: stage → parse → embed → index → search → manage.

Mirrors the reference lifecycle (SURVEY §3): upload → batch_parse_by_folder →
insert → index/document → search → unique-filepath/delete.
"""

import uuid

import numpy as np
import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F
from test_session import _cached, _plan_reads

from auto_vectordb_spark.operators import bm25 as BM25
from auto_vectordb_spark.operators import hybrid as HY
from auto_vectordb_spark.operators import knn as KNN
from auto_vectordb_spark.pipeline import PAGE_CHARS, VectorPipeline, text_page_parser


@pytest.fixture(scope="module")
def pipe(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("vp")
    # source docs: two categorized files, one with form-feed pages
    src = base / "src"
    src.mkdir()
    (src / "spark_intro.txt").write_text(
        "spark is a distributed engine for large data\f"
        "catalyst optimizes logical plans into physical plans"
    )
    (src / "cooking.txt").write_text("how to bake bread with flour yeast and water")
    p = VectorPipeline(spark, str(base / "store"), dim=64)
    p.stage_files([str(src / "spark_intro.txt")], server_path="tech/bigdata")
    p.stage_files([str(src / "cooking.txt")], server_path="food")
    chunks = p.embed(p.parse())
    p.save_corpus(chunks, mode="overwrite")
    p.build_index()
    return p


def test_text_parser_pages():
    assert text_page_parser("x", b"a\fb\fc") == [(0, "a"), (1, "b"), (2, "c")]
    long = b"x" * (PAGE_CHARS + 1)
    assert [pg for pg, _ in text_page_parser("x", long)] == [0, 1]


def test_parse_derives_canonical_chunks(pipe):
    rows = {(r["filename"], r["page"]): r for r in pipe.corpus().collect()}
    assert ("spark_intro.txt", "0") in rows and ("spark_intro.txt", "1") in rows
    r = rows[("spark_intro.txt", "0")]
    # F6 category split from path after uploaded/
    assert (r["lv1_cat"], r["lv2_cat"], r["lv3_cat"]) == ("tech", "bigdata", "")
    # F5 context prefix with stem + categories
    assert r["page_content"].startswith(
        "This page explains spark_intro that belongs to tech, bigdata categories."
    )
    # F1 md5 identity columns
    import hashlib

    assert r["hashed_filename"] == hashlib.md5(b"spark_intro.txt").hexdigest()
    assert r["hashed_page_content"] == hashlib.md5(r["page_content"].encode()).hexdigest()


def test_embeddings_normalized(pipe):
    v = pipe.corpus().select("embeddings").first()["embeddings"]
    assert len(v) == 64
    assert abs(float(np.linalg.norm(v)) - 1.0) < 1e-5


def test_parse_error_rows_not_abort(spark, tmp_path):
    base = tmp_path / "store2"
    src = tmp_path / "up"
    src.mkdir()
    (src / "good.txt").write_text("fine")
    (src / "bad.txt").write_text("boom")

    def flaky(path, content):
        if "bad" in path:
            raise RuntimeError("parse exploded")
        return text_page_parser(path, content)

    p = VectorPipeline(spark, str(base), dim=16)
    chunks = p.parse(str(src), parser=flaky)
    by_status = {r["status"]: r for r in chunks.collect()}
    assert by_status["failed"]["error"] == "parse exploded"
    assert by_status["failed"]["page_content"] is None
    assert by_status["success"]["page_content"].endswith("fine")


def test_hybrid_search_ranks_relevant_doc_first(pipe):
    hits = pipe.search("catalyst optimizes plans", size=3).collect()
    assert hits and "catalyst" in hits[0]["page_content"]
    assert all(hits[i]["score"] >= hits[i + 1]["score"] for i in range(len(hits) - 1))


def test_search_modes_and_guards(pipe):
    assert pipe.search("bread flour", mode="bm25", size=2).count() >= 1
    assert pipe.search("bread flour", mode="knn", size=2).count() == 2
    rr = pipe.search("bread flour", mode="rerank", size=2).collect()
    assert len(rr) >= 1 and "bread" in rr[0]["page_content"]
    with pytest.raises(ValueError):
        pipe.search("x", mode="nope")
    # min_score cuts everything at an absurd threshold
    assert pipe.search("bread", min_score=1e9).count() == 0


def test_management_surface(spark, tmp_path):
    base = tmp_path / "store3"
    src = tmp_path / "up3"
    src.mkdir()
    (src / "a.txt").write_text("alpha")
    (src / "b.txt").write_text("beta")
    p = VectorPipeline(spark, str(base), dim=16)
    p.save_corpus(p.embed(p.parse(str(src))), mode="overwrite")
    assert p.count() == 2
    fps = p.distinct_filepaths()
    assert len(fps) == 2
    # scale path: same distinct set, never collected
    df = p.distinct_filepaths_df()
    assert df.columns == ["hashed_filepath"]
    assert {r["hashed_filepath"] for r in df.collect()} == set(fps)
    assert p.get_by_hashed_filepath(fps[0]).count() == 1
    victim = p.corpus().first()["id"]
    p.delete_by_ids([victim])
    assert p.count() == 1
    assert victim not in [r["id"] for r in p.corpus().collect()]


def test_delete_by_ids_failed_swap_keeps_previous_corpus(spark, tmp_path, monkeypatch):
    """A crash on the rename that puts the rewritten corpus in place must
    leave the previous corpus on disk (set aside in ``_corpus_old``), not
    a store with no corpus at all."""
    from pathlib import Path

    base = tmp_path / "store4"
    src = tmp_path / "up4"
    src.mkdir()
    (src / "a.txt").write_text("alpha")
    (src / "b.txt").write_text("beta")
    p = VectorPipeline(spark, str(base), dim=16)
    p.save_corpus(p.embed(p.parse(str(src))), mode="overwrite")
    before = sorted(r["id"] for r in p.corpus().collect())

    real_rename = Path.rename

    def crash_on_final_rename(self, target):
        if Path(target).name == "corpus":
            raise OSError("injected crash before the new corpus is in place")
        return real_rename(self, target)

    monkeypatch.setattr(Path, "rename", crash_on_final_rename)
    with pytest.raises(OSError, match="injected crash"):
        p.delete_by_ids([before[0]])
    monkeypatch.undo()
    kept = base / "_corpus_old"
    assert list(kept.rglob("*.parquet"))
    assert sorted(r["id"] for r in spark.read.parquet(str(kept)).collect()) == before


def _nodes(plan):
    """Every node of a Catalyst plan tree (py4j), depth first."""
    stack = [plan]
    while stack:
        node = stack.pop()
        yield node
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))


def test_category_search_prunes_partitions(pipe):
    """categories= is a PARTITION filter on a corpus() read of the
    lv1_cat-partitioned corpus (directories skipped at planning). search
    itself runs against the cached search view: there the filter is applied
    to the view's rows before kNN scoring, and only in-category hits come
    back."""
    corpus = pipe.corpus().filter(F.col("lv1_cat").isin(["food"]))
    plan = corpus._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1][:200]
    assert "lv1_cat" in pf

    found = pipe.search("bread flour water", size=5, categories=["food"])
    hits = found.collect()
    assert hits and all(r["lv1_cat"] == "food" for r in hits)
    knn_leg = [  # the query vector × view rows cross join
        n for n in _nodes(found._jdf.queryExecution().optimizedPlan())
        if n.getClass().getSimpleName() == "Join"
        and n.joinType().toString() == "Cross"
        and "__cv" in n.output().toString()
    ]
    assert len(knn_leg) == 1
    below = list(_nodes(knn_leg[0]))
    filters = [n for n in below if n.getClass().getSimpleName() == "Filter"]
    assert any("lv1_cat" in n.condition().toString() for n in filters)
    assert any(n.getClass().getSimpleName() == "InMemoryRelation" for n in below)


def _per_query_formula(p, query_text, size, mode, categories):
    """The search formula composed from the public operators on the raw
    corpus, with every corpus-only step (dedup, cast, norms, the BM25
    corpus scalars) inside the query's own plan."""
    spark = p.spark
    corpus = p.corpus().dropDuplicates(["id"])
    if categories is not None:
        corpus = corpus.filter(F.col("lv1_cat").isin(list(categories)))
    queries = spark.createDataFrame([(0, query_text)], ["query_id", "query_text"])
    qvec = spark.createDataFrame(
        [(0, p.embed_texts([query_text])[0])], "query_id long, embedding array<float>"
    )
    knn = KNN.score_pairs(
        qvec, corpus.select(F.col("id").alias("doc_id"), "embeddings"), corpus_vec="embeddings"
    ).select("query_id", "doc_id", "score")
    built = p._bm25  # noqa: SLF001
    # a fresh handle, so the corpus scalars are aggregated inside the plan
    index = BM25.BM25Index(built.postings, built.doc_lens, built.term_df, built.stats)
    bm25 = BM25.search(index, queries, k=max(size * 10, 50))
    if categories is not None:
        bm25 = bm25.join(corpus.select(F.col("id").alias("doc_id")), "doc_id", "left_semi")
    if mode == "hybrid":
        hits = HY.fuse_weighted(bm25, knn, k=size)
    elif mode == "bm25":
        hits = HY.fuse_weighted(bm25, bm25.limit(0), k=size)
    elif mode == "knn":
        hits = HY.fuse_weighted(knn.limit(0), knn, k=size)
    else:
        cand = HY.fuse_weighted(bm25, knn, k=max(4 * size, 20))
        hits = HY.rerank_token_overlap(
            cand, queries, corpus.select(F.col("id").alias("doc_id"), "page_content"),
            k=size, text_col="page_content",
        ).select("query_id", "doc_id", F.col("rerank_score").alias("score"))
    return (
        hits.join(corpus, hits["doc_id"] == corpus["id"])
        .drop("doc_id", "query_id")
        .orderBy(F.col("score").desc(), F.col("id").asc())
    )


@pytest.mark.parametrize("categories", [None, ["tech"]])
@pytest.mark.parametrize("mode", ["hybrid", "bm25", "knn", "rerank"])
def test_search_rows_equal_per_query_formula(pipe, mode, categories):
    """Every row search returns (ids, exact scores, every column, order)
    equals the per-query formula on the raw corpus: the cached search view
    and the literal BM25 scalars change no bit of the answer."""
    text = "spark catalyst bread"  # a term of every fixture page
    got = pipe.search(text, size=2, mode=mode, categories=categories)
    want = _per_query_formula(pipe, text, 2, mode, categories)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_search_view_follows_corpus_writes_and_releases_blocks(spark, tmp_path):
    """The search view is rebuilt after every corpus write: an appended
    page can be found by the next search, a deleted id never comes back,
    and the blocks of the previous view and BM25 index are released."""
    p = VectorPipeline(spark, str(tmp_path / "store"), dim=32)
    first, second = tmp_path / "first", tmp_path / "second"
    first.mkdir()
    second.mkdir()
    (first / "fruit.txt").write_text("apples pears and plums in the orchard")
    (second / "zebra.txt").write_text("a zebra grazes the savanna grass")
    p.save_corpus(p.embed(p.parse(str(first))), mode="overwrite")

    def state():
        index = p._bm25  # noqa: SLF001
        frames = (p._search_view(), index.postings, index.doc_lens, index.term_df)  # noqa: SLF001
        blocks = set().union(*(_plan_reads(df) for df in frames))
        assert blocks and blocks <= _cached(spark)
        return frames, blocks

    def released(frames, blocks) -> bool:
        # A corpus write already makes Spark drop the blocks of every cached
        # plan over the corpus path, but it re-registers those plans to be
        # recomputed on next use; released state is no longer registered.
        return not blocks & _cached(spark) and all(
            df.storageLevel == StorageLevel.NONE for df in frames
        )

    p.search("zebra savanna", size=5).collect()
    held = state()
    p.save_corpus(p.embed(p.parse(str(second))), mode="append")
    assert released(*held)
    zebra = p.corpus().filter(F.col("filename") == "zebra.txt").first()["id"]
    for mode in ("hybrid", "bm25"):
        assert p.search("zebra savanna", size=5, mode=mode).first()["id"] == zebra

    held = state()
    p.delete_by_ids([zebra])
    assert released(*held)
    assert p.count() == 1
    for mode in ("hybrid", "bm25", "knn", "rerank"):
        found = p.search("zebra savanna", size=5, mode=mode, min_score=-10.0)
        assert zebra not in [r["id"] for r in found.collect()]


# Spark jobs a warm search may run on collect, as measured on the module
# fixture: the BM25 leg, the kNN leg, fusion, the join back and the sort.
# A corpus pass per query (scan, dedup, fan-out, stats) would add more.
SEARCH_JOBS = {None: 12, ("food",): 13}


def test_warm_search_job_budget(spark, pipe):
    """A warm search runs no Spark job while its DataFrame is built, and at
    most the pinned number on collect: a per-query corpus pass (a scan,
    dedup or fan-out job) would push it over."""
    sc = spark.sparkContext
    pipe.search("bread flour", size=2).collect()  # builds the search view

    def jobs_of(action):
        group = f"search-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "job-count guard")
        try:
            result = action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return result, len(sc.statusTracker().getJobIdsForGroup(group))

    for cats, budget in SEARCH_JOBS.items():
        cats = None if cats is None else list(cats)
        found, built = jobs_of(lambda: pipe.search("bread flour water", size=5, categories=cats))
        assert built == 0
        _, ran = jobs_of(found.collect)
        assert 0 < ran <= budget


def test_training_set_build_respects_budget(spark, sf_dir):
    from auto_vectordb_spark.pipeline import build_training_set

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = build_training_set(docs, quality_min=0.5, token_budget=2000).collect()
    assert out
    assert max(r["cum_tokens"] for r in out) <= 2000
    assert all(r["quality"] >= 0.5 for r in out)


def test_clear_staging_keeps_folder(spark, tmp_path):
    """S17 — reference _clear_folder contract (parsing.py:157-169): wipe the
    staging dir's contents (files AND subfolders), keep the dir, raise when
    it does not exist."""
    p = VectorPipeline(spark, str(tmp_path / "store_s17"), dim=16)
    up = tmp_path / "store_s17" / "uploaded"
    (up / "cat").mkdir(parents=True)
    (up / "top.txt").write_text("x")
    (up / "cat" / "nested.txt").write_text("y")
    p.clear_staging()
    assert up.exists() and list(up.iterdir()) == []
    with pytest.raises(FileNotFoundError):
        p.clear_staging(str(tmp_path / "nope"))


def test_save_corpus_remove_original_gating(spark, tmp_path):
    """remove_original mirrors parsing.py:286-287 — staged originals are
    wiped only AFTER the corpus write materialized them."""
    src = tmp_path / "src17"
    src.mkdir()
    (src / "doc.txt").write_text("gamma delta")
    p = VectorPipeline(spark, str(tmp_path / "store_s17b"), dim=16)
    p.stage_files([str(src / "doc.txt")], server_path="misc")
    staged = p.base / "uploaded" / "misc" / "doc.txt"
    assert staged.exists()
    p.save_corpus(p.embed(p.parse()), mode="overwrite", remove_original=True)
    assert not staged.exists()
    assert p.count() == 1  # data survived the wipe — it was written first


def test_embed_backend_seam(spark, tmp_path):
    """register_backend → embed_udf → VectorPipeline.embed with a genuinely
    different backend (randproj: per-worker weight matrix + batch matmul —
    the mechanics a real model backend uses). Distinct from `hash` output,
    still unit-normalized, deterministic across runs."""
    src = tmp_path / "srcb"
    src.mkdir()
    (src / "a.txt").write_text("spark catalyst tungsten")
    p_hash = VectorPipeline(spark, str(tmp_path / "sb1"), dim=32, embed_backend="hash")
    p_rand = VectorPipeline(spark, str(tmp_path / "sb2"), dim=32, embed_backend="randproj")
    v_hash = p_hash.embed(p_hash.parse(str(src))).first()["embeddings"]
    v_rand = p_rand.embed(p_rand.parse(str(src))).first()["embeddings"]
    v_rand2 = p_rand.embed(p_rand.parse(str(src))).first()["embeddings"]
    assert abs(float(np.linalg.norm(v_rand)) - 1.0) < 1e-5
    assert list(v_rand) == list(v_rand2)  # deterministic
    assert list(v_rand) != list(v_hash)  # a real second implementation
    # driver-side query embedding goes through the same registry
    q = p_rand.embed_texts(["spark catalyst tungsten"])[0]
    assert len(q) == 32 and abs(float(np.linalg.norm(q)) - 1.0) < 1e-5


def test_embed_backend_custom_registration(spark, tmp_path):
    """A user-registered backend (the production seam) flows end-to-end."""
    from auto_vectordb_spark.functions.embedding import register_backend

    def constant_factory(dim):
        def embed(texts):
            out = np.zeros((len(texts), dim), dtype=np.float32)
            out[:, 0] = 1.0
            return out

        return embed

    register_backend("const-test", constant_factory)
    src = tmp_path / "srcc"
    src.mkdir()
    (src / "a.txt").write_text("anything")
    p = VectorPipeline(spark, str(tmp_path / "sbc"), dim=8, embed_backend="const-test")
    v = p.embed(p.parse(str(src))).first()["embeddings"]
    assert list(v) == [1.0] + [0.0] * 7


def test_sentence_transformers_backend_when_available(spark):
    """Real-model backend (reference bge-m3): green where the lib exists,
    cleanly skipped where not (this container lacks it by design)."""
    pytest.importorskip("sentence_transformers")
    from auto_vectordb_spark.functions.embedding import _BACKENDS

    assert "bge-m3" in _BACKENDS
    fn = _BACKENDS["bge-m3"](1024)
    vecs = fn(["hello world"])
    assert vecs.shape == (1, 1024)


def test_ingest_stream_appends_to_corpus(spark, tmp_path):
    """Streaming ingest must flow new staged files through the same
    parse->embed->chunk lineage and append them to the corpus idempotently."""
    p = VectorPipeline(spark, str(tmp_path / "store_s"), dim=16)
    up = tmp_path / "store_s" / "uploaded" / "tech"
    up.mkdir(parents=True)
    (up / "one.txt").write_text("first streamed document")
    q = p.ingest_stream(max_files_per_trigger=1)
    try:
        q.processAllAvailable()
        assert p.count() == 1
        # a second file arrives -> next micro-batch appends it
        (up / "two.txt").write_text("second streamed document")
        q.processAllAvailable()
        assert p.count() == 2
        cats = {r["lv1_cat"] for r in p.corpus().collect()}
        assert cats == {"tech"}
        assert all(r["embeddings"] is not None for r in p.corpus().collect())
    finally:
        q.stop()


def test_quickstart_example_runs(tmp_path):
    """examples/quickstart.py must execute the full endpoint lifecycle.

    Runs in a SUBPROCESS: the example (correctly, for an example) calls
    ``spark.stop()`` at the end, and get_spark()'s getOrCreate would hand it
    the suite's shared session — an in-process import killed the
    SparkContext for every later test file (the r02 mass-failure cascade:
    78 AttributeError/Py4J failures, all downstream of this one stop)."""
    import subprocess
    import sys
    from pathlib import Path

    example = Path(__file__).resolve().parents[1] / "examples" / "quickstart.py"
    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            "import sys, importlib.util\n"
            "sys.path.insert(0, '/root/repo')\n"
            f"spec = importlib.util.spec_from_file_location('quickstart', {str(example)!r})\n"
            "mod = importlib.util.module_from_spec(spec)\n"
            "spec.loader.exec_module(mod)\n"
            f"mod.main({str(tmp_path)!r})\n",
        ],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, f"quickstart failed:\n{proc.stderr[-4000:]}"


def test_lifecycle_example_runs():
    """examples/lifecycle_maintenance.py must execute one full ingest
    cycle (incremental dedup → manifest consumption → IVM merges →
    compaction apply + compacted probe). Subprocess for the same reason
    as quickstart: the example stops its session at the end."""
    import subprocess
    import sys
    from pathlib import Path

    example = (
        Path(__file__).resolve().parents[1]
        / "examples"
        / "lifecycle_maintenance.py"
    )
    proc = subprocess.run(
        [sys.executable, str(example), "/root/testdata/sf0.001"],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, f"lifecycle example failed:\n{proc.stderr[-4000:]}"
    assert "rectangle probe over compacted table" in proc.stdout


def test_erasure_example_runs():
    """examples/erasure_lifecycle.py must execute one full GDPR cycle
    (rollup retract → affected-only rebuilds → dedup-index erasure →
    BM25 tombstones → IVF reclaim → CDC upsert+delete loop). Subprocess
    because the example stops its session at the end."""
    import subprocess
    import sys
    from pathlib import Path

    example = (
        Path(__file__).resolve().parents[1] / "examples" / "erasure_lifecycle.py"
    )
    proc = subprocess.run(
        [sys.executable, str(example), "/root/testdata/sf0.001"],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, f"erasure example failed:\n{proc.stderr[-4000:]}"
    assert "IVF reclaim" in proc.stdout and "replay-safe" in proc.stdout
