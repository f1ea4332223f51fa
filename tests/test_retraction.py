"""operators/retraction.py — delete/retraction merges attested equal to
a from-scratch recompute over the surviving rows.

The defining algebra per family: rollup partials form a GROUP (negated
partials merge exactly, emptied groups drop, all-NULL-survivor groups
finalize to NULL — the n_vals subtlety); top-k and SCD-2 are
non-invertible, so the refill/rebuild must (a) equal from-scratch and
(b) provably touch ONLY affected groups/users — pinned here with poison
rows planted in the base for untouched groups: if the operator consulted
the base for them, the poison would surface in the output.
"""

import pytest
from pyspark.sql import functions as F

from auto_vectordb_spark.operators import incremental as IC
from auto_vectordb_spark.operators import retraction as RT
from auto_vectordb_spark.plans.parity import load_views

SF = "/root/testdata/sf0.001"

CUTOFF = "2024-01-16 00:00:00"


@pytest.fixture(scope="module")
def events(spark):
    return load_views(spark, SF)["events"]


def _rows(df, key_cols):
    return {tuple(r[c] for c in key_cols): r for r in df.collect()}


# ---------------------------------------------------------------- rollup


def test_rollup_retract_equals_from_scratch(spark, events, tmp_path):
    """Persist state for the old batch, merge the new batch, retract a
    GDPR user set — equals the from-scratch rollup of survivors."""
    old = events.where(F.col("ts") < CUTOFF)
    new = events.where(F.col("ts") >= CUTOFF)
    deleted = events.where(F.pmod(F.col("user_id"), F.lit(37)) == 0)
    state = RT.rollup_state_r(old)
    path = str(tmp_path / "rollup_state_r")
    state.write.parquet(path)
    stored = spark.read.schema(state.schema).parquet(path)
    got = _rows(
        RT.rollup_finalize_r(
            RT.rollup_retract(RT.rollup_merge_r(stored, new), deleted)
        ),
        ["window_start", "event_type"],
    )
    survivors = events.where(
        ~F.coalesce(F.pmod(F.col("user_id"), F.lit(37)) == 0, F.lit(False))
    )
    want = _rows(
        RT.rollup_finalize_r(RT.rollup_state_r(survivors)),
        ["window_start", "event_type"],
    )
    assert set(got) == set(want) and len(want) > 0
    for k in want:
        assert got[k].n_events == want[k].n_events
        assert got[k].sum_value == want[k].sum_value  # int64 partials: exact


def test_rollup_retract_drops_emptied_group_and_nulls_sum(spark):
    """Two crafted groups: one fully deleted (must vanish — from-scratch
    never emits it), one whose surviving rows are all NULL-valued (sum
    must finalize to NULL, not 0 — the n_vals case)."""
    schema = "event_id long, user_id long, ts string, event_type string, value double"
    base = spark.createDataFrame(
        [
            (1, 1, "2024-01-01 10:00:00", "gone", 5.0),
            (2, 1, "2024-01-01 10:30:00", "gone", 7.0),
            (3, 2, "2024-01-01 10:00:00", "mix", 9.0),
            (4, 2, "2024-01-01 10:30:00", "mix", None),
        ],
        schema,
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    deleted = base.where(F.col("event_id").isin(1, 2, 3))
    got = _rows(
        RT.rollup_finalize_r(
            RT.rollup_retract(RT.rollup_state_r(base), deleted)
        ),
        ["window_start", "event_type"],
    )
    assert set(got) == {("2024-01-01 10:00", "mix")}
    r = got[("2024-01-01 10:00", "mix")]
    assert r.n_events == 1 and r.sum_value is None


def test_rollup_retract_chains_with_merge(spark, events):
    """retract(merge(retract(s, d1), b2), d2) == from-scratch — the
    output is itself retract-capable state."""
    old = events.where(F.col("ts") < CUTOFF)
    new = events.where(F.col("ts") >= CUTOFF)
    d1 = old.where(F.pmod(F.col("event_id"), F.lit(11)) == 0)
    d2 = new.where(F.pmod(F.col("event_id"), F.lit(13)) == 0)
    chained = RT.rollup_retract(
        RT.rollup_merge_r(
            RT.rollup_retract(RT.rollup_state_r(old), d1), new
        ),
        d2,
    )
    survivors = events.where(
        ~(
            ((F.col("ts") < CUTOFF) & (F.pmod(F.col("event_id"), F.lit(11)) == 0))
            | ((F.col("ts") >= CUTOFF) & (F.pmod(F.col("event_id"), F.lit(13)) == 0))
        )
    )
    got = _rows(
        RT.rollup_finalize_r(chained), ["window_start", "event_type"]
    )
    want = _rows(
        RT.rollup_finalize_r(RT.rollup_state_r(survivors)),
        ["window_start", "event_type"],
    )
    assert set(got) == set(want)
    for k in want:
        assert (got[k].n_events, got[k].sum_value) == (
            want[k].n_events,
            want[k].sum_value,
        )


# ----------------------------------------------------------------- top-k


def _topk_inputs(spark):
    t = load_views(spark, SF)
    return (
        t["orders"]
        .join(
            F.broadcast(t["customer"]),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            "c_mktsegment",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
        )
    )


def test_topk_retract_equals_from_scratch(spark):
    j = _topk_inputs(spark)
    args = (["c_mktsegment"], "o_totalprice", 3, "o_orderkey")
    state = IC.topk_state(j, *args[:3], tie_break=args[3])
    tombs = j.where(F.pmod(F.col("o_orderkey"), F.lit(7)) == 0).select(
        "c_mktsegment", "o_orderkey"
    )
    got = RT.topk_retract(state, j, tombs, *args[:3], tie_break=args[3])
    survivors = j.where(F.pmod(F.col("o_orderkey"), F.lit(7)) != 0)
    want = IC.topk_state(survivors, *args[:3], tie_break=args[3])
    key = lambda df: sorted(
        (r.c_mktsegment, r.o_orderkey, r.o_totalprice) for r in df.collect()
    )
    assert key(got) == key(want)
    per_group = got.groupBy("c_mktsegment").count().collect()
    assert all(r["count"] <= 3 for r in per_group)


def test_topk_retract_touches_only_affected_groups(spark):
    """Poison proof: group B's base contains a row that WOULD enter the
    top-k if B were re-ranked from base, but B's state predates it and no
    tombstone touches B — so B's (stale-by-construction) state must pass
    through verbatim. Also: tombstone below the cut in A2 is a no-op."""
    schema = "g string, id long, score double"
    state = spark.createDataFrame(
        [("A", 1, 9.0), ("A", 2, 8.0), ("B", 10, 5.0), ("B", 11, 4.0)],
        schema,
    )
    base = spark.createDataFrame(
        [
            ("A", 1, 9.0),
            ("A", 2, 8.0),
            ("A", 3, 7.0),  # A's refill candidate
            ("B", 10, 5.0),
            ("B", 11, 4.0),
            ("B", 99, 100.0),  # poison: surfaces only if B consults base
        ],
        schema,
    )
    tombs = spark.createDataFrame([("A", 1)], "g string, id long")
    got = {
        (r.g, r.id): r.score
        for r in RT.topk_retract(
            state, base, tombs, ["g"], "score", 2, "id"
        ).collect()
    }
    assert got == {("A", 2): 8.0, ("A", 3): 7.0, ("B", 10): 5.0, ("B", 11): 4.0}
    # tombstone below the cut: id 3 not in state -> nothing changes
    tombs2 = spark.createDataFrame([("A", 3)], "g string, id long")
    got2 = {
        (r.g, r.id)
        for r in RT.topk_retract(
            state, base, tombs2, ["g"], "score", 2, "id"
        ).collect()
    }
    assert got2 == {("A", 1), ("A", 2), ("B", 10), ("B", 11)}


def test_topk_retract_short_refill_and_emptied_group(spark):
    schema = "g string, id long, score double"
    state = spark.createDataFrame([("A", 1, 9.0), ("A", 2, 8.0)], schema)
    base = spark.createDataFrame([("A", 1, 9.0), ("A", 2, 8.0)], schema)
    # delete one of two -> refill short (1 row < k)
    tombs = spark.createDataFrame([("A", 1)], "g string, id long")
    got = RT.topk_retract(state, base, tombs, ["g"], "score", 2, "id").collect()
    assert [(r.g, r.id) for r in got] == [("A", 2)]
    # delete both -> group disappears
    tombs2 = spark.createDataFrame([("A", 1), ("A", 2)], "g string, id long")
    assert (
        RT.topk_retract(state, base, tombs2, ["g"], "score", 2, "id").count()
        == 0
    )


# ----------------------------------------------------------------- SCD-2


def _scd2_rows(df):
    return sorted(
        (r.user_id, r.state, r.valid_from_s, r.valid_to_s, r.n_events)
        for r in df.collect()
    )


def test_scd2_retract_equals_from_scratch(spark, events):
    state = IC.scd2_state(events)
    deleted = events.where(
        F.pmod(F.col("event_id"), F.lit(101)) == 0
    ).select("user_id", "event_id")
    got = IC.scd2_finalize(RT.scd2_retract(state, events, deleted))
    survivors = events.where(F.pmod(F.col("event_id"), F.lit(101)) != 0)
    want = IC.scd2_finalize(IC.scd2_state(survivors))
    assert _scd2_rows(got) == _scd2_rows(want)


def test_scd2_retract_coalesces_across_deleted_island(spark):
    """Delete the middle island's events entirely: the same-state
    neighbours must coalesce into ONE island — the non-invertible case
    that forces the affected-user rebuild. The untouched user carries a
    poison base row (not reflected in state) that must NOT surface."""
    schema = "event_id long, user_id long, event_type string, ts string"
    base = spark.createDataFrame(
        [
            (1, 1, "view", "2024-01-01 10:00:00"),
            (2, 1, "click", "2024-01-01 11:00:00"),  # middle island
            (3, 1, "view", "2024-01-01 12:00:00"),
            (4, 2, "view", "2024-01-01 10:00:00"),
            (5, 2, "buy", "2024-01-01 13:00:00"),  # poison for user 2
        ],
        schema,
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    # state predates event 5 (user 2's poison): one view island only
    state = IC.scd2_state(base.where(F.col("event_id") != 5))
    deleted = spark.createDataFrame([(1, 2)], "user_id long, event_id long")
    got = {
        (r.user_id, r.state): r
        for r in IC.scd2_finalize(
            RT.scd2_retract(state, base, deleted)
        ).collect()
    }
    # user 1: view islands coalesced (2 events, one open row)
    assert set(got) == {(1, "view"), (2, "view")}
    assert got[(1, "view")].n_events == 2
    assert got[(1, "view")].valid_from_s == "2024-01-01 10:00:00"
    assert got[(1, "view")].valid_to_s is None
    # user 2 untouched: the poison buy event did NOT surface
    assert got[(2, "view")].n_events == 1


def test_scd2_retract_full_user_delete_disappears(spark):
    schema = "event_id long, user_id long, event_type string, ts string"
    base = spark.createDataFrame(
        [
            (1, 1, "view", "2024-01-01 10:00:00"),
            (2, 2, "view", "2024-01-01 10:00:00"),
        ],
        schema,
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    state = IC.scd2_state(base)
    deleted = spark.createDataFrame([(1, 1)], "user_id long, event_id long")
    got = RT.scd2_retract(state, base, deleted).collect()
    assert [(r.user_id, r.state) for r in got] == [(2, "view")]


# --------------------------------------------------------------- sessions


def test_session_retract_equals_from_scratch(spark, events):
    state = IC.session_state(events)
    deleted = events.where(
        F.pmod(F.col("event_id"), F.lit(89)) == 0
    ).select("user_id", "event_id")
    got = _rows(RT.session_retract(state, events, deleted), ["user_id"])
    survivors = events.where(F.pmod(F.col("event_id"), F.lit(89)) != 0)
    want = _rows(IC.session_state(survivors), ["user_id"])
    assert set(got) == set(want)
    for k in want:
        assert (got[k].n_sessions, got[k].n_events) == (
            want[k].n_sessions,
            want[k].n_events,
        )


def test_session_retract_splits_session_and_skips_untouched(spark):
    """Deleting the bridging event widens the gap past the timeout: one
    session becomes two — underivable from the 4 scalars, hence the
    rebuild. The untouched user carries a poison base event (not in
    state) that must NOT surface."""
    schema = "event_id long, user_id long, ts string"
    base = spark.createDataFrame(
        [
            (1, 1, "2024-01-01 10:00:00"),
            (2, 1, "2024-01-01 10:25:00"),  # bridge: both gaps <= 30min
            (3, 1, "2024-01-01 10:50:00"),
            (4, 2, "2024-01-01 10:00:00"),
            (5, 2, "2024-01-01 23:00:00"),  # poison for user 2
        ],
        schema,
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    state = IC.session_state(base.where(F.col("event_id") != 5))
    deleted = spark.createDataFrame([(1, 2)], "user_id long, event_id long")
    got = _rows(RT.session_retract(state, base, deleted), ["user_id"])
    assert got[(1,)].n_sessions == 2 and got[(1,)].n_events == 2  # split
    assert got[(2,)].n_sessions == 1 and got[(2,)].n_events == 1  # untouched


# ------------------------------------------------------------ dedup index


def test_dedup_index_retract_equals_from_scratch(spark):
    from auto_vectordb_spark.operators import dedup as DD

    docs = load_views(spark, SF)["documents"]
    buckets = DD.minhash_bucket_table(docs)
    pairs = DD.minhash_lsh_pairs(docs).select("id_a", "id_b")
    deleted = docs.where(F.pmod(F.col("doc_id"), F.lit(23)) == 0).select("doc_id")
    survivors, upd_b, upd_p = RT.dedup_index_retract(docs, buckets, pairs, deleted)
    # from-scratch over the surviving corpus
    sdocs = docs.where(F.pmod(F.col("doc_id"), F.lit(23)) != 0)
    spairs = DD.minhash_lsh_pairs(sdocs).select("id_a", "id_b")
    comps = DD.connected_components(spairs)
    losers = comps.where(F.col("doc_id") != F.col("component_id")).select("doc_id")
    want = sdocs.join(losers, "doc_id", "left_anti")
    got_ids = {r.doc_id for r in survivors.select("doc_id").collect()}
    want_ids = {r.doc_id for r in want.select("doc_id").collect()}
    assert got_ids == want_ids and len(got_ids) > 0
    # the updated artifacts ARE what the from-scratch run would persist
    sbuckets = DD.minhash_bucket_table(sdocs)
    assert upd_b.exceptAll(sbuckets).count() == 0
    assert sbuckets.exceptAll(upd_b).count() == 0
    assert upd_p.exceptAll(spairs).count() == 0
    assert spairs.exceptAll(upd_p).count() == 0


def test_dedup_index_retract_bridge_split_changes_winners(spark):
    """A~B~C chained near-dups collapse to one keep-one winner; deleting
    the BRIDGE doc B splits the component — both A and C must now survive
    even though neither was deleted (the non-local effect that makes
    index erasure more than an anti-join). The chain topology is fed as
    the STORED artifacts directly (the operator's contract is over the
    persisted graph; real-corpus equivalence is the test above)."""
    from auto_vectordb_spark.operators import dedup as DD

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 9)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    buckets = spark.createDataFrame(
        [(i, 0, "k") for i in (1, 2, 3)], "doc_id long, band int, bkey string"
    )
    # keep-one over the chain: {1,2,3} collapse to winner 1, plus singleton 9
    comps = DD.connected_components(pairs)
    losers = comps.where(F.col("doc_id") != F.col("component_id")).select("doc_id")
    before = {r.doc_id for r in docs.join(losers, "doc_id", "left_anti").collect()}
    assert before == {1, 9}
    deleted = spark.createDataFrame([(2,)], "doc_id long")
    survivors, upd_b, upd_p = RT.dedup_index_retract(docs, buckets, pairs, deleted)
    got = {r.doc_id for r in survivors.select("doc_id").collect()}
    assert got == {1, 3, 9}  # the split: 3 survives without being deleted
    assert upd_p.count() == 0  # both edges touched the bridge
    assert {r.doc_id for r in upd_b.collect()} == {1, 3}


# ------------------------------------------------------------- BM25 index


def _bm25_scores(index, spark, qtext="alpha beta"):
    from auto_vectordb_spark.functions.text import tokenize
    from auto_vectordb_spark.operators import bm25 as BM25

    q = spark.createDataFrame([(0, qtext)], ["query_id", "query_text"])
    terms = q.select(
        "query_id", F.explode(tokenize(F.col("query_text"))).alias("term")
    )
    return {
        r.doc_id: round(r.score, 9)
        for r in BM25.score_terms(index, terms).collect()
    }


def test_bm25_tombstone_lifecycle(spark, tmp_path):
    """delete kills earlier versions; equal-epoch tie goes to the delete;
    a later re-index resurrects; df/N/avgdl are recomputed over LIVE docs
    (scores bit-equal a from-scratch index over the logical corpus)."""
    from auto_vectordb_spark.operators import bm25 as BM25

    idx = str(tmp_path / "idx")
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "alpha delta"),
            (3, "beta epsilon zeta"),
        ],
        "doc_id long, text string",
    )
    RT.bm25_index_append(docs, idx, epoch=0)
    # delete doc 2 at epoch 1 + equal-epoch tie: doc 3 re-indexed AND
    # tombstoned at epoch 1 -> delete wins
    RT.bm25_index_append(docs.where(F.col("doc_id") == 3), idx, epoch=1)
    RT.bm25_delete_docs(
        spark, idx, spark.createDataFrame([(2,), (3,)], "doc_id long"), epoch=1
    )
    got = _bm25_scores(RT.bm25_index_with_deletes(spark, idx), spark)
    want = _bm25_scores(
        BM25.build_index(docs.where(F.col("doc_id") == 1)), spark
    )
    assert got == want and set(got) == {1}
    # epoch 2: resurrect doc 2 -> live again, stats over {1, 2}
    RT.bm25_index_append(docs.where(F.col("doc_id") == 2), idx, epoch=2)
    got2 = _bm25_scores(RT.bm25_index_with_deletes(spark, idx), spark)
    want2 = _bm25_scores(
        BM25.build_index(docs.where(F.col("doc_id").isin(1, 2))), spark
    )
    assert got2 == want2 and set(got2) == {1, 2}


def test_bm25_reader_without_deletes_dir_matches_plain_reader(spark, tmp_path):
    """No deletes/ artifact yet: every doc's latest epoch is live, so the
    reader scores exactly like a from-scratch in-memory index over the
    same docs."""
    from auto_vectordb_spark.operators import bm25 as BM25

    idx = str(tmp_path / "idx2")
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha gamma")], "doc_id long, text string"
    )
    RT.bm25_index_append(docs, idx, epoch=0)
    got = _bm25_scores(RT.bm25_index_with_deletes(spark, idx), spark)
    want = _bm25_scores(BM25.build_index(docs), spark)
    assert got == want and len(got) == 2


def test_bm25_torn_epoch_keeps_previous_version(spark, tmp_path, monkeypatch):
    """doc_lens is the commit marker: when the epoch-2 postings write
    fails, its doc_lens must not land either, and the reader keeps
    serving the epoch-1 index unchanged (a re-indexed doc must not lose
    its postings while still counting in N and avgdl)."""
    from pyspark.sql.readwriter import DataFrameWriter

    idx = str(tmp_path / "torn")
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha delta")], "doc_id long, text string"
    )
    RT.bm25_index_append(docs, idx, epoch=1)
    want = _bm25_scores(RT.bm25_index_with_deletes(spark, idx), spark)

    real_parquet = DataFrameWriter.parquet

    def crash_on_postings(self, path, *args, **kwargs):
        if str(path).endswith("/postings"):
            raise RuntimeError("injected crash in the postings write")
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", crash_on_postings)
    with pytest.raises(RuntimeError, match="injected crash"):
        RT.bm25_index_append(
            spark.createDataFrame([(1, "beta epsilon")], "doc_id long, text string"),
            idx,
            epoch=2,
        )
    monkeypatch.undo()
    got = _bm25_scores(RT.bm25_index_with_deletes(spark, idx), spark)
    assert got == want and set(got) == {1, 2}


# -------------------------------------------------------------- IVF index


def test_ivf_delete_search_and_reclaim(spark, tmp_path):
    """Tombstoned vectors vanish from persisted-IVF search results exactly
    as if the index had been rebuilt over the survivors (same frozen
    centroids — deterministic, so equality is exact, not recall-gated);
    reclaim physically drops them without changing results and KEEPS the
    tombstones (terminal under the epoch-free append contract)."""
    import os

    from auto_vectordb_spark.operators import knn as KNN

    emb = spark.createDataFrame(
        [
            (i, [float(i % 3) + 0.1 * j for j in range(4)], i % 3)
            for i in range(30)
        ],
        "vec_id long, embedding array<double>, label int",
    )
    centroids = KNN.label_centroids(emb)
    path = str(tmp_path / "ivf")
    KNN.ivf_write(KNN.ivf_build(emb, centroids), path)
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    deleted = emb.where(F.pmod(F.col("vec_id"), F.lit(4)) == 0).select("vec_id")
    RT.ivf_delete_vectors(spark, path, deleted)
    got = RT.ivf_search_persisted_with_deletes(
        queries, spark, path, centroids, k=5, nprobe=2
    )
    surv_path = str(tmp_path / "ivf_surv")
    survivors = emb.where(F.pmod(F.col("vec_id"), F.lit(4)) != 0)
    KNN.ivf_write(KNN.ivf_build(survivors, centroids), surv_path)
    want = KNN.ivf_search_persisted(
        queries, spark, surv_path, centroids, k=5, nprobe=2
    )
    key = lambda df: sorted(
        (r.query_id, r.vec_id, round(r.score, 9)) for r in df.collect()
    )
    assert key(got) == key(want) and got.count() > 0
    assert not {r.vec_id for r in got.collect()} & {
        r.vec_id for r in deleted.collect()
    }
    # replayed delete batch: identical ids, absorbed
    RT.ivf_delete_vectors(spark, path, deleted)
    assert key(
        RT.ivf_search_persisted_with_deletes(
            queries, spark, path, centroids, k=5, nprobe=2
        )
    ) == key(want)
    # reclaim: rows physically gone, results unchanged, tombstones kept
    counts = RT.ivf_reclaim_deleted(spark, path)
    assert counts["rows_after"] == counts["rows_before"] - deleted.count()
    assert key(
        RT.ivf_search_persisted_with_deletes(
            queries, spark, path, centroids, k=5, nprobe=2
        )
    ) == key(want)
    assert os.path.isdir(f"{path}_deletes")


def test_ivf_delete_search_without_tombstones_matches_plain(spark, tmp_path):
    from auto_vectordb_spark.operators import knn as KNN

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5], i % 2) for i in range(10)],
        "vec_id long, embedding array<double>, label int",
    )
    centroids = KNN.label_centroids(emb)
    path = str(tmp_path / "ivf2")
    KNN.ivf_write(KNN.ivf_build(emb, centroids), path)
    queries = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    key = lambda df: sorted(
        (r.query_id, r.vec_id, round(r.score, 9)) for r in df.collect()
    )
    got = RT.ivf_search_persisted_with_deletes(
        queries, spark, path, centroids, k=3, nprobe=1
    )
    want = KNN.ivf_search_persisted(queries, spark, path, centroids, k=3, nprobe=1)
    assert key(got) == key(want) and got.count() == 3


def test_bm25_reclaim_physically_drops_dead_docs(spark, tmp_path):
    """Right-to-erasure: after reclaim the dead docs' rows are GONE from
    both artifacts (not just invisible), reader output is bit-identical,
    resurrected docs keep every version row, and tombstones survive so a
    crash-replayed old append still finds its erased ids dead. The
    tombstone-log compaction then squashes duplicate deletes to one row
    per doc without changing anything the reader sees."""
    idx = str(tmp_path / "idx")
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha gamma"), (3, "beta delta")],
        "doc_id long, text string",
    )
    RT.bm25_index_append(docs, idx, epoch=0)
    # delete 2 and 3 (twice: replayed tombstones), resurrect 3 at epoch 2
    dels = spark.createDataFrame([(2,), (3,)], "doc_id long")
    RT.bm25_delete_docs(spark, idx, dels, epoch=1)
    RT.bm25_delete_docs(spark, idx, dels, epoch=1)
    RT.bm25_index_append(docs.where(F.col("doc_id") == 3), idx, epoch=2)
    before = _bm25_scores(RT.bm25_index_with_deletes(spark, idx), spark)
    counts = RT.bm25_reclaim_deleted(spark, idx)
    # dead = doc 2 only (3 was resurrected): its rows physically gone
    lens = spark.read.parquet(f"{idx}/doc_lens")
    assert {r.doc_id for r in lens.select("doc_id").distinct().collect()} == {1, 3}
    assert counts["doc_lens_before"] > counts["doc_lens_after"]
    # resurrected doc keeps BOTH version rows (squashing is compact_index's job)
    assert lens.where(F.col("doc_id") == 3).count() == 2
    assert _bm25_scores(RT.bm25_index_with_deletes(spark, idx), spark) == before
    # tombstone-log compaction: 4 appended rows -> 2 (max epoch per doc)
    dcounts = RT.bm25_compact_deletes(spark, idx)
    assert dcounts == {"deletes_before": 4, "deletes_after": 2}
    assert _bm25_scores(RT.bm25_index_with_deletes(spark, idx), spark) == before
    # a replayed OLD append of the erased doc must still be dead
    RT.bm25_index_append(docs.where(F.col("doc_id") == 2), idx, epoch=0)
    assert _bm25_scores(RT.bm25_index_with_deletes(spark, idx), spark) == before
