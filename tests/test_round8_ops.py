"""Round-8 pins: the r7 ADVICE fixes made verifiable.

1. the /tmp out-of-order split cache folds a CONTENT fingerprint of
   the source table into its tag — regenerating a corpus in place
   rebuilds the split instead of streaming stale data;
2. the contamination Bloom bitset lives in the serving cache, so
   ``serving.invalidate(sf_dir)`` drops it like every other derived
   structure (no private module dict can go stale);
3. the reorder-buffered transitions operator RAISES when actual
   disorder exceeds ``horizon_us`` instead of silently pairing a
   too-late row as if it arrived in order.
"""

from __future__ import annotations

import os

import pytest

from tests.conftest import TEST_SF_DIR


def test_split_cache_tag_changes_when_table_rewritten(spark, tmp_path):
    """_table_fingerprint must change on an in-place rewrite (same
    path, different contents/mtime) — that is the whole cache key fix."""
    from codegraph_spark.streaming.incremental import _table_fingerprint

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    spark.createDataFrame([(1, "a")], "doc_id long, text string").coalesce(
        1
    ).write.parquet(os.path.join(sf, "documents.parquet"))
    fp1 = _table_fingerprint(sf, "documents")
    assert fp1 == _table_fingerprint(sf, "documents")  # stable when unchanged
    spark.createDataFrame([(2, "b"), (3, "c")], "doc_id long, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))
    fp2 = _table_fingerprint(sf, "documents")
    assert fp1 != fp2


def test_shuffled_split_rebuilt_after_inplace_rewrite(spark, tmp_path):
    """End-to-end: the ooo documents split must reflect the REWRITTEN
    corpus, not the first build (r7 ADVICE medium)."""
    from codegraph_spark.streaming.incremental import read_documents_stream_shuffled

    sf = str(tmp_path / "sf")
    os.makedirs(sf)

    def write(ids):
        spark.createDataFrame(
            [(i, f"t{i}") for i in ids], "doc_id long, text string"
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(sf, "documents.parquet")
        )

    def drain_ids(n_files=2):
        stream = read_documents_stream_shuffled(spark, sf, n_files=n_files)
        from codegraph_spark.streaming.incremental import run_available_now

        out = run_available_now(stream.select("doc_id"), output_mode="append")
        return sorted(r["doc_id"] for r in out.collect())

    write([1, 2, 3, 4])
    assert drain_ids() == [1, 2, 3, 4]
    write([10, 11])  # in-place regeneration, same path
    assert drain_ids() == [10, 11]


def test_bloom_bitset_dropped_by_serving_invalidate(spark):
    """The bitset is serving-cached under (sf_dir,
    'contamination_bloom_bitset'); invalidate(sf_dir) must drop it."""
    from codegraph_spark import serving
    from codegraph_spark.queries.dedup import text_contamination_bloom

    def bitset():
        group = serving._CACHE.get(
            (spark.sparkContext.applicationId, os.path.abspath(TEST_SF_DIR))
        )
        entry = (group or {}).get(("contamination_bloom_bitset",))
        return entry and entry[0]

    text_contamination_bloom(spark, TEST_SF_DIR)
    packed = bitset()
    assert isinstance(packed, list) and len(packed) == 1024  # 2^16 bits / 64
    assert serving.invalidate(TEST_SF_DIR) >= 1
    assert bitset() is None
    # rebuild on next call reproduces the identical filter
    text_contamination_bloom(spark, TEST_SF_DIR)
    assert bitset() == packed


def test_buffered_transitions_raises_when_disorder_exceeds_horizon(
    spark, tmp_path
):
    """A row arriving BEHIND the last emitted pair position proves the
    horizon contract was violated — the operator must fail loudly
    (r7 ADVICE low: it used to buffer-and-pair it as if in order)."""
    import datetime as dt

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from codegraph_spark.streaming.incremental import (
        run_available_now,
        streaming_transitions_buffered,
    )
    from tests.test_round7_streaming import _write_parts

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    schema = "event_id long, user_id long, event_type string, ts timestamp"
    # horizon 1s; batch 1 advances max_ts to 30s, EMITTING A(1s),B(2s);
    # batch 2 then delivers ts=1s — it sorts BEFORE the already-emitted
    # B, disorder 29s >> horizon → raise, never silently pair after B
    src = _write_parts(
        spark,
        tmp_path,
        "lateviolation",
        [
            [(1, 1, "A", t(1)), (2, 1, "B", t(2)), (9, 1, "Z", t(30))],
            [(0, 1, "C", t(1))],
        ],
        schema,
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*.parquet")
    )
    with pytest.raises(StreamingQueryException, match="disorder exceeds"):
        run_available_now(
            streaming_transitions_buffered(stream, 1_000_000),
            output_mode="update",
        )


# --- assign_ivf_auto policy seam (r7 VERDICT item 2) -------------------------


def test_assignment_strategy_tiers():
    from codegraph_spark.queries.similarity import (
        _IVF_BNLJ_MAX_K,
        _IVF_TWO_LEVEL_CELLS,
        _assignment_strategy,
    )

    assert _assignment_strategy(8, 64) == "bnlj"
    assert _assignment_strategy(_IVF_BNLJ_MAX_K, 64) == "bnlj"
    assert _assignment_strategy(_IVF_BNLJ_MAX_K + 1, 64) == "flat"
    assert _assignment_strategy(2048, 64) == "flat"  # adaptive-k probe regime
    k_big = _IVF_TWO_LEVEL_CELLS // 64 + 1
    assert _assignment_strategy(k_big, 64) == "two_level"
    # the tier sequence is monotone in k at fixed d
    tiers = [_assignment_strategy(k, 64) for k in (1, 65, 4096, 10**6)]
    assert tiers == ["bnlj", "flat", "flat", "two_level"]


def test_assign_ivf_auto_dispatch_and_agreement(spark):
    """All three kernels must agree vec_id->cluster on the separated
    planted corpus, and the auto seam must pick each tier when its
    threshold says so (driven via the override knobs, since a true
    k > 65k run has no place in a unit test)."""
    from codegraph_spark.queries.similarity import (
        _PLANT_G,
        _planted_corpus,
        assign_ivf_auto,
        train_ivf_kmeans_sampled,
    )

    emb = _planted_corpus(spark)
    cents = train_ivf_kmeans_sampled(emb, k=_PLANT_G, iters=4)

    def clusters(**kw):
        return dict(
            (r["vec_id"], r["cluster"])
            for r in assign_ivf_auto(emb, cents, **kw).select("vec_id", "cluster").collect()
        )

    # k=16, d=16: default policy -> bnlj; force flat; force two-level
    a_bnlj = clusters()
    a_flat = clusters(bnlj_max_k=1)
    a_two = clusters(bnlj_max_k=1, two_level_cells=1, n_probe=4)
    assert a_bnlj == a_flat == a_two
    assert len(a_bnlj) == 4096


def test_two_level_assignment_through_dedup_semantic_pipeline(spark):
    """The r7 VERDICT done-criterion: a k past the broadcast threshold
    driven through dedup_semantic's pipeline SHAPE (assign -> exact-
    group collapse -> within-cluster rep pairs -> min-id keeper) with
    the escalated kernel engaged, output equal to the flat kernel's."""
    from pyspark.sql import functions as F

    from codegraph_spark.queries.similarity import (
        _planted_corpus,
        assign_ivf_auto,
        train_ivf_kmeans_sampled,
    )

    # planted corpus + exact clones (dedup_semantic's augmentation)
    base = _planted_corpus(spark)
    clones = base.filter(F.col("vec_id") % 40 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "v"
    )
    corpus = base.unionByName(clones)

    def pruned(two_level_cells):
        cents = train_ivf_kmeans_sampled(base, k=16, iters=4)
        inv = assign_ivf_auto(
            corpus, cents, bnlj_max_k=1, two_level_cells=two_level_cells, n_probe=4
        )
        groups = inv.groupBy("cluster", "v").agg(F.min("vec_id").alias("rep_id"))
        members = inv.join(groups, ["cluster", "v"]).select(
            "cluster", "vec_id", "rep_id"
        )
        dup = members.filter(F.col("vec_id") != F.col("rep_id")).select(
            "cluster",
            F.col("vec_id").alias("pruned_id"),
            F.col("rep_id").alias("kept_id"),
        )
        return sorted(tuple(r) for r in dup.collect())

    flat = pruned(two_level_cells=1 << 22)   # stays on the flat kernel
    two = pruned(two_level_cells=1)          # forces the two-level kernel
    assert flat == two
    # every planted clone is pruned (the jitter formula also repeats
    # naturally, so the corpus holds MORE exact dups than the clones)
    pruned_ids = {p for _, p, _ in flat}
    assert {i + 1_000_000 for i in range(0, 4096, 40)} <= pruned_ids
    assert all(k < p for _, p, k in flat)  # keeper is always the smaller id
