"""serving.shared_df: one build per (session, key), persisted reuse;
bounded LRU over dataset dirs + invalidate/clear with unpersist-on-evict;
ancestor/descendant invalidation and release of only what the store
persisted."""

from __future__ import annotations

from codegraph_spark import serving


def test_shared_df_builds_once_and_reuses(spark):
    from codegraph_spark.serving import shared_df

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(10)

    a = shared_df(spark, ("t", "k1"), build)
    b = shared_df(spark, ("t", "k1"), build)
    assert calls["n"] == 1
    assert a is b
    assert a.storageLevel.useMemory  # persisted
    assert a.count() == 10


def test_shared_df_key_isolation(spark):
    from codegraph_spark.serving import shared_df

    x = shared_df(spark, ("t", "iso-a"), lambda: spark.range(1))
    y = shared_df(spark, ("t", "iso-b"), lambda: spark.range(2))
    assert x.count() == 1 and y.count() == 2


def _live() -> set[str]:
    """Dataset dirs with a live group in the store."""
    return {ds for _, ds in serving._CACHE}


def test_lru_evicts_oldest_dataset_and_unpersists(spark):
    serving.clear()
    handles = {}
    for i in range(serving._MAX_DATASETS + 2):
        ds = f"/fake/ds-{i}"
        # distinct plan per dataset (as real per-dir scans are):
        # identical plans would share one CacheManager entry
        handles[ds] = serving.shared_df(
            spark, (ds, "tbl"), lambda i=i: spark.range(100 + i), eager=True
        )
    live = _live()
    assert len(live) == serving._MAX_DATASETS
    # the two oldest dataset dirs were evicted wholesale...
    assert "/fake/ds-0" not in live and "/fake/ds-1" not in live
    # ...and their DataFrames unpersisted (blocks released)
    assert not handles["/fake/ds-0"].storageLevel.useMemory
    assert not handles["/fake/ds-1"].storageLevel.useMemory
    # survivors still cached
    assert handles[f"/fake/ds-{serving._MAX_DATASETS + 1}"].storageLevel.useMemory
    serving.clear()


def test_touch_refreshes_lru_order(spark):
    serving.clear()
    for i in range(serving._MAX_DATASETS):
        serving.shared_df(spark, (f"/fake/t-{i}", "tbl"), lambda i=i: spark.range(200 + i))
    # re-read the oldest: it must survive the next insertion
    serving.shared_df(spark, ("/fake/t-0", "tbl"), lambda: spark.range(200))
    serving.shared_df(spark, ("/fake/t-new", "tbl"), lambda: spark.range(300))
    live = _live()
    assert "/fake/t-0" in live
    assert "/fake/t-1" not in live  # the actual LRU victim
    serving.clear()


def test_invalidate_drops_only_that_dataset_and_rebuilds(spark):
    serving.clear()
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(7)

    df1 = serving.shared_df(spark, ("/fake/inv-a", "tbl"), build)
    serving.shared_df(spark, ("/fake/inv-b", "tbl"), lambda: spark.range(2))
    assert serving.invalidate("/fake/inv-a") == 1
    assert not df1.storageLevel.useMemory
    assert _live() == {"/fake/inv-b"}
    serving.shared_df(spark, ("/fake/inv-a", "tbl"), build)
    assert calls["n"] == 2  # rebuilt after invalidation
    serving.clear()
    assert not serving._CACHE


def test_active_dataset_with_old_entry_is_not_self_evicted(spark):
    """Regression (round-6 review): group LRU rank comes from
    first-occurrence order, so a dataset holding an OLD cache entry
    must be re-ranked most-recent BEFORE eviction runs when a new
    entry is added for it — otherwise the insert itself evicts the
    DataFrame being returned and the active dataset thrashes."""
    serving.clear()
    # D gets an early entry...
    serving.shared_df(spark, ("/fake/act-D", "a"), lambda: spark.range(400))
    # ...then _MAX_DATASETS - 1 other datasets age it to the LRU front
    for i in range(serving._MAX_DATASETS - 1):
        serving.shared_df(spark, (f"/fake/act-{i}", "a"), lambda i=i: spark.range(500 + i))
    # a SECOND entry for D must keep D (and both its entries) cached
    df = serving.shared_df(spark, ("/fake/act-D", "b"), lambda: spark.range(450))
    assert "/fake/act-D" in _live()
    assert df.storageLevel.useMemory
    app = spark.sparkContext.applicationId
    assert len(serving._CACHE[(app, "/fake/act-D")]) == 2
    # the victim is the oldest OTHER dataset... none evicted yet (4 groups)
    serving.shared_df(spark, ("/fake/act-new", "a"), lambda: spark.range(600))
    live = _live()
    assert "/fake/act-D" in live          # D stayed (recently touched)
    assert "/fake/act-0" not in live      # true LRU evicted
    serving.clear()



def test_invalidate_matches_ancestors_and_descendants(spark):
    """Rewriting X/nodes drops what was built over X (and over X/nodes
    itself or below it), but not a sibling whose name shares a prefix."""
    serving.clear()
    for ds in ("/fake/g", "/fake/g/nodes", "/fake/g/nodes/part", "/fake/gx"):
        serving.shared_obj(spark, (ds, "x"), lambda: object())
    assert serving.invalidate("/fake/g/nodes/") == 3
    assert _live() == {"/fake/gx"}
    serving.clear()


def test_dataset_dir_normalized_once(spark, tmp_path, monkeypatch):
    """A relative and an absolute spelling of one dir share one group."""
    serving.clear()
    monkeypatch.chdir(tmp_path)
    serving.shared_obj(spark, ("ds", "x"), lambda: 1)
    assert serving.shared_obj(spark, (str(tmp_path / "ds"), "x"), lambda: 2) == 1
    assert serving.invalidate("./ds/") == 1
    serving.clear()


def test_release_unpersists_only_store_persisted(spark):
    """A lazy plan held via shared_obj is dropped by reference: the
    caller's own persist() of the same plan survives invalidation."""
    serving.clear()
    plan = spark.range(700)
    serving.shared_obj(spark, ("/fake/own", "plan"), lambda: plan)
    owned = serving.shared_df(spark, ("/fake/own", "df"), lambda: spark.range(701))
    plan.persist()
    assert serving.invalidate("/fake/own") == 2
    assert plan.storageLevel.useMemory
    assert not owned.storageLevel.useMemory
    plan.unpersist()


def test_stamp_change_rebuilds_in_place(spark):
    serving.clear()
    calls = []

    def build():
        calls.append(1)
        return len(calls)

    assert serving.shared_obj(spark, ("/fake/st", "v"), build, stamp=1) == 1
    assert serving.shared_obj(spark, ("/fake/st", "v"), build, stamp=1) == 1
    assert serving.shared_obj(spark, ("/fake/st", "v"), build, stamp=2) == 2
    app = spark.sparkContext.applicationId
    assert serving._CACHE[(app, "/fake/st")] == {("v",): (2, 2, False)}
    serving.clear()

def test_warm_views_restores_session_conf(spark, sf_dir):
    """The warehouse build must leave session-global planning conf
    exactly as it found it: bfs_reachable's _tiny_shuffle scope toggles
    shuffle partitions + AQE, and a leak here silently de-optimizes
    every subsequently compiled plan in the session (the class of bug
    that made the concurrent view build unsafe)."""
    from codegraph_spark.queries.traversals import warm_views

    keys = ["spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled"]
    before = {k: spark.conf.get(k) for k in keys}
    warm_views(spark, sf_dir)
    assert {k: spark.conf.get(k) for k in keys} == before
