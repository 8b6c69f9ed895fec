"""The one reuse layer (kats_spark/reuse.py): context turnover, the LRU
bound, re-registration after clearCache, and a guard against parallel
memos growing back elsewhere."""

import ast
import os

from pyspark.sql import functions as F

import kats_spark
from kats_spark import reuse


def _cached(df) -> bool:
    level = df.storageLevel  # asks the JVM cache manager, not the Python flag
    return level.useMemory or level.useDisk


def _held(namespace: str) -> list:
    return [
        obj
        for (_, ns, _), (_, held) in reuse._ENTRIES.items()
        if ns == namespace
        for obj in held
    ]


def test_entries_of_another_context_are_dropped_and_released(spark, monkeypatch):
    reuse.drop()
    frame = spark.range(41).withColumn("x", F.col("id") * 3).persist()
    bc = spark.sparkContext.broadcast([1, 2, 3])
    reuse.put("t_ctx", ("a",), "kept", (frame, bc))
    assert reuse.get("t_ctx", ("a",)) == "kept"
    assert _cached(frame) and bc._jbroadcast.isValid()

    monkeypatch.setattr(reuse, "context_key", lambda: ("another-app", 0))
    assert reuse.get("t_ctx", ("a",)) is None
    assert reuse.stats("t_ctx").live == 0
    assert not _cached(frame)
    assert not bc._jbroadcast.isValid()


def test_bound_evicts_least_recently_used_and_releases(spark, monkeypatch):
    reuse.drop()
    monkeypatch.setattr(reuse, "MAX_ENTRIES", 3)
    frames = [spark.range(100 + i).persist() for i in range(4)]
    bcs = [spark.sparkContext.broadcast(i) for i in range(4)]
    for i in range(3):
        reuse.put("t_lru", i, f"v{i}", (frames[i], bcs[i]))
    assert reuse.get("t_lru", 0) == "v0"  # entry 1 is now least recent
    reuse.put("t_lru", 3, "v3", (frames[3], bcs[3]))

    assert reuse.get("t_lru", 1) is None
    assert not _cached(frames[1]) and not bcs[1]._jbroadcast.isValid()
    for i in (0, 2, 3):
        assert reuse.get("t_lru", i) == f"v{i}"
        assert _cached(frames[i]) and bcs[i]._jbroadcast.isValid()
    assert reuse.stats("t_lru") == (4, 1, 3)

    reuse.drop("t_lru")
    assert not any(_cached(f) for f in frames)
    assert not any(b._jbroadcast.isValid() for b in bcs)


def test_hit_re_registers_stage_set_and_ivfpq_persists(spark, sf_dir):
    """After an external clearCache, a hit of the corpus stage set, of
    the ivfpq coarse entry and of a prepared query on hourly_series
    re-registers every persist they hold."""
    from kats_spark.operators import resample
    from kats_spark.plans import pipeline_queries, queries, queries2

    reuse.drop("corpus_stages")
    reuse.drop("ivfpq_coarse")
    pipeline_queries._corpus_stages(spark, sf_dir)
    queries2.q_ivfpq_recall(spark, sf_dir)
    queries.q_mk_rolling(spark, sf_dir)
    stage_frames, coarse_frames = _held("corpus_stages"), _held("ivfpq_coarse")
    # scored + exact + the two AllPairs frames; indexed + centers
    assert len(stage_frames) == 4 and len(coarse_frames) == 2
    assert all(_cached(f) for f in stage_frames + coarse_frames)
    # never cached itself: equal to the hourly cache's plan, so its
    # storageLevel is whatever the cache manager holds for that plan
    hourly = resample.aggregate_to_grid(
        queries.raw_series(spark, sf_dir), 3600, "avg"
    ).repartition("series_id")
    assert _cached(hourly)

    spark.catalog.clearCache()
    assert not any(_cached(f) for f in stage_frames + coarse_frames)
    assert not _cached(hourly)
    hits = reuse.stats("corpus_stages").hits, reuse.stats("ivfpq_coarse").hits
    prepared_hits = reuse.stats("prepared").hits
    pipeline_queries._corpus_stages(spark, sf_dir)
    queries2.q_ivfpq_recall(spark, sf_dir)
    queries.q_mk_rolling(spark, sf_dir)
    assert (reuse.stats("corpus_stages").hits, reuse.stats("ivfpq_coarse").hits) == (
        hits[0] + 1,
        hits[1] + 1,
    )
    assert all(_cached(f) for f in stage_frames + coarse_frames)
    assert reuse.stats("prepared").hits == prepared_hits + 1
    assert _cached(hourly)


def test_no_parallel_memos_outside_reuse():
    """Only reuse.py may read SparkContext.startTime (the context key) or
    bind a module-level *_MEMO / *_PERSISTED container."""
    root = os.path.dirname(kats_spark.__file__)
    bad = []
    for d, _, files in os.walk(root):
        for name in files:
            path = os.path.join(d, name)
            if not name.endswith(".py") or path == os.path.join(root, "reuse.py"):
                continue
            rel = os.path.relpath(path, root)
            tree = ast.parse(open(path).read(), rel)
            for node in ast.walk(tree):
                if isinstance(node, ast.Attribute) and node.attr == "startTime":
                    bad.append(f"{rel}:{node.lineno} reads .startTime")
            for node in tree.body:
                if isinstance(node, ast.Assign):
                    targets = node.targets
                elif isinstance(node, ast.AnnAssign):
                    targets = [node.target]
                else:
                    continue
                for t in targets:
                    for n in ast.walk(t):
                        if isinstance(n, ast.Name) and n.id.endswith(("_MEMO", "_PERSISTED")):
                            bad.append(f"{rel}:{node.lineno} binds {n.id}")
    assert not bad, "memo outside kats_spark/reuse.py: " + "; ".join(bad)
