"""The epoch loop's write pool (plans/epoch.py): tasks run on worker
threads, where PySpark's thread-local active session is unset — the
per-session Column-tree cache (functions/exprcache.py) must still serve
them — and where the caller's Spark local properties are carried only in
pinned-thread mode."""

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

from mediacrawler_spark.functions.exprcache import cached_exprs


def _tree(n: int) -> list:
    return [F.lit(n).alias("n")]


def test_pool_thread_shares_the_main_threads_trees(spark):
    main = cached_exprs(_tree, 7)
    assert cached_exprs(_tree, 7) is main
    with ThreadPoolExecutor(max_workers=1) as pool:
        assert pool.submit(cached_exprs, _tree, 7).result() is main
        built_in_pool = pool.submit(cached_exprs, _tree, 8).result()
        assert pool.submit(cached_exprs, _tree, 8).result() is built_in_pool
    assert cached_exprs(_tree, 8) is built_in_pool


def test_write_pool_submit_without_pinned_threads(spark, monkeypatch):
    """With PySpark's pinned-thread mode off (PYSPARK_PIN_THREAD=false),
    ``inheritable_thread_target(session)`` returns the session itself,
    not a decorator; the epoch loop's submit must still run the task."""
    from mediacrawler_spark.plans import epoch

    monkeypatch.setattr(epoch, "inheritable_thread_target", lambda session: session)
    with ThreadPoolExecutor(max_workers=1) as pool:
        assert epoch._submit(pool, spark, max, 2, 5).result() == 5
