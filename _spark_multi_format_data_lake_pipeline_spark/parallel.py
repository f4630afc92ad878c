"""Driver-side concurrency for the pipeline's per-file and per-table loops.

Each item of those loops (read one file, write one table, verify one
table, merge one table) submits a handful of small Spark jobs, each about
one task wide.  Run one item at a time and the driver spends most of its
time waiting on job latency while the other cores sit idle; Spark's
scheduler runs jobs submitted from several driver threads side by side,
so the loops submit from a thread pool instead.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait
from typing import TypeVar

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

T = TypeVar("T")
R = TypeVar("R")


def map_tables(
    spark: SparkSession, fn: Callable[[T], R], items: Iterable[T]
) -> list[R]:
    """``[fn(x) for x in items]``, run on up to ``defaultParallelism``
    driver threads (inline when that width is 1 or less).

    Results come back in input order.  When an item raises, the items
    already running finish, the ones not yet started are cancelled, and
    the first failure in input order is raised.  Each call carries the
    calling thread's Spark local properties (job group, description,
    scheduler pool), so the jobs it submits are attributed as if the
    caller had submitted them.
    """
    items = list(items)
    width = min(len(items), spark.sparkContext.defaultParallelism)
    if width <= 1:
        return [fn(x) for x in items]

    def carry_properties(f):
        inherit = inheritable_thread_target(spark)
        # with PYSPARK_PIN_THREAD=false PySpark returns the session as is:
        # threads then have no local properties of their own to carry
        return f if inherit is spark else inherit(f)

    with ThreadPoolExecutor(max_workers=width, thread_name_prefix="map-tables") as pool:
        # wrap per item, in this thread: each call gets its own copy of the
        # caller's local properties; one copy shared by several threads
        # would be written by all of them (each SQL execution sets its
        # execution id there)
        futures = [pool.submit(carry_properties(fn), x) for x in items]
        wait(futures, return_when=FIRST_EXCEPTION)
        for f in futures:
            f.cancel()
    for f in futures:
        if not f.cancelled() and f.exception() is not None:
            raise f.exception()
    return [f.result() for f in futures]
