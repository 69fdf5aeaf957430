"""MapReduce compatibility facade — the honest descendant of the reference
API (``mapreduce.h``: mr_create / mr_start / mr_finish / mr_produce /
mr_consume) on Spark RDDs.

Surface mapping (SURVEY.md §1.3, §7.1 phase 4):

| reference                          | here                                   |
|------------------------------------|----------------------------------------|
| ``mr_create(map, reduce, threads,  | ``mr_create(map_fn, reduce_fn,         |
|   buffer_size)`` (mapreduce.c:63)  |   partitions)`` — buffer_size has no   |
|                                    |   analogue (shuffle is spill-safe)     |
| ``mr_start(mr, in, out)``          | ``job.start(spark, inpath)`` (lazy)    |
| ``mr_finish(mr)``                  | ``job.finish(outpath)`` / ``.result()``|
| ``mr_produce`` (mapreduce.c:230)   | generator ``yield`` from map_fn        |
| ``mr_consume`` (mapreduce.c:287)   | shuffle-read iterator into reduce_fn   |

``map_fn(index, lines) -> Iterable[(k, v)]`` runs per input partition
(``mapPartitionsWithIndex`` — the analogue of the per-mapper fd + (id,
nmaps) in ``mapreduce.h:48``); Spark's text source already does byte-range
splitting with token-straddle handling, so the app-side boundary adjustment
(``wc_count+0x76-0x12a``) has no equivalent to write.

``reduce_fn(v1, v2) -> v`` merges values per key (``reduceByKey`` — a
*partitioned, partial* reduce, deliberately not the reference's
single-reducer topology, ``mapreduce.c:185``).

Job shape: ``start`` is lazy — it builds the lineage and submits no Spark
job. ``finish``/``result`` run exactly one job of two stages (map with
combine, then ``reduceByKey``). The reference's sorted output (the BST
in-order walk, ``print_tree``, ``mapreduce.c:165-188``) is applied at the
sink: keys are unique after the reduce and the driver already holds every
row, so a driver-side ``sorted`` gives the same total order an RDD
``sortByKey`` would, without its eager sampling jobs and extra shuffle.

``partitions`` is the mapper count (the reference's ``threads``); the
reducer count is ``min(partitions, sc.defaultParallelism)``. Reducers
beyond the cores only add fixed per-task cost, and on PySpark that cost is
large: each Python task pays ~0.20–0.26 s of CPU whatever its input
(measured on a 4-core VM), because the worker's ``setup_spark_files`` calls
``importlib.invalidate_caches()``, which makes each of the worker's ~16
zipimporters re-read the ~1.3k-entry directory of ``pyspark.zip``.

Error propagation: a raising UDF fails the task → job, so a map failure
surfaces from ``finish``/``result``, matching mr_finish's status contract
(``mapreduce.c:201-212``) with retries on top.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterable, Iterator
from typing import Any

from pyspark.sql import SparkSession


def combined_mapper(
    map_fn: Callable[[int, Iterator[str]], Iterable[tuple[Any, Any]]],
    reduce_fn: Callable[[Any, Any], Any],
) -> Callable[[int, Iterator[str]], Iterator[tuple[Any, Any]]]:
    """Framework-level map-side combine: fold each partition's emitted pairs
    into a dict with ``reduce_fn`` BEFORE the shuffle, so shuffled records ≈
    distinct keys per partition, not emitted pairs (~750k → ~vocab×partitions
    for word count). The reference cannot do this — its single reducer is the
    only merge point (``mapreduce.c:185``); per-partition pre-merge with the
    same associative reduce_fn is semantics-preserving and is exactly Spark's
    own partial-aggregation discipline."""

    def mapper(idx: int, lines_it: Iterator[str]) -> Iterator[tuple[Any, Any]]:
        acc: dict[Any, Any] = {}
        for k, v in map_fn(idx, lines_it):
            acc[k] = reduce_fn(acc[k], v) if k in acc else v
        return iter(acc.items())

    return mapper


class MapReduceJob:
    """One map/shuffle/reduce job over a text input, RDD-backed."""

    def __init__(
        self,
        map_fn: Callable[[int, Iterator[str]], Iterable[tuple[Any, Any]]],
        reduce_fn: Callable[[Any, Any], Any],
        partitions: int = 1,
    ) -> None:
        self.map_fn = map_fn
        self.reduce_fn = reduce_fn
        self.partitions = max(1, int(partitions))
        self._rdd = None
        self._t0: float | None = None

    # -- mr_start(mr, inpath, outpath): build the lazy plan ---------------
    def start(self, spark: SparkSession, inpath: str) -> "MapReduceJob":
        sc = spark.sparkContext
        lines = sc.textFile(inpath, minPartitions=self.partitions)
        self._t0 = time.perf_counter()
        self._rdd = lines.mapPartitionsWithIndex(
            combined_mapper(self.map_fn, self.reduce_fn)
        ).reduceByKey(
            self.reduce_fn, numPartitions=min(self.partitions, sc.defaultParallelism)
        )
        return self

    # -- mr_finish: run, optionally sink, report elapsed ------------------
    def result(self) -> list[tuple[Any, Any]]:
        """Run the job; return its rows in ascending key order (the
        reference's ``print_tree`` in-order walk)."""
        if self._rdd is None:
            raise RuntimeError("call start() first")
        return sorted(self._rdd.collect(), key=lambda kv: kv[0])

    def finish(self, outpath: str | None = None, fmt: str = "{0}, {1}\n") -> float:
        """Run the job; write ``fmt``-formatted lines if ``outpath`` given
        (the reference's ``dprintf(outfd, "%s, %d\\n", ...)`` sink,
        ``print_tree+0x3a``); return elapsed seconds (the reference prints
        ``Time = %f`` µs, ``mapreduce.c:224``)."""
        if self._rdd is None:
            raise RuntimeError("call start() first")
        if outpath is not None:
            rows = [fmt.format(k, v).rstrip("\n") + "\n" for k, v in self.result()]
            with open(outpath, "w") as f:
                f.writelines(rows)
        else:
            self._rdd.count()
        return time.perf_counter() - (self._t0 or time.perf_counter())


def mr_create(
    map_fn: Callable[[int, Iterator[str]], Iterable[tuple[Any, Any]]],
    reduce_fn: Callable[[Any, Any], Any],
    partitions: int = 1,
    buffer_size: int | None = None,  # accepted for API parity; no analogue
) -> MapReduceJob:
    """API-parity constructor (``mr_create``, ``mapreduce.h:130``)."""
    del buffer_size  # Spark's shuffle is spill-safe; nothing to size
    return MapReduceJob(map_fn, reduce_fn, partitions)


def mr_destroy(mr: MapReduceJob) -> None:
    """API-parity destructor (``mr_destroy``, ``mapreduce.h:139``): release
    everything mr_create acquired. The job's only held resource is its RDD
    handle (lineage + any materialized shuffle files are dropped once
    unreferenced); executor pools belong to the SparkSession, whose
    lifecycle stays with the caller (``spark.stop()``) — mirroring the
    reference, where worker threads die at mr_finish and mr_destroy frees
    only the instance's own buffers (``mapreduce.c:119-140``)."""
    mr._rdd = None
    mr._t0 = None


# -- the reference's canonical application, as library code ---------------

_TOKEN_RE = None


def wordcount_map(index: int, lines: Iterator[str]) -> Iterator[tuple[str, int]]:
    """W3+W4: tokenize ``[A-Za-z0-9]+`` runs (case-preserving) and emit
    (token, 1) — the recovered ``wc_count``/``get_next_word`` semantics
    (``bin/mr-wordc.o``), minus the hand-rolled byte-range logic that
    Spark's text source subsumes."""
    global _TOKEN_RE
    import re

    if _TOKEN_RE is None:
        _TOKEN_RE = re.compile(r"[A-Za-z0-9]+")
    for line in lines:
        for tok in _TOKEN_RE.findall(line):
            yield tok, 1


def wordcount_reduce(a: int, b: int) -> int:
    """W6: the BST's ``count++`` merge (``find_or_insert+0x96``)."""
    return a + b


def wordcount(spark: SparkSession, inpath: str, outpath: str | None = None, partitions: int = 32):
    """End-to-end reference app: mr_create → mr_start → mr_finish with the
    canonical 32-way parallelism (``test.sh:27``)."""
    job = mr_create(wordcount_map, wordcount_reduce, partitions=partitions)
    job.start(spark, inpath)
    if outpath is not None:
        job.finish(outpath)
        return None
    return job.result()
