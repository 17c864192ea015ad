"""Checkpoint-resume (J1/S2) and per-partition lineage metrics.

The reference resumes by probing for ``combined.txt`` per file
(``ocr.py:45-47,151-181``). At table scale that existence probe is a
**left-anti join** of the input against the committed results keys — a real
relational operator here. The done-set is usually much smaller than the
input on a resumed run's *remaining* work, but can be huge in absolute
terms; the join therefore stays a shuffle join unless the caller knows the
done-set is small and asks for a broadcast. On a first run the done-set is
an empty relation Catalyst can prove empty (``read_done_urls``), so the
join and its shuffle are optimized away.

Lineage rides the map stage: the one ``mapInPandas`` stage that produces
the results feeds a dict accumulator batch by batch (``lineage_tap``), so
a job run is one scan of the input, one Python stage and the commit.
"""

from __future__ import annotations

import time

from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def resume_filter(pages: DataFrame, done_urls: DataFrame,
                  broadcast_done: bool = False,
                  key_col: str = "url") -> DataFrame:
    """Rows of ``pages`` not yet committed: ``pages ⟕̸ done ON key``."""
    done = done_urls.select(key_col).distinct()
    if broadcast_done:
        done = F.broadcast(done)
    return pages.join(done, key_col, "left_anti")


class _LineageAccParam(AccumulatorParam):
    """Dict accumulator {partition_id: [n_urls, bytes_in, n_blocks,
    n_mastheads]} merged by per-key elementwise addition."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for k, v in b.items():
            cur = a.get(k)
            a[k] = [x + y for x, y in zip(cur, v)] if cur else list(v)
        return a


# partition_id is LONG: the pre-accumulator lineage writer inferred int64
# from collected Python ints, and parquet appends to an existing lineage
# dir must not mix INT32 files into an INT64 column
LINEAGE_SCHEMA = ("partition_id long, n_urls long, bytes_in long, "
                  "n_blocks long, n_mastheads long")


def lineage_tap(map_fn, acc):
    """``map_fn`` (a ``mapInPandas`` function) with every batch it yields
    counted into the lineage accumulator ``acc`` as ``{partition_id:
    [n_urls, bytes_in, n_blocks, n_mastheads]}`` — inside the same Python
    stage, so lineage costs no second pass over the results. Batches
    without a ``metrics`` column (projected output, raster geometry) count
    rows only. ``acc=None`` returns ``map_fn`` unchanged.

    Accumulator exactly-once caveat: Spark applies accumulator updates from
    *successful result-stage tasks* exactly once, and a sink write is a
    result stage (each task commits), so retried/speculative tasks don't
    double-count. Updates from re-run shuffle-stage tasks can double-count
    — don't put a shuffle between the tapped stage and the write."""
    if acc is None:
        return map_fn

    def fn(batches):
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId()
        for pdf in map_fn(batches):
            n = len(pdf)
            if n:
                if "metrics" in pdf:
                    ms = pdf["metrics"]
                    stats = [n, int(sum(m["html_bytes"] for m in ms)),
                             int(sum(m["n_blocks"] for m in ms)),
                             int(sum(1 for m in ms if m["has_masthead"]))]
                else:
                    stats = [n, 0, 0, 0]
                acc.add({pid: stats})
            yield pdf

    return fn


def _passthrough(batches):
    yield from batches


def with_lineage_stats(results: DataFrame, acc) -> DataFrame:
    """A separate pass-through stage that feeds ``acc`` like
    :func:`lineage_tap` — for results built without the tap. Job paths
    pass the accumulator to the producing stage instead, which saves this
    stage's second Arrow round trip of every result row."""
    return results.mapInPandas(lineage_tap(_passthrough, acc),
                               schema=results.schema)


def lineage_rows_from_stats(spark: SparkSession, stats: dict) -> DataFrame:
    return spark.createDataFrame(
        [(int(pid), *(int(x) for x in v)) for pid, v in sorted(stats.items())],
        LINEAGE_SCHEMA)


def run_with_resume_bucketed(spark: SparkSession, pages_table: str,
                             results_table: str, n_buckets: int = 64,
                             extract_kwargs: dict | None = None) -> int:
    """Resume over *bucketed catalog tables*: with both the pages snapshot
    and the committed results bucketed by ``url`` on the same bucket count,
    the per-batch anti-join reads matching buckets side by side — NO
    shuffle of the 10^12-row pages table per resume (the dominant
    non-map-stage cost of the path-based variant at scale; asserted
    shuffle-free in tests/test_plans.py).

    The bucketed append itself needs no shuffle either (each task streams
    rows into per-bucket files); the cost is file count — tasks × buckets
    per batch — which compaction or a pre-``repartition(n_buckets, url)``
    handles when batches are small.

    Returns the number of newly committed rows.
    """
    from .extract import extract_pages, split_quarantine

    pages = spark.table(pages_table)
    if spark.catalog.tableExists(results_table):
        done = spark.table(results_table).select("url")
    else:  # provably empty: Catalyst drops the anti-join (read_done_urls)
        done = spark.createDataFrame([], "url string").limit(0)
    todo = resume_filter(pages, done)
    good, _bad = split_quarantine(todo)
    # commit stats ride an accumulator in the extraction stage: ONE scan
    acc = spark.sparkContext.accumulator({}, _LineageAccParam())
    results = extract_pages(good, lineage_acc=acc, **(extract_kwargs or {}))
    results.write.mode("append") \
        .bucketBy(n_buckets, "url").sortBy("url") \
        .format("parquet").saveAsTable(results_table)
    return sum(v[0] for v in acc.value.values())


def run_with_resume(spark: SparkSession, pages: DataFrame, out_path: str,
                    lineage_path: str | None = None,
                    extract_kwargs: dict | None = None,
                    transform=None, key_col: str = "url") -> int:
    """One resumable batch: anti-join done keys, process, commit, lineage.

    ``transform(todo, acc)`` is the batch pipeline (DataFrame →
    DataFrame); it must pass the lineage accumulator ``acc`` to the Python
    stage that produces its output (``lineage_tap``), or lineage and the
    returned count stay 0. The default is the html extraction path
    (quarantine split + ``extract_pages``). Pass e.g.
    ``lambda df, acc: segment_image_pages(df, lineage_acc=acc)`` with
    ``key_col="page_id"`` for a resumable raster-geometry backfill — the
    resume/commit/lineage machinery is payload-agnostic as long as the
    output carries ``key_col``.

    Returns the number of newly committed rows. Idempotent: re-running after
    a kill processes only un-committed keys (parquet job commits are atomic;
    with Iceberg this is a snapshot append).

    Commit-stats lineage: the per-partition counts/bytes/blocks ride a dict
    accumulator fed from inside the one Python stage that produces the
    results (``lineage_tap``), so the batch is scanned and extracted
    exactly ONCE and crosses the Arrow boundary once each way — no persist,
    no second pass-through stage, and the committed output table is never
    re-read either. On a first run the empty done-set folds away, so the
    plan is scan → Python stage → write with no shuffle. The
    lineage rows (one per task partition, tiny) are created driver-side
    from the accumulator AFTER the commit succeeds, so a killed run never
    records lineage for an uncommitted batch.
    """
    from ..sources.sinks import read_done_urls, write_lineage, write_results

    done = read_done_urls(spark, out_path, key_col=key_col)
    todo = resume_filter(pages, done, key_col=key_col)
    acc = spark.sparkContext.accumulator({}, _LineageAccParam())
    if transform is None:
        from .extract import extract_pages, split_quarantine
        good, _bad = split_quarantine(todo)
        results = extract_pages(good, lineage_acc=acc,
                                **(extract_kwargs or {}))
    else:
        results = transform(todo, acc)
    write_results(results, out_path)
    stats = acc.value
    n = sum(v[0] for v in stats.values())
    if n and lineage_path:
        lineage = lineage_rows_from_stats(spark, stats) \
            .withColumn("committed_at", F.lit(int(time.time())))
        write_lineage(lineage, lineage_path)
    return n
