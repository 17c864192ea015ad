"""The extraction pipeline operator: ``pages`` → ``results``.

Spark-first design notes (scale target: 10^12 rows / 100 TB):

- **Map-only.** The whole pipeline is one ``mapInPandas`` stage — no shuffle
  in the hot path. The only shuffles in a production run are the resume
  anti-join of a resumed run (broadcast when the done-set is small; AQE
  otherwise; a first run's empty done-set folds away) and an optional
  skew repartition put in front of the extraction.
- **Skew.** Input files are often clustered by crawl host/time, so byte
  sizes correlate within input splits. ``size_bucketed_repartition`` is
  the one skew mechanism: a caller that needs it applies it to the pages
  before ``extract_pages`` (one Exchange, then the same single Python
  stage) — the analog of the reference's size-budget loop
  (``claude_vision_engine.py:107-127``) turned into a partitioning
  decision. With AQE on, skewed post-shuffle partitions are split
  automatically.
- **Quarantine.** A malformed page must not kill a 1000-executor job. The
  reference catches per-file exceptions (``ocr.py:159-163``); here rows are
  gated *before* the UDF (null/oversized html) into an errors DataFrame,
  and the parser itself is total (stdlib HTMLParser never raises on bad
  markup; undecodable bytes are replaced).
- **Arrow batches.** ``spark.sql.execution.arrow.maxRecordsPerBatch`` is
  tuned down in ``plans/session.py`` so multi-MB html payloads don't blow up
  Python-worker memory.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.udfs import extract_map_fn, projected_schema
from ..stages.normalize import OrthographyNormalizer, default_normalizer
from .resume import lineage_tap

# Pages above this are quarantined, mirroring the reference's hard 5 MB
# decoded-image budget (``claude_vision_engine.py:92-95``) scaled to html.
MAX_HTML_BYTES = 16 * 1024 * 1024


def quarantine_reason(max_bytes: int = MAX_HTML_BYTES) -> Column:
    """Why a page is quarantined (``null_html`` / ``oversized_html``), or
    null for a page the extraction takes."""
    return (
        F.when(F.col("html").isNull(), F.lit("null_html"))
        .when(F.length("html") > max_bytes, F.lit("oversized_html"))
    )


def split_quarantine(pages: DataFrame,
                     max_bytes: int = MAX_HTML_BYTES) -> tuple[DataFrame, DataFrame]:
    """(good, quarantined). Quarantined rows keep url + reason for the
    errors table (S5 in SURVEY.md §2.1)."""
    with_reason = pages.withColumn("quarantine_reason",
                                   quarantine_reason(max_bytes))
    good = with_reason.filter(F.col("quarantine_reason").isNull()) \
                      .drop("quarantine_reason")
    bad = with_reason.filter(F.col("quarantine_reason").isNotNull()) \
                     .select("url", "quarantine_reason")
    return good, bad


def size_bucketed_repartition(pages: DataFrame, num_partitions: int) -> DataFrame:
    """Skew-handling repartition on html byte length (north-star
    requirement): range-partition on (log2-size-class, hash) so each task
    holds pages of one size class — task costs become homogeneous, the
    heavy tail is split across as many tasks as its row share warrants,
    and the scheduler's FIFO over many uniform tasks balances the stage
    (longest-task-last stragglers disappear). AQE coalescing then merges
    the small-class tasks.
    """
    size_class = F.floor(F.log2(F.greatest(F.length("html"), F.lit(1))))
    return pages.repartitionByRange(num_partitions, size_class,
                                    F.xxhash64("url"))


def explode_sections(results: DataFrame) -> DataFrame:
    """Wide result rows → one row per layout section (the ``blocks`` shape
    of the SURVEY data model): (url, section, ord, start, end, text).

    Reading order is the span order (header first, then columns left→right,
    ``tesseract_engine.py:158-190``); section text is sliced from
    ``combined`` by its span, so this is pure column algebra — no UDF, no
    reparse.
    """
    sec = F.posexplode("spans").alias("ord", "span")
    exploded = results.select("url", "combined", sec)
    # spans are UTF-8 *byte* offsets; slice the encoded form
    data = F.encode(F.col("combined"), "UTF-8")
    body = F.decode(
        # substring is 1-based; length = end - start
        F.substring(data, F.col("span.start") + 1,
                    F.col("span.end") - F.col("span.start")), "UTF-8")
    return exploded.select(
        "url",
        F.col("span.section").alias("section"),
        F.col("ord").cast("int").alias("ord"),
        F.col("span.start").alias("start"),
        F.col("span.end").alias("end"),
        body.alias("text"),
    )


def extract_pages(pages: DataFrame, normalize: bool | dict = True,
                  output_columns: list[str] | None = None,
                  lineage_acc=None) -> DataFrame:
    """Run the full extraction over a pages DataFrame → RESULT_SCHEMA rows.

    ``normalize``: ``True`` runs the default orthography trie on every row,
    ``False`` skips the pass, and a mapping language code →
    ``OrthographyNormalizer`` (or its ``to_table()`` form) normalizes each
    row with its own language's trie; rows whose language has no table
    keep the reflowed text as ``final`` (X5 coalesce). The mapping form
    reads the ``lang`` column and raises ``ValueError`` without one.

    ``output_columns``: project inside the UDF (Catalyst cannot prune
    through mapInPandas — a downstream select still pays full transfer and
    compute). ``url`` is always included.

    ``lineage_acc``: a ``_LineageAccParam`` accumulator the extraction
    stage feeds per output batch (``lineage_tap``) — the job path's commit
    stats, with no second Python stage.
    """
    if isinstance(normalize, bool):
        df = pages.select("url", "html")
        table = default_normalizer().to_table() if normalize else None
        lang_tables = None
    else:
        if "lang" not in pages.columns:
            raise ValueError(
                "per-language normalize given but input has no 'lang' "
                "column; refusing to silently normalize every row")
        df = pages.select("url", "html", "lang")
        table = None
        lang_tables = {
            lg: (t.to_table() if isinstance(t, OrthographyNormalizer) else t)
            for lg, t in normalize.items()}
    return df.mapInPandas(
        lineage_tap(extract_map_fn(table, output_columns, lang_tables),
                    lineage_acc),
        schema=projected_schema(output_columns))
