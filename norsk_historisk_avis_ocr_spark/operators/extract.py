"""The extraction pipeline operator: ``pages`` → ``results``.

Spark-first design notes (scale target: 10^12 rows / 100 TB):

- **Map-only.** The whole pipeline is one ``mapInPandas`` stage — no shuffle
  in the hot path. The only shuffles in a production run are the resume
  anti-join of a resumed run (broadcast when the done-set is small; AQE
  otherwise; a first run's empty done-set folds away) and the optional
  size-decorrelating repartition below.
- **Skew.** Input files are often clustered by crawl host/time, so byte
  sizes correlate within input splits; ``decorrelate=True`` repartitions by
  ``xxhash64(url)`` to spread heavy pages uniformly — the analog of the
  reference's size-budget loop (``claude_vision_engine.py:107-127``) turned
  into a partitioning decision. With AQE on, skewed post-shuffle partitions
  are split automatically.
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

from ..functions.udfs import RESULT_SCHEMA, extract_map_fn
from ..stages.normalize import default_normalizer
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


def extract_lang_routed(pages: DataFrame,
                        tables: dict,
                        num_partitions: int | None = None) -> DataFrame:
    """Extraction with normalization routed by the *predicted* language:

    1. extract without normalizing (one mapInPandas pass),
    2. classify each page's ``transcribed`` text with the shuffle-free
       stopword-marker expressions (``operators/quality.py`` — a literal
       marker table, no join, no shuffle),
    3. normalize with the predicted language's orthography trie (per-lang
       tries rebuilt once per executor); pages whose predicted language
       has no table keep ``final = transcribed`` (X5 coalesce).

    This is the production shape when the crawl's ``lang`` column is
    missing or untrusted: the router runs on the pipeline's own extracted
    text. Whole plan: two chained map stages + one projection — still no
    shuffle. ``tables`` maps language code → ``OrthographyNormalizer`` or
    its ``to_table()`` form.
    """
    from ..functions.udfs import OrthographyNormalizer
    from .quality import _lang_hit_cols, _lang_winner

    res = extract_pages(pages, normalize=False,
                        num_partitions=num_partitions,
                        output_columns=["header", "columns", "combined",
                                        "transcribed", "spans", "metrics"])
    scored = res.select("*", *_lang_hit_cols(F.col("transcribed")))
    pred, _best = _lang_winner()
    routed = scored.select(*res.columns, pred.alias("pred_lang"))

    plain = {lg: (t.to_table() if isinstance(t, OrthographyNormalizer)
                  else t) for lg, t in tables.items()}

    def fn(batches):
        import pandas as pd
        tries = {lg: OrthographyNormalizer(t[0], t[1])
                 for lg, t in plain.items()}
        for pdf in batches:
            normalized = []
            for text, lg in zip(pdf["transcribed"], pdf["pred_lang"]):
                trie = tries.get(lg)
                if trie is None or text is None:
                    normalized.append(None)
                else:
                    # the shared X4 framing rule (stages/normalize.py)
                    normalized.append(trie.normalize_framed(text))
            pdf = pdf.assign(normalized=normalized)
            pdf["final"] = pdf["normalized"].where(
                pdf["normalized"].notna(), pdf["transcribed"])
            yield pdf

    from pyspark.sql.types import StringType, StructField, StructType

    # build a fresh StructType: StructType.add MUTATES the DataFrame's
    # cached schema object, desyncing df.columns from the JVM plan
    schema = StructType(list(routed.schema.fields)
                        + [StructField("normalized", StringType(), True),
                           StructField("final", StringType(), True)])
    return routed.mapInPandas(fn, schema=schema)


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


def extract_pages(pages: DataFrame, normalize: bool = True,
                  decorrelate: bool = False,
                  num_partitions: int | None = None,
                  output_columns: list[str] | None = None,
                  normalize_langs: set[str] | None = None,
                  normalize_tables: dict | None = None,
                  lineage_acc=None) -> DataFrame:
    """Run the full extraction over a pages DataFrame → RESULT_SCHEMA rows.

    ``output_columns``: project inside the UDF (Catalyst cannot prune
    through mapInPandas — a downstream select still pays full transfer and
    compute). ``url`` is always included.

    ``normalize_langs``: apply the orthography pass only to these language
    codes (the table is historical-Norwegian); other rows keep the
    reflowed text as ``final``. None = normalize everything.

    ``normalize_tables``: per-language orthography — maps language code →
    ``OrthographyNormalizer`` or its ``to_table()`` form; each row is
    normalized with its language's trie, rows with no table are left
    unnormalized. Overrides ``normalize``/``normalize_langs``.

    ``lineage_acc``: a ``_LineageAccParam`` accumulator the extraction
    stage feeds per output batch (``lineage_tap``) — the job path's commit
    stats, with no second Python stage.
    """
    from ..functions.udfs import projected_schema
    from ..stages.normalize import OrthographyNormalizer
    by_lang = normalize_langs is not None or normalize_tables is not None
    if by_lang and "lang" not in pages.columns:
        raise ValueError(
            "normalize_langs/normalize_tables given but input has no "
            "'lang' column; refusing to silently normalize every row")
    if by_lang:
        df = pages.select("url", "html", "lang")
    else:
        df = pages.select("url", "html")
    if decorrelate:
        n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
        df = df.repartition(n, F.xxhash64("url"))
    lang_tables = None
    if normalize_tables is not None:
        lang_tables = {
            lg: (t.to_table() if isinstance(t, OrthographyNormalizer) else t)
            for lg, t in normalize_tables.items()}
    # don't build (and ship in every task closure) the default trie when
    # per-language tables override it anyway
    table = (default_normalizer().to_table()
             if normalize and normalize_tables is None else None)
    return df.mapInPandas(
        lineage_tap(extract_map_fn(table, output_columns, normalize_langs,
                                   lang_tables), lineage_acc),
        schema=projected_schema(output_columns))
