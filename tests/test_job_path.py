"""Job-path shape and accounting.

A first run of the resumable jobs is one scan of the input, one Python
stage and the commit: lineage rides the extraction stage and the empty
done-set folds away, so the plan has no shuffle. A resumed run keeps its
anti-join. ``jobs/extract.py`` accounts for every input row exactly once,
quarantined rows included, across reruns.

Inputs are synthesized here; nothing reads the reference checkout.
"""

import re

import pytest
from pyspark.sql import functions as F

from norsk_historisk_avis_ocr_spark.operators.resume import (
    resume_filter, run_with_resume,
)
from norsk_historisk_avis_ocr_spark.sources import sinks
from norsk_historisk_avis_ocr_spark.sources.pages import pages_rows

N_PAGES = 24
PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, " \
            "lang string"


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    """N_PAGES synthetic crawl pages plus one null-html page, as parquet."""
    rows = [(p["url"], p["warc_ts"], bytearray(p["html"]), p["text"],
             p["lang"])
            for p in pages_rows([(i, f"Avisen skrev {i} ord om byen.\n"
                                     f"Andre linje for side {i}.", "no")
                                 for i in range(N_PAGES)])]
    rows.append(("https://example.invalid/null", rows[0][1], None, None,
                 "no"))
    path = str(tmp_path_factory.mktemp("job_path") / "pages")
    spark.createDataFrame(rows, PAGES_DDL).repartition(2) \
        .write.parquet(path)
    return path


@pytest.fixture(scope="module")
def scans_dir(spark, tmp_path_factory):
    from norsk_historisk_avis_ocr_spark.sources.rasters import (
        synth_page_array,
    )
    from norsk_historisk_avis_ocr_spark.stages.png import encode_png
    rows = [(f"page-{i}", bytearray(encode_png(synth_page_array(f"page-{i}"))))
            for i in range(3)]
    path = str(tmp_path_factory.mktemp("job_path") / "scans")
    spark.createDataFrame(rows, "page_id string, png binary").write \
        .parquet(path)
    return path


def _nodes(plan: str, name: str) -> int:
    """Physical plan nodes whose name starts with ``name``."""
    return sum(1 for line in plan.splitlines()
               if re.match(rf"^[\s:+\-|*()\d]*{name}", line))


def _results_plan(monkeypatch, spark, pages, out, **kwargs):
    """(committed count, physical plan of the results run_with_resume
    writes)."""
    seen = []
    write = sinks.write_results

    def capture(df, path, *a, **kw):
        seen.append(df._jdf.queryExecution().executedPlan().toString())
        return write(df, path, *a, **kw)

    monkeypatch.setattr(sinks, "write_results", capture)
    n = run_with_resume(spark, pages, out, **kwargs)
    return n, seen[0]


def test_fresh_extraction_run_is_one_python_stage_no_shuffle(
        spark, pages_dir, tmp_path, monkeypatch):
    pages = spark.read.parquet(pages_dir)
    n, plan = _results_plan(monkeypatch, spark, pages,
                            str(tmp_path / "out"))
    assert n == N_PAGES
    assert _nodes(plan, "MapInPandas") == 1, plan
    assert _nodes(plan, "Exchange") == 0, plan
    # resumed: still one Python stage, and the anti-join is back
    n, plan = _results_plan(monkeypatch, spark, pages,
                            str(tmp_path / "out"))
    assert n == 0
    assert _nodes(plan, "MapInPandas") == 1, plan
    assert "LeftAnti" in plan, plan


def test_fresh_raster_run_is_one_python_stage_no_shuffle(
        spark, scans_dir, tmp_path, monkeypatch):
    from norsk_historisk_avis_ocr_spark.operators.raster import (
        segment_image_pages,
    )

    def transform(df, acc):
        return segment_image_pages(df, lineage_acc=acc)

    scans = spark.read.parquet(scans_dir)
    out, lin = str(tmp_path / "geo"), str(tmp_path / "lin")
    n, plan = _results_plan(monkeypatch, spark, scans, out,
                            lineage_path=lin, transform=transform,
                            key_col="page_id")
    assert n == 3
    assert _nodes(plan, "MapInPandas") == 1, plan
    assert _nodes(plan, "Exchange") == 0, plan
    assert spark.read.parquet(lin).agg(F.sum("n_urls")).first()[0] == 3
    n, plan = _results_plan(monkeypatch, spark, scans, out,
                            transform=transform, key_col="page_id")
    assert n == 0
    assert _nodes(plan, "MapInPandas") == 1, plan
    assert "LeftAnti" in plan, plan


def test_empty_done_set_folds_the_anti_join_away(spark, pages_dir,
                                                 tmp_path):
    pages = spark.read.parquet(pages_dir)
    empty = tmp_path / "empty"
    empty.mkdir()
    for path in (str(tmp_path / "never_written"), str(empty)):
        done = sinks.read_done_urls(spark, path)
        assert done.columns == ["url"] and done.count() == 0
        plan = resume_filter(pages, done)._jdf.queryExecution() \
            .optimizedPlan().toString()
        assert "Join" not in plan, plan


def test_extract_job_accounts_for_every_row(spark, pages_dir, tmp_path):
    """committed + quarantined = input; lineage counts the committed rows;
    a rerun commits nothing (the sink still holds each url once) and
    appends no second quarantine row."""
    import jobs.extract as job
    out, lin, quar = (str(tmp_path / d) for d in ("out", "lin", "quar"))
    argv = ["--input", pages_dir, "--output", out, "--lineage", lin,
            "--quarantine", quar]
    for _run in range(2):
        job.main(argv)
        committed = spark.read.parquet(out).select("url").collect()
        quarantined = spark.read.parquet(quar).collect()
        assert len(committed) == N_PAGES
        assert [(r.url, r.quarantine_reason) for r in quarantined] == \
            [("https://example.invalid/null", "null_html")]
        assert len({r.url for r in committed}) + len(quarantined) == \
            spark.read.parquet(pages_dir).count()
        assert spark.read.parquet(lin).agg(F.sum("n_urls")).first()[0] \
            == N_PAGES
