"""Batch extraction job — the ``spark-submit --py-files`` entry point.

The Spark analog of the reference CLI (``ocr.py:73-195``): argparse
surface, resume of already-done documents, per-document fault isolation
(quarantine instead of the reference's per-file try/except), and
engine-config coexistence via the output path.

Cluster usage:

    make dist   # builds dist/nhao_engine.zip
    spark-submit --py-files dist/nhao_engine.zip jobs/extract.py \\
        --input  <pages parquet/Iceberg path> \\
        --output <results path> --lineage <lineage path> [--no-normalize]

A run is one scan of the input feeding one Python stage and the commit.
Pages that cannot be extracted (null or oversized html) are counted by an
``Observation`` inside that same write job and, with ``--quarantine``,
written to the quarantine table only after the commit, and only when
there are any. Quarantine rows from earlier runs are not appended again.

Sandbox usage (synthesizes pages from the testdata documents table):

    python jobs/extract.py --synthesize /root/testdata/sf0.001 \\
        --output /tmp/out --lineage /tmp/lineage
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def main(argv=None):
    p = argparse.ArgumentParser(description="PySpark main-content extraction")
    p.add_argument("--input", help="pages table path (url, warc_ts, html, text, lang)")
    p.add_argument("--synthesize", metavar="SF_DIR",
                   help="synthesize pages from SF_DIR/documents.parquet instead of --input")
    p.add_argument("--output", required=True, help="results table path")
    p.add_argument("--lineage", help="lineage/metrics table path")
    p.add_argument("--quarantine", help="quarantined-rows table path")
    p.add_argument("--no-normalize", action="store_true",
                   help="skip the orthography-normalization pass "
                        "(reproduces the plain-tesseract engine config)")
    p.add_argument("--engine", choices=["plain", "normalized",
                                        "normalized-nodiff"],
                   help="named engine config (overrides --no-normalize); "
                        "results land under <output>/<engine-name> so "
                        "configs coexist like the reference's per-config "
                        "output dirs")
    p.add_argument("--incremental", metavar="CHECKPOINT",
                   help="Structured-Streaming mode: process only pages "
                        "files not yet seen by this checkpoint "
                        "(availableNow trigger, exactly-once per file); "
                        "requires --input, honors --quarantine, ignores "
                        "--lineage/--engine")
    p.add_argument("--master", default=None)
    p.add_argument("--replicate", type=int, default=1)
    args = p.parse_args(argv)
    if not args.input and not args.synthesize:
        p.error("one of --input / --synthesize is required")
    if args.incremental and not args.input:
        p.error("--incremental requires --input (a pages directory)")

    from norsk_historisk_avis_ocr_spark.operators.extract import (
        quarantine_reason, split_quarantine,
    )
    from norsk_historisk_avis_ocr_spark.operators.resume import (
        resume_filter, run_with_resume,
    )
    from norsk_historisk_avis_ocr_spark.plans import build_session
    from norsk_historisk_avis_ocr_spark.sources import (
        pages_df, read_done_urls,
    )

    from pyspark.sql import Observation, SparkSession
    from pyspark.sql import functions as F
    owns_session = SparkSession.getActiveSession() is None
    spark = build_session("nhao-extract", master=args.master)
    try:
        if args.incremental:
            from norsk_historisk_avis_ocr_spark.streaming import (
                run_incremental,
            )
            run_incremental(spark, args.input, args.output, args.incremental,
                            extract_kwargs={
                                "normalize": not args.no_normalize},
                            quarantine_path=args.quarantine)
            print(f"incremental batch committed to {args.output} "
                  f"(checkpoint {args.incremental})")
            return
        if args.synthesize:
            pages = pages_df(spark, args.synthesize, replicate=args.replicate,
                             partitions=spark.sparkContext.defaultParallelism * 4)
        else:
            pages = spark.read.parquet(args.input)

        observed = pages
        if args.quarantine:
            quarantine = Observation("quarantine")
            observed = pages.observe(
                quarantine, F.count(quarantine_reason()).alias("n"))

        out_path = args.output
        if args.engine:
            from norsk_historisk_avis_ocr_spark.plans.config import ENGINES
            cfg = ENGINES[args.engine]
            out_path = os.path.join(args.output, cfg.name)
            kwargs = cfg.extract_kwargs()
        else:
            kwargs = {"normalize": not args.no_normalize}
        n = run_with_resume(
            spark, observed, out_path, lineage_path=args.lineage,
            extract_kwargs=kwargs)
        print(f"committed {n} new documents to {out_path}")
        # the write above ran the observed plan, so get cannot block
        if args.quarantine and quarantine.get["n"]:
            _good, bad = split_quarantine(pages)
            seen = read_done_urls(spark, args.quarantine)
            resume_filter(bad, seen).write.mode("append") \
                .parquet(args.quarantine)
    finally:
        if owns_session:  # never stop a session we merely joined
            spark.stop()


if __name__ == "__main__":
    main()
