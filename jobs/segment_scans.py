"""Resumable raster-geometry backfill job — scan payloads → layout rows.

The raster analog of ``jobs/extract.py``: a corpus of encoded scan
payloads (PNG / baseline or progressive JPEG / TIFF / one-page scan PDF,
dispatched on magic bytes) is segmented to L1-L4 geometry with the same
resume semantics the reference's done-marker gives its OCR runs
(``ocr.py:45-47,151-181``): a killed run re-processes only pages whose
geometry was not yet committed, per-partition lineage rides the commit,
and undecodable payloads land as in-row quarantine columns instead of
failing tasks.

Cluster usage:

    make dist
    spark-submit --py-files dist/nhao_engine.zip jobs/segment_scans.py \\
        --input  <scans parquet path (page_id, png)> \\
        --output <geometry path> --lineage <lineage path>

Sandbox usage (synthesizes scan pages from the testdata documents table):

    python jobs/segment_scans.py --synthesize /root/testdata/sf0.001 \\
        --output /tmp/geo --lineage /tmp/geo_lineage
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def main(argv=None):
    p = argparse.ArgumentParser(
        description="PySpark raster layout segmentation (resumable)")
    p.add_argument("--input", help="scans table path (page_id, png)")
    p.add_argument("--synthesize", metavar="SF_DIR",
                   help="synthesize scan pages from SF_DIR/"
                        "documents.parquet instead of --input")
    p.add_argument("--format", default="png",
                   choices=["png", "jpeg", "pdf"],
                   help="--synthesize payload encoding")
    p.add_argument("--output", required=True, help="geometry table path")
    p.add_argument("--lineage", help="lineage/metrics table path")
    p.add_argument("--debug-overlay", action="store_true",
                   help="add the annotated debug_png column (S8 artifacts)")
    p.add_argument("--limit", type=int, default=None)
    p.add_argument("--partitions", type=int, default=None)
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)
    if not args.input and not args.synthesize:
        p.error("one of --input / --synthesize is required")

    from pyspark.sql import SparkSession

    from norsk_historisk_avis_ocr_spark.operators.raster import (
        segment_image_pages,
    )
    from norsk_historisk_avis_ocr_spark.operators.resume import (
        run_with_resume,
    )
    from norsk_historisk_avis_ocr_spark.plans import build_session

    owns_session = SparkSession.getActiveSession() is None
    spark = build_session("nhao-segment-scans", master=args.master)
    try:
        if args.synthesize:
            from norsk_historisk_avis_ocr_spark.sources.rasters import (
                jpeg_pages_df, pdf_pages_df, raster_pages_df,
            )
            src = {"png": raster_pages_df, "jpeg": jpeg_pages_df,
                   "pdf": pdf_pages_df}[args.format]
            scans = src(spark, args.synthesize, limit=args.limit,
                        partitions=args.partitions)
        else:
            scans = spark.read.parquet(args.input)
            if args.limit:
                scans = scans.orderBy("page_id").limit(args.limit)

        n = run_with_resume(
            spark, scans, args.output, lineage_path=args.lineage,
            transform=lambda df, acc: segment_image_pages(
                df, debug_overlay=args.debug_overlay, lineage_acc=acc),
            key_col="page_id")
        print(f"committed {n} geometry rows to {args.output}")
        return n
    finally:
        if owns_session:
            spark.stop()


if __name__ == "__main__":
    main()
