"""Raster layout segmentation as a DataFrame operator (L1-L4 on Spark).

The geometry library (``stages/layout.py``) is pure numpy; this wires it to
DataFrames for corpora where the page payload is a raster (scanned
newspapers — the reference's native input) rather than HTML. Pages are
carried as raw grayscale bytes + dimensions (the decoded-raster analog of
the reference's PIL image; PNG/JPEG decode would slot into the same UDF if
an image codec were available — the container has none, so raw grayscale is
the supported interchange format and is exactly what ``numpy.frombuffer``
needs).

Output is the ``blocks`` struct-array row the SURVEY data model specifies:
one row per page with boundaries, per-column body tops, the title box, and
column crop boxes — the contents of the reference's ``detection_info.txt``
(``engines/_columns.py:383-418``) as queryable columns (S8 debug sink).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType, BinaryType, IntegerType, LongType, StringType, StructField,
    StructType,
)

from .resume import lineage_tap

BOX_TYPE = StructType([
    StructField("x0", IntegerType(), False),
    StructField("y0", IntegerType(), False),
    StructField("x1", IntegerType(), False),
    StructField("y1", IntegerType(), False),
])

LAYOUT_SCHEMA = StructType([
    StructField("page_id", StringType(), False),
    StructField("boundaries", ArrayType(IntegerType()), False),
    StructField("body_top", ArrayType(IntegerType()), False),
    StructField("title_box", BOX_TYPE, True),
    StructField("column_boxes", ArrayType(BOX_TYPE), False),
])


def segment_rasters(df: DataFrame, id_col: str = "page_id",
                    bytes_col: str = "gray", width_col: str = "width",
                    height_col: str = "height") -> DataFrame:
    """Grayscale page rasters → layout geometry rows.

    Input columns: ``id_col`` (string key), ``bytes_col`` (H*W uint8 raw
    grayscale), ``width_col``/``height_col``. One vectorized stage — each
    page segments independently (map-only, no shuffle).
    """
    def fn(batches):
        import numpy as np
        import pandas as pd

        from ..stages.layout import split_columns_geometry

        def box(t):
            if t is None:
                return None
            return {"x0": int(t[0]), "y0": int(t[1]),
                    "x1": int(t[2]), "y1": int(t[3])}

        for pdf in batches:
            rows = []
            for pid, data, w, h in zip(pdf[id_col], pdf[bytes_col],
                                       pdf[width_col], pdf[height_col]):
                img = np.frombuffer(bytes(data), dtype=np.uint8) \
                    .reshape(int(h), int(w))
                geo = split_columns_geometry(img)
                rows.append({
                    "page_id": pid,
                    "boundaries": [int(x) for x in geo["boundaries"]],
                    "body_top": [int(x) for x in geo["body_top"]],
                    "title_box": box(geo["title_box"]),
                    "column_boxes": [box(b) for b in geo["column_boxes"]],
                })
            yield pd.DataFrame(rows)

    return df.mapInPandas(fn, schema=LAYOUT_SCHEMA)


def decode_payload_gray(data: bytes):
    """Sniff-dispatch image decode: baseline JPEG, baseline TIFF, PDF
    scan (first page's largest image XObject — the reference's primary
    input, ``ocr.py:25``), or PNG payload → (H, W) uint8 luma. Shared by
    the raster segmentation and vision-prep operators; raises ValueError
    on anything undecodable (quarantine contract)."""
    from ..stages.jpeg import decode_jpeg_gray
    from ..stages.pdf import decode_pdf_page_image
    from ..stages.png import decode_png, to_grayscale
    from ..stages.tiff import decode_tiff_gray

    if data.startswith(b"\xff\xd8\xff"):
        return decode_jpeg_gray(data)
    if data.startswith(b"II*\x00") or data.startswith(b"MM\x00*"):
        return decode_tiff_gray(data)
    if data.startswith(b"%PDF-"):
        return decode_pdf_page_image(data)
    return to_grayscale(decode_png(data))


def render_debug_overlay(gray, geo) -> bytes:
    """Annotated debug raster (the reference's S8 debug artifacts,
    ``engines/_columns.py:294-418``, as a queryable column): the grayscale
    page as RGB with column boundaries in red, the title box outlined in
    blue, column crop boxes in green, and per-column body-top ticks in
    orange. Returns PNG bytes."""
    import numpy as np

    from ..stages.png import encode_png

    h, w = gray.shape
    rgb = np.repeat(gray[:, :, None], 3, axis=2).copy()

    def vline(x, color):
        x = max(0, min(w - 1, int(x)))
        rgb[:, max(0, x - 1):min(w, x + 2)] = color

    def rect(box, color):
        x0, y0, x1, y1 = (int(v) for v in box)
        x0, x1 = max(0, x0), min(w, x1)
        y0, y1 = max(0, y0), min(h, y1)
        if x1 <= x0 or y1 <= y0:
            return
        rgb[y0:min(h, y0 + 2), x0:x1] = color
        rgb[max(0, y1 - 2):y1, x0:x1] = color
        rgb[y0:y1, x0:min(w, x0 + 2)] = color
        rgb[y0:y1, max(0, x1 - 2):x1] = color

    for x in geo["boundaries"][1:-1]:
        vline(x, (255, 0, 0))
    for box in geo["column_boxes"]:
        rect(box, (0, 200, 0))
    if geo["title_box"] is not None:
        rect(geo["title_box"], (0, 0, 255))
    bounds = geo["boundaries"]
    for c, top in enumerate(geo["body_top"]):
        if c + 1 < len(bounds):
            y = max(0, min(h - 2, int(top)))
            rgb[y:y + 2, int(bounds[c]):int(bounds[c + 1])] = (255, 160, 0)
    return encode_png(rgb)


def segment_image_pages(df: DataFrame, id_col: str = "page_id",
                        png_col: str = "png",
                        debug_overlay: bool = False,
                        lineage_acc=None) -> DataFrame:
    """Encoded page payloads (PNG, baseline JPEG, or baseline TIFF —
    dispatched on magic bytes) → layout geometry rows (the reference's
    input class: encoded raster in, geometry out,
    ``tesseract_engine.py:143-144``).

    Decode (``stages/png.py`` / ``stages/jpeg.py`` / ``stages/tiff.py``
    via :func:`decode_payload_gray`), grayscale conversion, and L1-L4
    segmentation are fused into one Arrow-batched stage — raw pixels never
    cross an Arrow boundary, only the compressed payload in and the small
    geometry struct out. Map-only, no shuffle; undecodable payloads yield
    a null geometry row (quarantine semantics) instead of failing the task.

    ``debug_overlay=True`` adds a ``debug_png`` binary column: the page
    re-encoded with boundary/title/column/body-top annotations drawn in
    (:func:`render_debug_overlay`) — the reference's S8 debug artifacts as
    a queryable column. Costs one PNG encode per page; leave off in
    production scans.

    ``lineage_acc``: the resume job's lineage accumulator, fed per output
    batch from inside this stage (``operators/resume.py:lineage_tap``).
    """
    schema = StructType(
        [LAYOUT_SCHEMA[0]]
        + [StructField(f.name, f.dataType, True) for f in LAYOUT_SCHEMA[1:]]
        + [StructField("decode_error", StringType(), True)]
        + ([StructField("debug_png", BinaryType(), True)]
           if debug_overlay else []))

    def fn(batches):
        import pandas as pd

        from ..stages.layout import split_columns_geometry
        decode_gray = decode_payload_gray

        def box(t):
            if t is None:
                return None
            return {"x0": int(t[0]), "y0": int(t[1]),
                    "x1": int(t[2]), "y1": int(t[3])}

        for pdf in batches:
            rows = []
            for pid, data in zip(pdf[id_col], pdf[png_col]):
                try:
                    gray = decode_gray(bytes(data))
                    geo = split_columns_geometry(gray)
                    row = {
                        "page_id": pid,
                        "boundaries": [int(x) for x in geo["boundaries"]],
                        "body_top": [int(x) for x in geo["body_top"]],
                        "title_box": box(geo["title_box"]),
                        "column_boxes": [box(b) for b in geo["column_boxes"]],
                        "decode_error": None,
                    }
                    if debug_overlay:
                        row["debug_png"] = render_debug_overlay(gray, geo)
                    rows.append(row)
                except Exception as exc:  # noqa: BLE001 - quarantine row
                    row = {
                        "page_id": pid, "boundaries": None, "body_top": None,
                        "title_box": None, "column_boxes": None,
                        "decode_error": f"{type(exc).__name__}: {exc}",
                    }
                    if debug_overlay:
                        row["debug_png"] = None
                    rows.append(row)
            yield pd.DataFrame(rows)

    return df.mapInPandas(lineage_tap(fn, lineage_acc), schema=schema)


# Historical name (round 2): the operator now also decodes baseline JPEG.
segment_png_pages = segment_image_pages


def segment_pdf_issues(df: DataFrame, id_col: str = "issue_id",
                       pdf_col: str = "pdf") -> DataFrame:
    """Multi-page scan PDFs → one layout-geometry row per page
    (1→N expansion): the reference's issue shape — ``ocr.py`` hands each
    PDF to the engine, which rasterizes and processes EVERY page
    (``engines/tesseract_engine.py:133-142`` iterates poppler's per-page
    output). Decode (``stages/pdf.py``, lazily per page) + L1-L4
    segmentation fused in one Arrow-batched stage; a malformed issue
    yields a single quarantine row (page_index -1) instead of failing
    the task, and a single bad page quarantines only that page."""
    schema = StructType(
        [StructField("issue_id", StringType(), True),
         StructField("page_index", LongType(), True)]
        + [StructField(f.name, f.dataType, True) for f in LAYOUT_SCHEMA[1:]]
        + [StructField("decode_error", StringType(), True)])

    def fn(batches):
        import pandas as pd

        from ..stages.layout import split_columns_geometry
        from ..stages.pdf import _Doc, _decode_largest, _walk_pages

        def box(t):
            if t is None:
                return None
            return {"x0": int(t[0]), "y0": int(t[1]),
                    "x1": int(t[2]), "y1": int(t[3])}

        def quarantine(iid, page_idx, exc):
            return {"issue_id": iid, "page_index": page_idx,
                    "boundaries": None, "body_top": None,
                    "title_box": None, "column_boxes": None,
                    "decode_error": f"{type(exc).__name__}: {exc}"}

        for pdf in batches:
            rows = []
            for iid, data in zip(pdf[id_col], pdf[pdf_col]):
                try:
                    doc = _Doc(bytes(data))
                    pages = _walk_pages(doc)
                except Exception as exc:  # noqa: BLE001 - quarantine issue
                    rows.append(quarantine(iid, -1, exc))
                    continue
                for idx, (page, resources) in enumerate(pages):
                    try:
                        gray = _decode_largest(doc, page, resources)
                        geo = split_columns_geometry(gray)
                        rows.append({
                            "issue_id": iid, "page_index": idx,
                            "boundaries": [int(x)
                                           for x in geo["boundaries"]],
                            "body_top": [int(x) for x in geo["body_top"]],
                            "title_box": box(geo["title_box"]),
                            "column_boxes": [box(b)
                                             for b in geo["column_boxes"]],
                            "decode_error": None,
                        })
                    except Exception as exc:  # noqa: BLE001 - per page
                        rows.append(quarantine(iid, idx, exc))
            yield pd.DataFrame(rows)

    return df.mapInPandas(fn, schema=schema)


def segment_tiff_issues(df: DataFrame, id_col: str = "issue_id",
                        tiff_col: str = "tiff") -> DataFrame:
    """Multi-page (chained-IFD) TIFF issues → one layout-geometry row
    per page — the TIFF analog of :func:`segment_pdf_issues` (archives
    commonly ship a scanned issue as one multi-IFD TIFF; the reference's
    PIL path iterates frames the same way). Same quarantine contract:
    a malformed issue yields one page_index=-1 row, a single bad page
    quarantines only that page."""
    schema = StructType(
        [StructField("issue_id", StringType(), True),
         StructField("page_index", LongType(), True)]
        + [StructField(f.name, f.dataType, True) for f in LAYOUT_SCHEMA[1:]]
        + [StructField("decode_error", StringType(), True)])

    def fn(batches):
        import pandas as pd

        from ..stages.layout import split_columns_geometry
        from ..stages.tiff import (
            _decode_ifd, _ifd_offsets, _read_ifd_at, _tiff_byte_order,
        )

        def box(t):
            if t is None:
                return None
            return {"x0": int(t[0]), "y0": int(t[1]),
                    "x1": int(t[2]), "y1": int(t[3])}

        def quarantine(iid, page_idx, exc):
            return {"issue_id": iid, "page_index": page_idx,
                    "boundaries": None, "body_top": None,
                    "title_box": None, "column_boxes": None,
                    "decode_error": f"{type(exc).__name__}: {exc}"}

        for pdf in batches:
            rows = []
            for iid, data in zip(pdf[id_col], pdf[tiff_col]):
                try:
                    raw = bytes(data)
                    bo = _tiff_byte_order(raw)
                    offsets = _ifd_offsets(raw, bo)
                except Exception as exc:  # noqa: BLE001 quarantine issue
                    rows.append(quarantine(iid, -1, exc))
                    continue
                for idx, off in enumerate(offsets):
                    try:
                        tags, _ = _read_ifd_at(raw, bo, off)
                        gray = _decode_ifd(raw, bo, tags)
                        geo = split_columns_geometry(gray)
                        rows.append({
                            "issue_id": iid, "page_index": idx,
                            "boundaries": [int(x)
                                           for x in geo["boundaries"]],
                            "body_top": [int(x) for x in geo["body_top"]],
                            "title_box": box(geo["title_box"]),
                            "column_boxes": [box(b)
                                             for b in geo["column_boxes"]],
                            "decode_error": None,
                        })
                    except Exception as exc:  # noqa: BLE001 - per page
                        rows.append(quarantine(iid, idx, exc))
            yield pd.DataFrame(rows)

    return df.mapInPandas(fn, schema=schema)
