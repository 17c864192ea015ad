"""Output checks: every input row is accounted for and correct.

A row counts as failed when it is neither committed with correct output nor
quarantined by design. Correctness comes from three independent sources:

- a deterministic sample recomputed in-process through the public stage
  functions (``extract_one``; ``decode_payload_gray`` +
  ``split_columns_geometry``) and compared byte for byte;
- per-row goldens for the seed-independent rows (the anchor pages in every
  text workload, and every page of the scans pool);
- a whole-output digest for the seeds recorded in goldens.json.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import random

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# rows recomputed in-process per run: a scan costs ~100 ms, a page ~1 ms
SAMPLE_ROWS = {"text": 32, "scans": 4}


def digest(row: dict) -> str:
    return hashlib.sha256(json.dumps(row, sort_keys=True, ensure_ascii=False)
                          .encode()).hexdigest()[:32]


def parquet_files(path: str, exclude: frozenset = frozenset()) -> list[str]:
    if not os.path.isdir(path):
        return []
    return [os.path.join(path, f) for f in sorted(os.listdir(path))
            if f.endswith(".parquet") and f not in exclude]


def read_table(files: list[str],
               columns: list[str] | None = None) -> pa.Table:
    tables = [pq.read_table(f, columns=columns) for f in files]
    return pa.concat_tables(tables) if tables else pa.table({})


@dataclasses.dataclass
class Report:
    attempted: int
    committed: int = 0
    quarantined: int = 0
    skipped: int = 0
    failed: int = 0
    out_bytes: int = 0
    out_files: int = 0
    output_digest: str = ""
    row_digests: dict = dataclasses.field(default_factory=dict)
    notes: list = dataclasses.field(default_factory=list)

    def fail(self, n: int, note: str) -> None:
        if n:
            self.failed += n
            self.notes.append(f"{n} row(s): {note}")

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted


def _account(rep: Report, inputs: list, committed: list, quarantined: list,
             skipped: set) -> None:
    """committed + quarantined + skipped = input, with no duplicate keys."""
    inp = set(inputs)
    rep.fail(len(inputs) - len(inp), "duplicate keys in the input")
    com = set(committed)
    rep.fail(len(committed) - len(com), "committed more than once")
    rep.fail(len(com & skipped), "committed although already done")
    rep.fail(len(com - inp), "committed but not in the input")
    rep.fail(len(inp - com - set(quarantined) - skipped),
             "neither committed, quarantined nor skipped")


def _lineage(rep: Report, lineage_dir: str) -> None:
    files = parquet_files(lineage_dir)
    n = sum(read_table(files, ["n_urls"]).column("n_urls").to_pylist())
    rep.fail(abs(n - rep.committed), f"lineage counts {n} committed rows, "
             f"the sink holds {rep.committed}")


def _whole(rep: Report, keyed: dict, golden: str | None) -> None:
    h = hashlib.sha256()
    for k in sorted(keyed):
        h.update(keyed[k].encode())
    rep.output_digest = h.hexdigest()
    if golden is not None and golden != rep.output_digest:
        rep.fail(max(rep.committed - rep.failed, 1),
                 "whole-output digest differs from the recorded golden")


def check_text(pages_dir: str, out_dir: str, quarantine_dir: str,
               lineage_dir: str, done_dir: str | None, seed: int,
               anchor_urls: list[str], goldens: dict,
               seed_golden: dict) -> Report:
    from norsk_historisk_avis_ocr_spark.functions.udfs import extract_one
    from norsk_historisk_avis_ocr_spark.stages.normalize import (
        default_normalizer,
    )

    inp = read_table(parquet_files(pages_dir), ["url", "html"])
    urls = inp.column("url").to_pylist()
    null_html = set(pc.filter(inp.column("url"),
                              pc.is_null(inp.column("html"))).to_pylist())
    rep = Report(attempted=len(urls))

    done_names = frozenset(os.listdir(done_dir)) if done_dir else frozenset()
    done = (set(read_table(parquet_files(done_dir), ["url"])
                .column("url").to_pylist()) if done_dir else set())
    skipped = done & set(urls)
    files = parquet_files(out_dir, exclude=done_names)
    res = read_table(files)
    rows = res.to_pylist()
    committed = [r["url"] for r in rows]
    quar = read_table(parquet_files(quarantine_dir)).to_pylist()
    quarantined = [r["url"] for r in quar]
    rep.committed, rep.quarantined, rep.skipped = (
        len(committed), len(quarantined), len(skipped))
    rep.out_files = len(files)
    rep.out_bytes = sum(os.path.getsize(f) for f in files)

    _account(rep, urls, committed, quarantined, skipped)
    rep.fail(len(set(quarantined) ^ null_html),
             "quarantined without a null-html reason, or the reverse")
    rep.fail(sum(1 for r in quar if r["quarantine_reason"] != "null_html"),
             "quarantined with the wrong reason")
    _lineage(rep, lineage_dir)

    keyed = {r["url"]: digest(r) for r in rows}
    rep.row_digests = {u: keyed.get(u) for u in anchor_urls}
    golden = goldens.get("anchors", {})
    rep.fail(sum(1 for u, d in rep.row_digests.items()
                 if golden.get(u, d) != d),
             "anchor page differs from its golden")

    sample = random.Random(seed).sample(
        sorted(keyed), min(SAMPLE_ROWS["text"], len(keyed)))
    picked = inp.filter(pc.is_in(inp.column("url"), pa.array(sample)))
    html = dict(zip(picked.column("url").to_pylist(),
                    picked.column("html").to_pylist()))
    by_url = {r["url"]: r for r in rows}
    nz = default_normalizer()
    rep.fail(sum(1 for u in sample
                 if digest(extract_one(u, html[u], nz)) != digest(by_url[u])),
             "differs from the in-process extract_one recomputation")
    _whole(rep, keyed, seed_golden.get("output"))
    return rep


def _geometry_row(geo: dict | None, error: str | None) -> dict:
    def box(t):
        return None if t is None else {"x0": int(t[0]), "y0": int(t[1]),
                                       "x1": int(t[2]), "y1": int(t[3])}
    if geo is None:
        return {"boundaries": None, "body_top": None, "title_box": None,
                "column_boxes": None, "decode_error": error}
    return {"boundaries": [int(x) for x in geo["boundaries"]],
            "body_top": [int(x) for x in geo["body_top"]],
            "title_box": box(geo["title_box"]),
            "column_boxes": [box(b) for b in geo["column_boxes"]],
            "decode_error": None}


def recompute_geometry(payload: bytes) -> dict:
    from norsk_historisk_avis_ocr_spark.operators.raster import (
        decode_payload_gray,
    )
    from norsk_historisk_avis_ocr_spark.stages.layout import (
        split_columns_geometry,
    )
    try:
        gray = decode_payload_gray(payload)
    except Exception as exc:  # noqa: BLE001 - mirrors the quarantine row
        return _geometry_row(None, f"{type(exc).__name__}: {exc}")
    return _geometry_row(split_columns_geometry(gray), None)


def geometry_digest(row: dict) -> str:
    return digest({k: row[k] for k in ("boundaries", "body_top", "title_box",
                                       "column_boxes", "decode_error")})


def pool_id(page_id: str) -> str:
    return page_id.rsplit("/", 1)[1]


def check_scans(pages_dir: str, out_dir: str, lineage_dir: str, seed: int,
                truncated_ids: set, goldens: dict,
                seed_golden: dict) -> Report:
    inp = read_table(parquet_files(pages_dir))
    ids = inp.column("page_id").to_pylist()
    rep = Report(attempted=len(ids))
    files = parquet_files(out_dir)
    rows = read_table(files).to_pylist()
    rep.committed = len(rows)
    rep.out_files = len(files)
    rep.out_bytes = sum(os.path.getsize(f) for f in files)
    _account(rep, ids, [r["page_id"] for r in rows], [], set())
    _lineage(rep, lineage_dir)

    bad = [r for r in rows
           if (r["decode_error"] is not None)
           != (pool_id(r["page_id"]) in truncated_ids)]
    rep.fail(len(bad), "decode_error set on a good payload, or missing on "
             "a truncated one")
    quarantined = [r for r in rows if r["decode_error"] is not None]
    rep.quarantined = len(quarantined)
    golden_rows = goldens.get("scan_pool_rows", {})
    keyed = {r["page_id"]: geometry_digest(r) for r in rows}
    rep.fail(sum(1 for r in rows if r["decode_error"] is None
                 and golden_rows.get(pool_id(r["page_id"]),
                                     keyed[r["page_id"]])
                 != keyed[r["page_id"]]),
             "geometry differs from the pool golden")

    good = sorted(r["page_id"] for r in rows if r["decode_error"] is None)
    sample = random.Random(seed).sample(
        good, min(SAMPLE_ROWS["scans"], len(good)))
    payload = dict(zip(ids, inp.column("png").to_pylist()))
    rep.fail(sum(1 for p in sample
                 if geometry_digest(recompute_geometry(payload[p]))
                 != keyed[p]),
             "differs from the in-process decode + geometry recomputation")
    _whole(rep, keyed, seed_golden.get("output"))
    return rep
