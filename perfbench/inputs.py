"""Seeded benchmark inputs, their cache and their fingerprints.

Every workload's input is a parquet table written here, never by the job
under test. Text pages come from ``sources/pages.py:build_page`` over word
streams drawn from this module's own vocabulary; scans come from
``sources/rasters.py`` and the in-tree encoders. Both generators belong to
the program, so a change to them would silently change a workload. Three
fingerprints guard against that:

- the *probe*: the anchor pages, rebuilt on every run and hashed;
- the *pools*: seed-independent bases (the crawl_resume done corpus and the
  scans payload pool), hashed when built. Pools are cached under a hash of
  the generator sources, so an edit to a generator or encoder rebuilds them
  and changes their hash;
- the *per-seed input* hash, compared with ``goldens.json`` for the seeds
  recorded there.

Any mismatch with ``goldens.json`` stops the run before it measures.
"""

from __future__ import annotations

import dataclasses
import hashlib
import itertools
import json
import os
import random
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

# Sizes. Each job run takes a few seconds on local[4], so a run of the
# benchmark holds several job runs (see run.py).
FRESH_PAGES = 16_000          # ~0.9 KB html each; enough for 4 tasks
BROADSHEET_PAGES = 64         # 30-60 KB html each
RESUME_POOL_PAGES = 64_000    # committed once by the job itself
RESUME_NEW_PAGES = 1_900      # ~3% of the input is new on each run
NULL_ROWS = 12                # null-html rows, quarantined by design
SCAN_PER_ARM = 27             # every seed decodes the same codec mix
SCAN_TRUNCATED = 4
SCAN_W, SCAN_H = 700, 520
SCAN_ARMS = ("png", "jpeg_gray", "jpeg_color", "pdf_dct", "pdf_flate",
             "pdf_ccitt", "tiff")
SCAN_POOL_PER_ARM = 6
INPUT_FILES = 16

LANGS = ("no", "nb", "nn", "da", "sv")
# build_page derives warc_ts from doc_id (137 s per id), so ids stay below
# ~2.3e9 to keep timestamps inside year 9999.
_POOL_DOC_BASE = 1_000_000_000
_ANCHOR_DOC_BASE = 1_500_000_000
_SEED_DOC_STRIDE = 20_000

# Newspaper-register vocabulary. build_page itself plants the
# OCR-confusion forms the orthography table rewrites (every ninth word), so
# the normalize and diff stages do real work.
_VOCAB = (
    "og i det som en på til av er for med har de ikke den han var om et "
    "men så seg vi hun fra ved etter kan skal år dag mann samme kommer "
    "mot hjem sommer morgen mellom hele hus hvor dette disse derfor byen "
    "landet folket kongen kirken skolen arbeidet styret møtet saken loven "
    "retten avis nyheter kommune regjeringen stortinget mennesker gammel "
    "sammen historie havnen havet himmelen søndag lørdag næringen gården "
    "måneden påske våren handelen fiskeriene jernbanen telegrafen "
    "formannskapet ordføreren forsamlingen prisene leveransene bøndene "
    "avdelingen undersøkelsen innbyggerne valgene kommunestyret "
    "fylkesmannen bestemmelsene utenlandske anledningen befolkningen"
).split()


_SYLLABLES = ("ka ne sto rå vik ber gen lan de hol mo fjor sel and ter "
              "skog bru ha øy dal fos li strand ner vei").split()


def _vocabulary(size: int = 4000) -> tuple[list[str], list[float]]:
    """The fixed words plus pseudo-words from syllables, with Zipf weights
    (rank r has weight 1/r): a long tail like real text, which keeps the
    word diff's cost per byte realistic. The weights come cumulative, as
    choices() would otherwise derive them on every call."""
    rng = random.Random(0x70CAB)
    words = list(dict.fromkeys(_VOCAB))
    seen = set(words)
    while len(words) < size:
        w = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words, list(itertools.accumulate(1 / r
                                            for r in range(1, size + 1)))


_WORDS, _CUM_WEIGHTS = _vocabulary()


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choices(_WORDS, cum_weights=_CUM_WEIGHTS, k=n))


def _page_row(doc_id: int, rng: random.Random, lo: int, hi: int) -> dict:
    from norsk_historisk_avis_ocr_spark.sources.pages import build_page
    page = build_page(doc_id, _words(rng, rng.randint(lo, hi)),
                      rng.choice(LANGS))
    return {k: page[k] for k in ("url", "warc_ts", "html", "text", "lang")}


def _null_rows(tag: str, n: int) -> list[dict]:
    import datetime
    ts = datetime.datetime(2000, 1, 1, tzinfo=datetime.timezone.utc)
    return [{"url": f"https://null.example/{tag}/{i}", "warc_ts": ts,
             "html": None, "text": None, "lang": "no"} for i in range(n)]


def anchor_pages() -> list[dict]:
    """Seed-independent pages in every text workload. Their per-url result
    digests are pinned in goldens.json, so a change to the text stages
    fails rows on every seed, not only on recorded ones. Sizes run from a
    handful of words to a broadsheet column, and doc ids cover every
    build_page layout branch (masthead, single column, empty body,
    garbage column)."""
    rng = random.Random(0xA4C40)
    return [_page_row(_ANCHOR_DOC_BASE + k, rng, 4 + 40 * k, 12 + 60 * k)
            for k in range(48)]


def probe_fingerprint() -> str:
    """Hash of the anchor pages, rebuilt on every run: a build_page change
    shows on every seed, cached inputs or not."""
    h = hashlib.sha256()
    for row in anchor_pages():
        h.update(_row_bytes(row))
    return h.hexdigest()


# -- scans -----------------------------------------------------------------

def _encode_scan(arm: str, page_id: str, w: int = SCAN_W,
                 h: int = SCAN_H) -> bytes:
    from norsk_historisk_avis_ocr_spark.sources.rasters import (
        synth_color_page_array, synth_page_array,
    )
    from norsk_historisk_avis_ocr_spark.stages.jpeg import (
        encode_jpeg_color, encode_jpeg_gray,
    )
    from norsk_historisk_avis_ocr_spark.stages.pdf import encode_pdf_gray
    from norsk_historisk_avis_ocr_spark.stages.png import encode_png
    from norsk_historisk_avis_ocr_spark.stages.tiff import encode_tiff_gray

    if arm == "jpeg_color":
        return encode_jpeg_color(synth_color_page_array(page_id, w, h),
                                 quality=97, sampling=(2, 2),
                                 restart_interval=1)
    gray = synth_page_array(page_id, w, h)
    if arm == "png":
        return encode_png(gray)
    if arm == "jpeg_gray":
        return encode_jpeg_gray(gray, quality=97, restart_interval=2)
    if arm == "tiff":
        return encode_tiff_gray(gray)
    codec = {"pdf_dct": "jpeg", "pdf_flate": "flate",
             "pdf_ccitt": "ccitt"}[arm]
    return encode_pdf_gray(gray, codec=codec, quality=97,
                           restart_interval=2)


def _decodes(payload: bytes) -> bool:
    from norsk_historisk_avis_ocr_spark.operators.raster import (
        decode_payload_gray,
    )
    try:
        decode_payload_gray(payload)
    except Exception:  # noqa: BLE001 - any failure is a quarantine row
        return False
    return True


def _build_scan_pool(path: str) -> dict:
    """Seed-independent payload pool: SCAN_POOL_PER_ARM pages per arm, plus
    one truncated payload per arm whose decode is known to fail."""
    ids, arms, payloads = [], [], []
    for k in range(SCAN_POOL_PER_ARM):
        for arm in SCAN_ARMS:
            pid = f"pool-{arm}-{k}"
            ids.append(pid)
            arms.append(arm)
            payloads.append(_encode_scan(arm, pid))
    truncated = []
    for i, arm in enumerate(arms[:len(SCAN_ARMS)]):
        for frac in (0.6, 0.3, 0.05):
            cut = payloads[i][:int(len(payloads[i]) * frac)]
            if not _decodes(cut):
                truncated.append(len(ids))
                ids.append(f"trunc-{arm}")
                arms.append(arm)
                payloads.append(cut)
                break
    table = pa.table({"pool_id": ids, "arm": arms,
                      "payload": pa.array(payloads, pa.binary())})
    pq.write_table(table, os.path.join(path, "pool.parquet"))
    return {"fingerprint": _table_fingerprint(table, "pool_id"),
            "truncated": truncated}


def load_scan_pool(path: str) -> pa.Table:
    return pq.read_table(os.path.join(path, "pool.parquet"))


def _scan_input(pool: pa.Table, truncated: list[int],
                seed: int) -> pa.Table:
    """SCAN_PER_ARM pool pages of each arm plus SCAN_TRUNCATED truncated
    payloads, in seeded order. Decode cost differs ~30× between arms, so
    the mix is fixed and the seed picks pages within each arm."""
    rng = random.Random(seed)
    arms = pool.column("arm").to_pylist()
    picks = []
    for arm in SCAN_ARMS:
        of_arm = [i for i, a in enumerate(arms)
                  if a == arm and i not in truncated]
        picks += [rng.choice(of_arm) for _ in range(SCAN_PER_ARM)]
    picks += [rng.choice(truncated) for _ in range(SCAN_TRUNCATED)]
    rng.shuffle(picks)
    ids = pool.column("pool_id").to_pylist()
    payloads = pool.column("payload")
    return pa.table({
        "page_id": [f"scan/{seed}/{i:04d}/{ids[p]}"
                    for i, p in enumerate(picks)],
        "png": pa.array([payloads[p].as_py() for p in picks], pa.binary()),
    })


# -- text workloads --------------------------------------------------------

_PAGES_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])


def _pages_table(rows: list[dict]) -> pa.Table:
    return pa.Table.from_pylist(rows, schema=_PAGES_SCHEMA)


def _text_input(workload: str, seed: int) -> pa.Table:
    rng = random.Random(f"{workload}:{seed}")
    base = (seed % 40_000 + 1) * _SEED_DOC_STRIDE
    if workload == "crawl_fresh":
        n, lo, hi = FRESH_PAGES, 40, 80
    elif workload == "broadsheet":
        n, lo, hi = BROADSHEET_PAGES, 4_500, 8_500
    else:  # crawl_resume: only the new pages; the pool is added by prepare
        n, lo, hi = RESUME_NEW_PAGES, 40, 80
    rows = [_page_row(base + i, rng, lo, hi) for i in range(n)]
    rows += anchor_pages() + _null_rows(f"{workload}-{seed}", NULL_ROWS)
    rng.shuffle(rows)
    return _pages_table(rows)


def _build_resume_pool(path: str) -> dict:
    rng = random.Random("crawl_resume:pool")
    rows = [_page_row(_POOL_DOC_BASE + i, rng, 40, 80)
            for i in range(RESUME_POOL_PAGES)]
    table = _pages_table(rows)
    _write_split(table, os.path.join(path, "pages"))
    return {"fingerprint": _table_fingerprint(table, "url")}


# -- hashing, writing, caching ----------------------------------------------

def _row_bytes(row: dict) -> bytes:
    return json.dumps(row, sort_keys=True, default=_json_default,
                      ensure_ascii=False).encode()


def _json_default(v):
    if isinstance(v, bytes):
        return hashlib.sha256(v).hexdigest()
    return str(v)


def _table_fingerprint(table: pa.Table, key: str) -> str:
    h = hashlib.sha256()
    keys = table.column(key).to_pylist()
    rows = table.to_pylist()
    order = sorted(range(len(rows)), key=keys.__getitem__)
    for i in order:
        h.update(_row_bytes(rows[i]))
    return h.hexdigest()


def _write_split(table: pa.Table, path: str, files: int = INPUT_FILES) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-len(table) // files)
    for i in range(files):
        part = table.slice(i * step, step)
        if len(part):
            pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def source_key(root: str, rel_paths: list[str]) -> str:
    """Hash of the named source files (directories: every .py inside)."""
    h = hashlib.sha256()
    for rel in rel_paths:
        full = os.path.join(root, rel)
        files = ([os.path.join(d, f) for d, _, fs in sorted(os.walk(full))
                  for f in sorted(fs) if f.endswith(".py")]
                 if os.path.isdir(full) else [full])
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


GEN_SOURCES = [
    "perfbench/inputs.py",
    "norsk_historisk_avis_ocr_spark/sources/pages.py",
    "norsk_historisk_avis_ocr_spark/sources/rasters.py",
    "norsk_historisk_avis_ocr_spark/stages/png.py",
    "norsk_historisk_avis_ocr_spark/stages/jpeg.py",
    "norsk_historisk_avis_ocr_spark/stages/pdf.py",
    "norsk_historisk_avis_ocr_spark/stages/tiff.py",
]


def _cached(path: str, build) -> dict:
    """Build ``path`` once (atomically, via a temp dir) and return its
    manifest."""
    manifest = os.path.join(path, "manifest.json")
    if not os.path.exists(manifest):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        meta = build(tmp)
        with open(os.path.join(tmp, "manifest.json"), "w") as fh:
            json.dump(meta, fh)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    with open(manifest) as fh:
        return json.load(fh)


def _prune(parent: str, keep: int) -> None:
    dirs = sorted((os.path.join(parent, d) for d in os.listdir(parent)),
                  key=os.path.getmtime)
    for d in dirs[:-keep]:
        shutil.rmtree(d, ignore_errors=True)


@dataclasses.dataclass
class Inputs:
    """Paths and expectations for one (workload, seed)."""
    workload: str
    seed: int
    pages: str                 # input table directory
    fingerprints: dict         # input / scans_pool / resume_pool / probe
    scan_pool: str             # scans payload pool directory
    truncated: list            # pool rows whose payload is truncated
    done: str | None           # crawl_resume done-set, committed by the job
    gen_s: float


def prepare(root: str, work: str, workload: str, seed: int,
            build_resume_results) -> Inputs:
    """Generate (or reuse) the inputs for ``workload`` at ``seed``.

    ``build_resume_results(pages_dir, out_dir)`` commits the crawl_resume
    pool through the job itself; it runs only when the pool is new.
    """
    t0 = time.perf_counter()
    gen_key = source_key(root, GEN_SOURCES)
    pools = os.path.join(work, "pools")
    os.makedirs(pools, exist_ok=True)
    # The scans pool also feeds the per-layer raster timings of every
    # workload, so it is always built; the resume pool only when used.
    scan_pool = os.path.join(pools, f"scans-{gen_key}")
    scan_meta = _cached(scan_pool, _build_scan_pool)
    fps = {"probe": probe_fingerprint(),
           "scans_pool": scan_meta["fingerprint"]}
    done = None
    if workload == "crawl_resume":
        resume_pool = os.path.join(pools, f"crawl_resume-{gen_key}")
        fps["resume_pool"] = _cached(resume_pool,
                                     _build_resume_pool)["fingerprint"]
        code_key = source_key(root, ["norsk_historisk_avis_ocr_spark",
                                     "jobs", "perfbench"])
        done = os.path.join(pools, f"crawl_resume-done-{code_key}")
        if not os.path.isdir(done):
            tmp = done + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            build_resume_results(os.path.join(resume_pool, "pages"), tmp)
            os.rename(tmp, done)

    seeds = os.path.join(work, "inputs", workload)
    os.makedirs(seeds, exist_ok=True)
    path = os.path.join(seeds, f"{seed}-{gen_key}")

    def build(tmp):
        if workload == "scans":
            table = _scan_input(load_scan_pool(scan_pool),
                                scan_meta["truncated"], seed)
            key = "page_id"
        else:
            table = _text_input(workload, seed)
            key = "url"
        _write_split(table, os.path.join(tmp, "pages"),
                     files=8 if workload == "scans" else INPUT_FILES)
        return {"fingerprint": _table_fingerprint(table, key)}

    meta = _cached(path, build)
    os.utime(path)
    _prune(seeds, keep=12)  # a set of ten seeds stays cached
    pages = os.path.join(path, "pages")
    if workload == "crawl_resume":
        # the input is the committed pool plus this seed's new pages
        pages = os.path.join(path, "all")
        if not os.path.isdir(pages):
            tmp = pages + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            for tag, src in (("pool", os.path.join(resume_pool, "pages")),
                             ("new", os.path.join(path, "pages"))):
                for f in sorted(os.listdir(src)):
                    os.link(os.path.join(src, f),
                            os.path.join(tmp, f"{tag}-{f}"))
            os.rename(tmp, pages)
    fps["input"] = meta["fingerprint"]
    return Inputs(workload, seed, pages, fps, scan_pool,
                  scan_meta["truncated"], done, time.perf_counter() - t0)
