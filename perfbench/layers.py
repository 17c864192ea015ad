"""Per-layer metrics for the traced run (``--trace 1``).

Four sources, all from the benchmark's own files; no program code changes:

- *spans*: the job's calls into each module's public functions, recorded by
  wrapping those functions (and the two Spark actions the job path issues,
  ``DataFrame.count`` and ``DataFrameWriter.parquet``) for the traced job
  runs only. Spans are (name, start, end, parent) and are written as JSON.
- *Spark actions* on the workload's data, each timed to the noop sink: the
  scan, the done-set read, the anti-join, the extraction, the lineage pass,
  the Arrow boundary both ways and the parquet commit.
- *Spark's event log*, enabled for traced runs from the benchmark's own
  submit arguments: task run times, shuffle bytes, Python rows and bytes,
  and Exchange counts of the traced job run.
- *in-process stage timings* in microseconds per row over a deterministic
  sample, through the public stage functions.

Layers a workload does not exercise are timed on a small fixed sample (the
anchor pages, or one scan-pool page per codec), so every metric is measured
on every workload.
"""

from __future__ import annotations

import collections
import contextlib
import functools
import glob
import importlib
import json
import os
import random
import shutil
import statistics
import time

import pyarrow.compute as pc

UNITS = {
    "inputs.gen_s": "s",
    "plans.build_session_s": "s",
    "plans.worker_warm_s": "s",
    "sources.scan_s": "s",
    "sources.input_bytes": "B",
    "sinks.done_read_s": "s",
    "sinks.write_s": "s",
    "sinks.lineage_write_s": "s",
    "sinks.out_bytes": "B",
    "sinks.out_files": "count",
    "resume.antijoin_s": "s",
    "resume.exchanges": "count",
    "resume.shuffle_bytes": "B",
    "resume.rows_skipped": "count",
    "resume.skip_frac": "ratio",
    "resume.lineage_pass_s": "s",
    "extract.stage_s": "s",
    "extract.quarantine_split_s": "s",
    "extract.rows_quarantined": "count",
    "extract.task_s_p50": "s",
    "extract.task_s_max": "s",
    "udfs.arrow_in_s": "s",
    "udfs.arrow_out_s": "s",
    "udfs.python_rows_sent": "count",
    "udfs.python_rows_received": "count",
    "udfs.python_bytes_sent": "B",
    "udfs.python_bytes_received": "B",
    "udfs.extract_one_us": "us",
    "udfs.assemble_us": "us",
    "htmlparse.extract_sections_us": "us",
    "textops.clean_us": "us",
    "textops.combine_us": "us",
    "textops.transcribe_us": "us",
    "textops.spans_us": "us",
    "textops.diff_us": "us",
    "normalize.framed_us": "us",
    "normalize.words_changed": "words/row",
    "raster.stage_s": "s",
    "raster.decode_errors": "count",
    "png.decode_us": "us",
    "jpeg.decode_us": "us",
    "pdf.decode_us": "us",
    "tiff.decode_us": "us",
    "layout.geometry_us": "us",
    "trace.accounted_frac": "ratio",
    "trace.overhead_frac": "ratio",
}

_PKG = "norsk_historisk_avis_ocr_spark"
# (module, function, span name): the public functions on the job paths
_WRAPPED = [
    (f"{_PKG}.plans", "build_session", "plans.build_session"),
    (f"{_PKG}.operators.extract", "split_quarantine",
     "extract.split_quarantine"),
    (f"{_PKG}.operators.extract", "extract_pages", "extract.extract_pages"),
    (f"{_PKG}.operators.resume", "run_with_resume", "resume.run_with_resume"),
    (f"{_PKG}.operators.resume", "resume_filter", "resume.resume_filter"),
    (f"{_PKG}.operators.resume", "with_lineage_stats",
     "resume.with_lineage_stats"),
    (f"{_PKG}.operators.resume", "lineage_rows_from_stats",
     "resume.lineage_rows_from_stats"),
    (f"{_PKG}.sources.sinks", "read_done_urls", "sinks.read_done_urls"),
    (f"{_PKG}.sources.sinks", "write_results", "sinks.write_results"),
    (f"{_PKG}.sources.sinks", "write_lineage", "sinks.write_lineage"),
    (f"{_PKG}.operators.raster", "segment_image_pages",
     "raster.segment_image_pages"),
    ("pyspark.sql.dataframe", "DataFrame.count", "spark.count"),
    ("pyspark.sql.readwriter", "DataFrameWriter.parquet",
     "spark.write_parquet"),
]
TRACED_REPS = 2


class Tracer:
    """In-memory spans; a no-op when disabled."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None}
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    @contextlib.contextmanager
    def wrapped(self):
        """Wrap every function in _WRAPPED for the duration of the block."""
        saved = []
        for modname, attr, name in _WRAPPED:
            owner = importlib.import_module(modname)
            *path, fn_name = attr.split(".")
            for part in path:
                owner = getattr(owner, part)
            original = getattr(owner, fn_name)
            saved.append((owner, fn_name, original))
            setattr(owner, fn_name, self._wrap(original, name))
        try:
            yield
        finally:
            for owner, fn_name, original in reversed(saved):
                setattr(owner, fn_name, original)

    def _wrap(self, fn, name):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return wrapper

    def dump(self, path: str, t0: float, metrics: dict) -> None:
        """Spans in seconds since ``t0``, with the per-layer table."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"metrics": metrics, "spans": [
                {**s, "start": s["start"] - t0, "end": s["end"] - t0}
                for s in self.spans]}, fh, indent=0)


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def traced_runs(spark, job, tracer: Tracer, root_pid: int) -> list[float]:
    """TRACED_REPS job runs with every layer call wrapped; each run is its
    own Spark job group so the event log can be read per run."""
    sc = spark.sparkContext
    times = []
    with tracer.wrapped():
        for i in range(TRACED_REPS):
            sc.setJobGroup(f"traced-{i}", "traced job run")
            times.append(job.run(root_pid, tracer)[0])
    sc.setJobGroup("layers", "per-layer actions")
    return times


def _identity(batches):
    yield from batches


def _best_s(spark, group: str, action) -> float:
    """Best of two runs of ``action``: layer times are differences of two
    actions, and the minimum keeps co-tenant noise out of them."""
    spark.sparkContext.setJobGroup(group, group)
    times = []
    for _ in range(2):
        t0 = time.perf_counter()
        action()
        times.append(time.perf_counter() - t0)
    return min(times)


def _noop_s(spark, group: str, df) -> float:
    return _best_s(spark, group,
                   lambda: df.write.format("noop").mode("overwrite").save())


def _actions(spark, job, inputs, work: str) -> dict:
    """Layer actions on the workload's data, each timed to the noop sink."""
    from norsk_historisk_avis_ocr_spark.operators.extract import (
        extract_pages, split_quarantine,
    )
    from norsk_historisk_avis_ocr_spark.operators.raster import (
        segment_image_pages,
    )
    from norsk_historisk_avis_ocr_spark.operators.resume import (
        _LineageAccParam, resume_filter, with_lineage_stats,
    )
    from norsk_historisk_avis_ocr_spark.sources.sinks import (
        read_done_urls, write_results,
    )
    from perfbench import checks

    scans = job.workload == "scans"
    key, payload = ("page_id", "png") if scans else ("url", "html")
    committed = checks.parquet_files(job.out, exclude=frozenset(
        os.listdir(job.inp.done)) if job.workload == "crawl_resume"
        else frozenset())
    m = {}
    # the rows the last traced job run committed: the Python boundary on
    # the way out, and the parquet commit on its own
    res = spark.read.parquet(*committed)
    res_s = _noop_s(spark, "results_scan", res)
    m["udfs.arrow_out_s"] = _noop_s(spark, "arrow_out", res.mapInPandas(
        _identity, res.schema)) - res_s
    target = os.path.join(work, "write_probe")

    def write():
        shutil.rmtree(target, ignore_errors=True)
        write_results(res, target)

    m["sinks.write_s"] = _best_s(spark, "write", write) - res_s
    shutil.rmtree(target, ignore_errors=True)

    job.reset()  # the done-set as the job sees it
    pages = spark.read.parquet(job.inp.pages).select(key, payload)
    m["sources.scan_s"] = _noop_s(spark, "scan", pages)
    m["udfs.arrow_in_s"] = _noop_s(spark, "arrow_in", pages.mapInPandas(
        _identity, pages.schema)) - m["sources.scan_s"]
    done = read_done_urls(spark, job.out, key_col=key)
    m["sinks.done_read_s"] = _noop_s(spark, "done_read", done)
    todo = resume_filter(pages, done, key_col=key)
    m["resume.antijoin_s"] = _noop_s(spark, "antijoin", todo)

    anchors = spark.createDataFrame(
        [(r["url"], r["html"]) for r in inputs.anchor_pages()],
        "url string, html binary")
    pool = spark.read.parquet(os.path.join(job.inp.scan_pool,
                                           "pool.parquet"))
    probe = pool.where(pool.pool_id.endswith("-0")).select(
        pool.pool_id.alias("page_id"), pool.payload.alias("png"))
    extract_in = anchors if scans else split_quarantine(todo)[0]
    raster_in = todo if scans else probe
    m["extract.stage_s"] = _noop_s(spark, "extract",
                                   extract_pages(extract_in))
    m["raster.stage_s"] = _noop_s(spark, "raster",
                                  segment_image_pages(raster_in))
    stage = segment_image_pages(todo) if scans else extract_pages(extract_in)
    m["resume.lineage_pass_s"] = _noop_s(
        spark, "lineage_pass", with_lineage_stats(
            stage, spark.sparkContext.accumulator({}, _LineageAccParam()))) - (
        m["raster.stage_s"] if scans else m["extract.stage_s"])

    return m


def _text_sample(job, inputs, checks) -> list[tuple[str, bytes]]:
    """A deterministic sample of the workload's pages (anchors on scans)."""
    if job.workload == "scans":
        return [(r["url"], r["html"]) for r in inputs.anchor_pages()]
    n = 12 if job.workload == "broadsheet" else 48
    t = checks.read_table(checks.parquet_files(job.inp.pages),
                          ["url", "html"])
    t = t.filter(pc.is_valid(t.column("html")))
    rows = list(zip(t.column("url").to_pylist(),
                    t.column("html").to_pylist()))
    return random.Random(job.inp.seed).sample(sorted(rows), n)


def _text_micro(sample) -> dict:
    import pandas as pd

    from norsk_historisk_avis_ocr_spark.functions.udfs import (
        extract_map_fn, extract_one,
    )
    from norsk_historisk_avis_ocr_spark.stages.htmlparse import (
        extract_sections,
    )
    from norsk_historisk_avis_ocr_spark.stages.normalize import (
        default_normalizer,
    )
    from norsk_historisk_avis_ocr_spark.stages.textops import (
        clean_divider_noise, combine_sections, readable_diff,
        section_spans, transcribe_sections,
    )

    nz = default_normalizer()
    ns = collections.defaultdict(int)
    changed = 0
    clock = time.perf_counter_ns
    for url, html in sample:
        t0 = clock()
        header, cols = extract_sections(html)
        t1 = clock()
        raws = ([header] if header is not None else []) + cols
        labels = (["header"] if header is not None else []) + [
            f"column-{i}" for i in range(1, len(cols) + 1)]
        sections = [clean_divider_noise(r) for r in raws]
        t2 = clock()
        combine_sections(sections)
        t3 = clock()
        transcribed = transcribe_sections(sections)
        t4 = clock()
        section_spans(sections, labels)
        t5 = clock()
        normalized = nz.normalize_framed(transcribed)
        t6 = clock()
        readable_diff(transcribed[:-1], normalized[:-1])
        t7 = clock()
        extract_one(url, html, nz)
        t8 = clock()
        for name, a, b in (("htmlparse.extract_sections_us", t0, t1),
                           ("textops.clean_us", t1, t2),
                           ("textops.combine_us", t2, t3),
                           ("textops.transcribe_us", t3, t4),
                           ("textops.spans_us", t4, t5),
                           ("normalize.framed_us", t5, t6),
                           ("textops.diff_us", t6, t7),
                           ("udfs.extract_one_us", t7, t8)):
            ns[name] += b - a
        tw, nw = transcribed.split(), normalized.split()
        changed += sum(a != b for a, b in zip(tw, nw)) + abs(len(tw) - len(nw))
    # the batch function around extract_one: results are precomputed, so
    # only the per-batch setup and the column-wise assembly are timed
    from norsk_historisk_avis_ocr_spark.functions import udfs
    done = {u: extract_one(u, h, nz) for u, h in sample}
    batch = pd.DataFrame({"url": list(done), "html": [h for _, h in sample]})
    fn = extract_map_fn(nz.to_table())
    real, udfs.extract_one = udfs.extract_one, lambda u, *a, **k: done[u]
    try:
        t0 = clock()
        for _ in fn(iter([batch])):
            pass
        ns["udfs.assemble_us"] = clock() - t0
    finally:
        udfs.extract_one = real
    out = {k: v / 1e3 / len(sample) for k, v in ns.items()}
    out["normalize.words_changed"] = changed / len(sample)
    return out


def _raster_sample(job, inputs, checks) -> list[tuple[str, bytes]]:
    """(arm, payload): two pages per codec arm of the workload's own input
    on scans, one scan-pool page per arm elsewhere."""
    pool = inputs.load_scan_pool(job.inp.scan_pool).to_pylist()
    arm_of = {r["pool_id"]: r["arm"] for r in pool}
    if job.workload != "scans":
        return [(r["arm"], r["payload"]) for r in pool
                if r["pool_id"].endswith("-0")]
    t = checks.read_table(checks.parquet_files(job.inp.pages))
    picked = collections.defaultdict(list)
    for pid, payload in zip(t.column("page_id").to_pylist(),
                            t.column("png").to_pylist()):
        pool_id = checks.pool_id(pid)
        if pool_id.startswith("pool-") and len(picked[arm_of[pool_id]]) < 2:
            picked[arm_of[pool_id]].append(payload)
    return [(arm, p) for arm, ps in sorted(picked.items()) for p in ps]


def _raster_micro(sample) -> dict:
    from norsk_historisk_avis_ocr_spark.operators.raster import (
        decode_payload_gray,
    )
    from norsk_historisk_avis_ocr_spark.stages.layout import (
        split_columns_geometry,
    )
    ns = collections.defaultdict(list)
    geo = []
    for arm, payload in sample:
        t0 = time.perf_counter_ns()
        gray = decode_payload_gray(payload)
        t1 = time.perf_counter_ns()
        split_columns_geometry(gray)
        t2 = time.perf_counter_ns()
        ns[f"{arm.split('_')[0]}.decode_us"].append((t1 - t0) / 1e3)
        geo.append((t2 - t1) / 1e3)
    out = {k: statistics.mean(v) for k, v in ns.items()}
    out["layout.geometry_us"] = statistics.mean(geo)
    return out


def _median_of(passes: list[dict]) -> dict:
    return {k: statistics.median(p[k] for p in passes) for k in passes[0]}


def per_layer(spark, job, tracer: Tracer, traced: list[float], report,
              job_s: float, inp, work: str) -> dict:
    """Every per-layer metric except the event-log counters."""
    from perfbench import checks, inputs

    m = {"inputs.gen_s": inp.gen_s,
         "plans.build_session_s": tracer.seconds("plans.build_session"),
         "plans.worker_warm_s": tracer.seconds("plans.worker_warm")}
    last_job = max(i for i, s in enumerate(tracer.spans)
                   if s["name"] == "job")
    job_span = tracer.spans[last_job]
    children = [s for s in tracer.spans if s["parent"] == last_job]
    run_with_resume = next((s["start"] for s in children
                            if s["name"] == "resume.run_with_resume"),
                           job_span["end"])
    m["extract.quarantine_split_s"] = (
        run_with_resume - job_span["start"] - sum(
            s["end"] - s["start"] for s in children
            if s["name"] == "plans.build_session"))
    in_job = [s for s in tracer.spans[last_job:]
              if s["start"] <= job_span["end"]]
    m["sinks.lineage_write_s"] = sum(
        s["end"] - s["start"] for s in in_job
        if s["name"] in ("sinks.write_lineage",
                         "resume.lineage_rows_from_stats"))
    m["trace.accounted_frac"] = _covered(
        [(s["start"], s["end"]) for s in children]) / (
        job_span["end"] - job_span["start"])
    m["trace.overhead_frac"] = statistics.median(traced) / job_s - 1

    m.update(_actions(spark, job, inputs, work))
    m["sources.input_bytes"] = sum(
        os.path.getsize(f) for f in checks.parquet_files(job.inp.pages))
    m["sinks.out_bytes"] = report.out_bytes
    m["sinks.out_files"] = report.out_files
    m["resume.rows_skipped"] = report.skipped
    m["resume.skip_frac"] = report.skipped / report.attempted
    scans = job.workload == "scans"
    m["extract.rows_quarantined"] = 0 if scans else report.quarantined
    m["raster.decode_errors"] = report.quarantined if scans else 0

    text = _text_sample(job, inputs, checks)
    raster = _raster_sample(job, inputs, checks)
    m.update(_median_of([_text_micro(text) for _ in range(3)]))
    m.update(_median_of([_raster_micro(raster) for _ in range(3)]))
    return m


def event_log_counters(work: str) -> dict:
    """Counters of the last traced job run, from Spark's event log (read
    after the session stopped, when the log is complete)."""
    group = f"traced-{TRACED_REPS - 1}"
    stages, execs = set(), set()
    tasks = collections.defaultdict(list)   # stage -> task-end events
    plans = {}                               # execution id -> last plan
    for path in glob.glob(os.path.join(work, "eventlog", "*")):
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"].rsplit(".", 1)[-1]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    if props.get("spark.jobGroup.id") == group:
                        stages.update(e["Stage IDs"])
                        if "spark.sql.execution.id" in props:
                            execs.add(int(props["spark.sql.execution.id"]))
                elif kind == "SparkListenerTaskEnd":
                    tasks[e["Stage ID"]].append(e)
                elif kind in ("SparkListenerSQLExecutionStart",
                              "SparkListenerSQLAdaptiveExecutionUpdate"):
                    plans[e["executionId"]] = e["sparkPlanInfo"]

    updates = collections.Counter()          # accumulator id -> total
    by_name = collections.Counter()
    shuffle = 0
    python_stage = {}                        # stage -> its task run times
    for sid in stages:
        for e in tasks.get(sid, ()):
            shuffle += e["Task Metrics"]["Shuffle Write Metrics"][
                "Shuffle Bytes Written"]
            python = False
            for a in e["Task Info"]["Accumulables"]:
                if isinstance(a.get("Update"), (int, str)) and \
                        str(a["Update"]).lstrip("-").isdigit():
                    updates[a["ID"]] += int(a["Update"])
                    by_name[a["Name"]] += int(a["Update"])
                python |= a["Name"] == "data sent to Python workers"
            if python:
                python_stage.setdefault(sid, []).append(
                    e["Task Metrics"]["Executor Run Time"] / 1e3)

    exchanges = rows_in = rows_out = 0

    def rows_metric(node):
        for mt in node.get("metrics", ()):
            if mt["name"] == "number of output rows":
                return mt["accumulatorId"]
        return None

    def first_rows(node):
        for child in node.get("children", ()):
            acc = rows_metric(child)
            if acc is not None:
                return acc
            acc = first_rows(child)
            if acc is not None:
                return acc
        return None

    def walk(node):
        nonlocal exchanges, rows_in, rows_out
        if node["nodeName"].endswith("Exchange"):
            exchanges += 1
        if node["nodeName"] in ("MapInPandas", "MapInArrow"):
            rows_out += updates[rows_metric(node)]
            rows_in += updates[first_rows(node)]
        for child in node.get("children", ()):
            walk(child)

    for ex in execs:
        if ex in plans:
            walk(plans[ex])
    runs = max(python_stage.values(), key=sum, default=[0.0])
    return {
        "resume.exchanges": exchanges,
        "resume.shuffle_bytes": shuffle,
        "udfs.python_rows_sent": rows_in,
        "udfs.python_rows_received": rows_out,
        "udfs.python_bytes_sent": by_name["data sent to Python workers"],
        "udfs.python_bytes_received":
            by_name["data returned from Python workers"],
        "extract.task_s_p50": statistics.median(runs),
        "extract.task_s_max": max(runs),
    }
