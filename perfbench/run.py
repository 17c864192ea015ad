"""Job-path benchmark: the two user entry points on seeded inputs.

    python3 perfbench/run.py --workload crawl_fresh --seed 1 --seconds 8 \\
        --trace 0

Runs ``jobs/extract.py:main`` (workloads crawl_fresh, broadsheet,
crawl_resume) or ``jobs/segment_scans.py:main`` (scans) in this process on
``local[<usable cores>]``, over inputs generated from ``--seed``
(perfbench/inputs.py). The job runs once untimed, then again until
``--seconds`` have passed (at least MIN_REPS times); ``job_s`` is the
median. The last run's output is checked (perfbench/checks.py).

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` they are the per-layer ones
(perfbench/layers.py), and the spans are written to
``.perfbench/trace/``. A table of the same metrics goes to stderr.

Exit codes: 0 correct, 1 an output check failed, 2 the checkout is not a
repository checkout, 3 the inputs do not match their recorded fingerprints.
``--record`` stores fingerprints and digests into perfbench/goldens.json.

Everything the benchmark writes stays under ``.perfbench/`` in the checkout
root: inputs, job outputs, Spark local and temp directories, event logs.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
GOLDENS = os.path.join(ROOT, "perfbench", "goldens.json")
REQUIRED = ("norsk_historisk_avis_ocr_spark/plans/session.py",
            "jobs/extract.py", "jobs/segment_scans.py")
WORKLOADS = ("crawl_fresh", "broadsheet", "crawl_resume", "scans")
MIN_REPS = 3

E2E_UNITS = {"setup_s": "s", "job_s": "s", "job_cpu_s": "s",
             "rows_per_s": "rows/s",
             "worker_rss_mb": "MB", "out_bytes_per_row": "B/row"}


def _environment(trace: bool) -> int:
    """Point every scratch path of Spark and Python into WORK; enable the
    event log only for traced runs. Must run before pyspark starts."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    events = os.path.join(WORK, "eventlog")
    for d in (tmp, events):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "NHAO_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
    })
    conf = ["spark.ui.showConsoleProgress=false",
            # no hsperfdata files in /tmp: nothing is written outside WORK
            f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
            "-XX:-UsePerfData",
            f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}"]
    if trace:
        conf += ["spark.eventLog.enabled=true",
                 f"spark.eventLog.dir=file://{events}",
                 "spark.eventLog.compress=false",
                 "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(c)}" for c in conf) + " pyspark-shell"
    return cpus


def _load_job(name: str):
    spec = importlib.util.spec_from_file_location(
        f"perfbench_job_{name}", os.path.join(ROOT, "jobs", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _descendants(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, own + reaped children) of the process
    tree under ``root_pid``."""
    ticks = 0
    for pid in _descendants(root_pid):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def _python_pids(root_pid: int) -> list[int]:
    pids = []
    for pid in _descendants(root_pid):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().startswith("python"):
                    pids.append(pid)
        except OSError:
            pass
    return pids


class RssSampler:
    """Peak RSS of the largest single Python process under the Spark JVM,
    sampled from /proc while the ``with`` block runs."""

    def __init__(self, root_pid: int, interval: float = 0.02):
        self.root_pid = root_pid
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
        pids, n = [], 0
        while not self._stop.is_set():
            if n % 10 == 0:
                pids = _python_pids(self.root_pid)
            n += 1
            for pid in pids:
                try:
                    with open(f"/proc/{pid}/statm") as fh:
                        rss = int(fh.read().split()[1]) * page_kb
                except (OSError, IndexError, ValueError):
                    continue
                self.peak_kb = max(self.peak_kb, rss)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


class Job:
    """One workload's job, its directories and how to reset them."""

    def __init__(self, workload: str, inp, work: str):
        self.workload = workload
        self.inp = inp
        self.out = os.path.join(work, "out")
        self.lineage = os.path.join(work, "lineage")
        self.quarantine = os.path.join(work, "quarantine")
        self.module = _load_job("segment_scans" if workload == "scans"
                                else "extract")

    def reset(self) -> None:
        for d in (self.out, self.lineage, self.quarantine):
            shutil.rmtree(d, ignore_errors=True)
        if self.workload == "crawl_resume":
            # restore the done-set the job committed once (hard links: the
            # job only adds files)
            os.makedirs(self.out)
            for f in os.listdir(self.inp.done):
                os.link(os.path.join(self.inp.done, f),
                        os.path.join(self.out, f))

    def argv(self) -> list[str]:
        argv = ["--input", self.inp.pages, "--output", self.out,
                "--lineage", self.lineage]
        if self.workload != "scans":
            argv += ["--quarantine", self.quarantine]
        return argv

    def run(self, root_pid: int, tracer=None) -> tuple[float, float, float]:
        """(wall seconds, CPU seconds, peak worker RSS in MB) of one job
        run."""
        self.reset()
        span = tracer.span("job") if tracer else contextlib.nullcontext()
        with RssSampler(root_pid) as rss, span:
            cpu0 = _tree_cpu_s(root_pid)
            t0 = time.perf_counter()
            self.module.main(self.argv())
            dt = time.perf_counter() - t0
            cpu = _tree_cpu_s(root_pid) - cpu0
        return dt, cpu, rss.peak_kb / 1024

    def check(self, goldens: dict, inputs):
        from perfbench import checks
        seed_golden = goldens.get("seeds", {}).get(self.workload, {}).get(
            str(self.inp.seed), {})
        if self.workload == "scans":
            pool = inputs.load_scan_pool(self.inp.scan_pool) \
                .column("pool_id").to_pylist()
            truncated = {pool[i] for i in self.inp.truncated}
            return checks.check_scans(self.inp.pages, self.out, self.lineage,
                                      self.inp.seed, truncated, goldens,
                                      seed_golden)
        done = self.inp.done if self.workload == "crawl_resume" else None
        anchors = [r["url"] for r in inputs.anchor_pages()]
        return checks.check_text(self.inp.pages, self.out, self.quarantine,
                                 self.lineage, done, self.inp.seed, anchors,
                                 goldens, seed_golden)


def _identity(batches):
    yield from batches


def _setup(cpus: int, tracer):
    from norsk_historisk_avis_ocr_spark import plans
    with tracer.span("plans.build_session"):
        spark = plans.build_session("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    with tracer.span("plans.worker_warm"):
        spark.range(cpus * 2, numPartitions=cpus) \
            .mapInPandas(_identity, "id long").collect()
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers are gone."""
    proc = spark.sparkContext._gateway.proc
    pids = _descendants(proc.pid)
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def _load_goldens() -> dict:
    with open(GOLDENS) as fh:
        return json.load(fh)


def _fingerprint_errors(inp, goldens: dict) -> list[str]:
    recorded = {
        "probe": goldens.get("probe"),
        "scans_pool": goldens.get("pools", {}).get("scans"),
        "resume_pool": goldens.get("pools", {}).get("crawl_resume"),
        "input": goldens.get("seeds", {}).get(inp.workload, {})
        .get(str(inp.seed), {}).get("input"),
    }
    return [f"{k}: recorded {v[:16]}, generated {inp.fingerprints[k][:16]}"
            for k, v in recorded.items()
            if v is not None and k in inp.fingerprints
            and v != inp.fingerprints[k]]


def _table(metrics: dict) -> None:
    width = max(len(k) for k in metrics)
    for name, m in metrics.items():
        print(f"  {name:<{width}}  {m['value']:>14.6g}  {m['unit']}",
              file=sys.stderr)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record", action="store_true",
                   help="store this run's fingerprints and digests in "
                        "perfbench/goldens.json")
    args = p.parse_args(argv)

    missing = [r for r in REQUIRED if not os.path.exists(os.path.join(ROOT, r))]
    if missing:
        print(f"perfbench: not a repository checkout, missing {missing}",
              file=sys.stderr)
        return 2
    cpus = _environment(bool(args.trace))
    sys.path.insert(0, ROOT)
    from perfbench import inputs, layers

    tracer = layers.Tracer(enabled=bool(args.trace))
    spark = _setup(cpus, tracer)
    setup_s = time.perf_counter() - T0
    try:
        result = _measure(args, spark, setup_s, tracer, inputs, layers)
    finally:
        _stop(spark)
    if isinstance(result, int):
        return result
    report, metrics, lines = result
    if args.trace:
        metrics.update(layers.event_log_counters(WORK))
        metrics = {k: {"value": metrics[k], "unit": layers.UNITS[k]}
                   for k in layers.UNITS}
        tracer.dump(os.path.join(WORK, "trace",
                                 f"{args.workload}-{args.seed}.json"), T0,
                    metrics)
    else:
        metrics = {k: {"value": metrics[k], "unit": E2E_UNITS[k]}
                   for k in E2E_UNITS}
    for line in lines:
        print(line, file=sys.stderr)
    _table(metrics)
    print(json.dumps({"correct": report.failed == 0,
                      "attempted": report.attempted,
                      "failed": report.failed, "metrics": metrics}))
    return 0 if report.failed == 0 else 1


def _measure(args, spark, setup_s, tracer, inputs, layers):
    """Generate, run and check; returns an exit code on a fingerprint
    mismatch, else (report, metrics, summary lines)."""
    goldens = _load_goldens()
    extract = _load_job("extract")

    def commit_pool(pages_dir, out_dir):
        extract.main(["--input", pages_dir, "--output", out_dir])

    inp = inputs.prepare(ROOT, WORK, args.workload, args.seed, commit_pool)
    errors = _fingerprint_errors(inp, goldens)
    if errors and not args.record:
        print("perfbench: inputs do not match their recorded fingerprints "
              "(a generator or encoder changed):", file=sys.stderr)
        for e in errors:
            print(f"  {e}", file=sys.stderr)
        return 3

    phases = [("setup", setup_s), ("generated", time.perf_counter() - T0)]
    job = Job(args.workload, inp, os.path.join(WORK, "run"))
    root_pid = spark.sparkContext._gateway.proc.pid
    # One untimed run starts the Python workers both chained Python stages
    # need. The JVM's JIT keeps speeding the job up for several more runs;
    # warming up by run count, not by time, puts the timed runs at the same
    # point of that curve on a busy host as on a quiet one.
    cold_s = job.run(root_pid)[0]
    times, cpus, rss = [], [], []
    deadline = time.perf_counter() + args.seconds
    while len(times) < MIN_REPS or time.perf_counter() < deadline:
        dt, cpu, mb = job.run(root_pid)
        times.append(dt)
        cpus.append(cpu)
        rss.append(mb)
    job_s = statistics.median(times)
    phases.append(("measured", time.perf_counter() - T0))
    traced = (layers.traced_runs(spark, job, tracer, root_pid)
              if args.trace else [])
    # a recording run checks only what needs no golden, then records
    report = job.check({} if args.record else goldens, inputs)
    if args.record:
        _record(args, inp, report, goldens, inputs)

    metrics = {
        "setup_s": setup_s,
        "job_s": job_s,
        "job_cpu_s": statistics.median(cpus),
        "rows_per_s": report.attempted / job_s,
        "worker_rss_mb": statistics.median(rss),
        "out_bytes_per_row": report.out_bytes / max(report.committed, 1),
    }
    if args.trace:
        metrics.update(layers.per_layer(spark, job, tracer, traced, report,
                                        job_s, inp, WORK))
    phases.append(("checked", time.perf_counter() - T0))
    lines = [f"perfbench {args.workload} seed {args.seed}: untimed first "
             f"run {cold_s:.2f} s; job runs "
             f"{', '.join(f'{t:.2f}' for t in times)} s (CPU "
             f"{', '.join(f'{c:.1f}' for c in cpus)} s) over "
             f"{report.attempted} input rows; inputs "
             f"generated in {inp.gen_s:.2f} s (not part of setup_s)",
             f"  committed {report.committed}, quarantined "
             f"{report.quarantined}, skipped {report.skipped}, failed "
             f"{report.failed}: failed_frac {report.failed_frac:.6g} ratio"]
    lines += [f"  FAIL {note}" for note in report.notes]
    lines.append("  phases: " + ", ".join(f"{k} {v:.1f}s" for k, v in phases))
    return report, metrics, lines


def _record(args, inp, report, goldens: dict, inputs) -> None:
    from perfbench import checks
    goldens["probe"] = inp.fingerprints["probe"]
    pools = goldens.setdefault("pools", {})
    pools["scans"] = inp.fingerprints["scans_pool"]
    if "resume_pool" in inp.fingerprints:
        pools["crawl_resume"] = inp.fingerprints["resume_pool"]
    if args.workload == "scans":
        pool = inputs.load_scan_pool(inp.scan_pool)
        goldens["scan_pool_rows"] = {
            pid: checks.geometry_digest(checks.recompute_geometry(payload))
            for pid, payload in zip(pool.column("pool_id").to_pylist(),
                                    pool.column("payload").to_pylist())}
    else:
        goldens["anchors"] = report.row_digests or goldens.get("anchors", {})
    goldens.setdefault("seeds", {}).setdefault(args.workload, {})[
        str(args.seed)] = {"input": inp.fingerprints["input"],
                           "output": report.output_digest}
    with open(GOLDENS, "w") as fh:
        json.dump(goldens, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    sys.exit(main())
