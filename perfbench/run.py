"""Product-path benchmark: ingest → extract (commit + lineage) → corpus.

    python3 perfbench/run.py --workload crawl_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout (any working directory works); everything
it writes stays under ``.bench_work/`` (scratch, and one detail file per
run) and ``.bench_cache/`` (per-seed reference digests) of that checkout.

``run.py`` runs the benchmark in a child process of its own and stays the
subreaper of everything that child starts: once the child has exited, it
waits for every process below it to end (killing those still running after
a grace period), so a run leaves no process behind. The child holds one
``local[N]`` Spark session with N = the cores it may use. Before timing,
the run computes the reference digest, starts Spark and makes one untimed
pass over the product path that warms the JVM and the Python workers (for
``daily_append`` that pass builds the starting warehouse). Timed
repetitions follow, at least ``MIN_REPS``, and more while one as long as
the last still fits in ``--seconds``; every end-to-end metric is the median
over them, except ``peak_rss_mb``, the lowest repetition's peak, and
``setup_s``: the median of ``SETUP_REPS`` timings, taken before Spark
starts, of generating the run's input from the seed and writing it in its
ingest format.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the same
repetitions with spans around every call into the package's modules
(``tracing.py``) and the session's event log on (``eventlog.py``), and
reports the per-layer metrics instead; it also prints how far its own
end-to-end times sit above the latest untraced run of the same workload and
seed in this checkout (the tracing overhead), and how much of
``extract_job_s`` and ``corpus_job_s`` the layers' self times account for.

Every repetition is checked: the committed ``extracted`` rows must have the
same (url, doc_type, extracted_text) multiset digest as
``ref_extractor.extract`` over the same generated payloads, no partition
date may fail, and the corpus funnel and exported shards must be identical
across repetitions and runs of one seed. A run that fails a check prints
``"correct": false`` with no metrics and exits 1.

The last line of stdout is the JSON headline; per-layer detail, spans and
per-repetition numbers go to ``.bench_work/detail-<workload>-s<seed>-t<trace>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time

ROOT = pathlib.Path(__file__).resolve().parent.parent
# set in the child process that runs the benchmark (see ``supervise``)
CHILD_ENV = "PERFBENCH_CHILD"
# prctl option: orphaned descendants are reparented to this process
PR_SET_CHILD_SUBREAPER = 36
# the child is killed if it runs longer, and once it has exited, processes
# still running below this one after the grace period are killed
CHILD_TIMEOUT_S = 170
REAP_GRACE_S = 15

# (name, unit, description) of every metric; BENCHMARK.json lists the same
# names with their bounds.
END_TO_END = [
    ("setup_s", "s", "median set-up: generate the input from the seed, "
     "write it in its ingest format"),
    ("pipeline_docs_per_s", "1/s", "new docs / wall of ingest+extract+corpus"),
    ("extract_docs_per_s", "1/s", "new docs / wall of ingest+run_extract"),
    ("extract_mb_per_s", "MB/s", "new payload MB / wall of ingest+run_extract"),
    ("extract_job_s", "s", "wall of run_extract"),
    ("corpus_job_s", "s", "wall of build_corpus"),
    ("peak_rss_mb", "MB", "peak RSS of the Python driver and Python workers"),
    ("stored_bytes_per_input_byte", "ratio",
     "extracted data-file bytes committed / new payload bytes"),
]

# (name, unit, better, what it should move). "Moves" names the end-to-end
# metric and workload a change to the layer shows up in; "crawl" and
# "daily" stand for crawl_batch and daily_append.
_EXTRACTOR = "extract_docs_per_s, pipeline_docs_per_s on crawl"
_PLANS = "extract_job_s, extract_docs_per_s on daily; barely on crawl"
_CORPUS = "corpus_job_s, pipeline_docs_per_s on crawl and daily"
PER_LAYER = [
    ("ref_extractor.html_mb_per_s", "MB/s", "higher", _EXTRACTOR),
    ("ref_extractor.pdf_mb_per_s", "MB/s", "higher", _EXTRACTOR),
    ("ref_extractor.doc_ms_p50", "ms", "lower", _EXTRACTOR),
    ("ref_extractor.doc_ms_p99", "ms", "lower", _EXTRACTOR),
    ("ref_extractor.max_doc_s", "s", "lower",
     "extract_job_s through the slowest task, on crawl"),
    ("ref_extractor.error_docs", "count", "lower", _EXTRACTOR),
    ("operators.py_run_s", "s", "lower", "extract_job_s on crawl"),
    ("operators.py_init_s", "s", "lower",
     "extract_job_s on crawl, and most on daily where tasks are small"),
    ("operators.arrow_to_py_mb", "MB", "lower", "extract_job_s on crawl"),
    ("operators.arrow_from_py_mb", "MB", "lower",
     "stored_bytes_per_input_byte and extract_job_s on crawl"),
    ("operators.scan_s", "s", "lower", "extract_job_s on crawl"),
    ("operators.shuffle_write_mb", "MB", "lower", "extract_job_s on crawl"),
    ("operators.tasks", "count", "lower", "extract_job_s on daily"),
    ("operators.task_max_over_median", "ratio", "lower",
     "extract_job_s through skew; should not move on crawl"),
    ("plans.dates_processed", "count", "lower", _PLANS),
    ("plans.dates_skipped", "count", "higher", _PLANS),
    ("plans.spark_jobs", "count", "lower", _PLANS),
    ("plans.lineage_s", "s", "lower", _PLANS),
    ("plans.cluster_idle_frac", "ratio", "lower", _PLANS),
    ("tables.commits", "count", "lower", "extract_job_s on daily"),
    # self time of IceTable.append/overwrite_partitions: the Spark job that
    # writes the rows (and so runs the extractor) is not counted
    ("tables.commit_s", "s", "lower", "extract_job_s on daily"),
    ("tables.files_written", "count", "lower", "extract_job_s on daily"),
    ("sources.ingest_s", "s", "lower",
     "extract_docs_per_s on daily, through the ingest wall"),
    ("sources.warc_records", "count", "higher", "extract_docs_per_s on daily"),
    ("sources.warc_mb_per_s", "MB/s", "higher", "extract_docs_per_s on daily"),
    ("jobs.corpus_spark_jobs", "count", "lower", _CORPUS),
    ("jobs.corpus_shuffle_write_mb", "MB", "lower", _CORPUS),
    ("jobs.corpus_executor_busy_s", "s", "lower", _CORPUS),
]

MIN_REPS = 1
SETUP_REPS = 5

# The layers' self times must add up to the phase's wall time within this
# share, or the detail file flags the accounting as incomplete.
ACCOUNT_TOLERANCE = 0.05


def cores() -> int:
    return len(os.sched_getaffinity(0))


def cpu_steal() -> float:
    """Seconds of CPU time the hypervisor took from this machine so far."""
    with open("/proc/stat", encoding="ascii") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def driver_memory_mb() -> int:
    """An eighth of the box's memory, between 1 and 4 GiB."""
    with open("/proc/meminfo", encoding="ascii") as f:
        total_kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    return max(1024, min(4096, total_kb // 8 // 1024))


def process_children() -> dict[int, list[tuple[int, bytes]]]:
    """parent pid → [(pid, command name)] of every process now running."""
    children: dict[int, list[tuple[int, bytes]]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat", "rb") as f:
                    st = f.read()
            except OSError:
                continue
            comm = st[st.index(b"(") + 1 : st.rindex(b")")]
            ppid = int(st[st.rindex(b")") + 2 :].split()[1])
            children.setdefault(ppid, []).append((int(d), comm))
    return children


def descendants(pid: int, children=None) -> list[int]:
    children = process_children() if children is None else children
    out, frontier = [], [pid]
    while frontier:
        for c, _ in children.get(frontier.pop(), []):
            out.append(c)
            frontier.append(c)
    return out


class PeakRss:
    """Samples, on a background thread, the peak RSS of the processes this
    benchmark starts, in three groups: this Python driver process, the JVM,
    and the Python workers (the JVM's descendants)."""

    PERIOD_S = 0.25
    GROUPS = ("driver", "jvm", "workers")

    def __init__(self) -> None:
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.peak = dict.fromkeys(self.GROUPS, 0)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _rss(self, pid: int) -> int:
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                return int(f.read().split()[1]) * self._page
        except OSError:
            return 0

    def _sample(self) -> None:
        children = process_children()
        jvms = [p for p, comm in children.get(os.getpid(), []) if comm == b"java"]
        now = {
            "driver": self._rss(os.getpid()),
            "jvm": sum(self._rss(p) for p in jvms),
            "workers": sum(self._rss(c) for p in jvms
                           for c in descendants(p, children)),
        }
        for g in self.GROUPS:
            self.peak[g] = max(self.peak[g], now[g])

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.PERIOD_S)

    def start(self) -> None:
        self.peak = dict.fromkeys(self.GROUPS, 0)
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> dict[str, float]:
        """Peak RSS in MB of each group since ``start``."""
        self._stop.set()
        self._thread.join()
        self._sample()
        return {g: v / 1e6 for g, v in self.peak.items()}


def start_spark(work: pathlib.Path, n: int, event_dir: pathlib.Path | None):
    from pyspark.sql import SparkSession

    for d in ("local", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    # Python workers import the package from this checkout whatever the
    # working directory; Spark's scratch space stays inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    # the JVM that spark-submit runs to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData")
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{driver_memory_mb()}m")
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData")
        .config("spark.local.dir", str(work / "local"))
        .config("spark.sql.warehouse.dir", str(work / "spark-warehouse"))
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.pyspark.python", sys.executable)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # the product session (jobs/extract_job.build_session), sized to N
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.files.maxPartitionBytes", str(512 * 1024))
    )
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", str(event_dir))
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it ran in and the Python workers it
    forked, and wait until each has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    forked = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    for pid in forked:
        while _running(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _running(pid):
            os.kill(pid, signal.SIGKILL)


def supervise(argv: list[str]) -> int:
    """Run the benchmark in a child process, with this process as the
    subreaper of everything the child starts, so that processes orphaned on
    the way (the Python workers of the JVM, multiprocessing's resource
    tracker) are reparented here. Once the child has exited, end and reap
    every process below this one; return the child's exit code."""
    import ctypes
    import subprocess

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")

    def terminate(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, terminate)
    grace = 0.0
    try:
        child = subprocess.Popen(
            [sys.executable, str(pathlib.Path(__file__).resolve()), *argv],
            env={**os.environ, CHILD_ENV: "1"})
        try:
            rc = child.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {CHILD_TIMEOUT_S} s; killed",
                  file=sys.stderr)
            return 1
        grace = REAP_GRACE_S
        return rc
    finally:
        reap_descendants(grace)


def reap_descendants(grace_s: float) -> None:
    """Wait up to ``grace_s`` seconds for every process below this one to
    exit, then kill those left, and reap each until none is left."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() >= deadline:
            for p in descendants(os.getpid()):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            st = f.read()
    except OSError:
        return False
    return st[st.rindex(b")") + 2 : st.rindex(b")") + 3] != b"Z"


def spec_digest(wl, plan, seed: int, n: int, cache: pathlib.Path) -> str:
    """Digest of ``ref_extractor.extract`` over every row the warehouse
    will hold, computed once per seed on a pool of ``n`` processes."""
    import concurrent.futures as cf
    import multiprocessing as mp

    from perfbench import workloads as W
    from pdf_extractor_spark.version import EXTRACTOR_VERSION

    path = cache / f"spec-{wl.name}-s{seed}-{plan.fingerprint()}-v{EXTRACTOR_VERSION}.json"
    if path.exists():
        return json.loads(path.read_text())["digest"]
    rows = plan.base + plan.batch
    parts = [rows[k::n] for k in range(n)]
    with cf.ProcessPoolExecutor(n, mp_context=mp.get_context("spawn")) as ex:
        hashes = [h for part in ex.map(W.spec_hashes, [seed] * n, parts)
                  for h in part]
    digest = W.multiset_digest(hashes)
    _write_json(path, {"digest": digest})
    return digest


def replay(plan, seed: int) -> tuple[str, dict[str, float]]:
    """Single-threaded ``ref_extractor.extract`` over the same payloads,
    timed per document: the extractor layer's numbers, and the spec digest."""
    from perfbench import workloads as W
    from pdf_extractor_spark.corpus import generator
    from pdf_extractor_spark.ref_extractor import extract

    times, by_type, hashes, errors = [], {}, [], 0
    for i, d in plan.base + plan.batch:
        r = generator.make_row(seed, i, d)
        t0 = time.perf_counter()
        res = extract(r.html)
        dt = time.perf_counter() - t0
        times.append(dt)
        acc = by_type.setdefault(res.doc_type, [0, 0.0])
        acc[0] += len(r.html)
        acc[1] += dt
        errors += bool(res.error)
        hashes.append(W.row_hash(r.url, res.doc_type, res.text))
    times.sort()

    def rate(kind: str) -> float:
        b, s = by_type.get(kind, (0, 0.0))
        return b / 1e6 / s if s else 0.0

    return W.multiset_digest(hashes), {
        "ref_extractor.html_mb_per_s": rate("html"),
        "ref_extractor.pdf_mb_per_s": rate("pdf"),
        "ref_extractor.doc_ms_p50": 1e3 * statistics.median(times),
        "ref_extractor.doc_ms_p99": 1e3 * statistics.quantiles(times, n=100)[98],
        "ref_extractor.max_doc_s": times[-1],
        "ref_extractor.error_docs": errors,
    }


def _write_json(path: pathlib.Path, obj) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_name(f".{path.name}.{os.getpid()}")
    tmp.write_text(json.dumps(obj, indent=1, sort_keys=True))
    os.replace(tmp, path)


def end_to_end(setups: list[float], reps) -> dict[str, float]:
    med = statistics.median
    return {
        "setup_s": med(setups),
        "pipeline_docs_per_s": med(
            r.docs / (r.ingest_s + r.extract_s + r.corpus_s) for r in reps),
        "extract_docs_per_s": med(r.docs / (r.ingest_s + r.extract_s) for r in reps),
        "extract_mb_per_s": med(
            r.payload_bytes / 1e6 / (r.ingest_s + r.extract_s) for r in reps),
        "extract_job_s": med(r.extract_s for r in reps),
        "corpus_job_s": med(r.corpus_s for r in reps),
        # the lowest repetition's peak: a transient extra Python worker in
        # one repetition does not decide it
        "peak_rss_mb": min(r.peak_rss_mb["driver"] + r.peak_rss_mb["workers"]
                           for r in reps),
        "stored_bytes_per_input_byte": med(
            r.stored_bytes / r.payload_bytes for r in reps),
    }


def per_layer(reps, tracer, log) -> tuple[dict[str, float], list[dict]]:
    """Per-layer metrics (median over repetitions) and, per repetition, the
    self-time accounting of the extract and corpus phases."""
    from perfbench import eventlog
    from perfbench.tracing import clip, self_times, union_length

    jobs = eventlog.job_intervals(log)
    selft = self_times(tracer.spans, jobs)
    rows, accounts = [], []
    for r in reps:
        k = r.rep
        ops = eventlog.operator_numbers(log, "extract", k)
        corpus = eventlog.operator_numbers(log, "corpus", k)
        lo, hi = r.spans["extract"]
        in_extract = [s for s in tracer.spans if s.rep == k
                      and s.start >= lo and s.end <= hi]

        commits = [s for s in in_extract if s.name in
                   ("IceTable.append", "IceTable.overwrite_partitions")]
        busy = union_length(clip(eventlog.task_intervals(log, "extract", k), lo, hi))
        ingest = next(s for s in tracer.spans if s.rep == k and s.layer == "sources")
        rows.append({
            **{f"operators.{m}": ops[m] for m in (
                "py_run_s", "py_init_s", "arrow_to_py_mb", "arrow_from_py_mb",
                "scan_s", "shuffle_write_mb", "tasks", "task_max_over_median")},
            "plans.dates_processed": len(r.processed),
            "plans.dates_skipped": len(r.skipped),
            "plans.spark_jobs": ops["spark_jobs"],
            "plans.lineage_s": union_length([(s.start, s.end) for s in in_extract
                                             if s.layer == "lineage"]),
            "plans.cluster_idle_frac": 1.0 - busy / (hi - lo),
            "tables.commits": len(commits),
            "tables.commit_s": sum(selft[s.id] for s in commits),
            "tables.files_written": r.files_written,
            "sources.ingest_s": ingest.dur,
            "sources.warc_records": r.pages_landed if r.warc_bytes else 0,
            "sources.warc_mb_per_s": r.warc_bytes / 1e6 / ingest.dur,
            "jobs.corpus_spark_jobs": corpus["spark_jobs"],
            "jobs.corpus_shuffle_write_mb": corpus["shuffle_write_mb"],
            "jobs.corpus_executor_busy_s": corpus["executor_busy_s"],
        })
        acc = {"rep": k}
        for phase, root_name in (("extract", "run_extract"),
                                 ("corpus", "build_corpus")):
            root = next(s for s in tracer.spans
                        if s.rep == k and s.name == root_name)
            by_layer: dict[str, float] = {}
            for s in tracer.spans:
                if s.rep == k and s.start >= root.start and s.end <= root.end:
                    by_layer[s.layer] = by_layer.get(s.layer, 0.0) + selft[s.id]
            for j, (jlo, jhi, jrep) in enumerate(jobs):
                if jrep == k and root.start <= jlo <= root.end:
                    by_layer["spark_jobs"] = (by_layer.get("spark_jobs", 0.0)
                                              + selft[-1 - j])
            total = sum(by_layer.values())
            acc[phase] = {
                "wall_s": root.dur,
                "self_s": by_layer,
                "accounted_frac": total / root.dur,
                "within_tolerance": abs(total / root.dur - 1) <= ACCOUNT_TOLERANCE,
            }
        accounts.append(acc)
    metrics = {name: statistics.median(row[name] for row in rows)
               for name in rows[0]}
    for acc, row in zip(accounts, rows):
        acc["per_layer"] = row
    return metrics, accounts


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "pdf_extractor_spark" / "__init__.py").is_file():
        print(f"perfbench: no pdf_extractor_spark package under {ROOT}; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import workloads as W

    if args.workload not in W.SPECS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"have {sorted(W.SPECS)}", file=sys.stderr)
        return 2
    if os.environ.get(CHILD_ENV) != "1":
        return supervise(sys.argv[1:] if argv is None else argv)
    wl = W.SPECS[args.workload]
    n = cores()
    trace = bool(args.trace)
    cache = ROOT / ".bench_cache"
    work = ROOT / ".bench_work" / f"{wl.name}-s{args.seed}-t{args.trace}-{os.getpid()}"
    detail_path = ROOT / ".bench_work" / f"detail-{wl.name}-s{args.seed}-t{args.trace}.json"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # temporary files of this process, its pool workers and the JVM stay
    # inside the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None

    detail: dict = {"workload": wl.name, "seed": args.seed, "cores": n,
                    "trace": trace, "seconds": args.seconds}
    spark = tracer = None
    try:
        plan = W.plan_rows(wl, n)
        # set-up, timed SETUP_REPS times before Spark starts so that
        # nothing else runs beside it; the last input written is used
        setups = []
        for k in range(SETUP_REPS):
            t0 = time.perf_counter()
            inp = W.write_input(plan, args.seed, n, work / f"input{k}")
            setups.append(time.perf_counter() - t0)
        detail["setup_s"] = setups
        t0 = time.perf_counter()
        layer_metrics: dict[str, float] = {}
        if trace:
            spec, layer_metrics = replay(plan, args.seed)
        else:
            spec = spec_digest(wl, plan, args.seed, n, cache)
        detail["spec_s"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        spark = start_spark(work, n, work / "eventlog" if trace else None)
        detail["session_start_s"] = time.perf_counter() - t0
        sc = spark.sparkContext

        t0 = time.perf_counter()
        base_wh = None
        if inp.base is not None:
            base_wh = W.build_base(spark, inp, work / "base")
        detail["base_build_s"] = time.perf_counter() - t0

        if trace:
            from perfbench.tracing import Tracer

            tracer = Tracer()
            tracer.install()

        def phase(name: str, rep: int) -> None:
            sc.setLocalProperty("perfbench.phase", name or None)
            sc.setLocalProperty("perfbench.rep", str(rep) if name else None)

        def run(rep: int) -> "W.RepResult":
            if tracer is not None:
                tracer.rep = rep
            rep_dir = work / f"rep{rep}"
            r = W.run_rep(spark, inp, rep, rep_dir, base_wh, phase, rss)
            shutil.rmtree(rep_dir, ignore_errors=True)
            return r

        rss = PeakRss()
        warm, reps, durations = [], [], []
        if base_wh is None:
            # the session's first pass over the product path runs with a
            # cold JVM and fresh Python workers: a warm-up, checked but not
            # timed (daily_append's starting-warehouse build plays this part)
            warm.append(run(0))
        window0 = time.perf_counter()
        steal0 = cpu_steal()
        # another repetition starts while one as long as the last still
        # fits in the window; at least MIN_REPS are timed
        while len(reps) < MIN_REPS or (time.perf_counter() - window0
                                       + durations[-1] <= args.seconds):
            t0 = time.perf_counter()
            reps.append(run(len(warm) + len(reps)))
            durations.append(time.perf_counter() - t0)
        detail["steal_frac"] = (cpu_steal() - steal0) / (
            (time.perf_counter() - window0) * n)
        detail["window_s"] = time.perf_counter() - window0
        if tracer is not None:
            tracer.uninstall()
        stop_spark(spark)
        spark = None
    except Exception:
        import traceback

        traceback.print_exc()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1,
                          "metrics": {}}))
        return 1

    # --- checks -------------------------------------------------------------
    problems = []
    checked = warm + reps
    attempted = sum(len(r.processed) + len(r.failed) for r in checked)
    failed = sum(len(r.failed) for r in checked)
    if failed:
        problems.append(f"{failed} partition-dates failed")
    for r in checked:
        if r.committed != spec:
            problems.append(f"rep {r.rep}: committed digest {r.committed} "
                            f"!= ref_extractor digest {spec}")
        if r.pages_landed != r.docs:
            problems.append(f"rep {r.rep}: {r.pages_landed} pages landed of {r.docs}")
    from pdf_extractor_spark.version import EXTRACTOR_VERSION

    ref_path = cache / f"corpus-{wl.name}-s{args.seed}-{plan.fingerprint()}-v{EXTRACTOR_VERSION}.json"
    if ref_path.exists():
        ref = json.loads(ref_path.read_text())
    else:
        ref = {"funnel": checked[0].funnel, "shards": checked[0].shards}
        if not problems:
            _write_json(ref_path, ref)
    for r in checked:
        if {"funnel": r.funnel, "shards": r.shards} != ref:
            problems.append(f"rep {r.rep}: corpus funnel or shard digest differs "
                            f"from the first run of this seed ({ref_path.name})")

    detail["warm_up"] = [vars(r) for r in warm]
    detail["reps"] = [vars(r) for r in reps]
    detail["problems"] = problems
    print(f"{'failed_partition_frac':32s} {failed / max(attempted, 1):14.4f} "
          f"{'ratio':6s} failed / attempted partition-dates")
    print(f"{'reps':32s} {len(reps):14d} {'count':6s} timed repetitions")
    e2e = end_to_end(setups, reps)
    if not problems:
        detail["end_to_end"] = e2e
        for name, unit, what in END_TO_END:
            print(f"{name:32s} {e2e[name]:14.4f} {unit:6s} {what}")
        print(f"{'ingest_s':32s} "
              f"{statistics.median(r.ingest_s for r in reps):14.4f} "
              f"{'s':6s} wall of the ingest call")

    if trace and not problems:
        from perfbench import eventlog

        log = eventlog.read(work / "eventlog")
        more, accounts = per_layer(reps, tracer, log)
        layer_metrics.update(more)
        detail["per_layer"] = layer_metrics
        detail["accounting"] = accounts
        detail["spans"] = tracer.dump()
        for name, unit, _, moves in PER_LAYER:
            print(f"{name:32s} {layer_metrics[name]:14.4f} {unit:6s} moves {moves}")
        for acc in accounts:
            for ph in ("extract", "corpus"):
                a = acc[ph]
                parts = " ".join(f"{k}={v:.2f}s" for k, v in sorted(a["self_s"].items()))
                print(f"accounting rep {acc['rep']} {ph}: wall {a['wall_s']:.2f}s "
                      f"= {a['accounted_frac']:.3f} x self({parts}) "
                      f"tolerance {ACCOUNT_TOLERANCE} "
                      f"{'ok' if a['within_tolerance'] else 'EXCEEDED'}")
        untraced = cache / f"e2e-{wl.name}-s{args.seed}-{plan.fingerprint()}.json"
        if untraced.exists():
            base_e2e = json.loads(untraced.read_text())
            overhead = {m: e2e[m] / base_e2e[m] - 1
                        for m in ("extract_job_s", "corpus_job_s")}
            detail["trace_overhead_frac"] = overhead
            print("tracing overhead vs untraced run: " + " ".join(
                f"{m}={v:+.3f}" for m, v in overhead.items()))
        else:
            print("tracing overhead: no untraced run of this workload and "
                  "seed in this checkout yet")
    elif not problems:
        _write_json(cache / f"e2e-{wl.name}-s{args.seed}-{plan.fingerprint()}.json", e2e)

    _write_json(detail_path, detail)
    shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    if problems:
        print(json.dumps({"correct": False, "attempted": max(attempted, 1),
                          "failed": max(failed, 1), "metrics": {}}))
        return 1
    if trace:
        metrics = {name: {"value": layer_metrics[name], "unit": unit}
                   for name, unit, _, _ in PER_LAYER}
    else:
        metrics = {name: {"value": e2e[name], "unit": unit}
                   for name, unit, _ in END_TO_END}
    print(json.dumps({"correct": True, "attempted": attempted,
                      "failed": failed, "metrics": metrics},
                     separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
