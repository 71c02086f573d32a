"""The repository benchmark: one workload per run, end to end or traced.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run it from the repository root. Workloads:

- ``kmz_http``: ``GET /{en|fr}/{area}.kmz`` against the service running in
  its own process (``perfbench/server.py``), from a closed loop of
  ``CLIENTS`` client threads; areas follow a skewed popularity over a
  generated ATES corpus (``perfbench/gen_ates.py``).
- ``batch_mix``: whole passes, in this process, over a fixed list of
  operations (``perfbench/batch_mix.json``): registry queries from
  ``__spark_entry__.queries()`` on generated tables
  (``perfbench/gen_tables.py``), each collected, and one full-corpus
  ``area_export.export_ndjson`` on a generated ATES corpus. Query results
  are collected rather than written to the noop sink so that each is
  checked without running it a second time.

Set-up (``setup_s``) runs from starting the program (Spark session,
catalog, server) to its first successful operation; input generation is
not part of it. kmz_http then warms up with ``KMZ_WARMUP_PER_CLIENT``
requests per client. The timed window runs for ``--seconds``; batch_mix
runs whole passes, as many as fit in it, and at least one. Outputs are
checked after the window; a failed check fails its operation and counts in
``fail_frac`` and in ``failed`` of the result line, which is then not
``correct``. Latencies are those of the completed operations (an HTTP 200,
or no exception), whether or not their output passed its checks.

With ``--trace 0`` the last line of standard output carries the
end-to-end metrics, with ``--trace 1`` the per-layer metrics read from
spans the benchmark records around its calls into each layer and from
Spark's own accounting. The line before it is a report with every
end-to-end figure, including those that are not metrics of the result
line: ``op_tail_ms`` with its percentile (absent below eleven operations),
``fail_frac``, ``out_bytes_per_op`` (export operations only) and
``peak_rss_mb``, the largest sum of the PSS of the program's processes
over samples every 0.25 s (a per-layer metric: its run-to-run spread is
too wide for a bound). The report also gives ``host_steal_frac``, the
share of this machine's CPU time in the timed window that the hypervisor
gave to other guests, which tells a busy host from a slower program.
Spans of a traced run are written to
``.perfbench/spans-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import spans as tr  # noqa: E402
from server import OP_HEADER  # noqa: E402

WORKLOADS = ("kmz_http", "batch_mix")
#: the batch_mix entry that runs the EP3 export instead of a registry query
EXPORT = "export_ndjson"
CLIENTS = 2
#: Zipf exponent of area popularity for kmz_http
POPULARITY_S = 1.1
#: requests each kmz_http client sends after set-up, checked but not timed:
#: a fresh server answers its first requests several times slower while
#: the JVM compiles, which users of a running server do not pay, and it
#: keeps getting faster for a minute or more; with fewer warm-up requests
#: the timed window falls on the steep part of that curve, where its
#: median moves with how fast each run warms up
KMZ_WARMUP_PER_CLIENT = 4
#: kmz_http per-layer metrics are means over the first requests of the
#: seeded sequence, which every run completes, so that counts repeat
#: exactly between runs of one seed
KMZ_TRACED_OPS = 8
TABLE_ORDER = checks.TABLE_ORDER
REGISTRY_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                    "lineitem", "events", "documents", "embeddings")


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


# --- statistics ---------------------------------------------------------------


def tail(samples: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it, or None with fewer than eleven samples."""
    n = len(samples)
    rank = n - 10  # 1-based rank of the reported sample
    if rank < 1:
        return None
    return 100.0 * rank / n, sorted(samples)[rank - 1]


def steal_s() -> float:
    """CPU time, summed over CPUs, that the hypervisor gave to other guests
    while this machine's CPUs were ready to run (steal in ``/proc/stat``)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


# --- process tree --------------------------------------------------------------


def _ppids() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def process_tree(root: int) -> list[int]:
    ppids = _ppids()
    tree, frontier = [], [root]
    while frontier:
        pid = frontier.pop()
        if pid in ppids or pid == root:
            tree.append(pid)
            frontier.extend(c for c, p in ppids.items() if p == pid)
    return tree


def _pss_kib(pid: int) -> int:
    """Proportional set size of ``pid`` in KiB: pages it shares with other
    processes (forked Python workers) count by their share. Falls back to
    RSS where ``smaps_rollup`` cannot be read."""
    for path, key in ((f"/proc/{pid}/smaps_rollup", "Pss:"), (f"/proc/{pid}/status", "VmRSS:")):
        try:
            with open(path) as fh:
                for line in fh:
                    if line.startswith(key):
                        return int(line.split()[1])
        except OSError:
            pass
    return 0


class RssSampler:
    """Peak memory of a process tree: every ``interval`` seconds the PSS of
    the processes in the tree is summed, and the largest sum is the peak.
    A process that lives for less than one interval may be missed."""

    def __init__(self, root: int, interval: float = 0.25) -> None:
        self.root, self.interval = root, interval
        self.peak_kib = 0
        self.at_peak: dict[str, int] = {}  # KiB per process name at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def sample(self) -> None:
        kib: dict[str, int] = {}
        for pid in process_tree(self.root):
            name = _comm(pid)
            kib[name] = kib.get(name, 0) + _pss_kib(pid)
        if sum(kib.values()) > self.peak_kib:
            self.peak_kib, self.at_peak = sum(kib.values()), kib

    def by_name(self) -> dict[str, float]:
        """MiB per process name at the peak."""
        return {name: kib / 1024.0 for name, kib in self.at_peak.items() if kib}

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def stop(self) -> float:
        """Stop sampling; peak in MiB."""
        self.sample()
        self._stop.set()
        self._thread.join()
        return self.peak_kib / 1024.0


def wait_gone(pids: list[int], timeout: float = 60.0) -> None:
    """Wait until every pid has exited; kill those that outlive ``timeout``."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        if alive:
            time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            args = fh.read().split(b"\0")
    except OSError:
        return "?"
    name = os.path.basename(args[0].decode(errors="replace"))
    module = next((a.decode() for a in args[1:3] if a.startswith(b"pyspark.")), None)
    return f"{name} -m {module}" if module else name


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


# --- context -----------------------------------------------------------------


class Run:
    """Paths, environment and results of one benchmark run."""

    def __init__(self, args) -> None:
        self.args = args
        self.root = os.getcwd()
        self.out_dir = os.path.join(self.root, ".perfbench")
        self.work = os.path.join(self.out_dir, f"run-{args.workload}-{args.seed}-{os.getpid()}")
        self.cores = len(os.sched_getaffinity(0))
        self.ops: list[dict] = []  # one per measured operation
        self.setup_ops: list[dict] = []  # set-up and warm-up: checked, not timed
        self.layer: dict[str, float] = {}
        self.extra: dict = {}
        self.spans: list[dict] = []
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        os.makedirs(os.path.join(self.work, "spark-local"), exist_ok=True)

    def env(self) -> dict[str, str]:
        """Environment for the program: cores from the CPU set, Spark and
        temp files inside the run directory, and the repository on the
        Python path so that Spark's Python workers import the package."""
        env = dict(os.environ)
        env["SPARK_GRAFT_CPUS"] = str(self.cores)
        env["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        env["TMPDIR"] = os.path.join(self.work, "tmp")
        # every JVM, Spark's launcher included: temp files in the run
        # directory, no /tmp/hsperfdata, no console progress bars
        env["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData "
            "-Dspark.ui.showConsoleProgress=false")
        env["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, env.get("PYTHONPATH")) if p)
        return env

    def generate(self, script: str) -> str:
        out = os.path.join(self.work, "data", os.path.splitext(script)[0])
        subprocess.run(
            [sys.executable, os.path.join(HERE, script), "--seed", str(self.args.seed),
             "--out", out],
            check=True, env=self.env(), stdout=subprocess.DEVNULL)
        log(f"generated inputs with {script}")
        return out


# --- in-process Spark ----------------------------------------------------------


def start_spark(run: Run):
    os.environ.update(run.env())
    sys.path.insert(0, run.root)
    from database2ogr_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM and Python workers to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    tree = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on end of input
            proc.wait(timeout=60)
    wait_gone(tree)
    log("stopped Spark")


def release_blocks(spark) -> None:
    """Drop cached relations and every persisted RDD, localCheckpoint
    blocks included (the same hygiene as ``bench.py``)."""
    spark.catalog.clearCache()
    for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        jrdd.unpersist(True)


# --- workloads -----------------------------------------------------------------


def request_sequence(seed: int, sizes: dict[str, int]):
    """Endless (op, area, lang) sequence. Area popularity is Zipf over
    ranks. The ranks requested, and the size quantile of the area at each
    rank, are the same for every seed; the seed picks the corpus, hence
    which area id holds each size, and the languages. Every run therefore
    asks for the same amount of work in the same order, and the figures of
    runs with different seeds differ by the system, not by the draw."""
    fixed, langs = random.Random(0), random.Random(seed)
    by_size = sorted(sizes, key=lambda a: (sizes[a], int(a)))
    ranked = [by_size[i] for i in fixed.sample(range(len(by_size)), len(by_size))]
    weights = [1.0 / (r + 1) ** POPULARITY_S for r in range(len(ranked))]
    op = 0
    while True:
        area = fixed.choices(ranked, weights)[0]
        yield op, area, langs.choice(("en", "fr"))
        op += 1


def _get(port: int, op: int, area: str, lang: str) -> dict:
    t0 = time.perf_counter()
    rec = {"op": op, "area": area, "lang": lang, "status": None, "body": b"", "error": None}
    try:
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
        conn.request("GET", f"/{lang}/{area}.kmz", headers={OP_HEADER: str(op)})
        resp = conn.getresponse()
        rec["status"], rec["body"] = resp.status, resp.read()
        conn.close()
    except OSError as e:
        rec["error"] = repr(e)
    rec["latency_s"] = time.perf_counter() - t0
    rec["end"] = time.perf_counter()
    return rec


def kmz_http(run: Run) -> None:
    data = run.generate("gen_ates.py")
    with open(os.path.join(data, "expected.json")) as fh:
        expected = json.load(fh)["per_area"]
    seq = request_sequence(run.args.seed, {a: sum(c.values()) for a, c in expected.items()})
    port_file = os.path.join(run.work, "port")
    trace_file = os.path.join(run.work, "server-trace.json")
    cmd = [sys.executable, os.path.join(HERE, "server.py"), "--data", data,
           "--port-file", port_file, "--trace", str(run.args.trace), "--trace-out", trace_file]
    with open(os.path.join(run.work, "server.log"), "w") as err:
        t0 = time.perf_counter()
        proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=err, stderr=err, env=run.env())
    rss = RssSampler(proc.pid)
    try:
        while not os.path.exists(port_file):
            if proc.poll() is not None or time.perf_counter() - t0 > 150:
                raise RuntimeError("server did not start; see server.log")
            time.sleep(0.05)
        with open(port_file) as fh:
            port = int(fh.read())
        first = _get(port, *next(seq))
        run.setup_ops.append(first)
        run.extra["setup_s"] = first["end"] - t0
        log("set up")
        if first["status"] != 200:
            raise RuntimeError(f"first request failed: {first['status']} {first['error']}")

        lock = threading.Lock()

        def closed_loop(done, into: list[dict]) -> None:
            """CLIENTS threads, each sending its next request when its
            previous one returns, until ``done(requests it sent)``."""
            def client(c: int) -> None:
                sent = 0
                while not done(sent):
                    with lock:
                        req = next(seq)
                    rec = _get(port, *req)
                    rec["client"] = c
                    sent += 1
                    with lock:
                        into.append(rec)

            threads = [threading.Thread(target=client, args=(c,)) for c in range(CLIENTS)]
            for t in threads:
                t.start()
            for t in threads:
                t.join()

        closed_loop(lambda sent: sent >= KMZ_WARMUP_PER_CLIENT, run.setup_ops)
        log("warmed up")
        start, stolen = time.perf_counter(), steal_s()
        deadline = start + run.args.seconds
        closed_loop(lambda sent: time.perf_counter() >= deadline, run.ops)
        run.extra["window_s"] = max(r["end"] for r in run.ops) - start
        run.extra["host_steal_frac"] = (steal_s() - stolen) / (run.extra["window_s"] * run.cores)
        # each client's own rate is exact, with no partial request in it
        run.extra["ops_per_s"] = sum(
            len(mine) / (max(r["end"] for r in mine) - start)
            for mine in ([r for r in run.ops if r["client"] == c and r["status"] == 200]
                         for c in range(CLIENTS)) if mine)
        log(f"timed window over: {len(run.ops)} operations")
    finally:
        run.extra["peak_rss_mb"] = rss.stop()
        run.extra["peak_rss_mb_by_process"] = rss.by_name()
        tree = process_tree(proc.pid)
        proc.stdin.close()
        try:
            proc.wait(timeout=90)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        wait_gone(tree)
        log("stopped the server")

    # checks, outside the timed window
    first: dict[tuple[str, str], bytes] = {}
    for rec in run.setup_ops + run.ops:
        rec["completed"] = rec["status"] == 200
        if not rec["completed"]:
            rec["problems"] = [f"status {rec['status']} {rec['error'] or ''}".strip()]
            continue
        key = (rec["area"], rec["lang"])
        rec["problems"] = checks.check_kmz(rec["body"], expected[rec["area"]])
        if key in first:
            rec["repeat"] = True
            rec["restamped"] = rec["body"] != first[key]
            rec["problems"] += checks.check_repeat(first[key], rec["body"])
        else:
            first[key] = rec["body"]
        rec["problems"] = [f"area {key}: {p}" for p in rec["problems"]]
    timed = max(1, len(run.ops))
    run.extra["repeat_share"] = sum(bool(r.get("repeat")) for r in run.ops) / timed
    # repeats whose bytes differ only in the archive's last-modified time
    run.extra["restamped_repeat_share"] = sum(bool(r.get("restamped")) for r in run.ops) / timed
    run.layer["kml.restamped_repeat_share"] = run.extra["restamped_repeat_share"]
    for rec in run.ops:
        rec["out_bytes"] = len(rec["body"])
        rec["body"] = None

    if run.args.trace:
        with open(trace_file) as fh:
            trace = json.load(fh)
        run.spans = trace["spans"]
        kmz_layers(run, trace["records"])


def batch_mix(run: Run) -> None:
    with open(os.path.join(HERE, "batch_mix.json")) as fh:
        mix = json.load(fh)
    names = [e["name"] for e in mix["entries"]]
    tables = run.generate("gen_tables.py")
    ates = run.generate("gen_ates.py")
    with open(os.path.join(ates, "expected.json")) as fh:
        totals = json.load(fh)["totals"]
    rss = RssSampler(os.getpid())
    t0 = time.perf_counter()
    spark = start_spark(run)
    try:
        import __spark_entry__ as entry
        from database2ogr_spark.plans import area_export
        from database2ogr_spark.schemas import ATES_SCHEMAS
        from database2ogr_spark.sources.catalog import Catalog

        qs = entry.queries()
        catalog = Catalog(spark, ates, ATES_SCHEMAS)
        tracer = acct = None
        if run.args.trace:
            tracer, acct = trace_batch(spark)

        def query(rec: dict) -> None:
            with tracer.span("registry.plan_build") if tracer else nullcontext():
                df = qs[rec["name"]](spark, tables)
            with tracer.span("registry.execute") if tracer else nullcontext():
                rec["rows"] = df.collect()
            rec["columns"] = df.columns

        def export(rec: dict) -> None:
            rec["out"] = os.path.join(run.work, "out", str(rec["op"]))
            rec["paths"] = area_export.export_ndjson(catalog, rec["out"])

        def op(i: int, name: str) -> dict:
            rec = {"op": i, "name": name, "error": None}
            group = f"op-{i}"
            if tracer:
                spark.sparkContext.setJobGroup(group, name)
            s = time.perf_counter()
            try:
                with tracer.operation(i) if tracer else nullcontext():
                    with tracer.span(name if name == EXPORT else "registry.query") if tracer else nullcontext():
                        (export if name == EXPORT else query)(rec)
            except Exception as e:  # a failed query or export is a failed operation
                rec["error"] = repr(e)
            rec["latency_s"] = time.perf_counter() - s
            if tracer:
                try:
                    rec["spark"] = spark_op(tracer, acct, i, group)
                except Exception as e:  # the operation's accounting is lost
                    rec["error"] = rec["error"] or repr(e)
                rec["persisted_left"] = acct.persisted_rdds()
            release_blocks(spark)
            return rec

        first = op(0, names[0])
        run.extra["setup_s"] = time.perf_counter() - t0
        log("set up")
        run.setup_ops.append(first)
        if first["error"]:
            raise RuntimeError(f"first operation failed: {first['error']}")
        # whole passes; another only while it is expected to end inside the
        # window, so a run measures between half the window and one pass
        start, stolen = time.perf_counter(), steal_s()
        passes = 0
        while True:
            for name in names:
                run.ops.append(op(len(run.ops) + 1, name))
            passes += 1
            elapsed = time.perf_counter() - start
            if elapsed * (passes + 1) / passes > run.args.seconds:
                break
        run.extra["passes"] = passes
        run.extra["window_s"] = time.perf_counter() - start
        run.extra["host_steal_frac"] = (steal_s() - stolen) / (run.extra["window_s"] * run.cores)
        run.extra["peak_rss_mb"] = rss.stop()
        run.extra["peak_rss_mb_by_process"] = rss.by_name()
        rss = None
        log(f"timed window over: {len(run.ops)} operations")
    finally:
        if rss is not None:
            rss.stop()
        stop_spark(spark)

    # checks, outside the timed window: exports against the generator's
    # counts, query results against their DuckDB twins
    import duckdb

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    for t in REGISTRY_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    reference: dict[str, tuple] = {}
    for rec in run.setup_ops + run.ops:
        rec["completed"] = rec["error"] is None
        if rec["error"]:
            rec["problems"] = [f"{rec['name']}: {rec['error']}"]
        elif rec["name"] == EXPORT:
            rec["problems"] = checks.check_ndjson(rec["paths"], totals)
            rec["rows_out"] = sum(totals.values())
            rec["out_bytes"] = sum(
                os.path.getsize(os.path.join(dp, f))
                for p in rec["paths"] for dp, _d, fs in os.walk(p) for f in fs
                if f.startswith("part-"))
            shutil.rmtree(rec["out"], ignore_errors=True)
        else:
            if rec["name"] not in reference:
                ref = con.sql(oracles[rec["name"]])
                reference[rec["name"]] = (ref.columns, ref.fetchall())
            rec["problems"] = [
                f"{rec['name']}: {p}"
                for p in checks.check_result(rec["columns"], rec["rows"], *reference[rec["name"]])]
            rec["rows_out"] = len(rec.pop("rows"))
    con.close()
    if run.args.trace:
        run.spans = tracer.spans
        batch_layers(run)


# --- tracing -------------------------------------------------------------------


def trace_batch(spark):
    """Spans around the export's calls into ``plans.area_export`` and
    ``sinks.geojson``; registry calls are wrapped where they are made."""
    from database2ogr_spark.plans import area_export
    from database2ogr_spark.sinks import geojson

    tracer = tr.Tracer()

    def tag_table(rec, args, kwargs, result):
        rec["table"] = args[2] if len(args) > 2 else kwargs["table"]

    tracer.wrap(area_export, "build_table_dfs", "build_table_dfs")
    tracer.wrap(area_export, "_apply_warnify", "_apply_warnify")
    tracer.wrap(geojson, "write_ndjson", "write_ndjson", tag_table)
    return tracer, tr.SparkAccounting(spark)


def spark_op(tracer: tr.Tracer, acct: tr.SparkAccounting, op, group: str) -> dict:
    """Spark counters of one operation; its jobs become spans."""
    stats, jobs = acct.op_stats(group)
    closed = [s for s in tracer.spans if s["op"] == op]
    for j, start, end in jobs:
        tracer.add({"name": "spark.job", "op": op, "parent": tr.parent_of(closed, op, start),
                    "start": start, "end": end, "job": j})
    return stats


def _spans_of(run: Run, name: str, op) -> list[dict]:
    return [s for s in run.spans if s["name"] == name and str(s["op"]) == str(op)]


def _dur(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def spark_layers(run: Run, recs: list[dict], op_wall_s: list[float], rows_out: list[float]) -> None:
    """The ``spark.*``, ``catalog.*`` and ``python.*`` metrics over ``recs``."""
    L = run.layer
    st = [r["spark"] for r in recs]
    n = max(1, len(st))

    def per_op(key: str, scale: float = 1.0) -> float:
        return sum(s[key] for s in st) * scale / n

    L["spark.jobs_per_op"] = per_op("jobs")
    L["spark.stages_per_op"] = per_op("stages")
    L["spark.tasks_per_op"] = per_op("tasks")
    L["spark.job_busy_ms_per_op"] = per_op("job_busy_ms")
    L["spark.driver_gap_ms_per_op"] = (
        sum(op_wall_s) * 1000.0 / n - L["spark.job_busy_ms_per_op"])
    L["spark.executor_run_ms_per_op"] = per_op("executor_run_ms")
    L["spark.executor_cpu_ms_per_op"] = per_op("executor_cpu_ms")
    L["spark.gc_ms_per_op"] = per_op("gc_ms")
    wall_ms = sum(op_wall_s) * 1000.0
    L["spark.core_busy_frac"] = (
        sum(s["executor_run_ms"] for s in st) / (wall_ms * run.cores) if wall_ms else 0.0)
    L["spark.shuffle_write_bytes_per_op"] = per_op("shuffle_write_bytes")
    L["spark.shuffle_read_bytes_per_op"] = per_op("shuffle_read_bytes")
    L["spark.spill_bytes_per_op"] = per_op("spill_bytes")
    L["spark.failed_tasks"] = float(sum(s["failed_tasks"] for s in st))
    L["catalog.input_rows_per_op"] = per_op("input_rows")
    L["catalog.input_bytes_per_op"] = per_op("input_bytes")
    out = sum(rows_out)
    L["catalog.rows_read_per_row_out"] = sum(s["input_rows"] for s in st) / out if out else 0.0
    L["python.rows_from_python_per_op"] = per_op("rows_from_python")
    L["python.bytes_to_python_per_op"] = per_op("bytes_to_python")
    L["python.worker_ms_per_op"] = per_op("python_ms")


def kmz_layers(run: Run, records: list[dict]) -> None:
    by_op = {str(r["op"]): r for r in records}
    client = {str(r["op"]): r for r in run.ops}
    traced = sorted((o for o in by_op if o in client), key=int)[:KMZ_TRACED_OPS]
    L = run.layer
    recs = [by_op[o] for o in traced]
    L["service.overhead_ms"] = _mean(
        (client[o]["latency_s"] - by_op[o]["export_s"]) * 1000.0 for o in traced)
    L["area_export.export_ms"] = _mean(by_op[o]["export_s"] * 1000.0 for o in traced)
    L["area_export.plan_build_ms"] = _mean(
        1000.0 * (_dur(_spans_of(run, "build_table_dfs", o)) + _dur(_spans_of(run, "_apply_warnify", o)))
        for o in traced)
    L["kml.document_ms"] = _mean(1000.0 * _dur(_spans_of(run, "kml_document", o)) for o in traced)
    L["kml.guard_calls_per_op"] = _mean(len(_spans_of(run, "guard_driver_rows", o)) for o in traced)
    docs = [_spans_of(run, "kml_document", o) for o in traced]
    placemarks = [sum(s.get("placemarks", 0) for s in d) for d in docs]
    L["kml.placemarks_per_op"] = _mean(placemarks)
    L["kml.write_kmz_ms"] = _mean(1000.0 * _dur(_spans_of(run, "write_kmz", o)) for o in traced)
    L["kml.kml_bytes_per_op"] = _mean(sum(s.get("kml_bytes", 0) for s in d) for d in docs)
    L["kml.kmz_bytes_per_op"] = _mean(
        sum(s.get("kmz_bytes", 0) for s in _spans_of(run, "write_kmz", o)) for o in traced)
    spark_layers(run, recs, [r["export_s"] for r in recs], placemarks)


def batch_layers(run: Run) -> None:
    L = run.layer
    ops = run.ops
    queries = [r for r in ops if r["name"] != EXPORT]
    exports = [r for r in ops if r["name"] == EXPORT]
    L["registry.plan_build_ms"] = _mean(
        1000.0 * _dur(_spans_of(run, "registry.plan_build", r["op"])) for r in queries)
    L["registry.execute_ms"] = _mean(
        1000.0 * _dur(_spans_of(run, "registry.execute", r["op"])) for r in queries)
    L["registry.persisted_rdds_left"] = _mean(r["persisted_left"] for r in queries)
    L["area_export.export_ms"] = _mean(1000.0 * _dur(_spans_of(run, EXPORT, r["op"])) for r in exports)
    L["area_export.plan_build_ms"] = _mean(
        1000.0 * (_dur(_spans_of(run, "build_table_dfs", r["op"]))
                  + _dur(_spans_of(run, "_apply_warnify", r["op"])))
        for r in exports)
    for table in TABLE_ORDER:
        L[f"geojson.write_ndjson_ms.{table}"] = _mean(
            1000.0 * _dur([s for s in _spans_of(run, "write_ndjson", r["op"]) if s.get("table") == table])
            for r in exports)
    L["geojson.features_per_op"] = _mean(r.get("rows_out", 0) for r in exports)
    L["geojson.output_bytes_per_op"] = _mean(r.get("out_bytes", 0) for r in exports)
    counted = [r for r in ops if "spark" in r]
    spark_layers(
        run, counted,
        [_dur(_spans_of(run, EXPORT if r["name"] == EXPORT else "registry.query", r["op"])) for r in counted],
        [r.get("rows_out", 0) for r in counted])


# --- result --------------------------------------------------------------------


def load_metric_names() -> tuple[list[dict], list[dict]]:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec["end_to_end"], spec["per_layer"]


def summarize(run: Run) -> dict:
    all_ops = run.setup_ops + run.ops
    failed = [r for r in all_ops if r.get("problems")]
    done = [r["latency_s"] * 1000.0 for r in run.ops if r["completed"]]
    report = {
        "workload": run.args.workload, "seed": run.args.seed, "seconds": run.args.seconds,
        "trace": run.args.trace, "cores": run.cores, "ops": len(run.ops),
        "attempted": len(all_ops), "failed": len(failed),
        "setup_s": run.extra.get("setup_s"),
        "op_p50_ms": statistics.median(done) if done else None,
        "ops_per_s": run.extra.get("ops_per_s", len(done) / run.extra["window_s"]),
        "fail_frac": len(failed) / max(1, len(all_ops)),
        "peak_rss_mb": run.extra.get("peak_rss_mb"),
        "problems": [p for r in failed for p in r["problems"]][:10],
    }
    t = tail(done)
    report["op_tail_ms"] = (
        {"percentile": round(t[0], 2), "value": t[1], "samples": len(done)} if t
        else {"absent": f"{len(done)} samples, 11 needed"})
    exports = [r for r in run.ops if "out_bytes" in r]
    if exports:
        report["out_bytes_per_op"] = _mean(r["out_bytes"] for r in exports)
    report["latency_ms"] = sorted(round(x, 1) for x in done)
    for key in ("repeat_share", "restamped_repeat_share", "passes", "host_steal_frac",
                "peak_rss_mb_by_process"):
        if key in run.extra:
            report[key] = run.extra[key]
    if run.args.trace:
        ops = max(1, len(run.ops) + len(run.setup_ops))
        report["self_ms_per_op"] = {
            k: v * 1000.0 / ops for k, v in sorted(tr.self_times(run.spans).items())}
    return report


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="repository benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (os.path.isdir("database2ogr_spark") and os.path.isfile("__spark_entry__.py")):
        log("run from the repository root: database2ogr_spark/ and __spark_entry__.py not found")
        return 2
    end_to_end, per_layer = load_metric_names()
    run = Run(args)
    log(f"{args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    try:
        {"kmz_http": kmz_http, "batch_mix": batch_mix}[args.workload](run)
        report = summarize(run)
        if args.trace:
            path = os.path.join(run.out_dir, f"spans-{args.workload}-{args.seed}.json")
            with open(path, "w") as fh:
                json.dump(run.spans, fh)
            report["spans"] = os.path.relpath(path, run.root)
    finally:
        shutil.rmtree(run.work, ignore_errors=True)
    log("done")
    if report["op_p50_ms"] is None:
        log(f"no operation succeeded: {report['problems']}")
        return 1
    print(json.dumps({"report": report}))
    if args.trace:
        run.layer["process.peak_rss_mb"] = report["peak_rss_mb"]
        chosen = [(m["name"], m["unit"], run.layer.get(m["name"], 0.0)) for m in per_layer]
    else:
        chosen = [(m["name"], m["unit"], report[m["name"]]) for m in end_to_end]
    print(json.dumps({
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {name: {"value": value, "unit": unit} for name, unit, value in chosen},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
