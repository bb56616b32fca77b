#!/usr/bin/env python3
"""The repository benchmark: the live AIS pipeline, and serving the dashboard and the query catalog.

Run from the repository root:

    python3 perfbench/run.py --workload ais_live --seed 1 --seconds 5 --trace 0

Workloads (see perfbench/README.md):

* ``ais_live``      -- the benchmark is the TCP NMEA feed of ``graft.App socket``
                       (open loop, fixed rate); latency from a message's due
                       time until its row is visible in the table a reader sees.
* ``serving``       -- a closed-loop client on a ``graft.Graft.session`` runs rounds:
                       the reference console's refresh through ``graft.ais.Dashboard``
                       over tables ``App replay`` wrote, then the ``SparkEntry.catalog``
                       queries that go through ``graft.plans``, over ``events`` and
                       ``nation`` tables generated from the seed.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` attaches listeners
through configuration, records spans, and prints the per-layer split with the
tracing overhead of every end-to-end metric. Every run is also written to
``perfbench/.work/runs`` with the host-noise stamps of ``graft.HostStat``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

import argparse
import glob
import hashlib
import json
import math
import os
import signal
import socket
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import duckdb  # noqa: E402
import numpy as np  # noqa: E402

import aisgen  # noqa: E402
import check  # noqa: E402
import eventsgen  # noqa: E402
import stats  # noqa: E402
from sinks import Sink  # noqa: E402

WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(WORK, "build")
# every JVM's temporary files (Spark's local dirs, native libraries), so a
# run writes only inside its checkout
TMP = os.path.join(WORK, "tmp")
CPUS = os.cpu_count() or 4
MASTER = f"local[{CPUS}]"
TRIGGER_S = 5.0           # App's trigger interval: Spark fires it on wall-clock multiples

LIVE_RATE = 5000          # offered messages per second on ais_live
LIVE_SHIPS = 2000
ARCHIVE_FILES = 8         # the archive is rotated into this many files of whole messages
DASH_MESSAGES = 12_000
DASH_SHIPS = 600
DASH_FANOUT = 3           # type-5 reports per ship: the D3 join's fan-out
# catalog queries that go through graft.plans: the as-of join's custom
# logical plan, strategy and exec, and naive SQL that the range rules rewrite
# after their plan-time probe
CATALOG_QUERIES = ["asof_join_custom_plan", "range_join_auto"]
CATALOG_EVENTS = 4000
CATALOG_USERS = 40

# latency_tail_ms is the highest of p99/p90/p75/p50 with ten samples beyond it
# at the workload's guaranteed sample count: p99 on ais_live (a sample per
# message), p50 on serving (the harness times at least 20 rounds)
E2E = {"setup_s": "s", "latency_p50_ms": "ms", "latency_tail_ms": "ms"}
TAIL_Q = {"ais_live": 99, "serving": 50}

LAYERS = {
    "Nmea.parse_us_per_line": "us", "Nmea.assemble_us_per_sentence": "us",
    "AisDecoder.decode_us_per_msg": "us", "Nmea.lines_rejected": "count",
    "Nmea.fragments_lost": "count", "Nmea.messages_mispaired": "count",
    "AisIngest.positions_out": "count", "AisIngest.info_out": "count",
    "AisIngest.rows_filtered": "count",
    "Enrich.lookups": "count", "Enrich.cache_hit_ratio": "ratio",
    "Enrich.client_calls": "count", "Enrich.us_per_row": "us",
    "App.source_reads_per_line": "ratio", "stream.batches": "count",
    "stream.batch_ms_p50": "ms", "stream.batch_ms_max": "ms",
    "stream.trigger_wait_ms_p50": "ms", "stream.addBatch_ms_p50": "ms",
    "stream.walCommit_ms_p50": "ms", "stream.commit_ms_p50": "ms",
    "stream.enrich_pickup_ms_p50": "ms", "stream.visible_p50_ms": "ms",
    "stream.visible_p99_ms": "ms", "sink.files_written": "count",
    "sink.bytes_written": "bytes", "gen.late_ms_max": "ms",
    "Dashboard.d1_ms_p50": "ms", "Dashboard.d2_ms_p50": "ms", "Dashboard.d3_ms_p50": "ms",
    "Dashboard.d5_ms_p50": "ms", "Dashboard.d6_ms_p50": "ms",
    "Dashboard.d3_join_rows": "count", "Dashboard.d3_fanout": "ratio",
    "plans.construct_ms": "ms", "plans.construct_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "codegen.compile_count": "count",
    "codegen.compile_ms": "ms", "spark.jobs": "count", "spark.tasks": "count",
    "spark.task_cpu_ms": "ms", "spark.task_run_ms": "ms", "spark.gc_ms": "ms",
    "spark.shuffle_bytes": "bytes", "spark.fetch_wait_ms": "ms",
    "scan.files": "count", "scan.bytes": "bytes", "engine.unattributed_ms": "ms",
    "setup.replay_lines_per_s": "1/s", "jvm.peak_rss_mb": "MB",
}
LAYERS.update({f"trace.overhead.{k}": u for k, u in E2E.items()})


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


# ----------------------------------------------------------------------------- build

def _sources():
    pats = ["build.sbt", "project/*.properties", "project/*.sbt", "src/main/**/*"]
    files = [f for p in pats for f in glob.glob(os.path.join(ROOT, p), recursive=True)]
    files += glob.glob(os.path.join(HERE, "harness", "**", "*.s*"), recursive=True)
    return sorted(f for f in files if os.path.isfile(f) and "/target/" not in f)


def _sbt(cwd, *commands, logname):
    # JAVA_TOOL_OPTIONS also reaches the JVMs sbt's launcher script starts on its own
    env = dict(os.environ, SPARK_DRIVER_MEM="2g", JAVA_TOOL_OPTIONS="-XX:-UsePerfData", TMPDIR=TMP)
    os.makedirs(TMP, exist_ok=True)
    with open(os.path.join(BUILD, logname), "w") as out:
        p = subprocess.run(["sbt", "-batch", f"-Djava.io.tmpdir={TMP}",
                            f"-Djna.tmpdir={TMP}", "-Dsbt.boot.lock=false", *commands],
                           cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=out, text=True, timeout=800)
        out.write(p.stdout)
    if p.returncode != 0:
        raise BenchError(f"sbt failed in {cwd}; see {os.path.join(BUILD, logname)}")
    return p.stdout.splitlines()


def _classpath(lines):
    cps = [l.strip() for l in lines if not l.startswith("[") and ".jar" in l and os.pathsep in l]
    if not cps:
        raise BenchError("sbt printed no classpath")
    return cps[-1]


def build():
    """Compile the program with its own build, then the harness against it (cached by
    source hash); returns the hash."""
    for need in ("build.sbt", "src/main/scala/graft/App.scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise BenchError(f"program source {need} not found under {ROOT}")
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return stamp
    os.makedirs(BUILD, exist_ok=True)
    t = time.time()
    out = _sbt(ROOT, "compile", "export Runtime/fullClasspath", "print run/javaOptions",
               logname="program.log")
    opts = [l[2:].strip() for l in out if l.startswith("* ")]
    with open(os.path.join(BUILD, "program.classpath"), "w") as f:
        f.write(_classpath(out))
    with open(os.path.join(BUILD, "java_options.json"), "w") as f:
        json.dump(opts, f)
    out = _sbt(os.path.join(HERE, "harness"), "compile", "export Runtime/fullClasspath",
               logname="harness.log")
    with open(os.path.join(BUILD, "harness.classpath"), "w") as f:
        f.write(_classpath(out))
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built program and harness in {time.time() - t:.0f} s")
    return stamp


def _read(name):
    with open(os.path.join(BUILD, name)) as f:
        return f.read().strip()


# ------------------------------------------------------------------- processes

PROCS = []


def java(main, args, cwd, logfile, props=None, harness=True, env=None):
    cp = _read("harness.classpath") if harness else _read("program.classpath")
    opts = json.loads(_read("java_options.json"))
    os.makedirs(TMP, exist_ok=True)
    props = {"java.io.tmpdir": TMP, "spark.local.dir": TMP, **(props or {})}
    cmd = ["java", *opts, "-XX:-UsePerfData", *[f"-D{k}={v}" for k, v in props.items()],
           "-cp", cp, main, *args]
    out = open(logfile, "a")
    p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                         start_new_session=True, env=env)
    p.logfile = out
    PROCS.append(p)
    return p


def stop(p, grace=20, sig=signal.SIGTERM):
    """Signal the process group and wait for it; SIGKILL after `grace` s."""
    if p.poll() is None:
        try:
            os.killpg(p.pid, sig)
        except ProcessLookupError:
            pass
        try:
            p.wait(grace)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    p.logfile.close()
    if p in PROCS:
        PROCS.remove(p)


def stop_all():
    for p in list(PROCS):
        stop(p, grace=10)


def peak_rss_mb(pid):
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise BenchError("no VmHWM for the program JVM")


def harness(mode, args, cwd, timeout, props=None):
    out = os.path.join(cwd, f"{mode}.json")
    if os.path.exists(out):
        os.remove(out)
    p = java("perfbench.Harness", [mode, *args, out], cwd, os.path.join(cwd, f"{mode}.log"), props)
    try:
        p.wait(timeout)
    except subprocess.TimeoutExpired:
        raise BenchError(f"harness {mode} timed out")
    finally:
        stop(p)
    if p.returncode != 0 or not os.path.exists(out):
        raise BenchError(f"harness {mode} failed; see {cwd}/{mode}.log")
    with open(out) as f:
        return json.load(f)


def trace_props(out=None):
    """Listeners attached through configuration; `out` is where a JVM the
    harness does not drive dumps its spans on exit."""
    props = {"spark.extraListeners": "perfbench.JobTrace",
             "spark.sql.queryExecutionListeners": "perfbench.QueryTrace",
             "spark.sql.streaming.streamingQueryListeners": "perfbench.StreamTrace"}
    if out:
        props["perfbench.trace.out"] = out
    return props


def read_spans(path):
    if not os.path.exists(path):
        raise BenchError(f"no trace written to {path}")
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


# ------------------------------------------------------------- App workloads

def fresh_dir(name):
    d = os.path.join(WORK, "run", name)
    if os.path.isdir(d):
        subprocess.run(["rm", "-rf", d], check=True)
    os.makedirs(d)
    return d


def launch_app(args, cwd, trace_out=None):
    """`graft.App` as its own process, on the program's classpath alone unless
    traced; its parallelism knob is set to this host's core count."""
    return java("graft.App", args, cwd, os.path.join(cwd, "app.log"),
                props=trace_props(trace_out) if trace_out else None,
                harness=bool(trace_out), env=dict(os.environ, SPARK_GRAFT_CPUS=str(CPUS)))


def next_grid(t, offset):
    """The first wall-clock instant at or after t that is `offset` s past a trigger."""
    g = math.floor(t / TRIGGER_S) * TRIGGER_S + offset
    return g if g >= t else g + TRIGGER_S


class Watcher(threading.Thread):
    """Polls the three sinks every 20 ms for newly committed batches."""

    def __init__(self, out):
        super().__init__(daemon=True)
        self.sinks = {n: Sink(os.path.join(out, n)) for n in ("positions", "info", "positions_wx")}
        self.halt = threading.Event()
        self.error = None

    def run(self):
        try:
            while not self.halt.is_set():
                for s in self.sinks.values():
                    s.poll()
                self.halt.wait(0.02)
            for s in self.sinks.values():
                s.poll()
        except Exception as e:  # surfaced by the caller
            self.error = e

    def finish(self):
        self.halt.set()
        self.join()
        if self.error:
            raise BenchError(f"sink watcher failed: {self.error}")


def wait_complete(watcher, app, exp_pos, exp_info, deadline, settle=2.0):
    """Wait until every expected position is enriched and the info table has settled."""
    want_pos = set(exp_pos.tolist())
    want_info = set(exp_info.tolist())
    while time.time() < deadline:
        if app.poll() is not None:
            raise BenchError(f"App exited with {app.returncode}")
        wx_ids, _ = watcher.sinks["positions_wx"].visible()
        info = watcher.sinks["info"]
        info_ids, _ = info.visible()
        if want_pos.issubset(wx_ids.tolist()):
            if want_info.issubset(info_ids.tolist()):
                return True
            if info.last_change and time.time() - info.last_change > settle:
                return True
        time.sleep(0.05)
    return False


def table_check(watcher, feed):
    con = duckdb.connect()
    present = []
    for view, name in (("sink_pos", "positions"), ("sink_info", "info"), ("sink_wx", "positions_wx")):
        if watcher.sinks[name].relation(con, view):
            present.append(view)
    return check.check(con, feed, present)


def final_visibility(watcher, feed):
    """Per message: when its row became visible in the decoded sink and in the table users read."""
    dec = np.full(feed.n, np.nan)
    fin = np.full(feed.n, np.nan)
    for name, arrs in (("positions", (dec,)), ("info", (dec, fin)), ("positions_wx", (fin,))):
        ids, at = watcher.sinks[name].visible()
        idx = ids - feed.ts0
        ok = (idx >= 0) & (idx < feed.n)
        for a in arrs:
            # first visibility wins; a duplicate row is an error the check reports
            order = np.argsort(at[ok], kind="stable")[::-1]
            a[idx[ok][order]] = at[ok][order]
    return dec, fin


def stream_layers(spans, feed_lines):
    """Per-layer numbers of the App process from its batch and job spans."""
    batches = {}
    for s in spans:
        if s["name"] == "batch" and s["attrs"].get("input_rows", 0) > 0:
            batches[s["request"]] = s
    bs = list(batches.values())
    jobs = [s for s in spans if s["name"] == "job"]
    codegen = [s for s in spans if s["name"] == "codegen"]
    out = {}
    dur = [b["end"] - b["start"] for b in bs]
    out["stream.batches"] = len(bs)
    out["stream.batch_ms_p50"] = stats.median(dur)
    out["stream.batch_ms_max"] = max(dur) if dur else 0.0
    for k in ("addBatch", "walCommit", "commit"):
        v = [b["attrs"].get(k, 0.0) for b in bs]
        out[f"stream.{k}_ms_p50"] = stats.median(v)
    gaps = []
    for q in {b["parent"] for b in bs}:
        qb = sorted((b for b in bs if b["parent"] == q), key=lambda b: b["start"])
        gaps += [n["start"] - p["end"] for p, n in zip(qb, qb[1:])]
    out["stream.trigger_wait_ms_p50"] = stats.median(gaps)
    decode_ends = sorted(b["end"] for b in bs if b["attrs"].get("reads_sink") == 0)
    pickups = []
    for b in bs:
        if b["attrs"].get("reads_sink") == 1:
            before = [e for e in decode_ends if e <= b["start"]]
            if before:
                pickups.append(b["start"] - before[-1])
    out["stream.enrich_pickup_ms_p50"] = stats.median(pickups)
    reads = sum(b["attrs"]["input_rows"] for b in bs if b["attrs"].get("reads_sink") == 0)
    out["App.source_reads_per_line"] = reads / feed_lines
    out["catalyst.planning_ms"] = sum(b["attrs"].get("queryPlanning", 0.0) for b in bs)
    out["catalyst.analysis_ms"] = 0.0
    out["catalyst.optimization_ms"] = 0.0
    for k, name in (("tasks", "spark.tasks"), ("task_cpu_ms", "spark.task_cpu_ms"),
                    ("task_run_ms", "spark.task_run_ms"), ("gc_ms", "spark.gc_ms"),
                    ("shuffle_bytes", "spark.shuffle_bytes"),
                    ("fetch_wait_ms", "spark.fetch_wait_ms"), ("input_bytes", "scan.bytes")):
        out[name] = sum(j["attrs"].get(k, 0.0) for j in jobs)
    out["spark.jobs"] = len(jobs)
    out["scan.files"] = 0
    out["codegen.compile_count"] = codegen[-1]["attrs"]["compile_count"] if codegen else 0
    out["codegen.compile_ms"] = codegen[-1]["attrs"]["compile_ms"] if codegen else 0.0
    # batch time outside every named phase, plus addBatch time outside every job
    phases = ("latestOffset", "getBatch", "queryPlanning", "walCommit", "addBatch", "commit")
    unattributed = 0.0
    for b in bs:
        unattributed += max(0.0, (b["end"] - b["start"]) - sum(b["attrs"].get(p, 0.0) for p in phases))
        own = [j for j in jobs if j["parent"] == b["request"]]
        in_jobs = stats.union_ms((j["start"], j["end"]) for j in own)
        unattributed += max(0.0, b["attrs"].get("addBatch", 0.0) - in_jobs)
    out["engine.unattributed_ms"] = unattributed
    return out


def feed_layers(run_dir, feed, verdict, watcher):
    """Decode and enrichment probes over the workload's own lines and position sink."""
    lines_file = os.path.join(run_dir, "lines.nmea")
    with open(lines_file, "w") as f:
        f.write("\n".join(feed.lines) + "\n")
    probe = harness("layers", [MASTER, lines_file, os.path.join(run_dir, "out", "positions")],
                    run_dir, timeout=150)
    files = sizes = 0
    for s in watcher.sinks.values():
        n, b = s.size()
        files, sizes = files + n, sizes + b
    lookups = probe["enrich_rows"]
    return {
        "Nmea.parse_us_per_line": probe["parse_us_per_line"],
        "Nmea.assemble_us_per_sentence": probe["assemble_us_per_sentence"],
        "AisDecoder.decode_us_per_msg": probe["decode_us_per_msg"],
        "Nmea.lines_rejected": probe["lines_rejected"],
        "Nmea.fragments_lost": verdict["info_lost"],
        "Nmea.messages_mispaired": verdict["mispaired"],
        "AisIngest.positions_out": verdict["positions"]["rows"],
        "AisIngest.info_out": verdict["info"]["rows"],
        "AisIngest.rows_filtered": int((feed.kind == aisgen.KIND_POS).sum()) - verdict["positions"]["rows"],
        "Enrich.lookups": lookups, "Enrich.client_calls": probe["enrich_client_calls"],
        "Enrich.cache_hit_ratio": 1.0 - probe["enrich_client_calls"] / max(1, lookups),
        "Enrich.us_per_row": probe["enrich_us_per_row"],
        "sink.files_written": files, "sink.bytes_written": sizes,
    }


class Feeder:
    """Open-loop TCP NMEA feed: every connection gets the whole stream, each
    message written when due (message m is due at t0 + m / rate)."""

    def __init__(self, feed, rate):
        self.rate = rate
        blobs = ["\n".join(feed.lines[s:s + c]) + "\n"
                 for s, c in zip(feed.line_start.tolist(), feed.line_count.tolist())]
        self.data = "".join(blobs).encode()
        self.off = np.concatenate([[0], np.cumsum([len(b) for b in blobs])]).tolist()
        self.n = feed.n
        self.server = socket.socket()
        self.server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self.server.bind(("127.0.0.1", 0))
        self.server.listen(8)
        self.server.settimeout(0.1)
        self.port = self.server.getsockname()[1]
        self.conns = []           # [socket, next message index]
        self.accepted = []        # accept times
        self.lock = threading.Lock()
        self.halt = threading.Event()
        self.t0 = None
        self.late_max = 0.0
        self.lines_sent = 0
        self.threads = [threading.Thread(target=self._accept, daemon=True)]
        self.threads[0].start()

    def _accept(self):
        while not self.halt.is_set():
            try:
                c, _ = self.server.accept()
            except socket.timeout:
                continue
            except OSError:
                return
            c.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            with self.lock:
                self.conns.append([c, 0])
                self.accepted.append(time.time())

    def start(self, t0):
        self.t0 = t0
        t = threading.Thread(target=self._write, daemon=True)
        self.threads.append(t)
        t.start()

    def _write(self):
        while not self.halt.is_set():
            now = time.time()
            due = min(self.n, max(0, int((now - self.t0) * self.rate) + 1)) if now >= self.t0 else 0
            with self.lock:
                conns = list(self.conns)
            for c in conns:
                if c[1] < due:
                    late = now - (self.t0 + c[1] / self.rate)
                    try:
                        c[0].sendall(self.data[self.off[c[1]]:self.off[due]])
                    except OSError:
                        continue
                    self.late_max = max(self.late_max, late)
                    c[1] = due
            if due >= self.n and all(c[1] >= self.n for c in conns) and conns:
                break
            self.halt.wait(0.002)

    def due(self, m):
        return self.t0 + np.asarray(m) / self.rate

    def close(self):
        self.halt.set()
        for t in self.threads:
            t.join()
        with self.lock:
            for c, _ in self.conns:
                c.close()
        self.server.close()


def ais_live(seed, seconds, trace):
    run = fresh_dir("ais_live")
    out = os.path.join(run, "out")
    t_gen = time.time()
    feed = aisgen.Feed(seed, int(LIVE_RATE * seconds), LIVE_SHIPS)
    feeder = Feeder(feed, LIVE_RATE)
    gen_s = time.time() - t_gen
    spans_out = os.path.join(run, "spans.jsonl")
    watcher = Watcher(out)
    t_launch = time.time()
    app = launch_app(["socket", "127.0.0.1", str(feeder.port), out], run,
                     spans_out if trace else None)
    try:
        # ready: connections have stopped arriving for 1.5 s. Set-up is App's
        # launch until its first connection: JVM, Spark session, first query
        deadline = time.time() + 120
        while time.time() < deadline:
            if app.poll() is not None:
                raise BenchError(f"App exited with {app.returncode}; see {run}/app.log")
            with feeder.lock:
                acc = list(feeder.accepted)
            if acc and time.time() - acc[-1] > 1.5:
                break
            time.sleep(0.05)
        else:
            raise BenchError("App never connected to the feed")
        setup_s = acc[0] - t_launch
        watcher.start()
        t0 = next_grid(time.time() + 0.2, 0.25)
        feeder.start(t0)
        last_due = float(feeder.due(feed.n - 1))
        exp = feed.expected_positions()["timestamp"]
        complete = wait_complete(watcher, app, exp, feed.expected_info()["timestamp"],
                                 deadline=last_due + 60)
        rss = peak_rss_mb(app.pid)
    finally:
        stop(app, sig=signal.SIGTERM if trace else signal.SIGKILL)  # a traced App dumps spans on exit
        feeder.close()
        watcher.finish()
    verdict = table_check(watcher, feed)
    if not complete:
        log("ais_live: tables incomplete at the deadline")
    dec, fin = final_visibility(watcher, feed)
    # a mis-paired row is a failed operation: it has no latency
    dec[verdict["mispaired_ids"] - feed.ts0] = np.nan
    fin[verdict["mispaired_ids"] - feed.ts0] = np.nan
    due = feeder.due(np.arange(feed.n))
    ok_final = np.isfinite(fin)
    lat_final = (fin[ok_final] - due[ok_final]) * 1000
    lat_dec = (dec[np.isfinite(dec)] - due[np.isfinite(dec)]) * 1000
    q = TAIL_Q["ais_live"]
    e2e = {"setup_s": setup_s, "latency_p50_ms": stats.percentile(lat_final, 50),
           "latency_tail_ms": stats.percentile(lat_final, q)}
    n5 = int((feed.kind == aisgen.KIND_INFO).sum())
    named = {
        "live_visible_p50_ms": (stats.percentile(lat_dec, 50), "ms"),
        "live_visible_p99_ms": (stats.percentile(lat_dec, 99), "ms"),
        "live_enriched_p50_ms": (stats.percentile(lat_final[feed.kind[ok_final] == aisgen.KIND_POS], 50), "ms"),
        "live_enriched_p99_ms": (stats.percentile(lat_final[feed.kind[ok_final] == aisgen.KIND_POS], 99), "ms"),
        "type5_lost_share": (verdict["info_lost"] / max(1, n5), "ratio"),
        "type5_mispaired_share": (verdict["mispaired"] / max(1, n5), "ratio"),
        "peak_rss_mb": (rss, "MB"),
        "gen_s": (gen_s, "s"),
        "app_last_connection_s": (acc[-1] - t_launch, "s"),
    }
    layers = None
    if trace:
        layers = zero_layers()
        layers.update(stream_layers(read_spans(spans_out), len(feed.lines)))
        layers.update(feed_layers(run, feed, verdict, watcher))
        layers["gen.late_ms_max"] = feeder.late_max * 1000
        layers["stream.visible_p50_ms"] = named["live_visible_p50_ms"][0]
        layers["stream.visible_p99_ms"] = named["live_visible_p99_ms"][0]
        layers["jvm.peak_rss_mb"] = rss
    return {"e2e": e2e, "layers": layers, "named": named, "attempted": feed.n,
            "failed": verdict["failed"], "correct": verdict["correct"],
            "detail": {"feed": feed.summary(), "check": verdict, "complete": complete,
                       "connections": len(feeder.accepted), "gen_late_ms_max": feeder.late_max * 1000}}


def write_archive(feed, directory, files=ARCHIVE_FILES):
    """Rotate the feed into `files` text files, each holding whole messages."""
    os.makedirs(directory, exist_ok=True)
    cuts = np.linspace(0, feed.n, files + 1).astype(int)
    for k in range(files):
        a, b = cuts[k], cuts[k + 1]
        lo = feed.line_start[a]
        hi = feed.line_start[b] if b < feed.n else len(feed.lines)
        with open(os.path.join(directory, f"ais-{k:03d}.nmea"), "w") as f:
            f.write("\n".join(feed.lines[lo:hi]) + "\n")


def replay(name, feed):
    """`App replay` over `feed`, pre-written as a rotated archive, until all
    three tables hold every expected row; then App stops.
    Returns (watcher, lines_per_s, decoded_s, complete_s)."""
    run = fresh_dir(name)
    out, inbox = os.path.join(run, "out"), os.path.join(run, "in")
    write_archive(feed, inbox)
    watcher = Watcher(out)
    watcher.start()
    launched = time.time()
    app = launch_app(["replay", inbox, out], run)
    try:
        complete = wait_complete(watcher, app, feed.expected_positions()["timestamp"],
                                 feed.expected_info()["timestamp"], deadline=time.time() + 150)
    finally:
        stop(app, sig=signal.SIGKILL)
        watcher.finish()
    if not complete:
        raise BenchError(f"App replay did not complete its tables; see {run}/app.log")
    # from App's first checkpoint write until the last table was complete
    writes = [os.stat(p).st_mtime for p in glob.glob(os.path.join(out, "**", "*"), recursive=True)
              if os.path.isfile(p) and os.stat(p).st_mtime >= launched]
    start = min(writes)
    dec, fin = final_visibility(watcher, feed)
    end = float(np.nanmax(fin))
    return watcher, len(feed.lines) / (end - start), float(np.nanmax(dec)) - start, end - start


# ------------------------------------------------------------------ dashboard

def dashboard_reference(tables):
    """The dashboard's answers from DuckDB over the files the sinks committed (untimed)."""
    con = duckdb.connect()
    tables["positions_wx"].relation(con, "pw")
    tables["info"].relation(con, "info")
    ref = {
        "d1": con.execute("select count(distinct mmsi) from pw").fetchone()[0],
        "d2": con.execute("select count(distinct mmsi) from pw where speed > 10").fetchone()[0],
        "d5": con.execute("select avg(lat), avg(lon) from pw").fetchone(),
        "d6": con.execute("select min(lat), max(lat), min(lon), max(lon) from pw").fetchone(),
    }
    cols = ["mmsi", "shipname", "callsign", "shiptype", "destination", "status", "heading",
            "speed", "lat", "lon", "region", "locale", "condition", "temp_f", "wind_dir",
            "wind_mph", "timestamp"]
    sel = ", ".join(f"spw.{c}" if c in ("mmsi", "timestamp") else c for c in cols)
    details = (f"select {sel} from pw spw left join info sid on spw.mmsi = sid.mmsi "
               f"where shipname != ''")
    ref["join_rows"] = con.execute(f"select count(*) from ({details})").fetchone()[0]
    ref["fanout"] = ref["join_rows"] / con.execute(
        "select count(*) from pw where mmsi in (select mmsi from info where shipname != '')").fetchone()[0]
    ref["d4"] = con.execute(f"{details} order by spw.mmsi, spw.timestamp limit 600").fetchall()
    cutoff = ref["d4"][-1] if ref["d4"] else None
    ref["tied"] = con.execute(
        f"select * from ({details}) where mmsi = ? and timestamp = ?",
        [cutoff[0], cutoff[-1]]).fetchall() if cutoff else []
    return cols, ref


ICONS = [("Tanker", "red"), ("Law", "lightgreen"), ("Military", "gray"), ("Pilot", "lightred"),
         ("Medical", "darkred"), ("Cargo", "purple"), ("Search", "orange"),
         ("NonCombat", "beige"), ("Passenger", "green"), ("Dredging", "darkgreen"),
         ("AntiPollution", "darkblue"), ("Fishing", "lightblue"), ("Towing", "darkpurple"),
         ("HSC", "pink"), ("OtherType", "cadetblue"), ("Tug", "black")]


def _annotation_ok(row):
    """D7/D8 columns of one D4 row against the reference console's rules."""
    icon = next((c for p, c in ICONS if row["shiptype"].startswith(p)), "lightgray")
    lat_u = "°N" if row["lat"] > 0 else "°S"
    lon_u = "°E" if row["lon"] > 0 else "°W"
    tooltip = (f"Name: {row['shipname']}, Callsign: {row['callsign']}, "
               f"Type: {row['shiptype']}, Status: {row['status']}")
    popup = row["popup"]
    try:
        head, rest = popup.split(" | Lon: ", 1)
        lat_s = head[len("Lat: "):-len(lat_u)]
        lon_s, rest = rest.split(" | Course: ", 1)
        lon_s = lon_s[:-len(lon_u)]
        nums_ok = float(lat_s) == row["lat"] and float(lon_s) == row["lon"]
        cond_ok = f"| Condition: {row['condition']} |" in popup
        loc_ok = popup.endswith(f"| Location: {row['locale']}, {row['region']}")
    except ValueError:
        return False
    return (row["icon"] == icon and row["lat_units"] == lat_u and row["lon_units"] == lon_u
            and row["tooltip"] == tooltip and nums_ok and cond_ok and loc_ok)


def check_dashboard(answer, cols, ref):
    problems = []
    if answer["d1"] != ref["d1"] or answer["d2"] != ref["d2"]:
        problems.append("D1/D2")
    if any(not math.isclose(a, b, rel_tol=1e-9) for a, b in zip(answer["d5"], ref["d5"])):
        problems.append("D5")
    if list(answer["d6"]) != list(ref["d6"]):
        problems.append("D6")
    names = answer["d4_columns"]
    rows = [dict(zip(names, r)) for r in answer["d4"]]
    got = [tuple(r[c] for c in cols) for r in rows]
    want = [tuple(r) for r in ref["d4"]]
    key = lambda r: (r[0], r[-1])  # (mmsi, timestamp): D4's order, with ties after the join
    if [key(r) for r in got] != [key(r) for r in want]:
        problems.append("D4 order")
    elif got:
        cut = key(want[-1])
        if sorted(r for r in got if key(r) != cut) != sorted(r for r in want if key(r) != cut):
            problems.append("D4 rows")
        tied = [tuple(r) for r in ref["tied"]]
        for r in (r for r in got if key(r) == cut):
            if r in tied:
                tied.remove(r)
            else:
                problems.append("D4 tied rows")
                break
    if not all(_annotation_ok(r) for r in rows):
        problems.append("D7/D8")
    return problems


def serving(seed, seconds, trace):
    t_gen = time.time()
    feed = aisgen.Feed(seed, DASH_MESSAGES, DASH_SHIPS, info_fanout=DASH_FANOUT)
    gen_s = time.time() - t_gen
    home = os.path.join(WORK, "run")
    base = os.path.join(home, "serving")
    catalog_tables = os.path.join(home, "serving-catalog")
    results = os.path.join(catalog_tables, "results")
    if os.path.isdir(catalog_tables):
        subprocess.run(["rm", "-rf", catalog_tables], check=True)
    t_gen = time.time()
    eventsgen.write_tables(seed, catalog_tables, CATALOG_EVENTS, CATALOG_USERS)
    gen_s += time.time() - t_gen
    ready, out_json = (os.path.join(home, f) for f in ("serving.ready", "serving.json"))
    for f in (ready, out_json):
        if os.path.exists(f):
            os.remove(f)
    # the serving JVM builds its session while App replay writes the tables
    jvm = java("perfbench.Harness", ["serving", MASTER, os.path.join(base, "out"), catalog_tables,
                                     ",".join(CATALOG_QUERIES), str(seconds), "1" if trace else "0",
                                     results, ready, out_json],
               home, os.path.join(home, "serving.log"), trace_props() if trace else None)
    try:
        t_replay = time.time()
        watcher, lines_per_s, decoded_s, complete_s = replay("serving", feed)
        replay_s = time.time() - t_replay
        verdict = table_check(watcher, feed)
        if not (verdict["correct"] and verdict["failed"] == 0):
            raise BenchError(f"App replay wrote wrong dashboard tables: {verdict}")
        with open(ready, "w") as f:
            f.write("ready\n")
        try:
            jvm.wait(seconds + 240)
        except subprocess.TimeoutExpired:
            raise BenchError("serving harness timed out")
    finally:
        stop(jvm)
    if jvm.returncode != 0 or not os.path.exists(out_json):
        raise BenchError(f"serving harness failed; see {home}/serving.log")
    with open(out_json) as f:
        res = json.load(f)
    # set-up: from ready tables until the client is served warm: the cold
    # round, which pays class loading, codegen and the first file listings,
    # and the warm-up rounds
    setup_s = (res["warm_ms"] - res["ready_ms"]) / 1000
    cols, ref = dashboard_reference(watcher.sinks)
    problems = check_dashboard(res["answer"], cols, ref)
    oracle_problems, oracle_rows = catalog_check(catalog_tables, results, res["oracle"])
    problems += [f"{q}: {p}" for q, p in oracle_problems.items()]
    lat = res["round_ms"]
    e2e = {"setup_s": setup_s, "latency_p50_ms": stats.percentile(lat, 50),
           "latency_tail_ms": stats.percentile(lat, TAIL_Q["serving"])}
    named = {"rounds": (len(lat), "count"), "session_start_s": (res["session_ms"] / 1000, "s"),
             "refresh_p50_ms": (stats.percentile(res["refresh_ms"], 50), "ms"),
             "catalog_pass_p50_ms": (stats.percentile(res["catalog_ms"], 50), "ms"),
             "peak_rss_mb": (res["peak_rss_mb"], "MB"),
             "d3_join_rows": (ref["join_rows"], "count"), "d3_fanout": (ref["fanout"], "ratio"),
             "catalog_oracle_rows": (sum(oracle_rows.values()), "count"),
             "gen_s": (gen_s, "s"), "setup_replay_s": (replay_s, "s"),
             "setup_replay_lines_per_s": (lines_per_s, "1/s"),
             "setup_replay_decoded_s": (decoded_s, "s"),
             "setup_replay_complete_s": (complete_s, "s")}
    layers = None
    if trace:
        layers = zero_layers()
        layers.update(serving_layers(res))
        layers["Dashboard.d3_join_rows"] = ref["join_rows"]
        layers["Dashboard.d3_fanout"] = ref["fanout"]
        layers["setup.replay_lines_per_s"] = lines_per_s
        layers["jvm.peak_rss_mb"] = res["peak_rss_mb"]
    # operations: a refresh and each catalog query; a round that throws fails
    # all of them, a refresh whose answers changed fails one
    per_round = 1 + len(CATALOG_QUERIES)
    failed = res["failed"] * per_round + res["wrong"]
    return {"e2e": e2e, "layers": layers, "named": named,
            "attempted": (len(res["round_ms"]) + res["failed"]) * per_round,
            "failed": failed, "correct": not problems and failed == 0,
            "detail": {"feed": feed.summary(), "problems": problems, "tables": verdict,
                       "catalog_oracle_rows": oracle_rows, "round_ms": res["round_ms"],
                       "round_steal_pct": res["round_steal_pct"], "warmup_ms": res["warmup_ms"]}}


DASHBOARD_QUERIES = ("D1", "D2", "D3", "D5", "D6")


def serving_layers(res):
    """The per-layer split per round of the serving loop, from the harness's spans."""
    spans = res["spans"]
    m = next(s for s in spans if s["name"] == "measure")
    measured = [s for s in spans if s["request"] and not s["request"].startswith("warmup")]
    n = sum(1 for s in measured if s["name"] == "round")
    if n == 0:
        raise BenchError("the traced window holds no round")
    out = {}
    for q in DASHBOARD_QUERIES:
        out[f"Dashboard.{q.lower()}_ms_p50"] = stats.percentile(
            [s["end"] - s["start"] for s in measured if s["name"] == q], 50)
    # catalyst phases, recorded by the query listener; each becomes a child of
    # the construct or execute span it ran in
    steps = [s for s in measured if s["name"] in ("construct", "execute")]
    phases = [s for s in spans if s["name"].startswith("catalyst.")
              and m["start"] <= s["start"] <= m["end"]]
    for s in phases:
        inside = [c for c in steps if c["start"] <= s["start"] <= c["end"]]
        if inside:
            s["parent"] = str(max(inside, key=lambda c: c["start"])["id"])
            measured.append(s)
    for phase in ("analysis", "optimization", "planning"):
        out[f"catalyst.{phase}_ms"] = stats.union_ms(
            (s["start"], s["end"]) for s in phases if s["name"] == f"catalyst.{phase}") / n
    # plans: building the catalog queries through QueryDef.run, and the probes,
    # i.e. jobs submitted while a query is built, optimized or planned
    catalog_queries = {str(s["id"]) for s in measured if s["name"] in CATALOG_QUERIES}
    construct = [s for s in measured if s["name"] == "construct" and s["parent"] in catalog_queries]
    out["plans.construct_ms"] = sum(s["end"] - s["start"] for s in construct) / n
    cids = {str(s["id"]) for s in construct}
    planning = [s for s in phases if s["name"] in ("catalyst.optimization", "catalyst.planning")]
    jobs = [s for s in measured if s["name"] == "job"]
    out["plans.construct_jobs"] = sum(
        1 for j in jobs if j["parent"] in cids
        or any(p["start"] <= j["start"] <= p["end"] for p in planning)) / n
    out["codegen.compile_count"] = m["attrs"]["compile_count"] / n
    out["codegen.compile_ms"] = m["attrs"]["compile_ms"] / n
    out["spark.jobs"] = len(jobs) / n
    for k, name in (("tasks", "spark.tasks"), ("task_cpu_ms", "spark.task_cpu_ms"),
                    ("task_run_ms", "spark.task_run_ms"), ("gc_ms", "spark.gc_ms"),
                    ("shuffle_bytes", "spark.shuffle_bytes"),
                    ("fetch_wait_ms", "spark.fetch_wait_ms")):
        out[name] = sum(j["attrs"].get(k, 0.0) for j in jobs) / n
    qs = [s for s in spans if s["name"] == "query" and s["start"] >= m["start"] and s["end"] <= m["end"]]
    out["scan.files"] = sum(s["attrs"]["scan_files"] for s in qs) / n
    out["scan.bytes"] = sum(s["attrs"]["scan_bytes"] for s in qs) / n
    # time in no job and no named phase: the self time of the rounds, their
    # refresh and catalog parts, the queries those ran, and their execution
    st = stats.self_times(measured)
    own = {"round", "refresh", "catalog", "execute", *DASHBOARD_QUERIES, *CATALOG_QUERIES}
    out["engine.unattributed_ms"] = sum(st[s["id"]] for s in measured if s["name"] in own) / n
    return out


def catalog_check(tables, results, oracle):
    """Each catalog query's result against its own DuckDB oracle over the same
    tables: columns by name, rows as a multiset of their text forms.
    Returns ({query: problem}, {query: oracle rows})."""
    con = duckdb.connect()
    for t in ("events", "nation"):
        con.execute(f"create view {t} as select * from read_parquet('{tables}/{t}.parquet')")
    problems, rows = {}, {}
    for name, sql in oracle.items():
        if sql is None:
            problems[name] = "no oracle"
            continue
        got = f"read_parquet('{results}/{name}/*.parquet')"
        want = f"({sql})"
        gc = sorted(c[0] for c in con.execute(f"describe select * from {got}").fetchall())
        wc = sorted(c[0] for c in con.execute(f"describe select * from {want}").fetchall())
        if gc != wc:
            problems[name] = f"columns {gc} != {wc}"
            continue

        def fetch(src):
            sel = ", ".join(f'cast("{c}" as varchar)' for c in gc)
            return sorted(tuple("\0" if v is None else v for v in r)
                          for r in con.execute(f"select {sel} from {src}").fetchall())
        g, w = fetch(got), fetch(want)
        rows[name] = len(w)
        if g != w:
            problems[name] = f"{len(g)} rows, oracle {len(w)}; {len(set(g) ^ set(w))} differ"
        elif not w:
            problems[name] = "empty answer: the inputs exercise nothing"
    return problems, rows


# ------------------------------------------------------------------------ main

WORKLOADS = {"ais_live": ais_live, "serving": serving}


def zero_layers():
    return {k: 0.0 for k in LAYERS}


def hoststat(start=None):
    d = os.path.join(WORK, "run")
    os.makedirs(d, exist_ok=True)
    return harness("hoststat", [str(v) for v in start] if start else [], d, timeout=60)


def runs_dir(workload):
    d = os.path.join(WORK, "runs", workload)
    os.makedirs(d, exist_ok=True)
    return d


def untraced_medians(workload, stamp, seconds):
    """Medians of the untraced runs recorded for this build and window."""
    vals = {}
    for f in glob.glob(os.path.join(runs_dir(workload), "*-trace0.json")):
        with open(f) as fh:
            rec = json.load(fh)
        if rec.get("build") != stamp or rec["seconds"] != seconds:
            continue
        for k, v in rec["e2e"].items():
            vals.setdefault(k, []).append(v)
    return {k: statistics.median(v) for k, v in vals.items()}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    try:
        # the last run's temporary files: a killed JVM leaves its own behind
        subprocess.run(["rm", "-rf", TMP], check=True)
        stamp = build()
        host = hoststat()
        if a.trace and not untraced_medians(a.workload, stamp, a.seconds):
            log("no untraced run recorded for this build and window yet: running one for the overhead")
            record(a, WORKLOADS[a.workload](a.seed, a.seconds, 0), host, 0, stamp)
        res = WORKLOADS[a.workload](a.seed, a.seconds, a.trace)
        host["steal_pct"] = hoststat((host["steal_jiffies"], host["total_jiffies"]))["steal_pct"]
    except BenchError as e:
        log(f"error: {e}")
        return 2
    finally:
        stop_all()
    if a.trace:
        base = untraced_medians(a.workload, stamp, a.seconds)
        for k, v in res["e2e"].items():
            res["layers"][f"trace.overhead.{k}"] = v - base[k]
    record(a, res, host, a.trace, stamp)
    report(a, res, host)
    metrics = ({k: {"value": float(v), "unit": LAYERS[k]} for k, v in res["layers"].items()}
               if a.trace else
               {k: {"value": float(res["e2e"][k]), "unit": u} for k, u in E2E.items()})
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    return 0


def record(a, res, host, trace, stamp):
    rec = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": trace,
           "build": stamp, "time": time.time(), "host": host, **{k: res[k] for k in (
               "e2e", "layers", "attempted", "failed", "correct", "detail")},
           "named": {k: v[0] for k, v in res["named"].items()}}
    name = f"{int(time.time() * 1000)}-seed{a.seed}-trace{trace}.json"
    with open(os.path.join(runs_dir(a.workload), name), "w") as f:
        json.dump(rec, f, indent=1, default=lambda o: o.tolist() if hasattr(o, "tolist") else float(o))


def report(a, res, host):
    print(f"# perfbench {a.workload} seed={a.seed} seconds={a.seconds:g} trace={a.trace}")
    print(f"# host load1m_start={host['load1m']:.2f} canary_ms={host['canary_ms']:.1f} "
          f"steal_pct={host['steal_pct']:.2f}")
    print(f"# correct={res['correct']} attempted={res['attempted']} failed={res['failed']}")
    for k, v in res["e2e"].items():
        print(f"{k} {v:.4f} {E2E[k]}")
    for k, (v, unit) in res["named"].items():
        print(f"{k} {v:.4f} {unit}")
    if res["layers"]:
        for k, v in res["layers"].items():
            print(f"{k} {v:.4f} {LAYERS[k]}")


if __name__ == "__main__":
    sys.exit(main())
