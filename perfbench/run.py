#!/usr/bin/env python3
"""Benchmark of the graft Singer target and of a mix of its query rows.

Run from the root of a checkout:

    python3 perfbench/run.py --workload batch_backfill --seed 1 --seconds 10 --trace 0

Workloads (see METHOD.md beside this file for why each exists):

  batch_backfill  a seeded three-stream corpus piped to `graft.Main --mode batch`
  live_tail       seeded pages fed on an open loop to `graft.Main --mode live`
  operator_mix    registered query rows at sf0.1 under graft.Bench's session conf

The program is driven from outside, the way a tap drives a target: the
benchmark builds it from source (sbt) on first use, launches the unmodified
CLI as a child JVM, feeds its stdin and reads its stdout. With --trace 1 the
same workload runs again with a Spark listener from this directory injected
through `spark.*` system properties, and the per-layer metrics are printed.

Every run checks the program's output after the timed region. The last line
of stdout is one JSON object: {"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import bisect
import datetime
import hashlib
import json
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
MAIN_CLASSES = os.path.join(ROOT, "target", "scala-2.13", "classes")
BENCH_CLASSES = os.path.join(BUILD, "classes")
CPUS = os.cpu_count() or 4

# live_tail open-loop rate: about a quarter of what the seed code sustains
# on a 4-core box (see METHOD.md for why not half). One STATE closes every
# page.
LIVE_RATE = 1000.0
# The first seconds of the live schedule let the JIT settle; their pages are
# fed and checked but their lags are not counted.
LIVE_SETTLE_S = 3.0
# operator_mix rows; the seed permutes their order (see METHOD.md for the
# rows left out).
OPS_ROWS = ["profile_theta"]
# Heap ceiling of every JVM. The initial heap is the JVM's default, so the
# heap grows with what the program keeps live instead of being sized up
# front (a pinned heap made peak RSS read the heap size).
MAX_HEAP = "2g"
# Wall-clock budget of one run after the build; children are killed past it.
RUN_BUDGET_S = 170.0

JDK17_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]

now = time.monotonic
_EPOCH = time.time() - time.monotonic()


def epoch_ms(t):
    """A monotonic time as the epoch milliseconds the JVM's listener uses."""
    return (t + _EPOCH) * 1000.0


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


class Fatal(Exception):
    """The benchmark cannot run here (no program to build, build failed)."""


# -------------------------------------------------------------------- build

def _tree_digest(paths):
    h = hashlib.sha256()
    for base in paths:
        full = os.path.join(ROOT, base)
        files = [full] if os.path.isfile(full) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(full) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program (sbt) and the benchmark's JVM classes (javac)
    unless their sources are unchanged since the last build here."""
    for need in ("build.sbt", "src/main/scala/graft/Main.scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise Fatal("run from the root of a checkout: %s is missing" % need)
    os.makedirs(BUILD, exist_ok=True)
    sources = ["build.sbt", "project/build.properties", "src/main",
               os.path.relpath(os.path.join(HERE, "java"), ROOT)]
    digest = _tree_digest(sources)
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == digest:
                return
    t0 = now()
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true "
                   "-Dsbt.repository.config=%s -Xmx2g"
                   % os.path.expanduser("~/.sbt/repositories"))
    with open(os.path.join(BUILD, "build.log"), "wb") as logf:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                             cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                             stdout=logf, stderr=subprocess.STDOUT, timeout=800)
        if rc != 0:
            raise Fatal("sbt compile failed (rc %d), see %s" % (rc, logf.name))
        shutil.rmtree(BENCH_CLASSES, ignore_errors=True)
        java_dir = os.path.join(HERE, "java", "perfbench")
        rc = subprocess.call(
            ["javac", "-nowarn", "-d", BENCH_CLASSES, "-cp",
             MAIN_CLASSES + os.pathsep + spark_jars()] +
            sorted(os.path.join(java_dir, f) for f in os.listdir(java_dir)
                   if f.endswith(".java")),
            stdin=subprocess.DEVNULL, stdout=logf, stderr=subprocess.STDOUT, timeout=300)
        if rc != 0:
            raise Fatal("javac failed (rc %d), see %s" % (rc, logf.name))
    with open(stamp, "w") as f:
        f.write(digest)
    log("built in %.1f s" % (now() - t0))


def spark_jars():
    """The Spark jar directory the build compiles against (build.sbt's
    `unmanagedBase`), as a classpath wildcard."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise Fatal("build.sbt names no unmanagedBase jar directory")
    return os.path.join(m.group(1), "*")


# --------------------------------------------------------- child processes

class Run:
    """Per-run scratch space inside the checkout and the run's deadline."""

    def __init__(self, workload, seed):
        self.dir = os.path.join(BUILD, "run-%s-%d-%d" % (workload, seed, os.getpid()))
        shutil.rmtree(self.dir, ignore_errors=True)
        self.tmp = os.path.join(self.dir, "tmp")
        os.makedirs(self.tmp)
        self.deadline = now() + RUN_BUDGET_S
        self.procs = []
        self.n = 0

    def path(self, name):
        self.n += 1
        return os.path.join(self.dir, "%02d-%s" % (self.n, name))

    def env(self):
        env = {k: v for k, v in os.environ.items()
               if not k.startswith("SPARK_GRAFT_")
               and k not in ("SPARK_MASTER", "JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS")}
        env["SPARK_GRAFT_CPUS"] = str(CPUS)
        env["SPARK_LOCAL_DIRS"] = self.tmp
        return env

    def java(self, main, args, trace=None, cwd=None, stdin=True, name="jvm"):
        cp = [MAIN_CLASSES, spark_jars()]
        props = ["-Djava.io.tmpdir=" + self.tmp]
        if trace is not None:
            cp.insert(0, BENCH_CLASSES)
            props += ["-Dspark.extraListeners=perfbench.Trace",
                      "-Dspark.sql.streaming.streamingQueryListeners=perfbench.Trace$Streaming",
                      "-Dspark.perfbench.trace=" + trace]
        elif main.startswith("perfbench."):
            cp.insert(0, BENCH_CLASSES)
        gc_log = self.path(name + ".gc.log")
        argv = ["java", "-Xmx" + MAX_HEAP, "-Xlog:gc:file=" + gc_log] + JDK17_OPENS + props + [
            "-cp", os.pathsep.join(cp), main] + args
        p = Proc(argv, cwd or self.dir, self.env(), stdin, self.path(name + ".stderr"), gc_log)
        self.procs.append(p)
        return p

    def remaining(self):
        return max(1.0, self.deadline - now())

    def close(self):
        for p in self.procs:
            p.kill()
        shutil.rmtree(self.dir, ignore_errors=True)


_GC_AFTER = re.compile(r"\d+M->(\d+)M\(\d+M\)")


class Proc:
    """A child JVM: stdout lines with arrival times, exit time, rusage."""

    def __init__(self, argv, cwd, env, stdin, stderr_path, gc_log):
        self.lines = []
        self.cond = threading.Condition()
        self.t_exit = None
        self.rusage = None
        self.code = None
        with open(stderr_path, "wb") as err:
            self.t_launch = now()
            self.p = subprocess.Popen(
                argv, cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=err,
                stdin=subprocess.PIPE if stdin else subprocess.DEVNULL,
                start_new_session=True)
        self.stderr_path = stderr_path
        self.gc_log = gc_log
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._waiter = threading.Thread(target=self._wait, daemon=True)
        self._reader.start()
        self._waiter.start()

    def _read(self):
        for raw in self.p.stdout:
            line = raw.decode("utf-8", "replace").rstrip("\n")
            with self.cond:
                self.lines.append((now(), line))
                self.cond.notify_all()

    def _wait(self):
        _, status, ru = os.wait4(self.p.pid, 0)
        t = now()
        self.p.returncode = os.waitstatus_to_exitcode(status)
        with self.cond:
            self.t_exit, self.rusage, self.code = t, ru, self.p.returncode
            self.cond.notify_all()

    def wait_line(self, pred, timeout):
        """First stdout line matching `pred` as (time, line), or None when the
        process exits or `timeout` passes first."""
        end = now() + timeout
        seen = 0
        with self.cond:
            while True:
                for t, line in self.lines[seen:]:
                    if pred(line):
                        return t, line
                seen = len(self.lines)
                if self.t_exit is not None or now() >= end:
                    return None
                self.cond.wait(min(0.5, max(0.0, end - now())))

    def write(self, data):
        fd = self.p.stdin.fileno()
        view = memoryview(data)
        while view:
            view = view[os.write(fd, view):]

    def close_stdin(self):
        try:
            self.p.stdin.close()
        except OSError:
            pass

    def wait(self, timeout):
        self._waiter.join(timeout)
        if self._waiter.is_alive():
            self.kill()
            self._waiter.join()
        self._reader.join(5)
        return self.code

    def kill(self):
        if self.t_exit is None:
            try:
                os.killpg(self.p.pid, signal.SIGKILL)
            except OSError:
                pass
            self._waiter.join()

    def out(self):
        return [line for _, line in self.lines]

    def peak_rss_mb(self):
        return self.rusage.ru_maxrss / 1024.0

    def peak_heap_mb(self):
        """Largest heap occupancy left after any collection (the JVM's gc
        log, `before->after(size)`): what the program kept reachable."""
        try:
            with open(self.gc_log) as f:
                return max((float(m.group(1)) for m in _GC_AFTER.finditer(f.read())),
                           default=0.0)
        except OSError:
            return 0.0

    def tail_stderr(self):
        try:
            with open(self.stderr_path, "rb") as f:
                return f.read()[-1500:].decode("utf-8", "replace")
        except OSError:
            return ""


def cpu_times():
    """The box's cumulative CPU times (/proc/stat), to state how much the
    hypervisor stole during a run; None where there is no /proc."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None


def box_probe():
    """Fixed CPU micro-task on every core (one sha256 over 96 MiB per core, in
    threads: hashlib releases the GIL), median of 3. Recorded beside each
    result to show box contention; never gates."""
    buf = bytes(96 << 20)
    times = []
    for _ in range(3):
        threads = [threading.Thread(target=hashlib.sha256, args=(buf,)) for _ in range(CPUS)]
        t0 = now()
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        times.append(now() - t0)
    return statistics.median(times)


def tail_percentile(samples):
    """(percentile, value): the highest percentile with at least ten samples
    above it (the maximum when there are fewer than eleven samples)."""
    s = sorted(samples)
    if len(s) < 11:
        return 100.0, s[-1]
    return 100.0 * (len(s) - 10) / len(s), s[len(s) - 11]


def out_bytes(out_dir):
    files = [os.path.join(d, f) for d, _, fs in os.walk(out_dir) for f in fs
             if f.endswith(".parquet")]
    return len(files), sum(os.path.getsize(f) for f in files)


# ---------------------------------------------------------- ingest runs

def write_config(run):
    path = os.path.join(run.dir, "config.json")
    with open(path, "w") as f:
        f.write("{}")  # default config: inference on, two-pass strict validation, snappy
    return path


def cli_batch(run, data, manifest, trace=None, name="batch"):
    """One `graft.Main --mode batch` invocation fed `data` on stdin.
    Returns (result dict, problems)."""
    out_dir = run.path(name + "-out")
    p = run.java("graft.Main",
                 ["--config", write_config(run), "--output", out_dir],
                 trace=trace, name=name)
    # The first chunk fills the pipe; the second returns once the CLI has
    # started reading stdin, which ends its set-up.
    chunk = 1 << 16
    t_drain = None
    try:
        for i, off in enumerate(range(0, len(data), chunk)):
            p.write(data[off:off + chunk])
            if i == 1:
                t_drain = now()
    except BrokenPipeError:
        pass
    t_fed = now()
    p.close_stdin()
    code = p.wait(run.remaining())
    res = {"wall_s": p.t_exit - p.t_launch, "rss_mb": p.peak_rss_mb(),
           "heap_mb": p.peak_heap_mb(),
           "setup_s": (t_drain or t_fed) - p.t_launch,
           "spool_s": t_fed - (t_drain or t_fed), "out_dir": out_dir}
    if code != 0:
        return res, ["%s: exit code %s: %s" % (name, code, p.tail_stderr())]
    return res, check.check_bookmark(p.out(), manifest) + check.check_ingest(out_dir, manifest)


class Tally:
    """Counts batch invocations and the ones that failed their check."""

    def __init__(self, run):
        self.run = run
        self.attempted = self.failed = 0
        self.problems = []

    def batch(self, data, manifest, **kw):
        self.attempted += 1
        res, probs = cli_batch(self.run, data, manifest, **kw)
        if probs:
            self.failed += 1
            self.problems += probs
        return res


def run_batch(run, seed, seconds, ref):
    data, manifest = gen.batch_corpus(seed)
    log("batch corpus: %d records, %d bytes" % (manifest["records"], len(data)))
    tally = Tally(run)
    if ref:
        metrics = traced_batch(run, tally, data, manifest, ref)
        return tally.attempted, tally.failed, tally.problems, metrics
    batches = []
    t0 = now()
    while not batches or now() - t0 < seconds:
        batches.append(tally.batch(data, manifest))
    walls = [b["wall_s"] for b in batches]
    median_wall = statistics.median(walls)
    print("# batch_backfill: records=%d corpus_bytes=%d batch_s=%.4f records_per_s=%.1f "
          "out_bytes_ratio=%.4f peak_rss_mb=%.1f peak_heap_mb=%.0f" % (
              manifest["records"], len(data), median_wall,
              manifest["records"] / median_wall,
              out_bytes(batches[-1]["out_dir"])[1] / len(data),
              max(b["rss_mb"] for b in batches), max(b["heap_mb"] for b in batches)))
    metrics = {
        "setup_s": statistics.median(b["setup_s"] for b in batches),
        "latency_s": median_wall,
    }
    return tally.attempted, tally.failed, tally.problems, metrics


def live_session(run, seed, seconds, trace=None, name="live"):
    """One `graft.Main --mode live` invocation on an open loop.
    Returns (result dict, attempted, failed, problems)."""
    feed = gen.LiveFeed(seed)
    interval = gen.LIVE_PAGE_RECORDS / LIVE_RATE
    n_settle = int(round(LIVE_SETTLE_S / interval))
    n_pages = n_settle + max(1, int(round(seconds / interval)))
    pages = [feed.page(k) for k in range(n_pages + 1)]
    manifest = feed.manifest()
    out_dir = run.path(name + "-out")
    p = run.java("graft.Main",
                 ["--mode", "live", "--config", write_config(run), "--output", out_dir],
                 trace=trace, name=name)

    def page_of(line):
        try:
            return json.loads(line)["bookmarks"]["page"]
        except (ValueError, KeyError, TypeError):
            return None

    p.write(pages[0])
    ready = p.wait_line(lambda l: page_of(l) is not None, run.remaining())
    if ready is None:
        p.close_stdin()
        p.wait(run.remaining())
        return None, 1, 1, ["%s: no warm-up bookmark: %s" % (name, p.tail_stderr())]
    t_ready = ready[0]
    due = [t_ready + k * interval for k in range(1, n_pages + 1)]
    late, stall = [], 0.0
    try:
        for k in range(1, n_pages + 1):
            pause = due[k - 1] - now()
            if pause > 0:
                time.sleep(pause)
            ts = now()
            late.append(ts - due[k - 1])
            p.write(pages[k])
            stall += now() - ts
    except BrokenPipeError:
        pass
    t_close = now()
    p.close_stdin()
    code = p.wait(run.remaining())
    bookmarks = [(t, l) for t, l in p.lines if page_of(l) is not None]
    lags, missing = [], 0
    for k in range(1, n_pages + 1):
        hit = next((t for t, l in bookmarks if page_of(l) >= k), None)
        if hit is None:
            missing += 1
        elif k > n_settle:
            lags.append(hit - due[k - 1])
    problems = []
    if code != 0:
        problems.append("%s: exit code %s: %s" % (name, code, p.tail_stderr()))
    else:
        problems += check.check_live_bookmarks(bookmarks, n_pages)
        problems += check.check_ingest(out_dir, manifest)
    if missing:
        problems.append("%s: %d STATEs never got a bookmark" % (name, missing))
    failed = missing + (1 if problems and not missing else 0)
    res = {"setup_s": t_ready - p.t_launch, "lags": lags, "rss_mb": p.peak_rss_mb(),
           "heap_mb": p.peak_heap_mb(),
           "drain_s": p.t_exit - t_close, "gen_late_s": max(late) if late else 0.0,
           "tap_stall_s": stall, "measure_epoch_ms": epoch_ms(due[n_settle]),
           "out_dir": out_dir}
    return res, n_pages, failed, problems


def run_live(run, seed, seconds, ref):
    if ref:
        return traced_live(run, seed, seconds, ref)
    res, attempted, failed, problems = live_session(run, seed, seconds)
    if res is None or not res["lags"]:
        return attempted, max(failed, 1), problems, {}
    pct, tail = tail_percentile(res["lags"])
    print("# live_tail: rate=%.0f records/s page_records=%d settle_s=%.0f "
          "bookmark_lag_s=%.4f bookmark_lag_tail_s=%.4f (p%.1f of %d STATEs) "
          "gen_late_max_s=%.4f peak_rss_mb=%.1f peak_heap_mb=%.0f" % (
              LIVE_RATE, gen.LIVE_PAGE_RECORDS, LIVE_SETTLE_S,
              statistics.median(res["lags"]), tail, pct, len(res["lags"]), res["gen_late_s"],
              res["rss_mb"], res["heap_mb"]))
    metrics = {
        "setup_s": res["setup_s"],
        "latency_s": statistics.median(res["lags"]),
    }
    return attempted, failed, problems, metrics


# --------------------------------------------------------- operator rows

def ops_session(run, seed, seconds, trace=None, name="ops"):
    rows = list(OPS_ROWS)
    random.Random(seed).shuffle(rows)
    out_dir = run.path(name + "-out")
    work = run.path(name + "-cwd")  # spark-warehouse and spools land here
    os.makedirs(work)
    p = run.java("perfbench.OpsMix",
                 [gen.sf_dir(), ",".join(rows), out_dir, str(seconds)],
                 trace=trace, cwd=work, stdin=False, name=name)
    warm = p.wait_line(lambda l: l.startswith("PERFBENCH warmup_done"), run.remaining())
    code = p.wait(run.remaining())
    problems = []
    if code != 0 or warm is None:
        return None, len(rows), len(rows), ["%s: exit code %s: %s" % (
            name, code, p.tail_stderr())]
    warm_epoch_ms = int(warm[1].split()[2])
    passes, attempted, failed = [], len(rows), 0
    for line in p.out():
        f = line.split()
        if line.startswith("PERFBENCH warmup ") and "ERROR" in f:
            failed += 1
            problems.append("%s: warm-up of %s failed: %s" % (name, f[2], line))
        if line.startswith("PERFBENCH pass "):
            kv = dict(x.split("=", 1) for x in f[3:])
            attempted += len(rows)
            errs = [r for r in rows if kv.get(r) == "ERROR"]
            failed += len(errs)
            problems += ["%s: %s failed in pass %s" % (name, r, f[2]) for r in errs]
            passes.append({k: float(v) for k, v in kv.items() if v != "ERROR"})
    bad = check.check_rows(gen.sf_dir(), out_dir, rows, os.path.join(BUILD, "oracle-cache"))
    if bad:
        failed += len({b.split(":")[0] for b in bad})
        problems += bad
    res = {"setup_s": warm[0] - p.t_launch, "passes": passes, "rows": rows,
           "rss_mb": p.peak_rss_mb(), "heap_mb": p.peak_heap_mb(),
           "warm_epoch_ms": warm_epoch_ms}
    return res, attempted, failed, problems


def run_ops(run, seed, seconds, ref):
    if ref:
        return traced_ops(run, seed, seconds, ref)
    res, attempted, failed, problems = ops_session(run, seed, seconds)
    if res is None or not res["passes"]:
        return attempted, max(failed, 1), problems, {}
    totals = [ps["total"] for ps in res["passes"]]
    print("# operator_mix: order=%s passes=%d mix_s=%s peak_rss_mb=%.1f peak_heap_mb=%.0f" % (
        ",".join(res["rows"]), len(totals), ",".join("%.3f" % t for t in totals),
        res["rss_mb"], res["heap_mb"]))
    metrics = {
        "setup_s": res["setup_s"],
        "latency_s": statistics.median(totals),
    }
    return attempted, failed, problems, metrics


# ---------------------------------------------------------- traced runs

LAYER_FILES = {
    "SingerPipeline.scala": "pipeline",
    "JsonSchemaConverter.scala": "schema",
    "Constraints.scala": "validate",
    "FlattenColumns.scala": "functions",
    "PyRepr.scala": "functions",
    "StreamingIngest.scala": "streaming",
    "StdinStreamSource.scala": "streaming",
}
WRITE_APIS = ("parquet", "save")
INGEST_LAYERS = ("pipeline", "schema", "validate", "functions", "sink", "streaming")
UTIL_LAYERS = ("pipeline", "schema", "validate", "sink", "streaming", "operators")
SAMPLE_MS = 50  # Trace.SAMPLE_MS
_SITE = re.compile(r"^([\w$]+) at ([\w$]+\.scala):\d+")


def layer_of(site, writes=False):
    """Map a call site ("collect at Constraints.scala:229") to a layer by its
    source file. An ingest-core call that writes output is the sink; in
    graft.Main only the stdin copy is a layer (the spool)."""
    m = _SITE.match(site or "")
    if not m:
        return None
    api, fname = m.groups()
    if fname == "Main.scala":
        return "spool" if api == "copy" else "main"
    layer = LAYER_FILES.get(fname)
    if layer in ("pipeline", "streaming") and (writes or api in WRITE_APIS):
        return "sink"
    return layer


def load_trace(path):
    """The listener's file, with a layer on every driver sample and job.
    A job takes the layer the driver threads were in while it ran; failing
    that, its execution's or its own call site's."""
    with open(path) as f:
        t = json.load(f)
    by_thread = {}
    for ts, tid, site in t["samples"]:
        by_thread.setdefault(tid, []).append((ts, site))
    t["samples"] = []
    for ss in by_thread.values():
        for (ts, site), nxt in zip(ss, [x[0] for x in ss[1:]] + [ss[-1][0] + SAMPLE_MS]):
            t["samples"].append((ts, layer_of(site), min(nxt - ts, 3 * SAMPLE_MS) / 1000.0))
    t["samples"].sort(key=lambda x: x[0])
    times = [x[0] for x in t["samples"]]
    execs = {x["id"]: x for x in t["execs"]}
    for j in t["jobs"]:
        lo, hi = bisect.bisect_left(times, j["start"]), bisect.bisect_right(times, j["end"])
        seen = [x[1] for x in t["samples"][lo:hi] if x[1] not in (None, "main")]
        x = execs.get(j["exec"])
        writes = j["out_bytes"] > 0
        j["layer"] = (("operators" if j["row"] else None) or
                      (max(set(seen), key=seen.count) if seen else None) or
                      layer_of(x["desc"] if x else None, writes) or
                      layer_of(j["callsite"], writes) or "other")
    return t


def driver_walls(t, keep=lambda ts: True):
    """Seconds the program's driver threads spent in each layer's code."""
    walls = {}
    for ts, layer, dt in t["samples"]:
        if layer and keep(ts):
            walls[layer] = walls.get(layer, 0.0) + dt
    return walls


def per_layer_zero():
    m = {k: 0.0 for k in (
        "box.probe_s", "trace.overhead_s", "trace.unattributed_s", "jvm.peak_heap_mb",
        "jvm.peak_rss_mb", "spool.wall_s",
        "pipeline.prepass_wall_s", "pipeline.jobs", "pipeline.input_scans",
        "pipeline.read_amplification", "schema.infer_wall_s", "schema.infer_input_bytes",
        "validate.wall_s", "validate.json_parses_per_record", "flatten.wall_s",
        "flatten.columns", "flatten.parse_s", "sink.wall_s", "sink.files", "sink.bytes",
        "sink.tasks", "sink.encode_s", "streaming.batches", "streaming.batch_wall_s",
        "streaming.jobs_per_batch", "streaming.rows_per_batch", "streaming.tap_stall_s",
        "streaming.drain_s", "streaming.gen_late_s")}
    for r in OPS_ROWS:
        for k in ("wall_s", "shuffle_bytes", "spill_bytes", "tasks"):
            m["op.%s.%s" % (r, k)] = 0.0
    for layer in UTIL_LAYERS:
        for k in ("task_busy_s", "gc_s", "core_util"):
            m["%s.%s" % (layer, k)] = 0.0
    return m


def layer_metrics(m, t, keep=lambda ts: True):
    """Walls, task counts and utilisation per layer from a trace; `keep`
    selects by start time the samples, jobs and executions that count.
    Returns the driver walls by layer."""
    jobs = [j for j in t["jobs"] if keep(j["start"])]
    walls = driver_walls(t, keep)
    by = {}
    for j in jobs:
        by.setdefault(j["layer"], []).append(j)
    for layer, js in by.items():
        if layer in UTIL_LAYERS:
            busy = sum(j["busy_ms"] for j in js) / 1000.0
            wall = walls.get(layer, 0.0)
            m[layer + ".task_busy_s"] = busy
            m[layer + ".gc_s"] = sum(j["gc_ms"] for j in js) / 1000.0
            m[layer + ".core_util"] = busy / (wall * CPUS) if wall else 0.0
    m["schema.infer_wall_s"] = walls.get("schema", 0.0)
    m["schema.infer_input_bytes"] = sum(j["in_bytes"] for j in by.get("schema", []))
    m["validate.wall_s"] = walls.get("validate", 0.0)
    v = [x["json_fns"] for x in t["execs"] if keep(x["start"]) and any(
        j["layer"] == "validate" for j in jobs if j["exec"] == x["id"])]
    m["validate.json_parses_per_record"] = statistics.mean(v) if v else 0.0
    m["sink.wall_s"] = walls.get("sink", 0.0)
    m["sink.tasks"] = sum(j["tasks"] for j in by.get("sink", []))
    return walls


def untraced_reference(run, workload, seed, seconds):
    """Medians of this checkout's untraced runs of `workload`, against which
    a traced run states its overhead; one untraced run first if none exist.
    Returns (reference metrics, attempted, failed, problems)."""
    path = untraced_path(workload)
    if not os.path.exists(path):
        attempted, failed, problems, metrics = WORKLOADS[workload](run, seed, seconds, None)
        if problems or not metrics:
            return None, attempted, failed, problems
        record_untraced(workload, metrics)
    else:
        attempted, failed, problems = 0, 0, []
    with open(path) as f:
        rows = [json.loads(line) for line in f if line.strip()]
    ref = {"latency_s": statistics.median(r["latency_s"] for r in rows)}
    return ref, attempted, failed, problems


def untraced_path(workload):
    """Untraced runs of `workload` against the current build only: the file
    is keyed by the build's source digest."""
    with open(os.path.join(BUILD, "stamp")) as f:
        return os.path.join(BUILD, "untraced-%s-%s.jsonl" % (workload, f.read()[:16]))


def record_untraced(workload, metrics):
    with open(untraced_path(workload), "a") as f:
        f.write(json.dumps(metrics) + "\n")


def traced_batch(run, tally, data, manifest, ref):
    m = per_layer_zero()
    trace_path = os.path.join(run.dir, "trace.json")
    traced = tally.batch(data, manifest, trace=trace_path, name="batch-traced")
    if not os.path.exists(trace_path):
        return m
    t = load_trace(trace_path)
    jobs = t["jobs"]
    walls = layer_metrics(m, t)
    m["pipeline.prepass_wall_s"] = walls.get("pipeline", 0.0)
    m["pipeline.jobs"] = len(jobs)
    m["pipeline.input_scans"] = sum(1 for j in jobs if j["in_bytes"] > 0)
    m["pipeline.read_amplification"] = sum(j["in_bytes"] for j in jobs) / len(data)
    m["spool.wall_s"] = traced["spool_s"]
    files, nbytes = out_bytes(traced["out_dir"])
    m["sink.files"], m["sink.bytes"] = files, nbytes
    m["jvm.peak_heap_mb"], m["jvm.peak_rss_mb"] = traced["heap_mb"], traced["rss_mb"]
    m["trace.overhead_s"] = traced["wall_s"] - ref["latency_s"]
    attributed = traced["setup_s"] + traced["spool_s"] + sum(
        v for k, v in walls.items() if k in INGEST_LAYERS)
    m["trace.unattributed_s"] = traced["wall_s"] - attributed

    # The fused parse/flatten/encode job, timed call by call.
    corpus = os.path.join(run.dir, "corpus.jsonl")
    with open(corpus, "wb") as f:
        f.write(data)
    specs = []
    for stream, schema in (("orders", gen.ORDERS_SCHEMA), ("events", gen.EVENTS_SCHEMA),
                           ("customers", gen.CUSTOMERS_SCHEMA_V2)):
        sp = os.path.join(run.dir, stream + ".schema.json")
        with open(sp, "w") as f:
            json.dump(schema, f)
        specs.append("%s=%s" % (stream, sp))
    tally.attempted += 1
    p = run.java("perfbench.IsolatedCalls",
                 [corpus, run.path("isolated")] + specs, stdin=False, name="isolated")
    if p.wait(run.remaining()) != 0:
        tally.failed += 1
        tally.problems.append("isolated calls failed: " + p.tail_stderr())
    for line in p.out():
        if line.startswith("PERFBENCH isolated "):
            kv = dict(x.split("=", 1) for x in line.split()[2:])
            m["flatten.wall_s"] += float(kv["flatten_s"])
            m["flatten.parse_s"] += float(kv["parse_s"])
            m["flatten.columns"] += int(kv["columns"])
            m["sink.encode_s"] += float(kv["encode_s"])
    print("# batch_backfill traced: batch_s=%.4f untraced_median=%.4f overhead=%.4f "
          "setup=%.4f spool=%.4f layers=%s unattributed=%.4f" % (
              traced["wall_s"], ref["latency_s"], m["trace.overhead_s"], traced["setup_s"],
              traced["spool_s"], json.dumps({k: round(v, 4) for k, v in sorted(walls.items())}),
              m["trace.unattributed_s"]))
    return m


def traced_live(run, seed, seconds, ref):
    m = per_layer_zero()
    trace_path = os.path.join(run.dir, "trace.json")
    res, attempted, failed, problems = live_session(run, seed, seconds, trace=trace_path,
                                                    name="live-traced")
    if res is None or not res["lags"]:
        return attempted, max(1, failed), problems, m
    # Per-layer figures cover the measured part of the schedule only.
    t = load_trace(trace_path)
    after_ready = lambda ts: ts >= res["measure_epoch_ms"]  # noqa: E731
    layer_metrics(m, t, after_ready)
    jobs = [j for j in t["jobs"] if after_ready(j["start"])]
    data = [pg for pg in t["progress"] if pg.get("numInputRows", 0) > 0 and after_ready(
        1000.0 * datetime.datetime.fromisoformat(pg["timestamp"].replace("Z", "+00:00"))
        .timestamp())]
    batch_ids = {pg["batchId"] for pg in data}
    m["streaming.batches"] = len(data)
    if data:
        m["streaming.batch_wall_s"] = statistics.median(
            pg["durationMs"].get("triggerExecution", 0) / 1000.0 for pg in data)
        m["streaming.rows_per_batch"] = statistics.median(pg["numInputRows"] for pg in data)
        m["streaming.jobs_per_batch"] = sum(
            1 for j in jobs if j.get("batch") in batch_ids) / len(data)
    m["streaming.tap_stall_s"] = res["tap_stall_s"]
    m["streaming.drain_s"] = res["drain_s"]
    m["streaming.gen_late_s"] = res["gen_late_s"]
    files, nbytes = out_bytes(res["out_dir"])
    m["sink.files"], m["sink.bytes"] = files, nbytes
    m["jvm.peak_heap_mb"], m["jvm.peak_rss_mb"] = res["heap_mb"], res["rss_mb"]
    m["pipeline.jobs"] = len(jobs)
    lag = statistics.median(res["lags"])
    m["trace.overhead_s"] = lag - ref["latency_s"]
    print("# live_tail traced: lag_p50=%.4f untraced_median=%.4f overhead=%.4f batches=%d" % (
        lag, ref["latency_s"], m["trace.overhead_s"], len(data)))
    return attempted, failed, problems, m


def traced_ops(run, seed, seconds, ref):
    m = per_layer_zero()
    trace_path = os.path.join(run.dir, "trace.json")
    res, attempted, failed, problems = ops_session(run, seed, seconds, trace=trace_path,
                                                   name="ops-traced")
    if res is None or not res["passes"]:
        return attempted, max(1, failed), problems, m
    t = load_trace(trace_path)
    after_warmup = lambda ts: ts >= res["warm_epoch_ms"]  # noqa: E731
    layer_metrics(m, t, after_warmup)
    timed = [j for j in t["jobs"] if after_warmup(j["start"])]
    # Per timed pass; the pass wall is the client's own timing of the rows.
    n = len(res["passes"])
    for r in OPS_ROWS:
        js = [j for j in timed if j.get("row") == r]
        m["op.%s.wall_s" % r] = statistics.median(ps[r] for ps in res["passes"] if r in ps)
        m["op.%s.shuffle_bytes" % r] = sum(j["shuffle_write"] for j in js) / n
        m["op.%s.spill_bytes" % r] = sum(j["spill"] for j in js) / n
        m["op.%s.tasks" % r] = sum(j["tasks"] for j in js) / n
    wall = sum(ps["total"] for ps in res["passes"])
    m["operators.core_util"] = m["operators.task_busy_s"] / (wall * CPUS)
    m["jvm.peak_heap_mb"], m["jvm.peak_rss_mb"] = res["heap_mb"], res["rss_mb"]
    mix = statistics.median(ps["total"] for ps in res["passes"])
    m["trace.overhead_s"] = mix - ref["latency_s"]
    print("# operator_mix traced: mix_s=%.4f untraced_median=%.4f overhead=%.4f" % (
        mix, ref["latency_s"], m["trace.overhead_s"]))
    return attempted, failed, problems, m


# --------------------------------------------------------------------- main

def unit_of(name):
    leaf = name.rsplit(".", 1)[-1]
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_mb"):
        return "MB"
    if leaf.endswith("bytes"):
        return "bytes"
    if leaf in ("core_util", "read_amplification"):
        return "ratio"
    return "count"


WORKLOADS = {"batch_backfill": run_batch, "live_tail": run_live, "operator_mix": run_ops}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # A termination request unwinds through the `finally` below, which stops
    # the child JVMs.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    try:
        build()
    except Fatal as e:
        log(str(e))
        return 2
    run = Run(a.workload, a.seed)
    cpu0 = cpu_times()
    try:
        box = box_probe()
        print("# box_probe_s=%.6f" % box)
        runner = WORKLOADS[a.workload]
        if a.trace:
            ref, attempted, failed, problems = untraced_reference(
                run, a.workload, a.seed, a.seconds)
            if ref is not None:
                at, fa, pr, metrics = runner(run, a.seed, a.seconds, ref)
                attempted, failed, problems = attempted + at, failed + fa, problems + pr
                metrics["box.probe_s"] = box
            else:
                metrics = {}
        else:
            attempted, failed, problems, metrics = runner(run, a.seed, a.seconds, None)
            if metrics and not problems:
                record_untraced(a.workload, metrics)
    finally:
        run.close()
    cpu1 = cpu_times()
    if cpu0 and cpu1:
        d = [y - x for x, y in zip(cpu0, cpu1)]
        print("# box_steal_pct=%.2f" % (100.0 * d[7] / max(1, sum(d))))
    for p in problems:
        log("CHECK FAILED: " + p)
    print(json.dumps({"correct": not problems, "attempted": max(1, attempted),
                      "failed": failed, "metrics": {
                          k: {"value": v, "unit": unit_of(k)}
                          for k, v in sorted(metrics.items())}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
