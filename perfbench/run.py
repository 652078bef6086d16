"""Crawl benchmark: seeded workloads against the grawler package, closed loop.

    python3 perfbench/run.py --workload wave_fresh --seed 1 --seconds 5 \
        --trace 0 [--cores N]

Builds its inputs from --seed, sets up (Spark session, input build and
caching, warm-up), then runs timed operations one after another until
--seconds of operation wall have passed (at least one), checks every
operation's output outside the timed region and prints the metrics. The
last line of standard output is one JSON object.

--trace 0 prints the end-to-end metrics. --trace 1 turns the Spark event
log on (a local directory) and alternates traced and untraced operations,
at least one of each; during a traced one, spans wrap the engine's calls
into each module (perfbench/trace.py). It prints every per-layer metric,
taken from the traced operations, and the per-wave layer report
(perfbench/report.py); trace.overhead_s is the median traced minus the
median untraced operation wall (both with the event log on). The spans,
event log and state counts stay under .perfbench/trace-<workload>/ in the
repository root.

Exit status: 0 when every operation passed its check, 1 when one failed
(the result is still printed), 2 when the program cannot run here.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, ROOT)

from perfbench.report import TABLES  # noqa: E402
from perfbench.workloads import QUERIES  # noqa: E402

# (name, unit): every end-to-end metric, printed with --trace 0
END_TO_END = (
    ("setup_s", "s"), ("op_s_p50", "s"), ("items_per_s", "1/s"),
    ("peak_rss_mb", "MB"))

# (name, unit): every per-layer metric, printed with --trace 1
PER_LAYER = (
    ("engine.jobs_per_wave", "count"), ("engine.driver_gap_s", "s"),
    ("engine.task_s", "s"), ("engine.shuffle_mb", "MB"),
    ("engine.spill_mb", "MB"), ("engine.gc_s", "s"),
    ("engine.children_in_rows", "count"),
    ("engine.children_new_ratio", "ratio"), ("engine.children_s", "s"),
    ("engine.children_shuffle_mb", "MB"),
    ("urlnorm.rows", "count"), ("urlnorm.py_s", "s"),
    ("urlnorm.py_mb", "MB"),
    ("bloom.build_s", "s"),
    ("exactcheck.calls", "count"), ("exactcheck.s", "s"),
    ("exactcheck.probe_rows", "count"),
    ("exactcheck.bucket_read_ratio", "ratio"),
    ("exactcheck.broadcast_share", "ratio"),
    ("robots.refreshed_hosts", "count"), ("robots.refresh_s", "s"),
    ("robots.py_s", "s"), ("robots.denied_ratio", "ratio"),
    ("scheduler.s", "s"), ("scheduler.in_rows", "count"),
    ("scheduler.shuffle_mb", "MB"),
    ("scheduler.task_skew", "ratio"),
    ("fetch.rows", "count"), ("fetch.s", "s"),
    ("fetch.error_ratio", "ratio"),
    ("htmlparse.rows", "count"), ("htmlparse.py_s", "s"),
    ("htmlparse.py_mb", "MB"),
    ("codecs.images", "count"), ("codecs.ok_ratio", "ratio"),
    ("codecs.py_s", "s"), ("codecs.py_mb", "MB"),
    ("store.commit_s", "s"), ("store.commit_jobs", "count"),
    *[(f"store.write_s.{t}", "s") for t in TABLES],
    ("store.read_s", "s"), ("store.mb_written", "MB"),
    ("store.files_written", "count"),
    ("store.bytes_per_image_byte", "ratio"),
    *[(f"operators.{q}.{k}", u) for q in QUERIES
      for k, u in (("s", "s"), ("jobs", "count"), ("shuffle_mb", "MB"))],
    ("trace.unexplained_s", "s"), ("trace.overhead_s", "s"),
)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=os.cpu_count() or 1)
    return p.parse_args(argv)


# ------------------------------------------------------ process tree memory

def _tree_pids(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _tree_mem_bytes(root_pid: int) -> int:
    """Resident memory of a process and its descendants. A Python process
    counts its PSS (each shared page split among the processes that map
    it): forked Python workers share most of their pages with the daemon
    they forked from, and plain RSS would count those once per worker. The
    JVM shares its pages with none of them and counts its RSS: its
    smaps_rollup walks a multi-GB address space (tens of ms a read) and
    holds its memory map lock meanwhile, which would slow what is measured."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _tree_pids(root_pid):
        try:
            with open(f"/proc/{pid}/comm") as f:
                java = f.read().strip() == "java"
            if java:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * page
                continue
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, ValueError, IndexError):
            continue
    return total


class RssSampler(threading.Thread):
    """Samples the resident memory of this process and its descendants
    (the JVM and its Python workers); `take` returns the largest sample
    since the last `take` in MB."""

    def __init__(self, every_s: float = 0.2):
        super().__init__(daemon=True)
        self.every_s, self.peak = every_s, 0
        self._stop_evt = threading.Event()
        # a sample in progress when `take` is called counts before it
        self._lock = threading.Lock()

    def run(self):
        while not self._stop_evt.is_set():
            with self._lock:
                self.peak = max(self.peak, _tree_mem_bytes(os.getpid()))
            self._stop_evt.wait(self.every_s)

    def take(self) -> float:
        with self._lock:
            peak, self.peak = self.peak, 0
        return peak / 1e6

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)


# ------------------------------------------------------------ shutdown

def _start_time(pid: int) -> str | None:
    """The start time of a live process (told apart from a later one with
    the same pid), or None when it has ended or is a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] == "Z" else fields[19]


def _wait_gone(procs: list[tuple[int, str | None]], timeout_s: float) -> list:
    """Waits until every (pid, start time) has ended; returns those left."""
    deadline = time.monotonic() + timeout_s
    while True:
        left = [(p, t) for p, t in procs if t and _start_time(p) == t]
        if not left or time.monotonic() >= deadline:
            return left
        time.sleep(0.1)


def stop_spark(spark=None) -> None:
    """Stops the Spark session, then the JVM PySpark started and the
    Python workers it forked, and waits until each has ended. PySpark
    itself leaves the JVM to notice on its own, after this process has
    exited, that its standard input closed."""
    from pyspark import SparkContext

    tree = [(p, _start_time(p)) for p in _tree_pids(os.getpid())[1:]]
    try:
        if spark is not None:
            spark.stop()
        elif SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            SparkContext._gateway = SparkContext._jvm = None
            try:
                proc.stdin.close()  # the JVM exits at end of input
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        for sig, wait_s in ((None, 15), (signal.SIGTERM, 10),
                            (signal.SIGKILL, 10)):
            if sig is not None:
                for pid, _ in tree:
                    try:
                        os.kill(pid, sig)
                    except OSError:
                        pass
            tree = _wait_gone(tree, wait_s)
            if not tree:
                break


# ------------------------------------------------------------ run record

def run_record(args) -> dict:
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {"workload": args.workload, "seed": args.seed,
            "cores": args.cores, "loadavg_start": os.getloadavg()[0],
            "spark": pyspark.__version__,
            "python": platform.python_version(), "commit": commit}


# ------------------------------------------------------------------ main

def session(args, work: str, event_dir: str | None, heap: str):
    os.environ["SPARK_GRAFT_CPUS"] = str(args.cores)
    from grawler.session import get_spark

    conf = {
        # Python workers import grawler from this checkout, whatever the
        # working directory
        "spark.executorEnv.PYTHONPATH": ROOT,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
        # the engine's 8g default heap is sized for 100k-URL waves; these
        # inputs are a few MB
        "spark.driver.memory": heap,
    }
    if event_dir:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def layer_metrics(w, tracer, ops: list[tuple], trace_dir: str,
                  event_dir: str) -> dict:
    from perfbench import report

    (name,) = os.listdir(event_dir)  # one application, one log
    path = os.path.join(trace_dir, "eventlog.json")
    shutil.move(os.path.join(event_dir, name), path)
    tracer.dump(os.path.join(trace_dir, "spans.json"))
    log = report.EventLog(path)
    spans = tracer.spans
    in_ops = [s for s in spans
              if any(a <= s["start"] <= b for a, b in ops)]
    # one run_wave span per timed operation, in the order of w.facts; a
    # workload without waves is profiled over each operation's window
    waves = sorted((s for s in in_ops if s["name"] == "run_wave"),
                   key=lambda s: s["start"]) or [
        {"id": None, "wave": None, "start": a, "end": b} for a, b in ops]
    facts = {s["id"]: f for s, f in zip(waves, w.facts)}
    with open(os.path.join(trace_dir, "facts.json"), "w") as f:
        json.dump({str(k): v for k, v in facts.items()}, f)
    profiles = [report.wave_profile(log, spans, s, facts.get(s["id"]))
                for s in waves]
    if profiles:
        print(report.render(profiles))
    out = {}
    for name in profiles[0]["metrics"] if profiles else ():
        if name.startswith(w.layer_prefixes):
            out[name] = statistics.median(p["metrics"][name]
                                          for p in profiles)
    for k, v in report.query_profile(log, in_ops).items():
        out[k] = v
        print(f"{k:<50} {v:12.4f}")
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter()
    try:
        import grawler  # noqa: F401
        import pyspark  # noqa: F401

        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    if not os.path.exists(os.path.join(ROOT, "__spark_entry__.py")):
        print("perfbench: __spark_entry__.py is missing", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    record = run_record(args)
    # a SIGTERM unwinds through the `finally` below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    os.makedirs(WORK, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=WORK)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    event_dir = os.path.join(work, "events") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)
    sampler = RssSampler()
    sampler.start()
    spark = tracer = None
    # walls/items: the operations the metrics come from (the traced ones
    # with --trace 1); ops: their (start, end) epoch times
    walls, ops, items, untraced_walls, check_walls = [], [], 0, [], []
    peaks = []  # per operation, traced or not
    try:
        t0 = time.perf_counter()
        spark = session(args, work, event_dir,
                        WORKLOADS[args.workload].HEAP)
        session_s = time.perf_counter() - t0
        # set-up runs untraced: spans and state counts come from timed
        # operations only
        w = WORKLOADS[args.workload](spark, args.seed, work)
        setup = w.setup()
        setup["session_s"] = session_s
        setup_s = session_s + setup["inputs_s"] + setup["warmup_s"]
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(spark)
        # with --trace 1, traced and untraced operations alternate, traced
        # first, so both sides see the same drift over the run
        while not walls or sum(walls) < args.seconds or \
                (tracer is not None and not untraced_walls):
            traced = tracer is not None and len(ops) <= len(untraced_walls)
            if traced:
                tracer.install()
                w.tracer = tracer
            sampler.take()
            a = time.time()
            try:
                n = w.op()
            except Exception:
                traceback.print_exc()
                w.fail("operation raised")
                break
            finally:
                if traced:
                    tracer.uninstall()
            b = time.time()
            peaks.append(sampler.take())
            try:
                t0 = time.perf_counter()
                w.check()
                check_walls.append(time.perf_counter() - t0)
            except Exception:
                traceback.print_exc()
                w.fail("output check raised")
            w.tracer = None
            w.cleanup_op()
            if traced:
                ops.append((a, b))
                walls.append(w.op_wall)
                items += n
            elif tracer is not None:
                untraced_walls.append(w.op_wall)
            else:
                walls.append(w.op_wall)
                items += n
        layers = {}
        if tracer is not None:
            stop_spark(spark)
            spark = None
            trace_dir = os.path.join(WORK, f"trace-{args.workload}")
            shutil.rmtree(trace_dir, ignore_errors=True)
            os.makedirs(trace_dir)
            layers = layer_metrics(w, tracer, ops, trace_dir, event_dir)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        stop_spark(spark)
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)

    for p in w.problems:
        print(f"FAILED: {p}")
    if not walls:  # no operation completed: nothing to report
        return 1
    record["loadavg_end"] = os.getloadavg()[0]
    record["run_s"] = time.perf_counter() - t_start
    p50 = w.typical_op_s(walls)
    peak_mb = statistics.median(peaks)
    e2e = {"setup_s": setup_s, "op_s_p50": p50,
           "items_per_s": items / len(walls) / p50, "peak_rss_mb": peak_mb}
    print("run", json.dumps(record))
    print("setup", json.dumps({k: round(v, 3) for k, v in setup.items()}))
    print(f"ops {len(walls)} walls_s {[round(x, 4) for x in walls]} "
          f"check_s {[round(x, 2) for x in check_walls]}")
    named = ({"wave_s_p50": (p50, "s"),
              f"wave_s_max ({len(walls)} waves)": (max(walls), "s"),
              "urls_per_s": (e2e["items_per_s"], "1/s")}
             if w.item == "url" else {"queries_s": (p50, "s")})
    for k, (v, unit) in {**named, "setup_s": (setup_s, "s"),
                         "peak_rss_mb": (peak_mb, "MB")}.items():
        print(f"{k} {v:.4f} {unit}")
    print(f"failed_share {w.failed}/{w.attempted}")
    if args.trace:
        layers["trace.overhead_s"] = (statistics.median(walls)
                                      - statistics.median(untraced_walls))
        metrics = {n: {"value": layers.get(n, 0.0), "unit": u}
                   for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    correct = w.failed == 0
    print(json.dumps({"correct": correct, "attempted": w.attempted,
                      "failed": w.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    raise SystemExit(main())
