"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload docs --seed 1 --seconds 4 --trace 0

Run from the root of a checkout of the repo. With `--trace 0` the last line
of standard output is the result with the end-to-end metrics; with
`--trace 1` it holds the per-layer metrics of a traced run (see README.md).
The line before it holds the details: effective settings, input sizes and
hash, and the workload's own names for its throughputs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3                 # set-ups per run; setup_s is their median
TRACE_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
    "spark.eventLog.logBlockUpdates.enabled": "true",
}
# the workload's own names for its four phase throughputs
PHASE_NAMES = {
    "docs": ("docs_per_s", "knn_points_per_s", "bpe_docs_per_s", "near_dup_docs_per_s"),
    "raster": ("ingest_cells_per_s", "scan_cells_per_s", "reads_per_s", "vector_cells_per_s"),
}
# useful-work ratios of the traced run -> unit
RATIO_UNITS = {
    "spatial.knn_join.escalated_frac": "fraction",
    "spatial.knn_join.fallback_frac": "fraction",
    "textops.near_dup_pairs.pairs_per_candidate": "fraction",
    "tilecodec.compress_tiles.lsop_tile_frac": "fraction",
    "tilecodec.compress_tiles.bits_per_sample": "bits",
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# --- settings -----------------------------------------------------------------

def hardware_settings(tmp: str) -> dict:
    """The benchmark's own hardware settings, derived from this machine."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_mb = int(fh.readline().split()[1]) // 1024
    return {
        "master": f"local[{cores}]",
        "cores": cores,
        "shuffle_partitions": 2 * cores,
        "driver_memory": f"{min(2048, mem_mb // 4)}m",
        "spark_local_dirs": os.path.join(tmp, "local"),
        "pythonpath": os.pathsep.join([ROOT, HERE]),
        "omp_num_threads": None,
    }


def apply_settings(s: dict, tmp: str) -> None:
    """Environment of the driver, the JVM and the Python workers. Must run
    before pyspark starts its JVM."""
    os.makedirs(s["spark_local_dirs"], exist_ok=True)
    os.environ.pop("OMP_NUM_THREADS", None)
    os.environ["SPARK_LOCAL_DIRS"] = s["spark_local_dirs"]
    os.environ["SPARK_DRIVER_MEM"] = s["driver_memory"]
    os.environ["PYTHONPATH"] = s["pythonpath"]
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    # every JVM, the launcher's too, keeps its temporary files in tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    import tempfile
    tempfile.tempdir = tmp


def start_session(s: dict, event_dir: str | None = None):
    """A session from the engine's own factory. The event log is switched on
    through JVM system properties, which every new SparkConf reads."""
    from pyspark import SparkContext

    from gridfour_spark.session import get_spark

    if SparkContext._jvm is not None:
        system = SparkContext._jvm.java.lang.System
        for k, v in TRACE_LOG_CONF.items():
            if event_dir:
                system.setProperty(k, v)
            else:
                system.clearProperty(k)
        if event_dir:
            system.setProperty("spark.eventLog.dir", "file://" + event_dir)
    elif event_dir:
        raise RuntimeError("a traced session needs a running JVM")
    spark = get_spark("perfbench", master=s["master"], shuffle_partitions=s["shuffle_partitions"])
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop Spark and wait for the JVM to exit."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Py4JError:           # the JVM is already gone
        pass
    if proc is not None:
        proc.stdin.close()      # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# --- memory and CPU -------------------------------------------------------------

def process_tree() -> list[int]:
    """This process and its descendants: the driver, the JVM it launched and
    the JVM's Python workers."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, []))
    return tree


def tree_cpu_s() -> float:
    """CPU seconds used so far by the process tree. A child that exited was
    reaped by a parent in the tree, which then counts it in its children's
    time, so the sum only grows."""
    ticks = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(f) for f in fields[11:15])   # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler(threading.Thread):
    """Largest sum, over the live processes of this process tree, of each
    process's high-water RSS, sampled from /proc every `period` seconds."""

    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period, self.peak_kb = period, 0
        self._stop_evt = threading.Event()

    @staticmethod
    def tree_hwm_kb() -> int:
        total = 0
        for pid in process_tree():
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                pass
        return total

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_kb = max(self.peak_kb, self.tree_hwm_kb())
            self._stop_evt.wait(self.period)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        self.peak_kb = max(self.peak_kb, self.tree_hwm_kb())
        return self.peak_kb / 1024.0


# --- timing and checking -------------------------------------------------------

class Recorder:
    """The `call` every workload operation goes through. It times the call,
    tags its Spark jobs with a job group when traced, and checks that every
    call's digest equals the digest of the first call of the same (site, key)."""

    def __init__(self, spark=None, traced: bool = False):
        self.sc = spark.sparkContext if spark is not None else None
        self.traced = traced
        self.calls: list[dict] = []
        self.first: dict[tuple[str, object], object] = {}
        self.phase, self.warming = 0, False
        self.pass_cpu: dict[int, list[float]] = {}
        self.mismatched: set[str] = set()
        self.errors: list[str] = []

    def __call__(self, site: str, fn, key=None):
        group = f"{site}#{len(self.calls)}"
        if self.traced:
            self.sc.setJobGroup(group, site)
        rec = {"site": site, "phase": self.phase, "group": group, "warm": self.warming,
               "cpu": tree_cpu_s(), "start": time.time(), "end": None, "ok": False}
        self.calls.append(rec)
        try:
            out = fn()
        finally:
            rec["end"] = time.time()
            rec["cpu"] = tree_cpu_s() - rec["cpu"]
            if self.traced:
                self.sc.setJobGroup("perfbench.untimed", "untimed")
        rec["ok"] = self.first.setdefault((site, key), out) == out
        if not rec["ok"]:
            self.mismatched.add(site)
        return out

    def warmup(self, workload) -> float:
        """One untimed pass of every phase. Its digests are the ones later
        passes must match, and the workload keeps the outputs its checks
        read from it."""
        t0 = time.time()
        self.warming = True
        try:
            for n in workload.phases:
                self.phase = n
                workload.run_phase(n, self)
        except Exception:
            self.errors.append(traceback.format_exc())
        finally:
            self.warming = False
        return time.time() - t0

    def timed(self, site: str | None = None) -> list[dict]:
        return [c for c in self.calls if not c["warm"] and site in (None, c["site"])]

    def measure(self, workload, seconds: float) -> dict[int, list[float]]:
        """Run full passes, every phase once in order, until `seconds` have
        passed (at least one). Every phase so gets the same number of
        passes. Returns per phase the wall time of each pass: the summed wall
        time of its calls."""
        passes: dict[int, list[float]] = {n: [] for n in workload.phases}
        t0 = time.time()
        while not self.errors and (not passes[1] or time.time() - t0 < seconds):
            for n in workload.phases:
                self.phase = n
                n0, p0 = len(self.calls), time.time()
                try:
                    workload.run_phase(n, self)
                except Exception:
                    self.errors.append(traceback.format_exc())
                    break
                p1 = time.time()
                for c in self.calls[n0:]:
                    c.update(pass_start=p0, pass_end=p1)
                passes[n].append(sum(c["end"] - c["start"] for c in self.calls[n0:]))
                self.pass_cpu.setdefault(n, []).append(sum(c["cpu"] for c in self.calls[n0:]))
                log(f"phase {n}: " + ", ".join(
                    f"{c['site']} {c['end'] - c['start']:.2f}" for c in self.calls[n0:]))
        return passes

    def check(self, workload) -> set[str]:
        """The call sites whose output was wrong: a mismatch between passes,
        or a failed check of the workload's own."""
        if self.errors:
            return {"error"}
        try:
            return set(workload.check(self.first)) | self.mismatched
        except Exception:
            self.errors.append(traceback.format_exc())
            return {"error"}

    def tally(self, bad_sites: set[str]) -> tuple[int, int]:
        """(attempted, failed) over every call made; a check that could not
        run counts as one more failed operation."""
        failed = sum(1 for c in self.calls if not c["ok"] or c["site"] in bad_sites)
        return len(self.calls), failed + ("error" in bad_sites)


def tail(samples: list[float]) -> dict:
    """p50 and the highest percentile with at least 10 samples beyond it."""
    xs = sorted(samples)
    n = len(xs)
    out = {"n": n, "p50_s": statistics.median(xs) if xs else None,
           "tail_pct": None, "tail_s": None}
    if n >= 20:
        out["tail_pct"] = round(100.0 * (n - 10) / n, 2)
        out["tail_s"] = xs[n - 11]
    return out


def throughput(wl, rec: Recorder, passes: dict[int, list[float]]) -> dict:
    """The workload's own names -> items per second of each phase's median
    pass, and of the groups of calls the workload is known by."""
    med = {n: statistics.median(p) for n, p in passes.items()}
    out = {PHASE_NAMES[wl.name][n - 1]: wl.items[unit] / med[n]
           for n, (unit, _sites) in wl.phases.items()}
    if wl.name == "docs":
        out["text_docs_per_s"] = wl.items["docs"] / (med[3] + med[4])
    else:
        interp = statistics.median(
            c["end"] - c["start"] for c in rec.timed("bspline.interpolate_points"))
        out["interp_points_per_s"] = wl.inp["sizes"]["bspline_points"] / interp
        out["contour_cells_per_s"] = wl.items["cells"] * len(wl.levels) / (med[4] - interp)
    return out


def declared_metrics(trace: int) -> dict[str, str]:
    """Every metric a run prints, name -> unit: the end-to-end metrics when
    untraced, the per-layer metrics when traced."""
    import eventlog
    import workloads

    if not trace:
        return {"setup_s": "s", "peak_rss_mb": "MB", "pass_s": "s", "pass_cpu_s": "s"}
    n_phases = {len(w.phases) for w in workloads.WORKLOADS.values()}.pop()
    names = {f"phase{n}_items_per_s": "items/s" for n in range(1, n_phases + 1)}
    names.update({f"{site}.{field}": unit for site in workloads.ALL_SITES
                  for field, unit in eventlog.SITE_FIELDS.items()})
    names.update(eventlog.WORKLOAD_FIELDS)
    names.update(RATIO_UNITS)
    names["trace_overhead_frac"] = "fraction"
    return names


def check_declared(metrics: dict, trace: int) -> None:
    """The metrics printed are exactly the ones declared here and, when the
    checkout has one, in BENCHMARK.json."""
    want = declared_metrics(trace)
    if {k: u for k, (_v, u) in metrics.items()} != want:
        raise RuntimeError(f"printed metrics differ from the declared ones: {sorted(metrics)}")
    path = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.exists(path):
        with open(path) as fh:
            bench = json.load(fh)
        key = "per_layer" if trace else "end_to_end"
        if {m["name"]: m["unit"] for m in bench[key]} != want:
            raise RuntimeError(f"BENCHMARK.json {key} differs from the metrics printed")


# --- the run --------------------------------------------------------------------

def setup(cls, s, args, tmp: str, spark=None, event_dir: str | None = None):
    """Start a session (unless one is given), generate the inputs and
    prepare the workload."""
    import inputs

    if spark is None:
        spark = start_session(s, event_dir)
    else:
        spark.catalog.clearCache()
    inp = inputs.write_inputs(args.workload, args.seed, os.path.join(tmp, "inputs"))
    work = os.path.join(tmp, "work")
    os.makedirs(work, exist_ok=True)
    wl = cls(spark, inp, work)
    wl.prepare()
    return spark, inp, wl


def untraced(cls, s, args, tmp: str, detail: dict) -> tuple[dict, int, int, set]:
    rss = RssSampler()
    rss.start()
    times = []
    spark = None
    for _ in range(SETUPS):
        t0 = time.time()
        spark, inp, wl = setup(cls, s, args, tmp, spark)
        times.append(time.time() - t0)
        log(f"set-up {times[-1]:.2f} s")
    rec = Recorder()
    detail["warmup_s"] = rec.warmup(wl)
    log(f"warm-up {detail['warmup_s']:.2f} s")
    passes = rec.measure(wl, args.seconds)
    if rec.errors:
        raise RuntimeError("a timed call failed:\n" + "".join(rec.errors))
    t0 = time.time()
    bad = rec.check(wl)
    log(f"checks {time.time() - t0:.2f} s")
    peak_mb = rss.stop()
    attempted, failed = rec.tally(bad)
    named = throughput(wl, rec, passes)
    detail.update(inputs=inp["sizes"], input_hash=inp["hash"], setup_runs_s=times,
                  passes=passes, pass_cpu=rec.pass_cpu, named=named, errors=rec.errors)
    if wl.name == "raster":
        for site in wl.phases[3][1]:
            detail[site] = tail([c["end"] - c["start"] for c in rec.timed(site)])
        detail.update(wl.layer_ratios())
    units = declared_metrics(0)
    values = {
        "setup_s": statistics.median(times),
        "peak_rss_mb": peak_mb,
        "pass_s": sum(statistics.median(p) for p in passes.values()),
        "pass_cpu_s": sum(statistics.median(p) for p in rec.pass_cpu.values()),
    }
    return {k: (v, units[k]) for k, v in values.items()}, attempted, failed, bad


def traced(cls, s, args, tmp: str, detail: dict) -> tuple[dict, int, int, set]:
    """Half the time untraced, then a new session with the event log on and a
    job group per call for the other half; the log is parsed afterwards."""
    import eventlog
    import workloads

    from pyspark import SparkContext

    spark, inp, wl = setup(cls, s, args, tmp)
    rec = Recorder()
    rec.warmup(wl)
    ref = rec.measure(wl, args.seconds / 2)
    SparkContext._active_spark_context.stop()

    event_dir = os.path.join(tmp, "events")
    os.makedirs(event_dir, exist_ok=True)
    spark, inp, wl = setup(cls, s, args, tmp, event_dir=event_dir)
    rec.sc, rec.traced, n_ref = spark.sparkContext, True, len(rec.calls)
    rec.warmup(wl)
    passes = rec.measure(wl, args.seconds / 2)
    timed = [dict(c) for c in rec.calls[n_ref:] if not c["warm"]]
    ratios = wl.layer_ratios() if not rec.errors else {}
    bad = rec.check(wl)
    attempted, failed = rec.tally(bad)
    SparkContext._active_spark_context.stop()      # flushes the event log
    if rec.errors:
        raise RuntimeError("a timed call failed:\n" + "".join(rec.errors))

    (log_file,) = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
    sites, per_pass = eventlog.layer_metrics(
        eventlog.parse(log_file), timed, {n: len(p) for n, p in passes.items()})
    detail["sanity"] = eventlog.sanity(timed, sites, s["cores"])
    log(f"trace sanity {detail['sanity']}")
    detail.update(inputs=inp["sizes"], input_hash=inp["hash"], passes=passes,
                  untraced_passes=ref)
    named = throughput(wl, rec, passes)
    values = {f"phase{n}_items_per_s": named[PHASE_NAMES[wl.name][n - 1]] for n in wl.phases}
    values.update({f"{site}.{field}": sites.get(site, {}).get(field, 0.0)
                   for site in workloads.ALL_SITES for field in eventlog.SITE_FIELDS})
    values.update(per_pass)
    values.update({name: ratios.get(name, 0.0) for name in RATIO_UNITS})
    traced_s = sum(statistics.median(p) for p in passes.values())
    untraced_s = sum(statistics.median(p) for p in ref.values())
    values["trace_overhead_frac"] = traced_s / untraced_s - 1.0
    units = declared_metrics(1)
    return {k: (v, units[k]) for k, v in values.items()}, attempted, failed, bad


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("docs", "raster"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "gridfour_spark")):
        print(f"perfbench: no gridfour_spark package next to {HERE}; "
              "run from the root of a checkout of the repo", file=sys.stderr)
        return 2

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(tmp)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        s = hardware_settings(tmp)
        apply_settings(s, tmp)
        sys.path[:0] = [ROOT, HERE]
        import workloads

        cls = workloads.WORKLOADS[args.workload]
        detail = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "trace": args.trace, "settings": s}
        run = traced if args.trace else untraced
        metrics, attempted, failed, bad = run(cls, s, args, tmp, detail)
        check_declared(metrics, args.trace)
        detail["failed_sites"] = sorted(bad)
        detail["failed_op_frac"] = failed / attempted if attempted else 1.0
        print(json.dumps({"detail": detail}, default=str))
        print(json.dumps({
            "correct": not bad and failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        sys.stdout.flush()
        return 0
    finally:
        t0 = time.time()
        stop_jvm()
        log(f"stop {time.time() - t0:.2f} s")
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
