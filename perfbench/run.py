"""End-to-end and per-layer benchmark for h2outility_spark.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload batch_jobs --seed 1 --seconds 6 --trace 0

Each invocation runs ONE workload in a child process, in a session of its
own, with one SparkSession on ``local[nproc]``; the invoked process waits
until every process of that session has ended and removes the child's work
directory. The child starts the Spark session first (``setup_s`` is the age
of the invoked process when the session has run one action), then stages the
seeded inputs, runs one cold pass and steady passes until ``--seconds``
of steady passes and at least two have run, checks every output, and
prints one JSON line last. ``failed`` and ``attempted`` in it count failed
operations and failed output checks. The inputs are the read-only fixture tables under
``perfbench/data/sf<sf>/``. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` installs the out-of-package tracer, alternates untraced and
traced passes, prints the per-layer table and reports the per-layer
metrics, the run's peak RSS and ``fail_ratio``. See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench")
#: Set in the child that runs the workload: its work directory.
WORK_DIR_ENV = "PERFBENCH_WORK_DIR"

#: workload -> factory over the workloads module. The sizes keep one run
#: of batch_jobs near 75 s and of query_mix near 40 s on 4 cores, so the
#: 48 runs of a full measurement fit in 3,420 s; see README.md.
WORKLOADS = {
    "batch_jobs": lambda w: w.BatchJobs([
        w.OdmExport(n_resources=3, sf=0.01),
        w.QcEditCommit(n_files=2, n_edits=1, sf=0.01),
        w.CorpusBuild(sf=0.01),
    ]),
    "query_mix": lambda w: w.QueryMix(w.QUERIES, sf=0.01),
}
#: The fewest steady passes a run makes, traced ones included. ``wall_s``
#: is their median: with one steady pass, batch_jobs' wall_s spread a
#: quarter of its median over ten runs on a host whose speed moves.
MIN_STEADY_PASSES = 2

END_TO_END_UNITS = {"setup_s": "s", "wall_s": "s", "spark_jobs": "count", "bytes_written_mb": "MB"}
#: Printed with the end-to-end metrics but reported in the JSON line of the
#: traced run only. fail_ratio is 0 on a correct build. Each of the others
#: spread wider than a quarter of its median in some set of ten runs on a
#: shared 4-core host: the cold pass and op_p90_s are one sample or one tail
#: per run; the median op of batch_jobs is one of the one-second exports or
#: saves; peak RSS follows the JVM's heap sizing. See README.md.
RUN_UNITS = {"cold_pass_s": "s", "op_p90_s": "s", "op_p50_s": "s", "peak_rss_mb": "MB",
             "fail_ratio": "ratio"}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def process_age(pid: int) -> float:
    """Seconds since process ``pid`` started (boot-clock based)."""
    with open(f"/proc/{pid}/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_seconds(pids: list[int]) -> float:
    """User plus system CPU seconds the processes have used so far."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        total += int(fields[11]) + int(fields[12])
    return total / os.sysconf("SC_CLK_TCK")


def host_steal() -> tuple[int, int]:
    """(steal, all) clock ticks of the host's CPUs since boot; steal is
    time a virtual CPU was ready to run but the hypervisor ran another."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


class RssSampler(threading.Thread):
    """Peak RSS of this Python process plus the driver JVM."""

    def __init__(self, pids: list[int], period: float = 0.1):
        super().__init__(daemon=True)
        self.pids, self.period = pids, period
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_kb = max(self.peak_kb, sum(self._rss_kb(p) for p in self.pids))
            self._stop_evt.wait(self.period)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak_kb / 1024.0


class Ctx:
    """What a workload sees: the session, its inputs and ``op``."""

    def __init__(self, seed: int, sf: float | None, work_dir: str):
        self.seed = seed
        self.rng = random.Random(seed)
        self.sf = sf
        self.work_dir = work_dir
        self.tracer = None
        self.spark = None
        self.pass_no = 0
        self.paused_s = 0.0
        self.records: list[dict] = []  # one per operation
        self.streams: dict[int, list[dict]] = {}

    log = staticmethod(log)

    def op(self, kind: str, fn, label: str | None = None):
        """Run one operation; time it and record failure instead of raising."""
        span = None
        if self.tracer is not None and self.tracer.active:
            span = self.tracer.open(label or kind, "op")
        t0 = time.perf_counter()
        ok, result = True, None
        try:
            result = fn()
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            ok = False
            log(f"{kind} {label or ''} failed:\n{traceback.format_exc(limit=4)}")
        dt = time.perf_counter() - t0
        if span is not None:
            self.tracer.close(span)
        self.records.append(
            {"pass": self.pass_no, "kind": kind, "label": label or kind, "s": dt, "ok": ok,
             "n": len(result) if isinstance(result, list) else None}
        )
        return result

    @contextlib.contextmanager
    def paused(self):
        """Harness work inside a pass that its wall time must not count."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.paused_s += time.perf_counter() - t0

    def span(self, name: str, layer: str):
        if self.tracer is None or not self.tracer.active:
            return contextlib.nullcontext()

        @contextlib.contextmanager
        def cm():
            s = self.tracer.open(name, layer)
            try:
                yield s
            finally:
                self.tracer.close(s)

        return cm()

    def data_dir(self, sf: float) -> str:
        """The fixture tables at scale ``sf``, or at ``--sf`` when given."""
        return data_dir(self.sf if self.sf is not None else sf)

    def note_stream(self, query) -> None:
        progress = [p if isinstance(p, dict) else json.loads(p.json) for p in query.recentProgress]
        self.streams.setdefault(self.pass_no, []).extend(progress)

    def frame_hash(self, df) -> tuple:
        """Order-insensitive (rows, hash-sum, hash-sum) of a frame."""
        from pyspark.sql import functions as F

        cols = [F.col(c) for c in sorted(df.columns)]
        row = df.agg(
            F.count(F.lit(1)),
            F.sum(F.pmod(F.xxhash64(*cols), F.lit(2_147_483_647))),
            F.sum(F.pmod(F.hash(*cols), F.lit(2_147_483_647))),
        ).collect()[0]
        return tuple(row)

    def job_counter(self) -> int:
        return int(self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _quantile(values: list[float], q: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[q - 1]


def data_dir(sf: float) -> str:
    path = os.path.join(HERE, "data", f"sf{sf:g}")
    if not os.path.isfile(os.path.join(path, "events.parquet")):
        raise SystemExit(f"perfbench: no fixture tables in {path}")
    return path


def _session_pids(sid: int) -> list[int]:
    """Live (not zombie) processes of session ``sid``."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # ended while we looked
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def _stop_session(sid: int, wait_first: bool) -> None:
    """Wait for every process of session ``sid`` to end: first on its own
    if ``wait_first`` (the driver JVM exits when its Python client's pipe
    closes), then after SIGTERM, then after SIGKILL."""
    steps = [(None, 10.0)] if wait_first else []
    for sig, grace in steps + [(signal.SIGTERM, 10.0), (signal.SIGKILL, 30.0)]:
        deadline = time.monotonic() + grace
        pids = _session_pids(sid)
        if pids and sig is not None:
            for pid in pids:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
        while pids and time.monotonic() < deadline:
            time.sleep(0.05)
            pids = _session_pids(sid)
        if not pids:
            return
    log(f"processes {pids} of session {sid} did not end")


def _raise_exit(signum, _frame):
    raise SystemExit(128 + signum)


def supervise() -> int:
    """Run this script again as a child that leads a new session, and
    return its exit code once every process of that session has ended.

    Everything a run starts stays in that session: the driver JVM, and
    the PySpark worker daemon with its workers, which leave the process
    group but not the session. The child's outputs go to a work directory
    that is removed here, after they have all ended, on every way out."""
    work_dir = os.path.join(OUT_DIR, f"work-{os.getpid()}")
    os.makedirs(work_dir)
    signals = (signal.SIGTERM, signal.SIGHUP, signal.SIGINT)
    for signum in signals[:2]:
        signal.signal(signum, _raise_exit)
    child = None
    try:
        child = subprocess.Popen([sys.executable, *sys.argv],
                                 env={**os.environ, WORK_DIR_ENV: work_dir},
                                 start_new_session=True)
        code = child.wait()
        return code if code >= 0 else 128 - code
    finally:
        for signum in signals:  # a second signal must not cut the clean-up short
            signal.signal(signum, signal.SIG_IGN)
        if child is not None:
            _stop_session(child.pid, wait_first=child.poll() is not None)
            child.wait()
        shutil.rmtree(work_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(OUT_DIR)  # only when no trace output is left in it


def run(args, work_dir: str) -> dict:
    if not os.path.isfile(os.path.join(ROOT, "h2outility_spark", "session.py")):
        raise SystemExit(f"perfbench: no h2outility_spark package under {ROOT}")
    if args.sf is not None:
        data_dir(args.sf)
    return _run(args, WORKLOADS[args.workload], bool(args.trace), work_dir)


def _environment(work_dir: str, event_dir: str | None) -> None:
    """Pin the session to this host's cores and keep every file it leaves
    (warehouse, derby.log, spill, temp, event log) in ``work_dir``."""
    os.chdir(work_dir)
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    submit = [
        f"--driver-java-options -Djava.io.tmpdir={tmp}",
        "--conf spark.ui.showConsoleProgress=false",
    ]
    if event_dir:
        os.makedirs(event_dir)
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{event_dir}",
            "--conf spark.eventLog.rolling.enabled=false",
            "--conf spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])


def _run(args, factory, trace, work_dir) -> dict:
    event_dir = os.path.join(work_dir, "events") if trace else None
    _environment(work_dir, event_dir)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    # Set-up: start of the supervising process -> a ready session that has
    # run one action, one sample per run. Nothing of the benchmark's own runs before
    # it; session.start_s is get_spark plus that action alone.
    from h2outility_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    spark.range(1).count()
    session_start_s = time.perf_counter() - t0
    setup_s = process_age(os.getppid())  # the process the user started

    import workloads

    wl = factory(workloads)
    ctx = Ctx(args.seed, args.sf, work_dir)
    ctx.spark = spark
    tracer = None
    if trace:
        import layers
        import spans

        tracer = spans.Tracer(lambda: ctx.spark)
        tracer.install()
        ctx.tracer = tracer
        layers.install(tracer, ctx)
    t_prepare = time.perf_counter()
    wl.prepare(ctx)
    prepare_s = time.perf_counter() - t_prepare

    pids = [os.getpid(), int(spark._jvm.ProcessHandle.current().pid())]
    sampler = RssSampler(pids)
    sampler.start()

    passes: list[dict] = []

    def one_pass(traced: bool) -> None:
        ctx.pass_no = len(passes)
        if tracer is not None:
            tracer.active = traced
            tracer.pass_no = ctx.pass_no
        ctx.paused_s = 0.0
        j0, c0, s0, t = ctx.job_counter(), cpu_seconds(pids), host_steal(), time.perf_counter()
        wl.run_pass(ctx, ctx.pass_no)
        t1 = time.perf_counter()
        if tracer is not None:
            tracer.active = False
        s1 = host_steal()
        passes.append({"wall": t1 - t - ctx.paused_s, "jobs": ctx.job_counter() - j0,
                       "jobs_from": j0, "traced": traced, "t0": t, "t1": t1,
                       "cpu": cpu_seconds(pids) - c0,
                       "steal": (s1[0] - s0[0]) / max(1, s1[1] - s0[1])})

    one_pass(False)  # cold
    measured = 0.0
    # Steady passes until --seconds of them have run, and at least
    # MIN_STEADY_PASSES; the traced run alternates untraced and traced
    # passes and ends with a traced one.
    while True:
        enough = len(passes) > MIN_STEADY_PASSES and (not trace or passes[-1]["traced"])
        if measured >= args.seconds and enough:
            break
        one_pass(trace and len(passes) % 2 == 0)
        measured += passes[-1]["wall"]
    peak_rss = sampler.stop()
    for i, p in enumerate(passes):
        p["bytes"] = wl.bytes_written(ctx, i)

    t_check = time.perf_counter()
    checks, failed_checks = wl.check(ctx)
    check_s = time.perf_counter() - t_check
    ops_failed = sum(not r["ok"] for r in ctx.records)
    attempted = len(ctx.records) + checks
    failed = ops_failed + failed_checks

    steady = [p for p in passes[1:] if not p["traced"]]
    steady_no = {passes.index(p) for p in steady}
    lat = [r["s"] for r in ctx.records if r["pass"] in steady_no and r["kind"] in wl.primary]
    e2e = {
        "setup_s": setup_s,
        "wall_s": statistics.median(p["wall"] for p in steady),
        "spark_jobs": statistics.median(p["jobs"] for p in steady),
        "bytes_written_mb": statistics.median(p["bytes"] for p in steady) / 1e6,
    }
    run_metrics = {"cold_pass_s": passes[0]["wall"], "op_p90_s": _quantile(lat, 9),
                   "op_p50_s": statistics.median(lat), "peak_rss_mb": peak_rss,
                   "fail_ratio": failed / attempted}
    summary = {
        "workload": args.workload, "seed": args.seed, "sf": args.sf, "cores": _nproc(),
        "passes": len(passes), "steady_passes": len(steady), "op_samples": len(lat),
        **run_metrics, "session_start_s": session_start_s,
        "prepare_s": round(prepare_s, 3), "check_s": round(check_s, 3),
    }
    units = {**END_TO_END_UNITS, **RUN_UNITS}
    for name, value in {**e2e, **run_metrics}.items():
        print(f"{args.workload:15s} {name:18s} {value:12.4f} {units[name]}")

    spark.stop()
    if trace:
        import layers

        layer = layers.layer_metrics(tracer, ctx, passes, session_start_s, event_dir)
        os.makedirs(OUT_DIR, exist_ok=True)
        out = os.path.join(OUT_DIR, f"trace-{args.workload}-s{args.seed}.json")
        tracer.dump(out, {"summary": summary, "passes": passes, "layers": layer["table"],
                          "metrics": layer["metrics"]})
        for name, row in sorted(layer["table"].items()):
            print(f"{args.workload:15s} layer {name:24s} self {row['self_s']:9.4f} s  "
                  f"calls {row['calls']:6.1f}  jobs {row['jobs']:7.1f}")
        for name, value in layer["metrics"].items():
            print(f"{args.workload:15s} {name:34s} {value['value']:14.6f} {value['unit']}")
        print(f"{args.workload:15s} trace_json {os.path.relpath(out, ROOT)}")
        metrics = {**layer["metrics"],
                   **{k: {"value": v, "unit": RUN_UNITS[k]} for k, v in run_metrics.items()}}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
    by_label: dict[str, list] = {}
    for r in ctx.records:
        if r["pass"] in steady_no:
            by_label.setdefault(r["label"], []).append(r["s"])
    summary["op_median_s"] = {k: round(statistics.median(v), 4) for k, v in by_label.items()}
    summary["pass_wall_s"] = [round(p["wall"], 3) for p in passes]
    summary["pass_cpu_s"] = [round(p["cpu"], 3) for p in passes]
    summary["pass_host_steal"] = [round(p["steal"], 3) for p in passes]
    log(json.dumps(summary))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="read every table at this fixture scale factor")
    args = ap.parse_args()
    work_dir = os.environ.get(WORK_DIR_ENV)
    if work_dir is None:
        sys.exit(supervise())
    result = run(args, work_dir)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
