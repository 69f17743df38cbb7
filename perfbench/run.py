"""pysearch serving benchmark: one workload, one process, one JSON line.

    python3 perfbench/run.py --workload serve_local --seed 1 --seconds 10 --trace 0

Run from the repository root.  The workload's inputs are generated from
``--seed``; the program is driven through its public API on
``local[<cpus available>]`` by a single closed-loop client for ``--seconds``
seconds; the results are checked; the last stdout line is
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones (see NOTES.md).
``--smoke`` shrinks every input so a run takes seconds.

Everything the run writes stays under ``.perfbench_work/`` (deleted at exit)
and ``.perfbench_out/`` (run records) in the repository root.
"""

import time

T_START = time.perf_counter()  # process start, up to interpreter start-up

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CAL_SECONDS = 0.25


def _children_map():
    kids = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int):
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants (the JVM
    and Spark's Python workers), sampled every ``interval`` seconds."""

    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval, self.peak = interval, 0
        self._stop_ev = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> None:
        tot = 0
        for pid in [os.getpid()] + descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    tot += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        self.peak = max(self.peak, tot)

    def run(self) -> None:
        while not self._stop_ev.wait(self.interval):
            self.sample()

    def stop(self) -> float:
        self._stop_ev.set()
        self.join()
        self.sample()
        return self.peak / 2**20


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop Spark and wait until the JVM and every Python worker it forked
    have exited; whatever is left after ``timeout`` is killed."""
    procs = descendants(os.getpid())
    sc = spark.sparkContext
    gateway = sc._gateway
    jvm = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if jvm is not None:
        jvm.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            jvm.wait(timeout)
        except Exception:
            jvm.kill()
            jvm.wait()
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in procs) and time.monotonic() < deadline:
        time.sleep(0.05)
    for p in procs:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


def calibration(cpus: int) -> dict:
    """Host speed (sha256 ops/s), recorded as run metadata only."""
    from bench import calibrate, calibrate_mt

    return {"st": calibrate(CAL_SECONDS),
            "mt": calibrate_mt(cpus, CAL_SECONDS)}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the benchmark's own tests")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import pysearch  # noqa: F401  (fails here when the program is absent)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"choose from {sorted(workloads.WORKLOADS)}")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(out_dir, exist_ok=True)
    # keep every file the run writes inside the checkout: Python and the
    # JVM temp dirs point into the work dir, and SPARK_LOCAL_DIRS would
    # override spark.local.dir
    os.environ["TMPDIR"] = tmp
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    tempfile.tempdir = None
    try:
        return _run(args, workloads, tag, work, out_dir, tmp)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, workloads, tag, work, out_dir, tmp) -> int:
    import tail
    import tracing
    from pysearch import build, session
    from pysearch.query import Searcher

    cpus = len(os.sched_getaffinity(0))
    tr = tracing.Tracer() if args.trace else None
    tail_fp: dict = {}     # index footprints of the ingest tail
    tail_rows: dict = {}   # rows per op of the curate tail
    phase = tr.span if tr else (lambda _name: contextlib.nullcontext())
    if tr:
        tr.add_span("run.start", T_START, time.perf_counter())
    with phase("run.trace_install"):
        if tr:
            tracing.install(tr)
        rss = RssSampler()
        rss.start()
    t_cal = time.perf_counter()
    with phase("run.calibrate"):
        cal_before = calibration(cpus)
    cal_s = time.perf_counter() - t_cal

    spark = session.build_spark(
        master=f"local[{cpus}]", app_name=f"perfbench-{args.workload}",
        shuffle_partitions=cpus,
        extra={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # -XX:-UsePerfData: no hsperfdata file under /tmp
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        })
    try:
        c = workloads.config(args.workload, args.smoke)
        with phase("run.generate"):
            inp = workloads.make_inputs(args.seed, c)
            corpus_df = spark.createDataFrame(inp.corpus)
        index_dir = os.path.join(work, "index")
        build.build_index(spark, corpus_df, index_dir,
                          segment_size=workloads.SEGMENT_SIZE)
        footprint = tracing.index_footprint(index_dir)
        searcher = Searcher(spark, index_dir)
        traffic = workloads.Traffic(spark, searcher, inp, c, args.seed,
                                    tracer=tr)
        with phase("run.warm_up"):
            warm_passes = traffic.warm_up(budget_s=0.3 * args.seconds)
        t_window, cpu_window = time.perf_counter(), workloads.cpu_times()
        # process start to the first timed operation, less the host
        # calibration, which is the benchmark's own bookkeeping
        setup_s = t_window - T_START - cal_s
        traffic.run(args.seconds)
        window_s = time.perf_counter() - t_window
        window_steal = workloads.steal_share(cpu_window,
                                             workloads.cpu_times())
        with phase("run.check"):
            problems = workloads.check(searcher, traffic, c, args.seed)
        if tr:
            with phase("run.stage_metrics"):
                tr.stage_metrics(spark)
            if not args.smoke:  # smoke inputs do not cross the gates
                problems += workloads.intent(args.workload, tr)
            # the untimed tail: write-side or curation layers (tail.py)
            tracing.install_tail(tr)
            with phase("run.tail"):
                if c.tail == "ingest":
                    found, tail_fp = tail.ingest(spark, searcher, index_dir,
                                                 inp, args.seed, args.smoke)
                else:
                    found, tail_rows = tail.curate(spark, tr, work, args.seed,
                                                   inp.vocab, args.smoke)
                problems += found
    finally:
        with phase("run.stop"):
            stop_spark(spark)
    peak_rss_mb = rss.stop()
    with phase("run.calibrate"):
        cal_after = calibration(cpus)
    t_end = time.perf_counter()

    e2e = workloads.end_to_end(traffic, setup_s)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "smoke": args.smoke, "cpus": cpus,
        "host_cal_before": cal_before, "host_cal_after": cal_after,
        "pysearch_env": {k: v for k, v in os.environ.items()
                         if k.startswith("PYSEARCH_")},
        "warm_up_passes": warm_passes, "window_s": window_s,
        "window_steal_share": window_steal,
        "run_wall_s": t_end - T_START,
        "samples": traffic.lat, "sample_steal": traffic.steal,
        "calm_samples": {k: sum(s <= workloads.STEAL_MAX for s in v)
                         for k, v in traffic.steal.items()},
        "problems": problems,
        "index_footprint": footprint, "peak_rss_mb": peak_rss_mb,
        "end_to_end": {k: v[0] for k, v in e2e.items()},
    }
    metrics = e2e
    if tr:
        tr.unpatch()
        metrics = tracing.per_layer(tr, cpus, footprint, (T_START, t_end))
        metrics.update(tail.metrics(tr, tail_fp))
        metrics["process.peak_rss_mb"] = (peak_rss_mb, "MB")
        record["per_layer"] = {k: v[0] for k, v in metrics.items()}
        record["counts"] = workloads.op_counts(tr)
        record["tail"] = {"footprints": tail_fp, "curate_rows": tail_rows}
        tr.dump(os.path.join(out_dir, tag + "-spans.json"), T_START)
    with open(os.path.join(out_dir, tag + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    for p in problems:
        print(f"perfbench: CHECK FAILED: {p}", file=sys.stderr)
    print(json.dumps({
        "correct": not problems,
        "attempted": traffic.attempted,
        "failed": traffic.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
