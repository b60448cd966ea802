"""Run one benchmark workload of the xagg_spark engine and print its metrics.

    python3 perfbench/run.py --workload zonal_build --seed 1 --seconds 3 --trace 0

Run from the root of a checkout.  One process, one JVM, one Spark session
on local[<cpus>] per run.  Set-up (session start, input staging, one untimed
warm rep) is timed as ``setup_s``; then reps run until ``--seconds`` have
passed (at least one; two with ``--trace 1``), each checked outside its
timed window.  The last stdout line is one JSON object: {"correct",
"attempted", "failed", "metrics"}; with ``--trace 0`` the metrics are the
end-to-end ones, with ``--trace 1`` the per-layer ones (see
perfbench/README.md).  The line before it holds the environment, every
rep's wall time and the error rate.
"""

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
import warnings  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

MIN_REPS = 1              # two with --trace 1: one untraced, one traced
DEADLINE_S = 150.0        # start no rep that could end past this
DRIVER_MEM = "4g"
_STAGE_FIGURES = {       # span name -> figures read from its stages
    "overlaps": ("wall_s", "exec_run_s", "driver_s", "jobs",
                 "shuffle_write_mb"),
    "aggregate": ("wall_s", "exec_run_s", "driver_s", "jobs",
                  "shuffle_read_mb", "spill_mb"),
    "knn": ("wall_s", "exec_run_s", "driver_s", "jobs", "shuffle_write_mb"),
}
SPAN_METRICS = {         # metric -> (span name, span figure)
    **{f"{name}.{fig}": (name, fig)
       for name, figs in _STAGE_FIGURES.items() for fig in figs},
    "weightmap_io.save_s": ("weightmap_io.save", "wall_s"),
    "weightmap_io.read_s": ("weightmap_io.read", "wall_s"),
    "codecs.decode_s": ("codecs", "wall_s"),
    "codecs.exec_run_s": ("codecs", "exec_run_s"),
}
COUNT_METRICS = ("codecs.rows", "overlaps.rows", "overlaps.boundary_refined",
                 "overlaps.nonconvex_fallback", "weightmap_io.bytes_mb",
                 "knn.rows")
UNITS = {"_s": "s", "_mb": "MB", "jobs": "count", "rows": "count",
         "share": "share", "refined": "count", "fallback": "count",
         "tasks": "count", "load1m": "load", "cover": "share"}


def _unit(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    raise KeyError(name)


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def _configure_env(workdir: str, nproc: int) -> dict:
    """Point every scratch location the JVM and Python workers use at the
    run's work directory; return the inherited values for the record."""
    inherited = {k: os.environ.get(k) for k in
                 ("SPARK_LOCAL_DIRS", "XAGG_SPARK_LOCAL_DIR",
                  "SPARK_DRIVER_MEM", "XAGG_SPARK_PERIODIC_GC", "TMPDIR")}
    local = os.path.join(workdir, "spark-local")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_LOCAL_DIRS": local,
        "XAGG_SPARK_LOCAL_DIR": local,
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        # the launcher JVM that spark-submit starts first
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf", "spark.ui.showConsoleProgress=false",
            "--driver-java-options",
            shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
            "pyspark-shell"]),
    })
    return inherited


def _environment(spark, nproc: int, inherited: dict) -> dict:
    sc = spark.sparkContext
    jvm = sc._jvm
    conf = sc._jsc.sc().conf()
    return {
        "nproc": nproc,
        "master": sc.master,
        "spark.local.dir": list(
            jvm.org.apache.spark.util.Utils.getConfiguredLocalDirs(conf)),
        "SPARK_LOCAL_DIRS": os.environ["SPARK_LOCAL_DIRS"],
        "inherited_env": inherited,
        "spark.driver.memory": sc.getConf().get("spark.driver.memory"),
        "driver_heap_max_mb": jvm.java.lang.Runtime.getRuntime().maxMemory()
        / 2**20,
        "spark.cleaner.periodicGC.interval":
            sc.getConf().get("spark.cleaner.periodicGC.interval"),
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "load1m_at_start": os.getloadavg()[0],
    }


def _shutdown(spark, jvm_pid: int) -> None:
    """Stop Spark, the JVM and its Python workers, and wait until each has
    ended."""
    from probes import alive, process_tree
    from pyspark import SparkContext
    pids = process_tree(jvm_pid)
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    left = pids
    while left and time.monotonic() < deadline:
        time.sleep(0.1)
        left = [p for p in left if alive(p)]
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _layer_metrics(tr, sc, traced: list, counts: list) -> tuple:
    """Per-layer metrics (medians over the traced reps of each span's own
    figures and counts; 0 for a layer the workload never calls) and the
    stage table they were read from."""
    from probes import job_groups, stage_table
    stages = stage_table(sc)
    stats = tr.layer_stats(stages, job_groups(sc))
    by_name = {}
    for sp in tr.spans:
        if sp["name"] != "rep" and sp["rep"] in traced:
            by_name.setdefault(sp["name"], []).append(stats[sp["id"]])
    m = {metric: _median([st[fig] for st in by_name.get(name, [])])
         for metric, (name, fig) in SPAN_METRICS.items()}
    m.update({k: _median([c[k] for c in counts if k in c])
              for k in COUNT_METRICS})
    m["overlaps.boundary_share"] = (m["overlaps.boundary_refined"]
                                    / m["overlaps.rows"]
                                    if m["overlaps.rows"] else 0.0)
    m["spark.failed_tasks"] = sum(s["failed_tasks"] for s in stages)
    cover = []
    for rep in traced:
        r = next(sp for sp in tr.spans if sp["id"] == rep)
        inside = sum(sp["end"] - sp["start"] for sp in tr.spans
                     if sp["parent"] == rep)
        cover.append(inside / (r["end"] - r["start"]))
    m["trace.layer_cover"] = _median(cover)
    return m, stages


def run(args, workdir: str, nproc: int, inherited: dict) -> int:
    from xagg_spark import tiles_to_pixels
    from xagg_spark.options import set_options
    from xagg_spark.session import get_spark

    import checks
    from probes import (Tracer, host_steal_s, jvm_gc_s, peak_rss_mb,
                        reset_peak_rss, tree_cpu_s)
    from workloads import WORKLOADS

    warnings.simplefilter("ignore", FutureWarning)
    set_options(silent=True)
    t = time.monotonic()
    spark = get_spark("perfbench", master=f"local[{nproc}]")
    session_s = time.monotonic() - t
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    try:
        env = _environment(spark, nproc, inherited)
        t = time.monotonic()
        wl = WORKLOADS[args.workload](spark, args.seed, workdir)
        stage_s = time.monotonic() - t
        tr = Tracer(sc, False)

        def attempt(rep_id, ref):
            """One rep: (wall seconds, output or None, check callable)."""
            t0 = time.monotonic()
            try:
                with tr.rep(rep_id):
                    out = wl.rep(tr)
            except Exception:
                err = traceback.format_exc(limit=6)
                return time.monotonic() - t0, None, lambda: ([err], None)
            return time.monotonic() - t0, out, lambda: wl.check(out, ref)

        warm_wall, out, check = attempt("warm", None)
        try:
            warm_problems, ref = check()
        except Exception:
            warm_problems, ref = [traceback.format_exc(limit=6)], None
        if out is not None:
            wl.release(out)
        del out
        gc.collect()
        setup_s = time.monotonic() - T_START

        ledger = checks.Ledger()
        reps, counts, traced = [], [], []
        t_meas = time.monotonic()
        while len(reps) < MIN_REPS + args.trace or (
                time.monotonic() - t_meas < args.seconds
                and time.monotonic() - T_START
                + reps[-1]["wall_s"] < DEADLINE_S):
            rep_id = f"r{len(reps)}"
            tr.enabled = bool(args.trace) and len(reps) % 2 == 1
            c0, s0, g0 = tree_cpu_s(jvm_pid), host_steal_s(), jvm_gc_s(sc)
            reset_peak_rss(jvm_pid)
            wall, out, check = attempt(rep_id, ref)
            jvm_mb, py_mb = peak_rss_mb(jvm_pid)
            reps.append({"rep": rep_id, "wall_s": wall,
                         "traced": tr.enabled,
                         "cpu_s": tree_cpu_s(jvm_pid) - c0,
                         "steal_s": host_steal_s() - s0,
                         "jvm_gc_s": jvm_gc_s(sc) - g0,
                         "load1m": os.getloadavg()[0],
                         "jvm_rss_mb": jvm_mb, "py_rss_mb": py_mb})
            ok = ledger.record(rep_id, lambda: check()[0])
            if tr.enabled and out is not None:
                traced.append(rep_id)
                c = wl.layer_counts(out)
                if wl.facts is not None:
                    # decode alone, outside the rep: inside it the
                    # facts are lazy and decode runs in aggregate
                    with tr.layer("codecs", rep_id):
                        c["codecs.rows"] = tiles_to_pixels(
                            wl.facts, wl.grid).count()
                counts.append(c)
            tr.enabled = False
            reps[-1]["ok"] = ok
            if out is not None:
                wl.release(out)
            del out
            gc.collect()

        walls = [r["wall_s"] for r in reps if not r["traced"]]
        if args.trace:
            metrics, stages = _layer_metrics(tr, sc, traced, counts)
            metrics.update({
                "session.start_s": session_s,
                "proc.cpu_s": _median([r["cpu_s"] for r in reps]),
                "proc.jvm_rss_mb": max(r["jvm_rss_mb"] for r in reps),
                "proc.py_rss_mb": max(r["py_rss_mb"] for r in reps),
                "proc.load1m": _median([r["load1m"] for r in reps]),
                "trace.overhead_s": _median([r["wall_s"] for r in reps
                                             if r["traced"]]) - _median(walls),
            })
            os.makedirs(os.path.join(ROOT, ".perfbench_traces"),
                        exist_ok=True)
            path = os.path.join(ROOT, ".perfbench_traces",
                                f"{args.workload}-seed{args.seed}-"
                                f"{os.getpid()}.json")
            with open(path, "w") as f:
                json.dump({"env": env, "spans": tr.spans, "stages": stages,
                           "reps": reps}, f)
            print(f"trace written to {path}", file=sys.stderr)
        else:
            metrics = {"setup_s": setup_s, "job_s": _median(walls),
                       "peak_rss_mb": max(r["jvm_rss_mb"] + r["py_rss_mb"]
                                          for r in reps)}
    finally:
        _shutdown(spark, jvm_pid)

    correct = not warm_problems and ledger.failed == 0
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "env": env, "warm_problems": warm_problems,
        "setup_parts_s": {"session": session_s, "staging": stage_s,
                          "warm_rep": warm_wall},
        "reps": reps, "job_s_samples": len(walls),
        "error_rate": {"value": ledger.error_rate, "unit": "share"},
        "errors": ledger.errors}))
    print(json.dumps({
        "correct": correct, "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {k: {"value": v, "unit": _unit(k)}
                    for k, v in metrics.items()}}))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("zonal_build", "zonal_reuse", "knn_centers"))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=3.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "xagg_spark", "__init__.py")):
        print(f"no xagg_spark package under {ROOT}: run from the root of a "
              "checkout of the engine", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    nproc = len(os.sched_getaffinity(0))
    workdir = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    inherited = _configure_env(workdir, nproc)
    try:
        return run(args, workdir, nproc, inherited)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
