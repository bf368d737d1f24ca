"""Engine benchmark: one command runs one workload and prints its metrics.

    python3 enginebench/run.py --workload image_tile_knn --seed 1 \\
        --seconds 10 --trace 0

Run it from the root of a checkout.  The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
``--trace 0`` reports the end-to-end metrics (``END_TO_END``),
``--trace 1`` the per-layer metrics (``PER_LAYER``); README.md lists both.
``--tiny`` shrinks every input; ``--workload all --tiny`` runs every
workload once, with its checks, in one session in under a minute.

Each run builds its inputs from ``--seed`` (cached by seed and size under
``.enginebench_cache/``), sets up once in a fresh JVM (``setup_s``; its
median is taken across runs), warms up with the job for ``--seconds``,
then repeats the timed job for ``--seconds`` (at least ``MIN_REPS``
times) at ``local[nproc]`` in that same first SparkContext and reports
median times.  Only generated tables reach the engine.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_REPS = 3
TRACED_WARM_S = 5.0  # untimed jobs before each level's one timed job in the traced run
CHILD_TIMEOUT_S = 150

END_TO_END = {  # name → unit
    "setup_s": "s", "wall_s": "s", "rows_per_s": "rows/s",
}
LAYERS = ("session", "kernels.codec", "kernels.tiles", "kernels.geometry",
          "operators.spatial_join", "operators.fused", "raster.images",
          "plans.snapshot", "spark")
PER_LAYER = {  # name → unit
    "session.start_s": "s",
    "kernels.codec.decode_us_per_img": "us",
    "kernels.codec.encode_png_us_per_img": "us",
    "kernels.tiles.wgs2tile_ns_per_pt": "ns",
    "kernels.geometry.from_wkt_us_per_poly": "us",
    "kernels.geometry.point_in_geo_us_per_call": "us",
    "operators.spatial_join.knn_search_us_per_pt": "us",
    "operators.spatial_join.knn_build_s": "s",
    "operators.spatial_join.pip_join_s": "s",
    "operators.spatial_join.pip_candidates_per_point": "count",
    "operators.spatial_join.pip_match_ratio": "ratio",
    "operators.spatial_join.knn_grid_s": "s",
    "operators.spatial_join.knn_grid_jobs": "count",
    "operators.fused.action_s": "s",
    "operators.fused.python_bytes_sent_per_row": "bytes",
    "operators.fused.python_rows_returned_per_row": "count",
    "raster.images.resize_stage_s": "s",
    "raster.images.dhash_stage_s": "s",
    "plans.snapshot.commit_s": "s",
    "plans.snapshot.resume_s": "s",
    "plans.snapshot.commit_overhead_s": "s",
    "plans.snapshot.bytes_written_per_input_byte": "ratio",
    "plans.snapshot.files_per_snapshot": "count",
    "plans.snapshot.resume_read_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.core_busy_frac": "ratio",
    "spark.jvm_gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.task_skew": "ratio",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.python_bytes_sent": "bytes",
    "spark.python_bytes_received": "bytes",
    "scaling.rows_per_s": "rows/s",
    "scaling.rows_per_s_half": "rows/s",
    "scaling.scaling_eff": "ratio",
    "trace.overhead_s": "s",
    "bench.failed_frac": "ratio",
    "peak_rss_mb": "MB",
    **{f"{layer}.self_s": "s" for layer in LAYERS},
}


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def make_run_dir() -> str:
    """This process's scratch directory (Spark local dirs, temp files,
    event log, snapshot stores) under the cache; directories left by
    processes that no longer exist are removed first."""
    import shutil

    from enginebench import inputs as I

    base = I.cache_dir(ROOT)
    os.makedirs(base, exist_ok=True)
    I.prune(ROOT)
    for name in os.listdir(base):
        if name.startswith("run-") and not os.path.exists(f"/proc/{name[4:]}"):
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)
    path = os.path.join(base, f"run-{os.getpid()}")
    os.makedirs(os.path.join(path, "tmp"))
    return path


def spark_conf() -> dict:
    """Session settings of every benchmark session, on top of the
    engine's own (its driver heap included).  The JVM keeps its temporary
    files in this run's directory and writes no perf-data file to /tmp."""
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}",
    }


def engine_env(run_dir: str) -> None:
    """Point the engine, Spark and its Python workers at this checkout and
    keep every file they write inside it."""
    tmp = os.path.join(run_dir, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp


def start_session(ctx, wl, master: str, conf: dict, warm_up: bool = True
                  ) -> tuple[float, float]:
    """One set-up: session start, dimension load-and-pin, warm-up of the
    full chain on a tiny table.  Returns (set-up s, session start s)."""
    from xutil_spark.session import get_session

    tr = ctx.tr
    t0 = time.perf_counter()
    with tr.span("setup"):
        with tr.span("session.get_session", "session"):
            spark = get_session(master=master, app_name=f"enginebench-{wl.name}",
                                extra_conf={**spark_conf(), **conf})
        start_s = time.perf_counter() - t0
        ctx.begin(spark)
        with tr.span("load_dims"):
            wl.load_dims()
        if warm_up:
            with tr.span("warm_up"):
                wl.warm_up()
    return time.perf_counter() - t0, start_s


def timed_loop(ctx, wl, seconds: float, min_reps: int = MIN_REPS, out=None
               ) -> tuple[list[float], object, list[str]]:
    """Repeat the job untimed for ``seconds`` (at least once), then timed
    for ``seconds`` and at least ``min_reps`` times.  Returns (walls, last
    output, job groups of the last rep); afterwards ``ctx.groups`` holds
    the job groups of every rep.  Given ``out``, the output of a job just
    run in this session, the untimed phase is skipped.

    The first full-size jobs of a session are still warming the JIT and
    the Python workers (the first measured 20-40% slower, and walls kept
    falling for about 5 s of jobs), which the tiny warm-up of the set-up
    does not finish."""
    if out is None:
        t_end = time.perf_counter() + seconds
        while out is None or time.perf_counter() < t_end:
            wl.cleanup(out)
            with ctx.tr.span("warm_job"):
                out = wl.job()
    groups = list(ctx.groups)
    walls = []
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or len(walls) < min_reps:
        wl.cleanup(out)
        ctx.groups = []
        with ctx.tr.span("timed_job"):
            t0 = time.perf_counter()
            out = wl.job()
            walls.append(time.perf_counter() - t0)
        last = ctx.groups
        groups += last
    ctx.groups = groups
    return walls, out, last


def stop_jvm() -> None:
    """Stop the active SparkContext, if any, and the JVM this process
    launched, and wait for the JVM and its Python workers to exit."""
    from pyspark import SparkContext

    from enginebench.procs import end_descendants

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    end_descendants()  # the JVM's Python daemon and workers


def _exit_on_signal(signum, _frame) -> None:
    """Turn a termination signal into SystemExit, so ``main`` still stops
    the JVM and waits for every process below it."""
    raise SystemExit(128 + signum)


def half_level(args) -> dict:
    """The untraced job in a child process with its own JVM at
    local[nproc/2], pinned with taskset to the first nproc/2 CPUs of this
    process's affinity set."""
    from enginebench.procs import child_env

    cpus = sorted(os.sched_getaffinity(0))[: max(nproc() // 2, 1)]
    cmd = ["taskset", "-c", ",".join(map(str, cpus)),
           sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", "0", "--trace", "0",
           "--role", "child"] + (["--tiny"] if args.tiny else [])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT,
                            env=child_env())
    try:
        stdout, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        raise
    if proc.returncode != 0:
        raise RuntimeError(f"child run exited with {proc.returncode}")
    return json.loads(stdout.strip().splitlines()[-1])


def eventlog_conf(run_dir: str) -> dict:
    """Session settings that write the Spark event log to ``run_dir``."""
    ev_dir = os.path.join(run_dir, "eventlog")
    os.makedirs(ev_dir, exist_ok=True)
    return {"spark.eventLog.enabled": "true", "spark.eventLog.dir": ev_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"}


def run_child_role(args, run_dir: str) -> dict:
    """Body of the half-level child of the traced run: session (with the
    event log on, as in the traced process) and dimensions at
    local[nproc] of its affinity set, warm jobs for ``TRACED_WARM_S``,
    one timed job (the traced run must stay short)."""
    from enginebench import inputs as I
    from enginebench.trace import Tracer
    from enginebench.workloads import WORKLOADS, Ctx

    ctx = Ctx(ROOT, run_dir, args.seed, args.tiny, Tracer(False))
    wl = WORKLOADS[args.workload](ctx)
    I.preread(wl.prepare())
    start_session(ctx, wl, f"local[{nproc()}]", eventlog_conf(run_dir), warm_up=False)
    walls, out, _ = timed_loop(ctx, wl, TRACED_WARM_S, 1)
    wl.cleanup(out)
    attempted, failed = ctx.spark_failures()
    stop_jvm()
    return {"wall_s": walls[-1], "rows_per_s": wl.rows / walls[-1],
            "attempted": attempted, "failed": failed}


def run_untraced(args, run_dir: str) -> dict:
    from enginebench import inputs as I
    from enginebench.trace import Tracer
    from enginebench.workloads import WORKLOADS, Ctx

    ctx = Ctx(ROOT, run_dir, args.seed, args.tiny, Tracer(False))
    wl = WORKLOADS[args.workload](ctx)
    I.preread(wl.prepare())
    setup_s = start_session(ctx, wl, f"local[{nproc()}]", {})[0]
    walls, out, _ = timed_loop(ctx, wl, args.seconds)
    attempted, failed = ctx.spark_failures()
    fails = wl.check(out)
    wl.cleanup(out)
    stop_jvm()
    wall = statistics.median(walls)
    log(f"{wl.name}: walls {[round(w, 3) for w in walls]} setup {setup_s:.3f} "
        f"checks failed {fails}")
    metrics = {
        "setup_s": setup_s,
        "wall_s": wall,
        "rows_per_s": wl.rows / wall,
    }
    return result(metrics, END_TO_END, wl, fails, attempted, failed)


def run_traced(args, run_dir: str) -> dict:
    """The per-layer run.  Inside one workload span: inputs; a session
    with the Spark event log on (this process's first, so it launches the
    JVM), a warm job and a timed job with spans on; extra layer calls,
    checks, the other workloads' jobs on tiny inputs (their layers) and
    kernel microbenches.  Warm jobs for ``TRACED_WARM_S`` and one timed
    job before the traced one run with spans off: that job is the
    tracing-overhead baseline and the local[nproc] level.  Then, with
    that JVM stopped, a child process with its own JVM, pinned to half the
    CPUs, runs warm jobs and a timed job the same way: the
    half-parallelism level.  One timed job per level, and warm jobs in
    place of the set-up's tiny warm-up, keep it within the run time
    limit; ``--seconds`` is not used."""
    from enginebench import inputs as I
    from enginebench import microbench
    from enginebench.trace import EventLog, RssSampler, Tracer
    from enginebench.workloads import WORKLOADS, Ctx

    tr = Tracer(True)
    ctx = Ctx(ROOT, run_dir, args.seed, args.tiny, tr)
    wl = WORKLOADS[args.workload](ctx)
    master = f"local[{nproc()}]"
    ev_conf = eventlog_conf(run_dir)
    pl: dict[str, float] = {}
    probes = []
    with tr.span(f"workload {wl.name}") as top:
        with tr.span("inputs") as sp:
            t0 = time.perf_counter()
            sp.attrs["bytes_preread"] = I.preread(wl.prepare())
            sp.attrs["seconds"] = time.perf_counter() - t0

        with RssSampler() as rss:
            _setup_s, pl["session.start_s"] = start_session(ctx, wl, master, ev_conf,
                                                            warm_up=False)
            tr.enabled = False
            base_walls, out, _ = timed_loop(ctx, wl, TRACED_WARM_S, 1)
            tr.enabled = True
            groups = ctx.groups
            walls, out, last_groups = timed_loop(ctx, wl, 0, 1, out=out)
            ctx.groups = groups + ctx.groups
        pl["peak_rss_mb"] = rss.peak_mb
        attempted, failed = ctx.spark_failures()
        pl.update(wl.layer_calls())
        with tr.span("check"):
            fails = wl.check(out)
        for other in WORKLOADS.values():
            if other is not type(wl):
                p = other(Ctx(ROOT, run_dir, args.seed, True, tr))
                with tr.span(f"probe {p.name}"):
                    I.preread(p.prepare())
                    p.ctx.begin(ctx.spark)
                    p.load_dims()
                    pout = p.job()
                    probes.append((p, pout, p.layer_calls()))
        pl.update(microbench.run(tr, wl.p_sample, _locations(wl), ctx.path("tiles"),
                                 ctx.path("refs", 2000)))
        stop_jvm()
        with tr.span("half level"):
            half = half_level(args)
    attempted += half["attempted"]
    failed += half["failed"]

    ev = EventLog(ev_conf["spark.eventLog.dir"])
    for p, pout, calls in probes:
        for k, v in {**calls, **p.layer_metrics(pout, ev)}.items():
            pl.setdefault(k, v)
        p.cleanup(pout)
    pl.update(wl.layer_metrics(out, ev))
    wl.cleanup(out)
    pl.update(spark_metrics(ev.sums(set(last_groups)), walls[-1]))
    pl["trace.overhead_s"] = walls[-1] - base_walls[-1]
    pl["scaling.rows_per_s"] = wl.rows / base_walls[-1]
    pl["scaling.rows_per_s_half"] = half["rows_per_s"]
    pl["scaling.scaling_eff"] = pl["scaling.rows_per_s"] / (2 * half["rows_per_s"])
    pl["bench.failed_frac"] = (failed + len(fails)) / (attempted + len(wl.checks))
    _stage_spans(tr, ev)
    self_s = tr.self_times()
    for layer in LAYERS:
        pl[f"{layer}.self_s"] = self_s.get(layer, 0.0)
    path = os.path.join(I.cache_dir(ROOT), f"trace-{wl.name}-s{args.seed}.json")
    tr.write(path)
    log(f"trace: {len(tr.spans)} spans under '{top.name}' written to {path}")
    for layer in LAYERS:
        log(f"  self {layer:<24} {self_s.get(layer, 0.0):9.3f} s")
    log(f"  tracing overhead {pl['trace.overhead_s']:.3f} s on a {base_walls[-1]:.3f} s job")
    return result(pl, PER_LAYER, wl, fails, attempted, failed)


def run_tiny_all(args, run_dir: str) -> dict:
    """Every workload once on tiny inputs, in one session, with all its
    checks: the quick end-to-end smoke run (``--workload all --tiny``)."""
    from enginebench import inputs as I
    from enginebench.trace import Tracer
    from enginebench.workloads import WORKLOADS, Ctx
    from xutil_spark.session import get_session

    spark = get_session(master=f"local[{nproc()}]", app_name="enginebench-tiny",
                        extra_conf=spark_conf())
    metrics, fails, attempted, failed, checks = {}, [], 0, 0, 0
    for cls in WORKLOADS.values():
        ctx = Ctx(ROOT, run_dir, args.seed, True, Tracer(False))
        wl = cls(ctx)
        I.preread(wl.prepare())
        ctx.begin(spark)
        wl.load_dims()
        t0 = time.perf_counter()
        out = wl.job()
        metrics[f"{wl.name}.wall_s"] = time.perf_counter() - t0
        a, f = ctx.spark_failures()
        attempted, failed = attempted + a, failed + f
        fails += [f"{wl.name}.{c}" for c in wl.check(out)]
        checks += len(wl.checks)
        wl.cleanup(out)
    stop_jvm()
    log(f"tiny: {metrics} checks failed {fails}")
    return {"correct": not fails and failed == 0, "attempted": attempted + checks,
            "failed": failed + len(fails),
            "metrics": {k: {"value": v, "unit": "s"} for k, v in metrics.items()}}


def spark_metrics(s: dict, wall: float) -> dict:
    """The spark.* per-layer metrics from event-log sums of one job."""
    from enginebench.trace import PY_RECV, PY_SENT

    run_s = s.get("run_ms", 0.0) / 1e3
    return {
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": s.get("cpu_ns", 0.0) / 1e9,
        "spark.core_busy_frac": run_s / (wall * nproc()),
        "spark.jvm_gc_s": s.get("gc_ms", 0.0) / 1e3,
        "spark.shuffle_write_bytes": s.get("shuffle_write", 0.0),
        "spark.shuffle_read_bytes": s.get("shuffle_read", 0.0),
        "spark.spill_bytes": s.get("spill", 0.0),
        "spark.task_skew": s["task_skew"],
        "spark.tasks": s.get("tasks", 0.0),
        "spark.failed_tasks": s.get("failed_tasks", 0.0),
        "spark.python_bytes_sent": s.get(PY_SENT, 0.0),
        "spark.python_bytes_received": s.get(PY_RECV, 0.0),
    }


def _locations(wl):
    """(lon, lat) of up to 20k input rows of the workload."""
    import pyarrow.parquet as pq

    from enginebench import inputs as I

    path = getattr(wl, "p_points", None) or wl.p_images
    ph = pq.ParquetDataset(path).read(columns=["phash"]).column(0).to_numpy()[:20000]
    return I.lonlat_from_phash(ph)


def _stage_spans(tr, ev) -> None:
    """Nest the event log's jobs and stages under the call spans whose id
    is their job group."""
    span_ids = {s.id for s in tr.spans}
    job_span = {}
    for jid, job in ev.jobs.items():
        if job["group"] in span_ids and job["end"] is not None:
            job_span[jid] = tr.add(f"spark job {jid}", None, job["group"],
                                   job["start"], job["end"])
    for sid, st in ev.stages.items():
        if st["job"] in job_span and st["start"] is not None:
            tr.add(f"spark stage {sid}: {st['name'][:60]}", "spark",
                   job_span[st["job"]], st["start"], st["end"])


def result(metrics: dict, units: dict, wl, fails: list[str], attempted: int,
           failed: int) -> dict:
    """The output line: Spark jobs and tasks plus output checks, attempted
    and failed, and the metrics in ``units`` order."""
    missing = set(units) - set(metrics)
    if missing:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    return {
        "correct": not fails and failed == 0,
        "attempted": attempted + len(wl.checks),
        "failed": failed + len(fails),
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--role", choices=("main", "child"), default="main",
                    help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import xutil_spark
    except ImportError as ex:
        log(f"engine package not found in {ROOT}: {ex}")
        return 2
    if os.path.dirname(os.path.dirname(os.path.abspath(xutil_spark.__file__))) != ROOT:
        log(f"engine imported from {xutil_spark.__file__}, not from {ROOT}")
        return 2
    from enginebench.workloads import WORKLOADS

    if args.workload not in WORKLOADS and not (args.workload == "all" and args.tiny):
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}"
            " or 'all' with --tiny")
        return 2
    import shutil

    from enginebench.procs import adopt_orphans, die_with_parent, end_descendants

    for sig in (signal.SIGTERM, signal.SIGHUP, signal.SIGINT):
        signal.signal(sig, _exit_on_signal)
    die_with_parent()
    adopt_orphans()
    run_dir = make_run_dir()
    try:
        engine_env(run_dir)
        if args.workload == "all":
            out = run_tiny_all(args, run_dir)
        elif args.role == "child":
            out = run_child_role(args, run_dir)
        elif args.trace:
            out = run_traced(args, run_dir)
        else:
            out = run_untraced(args, run_dir)
    finally:
        try:
            if "pyspark" in sys.modules:
                stop_jvm()
        finally:
            end_descendants()
            shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
