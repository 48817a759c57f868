"""functime_spark benchmark of record.

Run from the repository root:

    python3 perfbench/run.py --workload short_series_forecast --seed 1 --seconds 20 --trace 0

Each run generates its workload's panel from ``--seed`` with a
single-threaded numpy generator, writes it to parquet inside
``.perfbench_work/`` and starts a Spark session with the library's own
defaults (``get_session`` with only the console progress bar turned
off) on ``local[N]``, N = the CPUs this process may use. One client
sends the workload's requests in turn, in a closed loop: the next
request starts when the previous one has returned its results to the
driver. One iteration is one request; one cycle is one request of each
kind. After the timed phase every result is checked against a numpy
reference.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
untraced and traced cycles and reports the per-layer metrics (see
tracing.py). A human-readable table goes to stdout first; the last line
of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
import types
from pathlib import Path

import gen
import tracing as tr
from workloads import WORKLOADS

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
OUT = ROOT / ".perfbench_out"
#: input generation + parquet write is repeated and its median counted
GEN_REPEATS = 3
#: traced cycles a traced run times at least, for its per-layer medians
TRACED_CYCLES = 2
#: environment that would make the run measure something other than
#: the library's defaults
FORBIDDEN_ENV = ("SPARK_GRAFT_EXTRA_CONF", "SPARK_DRIVER_MEMORY")
FORBIDDEN_PREFIXES = ("SPARK_GRAFT_BENCH_", "FUNCTIME_SPARK_")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> None:
    """Keep Spark's scratch files inside the checkout, let Python
    workers import the library from it, and drop overrides."""
    for key in list(os.environ):
        if key in FORBIDDEN_ENV or key.startswith(FORBIDDEN_PREFIXES):
            del os.environ[key]
    local = WORK / "spark-local"
    tmp = WORK / "tmp"
    for d in (local, tmp):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    # no hsperfdata file under /tmp: the JVM writes it outside tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )


def import_library():
    sys.path.insert(0, str(ROOT))
    from functime_spark import session, sources
    from functime_spark.forecasting import _ar, base, linear, ranges
    from functime_spark.functions import features, features_udf
    from functime_spark.operators import cross_validation, metrics, preprocessing

    return types.SimpleNamespace(
        session=session,
        sources=sources,
        cv=cross_validation,
        prep=preprocessing,
        linear=linear,
        ar=_ar,
        base=base,
        ranges=ranges,
        metrics=metrics,
        features=features,
        features_udf=features_udf,
    )


# -- processes -------------------------------------------------------------


def _children() -> dict:
    out: dict = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        out.setdefault(ppid, []).append(int(entry))
    return out


def descendants(pid: int) -> list:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        cur = todo.pop()
        for k in kids.get(cur, []):
            out.append(k)
            todo.append(k)
    return out


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process and its descendants (the JVM and
    the Python workers), from /proc."""
    total_kb = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def cpu_seconds() -> float:
    """User + system CPU seconds of this process and its descendants
    (the JVM, the Python workers), children they reaped included."""
    ticks = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime
        ticks += sum(int(f) for f in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def stop_spark(spark) -> None:
    """Stop the session and the JVM, then wait for every child process."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    with contextlib.suppress(Exception):
        spark.stop()
    if gateway is not None:
        with contextlib.suppress(Exception):
            gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            with contextlib.suppress(Exception):
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 20
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        with contextlib.suppress(OSError):
            os.kill(pid, signal.SIGKILL)
    for pid in descendants(os.getpid()):
        with contextlib.suppress(ChildProcessError, OSError):
            os.waitpid(pid, 0)
    while descendants(os.getpid()):
        time.sleep(0.1)


# -- the run ---------------------------------------------------------------


def no_span(name):
    return contextlib.nullcontext()


def run_request(wl, kind, spark, path, mods, span):
    try:
        return wl.run(kind, spark, path, mods, span), None
    except Exception:
        return None, traceback.format_exc(limit=3)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "functime_spark" / "__init__.py").is_file():
        log(f"functime_spark not found under {ROOT}: run from a full checkout")
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    OUT.mkdir(exist_ok=True)
    prepare_env()
    mods = import_library()
    wl = WORKLOADS[args.workload]
    kinds = wl.requests
    cores = cpu_count()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    tracer = tr.Tracer(run_id, cores) if args.trace else None
    trace_span = tracer.span if tracer else no_span

    # -- setup: session, inputs, first (cold) request of each kind -------
    t0 = time.perf_counter()
    with trace_span("session.get_session"):
        spark = mods.session.get_session(
            "perfbench", extra_conf={"spark.ui.showConsoleProgress": "false"}
        )
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    if tracer:
        tracer.sc = spark.sparkContext
        tracer.sql_store = spark._jsparkSession.sharedState().statusStore()
    path = str(WORK / "input.parquet")
    try:
        gen_s = []
        for _ in range(GEN_REPEATS):
            t = time.perf_counter()
            panel = gen.make_panel(wl.shape, args.seed)
            gen.write_parquet(panel, path)
            gen_s.append(time.perf_counter() - t)
        ref = wl.reference(panel)
        results, errors = [], []
        t = time.perf_counter()
        for kind in kinds:
            res, err = run_request(wl, kind, spark, path, mods, no_span)
            if res is None:
                log(f"warm-up request {kind} failed:\n{err}")
                return 3
            results.append((kind, res))
        warm_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(gen_s) + warm_s
        log(
            f"setup {setup_s:.3f}s = session {session_s:.3f} + input "
            f"{statistics.median(gen_s):.3f} + first requests {warm_s:.3f}"
        )

        # -- timed phase ----------------------------------------------------
        # whole cycles of one request of each kind, so every run times
        # the kinds equally often. The traced run alternates untraced and
        # traced cycles, ends on an untraced one and times at least
        # TRACED_CYCLES traced ones, so a drift in request time (JIT
        # still warming) cancels out of the tracing overhead.
        walls, cpus, traced, untraced, io = [], [], [], [], {}
        t_start = time.perf_counter()
        c = 0
        while True:
            use_trace = bool(tracer) and c % 2 == 1
            if use_trace:
                tracer.cycle = c
                tracer.mark()
                tracer.install(mods)
            cycle_s = 0.0
            for kind in kinds:
                cpu0 = cpu_seconds()
                t = time.perf_counter()
                res, err = run_request(
                    wl, kind, spark, path, mods, tracer.span if use_trace else no_span
                )
                wall = time.perf_counter() - t
                cpus.append(cpu_seconds() - cpu0)
                walls.append((kind, wall))
                cycle_s += wall
                results.append((kind, res))
                if err:
                    errors.append(err)
            if use_trace:
                tracer.uninstall()
                tracer.collect_jobs()
                # the input is one parquet file, so bytes of files
                # scanned / input bytes = the number of file scans
                io[c] = float(tracer.collect_scans())
                traced.append((c, cycle_s))
            else:
                untraced.append(cycle_s)
            c += 1
            if time.perf_counter() - t_start < args.seconds:
                continue
            if tracer and (len(traced) < TRACED_CYCLES or use_trace):
                continue
            break
        rss = peak_rss_mb()
        log("requests: " + " ".join(f"{k}:{w:.3f}" for k, w in walls))
    finally:
        stop_spark(spark)

    # -- checks -------------------------------------------------------------
    failed = 0
    quality: dict = {}
    misses_seen: list = []
    for kind, res in results:
        if res is None:
            failed += 1
            continue
        misses, q = wl.check(kind, res, ref)
        quality.update(q)
        if misses:
            failed += 1
            misses_seen.extend(misses)
    trace_misses = tracer.check_spans() if tracer else []
    for msg in errors + sorted(set(misses_seen)) + trace_misses:
        log(f"MISS: {msg}")
    attempted = len(results)

    timed = sum(w for _, w in walls)
    if tracer:
        tracer.dump(OUT / f"spans-{run_id}.json")
        metrics = tr.layer_report(tracer, traced, untraced, io)
        print(
            f"# per-layer metrics, {args.workload}, per cycle "
            f"({'+'.join(kinds)}), median of {len(traced)} traced cycles"
        )
        tr.print_table(metrics, sys.stdout)
        print(
            f"# tracing overhead: {metrics['perfbench.trace.overhead_s'][0]:+.3f} s "
            f"per cycle ({len(untraced)} untraced cycles)"
        )
    else:
        metrics = {
            "iter_p50_s": (statistics.median(w for _, w in walls), "s"),
            "series_per_s": (wl.shape.n_series * len(walls) / timed, "1/s"),
            "setup_s": (setup_s, "s"),
        }
        print(f"# end-to-end metrics, {args.workload}, seed {args.seed}")
        tr.print_table(metrics, sys.stdout)
        extra = {
            "requests": (float(len(walls)), "count"),
            **{
                f"{k}_p50_s": (statistics.median(w for kk, w in walls if kk == k), "s")
                for k in kinds
            },
            "iter_cpu_p50_s": (statistics.median(cpus), "s"),
            "peak_rss_mb": (rss, "MB"),
            "failed_frac": (failed / attempted, "ratio"),
            **{k: (v, "ratio") for k, v in quality.items()},
        }
        tr.print_table(extra, sys.stdout)
    os.unlink(path)

    out = {
        "correct": failed == 0 and not trace_misses,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
