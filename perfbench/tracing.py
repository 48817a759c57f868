"""Span tracing for the traced benchmark run.

Spans are recorded from the benchmark side only: ``install`` rebinds the
library's public functions (module attributes and class methods) to thin
wrappers that open a span around the original call, and ``uninstall``
puts the originals back. Each span sets a Spark job group, so the jobs
an action launches can be read back from the status store
(``statusStore().jobsList`` -> ``stageIds`` -> ``lastStageAttempt``) and
attributed to the innermost span that launched them. Jobs started under
another group (broadcast exchanges set their own) are attributed to the
innermost span whose interval contains their submission time.

Spans stay in memory and are written out when the run ends.

Per-layer metrics, per traced cycle (one request of each kind of the
workload; the report takes the median over traced cycles):

- ``calls``: times the function was entered;
- ``self_s``: span time minus the part its child spans cover;
- ``plan_s``: span time not covered by a Spark job it launched, i.e.
  driver-side plan building (the whole span for a lazy layer);
- ``jobs``, ``tasks``, ``task_s`` (summed executorRunTime),
  ``shuffle_write_mb``, ``spill_mb`` (disk), ``failed_tasks``: Spark
  work launched inside the span, child spans included;
- ``core_util``: task_s / (span time x cores).
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from dataclasses import dataclass, field

LAZY = ("calls", "plan_s")
EAGER = (
    "calls",
    "self_s",
    "jobs",
    "tasks",
    "task_s",
    "shuffle_write_mb",
    "spill_mb",
    "failed_tasks",
    "core_util",
)
EAGER_PLAN = EAGER + ("plan_s",)

#: span name -> metrics it reports. Lazy layers only build plans; their
#: execution counts toward the span whose action forces it.
SPANS = {
    "session.get_session": ("calls", "self_s"),
    # parquet schema inference runs a Spark job
    "sources.read_panel": EAGER_PLAN,
    "operators.cross_validation.train_test_split": LAZY,
    "operators.preprocessing.scale.transform": LAZY,
    "operators.preprocessing.scale.invert": LAZY,
    "forecasting.linear.linear_model.fit": EAGER_PLAN,
    "forecasting.linear.linear_model.predict": LAZY,
    "forecasting._ar.make_reduction": LAZY,
    "forecasting._ar.LinearBackend.fit": EAGER_PLAN,
    "forecasting._ar.make_y_lag": LAZY,
    "forecasting._ar.predict_recursive_linear": LAZY,
    "forecasting.ranges.make_future_ranges": LAZY,
    "operators.metrics.score_forecast": LAZY,
    "operators.metrics.summarize_scores": EAGER,
    "functions.features.extract_features": LAZY,
    "functions.features_udf.extract_features_udf": LAZY,
    "forecasting.base.Forecaster.backtest": EAGER,
    "forecasting.base.Forecaster.conformalize": EAGER,
    "materialize.materialize": EAGER,
    # the benchmark's own actions that return results to the driver
    "perfbench.collect": EAGER,
    "perfbench.collect_udf": EAGER,
}

#: whole-cycle metrics of the traced run
ITERATION = {
    "perfbench.iteration.wall_s": "s",
    "perfbench.iteration.jobs": "count",
    "perfbench.iteration.tasks": "count",
    "perfbench.iteration.task_s": "s",
    "perfbench.iteration.core_util": "ratio",
    "perfbench.iteration.scan_ratio": "ratio",
    "perfbench.iteration.ungrouped_jobs": "count",
    "perfbench.trace.overhead_s": "s",
}

#: job submission times come from the JVM in whole milliseconds
CLOCK_SLACK_S = 0.002

UNITS = {
    "calls": "count",
    "self_s": "s",
    "plan_s": "s",
    "jobs": "count",
    "tasks": "count",
    "task_s": "s",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "failed_tasks": "count",
    "core_util": "ratio",
}


def patch_points(mods) -> list:
    """(owner, attribute, span name) for every traced library call."""
    lm = mods.linear.linear_model
    return [
        (mods.sources, "read_panel", "sources.read_panel"),
        (mods.cv, "train_test_split", "operators.cross_validation.train_test_split"),
        (mods.prep.scale, "transform", "operators.preprocessing.scale.transform"),
        (mods.prep.scale, "invert", "operators.preprocessing.scale.invert"),
        (lm, "fit", "forecasting.linear.linear_model.fit"),
        (lm, "predict", "forecasting.linear.linear_model.predict"),
        (lm, "backtest", "forecasting.base.Forecaster.backtest"),
        (lm, "conformalize", "forecasting.base.Forecaster.conformalize"),
        # linear.py imports the reduction helpers by name: rebind there
        (mods.linear, "make_reduction", "forecasting._ar.make_reduction"),
        (mods.linear, "make_y_lag", "forecasting._ar.make_y_lag"),
        (
            mods.linear,
            "predict_recursive_linear",
            "forecasting._ar.predict_recursive_linear",
        ),
        (mods.ar.LinearBackend, "fit", "forecasting._ar.LinearBackend.fit"),
        # Forecaster._predict imports it from the module at call time
        (mods.ranges, "make_future_ranges", "forecasting.ranges.make_future_ranges"),
        (mods.metrics, "score_forecast", "operators.metrics.score_forecast"),
        (mods.metrics, "summarize_scores", "operators.metrics.summarize_scores"),
        (mods.features, "extract_features", "functions.features.extract_features"),
        (
            mods.features_udf,
            "extract_features_udf",
            "functions.features_udf.extract_features_udf",
        ),
        # base.py binds materialize as _materialize
        (mods.base, "_materialize", "materialize.materialize"),
    ]


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run: str
    cycle: int
    start: float
    end: float = 0.0
    jobs: list = field(default_factory=list)


@dataclass
class Job:
    id: int
    group: str | None
    submitted: float
    completed: float
    tasks: int = 0
    task_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    failed_tasks: int = 0
    span: int | None = None
    cycle: int = -1


class Tracer:
    def __init__(self, run_id: str, cores: int):
        self.run_id = run_id
        self.cores = cores
        self.spans: list[Span] = []
        self.jobs: list[Job] = []
        self.cycle = -1
        self.sc = None
        self._stack: list[int] = []
        self._saved: list = []
        self.sql_store = None
        self._last_job = -1
        self._last_exec = -1
        self._seen_stages: set = set()

    def _group(self, span_id: int) -> str:
        return f"perfbench-{self.run_id}-{span_id}"

    @contextlib.contextmanager
    def span(self, name: str):
        if name not in SPANS:
            raise KeyError(f"untraced span name {name}")
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = Span(sid, name, parent, self.run_id, self.cycle, time.time())
        self.spans.append(rec)
        self._stack.append(sid)
        if self.sc is not None:
            self.sc.setJobGroup(self._group(sid), name)
        try:
            yield
        finally:
            rec.end = time.time()
            self._stack.pop()
            if self.sc is not None:
                if self._stack:
                    outer = self._stack[-1]
                    self.sc.setJobGroup(self._group(outer), self.spans[outer].name)
                else:
                    self.sc._jsc.clearJobGroup()

    # -- rebinding ---------------------------------------------------------
    def install(self, mods) -> None:
        for owner, attr, name in patch_points(mods):
            own = attr in vars(owner)
            orig = getattr(owner, attr)
            self._saved.append((owner, attr, own, vars(owner).get(attr)))
            setattr(owner, attr, self._wrap(orig, name))

    def uninstall(self) -> None:
        for owner, attr, own, orig in reversed(self._saved):
            if own:
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)
        self._saved.clear()

    def _wrap(self, fn, name):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    # -- Spark status store ------------------------------------------------
    def _jobs_list(self):
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        return jsc.statusStore(), jsc.statusStore().jobsList(None)

    def mark(self) -> None:
        """Skip every job and SQL execution launched so far (untraced
        cycles)."""
        _store, jl = self._jobs_list()
        if jl.size():
            self._last_job = max(self._last_job, jl.apply(0).jobId())
        for ex in self._executions():
            self._last_exec = max(self._last_exec, ex.executionId())

    def _executions(self) -> list:
        el = self.sql_store.executionsList()
        return [el.apply(i) for i in range(el.size())]

    def collect_scans(self) -> int:
        """Parquet files read by the SQL executions since ``mark``: each
        executed file scan reports its ``number of files read``."""
        total = 0
        for ex in self._executions():
            eid = ex.executionId()
            if eid <= self._last_exec:
                continue
            values = self.sql_store.executionMetrics(eid)
            plan_metrics = ex.metrics()
            seen = set()
            for k in range(plan_metrics.size()):
                m = plan_metrics.apply(k)
                acc = m.accumulatorId()
                if m.name() != "number of files read" or acc in seen:
                    continue
                seen.add(acc)
                v = values.get(acc)
                if v.isDefined():
                    total += int(v.get().replace(",", ""))
            self._last_exec = max(self._last_exec, eid)
        return total

    def collect_jobs(self) -> None:
        """Read the jobs launched since ``mark`` and attribute them to
        the current cycle's spans."""
        store, jl = self._jobs_list()
        fresh = []
        for i in range(jl.size()):  # newest first
            jd = jl.apply(i)
            jid = jd.jobId()
            if jid <= self._last_job:
                break
            fresh.append(jd)
        groups = {self._group(s.id): s.id for s in self.spans}
        for jd in reversed(fresh):
            group = jd.jobGroup().get() if jd.jobGroup().isDefined() else None
            sub = jd.submissionTime()
            comp = jd.completionTime()
            job = Job(
                id=jd.jobId(),
                group=group,
                submitted=sub.get().getTime() / 1e3 if sub.isDefined() else 0.0,
                completed=comp.get().getTime() / 1e3 if comp.isDefined() else 0.0,
                cycle=self.cycle,
            )
            stage_ids = jd.stageIds()
            for k in range(stage_ids.size()):
                sid = stage_ids.apply(k)
                if sid in self._seen_stages:
                    continue  # a reused shuffle stage runs once
                self._seen_stages.add(sid)
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                job.tasks += st.numTasks()
                job.failed_tasks += st.numFailedTasks()
                job.task_s += st.executorRunTime() / 1e3
                job.shuffle_write_mb += st.shuffleWriteBytes() / 1e6
                job.spill_mb += st.diskBytesSpilled() / 1e6
            job.span = groups.get(group)
            if job.span is None:
                job.span = self._innermost_at(job.submitted)
            if job.span is not None:
                self.spans[job.span].jobs.append(job)
            self.jobs.append(job)
            self._last_job = max(self._last_job, job.id)

    def _innermost_at(self, t: float) -> int | None:
        best, depth = None, -1
        for s in self.spans:
            if s.start <= t <= s.end:
                d = self._depth(s)
                if d > depth:
                    best, depth = s.id, d
        return best

    def _depth(self, s: Span) -> int:
        d = 0
        while s.parent is not None:
            s = self.spans[s.parent]
            d += 1
        return d

    # -- per-layer numbers -------------------------------------------------
    def children(self) -> dict:
        out: dict = {s.id: [] for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                out[s.parent].append(s)
        return out

    def self_times(self) -> dict:
        """span id -> duration minus the union of its children."""
        kids = self.children()
        return {
            s.id: (s.end - s.start)
            - _covered(s.start, s.end, [(c.start, c.end) for c in kids[s.id]])
            for s in self.spans
        }

    def check_spans(self) -> list:
        """Misses in the trace itself.

        - A span left open, or the span stack not empty between
          cycles.
        - A job whose job group names a span but that was submitted
          outside that span's interval: the group leaked past the span
          (a stale local property, or a job started from another
          thread), so the attribution above would be wrong.
        - As a sanity assertion, a span whose own and its descendants'
          self times exceed its wall time. Spans come from one
          context-manager stack, so this only trips if the clock steps
          back.
        """
        misses = []
        if self._stack:
            misses.append(f"{len(self._stack)} spans still open")
        for s in self.spans:
            if s.end < s.start:
                misses.append(f"span {s.name}#{s.id}: not closed")
        by_group = {self._group(s.id): s for s in self.spans}
        for j in self.jobs:
            s = by_group.get(j.group)
            if s is not None and not (
                s.start - CLOCK_SLACK_S <= j.submitted <= s.end + CLOCK_SLACK_S
            ):
                misses.append(
                    f"job {j.id}: submitted outside its span {s.name}#{s.id}"
                )
        kids = self.children()
        selfs = self.self_times()
        for s in self.spans:
            wall = s.end - s.start
            inside = sum(selfs[c.id] for c in _subtree(kids, s))
            if selfs[s.id] < -1e-6 or inside > wall + 1e-6:
                misses.append(f"span {s.name}#{s.id}: self times exceed its wall time")
        return misses

    def span_metrics(self, cycle: int) -> dict:
        """name -> metric -> value, summed over the cycle's calls."""
        kids = self.children()
        selfs = self.self_times()
        out: dict = {}
        for s in self.spans:
            if s.cycle != cycle:
                continue
            m = out.setdefault(s.name, dict.fromkeys(UNITS, 0.0))
            m["calls"] += 1
            m["self_s"] += selfs[s.id]
            # an ancestor of the same name already counts this subtree
            if _has_ancestor_named(self.spans, s):
                continue
            wall = s.end - s.start
            jobs = [j for c in _subtree(kids, s) for j in c.jobs]
            busy = _covered(s.start, s.end, [(j.submitted, j.completed) for j in jobs])
            m["plan_s"] += wall - busy
            m["jobs"] += len(jobs)
            for key in ("tasks", "task_s", "shuffle_write_mb", "spill_mb", "failed_tasks"):
                m[key] += sum(getattr(j, key) for j in jobs)
            m["_wall"] = m.get("_wall", 0.0) + wall
        for m in out.values():
            wall = m.pop("_wall", 0.0)
            m["core_util"] = m["task_s"] / (wall * self.cores) if wall > 0 else 0.0
        return out

    def dump(self, path) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": [
                        {
                            "id": s.id,
                            "name": s.name,
                            "parent": s.parent,
                            "run": s.run,
                            "cycle": s.cycle,
                            "start": s.start,
                            "end": s.end,
                            "jobs": [j.id for j in s.jobs],
                        }
                        for s in self.spans
                    ],
                    "jobs": [vars(j) for j in self.jobs],
                },
                fh,
            )


def _subtree(kids: dict, s: Span) -> list:
    out, todo = [], [s]
    while todo:
        cur = todo.pop()
        out.append(cur)
        todo.extend(kids[cur.id])
    return out


def _has_ancestor_named(spans: list, s: Span) -> bool:
    p = s.parent
    while p is not None:
        if spans[p].name == s.name:
            return True
        p = spans[p].parent
    return False


def _covered(lo: float, hi: float, intervals: list) -> float:
    """Length of [lo, hi] covered by the union of the intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def layer_report(tracer: Tracer, traced: list, untraced_walls: list, io: dict) -> dict:
    """Median over traced cycles of every per-layer metric.

    ``traced`` holds (cycle, wall_s) pairs; ``io`` maps cycle ->
    bytes of parquet files scanned / input bytes."""
    per_iter = {it: tracer.span_metrics(it) for it, _ in traced}
    # the session is opened once, during set-up
    per_iter[-1] = tracer.span_metrics(-1)
    metrics = {}
    for name, kinds in SPANS.items():
        iters = [-1] if name == "session.get_session" else [it for it, _ in traced]
        for kind in kinds:
            vals = [per_iter[it].get(name, {}).get(kind, 0.0) for it in iters]
            metrics[f"{name}.{kind}"] = (statistics.median(vals), UNITS[kind])
    med = statistics.median
    walls = [w for _, w in traced]
    groups = {tracer._group(s.id) for s in tracer.spans}
    per_run = {name: [] for name in ITERATION}
    for it, wall in traced:
        jobs = [j for j in tracer.jobs if j.cycle == it]
        task_s = sum(j.task_s for j in jobs)
        per_run["perfbench.iteration.wall_s"].append(wall)
        per_run["perfbench.iteration.jobs"].append(len(jobs))
        per_run["perfbench.iteration.tasks"].append(sum(j.tasks for j in jobs))
        per_run["perfbench.iteration.task_s"].append(task_s)
        per_run["perfbench.iteration.core_util"].append(task_s / (wall * tracer.cores))
        per_run["perfbench.iteration.scan_ratio"].append(io[it])
        per_run["perfbench.iteration.ungrouped_jobs"].append(
            sum(j.group not in groups for j in jobs)
        )
    per_run["perfbench.trace.overhead_s"] = [med(walls) - med(untraced_walls)]
    for name, unit in ITERATION.items():
        metrics[name] = (med(per_run[name]), unit)
    return metrics


def print_table(metrics: dict, out) -> None:
    width = max(len(n) for n in metrics)
    for name in sorted(metrics):
        value, unit = metrics[name]
        print(f"{name:<{width}}  {value:18.9f} {unit}", file=out)
