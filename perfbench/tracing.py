"""Request execution and per-layer tracing, recorded from outside the
program.

Every request is a call into one public function of one engine module
(its *layer*), which returns a DataFrame that the client then collects,
or, for a write, performs the write itself. A traced request records:

* spans: `request`, its children `build` (the public call until it
  returns) and `action` (the collect), and the Catalyst phases of the
  returned frame (`analysis`, `optimization`, `planning`, read from the
  frame's QueryExecution tracker) as children of whichever of the two
  they ran in. Spans carry name, start, end, parent and request id; they
  are kept in memory and written out when the run ends.
* counts: the jobs the build fired and the jobs the action fired (one
  job group each), and for the stages of those jobs the task CPU time,
  input, shuffle-write and disk-spill bytes, from the status store.

Layer self times follow from the spans: `plan` is the sum of the phase
spans, `build` and `execute` are the build and action spans minus the
phases inside them. The request wall minus the three is the unattributed
remainder: the job-group calls between the spans and clock overhead.

A traced request also records the wall the client saw with tracing on,
from its first job-group call to the end of the span and counter reads
(the listener-bus wait and the status-store queries included); that
minus the untraced wall of the same stratum is the tracing overhead.
"""

from __future__ import annotations

import json
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Callable

MB = 1 << 20


@dataclass
class Request:
    """One client operation. `build` calls the engine's public function
    and returns the frame to collect, or None when the call is the whole
    operation (a write). `stratum` names the request's type and size
    class; a workload round holds each stratum once. `expect` is what the
    workload's check compares a read's rows with; `batch_rows` is a
    write's batch size."""
    kind: str
    module: str
    stratum: str
    build: Callable[[], object]
    expect: object = None
    is_write: bool = False
    batch_rows: int = 0


@dataclass
class Sample:
    request: Request
    wall_s: float
    ok: bool
    rows: list | None = None
    traced: bool = False
    layer: dict | None = None   # layer fields of a traced request
    layout: dict | None = None  # bucketed-layout counters of a traced write
    traced_wall_s: float | None = None  # wall including the tracing work


@dataclass
class Tracer:
    """Span and counter store of one run (see module docstring)."""
    spark: object
    spans: list = field(default_factory=list)

    def __post_init__(self):
        sc = self.spark.sparkContext
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        jvm = self.spark._jvm
        self._no_tasks = jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def set_group(self, group: str | None) -> None:
        self._sc.setLocalProperty("spark.jobGroup.id", group)

    def layer(self, rid: int, req: Request, df, e0: float, e1: float,
              e1x: float, e2: float) -> dict:
        """Spans and counters of request `rid`, read after it returned.
        e0/e1/e1x/e2 are epoch seconds at request start, build end,
        action start and action end."""
        self._jsc.listenerBus().waitUntilEmpty()
        self.spans += [
            {"rid": rid, "name": "request", "kind": req.kind,
             "module": req.module, "start": e0, "end": e2, "parent": None},
            {"rid": rid, "name": "build", "start": e0, "end": e1,
             "parent": "request"},
            {"rid": rid, "name": "action", "start": e1x, "end": e2,
             "parent": "request"}]
        plan_in = {"build": 0.0, "action": 0.0}
        if df is not None:
            it = df._jdf.queryExecution().tracker().phases().iterator()
            while it.hasNext():
                kv = it.next()
                start = kv._2().startTimeMs() / 1000.0
                end = kv._2().endTimeMs() / 1000.0
                parent = "build" if start < e1 else "action"
                plan_in[parent] += end - start
                self.spans.append({"rid": rid, "name": kv._1(), "start": start,
                                   "end": end, "parent": parent})
        rec = {"build_s": e1 - e0 - plan_in["build"],
               "plan_s": plan_in["build"] + plan_in["action"],
               "execute_s": e2 - e1x - plan_in["action"]}
        tracker = self._sc.statusTracker()
        jobs = {p: list(tracker.getJobIdsForGroup(f"pb{rid}{p}"))
                for p in ("b", "x")}
        rec["build_jobs"] = len(jobs["b"])
        rec["execute_jobs"] = len(jobs["x"])
        stages = cpu_ns = inb = shb = spb = 0
        for j in jobs["b"] + jobs["x"]:
            info = tracker.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                attempts = self._store.stageData(s, False, self._no_tasks, False,
                                                 self._no_quantiles).iterator()
                while attempts.hasNext():
                    d = attempts.next()
                    if str(d.status()) == "SKIPPED":
                        continue
                    stages += 1
                    cpu_ns += d.executorCpuTime()
                    inb += d.inputBytes()
                    shb += d.shuffleWriteBytes()
                    spb += d.diskBytesSpilled()
        rec.update(stages=stages, task_cpu_s=cpu_ns / 1e9, input_mb=inb / MB,
                   shuffle_mb=shb / MB, spill_mb=spb / MB)
        return rec

    def write_spans(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def gc_seconds(spark) -> float:
    """Total collection time of the driver JVM's garbage collectors."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def execute(req: Request, rid: int, tracer: Tracer | None,
            traced: bool) -> Sample:
    """Run one request in the closed loop and time it. Exceptions are
    the request's failure, not the run's: they are reported and counted."""
    df = None
    traced = traced and tracer is not None
    t_in = time.perf_counter()
    if traced:
        tracer.set_group(f"pb{rid}b")
    t0 = time.perf_counter()
    e0 = time.time()
    try:
        df = req.build()
        e1 = time.time()
        if traced:
            tracer.set_group(f"pb{rid}x")
        e1x = time.time()
        rows = df.collect() if df is not None else None
        e2 = time.time()
        ok = True
    except Exception:  # noqa: BLE001 - a failed request is counted, not fatal
        traceback.print_exc()
        rows, ok = None, False
    wall = time.perf_counter() - t0
    sample = Sample(req, wall, ok, rows, traced)
    if traced:
        tracer.set_group(None)
        if ok:
            sample.layer = tracer.layer(rid, req, df, e0, e1, e1x, e2)
            sample.layer["wall_s"] = wall
        # the wall the client saw with tracing: the job-group calls and
        # the span and counter reads after the request included
        sample.traced_wall_s = time.perf_counter() - t_in
    return sample


def layer_means(samples: list[Sample]) -> dict[str, dict[str, float]]:
    """Per module, the mean of each layer field over its traced requests
    (means, unlike medians, add up: build + plan + execute = wall)."""
    sums: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    counts: dict[str, int] = defaultdict(int)
    for s in samples:
        if s.layer is None:
            continue
        counts[s.request.module] += 1
        for k, v in s.layer.items():
            sums[s.request.module][k] += v
    return {m: {k: v / counts[m] for k, v in f.items()} for m, f in sums.items()}
