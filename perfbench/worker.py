"""One benchmark process: set up a session, time queries, report raw records.

Usage: ``python3 perfbench/worker.py <spec.json> <out.json>``. ``run.py``
launches it in a fresh process per measured run, with its own ``TMPDIR`` and
``SPARK_LOCAL_DIRS``, and turns the records into metrics.

The engine is driven only through its public calls: ``session.get_spark``,
``io.load``, ``queries()[name](spark, sf_dir)`` and the returned DataFrame.
Each query is split at the engine boundary:

- build: the builder call, including any Spark jobs it runs before it
  returns a DataFrame (eager builders, memos, streaming queries);
- plan: ``queryExecution().executedPlan()``, forced on its own only when
  tracing;
- exec: ``queryExecution().toRdd().count()``. This computes every row and
  column of the result without shipping rows to the driver. ``df.count()``
  would let Catalyst prune the columns and sorts a count does not need.

With tracing on, each phase runs under the job group ``<name>:<phase>`` and
Spark writes an event log (enabled by the ``SPARK_CONF_DIR`` that ``run.py``
provides), from which jobs, tasks, task CPU, shuffle and spill are
attributed to query phases.
"""

from __future__ import annotations

import glob
import json
import os
import resource
import sys
import time
import traceback

from workloads import layer_of, members, pick

WARMUP_QUERY = "agg_pricing_summary"
WARMUP_ROUNDS = 2
PHASES = ("build", "plan", "exec")


def _write_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/io") as f:
        for line in f:
            if line.startswith("write_bytes:"):
                return int(line.split()[1])
    raise RuntimeError(f"/proc/{pid}/io has no write_bytes")


def _peak_rss_mb(pid: int) -> float:
    """Peak resident memory of the JVM plus this Python driver, in MB."""
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024


def _gc_ms(spark) -> int:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans)


class Runner:
    """Times queries on one session, optionally tagging each phase."""

    def __init__(self, spark, sf_dir: str, trace: bool):
        self.spark = spark
        self.sf_dir = sf_dir
        self.trace = trace
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    def _phase(self, name: str, phase: str) -> None:
        if self.trace:
            self.spark.sparkContext.setJobGroup(f"{name}:{phase}", name)

    def run(self, name: str) -> dict:
        import rvi_big_data_api_spark as engine

        rec: dict = {"name": name, "layer": layer_of(name), "rows": None, "error": None}
        gc0 = _gc_ms(self.spark) if self.trace else 0
        w0 = _write_bytes(self.jvm_pid)
        t0, e0 = time.perf_counter(), time.time()
        marks = [(t0, e0)]
        try:
            self._phase(name, "build")
            qe = engine.queries()[name](self.spark, self.sf_dir)._jdf.queryExecution()
            marks.append((time.perf_counter(), time.time()))
            if self.trace:
                self._phase(name, "plan")
                qe.executedPlan()
            marks.append((time.perf_counter(), time.time()))
            self._phase(name, "exec")
            rec["rows"] = int(qe.toRdd().count())
        except Exception as exc:  # one failing query must not end the run
            traceback.print_exc(file=sys.stderr)
            rec["error"] = f"{type(exc).__name__}: {str(exc).splitlines()[0] if str(exc) else ''}"[:300]
        marks.append((time.perf_counter(), time.time()))
        if self.trace:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        rec["total_s"] = marks[-1][0] - t0
        rec["write_bytes"] = _write_bytes(self.jvm_pid) - w0
        # A failed query has fewer marks; its last segment ends at the failure.
        spans = list(zip(PHASES, marks, marks[1:]))
        for phase in PHASES:
            rec[f"{phase}_s"] = 0.0
        for phase, (a, _), (b, _) in spans:
            rec[f"{phase}_s"] = b - a
        rec["windows_ms"] = [[phase, ea * 1000, eb * 1000] for phase, (_, ea), (_, eb) in spans]
        if self.trace:
            rec["gc_s"] = (_gc_ms(self.spark) - gc0) / 1000
        return rec


def setup(sf_dir: str) -> tuple[object, dict]:
    """Session, cached base tables and warmup: everything before the first
    timed query. The steps are timed from the start of this call, which comes
    before any pyspark import."""
    t0 = time.perf_counter()
    import rvi_big_data_api_spark as engine
    from rvi_big_data_api_spark.io import load
    from rvi_big_data_api_spark.schemas import TABLES

    t1 = time.perf_counter()
    spark = engine.get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t2 = time.perf_counter()
    for t in TABLES:
        load(spark, sf_dir, t).cache().count()
    t3 = time.perf_counter()
    warm = Runner(spark, sf_dir, trace=False)
    for _ in range(WARMUP_ROUNDS):
        rec = warm.run(WARMUP_QUERY)
        if rec["error"]:
            raise RuntimeError(f"warmup query failed: {rec['error']}")
    t4 = time.perf_counter()
    return spark, {
        "import_s": t1 - t0,
        "get_spark_s": t2 - t1,
        "cache_tables_s": t3 - t2,
        "warmup_s": t4 - t3,
    }


def attribute_eventlog(path: str, records: list[dict]) -> None:
    """Attribute the jobs and tasks of a Spark event log to query phases, in
    place on ``records``.

    A job whose group is ``<name>:<phase>`` belongs to that phase. Any other
    job (streaming micro-batches run under each stream's own group) belongs
    to the phase whose wall-clock window contains its submission time. Jobs
    outside every window (set-up, warmup) are ignored. Tasks, task CPU,
    shuffle writes, disk spill and failed tasks follow their stage's job."""
    by_name = {rec["name"]: rec for rec in records}
    windows = [(lo, hi, rec["name"], phase) for rec in records for phase, lo, hi in rec["windows_ms"]]
    for rec in records:
        rec.update({f"{p}_jobs": 0 for p in PHASES})
        rec.update(tasks=0, task_cpu_s=0.0, shuffle_write_bytes=0, disk_spill_bytes=0, failed_tasks=0)
    stage_owner: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                name, _, phase = group.rpartition(":")
                if name not in by_name or phase not in PHASES:
                    at = ev["Submission Time"]
                    name, phase = next(((n, p) for lo, hi, n, p in windows if lo <= at <= hi), (None, None))
                if name is None:
                    continue
                by_name[name][f"{phase}_jobs"] += 1
                for stage in ev.get("Stage IDs", []):
                    stage_owner.setdefault(stage, by_name[name])
            elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_owner:
                rec = stage_owner[ev["Stage ID"]]
                m = ev.get("Task Metrics") or {}
                rec["tasks"] += 1
                rec["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                rec["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                rec["disk_spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                rec["failed_tasks"] += (ev.get("Task End Reason") or {}).get("Reason") != "Success"


def main(spec_path: str, out_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    spark, out = setup(spec["sf_dir"])
    # From the launch of this process, so the interpreter start counts too.
    out["setup_s"] = time.time() - spec["launched_at"]
    names = spec.get("names") or pick(spec["workload"], spec["seconds"])
    stale = sorted(set(names) - set().union(*members().values()))
    if stale:
        raise LookupError(f"pinned queries {stale} are not registered; re-pin with record.py --pin")
    runner = Runner(spark, spec["sf_dir"], spec["trace"])
    out["queries"] = [runner.run(name) for name in names]
    out["peak_rss_mb"] = _peak_rss_mb(runner.jvm_pid)
    spark.stop()  # flushes the event log
    if spec["trace"]:
        (log,) = glob.glob(os.path.join(spec["eventlog_dir"], "*"))
        attribute_eventlog(log, out["queries"])
    with open(out_path, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
