"""Benchmark entry point: ``python3 perfbench/run.py --workload W --seed N
--seconds S --trace 0|1``, run from the repository root.

Each run generates its input tables from a fixed seed, launches every Spark
process in a fresh ``worker.py`` with its own ``TMPDIR``,
``SPARK_LOCAL_DIRS`` and ``SPARK_CONF_DIR`` under ``.perfbench-run/``,
deletes them afterwards, and prints one JSON line as the last line of
standard output: ``{"correct", "attempted", "failed", "metrics"}``.

- ``--trace 0`` runs one measured process and reports the end-to-end
  metrics; ``setup_s`` is that process's one cold set-up.
- ``--trace 1`` runs the measured process untraced, then replays the same
  queries traced, and reports the per-layer metrics.

Every query is checked against the row count committed in ``expected.json``;
a query that raises or returns another count is failed. The workloads, the
queries each run times and the metrics are described in
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import fixtures  # noqa: E402
from workloads import MODULES  # noqa: E402

SF = 0.1
EXPECTED = os.path.join(HERE, "expected.json")
DEADLINE_S = 150  # whole run, all processes included
LAYERS = sorted(m.rsplit(".", 1)[-1] for mods in MODULES.values() for m in mods)
LAYER_METRICS = ("build_s", "plan_s", "exec_s", "build_jobs", "exec_jobs", "tasks")


class RunFailed(RuntimeError):
    pass


def _group_alive(pgid: int) -> bool:
    """True while any non-zombie process is left in process group ``pgid``."""
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z" and int(fields[2]) == pgid:
            return True
    return False


class Run:
    """The processes and scratch directories of one benchmark run."""

    def __init__(self, root: str, deadline: float = float("inf")):
        self.root = root
        self.deadline = deadline
        os.makedirs(os.path.join(root, ".perfbench-run"), exist_ok=True)
        self.dir = tempfile.mkdtemp(prefix="run-", dir=os.path.join(root, ".perfbench-run"))
        self.sf_dir = os.path.join(self.dir, "data")
        self.n = 0

    def close(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)

    def worker(self, spec: dict, trace: bool = False) -> dict:
        """Run ``worker.py`` in a fresh process and return its output."""
        self.n += 1
        wdir = os.path.join(self.dir, f"w{self.n}")
        env = dict(os.environ)
        env.update(
            TMPDIR=os.path.join(wdir, "tmp"),
            SPARK_LOCAL_DIRS=os.path.join(wdir, "local"),
            SPARK_CONF_DIR=os.path.join(wdir, "conf"),
            PYTHONPATH=os.pathsep.join(filter(None, [self.root, env.get("PYTHONPATH")])),
            SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        )
        for key in ("TMPDIR", "SPARK_LOCAL_DIRS", "SPARK_CONF_DIR"):
            os.makedirs(env[key])
        spec = dict(spec, sf_dir=self.sf_dir, trace=trace)
        # java.io.tmpdir keeps the JVM's temp dirs and extracted native
        # libraries inside the run's directory too.
        conf = f"spark.ui.showConsoleProgress false\nspark.driver.extraJavaOptions -Djava.io.tmpdir={env['TMPDIR']}\n"
        if trace:
            spec["eventlog_dir"] = os.path.join(wdir, "eventlog")
            os.makedirs(spec["eventlog_dir"])
            conf += (
                "spark.eventLog.enabled true\n"
                f"spark.eventLog.dir file://{spec['eventlog_dir']}\n"
                "spark.eventLog.compress false\n"
                "spark.eventLog.rolling.enabled false\n"
            )
        with open(os.path.join(env["SPARK_CONF_DIR"], "spark-defaults.conf"), "w") as f:
            f.write(conf)
        spec_path, out_path = os.path.join(wdir, "spec.json"), os.path.join(wdir, "out.json")
        spec["launched_at"] = time.time()
        with open(spec_path, "w") as f:
            json.dump(spec, f)
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), spec_path, out_path],
            cwd=wdir,
            env=env,
            stdout=sys.stderr,
            start_new_session=True,
        )
        code = None  # also when SIGTERM interrupts the wait
        try:
            code = proc.wait(timeout=max(1.0, self.deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            # After a normal exit the JVM is still shutting down; let it finish
            # so its shutdown hooks delete what it created.
            self._stop_group(proc.pid, grace=0 if code is None else 15)
        if code != 0:
            raise RunFailed(f"worker {'timed out' if code is None else f'exited {code}'}")
        with open(out_path) as f:
            out = json.load(f)
        shutil.rmtree(wdir, ignore_errors=True)
        return out

    @staticmethod
    def _stop_group(pgid: int, grace: float) -> None:
        """Wait up to ``grace`` seconds for process group ``pgid`` to end,
        then kill what is left and wait for it."""
        for sig, wait_s in ((None, grace), (signal.SIGKILL, 10)):
            if sig is not None:
                try:
                    os.killpg(pgid, sig)
                except ProcessLookupError:
                    return
            stop = time.monotonic() + wait_s
            while _group_alive(pgid):
                if time.monotonic() > stop:
                    break
                time.sleep(0.05)
            else:
                return


def check_rows(records: list[dict], expected: dict[str, int]) -> int:
    """Mark each record ``ok`` when it ran and returned the expected row
    count; return the number of failures."""
    for rec in records:
        rec["ok"] = rec["error"] is None and rec["rows"] == expected.get(rec["name"])
    return sum(not rec["ok"] for rec in records)


def hd_quantile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: a Beta-weighted mean of
    all order statistics. It moves less between runs than one order
    statistic does when a run times a few dozen queries."""
    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    t = np.linspace(0.0, 1.0, 100_001)
    mid = (t[1:] + t[:-1]) / 2
    log_pdf = (a - 1) * np.log(mid) + (b - 1) * np.log1p(-mid)
    pdf = np.exp(log_pdf - log_pdf.max())
    cdf = np.concatenate(([0.0], np.cumsum(pdf)))
    edges = np.interp(np.arange(n + 1) / n, t, cdf / cdf[-1])
    return float(np.dot(np.diff(edges), x))


def total(records: list[dict], key) -> float:
    return sum(key(rec) for rec in records)


def end_to_end(main: dict) -> dict:
    q = main["queries"]
    times = [rec["total_s"] for rec in q]
    return {
        "setup_s": (main["setup_s"], "s"),
        "total_s": (sum(times), "s"),
        "query_p50_s": (hd_quantile(times, 0.5), "s"),
        "query_p80_s": (hd_quantile(times, 0.8), "s"),
        "ok_frac": (total(q, lambda r: r["ok"]) / len(q), "ratio"),
        "disk_write_mb": (total(q, lambda r: r["write_bytes"]) / 1e6, "MB"),
    }


def per_layer(traced: dict, plain: dict) -> dict:
    q = traced["queries"]
    out = {}
    for layer in LAYERS:
        mine = [rec for rec in q if rec["layer"] == layer]
        for metric in LAYER_METRICS:
            unit = "s" if metric.endswith("_s") else "count"
            if metric == "exec_jobs":  # jobs the forced planning launches count as execution
                out[f"{metric}.{layer}"] = (total(mine, lambda r: r["plan_jobs"] + r["exec_jobs"]), unit)
            else:
                out[f"{metric}.{layer}"] = (total(mine, lambda r, m=metric: r[m]), unit)
    out.update(
        {
            "session.get_spark_s": (traced["get_spark_s"], "s"),
            "io.cache_tables_s": (traced["cache_tables_s"], "s"),
            "eager_builders": (total(q, lambda r: r["build_jobs"] > 0), "count"),
            "gc_s": (total(q, lambda r: r["gc_s"]), "s"),
            "peak_rss_mb": (traced["peak_rss_mb"], "MB"),
            "shuffle_write_mb": (total(q, lambda r: r["shuffle_write_bytes"]) / 1e6, "MB"),
            "spill_mb": (total(q, lambda r: r["disk_spill_bytes"]) / 1e6, "MB"),
            "task_cpu_s": (total(q, lambda r: r["task_cpu_s"]), "s"),
            "failed_tasks": (total(q, lambda r: r["failed_tasks"]), "count"),
            "trace_overhead_s": (total(q, lambda r: r["total_s"]) - total(plain["queries"], lambda r: r["total_s"]), "s"),
        }
    )
    return out


def run(root: str, workload: str, seconds: int, trace: bool, sf: float = SF, expected_path: str = EXPECTED) -> dict:
    with open(expected_path) as f:
        expected = json.load(f)
    rows = expected["rows"][str(sf)]
    r = Run(root, time.monotonic() + DEADLINE_S)
    try:
        fixtures.write(r.sf_dir, sf)
        spec = {"workload": workload, "seconds": seconds}
        if trace:
            plain = r.worker(spec)
            traced = r.worker(dict(spec, names=[rec["name"] for rec in plain["queries"]]), trace=True)
            runs = [plain, traced]
        else:
            main = r.worker(spec)
            runs = [main]
    finally:
        r.close()
    failed = attempted = 0
    for out in runs:
        failed += check_rows(out["queries"], rows)
        attempted += len(out["queries"])
    if trace:
        metrics = per_layer(traced, plain)
    else:
        metrics = end_to_end(main)
    for out in runs:
        for rec in out["queries"]:
            status = "ok" if rec["ok"] else f"FAILED rows={rec['rows']} expected={rows.get(rec['name'])} {rec['error'] or ''}"
            print(f"# {rec['name']}: {rec['total_s']:.3f}s {status}", file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": value, "unit": unit} for name, (value, unit) in metrics.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(MODULES))
    # The tables come from a fixed seed and the queries run in a fixed order
    # (see workloads.pick), so every seed gives the same inputs.
    ap.add_argument("--seed", type=int, default=0, help="accepted; does not change the run")
    ap.add_argument("--seconds", type=int, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # Turn SIGTERM into SystemExit so the finally blocks stop the workers and
    # delete the run's directories.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "rvi_big_data_api_spark", "__init__.py")):
        print("perfbench: run from the repository root (rvi_big_data_api_spark/ not found)", file=sys.stderr)
        return 2
    try:
        result = run(root, args.workload, args.seconds, bool(args.trace))
    except RunFailed as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
