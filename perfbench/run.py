"""Benchmark entry point.

    python3 perfbench/run.py --workload medallion_batch --seed 1 --seconds 10 --trace 0

Runs one workload in this process from the root of a checkout and prints
one JSON object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` Spark's event
log is on, spans are recorded around every call into an engine layer,
and the metrics are the per-layer ones (a layer the workload does not
run reports 0). A traced run also writes its spans and figures to
``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

from ledger import EventLog, Tracer, TreeSampler

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "real_time_data_engineering_spark"

# name → unit; the end-to-end set is reported by every workload
END_TO_END = {"setup_s": "s", "stage1_s": "s", "stage2_s": "s", "peak_pss_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    units = {"session.start_s": "s",
             "operators.silver.stg_build_s": "s", "operators.silver.shuffle_write_bytes": "bytes"}
    for m in ("fct_trips", "mart_daily_revenue", "mart_hourly_demand", "mart_location_performance",
              "export_daily_revenue"):
        units[f"operators.gold.build_s.{m}"] = "s"
    for k, u in (("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("executor_run_s", "s"),
                 ("executor_cpu_s", "s"), ("gc_s", "s"), ("sched_floor_s", "s"),
                 ("output_files", "count"), ("output_bytes", "bytes")):
        units[f"plans.dag.{k}"] = u
    units.update({"checks.jobs": "count", "checks.executor_run_s": "s", "checks.sched_floor_s": "s"})
    for k, u in (("jobs_per_batch", "count"), ("main_executor_run_s", "s"), ("dlq_executor_run_s", "s"),
                 ("input_bytes_read", "bytes"), ("shuffle_write_bytes", "bytes"), ("silver_files", "count"),
                 ("bronze_files", "count"), ("gc_s", "s"), ("state_rows", "count"),
                 ("events_per_s_local1", "events/s")):
        units[f"streaming.ingest.{k}"] = u
    for q in ("q1", "q2", "q3", "q4", "d2", "d5", "d14", "d15"):
        for k, u in (("warm_s", "s"), ("cold_s", "s"), ("jobs", "count"), ("exchanges", "count"),
                     ("executor_run_s", "s"), ("shuffle_write_bytes", "bytes")):
            units[f"registry.{q}.{k}"] = u
        if q.startswith("d"):
            units[f"registry.{q}.spill_disk_bytes"] = "bytes"
    return units


def process_start_time() -> float:
    """Wall-clock time at which this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def sibling_jvms() -> list[str]:
    """Live JVMs that this process did not start."""
    mine = TreeSampler.tree_pids()
    found = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) in mine:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                argv = fh.read().split(b"\0")
        except OSError:
            continue
        if argv and os.path.basename(argv[0].decode(errors="replace")) == "java":
            found.append(pid)
    return found


def driver_mem() -> str:
    """A driver heap sized to this machine: a third of RAM, 2–6 GiB."""
    with open("/proc/meminfo") as fh:
        kib = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{max(2, min(6, kib // (8 * 1024 * 1024)))}g"


class Context:
    """What a workload needs from the run: its seed, window, scratch
    directory, tracer, and the Spark session lifecycle."""

    def __init__(self, args, work: str, t_start: float):
        self.seed, self.seconds = args.seed, args.seconds
        self.work, self.t_start = work, t_start
        self.tracer = Tracer(bool(args.trace))
        self.cores = len(os.sched_getaffinity(0))
        self.excluded_s = 0.0  # waiting for sibling JVMs, generating inputs
        self.setup_s = None
        self.session_start_s = 0.0
        self.spark = None
        self._event_dir = os.path.join(work, "eventlog")
        self._pids: set[int] = set()
        self.timeline: dict[str, float] = {}

    def mark(self, name: str) -> None:
        """Seconds since process start at a named point (reported in notes)."""
        self.timeline[name] = time.time() - self.t_start

    def start_spark(self, master: str | None = None, event_log: bool = True):
        from real_time_data_engineering_spark.session import get_spark

        conf = {"spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse")}
        if self.tracer.enabled:
            os.makedirs(self._event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": str(event_log).lower(),
                "spark.eventLog.dir": "file://" + self._event_dir,
                # plain JSON lines: the default zstd would need the
                # zstandard module to read back from Python
                "spark.eventLog.compress": "false",
            })
        t0 = time.perf_counter()
        with self.tracer.span("session"):
            self.spark = get_spark(app_name="perfbench", master=master, extra_conf=conf)
        if master is None:
            self.session_start_s = time.perf_counter() - t0
        self.mark("session_started")
        return self.spark

    def mark_setup(self) -> None:
        self.mark("setup_done")
        self.setup_s = time.time() - self.t_start - self.excluded_s

    def event_log(self) -> EventLog:
        return EventLog.read(self._event_dir)

    def stop_spark(self) -> None:
        """Stop the session and the JVM, and wait for every process this
        run started (JVM, Python workers) to end."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self._pids |= TreeSampler.tree_pids() - {os.getpid()}
        self.spark.stop()
        self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = gw.proc
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        self._pids |= TreeSampler.tree_pids() - {os.getpid()}
        deadline = time.time() + 60
        while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in self._pids):
            time.sleep(0.1)
        for p in [p for p in self._pids if os.path.exists(f"/proc/{p}")]:
            try:
                os.kill(p, 9)
            except OSError:
                pass
        self.mark("spark_stopped")


def main() -> int:
    t_start = process_start_time()
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"engine package {ENGINE}/ not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    t_wait = time.time()
    while sibling_jvms():
        if time.time() > t_wait + 60:
            print(f"refusing to time: sibling JVM(s) alive: {sibling_jvms()}", file=sys.stderr)
            return 3
        time.sleep(1)
    t_wait = time.time() - t_wait

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    ctx = Context(args, work, t_start)
    ctx.excluded_s = t_wait
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(ctx.cores),
        "SPARK_DRIVER_MEM": driver_mem(),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # every JVM of the run (spark-submit's launcher too) keeps its
        # temp files in the run directory and writes no /tmp/hsperfdata
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    })
    try:
        out = WORKLOADS[args.workload](ctx)
    finally:
        ctx.stop_spark()
        shutil.rmtree(work, ignore_errors=True)

    for f in out.fails:
        print(f"CHECK FAILED: {f}", file=sys.stderr)
    if args.trace:
        units = per_layer_units()
        values = {k: 0 for k in units}
        values["session.start_s"] = ctx.session_start_s
        values.update(out.layers)
        tdir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(tdir, exist_ok=True)
        with open(os.path.join(tdir, f"{args.workload}-seed{args.seed}.json"), "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed, "setup_s": ctx.setup_s,
                       "end_to_end": out.e2e, "per_layer": values, "notes": out.notes,
                       "spans": ctx.tracer.spans}, fh, indent=1, default=str)
    else:
        units = END_TO_END
        values = {"setup_s": ctx.setup_s, **out.e2e}
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    ctx.mark("done")
    print(json.dumps({"notes": out.notes, "timeline": ctx.timeline}, default=str), file=sys.stderr)
    print(json.dumps({"correct": not out.fails, "attempted": out.attempted, "failed": out.failed,
                      "metrics": metrics}))
    return 0 if not out.fails else 1


if __name__ == "__main__":
    sys.exit(main())
