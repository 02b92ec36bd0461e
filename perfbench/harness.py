"""Worker process of the benchmark: set up one workload in a fresh Spark
session, measure it, check its outputs and print the result line.

Started by ``run.py`` with the checkout root on ``PYTHONPATH`` and the
working directory set to a work directory inside the checkout.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE, os.path.join(ROOT, "tests")]

import eventlog  # noqa: E402
import workloads  # noqa: E402
from stats import OpLedger  # noqa: E402

# The tables give 2 shuffle partitions (session.scaled_shuffle_partitions),
# so 2 task threads use every partition; with 4, a curation pass took 3.6 s
# against 2.8 s, the extra threads competing on a 4-vCPU host with the
# JVM's own threads and the Python workers.
CORES = 2
DRIVER_MEM, YOUNG_MEM = "2g", "512m"
# The engine's reference star-schema tables at sf0.01 (lineitem 60k
# rows), committed byte for byte; every run reads them and writes nothing
# there.
DATA_DIR = os.path.join(HERE, "data", "sf0.01")


class Context:
    """State of one benchmark run, shared by the workload code."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = os.getcwd()
        self.sf_dir = DATA_DIR
        self.ledger = OpLedger()
        self.phase_s: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.detail: dict = {}
        self.spark = None

    # -- session -------------------------------------------------------
    def start_spark(self) -> None:
        from cognitive_score_bigdata_spark.session import get_spark

        extra = {
            # A fixed heap and young generation: with G1 sizing both from
            # the pauses it measured, the speed of a whole run varied by up
            # to 1.5x from run to run. C1 only: a run lasts about a minute,
            # in which C2 kept compiling (up to half the CPU of a timed
            # pass) and passes kept speeding up; with C1 alone speed is
            # steady after the warm-up and was no slower at this data size.
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.work}/tmp -Xms{DRIVER_MEM} -Xmn{YOUNG_MEM} "
                "-XX:TieredStopAtLevel=1"
            ),
            "spark.sql.warehouse.dir": f"{self.work}/spark-warehouse",
        }
        if self.trace:
            os.makedirs(f"{self.work}/eventlog", exist_ok=True)
            extra.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{self.work}/eventlog",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        # session.scaled_shuffle_partitions sizes partitions from this dir
        os.environ["SPARK_GRAFT_SF_DIR"] = self.sf_dir
        os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        self.spark = get_spark(
            f"perfbench-{self.workload}", master=f"local[{CORES}]", extra_conf=extra
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.detail["shuffle_partitions"] = int(
            self.spark.conf.get("spark.sql.shuffle.partitions")
        )

    def stop_spark(self) -> None:
        """Stop the session and wait for the JVM it launched to exit; the
        JVM exits when its standard input closes."""
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)  # noqa: SLF001
        self.spark.stop()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark._jvm.ProcessHandle.current().pid()  # noqa: SLF001
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    # -- timing --------------------------------------------------------
    @contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phase_s[name] = self.phase_s.get(name, 0.0) + time.perf_counter() - t0

    def jobs_in_group(self, group: str) -> int:
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    @contextmanager
    def job_group(self, call: str):
        """Tag every Spark job started inside with ``<workload>/<call>``;
        yields a list that receives the number of jobs started."""
        sc = self.spark.sparkContext
        group = f"{self.workload}/{call}"
        before = self.jobs_in_group(group)
        started = [0]
        sc.setJobGroup(group, group)
        try:
            yield started
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            started[0] = self.jobs_in_group(group) - before

    def timed_query(self, name: str, fn) -> tuple[bool, float, float]:
        """Build ``fn()`` and run it through the noop sink. Returns
        (ok, build_s, execute_s); a call that raises or starts no Spark
        job (a cached result) is a failed operation."""
        with self.job_group(name) as started:
            t0 = time.perf_counter()
            try:
                df = fn()
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            except Exception as exc:  # a failing query is a failed op
                self.ledger.record(name, False, repr(exc)[:200])
                return False, 0.0, 0.0
        ok = self.ledger.record(name, started[0] > 0, "started no Spark job")
        return ok, t1 - t0, t2 - t1


def cpu_busy_s() -> float:
    """Busy CPU seconds of the whole machine since boot (/proc/stat)."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return (f[0] + f[1] + f[2] + f[5] + f[6]) / os.sysconf("SC_CLK_TCK")


def trace_layers(ctx: Context, window: tuple[float, float]) -> dict[str, float]:
    """Stop the session (which closes its event log) and fold the log."""
    ctx.stop_spark()
    paths = [p for p in glob.glob(f"{ctx.work}/eventlog/*") if not p.endswith(".inprogress")]
    if len(paths) != 1:
        raise RuntimeError(f"expected one finished event log, found {paths}")
    layers = eventlog.fold(eventlog.read_events(paths[0]), *window, cores=CORES)
    wall = (window[1] - window[0]) / 1000.0
    layers["queries.driver_self_s"] = max(wall - layers.pop("spark.job_busy_s"), 0.0)
    return layers


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    wl = workloads.WORKLOADS[args.workload]
    ctx = Context(args.workload, args.seed, args.seconds, bool(args.trace))
    t_setup = time.perf_counter()
    with ctx.phase("session"):
        ctx.start_spark()
    state = wl.setup(ctx)
    setup_s = time.perf_counter() - t_setup

    t0_ms, cpu0 = time.time() * 1000.0, cpu_busy_s()
    result = wl.measure(ctx, state)
    t1_ms, cpu1 = time.time() * 1000.0, cpu_busy_s()
    ctx.detail["timed_cpu_busy_s"] = cpu1 - cpu0
    ctx.detail["timed_wall_s"] = (t1_ms - t0_ms) / 1000.0
    wl.check(ctx, state)
    rss = ctx.jvm_peak_rss_mb()

    if ctx.trace:
        values = {
            "trace.wall_s": result["wall_s"],
            "session.start_s": ctx.phase_s["session"],
            "setup.artifacts_s": ctx.phase_s["artifacts"],
            "setup.warm_s": ctx.phase_s.get("warm", 0.0),
            "ml.train_frac": ctx.phase_s.get("train", 0.0) / setup_s,
            **ctx.layer,
            **trace_layers(ctx, (t0_ms, t1_ms)),
        }
        # a layer the workload runs that reads 0 means the event-log fold
        # missed it (a renamed field, a lost listener event)
        for name in wl.traced:
            ctx.ledger.record(f"trace/{name}", values[name] > 0, "reads 0")
    else:
        values = {
            "setup_s": setup_s,
            "wall_s": result["wall_s"],
            "op_p50_ms": result["op_p50_ms"],
            "success_rate": ctx.ledger.success_rate,
            "jvm_peak_rss_mb": rss,
        }
    metrics = {k: {"value": v, "unit": workloads.UNITS[k]} for k, v in values.items()}

    ctx.detail.update(
        {
            "workload": ctx.workload,
            "seed": ctx.seed,
            "trace": int(ctx.trace),
            "error_rate": ctx.ledger.error_rate,
            "failures": ctx.ledger.failures[:20],
            "setup_phases_s": ctx.phase_s,
        }
    )
    print(json.dumps({"detail": ctx.detail}), flush=True)
    print(
        json.dumps(
            {
                "correct": ctx.ledger.failed == 0,
                "attempted": ctx.ledger.attempted,
                "failed": ctx.ledger.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    if not ctx.trace:
        ctx.stop_spark()
    return 0


if __name__ == "__main__":
    sys.exit(main())
