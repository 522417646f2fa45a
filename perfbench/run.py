"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload cube_dashboard --seed 1 --seconds 30 --trace 0

One process, one closed loop with a single client, one Spark session.
Inputs are generated from ``--seed`` into a scratch directory under
``perfbench/.work`` that is wiped at the start and end of every run. The
last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the lines before it
echo the run environment and every metric by name with its unit.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` wraps each
layer's public functions (see ``spans.py``), traces every odd operation,
reports the per-layer metrics plus the tracing overhead, and
writes all spans to ``perfbench/.traces/<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

#: units of the metrics a workload's ``e2e`` returns
E2E_UNITS = {
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "throughput_per_s": "1/s",
    "freshness_s": "s",
}
#: heap for the local-mode Spark JVM, which holds the whole engine
DRIVER_MEM = "4g"


def pin_environment(work: str) -> dict[str, str]:
    """Set the knobs ``session.get_spark`` reads, and keep every scratch
    file the engine makes under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # -XX:-UsePerfData: no hsperfdata file under /tmp, from the Spark
        # JVM or from the launcher JVM spark-submit starts first
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            "pyspark-shell"
        ),
    }
    os.environ.update(env)
    return env


def cpu_times() -> list[int]:
    """Machine-wide jiffies from /proc/stat: user nice system idle iowait
    irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def peak_rss_mb() -> float:
    """Summed peak resident set (VmHWM) of every process this one started:
    the JVM and the Python workers it forks."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    me, total_kb = os.getpid(), 0
    for pid in parent:
        p = parent.get(pid)
        while p and p != me:
            p = parent.get(p)
        if p != me:
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


class Context:
    """What a workload needs from the harness."""

    def __init__(self, seed: int, work: str, recorder, session_mod, trace: bool):
        self.seed = seed
        self.trace = trace
        self.work = work
        self.data = os.path.join(work, "data")
        self.rec = recorder
        self.session_mod = session_mod
        self.spark = None
        #: ``spans.JobCounter`` of a traced run
        self.jobs = None

    def start_session(self) -> None:
        self.spark = self.session_mod.get_spark("perfbench")

    def fetch(self, df):
        """The action every read ends in: what the reference's callers
        receive, a pandas frame."""
        with self.rec.span("session.fetch"):
            return df.toPandas()

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        self.spark = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the workloads import the program under test: where only the benchmark
    # is present this fails, before any result is printed
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; known: {sorted(workloads.WORKLOADS)}")
    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    env = pin_environment(work)

    import adb_south_caucasus_etl_spark.session as session_mod
    import pyspark

    import gen
    import spans as tr

    rec = tr.Recorder()
    ctx = Context(args.seed, work, rec, session_mod, bool(args.trace))
    t0 = time.perf_counter()
    wl_cls = workloads.WORKLOADS[args.workload]
    gen.write_tables(args.seed, ctx.data, events=not wl_cls.LANDS_EVENTS)
    gen_s = time.perf_counter() - t0
    undo = tr.install(rec) if args.trace else []
    wl = wl_cls(ctx)
    try:
        # one cold set-up, as a deployment pays it: JVM launch and session
        # start, fixture staging, warm-up
        rec.enabled, rec.request = bool(args.trace), "setup"
        t0 = time.perf_counter()
        ctx.start_session()
        start_s = time.perf_counter() - t0
        wl.setup()
        stage_s = time.perf_counter() - t0 - start_s
        rec.enabled = False
        wl.warmup()
        setup_s = time.perf_counter() - t0
        jobs = ctx.jobs = tr.JobCounter(ctx.spark) if args.trace else None

        rec.handle_calls = rec.handle_hits = 0  # count the loop's calls only
        traced_ids: set[str] = set()
        op_times: list[float] = []
        traced_times: list[float] = []
        # a traced run traces the odd operations; the overhead compares them
        # with the even ones after operation 0, which still carries costs
        # the warm-up left behind
        min_ops = 3 if args.trace else 1
        t_start = time.perf_counter()
        cpu0 = cpu_times()
        i = 0
        # closed loop: the next operation starts when the last one is done
        while wl.keep_going(i, time.perf_counter() - t_start, args.seconds,
                            op_times, min_ops):
            traced = bool(args.trace) and i % 2 == 1
            rid = f"op-{i}"
            rec.enabled, rec.request = traced, rid
            if traced:
                jobs.begin(rid)
                traced_ids.add(rid)
            t_op = time.perf_counter()
            with rec.span("op"):
                wl.op(i)
            op_times.append(time.perf_counter() - t_op)
            rec.enabled = False
            if traced:
                counts = jobs.end(rid)
                if wl.JOBS_PER_OP:
                    wl.request_jobs.append(counts)
                traced_times.append(op_times[-1])
            wl.after_op(i, traced)
            i += 1
        rss = peak_rss_mb()
        t_loop = time.perf_counter() - t_start
        cpu = [b - a for a, b in zip(cpu0, cpu_times())]
        attempted, failed, verdict = wl.check()
        t_check = time.perf_counter() - t_start - t_loop
        layers = wl.layer_metrics(traced_ids) if args.trace else {}
        if args.trace:
            rec.write(
                os.path.join(HERE, ".traces", f"{args.workload}-{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed, "setup_s": setup_s},
            )
    finally:
        tr.uninstall(undo)
        ctx.shutdown()
        shutil.rmtree(work, ignore_errors=True)

    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds:g} trace {args.trace}")
    for k, v in env.items():
        print(f"env {k}={v}")
    print(f"env nproc={len(os.sched_getaffinity(0))} python={sys.version.split()[0]} "
          f"pyspark={pyspark.__version__} loop=closed clients=1")
    print(f"inputs generated in {gen_s:.2f} s: " + ", ".join(
        f"{t} {n}" for t, n in gen.SIZES.items()))
    print(f"phases: set-up {setup_s:.1f} s (session start {start_s:.1f} s, staging "
          f"{stage_s:.1f} s, warm-up {setup_s - start_s - stage_s:.1f} s), "
          f"loop {t_loop:.1f} s ({i} operations "
          f"and their per-operation checks), final checks {t_check:.1f} s; "
          f"during the loop the machine was "
          f"{100 * (1 - (cpu[3] + cpu[4]) / max(1, sum(cpu))):.0f}% busy, "
          f"{100 * cpu[7] / max(1, sum(cpu)):.1f}% stolen")
    print(f"check {'ok' if not failed else 'FAILED'}: {verdict}")
    print(f"error_rate = {failed / max(1, attempted):.4f} ({failed}/{attempted})")

    if args.trace:
        metrics = dict(layers)
        metrics["session.start_s"] = (start_s, "s")
        metrics["session.peak_rss_mb"] = (rss, "MB")
        untraced = [t for k, t in enumerate(op_times) if k and k % 2 == 0]
        overhead = statistics.median(traced_times) - statistics.median(untraced)
        metrics["trace.overhead_s"] = (overhead, "s")
        s, c = zip(*wl.request_jobs)
        metrics["session.jobs_per_request"] = (sum(s) / len(s), "count")
        metrics["session.tasks_per_request"] = (sum(c) / len(c), "count")
        print(f"tracing overhead = {overhead:.4f} s on the median operation "
              f"({len(traced_times)} traced vs {len(untraced)} untraced)")
    else:
        e2e, lines = wl.e2e()
        metrics = {"setup_s": (setup_s, "s")}
        metrics.update({k: (v, E2E_UNITS[k]) for k, v in e2e.items()})
        print(f"peak_rss_mb = {rss:.1f} MB (JVM and Python workers)")
        for line in lines:
            print(line)
    for name, (value, unit) in sorted(metrics.items()):
        print(f"metric {name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
