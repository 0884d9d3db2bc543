"""The repository benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 12 --trace 0

Run from the repository root. The workloads (perfbench/workloads.py)
drive the engine's public job entry points on `local[n]`, n from the
CPU affinity. Set-up (session start, input generation and persist,
warm-up) is timed as `setup_s`; then operations run until `--seconds`
have passed, each checked against an independent recomputation. With
`--trace 0` the last stdout line is the JSON result with the
end-to-end metrics; with `--trace 1` the operation then runs once more
under tracing (perfbench/traced.py) and the result carries the
per-layer metrics. Human-readable lines (`metric <name> <value>
<unit>`, the Spark settings, the host's load) come before it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))


# ------------------------------------------------------------ host and /proc


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rfind(")") + 2:].split()  # fields from 3 (state) on


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_seconds() -> float:
    """User+system CPU of this process and its live descendants,
    including children they have reaped."""
    total = 0.0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15]) / TICK
    return total


class RssSampler:
    """Peak summed RSS of the Spark JVM and its Python workers (every
    descendant of this process), sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        self.interval, self.peak = interval, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            rss = 0
            for pid in descendants(os.getpid()):
                st = _stat(pid)
                if st is not None:
                    rss += int(st[21]) * PAGE
            self.peak = max(self.peak, rss)
            self._stop.wait(self.interval)

    def start(self):
        self._thread.start()
        return self

    def stop(self):
        self._stop.set()
        self._thread.join()


def host_settings(work: str, trace: bool) -> dict:
    """Spark settings derived from this host; passed from here only."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    # a quarter of RAM, at most 8 GiB: the machine may be shared
    driver_mb = min(8192, mem_kb // 4 // 1024)
    conf = {
        "spark.driver.memory": f"{driver_mb}m",
        # temporary files stay in the work directory: no JVM perf-data
        # file and no java.io.tmpdir under /tmp
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
        "spark.ui.enabled": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            # zstd is the default codec and its Python reader is not
            # installed; the plain JSON log is parsed as it is
            "spark.eventLog.compress": "false",
        })
    return {"master": f"local[{cpus}]", "shuffle_partitions": cpus,
            "local_dir": os.path.join(work, "spark-local"), "conf": conf,
            "mem_total_mb": mem_kb // 1024}


def start_spark(settings: dict):
    from modelardb_spark.session import get_spark

    os.makedirs(settings["local_dir"], exist_ok=True)
    # Python-side temporary files (the gateway's connection file, the
    # workers' scratch) go to the work directory as well
    tmp = os.path.join(os.path.dirname(settings["local_dir"]), "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    if "spark.eventLog.dir" in settings["conf"]:
        os.makedirs(settings["conf"]["spark.eventLog.dir"], exist_ok=True)
    # shuffle scratch on the checkout's disk, not /dev/shm
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = settings["local_dir"]
    os.environ["SPARK_GRAFT_CPUS"] = str(settings["shuffle_partitions"])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    spark = get_spark(master=settings["master"], app_name="perfbench",
                      shuffle_partitions=settings["shuffle_partitions"],
                      extra_conf=settings["conf"])
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for every descendant."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


# ------------------------------------------------------------ measuring


#: the metrics the untraced run reports; the rest of `end_to_end` goes
#: to the human-readable lines and the traced run's per-layer metrics
END_TO_END = ("setup_s", "throughput_per_s", "latency_p50_ms", "stored_bytes_per_turn")


def end_to_end(wl, ops, setup_s: float, rss_peak: int) -> dict:
    lat = [o.seconds for o in ops]
    return {
        "setup_s": (setup_s, "s"),
        "throughput_per_s": (sum(o.items for o in ops) / sum(lat), "items/s"),
        "latency_p50_ms": (statistics.median(lat) * 1e3, "ms"),
        "stored_bytes_per_turn": (wl.stored_bytes_per_turn(), "B/turn"),
        "peak_rss_mb": (rss_peak / 2**20, "MB"),
    }


def human_names(wl, ops, e2e: dict) -> list[tuple[str, float, str]]:
    """The end-to-end metrics under their per-workload names."""
    from workloads import p90

    item = wl.item
    unit = {"turns": "turns/s", "requests": "req/s"}[item]
    rows = [("setup_s", e2e["setup_s"][0], "s"),
            (f"{item}_per_s", e2e["throughput_per_s"][0], unit),
            ("latency_p50_ms", e2e["latency_p50_ms"][0], "ms")]
    if item == "requests":
        lat = [o.seconds * 1e3 for o in ops]
        rows.append((f"latency_p90_ms[n={len(lat)}]", p90(lat), "ms"))
    rows.append(("stored_bytes_per_turn", e2e["stored_bytes_per_turn"][0], "B/turn"))
    if item == "turns":
        n = ops[0].items // 2
        for path in ("series", "grouped"):
            secs = sum(o.detail[path]["seconds"] for o in ops)
            rows.append((f"turns_per_s.{path}", n * len(ops) / secs, "turns/s"))
        rows.append(("stored_bytes_per_turn.grouped",
                     ops[-1].detail["grouped"]["stored_bytes"] / n, "B/turn"))
    rows.append(("peak_rss_mb", e2e["peak_rss_mb"][0], "MB"))
    failed = sum(not o.ok for o in ops)
    rows.append(("failed_fraction", failed / len(ops), "ratio"))
    return rows


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "modelardb_spark", "__init__.py")):
        print("perfbench: run from the repository root (modelardb_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def run(args, work: str) -> int:
    from workloads import WORKLOADS, measure

    load1 = os.getloadavg()[0]
    t_start = time.perf_counter()
    settings = host_settings(work, bool(args.trace))
    sampler = RssSampler().start()
    t0 = time.perf_counter()
    spark = start_spark(settings)
    session_s = time.perf_counter() - t0
    wl = WORKLOADS[args.workload](spark, args.seed, work)
    try:
        parts = wl.setup()
        # the session starts once per process and the warm-up is the
        # first operation by definition; input preparation repeats
        setup_s = session_s + statistics.median(parts["prepare_s"]) + parts["warm_up_s"]
        parts["session_s"] = session_s
        ops = measure(wl, args.seconds)
        e2e = end_to_end(wl, ops, setup_s, sampler.peak)
        checked = list(ops)
        if args.trace:
            from traced import traced_run

            layers, more = traced_run(spark, wl, ops, args.seconds, settings)
            checked += more
        cpu_s = tree_cpu_seconds()
    finally:
        wl.close()
        stop_spark(spark)
        sampler.stop()
    wall_s = time.perf_counter() - t_start
    env = {"load1_at_start": load1, "cpu_s": cpu_s, "wall_s": wall_s,
           "cpu_per_wall": cpu_s / wall_s, "cpus": len(os.sched_getaffinity(0))}
    failed = sum(not o.ok for o in checked)
    print("# settings " + json.dumps(settings, sort_keys=True))
    print("# env " + json.dumps(env, sort_keys=True))
    print("# setup " + json.dumps(parts, sort_keys=True))
    for name, value, unit in human_names(wl, ops, e2e):
        print(f"metric {name} {value:.6g} {unit}")
    if args.trace:
        metrics = layers(e2e, env, failed / len(checked))
    else:
        metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": len(checked), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
