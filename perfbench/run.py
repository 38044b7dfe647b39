"""Run one benchmark workload and print its metrics.

Usage, from the repository root::

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Workloads (see ``workloads.py``): ``kg_build`` and ``corpus_ops``, listed
in ``BENCHMARK.json``, and ``kg_increment``, run by hand: one of its runs
takes two resumable pipeline runs of 30-50 s each, more than a listed
run's share of the benchmark's time budget. The run

1. times a Spark-free host control (``tools/scaling_bench.hardware_control``
   at this box's core count), so host drift can be told from a code
   change;
2. sets up: starts Spark at ``local[<cores>]`` and builds every input from
   the seed (``setup_s``, from here to the first timed operation);
3. runs whole loop rounds of timed operations until they add up to
   ``--seconds``, one client in a closed loop, checking every output
   outside the timed region. An operation that raises, times out or
   fails its check counts as failed; the run goes on;
4. with ``--trace 1``, turns Spark's event log on in the same session,
   runs the loop again, attributes its time to layers and writes the
   spans to ``.perfbench_out/``.

Everything the run writes stays under ``.perfbench_work/`` and
``.perfbench_out/`` in the repository root. The next-to-last stdout line
is a JSON object with every metric of the workload; the last line is the
result: ``{"correct", "attempted", "failed", "metrics"}`` with the
``end_to_end`` metrics of ``BENCHMARK.json`` (``--trace 0``) or its
``per_layer`` metrics (``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
# one timed call longer than this is cancelled and counted as failed
OP_TIMEOUT_S = 120.0
HOST_CONTROL_DOCS = 5_000


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak summed RSS of this process and all its descendants (driver
    Python, the JVM and its Python workers), sampled every 0.2 s."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            me = os.getpid()
            total = sum(_rss_bytes(p) for p in [me, *_descendants(me)])
            self.peak = max(self.peak, total)
            self._stop.wait(0.2)

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak


def _configure_env(run_dir: str, cores: int) -> None:
    """Everything ``graphlab_spark.session`` and the JVM read at start-up.
    Must run before ``graphlab_spark.session`` is imported: its default
    shuffle-partition count is read at import time."""
    with open("/proc/meminfo") as fh:
        mem_mb = int(fh.readline().split()[1]) // 1024
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        # the UDF workers import graphlab_spark from the checkout
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=f"{max(1024, mem_mb // 4)}m",
        SPARK_GRAFT_SCRATCH=WORK,
        SPARK_GRAFT_LOCAL_DIR=os.path.join(run_dir, "local"),
        TMPDIR=tmp,
        # both JVMs (spark-submit's launcher and the driver)
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    tempfile.tempdir = tmp  # in case the default was computed already


def _session(run_dir: str, cores: int):
    from graphlab_spark.session import get_spark

    conf = {"spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse")}
    return get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
                     extra_conf=conf)


def run_loop(spark, wl, seconds: float, phase: str, traced: bool) -> list[dict]:
    """Whole rounds of ``wl``'s operations until the timed calls add up
    to ``seconds`` (untimed checks and restores do not count, so a slow
    check cannot cut the sample count). Every call runs under its own
    job group, so a call that outlives OP_TIMEOUT_S can be cancelled."""
    from perfbench.trace import group_counts

    sc = spark.sparkContext
    samples: list[dict] = []
    for rnd in wl.rounds():
        for op in rnd:
            group = f"{wl.name}:{phase}:{len(samples)}:{op.kind}"
            sample = {"kind": op.kind, "group": group, "ok": False, "info": {}}
            op.prepare()
            sc.setJobGroup(group, op.kind)
            timer = threading.Timer(OP_TIMEOUT_S, sc.cancelJobGroup, args=(group,))
            timer.start()
            sample["start"] = time.time()
            t0 = time.perf_counter()
            try:
                out = op.run()
                ok = True
            except Exception:  # a failed call is counted, not fatal
                traceback.print_exc()
                ok = False
            sample["wall_s"] = time.perf_counter() - t0
            sample["end"] = time.time()
            timer.cancel()
            sc.setLocalProperty("spark.jobGroup.id", None)
            if traced:
                sample["counts"] = group_counts(sc, group)
            if ok:
                try:
                    sample["info"] = op.check(out) or {}
                    sample["ok"] = True
                except Exception:
                    traceback.print_exc()
            samples.append(sample)
        if sum(s["wall_s"] for s in samples) >= seconds:
            return samples


def end_to_end(wl, samples: list[dict], setup_s: float, peak_rss: int) -> dict:
    """``wall_p50_s`` is the sum over the workload's primary operation
    kinds of each kind's median wall: one build for kg_build, one round
    of the four calls for corpus_ops, so a speed-up of any one kind
    moves it by that kind's share."""
    wall_p50 = sum(
        statistics.median(s["wall_s"] for s in samples if s["kind"] == kind)
        for kind in wl.PRIMARY
    )
    m = {
        "setup_s": (setup_s, "s"),
        "wall_p50_s": (wall_p50, "s"),
        "ops_per_s": (sum(s["ok"] for s in samples) / sum(s["wall_s"] for s in samples), "1/s"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
        "failed_frac": (sum(not s["ok"] for s in samples) / len(samples), "ratio"),
    }
    m.update(wl.summary(samples))
    return m


def _stop_jvm(spark) -> None:
    """Stop Spark and wait for the JVM; its Python workers exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _wait_children(timeout: float = 30.0) -> None:
    deadline = time.time() + timeout
    while _descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if not os.path.isdir(os.path.join(ROOT, "graphlab_spark")):
        print(f"no graphlab_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from perfbench.workloads import WORKLOADS
    from scaling_bench import hardware_control

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    # before any thread or JVM exists: the control forks a process pool
    control_s = hardware_control(cores, n_docs=HOST_CONTROL_DOCS, reps=1)

    t_setup = time.perf_counter()
    os.makedirs(WORK, exist_ok=True)
    for d in os.listdir(WORK):  # run dirs left by dead runs
        pid = d.removeprefix("run-")
        if d.startswith("run-") and pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _configure_env(run_dir, cores)
    sampler = RssSampler()
    spark = None
    try:
        from graphlab_spark.operators.scratch import reclaim_dead_roots

        reclaim_dead_roots()
        spark = _session(run_dir, cores)
        spark_s = time.perf_counter() - t_setup
        wl = WORKLOADS[args.workload](args.seed, run_dir)
        wl.setup(spark)
        setup_s = time.perf_counter() - t_setup
        samples = run_loop(spark, wl, args.seconds, "e2e", traced=False)
        values = end_to_end(wl, samples, setup_s, sampler.stop())
        values["host.control_s"] = (control_s, "s")
        if args.trace:
            from perfbench.trace import EventLogTap

            log_dir = os.path.join(run_dir, "eventlog")
            os.makedirs(log_dir)
            tap = EventLogTap(spark, log_dir)
            traced = run_loop(spark, wl, args.seconds, "trace", traced=True)
            tap.close()
            values.update(trace_metrics(wl, samples, traced, log_dir, cores, control_s, args.seed))
            samples += traced
    finally:
        sampler.stop()
        if spark is not None:
            _stop_jvm(spark)
        _wait_children()
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = sum(not s["ok"] for s in samples)
    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "cpus": cores,
        "setup_steps_s": {"spark": spark_s, **wl.setup_steps},
        "samples": {k: sum(s["kind"] == k for s in samples)
                    for k in sorted({s["kind"] for s in samples})},
        "metrics": {k: _metric(*v) for k, v in values.items()},
    }))
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(samples),
        "failed": failed,
        "metrics": {k: _metric(*values[k]) for k in names},
    }))
    return 0


def _metric(value, unit) -> dict:
    return {"value": value, "unit": unit}


def trace_metrics(wl, untraced, traced, log_dir, cores, control_s, seed) -> dict:
    """Per-layer metrics, ``{name: (value, unit)}``, of the traced phase.
    Writes its spans to ``.perfbench_out/trace_<workload>_<seed>.json``."""
    from perfbench.trace import Attribution, EventLog

    attr = Attribution(EventLog(log_dir), cores)
    for s in traced:
        if s["ok"]:
            attr.add(s)
    m = attr.metrics()
    m["host.control_s"] = (control_s, "s")

    def kind_medians(samples):
        kinds = sorted({s["kind"] for s in samples})
        return {k: statistics.median(s["wall_s"] for s in samples if s["kind"] == k)
                for k in kinds}

    plain, with_trace = kind_medians(untraced), kind_medians(traced)
    m["trace.overhead_frac"] = (sum(with_trace.values()) / sum(plain.values()) - 1.0, "ratio")
    os.makedirs(OUT, exist_ok=True)
    attr.dump(
        os.path.join(OUT, f"trace_{wl.name}_{seed}.json"),
        {"workload": wl.name, "seed": seed, "cpus": cores,
         "untraced_kind_p50_s": plain, "traced_kind_p50_s": with_trace, "metrics": m},
    )
    return m


if __name__ == "__main__":
    sys.exit(main())
