"""Per-layer attribution for the traced run.

Sources, all read from outside the program:

- job groups: every timed call runs under its own ``sc.setJobGroup``;
  right after the call the status tracker gives its jobs, stages and
  tasks;
- Spark's event log, written by Spark's own ``EventLoggingListener``
  attached to the live session for the traced phase only: per-task run
  and CPU time, shuffle, spill and output bytes, and the Python nodes'
  SQL metrics, summed per stage and credited to the job that ran the
  stage. Attaching it at run time (rather than through ``get_spark``'s
  ``extra_conf``, which applies only to a new session) lets one process
  time the same calls untraced and then traced, in one warm session;
- layer windows: a layer inside one call is credited with every job of
  the call submitted within its time window (``stage_timings`` for
  ``kg_build``, gaps between manifest ``finished_at`` values for
  ``kg_increment``).

Spans (layer, start, end, parent, job group) and the counts are kept in
memory and written to one JSON file at the end of the run.
"""

from __future__ import annotations

import glob
import json
import statistics

PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
STAGE_FIELDS = (
    "tasks", "run_s", "cpu_s", "shuffle_bytes", "spill_bytes",
    "output_bytes", "python_bytes_sent", "python_bytes_received",
)
KG_STAGES = ("extract", "mentions", "triples", "linking", "canonicalize", "nodes", "edges")
OP_LAYER = {
    "ann_ivfpq": "ann_pq",
    "ann_ivf": "ann",
    "bm25": "retrieval",
    "dedup_inc": "dedup_incremental",
}


class EventLogTap:
    """Spark's event-log listener on a running session, writing one
    uncompressed JSON-lines file under ``log_dir`` until :meth:`close`."""

    def __init__(self, spark, log_dir: str):
        sc = spark.sparkContext
        self._ssc = sc._jsc.sc()
        jvm = sc._jvm
        conf = (
            self._ssc.conf().clone()
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false")
        )
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            self._ssc.applicationId(),
            jvm.scala.Option.apply(None),
            jvm.java.net.URI(f"file://{log_dir}"),
            conf,
            sc._jsc.hadoopConfiguration(),
        )
        self._listener.start()
        self._ssc.addSparkListener(self._listener)

    def close(self) -> None:
        # every queued event reaches the file before it is closed
        self._ssc.listenerBus().waitUntilEmpty(60_000)
        self._ssc.removeSparkListener(self._listener)
        self._listener.stop()


def group_counts(sc, group: str) -> dict:
    """Jobs, stages that ran and their tasks for one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stage_ids = set()
    for j in jobs:
        info = st.getJobInfo(j)
        stage_ids.update(info.stageIds if info else [])
    stages = tasks = 0
    for s in stage_ids:
        si = st.getStageInfo(s)
        if si is not None and si.numCompletedTasks > 0:  # skipped stages run nothing
            stages += 1
            tasks += si.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


class EventLog:
    """Jobs and per-stage totals from one uncompressed Spark event log."""

    def __init__(self, log_dir: str):
        paths = glob.glob(f"{log_dir}/*")
        if len(paths) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        owner: dict[int, int] = {}
        with open(paths[0]) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    jid = e["Job ID"]
                    self.jobs[jid] = {
                        "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                        "submit_s": e["Submission Time"] / 1000.0,
                        "stages": [],
                    }
                    for sid in e["Stage IDs"]:
                        owner.setdefault(sid, jid)  # later jobs only skip it
                elif kind == "SparkListenerTaskEnd":
                    self._add_task(e)
        for sid, agg in self.stages.items():
            if sid in owner:
                self.jobs[owner[sid]]["stages"].append(sid)

    def _add_task(self, e: dict) -> None:
        agg = self.stages.setdefault(e["Stage ID"], dict.fromkeys(STAGE_FIELDS, 0))
        m = e.get("Task Metrics") or {}
        agg["tasks"] += 1
        agg["run_s"] += m.get("Executor Run Time", 0) / 1e3
        agg["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        agg["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        agg["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        agg["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        for acc in e["Task Info"].get("Accumulables", []):
            name = acc.get("Name")
            if name == PY_SENT:
                agg["python_bytes_sent"] += int(float(acc.get("Update", 0)))
            elif name == PY_RECEIVED:
                agg["python_bytes_received"] += int(float(acc.get("Update", 0)))

    def job_ids(self, group: str, start: float | None = None, end: float | None = None):
        return [
            j
            for j, info in self.jobs.items()
            if info["group"] == group
            and (start is None or info["submit_s"] >= start)
            and (end is None or info["submit_s"] < end)
        ]

    def totals(self, job_ids) -> dict:
        """Summed stage metrics of ``job_ids`` plus jobs, stages and the
        number of stages that ran Python."""
        out = dict.fromkeys(STAGE_FIELDS, 0)
        out.update(jobs=len(job_ids), stages=0, python_stages=0)
        for j in job_ids:
            for sid in self.jobs[j]["stages"]:
                s = self.stages[sid]
                out["stages"] += 1
                out["python_stages"] += s["python_bytes_sent"] > 0
                for k in STAGE_FIELDS:
                    out[k] += s[k]
        return out


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


class Attribution:
    """Spans and per-layer metrics of the traced operations."""

    def __init__(self, log: EventLog, cores: int):
        self.log = log
        self.cores = cores
        self.spans: list[dict] = []
        self.per_op: list[dict] = []

    def _span(self, layer, start, end, parent, group, counts) -> int:
        self.spans.append(
            {
                "id": len(self.spans),
                "layer": layer,
                "start": start,
                "end": end,
                "parent": parent,
                "job_group": group,
                "counts": counts,
            }
        )
        return len(self.spans) - 1

    def _window(self, layer, start, end, parent, group) -> dict:
        counts = self.log.totals(self.log.job_ids(group, start, end))
        self._span(layer, start, end, parent, group, counts)
        return {"wall_s": end - start, **counts}

    def add(self, sample: dict) -> None:
        """Attribute one traced operation (a harness sample)."""
        group, kind = sample["group"], sample["kind"]
        totals = self.log.totals(self.log.job_ids(group))
        op_id = self._span(
            kind, sample["start"], sample["end"], None, group,
            {**totals, **sample["counts"]},
        )
        rec = {"kind": kind, "wall_s": sample["wall_s"], "totals": totals,
               "counts": sample["counts"], "layers": {}}
        info = sample["info"]
        if kind == "build":
            for layer, (a, b) in info["windows"].items():
                rec["layers"][layer] = self._window(layer, a, b, op_id, group)
            rec["layers"]["entity_map"]["vocab"] = info["vocab"]
        elif kind == "fold":
            ends: dict[str, float] = {}
            for r in info["manifest_rows"]:
                ends[r["stage"]] = max(ends.get(r["stage"], 0.0), r["finished_s"])
            prev = sample["start"]
            for stage in sorted(ends, key=ends.get):
                rec["layers"][stage] = self._window(stage, prev, ends[stage], op_id, group)
                prev = ends[stage]
            extract = [
                r for r in info["manifest_rows"]
                if r["stage"] == "extract" and r["input_fp"] != -1  # -1: tombstone
            ]
            rec["manifest"] = {
                "buckets_recomputed": len({r["partition_id"] for r in extract}),
                "reparsed_docs_per_new_doc": sum(r["rows_in"] for r in extract)
                / info["new_docs"],
                "bytes_written": totals["output_bytes"],
            }
        elif kind in OP_LAYER:
            rec["layers"][OP_LAYER[kind]] = {
                **sample["counts"],
                "python_stages": totals["python_stages"],
                "shuffle_bytes": totals["shuffle_bytes"],
                "pairs": info.get("pairs", 0),
            }
        self.per_op.append(rec)

    def metrics(self) -> dict[str, tuple[float, str]]:
        """Per-layer metrics, ``{name: (value, unit)}``: the median over
        the traced operations of each figure; 0 for a layer of a listed
        workload that this workload does not exercise. The resumable
        pipeline's layers (``KG_STAGES``, ``manifest.*``) are reported
        only by the workload that runs it."""
        ops = self.per_op
        m: dict[str, tuple[float, str]] = {}

        def layer(name: str, field: str, unit: str) -> None:
            m[f"{name}.{field}"] = (
                _median(r["layers"][name][field] for r in ops if name in r["layers"]),
                unit,
            )

        for f, unit in (("wall_s", "s"), ("jobs", "count"), ("tasks", "count"),
                        ("run_s", "s"), ("cpu_s", "s"),
                        ("python_bytes_sent", "bytes"), ("python_bytes_received", "bytes")):
            layer("parse", f, unit)
        for f, unit in (("wall_s", "s"), ("jobs", "count"), ("vocab", "count")):
            layer("entity_map", f, unit)
        for f, unit in (("wall_s", "s"), ("jobs", "count"),
                        ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes")):
            layer("materialize", f, unit)
        builds = [r for r in ops if r["kind"] == "build"]
        m["pipeline.unattributed_s"] = (_median(
            r["wall_s"] - sum(v["wall_s"] for v in r["layers"].values()) for r in builds
        ), "s")
        folds = [r for r in ops if r["kind"] == "fold"]
        if folds:
            from graphlab_spark.operators.manifest import N_BUCKETS

            for stage in KG_STAGES:
                layer(stage, "wall_s", "s")
            for f, unit in (("buckets_recomputed", "count"),
                            ("reparsed_docs_per_new_doc", "ratio"), ("bytes_written", "bytes")):
                m[f"manifest.{f}"] = (_median(r["manifest"][f] for r in folds), unit)
            m["manifest.buckets_total"] = (N_BUCKETS, "count")
            m["manifest.rerun_jobs"] = (_median(
                r["counts"]["jobs"] for r in ops if r["kind"] == "rerun"
            ), "count")
        for f, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                        ("pairs", "count"), ("shuffle_bytes", "bytes")):
            layer("dedup_incremental", f, unit)
        for f in ("jobs", "stages", "tasks", "python_stages"):
            layer("ann_pq", f, "count")
        for name in ("ann", "retrieval"):
            for f in ("jobs", "stages", "tasks"):
                layer(name, f, "count")
        busy = sum(r["wall_s"] for r in ops)
        if ops:
            jobs_per_op = sum(r["counts"]["jobs"] for r in ops) / len(ops)
            idle = 1.0 - sum(r["totals"]["run_s"] for r in ops) / (busy * self.cores)
        else:  # every traced call failed; the failures are counted
            jobs_per_op = idle = 0.0
        m["spark.jobs_per_op"] = (jobs_per_op, "count")
        m["spark.slot_idle_frac"] = (idle, "ratio")
        return m

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({**extra, "spans": self.spans, "ops": self.per_op}, fh, indent=1)
