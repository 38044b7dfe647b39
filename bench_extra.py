"""Interleaved-repetition benchmark wrapper (r6; VERDICT r5 task 4).

``bench.py`` is FROZEN for driver measurement, and its per-query
back-to-back reps let one noisy minute poison a single query's min
while sparing its neighbors. This wrapper addresses both judge asks
WITHOUT touching the frozen harness:

- INTERLEAVES whole bench passes: it invokes ``bench.py`` K times in
  separate processes (cold JVM each, exactly the driver's protocol) and
  reports the per-query MIN across passes, so steal-time bursts hit
  different queries on different passes.
- Emits a HARDWARE CONTROL wall per pass (the scaling_bench kernel: raw
  multiprocessing over an identical per-doc workload, no Spark) so a
  cross-round comparison can tell host weather from plan changes: if
  the control moved, the box moved.

Prints ONE JSON line:
  {"metric": "bench_extra_min_sec", "value": <min total>, "queries_min":
   {...}, "passes": K, "controls": [...], "per_pass_totals": [...]}

Usage: python bench_extra.py [K]   (default 3 passes)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys


def _result_line(stdout: str) -> dict:
    """The last JSON object in ``stdout`` that carries ``"metric"``: a
    ``{``-led line of other output (a logged dict, say) is skipped."""
    for line in reversed(stdout.splitlines()):
        if line.startswith("{"):
            try:
                parsed = json.loads(line)
            except ValueError:
                continue
            if isinstance(parsed, dict) and "metric" in parsed:
                return parsed
    raise ValueError("bench.py printed no JSON result line with a 'metric' key")


def main() -> None:
    passes = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, os.path.join(here, "tools"))
    from scaling_bench import hardware_control

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    mins: dict[str, float] = {}
    controls: list[float] = []
    totals: list[float] = []
    for _ in range(passes):
        controls.append(round(hardware_control(cpus, reps=1), 2))
        out = subprocess.run(
            [sys.executable, os.path.join(here, "bench.py")],
            capture_output=True,
            text=True,
            check=True,
        )
        parsed = _result_line(out.stdout)
        totals.append(parsed["value"])
        for name, sec in parsed["queries"].items():
            if name not in mins or sec < mins[name]:
                mins[name] = sec
    print(
        json.dumps(
            {
                "metric": "bench_extra_min_sec",
                "value": round(sum(mins.values()), 3),
                "unit": "sec",
                "queries_min": mins,
                "passes": passes,
                "controls": controls,
                "per_pass_totals": totals,
            }
        )
    )


if __name__ == "__main__":
    main()
