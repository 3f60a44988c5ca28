"""Self-test: every workload at a tiny size, untraced once and traced twice.

    python3 perfbench/selftest.py [workload ...]

Checks that

- every metric ``BENCHMARK.json`` names is printed, with its unit;
- the output checks pass (``correct``, zero ``failed``);
- the count metrics repeat exactly across the two traced runs of one seed,
  except those listed in ``NOT_REPEATING`` with the reason.

Exits non-zero on any other outcome.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COUNTS = ("exec.jobs", "exec.stages", "exec.tasks", "exec.rows_out", "exec.shuffle_bytes",
          "streaming.batches")
_LIVE = ("micro-batch boundaries follow the wall clock: the live phase's "
         "processing-time triggers cut the generated events differently on each run")
NOT_REPEATING = {
    ("market_stream", "streaming.batches"): _LIVE,
    ("market_stream", "exec.jobs"): _LIVE + ", and each batch starts its own jobs",
    ("market_stream", "exec.stages"): _LIVE + ", and each batch runs its own stages",
    ("market_stream", "exec.tasks"): _LIVE + ", and each batch runs its own tasks",
    ("market_stream", "exec.rows_out"): _LIVE + "; update-mode candles re-emit a window once per batch it grows in",
    ("market_stream", "exec.shuffle_bytes"): _LIVE + ", so each batch's shuffle holds a different slice",
}


def run(workload: str, seed: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "3", "--trace", str(trace), "--tiny"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise RuntimeError(f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    problems = []
    for wl in names:
        untraced = run(wl, 7, 0)
        traced = [run(wl, 7, 1), run(wl, 7, 1)]
        for res, kind in ((untraced, "end_to_end"), (traced[0], "per_layer"), (traced[1], "per_layer")):
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{wl}: {kind} metrics/units differ: {sorted(set(want.items()) ^ set(got.items()))}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{wl}: output checks failed: {res['failed']} of {res['attempted']}")
        for name in COUNTS:
            a, b = (t["metrics"][name]["value"] for t in traced)
            reason = NOT_REPEATING.get((wl, name))
            if a == b:
                print(f"{wl:16s} {name:20s} repeats: {a:g}")
            elif reason:
                print(f"{wl:16s} {name:20s} {a:g} vs {b:g}, expected: {reason}")
            else:
                problems.append(f"{wl}: {name} does not repeat: {a:g} vs {b:g}")
        print(f"{wl}: end-to-end {json.dumps({k: round(v['value'], 4) for k, v in untraced['metrics'].items()})}")
    for p in problems:
        print("FAIL", p)
    print("selftest:", "FAIL" if problems else "OK")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
