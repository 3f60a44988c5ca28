"""Interleaved same-box A/B of two trees: the one A/B loop in this repo.

    python tools/ab.py A B [--pairs N] [--workload bench|market_stream|market_batch|rung]

A side is ``<git ref>[:<cores>]``; ``.`` is the working tree. Each ref other
than ``.`` is checked out as a detached ``git worktree`` in a fresh temp dir
(removed when the run ends). Every run is a fresh subprocess in its side's
tree, and pair ``i`` alternates which side runs first, so box drift lands on
both sides alike. What each run executes, unmodified:

- ``bench``: the side's own ``bench.py``, in full (its warm-up, best-of-N
  and session hygiene). ``SPARK_GRAFT_SF_DIR``, ``SPARK_GRAFT_CPUS`` and
  ``SPARK_GRAFT_BENCH_REPEATS`` pass through the environment; a ``:<cores>``
  suffix sets ``SPARK_GRAFT_CPUS`` for that side.
- ``market_stream`` / ``market_batch``: the side's ``perfbench/run.py
  --workload W --seed i --seconds <run_seconds from BENCHMARK.json>
  --trace 0`` (plus ``--cpus <cores>`` when the side names cores).
- ``rung``: the 20x corpus rung (the sf0.1 documents table replicated 20x,
  100k docs, checkpointed at a fixed 64 partitions so every core count gets
  the same splits) and its 9 corpus jobs written to the noop sink, best of 2
  per job, against the side's package. The documents table is read from
  ``$SPARK_GRAFT_SF_DIR``. Core scaling is ``ab.py .:8 .:32 --workload rung``.

Output: one JSON line per run, then one summary line per metric present on
both sides (old refs carry other metric sets): A and B median and quartiles,
the per-pair B/A ratio median and how many pairs B won. Direction comes from
``BENCHMARK.json`` ``better``; otherwise ``*_events_per_sec`` is higher-is-
better and everything else (walls) lower-is-better. ``perfbench`` workloads
add one ``ops`` line with failed/attempted operations per side.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("bench", "market_stream", "market_batch", "rung")

#: the rung child: runs with its side's tree as cwd, so ``-c`` puts that
#: tree's package first on sys.path
RUNG_CHILD = r"""
import json, os, sys, time

from pyspark.sql import functions as F
from crypto_market_data_etl_spark.schemas import load_table
from crypto_market_data_etl_spark.session import get_spark
from crypto_market_data_etl_spark.operators.dedup import (
    chunk_dedup, minhash_jaccard_pairs, span_dedup,
)
from crypto_market_data_etl_spark.operators.contamination import (
    bloom_contamination_report, contamination_report, cross_corpus_neardup,
)
from crypto_market_data_etl_spark.operators.retrieval import bm25_topk
from crypto_market_data_etl_spark.operators.sampling import dsir_logratios
from crypto_market_data_etl_spark.operators.text import ngram_lm_scores

REPS, INNER = 20, 2
spark = get_spark(app_name="ab_rung")
docs = load_table(spark, os.environ["SPARK_GRAFT_SF_DIR"], "documents").select("doc_id", "text")
big = None
for i in range(REPS):
    r = docs.select(
        (F.col("doc_id") + F.lit(i * 1_000_000)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(f" rep{i}")).alias("text"),
    )
    big = r if big is None else big.unionByName(r)
# FIXED partition count: identical splits at every core count
big = big.repartition(64).localCheckpoint()
print(f"# corpus: {big.count()} docs ({REPS}x)", file=sys.stderr)

first = F.col("doc_id") < 1_000_000
queries = big.filter(first & (F.col("doc_id") % 29 == 3)).select(
    F.col("doc_id").alias("q_id"),
    F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 6)).alias("q_text"),
)
bench = big.filter(first & (F.col("doc_id") % 50 == 0)).localCheckpoint()
bench.count()

JOBS = {
    "x02_minhash_pairs": lambda: minhash_jaccard_pairs(big),
    "x22_contamination": lambda: contamination_report(big, bench),
    "x26_bloom_contamination": lambda: bloom_contamination_report(big, bench),
    "x28_chunk_dedup": lambda: chunk_dedup(big),
    "x36_ngram_lm": lambda: ngram_lm_scores(big),
    "x37_bm25_topk": lambda: bm25_topk(big, queries),
    "x38_cross_corpus_neardup": lambda: cross_corpus_neardup(big, bench),
    "x39_dsir_weights": lambda: dsir_logratios(big, F.col("doc_id") % 5 == 0),
    "x41_span_dedup": lambda: span_dedup(big),
}
out = {}
for name, job in JOBS.items():
    best = float("inf")
    for _ in range(INNER):
        spark.sparkContext.setJobDescription(f"rung:{name}")
        t0 = time.time()
        job().write.format("noop").mode("overwrite").save()
        best = min(best, time.time() - t0)
        spark.catalog.clearCache()
    out[name] = round(best, 3)
    print(f"# {name}: {out[name]}s", file=sys.stderr)
print(json.dumps(out), flush=True)
spark.stop()
"""


def parse_side(spec: str) -> tuple[str, int | None]:
    """``"HEAD:8"`` -> ``("HEAD", 8)``; ``"."`` -> ``(".", None)``."""
    ref, sep, cores = spec.rpartition(":")
    if sep and cores.isdigit():
        return ref, int(cores)
    return spec, None


def _quantile(xs: list[float], p: float) -> float:
    """Linear-interpolation quantile (numpy's default method)."""
    s = sorted(xs)
    pos = p * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def _spread(xs: list[float]) -> dict:
    return {k: round(_quantile(xs, p), 4) for k, p in (("q1", 0.25), ("median", 0.5), ("q3", 0.75))}


def direction(metric: str, better: dict[str, str]) -> str:
    if metric in better:
        return better[metric]
    return "higher" if metric.endswith("_events_per_sec") else "lower"


def summarize(a_runs: list[dict], b_runs: list[dict], better: dict[str, str]) -> list[dict]:
    """One summary per metric both sides report; runs are paired by index."""
    keys = [k for k in a_runs[0] if all(k in r for r in a_runs + b_runs)]
    out = []
    for k in keys:
        a = [r[k] for r in a_runs]
        b = [r[k] for r in b_runs]
        d = direction(k, better)
        wins = sum((y < x) if d == "lower" else (y > x) for x, y in zip(a, b))
        ratios = [y / x for x, y in zip(a, b) if x]
        out.append({
            "metric": k, "better": d, "A": _spread(a), "B": _spread(b),
            "ratio_median": round(_quantile(ratios, 0.5), 4) if ratios else None,
            "b_better": f"{wins}/{len(a)}",
        })
    return out


def metrics_of(workload: str, stdout: str) -> tuple[dict, dict | None]:
    """The metric dict (and perfbench's op counts) from a run's last JSON line."""
    last = json.loads(next(ln for ln in reversed(stdout.splitlines()) if ln.startswith("{")))
    if workload == "bench":
        rates = {k: v for k, v in last.items() if k.endswith("_events_per_sec")}
        return {"total": last["value"], **last["queries"], **rates}, None
    if workload == "rung":
        return last, None
    return ({k: v["value"] for k, v in last["metrics"].items()},
            {"failed": last["failed"], "attempted": last["attempted"]})


def command(workload: str, cores: int | None, pair: int, run_seconds: float) -> tuple[list, dict]:
    env = dict(os.environ)
    if cores is not None:
        env["SPARK_GRAFT_CPUS"] = str(cores)
    if workload == "bench":
        return [sys.executable, "bench.py"], env
    if workload == "rung":
        return [sys.executable, "-c", RUNG_CHILD], env
    argv = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(pair),
            "--seconds", str(run_seconds), "--trace", "0"]
    if cores is not None:
        argv += ["--cpus", str(cores)]
    return argv, env


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("a", help="side A: <git ref>[:<cores>], '.' = working tree")
    ap.add_argument("b", help="side B: <git ref>[:<cores>], '.' = working tree")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workload", choices=WORKLOADS, default="bench")
    args = ap.parse_args(argv)
    if args.workload == "rung" and "SPARK_GRAFT_SF_DIR" not in os.environ:
        ap.error("--workload rung reads the documents table from $SPARK_GRAFT_SF_DIR (an sf0.1 fixture dir)")

    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    specs = {"A": args.a, "B": args.b}
    sides = {side: parse_side(spec) for side, spec in specs.items()}

    tmp = tempfile.mkdtemp(prefix="ab_")
    trees: dict[str, str] = {".": REPO}
    runs: dict[str, list[dict]] = {"A": [], "B": []}
    ops: dict[str, dict] = {"A": {"failed": 0, "attempted": 0}, "B": {"failed": 0, "attempted": 0}}
    try:
        for ref, _ in sides.values():
            if ref not in trees:
                trees[ref] = os.path.join(tmp, f"tree{len(trees)}")
                subprocess.run(["git", "worktree", "add", "--detach", trees[ref], ref],
                               cwd=REPO, check=True, stdout=subprocess.DEVNULL)
        for pair in range(1, args.pairs + 1):
            for side in ("A", "B") if pair % 2 else ("B", "A"):
                ref, cores = sides[side]
                cmd, env = command(args.workload, cores, pair, spec["run_seconds"])
                t0 = time.time()
                p = subprocess.run(cmd, cwd=trees[ref], env=env, capture_output=True, text=True, timeout=3600)
                if p.returncode != 0:
                    sys.stderr.write(p.stderr[-3000:])
                    raise SystemExit(f"side {side} ({ref}) pair {pair} exited {p.returncode}")
                vals, counts = metrics_of(args.workload, p.stdout)
                runs[side].append(vals)
                for k, v in (counts or {}).items():
                    ops[side][k] += v
                print(json.dumps({"pair": pair, "side": side, "spec": specs[side],
                                  "run_s": round(time.time() - t0, 1), **(counts or {}), **vals}), flush=True)
    finally:
        for ref, tree in trees.items():
            if ref != ".":
                subprocess.run(["git", "worktree", "remove", "--force", tree], cwd=REPO, capture_output=True)
        subprocess.run(["git", "worktree", "prune"], cwd=REPO, capture_output=True)
        shutil.rmtree(tmp, ignore_errors=True)

    for s in summarize(runs["A"], runs["B"], better):
        print(json.dumps({"summary": s.pop("metric"), **s}), flush=True)
    if args.workload.startswith("market_"):
        print(json.dumps({"summary": "ops", "A": ops["A"], "B": ops["B"]}), flush=True)


if __name__ == "__main__":
    main()
