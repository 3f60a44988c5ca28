"""Record the scale-evidence artifact (SCALE_r{N}.json).

The 100x-design claims in the operator docstrings (blocked window forms,
adaptive as-of tiering, capped LSH) were previously backed only by one-off
numbers quoted in docstrings. This runs the two scale harnesses at a ladder
of sizes and writes one committed JSON artifact:

- market ladder (tools/gen_market_fixture.py + tools/scale_market_run.py):
  plain vs blocked market stats and plain vs tuned (blocked + adaptive
  as-of) preprocess at each size — the crossover where the skew-proof forms
  overtake the single-window forms is visible in the walls.
- corpus ladder (tools/scale_corpus_run.py): the dedup/hygiene family at
  1x/4x/20x sf0.1 — linearity evidence (no quadratic blow-up from pair
  generation).
- skew rungs (tools/scale_skew_run.py): a 5000-copy exact-dup hot LSH
  bucket against a far-smaller cap (dropped-membership count observed +
  chain-pair connectivity asserted) and a --hot-frac 0.95 market rung
  (blocked-vs-plain under a Zipfian hot instrument).
- bpe batching rung (tools/scale_bpe_run.py): same merge budget at
  merges_per_pass 1/8/32 — driver passes and wall must drop ~m x.
- ANN ladder (tools/scale_ann_run.py): warm-denominator recall-vs-cost
  sweeps with scan-bytes columns — 400k BoW m8 anchor + the r11 m16/OPQ
  isolation rungs, 1.6M BoW, 6.4M clustered scan-law, 6.4M BoW m8 anchor
  + m16 deep-probe champion; rungs whose code paths are unchanged since
  r10 carry "inherited" pointers instead of re-burning the budget.
- connected-components, stateful key-cardinality, retrieval max-score,
  and streaming near-dup verify (tools/scale_stream_verify_run.py) rungs.

Usage: python tools/record_scale.py [out.json]
Runs are sequential in fresh processes (one Spark session each) so walls
are not cross-polluted.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: (label, n_trades, n_orderbooks) — hot-key skew at the default --hot-frac
MARKET_LADDER = [
    ("2M", 2_000_000, 1_000_000),
    ("8M", 8_000_000, 4_000_000),
    ("20M", 20_000_000, 10_000_000),
]

#: documents-table replication factors (sf0.1 = 5k docs)
CORPUS_LADDER = [4, 20, 40]

MARKET_JOBS = (
    "candles,stats_plain,stats_blocked,stats_auto,"
    "preprocess,preprocess_tuned,preprocess_auto"
)


def run(cmd: list[str]) -> str:
    """Run one rung subprocess; on failure/timeout return what stdout there
    was instead of raising — one dead rung must not lose the whole
    artifact (every section records per-job lines, so a partial section is
    visibly partial, and FAILED markers land in the JSON via the caller's
    line filter skipping them while stderr tails the reason)."""
    print("$", " ".join(cmd), file=sys.stderr, flush=True)
    try:
        p = subprocess.run(
            cmd, cwd=REPO, capture_output=True, text=True, timeout=3600
        )
    except subprocess.TimeoutExpired as exc:
        print(f"TIMEOUT after 3600s: {cmd}", file=sys.stderr, flush=True)
        out = exc.stdout
        return out.decode() if isinstance(out, bytes) else (out or "")
    if p.returncode != 0:
        print(p.stderr[-4000:], file=sys.stderr)
        print(f"FAILED rc={p.returncode}: {cmd}", file=sys.stderr, flush=True)
    return p.stdout


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, "SCALE_r11.json")
    artifact: dict = {
        "host": "local[32]", "market": [], "corpus": [], "skew": {}, "bpe": [],
    }

    for label, n_tr, n_ob in MARKET_LADDER:
        fixture = f"/tmp/market_fixture_{label}"
        if not os.path.exists(os.path.join(fixture, "trades.parquet")):
            run([
                sys.executable, "tools/gen_market_fixture.py", fixture,
                "--trades", str(n_tr), "--orderbooks", str(n_ob),
            ])
        # best-of-3 (round-11): the auto-vs-best adjudication compares arms
        # whose true walls differ by ~15% on a box with a documented ~2x
        # run-to-run swing; min-of-2 regularly left one arm with no clean
        # sample (r10: stats@20M auto read 1.17x a blocked arm running the
        # IDENTICAL span). The memoized probes mean rep 1 pays the stats
        # pass once and reps 2-3 time the pure plan.
        stdout = run([
            sys.executable, "tools/scale_market_run.py", fixture,
            "--jobs", MARKET_JOBS, "--best-of", "3",
        ])
        entry = {"label": label, "trades": n_tr, "orderbooks": n_ob, "jobs": {}}
        for line in stdout.splitlines():
            line = line.strip()
            if line.startswith("{"):
                d = json.loads(line)
                if "job" in d:
                    entry["jobs"][d["job"]] = {"sec": d["sec"], "rows": d["rows"]}
                elif "auto_knobs" in d:
                    entry["auto_knobs"] = d["auto_knobs"]
        artifact["market"].append(entry)

    for reps in CORPUS_LADDER:
        stdout = run([sys.executable, "tools/scale_corpus_run.py", str(reps)])
        entry = {"reps": reps, "jobs": {}}
        for line in stdout.splitlines():
            m = re.match(r"corpus: (\d+) docs", line)
            if m:
                entry["docs"] = int(m.group(1))
            m = re.match(r"(\w+): ([0-9.]+)s rows=(\d+)", line)
            if m:
                entry["jobs"][m.group(1)] = {
                    "sec": float(m.group(2)), "rows": int(m.group(3))
                }
        artifact["corpus"].append(entry)

    # skew rungs: hot LSH bucket (cap + chain connectivity) and a 0.95
    # hot-instrument market fixture (blocked forms must engage and win)
    stdout = run([sys.executable, "tools/scale_skew_run.py", "corpus"])
    for line in stdout.splitlines():
        if line.strip().startswith("{"):
            artifact["skew"]["corpus_hot_bucket"] = json.loads(line)
    skew_fixture = "/tmp/market_fixture_skew"
    if not os.path.exists(os.path.join(skew_fixture, "trades.parquet")):
        run([
            sys.executable, "tools/gen_market_fixture.py", skew_fixture,
            "--trades", "8000000", "--orderbooks", "4000000",
            "--hot-frac", "0.95",
        ])
    stdout = run([sys.executable, "tools/scale_skew_run.py", "market", skew_fixture])
    mkt: dict = {"jobs": {}}
    for line in stdout.splitlines():
        if line.strip().startswith("{"):
            d = json.loads(line)
            if "job" in d:
                mkt["jobs"][d["job"]] = {"sec": d["sec"], "rows": d["rows"]}
            else:
                mkt.update(d)
    if {"market_stats_plain", "market_stats_blocked"} <= set(mkt["jobs"]):
        mkt["blocked_speedup"] = round(
            mkt["jobs"]["market_stats_plain"]["sec"]
            / mkt["jobs"]["market_stats_blocked"]["sec"], 2,
        )
    artifact["skew"]["market_hot95"] = mkt

    # bpe merge-batching rung
    stdout = run([sys.executable, "tools/scale_bpe_run.py"])
    for line in stdout.splitlines():
        if line.strip().startswith("{"):
            artifact["bpe"].append(json.loads(line))

    # zipf-vocabulary corpus rung (same job list, stop-word-shaped terms)
    stdout = run([
        sys.executable, "tools/scale_corpus_run.py", "20",
        "minhash_jaccard_pairs,chunk_dedup,span_dedup,bm25_topk", "2", "--zipf",
    ])
    zentry: dict = {"jobs": {}}
    for line in stdout.splitlines():
        m = re.match(r"corpus: (\d+) docs", line)
        if m:
            zentry["docs"] = int(m.group(1))
        m = re.match(r"(\w+): ([0-9.]+)s rows=(\d+)", line)
        if m:
            zentry["jobs"][m.group(1)] = {
                "sec": float(m.group(2)), "rows": int(m.group(3))
            }
    artifact["corpus_zipf"] = zentry

    # ANN rung: planted near-dup retrieval (200k) + recall-vs-cost sweep
    ann: dict = {
        "note": (
            "tools/scale_ann_run.py — deterministic 64-dim vectors; the "
            "default rung plants near-dup queries (cos ~ 0.9998); --sweep "
            "records overall and TAIL recall@k (planted pairs excluded — "
            "the general-kNN task) per (n_tables x planes / n_probe) config"
        ),
        "jobs": {},
        "sweep": {},
    }
    stdout = run([sys.executable, "tools/scale_ann_run.py"])
    for line in stdout.splitlines():
        if line.strip().startswith("{"):
            d = json.loads(line)
            if "job" in d:
                ann["jobs"][d.pop("job")] = d
    # the 100k sweep trio (uniform / clustered / bow) is code-path-stable
    # since r8 and re-measured through r10; r11's round budget goes to the
    # new levers (m16, OPQ, deep probes) and the >=1.6M rungs instead
    ann["sweep"] = ann["sweep_clustered"] = ann["sweep_bow"] = {
        "inherited": "unchanged code path — see SCALE_r10.json for the "
        "committed 100k uniform/clustered/bow sweeps"
    }
    # centered-ADC crossover rung: 400k BoW vectors, filtered to the PQ
    # family (the 400k band-OR/IVF walls are not worth recording twice) —
    # raw-ADC recall degrades with N while centered-ADC holds usable
    # recall at ~1/3 brute cost
    ann["sweep_bow_400k"] = {
        "note": (
            "--bow --vectors 400000 --cells 632 --assign-r 2 --tiers "
            "crivfpq — the m8 residual-IVFADC anchor at 400k (same-session "
            "baseline for the r11 m16/OPQ lever comparisons; the full "
            "pq/cpq/civfpq family ladder is unchanged since r10 — see "
            "SCALE_r10.json sweep_bow_400k). Cost protocol: every ratio is "
            "cost_vs_brute_warm (interleaved minimum denominator), and "
            "each coded line records scan_bytes_per_q / "
            "scan_frac_vs_brute — the cluster-scale cost metric"
        ),
        "jobs": {},
    }
    stdout = run([
        sys.executable, "tools/scale_ann_run.py", "--sweep",
        "--vectors", "400000", "--queries", "200", "--bow",
        "--cells", "632", "--assign-r", "2",
        "--tiers", "crivfpq",
    ])
    for line in stdout.splitlines():
        if line.strip().startswith("{"):
            d = json.loads(line)
            if "job" in d:
                ann["sweep_bow_400k"]["jobs"][d.pop("job")] = d
    # the >=1.6M rungs (round-10 verdict #1): the scale where index
    # artifacts genuinely pay against a WARM brute denominator — BoW
    # (hostile: shared stop-word mass) and clustered (production regime)
    # round-11 code-capacity levers at 400k (verdict #3): m16 codebooks
    # (double code bytes, halve per-block quantization error) and the
    # OPQ-lite rotation (Ge et al. 2013 eigenvalue allocation) — measured
    # in isolation at 400k before committing the 6.4M champion config
    ann["sweep_bow_400k_m16"] = {
        "note": (
            "--bow --vectors 400000 --cells 632 --assign-r 2 --m 16 "
            "--tiers crivfpq2_m16 — the code-capacity lever in isolation: "
            "m16 residual codebooks (16 bytes/vec vs 8) at the r10 "
            "champion's cells/assign-r, including the deep probe/rerank "
            "ladder to the 0.5%-scan-budget edge"
        ),
        "jobs": {},
    }
    stdout = run([
        sys.executable, "tools/scale_ann_run.py", "--sweep",
        "--vectors", "400000", "--queries", "200", "--bow",
        "--cells", "632", "--assign-r", "2", "--m", "16",
        "--tiers", "crivfpq2_m16",
    ])
    for line in stdout.splitlines():
        if line.strip().startswith("{"):
            d = json.loads(line)
            if "job" in d:
                ann["sweep_bow_400k_m16"]["jobs"][d.pop("job")] = d
    ann["sweep_bow_1m6"] = {
        "note": (
            "--bow --vectors 1600000 --cells 1265 --assign-r 2 --tiers "
            "cpq,civfpq,crivfpq — 1.6M hashed-BoW vectors, sqrt-N cells, "
            "multi-assignment; ratios are warm-denominator "
            "(cost_vs_brute_warm) with scan_bytes_per_q alongside"
        ),
        "jobs": {},
    }
    stdout = run([
        sys.executable, "tools/scale_ann_run.py", "--sweep",
        "--vectors", "1600000", "--queries", "200", "--bow",
        "--cells", "1265", "--assign-r", "2",
        "--tiers", "cpq,civfpq,crivfpq",
    ])
    for line in stdout.splitlines():
        if line.strip().startswith("{"):
            d = json.loads(line)
            if "job" in d:
                ann["sweep_bow_1m6"]["jobs"][d.pop("job")] = d
    ann["sweep_clustered_6m4"] = {
        "note": (
            "--clustered 1600 --vectors 6400000 --cells 2530 --tiers "
            "rivfpq — the scan-law rung: cells ∝ sqrt(N) makes the coded "
            "tier's per-query scan FRACTION shrink as the corpus grows "
            "(1.6M: 0.038% of brute bytes → 6.4M: 0.011% at equal "
            "probe8/recall≈0.84-0.89); the cost curve that matters at "
            "100 TB bends the right way with N"
        ),
        "jobs": {},
    }
    stdout = run([
        sys.executable, "tools/scale_ann_run.py", "--sweep",
        "--vectors", "6400000", "--queries", "200", "--clustered", "1600",
        "--cells", "2530",
        "--tiers", "rivfpq",
    ])
    for line in stdout.splitlines():
        if line.strip().startswith("{"):
            d = json.loads(line)
            if "job" in d:
                ann["sweep_clustered_6m4"]["jobs"][d.pop("job")] = d
    ann["sweep_bow_6m4"] = {
        "note": (
            "--bow --vectors 6400000 --cells 2530 --assign-r 2 --tiers "
            "crivfpq2_m8k64_probe96 — the m8 cross-N anchor (champion "
            "config only; r10 ran the full m8 ladder here): recall decays "
            "slowly with N at fixed probes (0.90 @400k → 0.86 @1.6M → "
            "0.77 @6.4M in r10) while the scan fraction shrinks ~2.4x "
            "per 4x N"
        ),
        "jobs": {},
    }
    stdout = run([
        sys.executable, "tools/scale_ann_run.py", "--sweep",
        "--vectors", "6400000", "--queries", "200", "--bow",
        "--cells", "2530", "--assign-r", "2",
        "--tiers", "crivfpq2_m8k64_probe96",
    ])
    for line in stdout.splitlines():
        if line.strip().startswith("{"):
            d = json.loads(line)
            if "job" in d:
                ann["sweep_bow_6m4"]["jobs"][d.pop("job")] = d
    # round-11 verdict #3: the code-capacity champion at the hostile 6.4M
    # rung — m16 residual codebooks + the deep probe/rerank ladder to the
    # 0.5%-scan-budget edge (scan fractions shrink ~2.4x per 4x N, so the
    # 400k ladder's 2% points land well under 0.5% here)
    ann["sweep_bow_6m4_m16"] = {
        "note": (
            "--bow --vectors 6400000 --cells 2530 --assign-r 2 --m 16 "
            "--tiers crivfpq2_m16 — m16 doubles code bytes per vector "
            "(16 vs 8), halving per-block quantization error"
        ),
        "jobs": {},
    }
    stdout = run([
        sys.executable, "tools/scale_ann_run.py", "--sweep",
        "--vectors", "6400000", "--queries", "200", "--bow",
        "--cells", "2530", "--assign-r", "2", "--m", "16",
        "--tiers", "crivfpq2_m16",
    ])
    for line in stdout.splitlines():
        if line.strip().startswith("{"):
            d = json.loads(line)
            if "job" in d:
                ann["sweep_bow_6m4_m16"]["jobs"][d.pop("job")] = d
    # 1.6M clustered (plain-vs-residual dominance) is unchanged since r10;
    # the r11 clustered evidence is the fresh 6.4M scan-law rung above
    ann["sweep_clustered_1m6"] = {
        "inherited": "unchanged code path — see SCALE_r10.json "
        "sweep_clustered_1m6 (residual IVFADC strictly dominates plain "
        "IVF+PQ at equal probes/cost on the clustered regime)"
    }
    # residual-IVFADC interleaved A/B (round-9): brute runs IN the rotation
    # (the sweep's single-shot brute reference varied 6-20 s same-box —
    # session warmth; here the denominator is best-of-N on identical state),
    # plus the controlled code-space ablation civfpq-vs-crivfpq at equal
    # cells/probes/shortlist
    # the three 400k A/B harnesses (residual code-space ablation, k-means||
    # seeding, IVF+PQ composition) are committed r9/r10 adjudications on
    # unchanged code paths; re-running them would re-measure the same code
    ann["ab_bow_residual_400k"] = {
        "inherited": "unchanged code path — see SCALE_r10.json "
        "ab_bow_residual_400k (residual codes +1-2 recall pts at equal "
        "config; the one-off A/B tool that measured it is in git history)"
    }
    ann["ab_kmpp_seeding_400k"] = {
        "inherited": "unchanged code path — see SCALE_r10.json "
        "ab_kmpp_seeding_400k (recall wash on uniform-mass BoW, cell "
        "balance p99 -16%; the one-off A/B tool that measured it is in "
        "git history)"
    }
    ann["ivfpq_400k"] = {
        "inherited": "unchanged code path — see SCALE_r10.json ivfpq_400k "
        "(probe4+rerank400 bit-identical to the full-scan PQ point at a "
        "fraction of the wall; the one-off rung tool that measured it is "
        "in git history)"
    }
    artifact["ann"] = ann

    # connected-components distributed-tier rung (round-9): per-round edge
    # shrink + wall of the star-contraction loop on a 6M-edge mixed-topology
    # fixture, with the numpy-kernel ground truth asserted identical
    artifact["cc_distributed"] = {
        "note": (
            "tools/scale_cc_run.py — chains (depth) + cliques (volume) + "
            "random blocks above the driver threshold; round_stats from the "
            "operator itself; label equality vs the numpy fixpoint asserted"
        ),
        "jobs": {},
        "rounds": [],
    }
    stdout = run([sys.executable, "tools/scale_cc_run.py"])
    for line in stdout.splitlines():
        if line.strip().startswith("{"):
            d = json.loads(line)
            if d.get("job") == "cc_round":
                d.pop("job")
                artifact["cc_distributed"]["rounds"].append(d)
            elif "job" in d:
                artifact["cc_distributed"]["jobs"][d.pop("job")] = d

    # stateful key-cardinality rung: per-key vs bucketed update forms
    stdout = run([sys.executable, "tools/scale_stateful_run.py"])
    sf_jobs: dict = {}
    for line in stdout.splitlines():
        if line.strip().startswith("{"):
            e = json.loads(line)
            sf_jobs[f"{e['job']}_k{e['keys']}"] = {
                k: v for k, v in e.items() if k != "job"
            }
    artifact["stateful"] = {"jobs": sf_jobs}

    # retrieval max-score rung (Zipf corpus, stop-word-heavy queries)
    stdout = run([sys.executable, "tools/scale_retrieval_run.py"])
    artifact["retrieval_maxscore"] = [
        json.loads(line) for line in stdout.splitlines()
        if line.strip().startswith("{")
    ]

    # streaming near-dup verify-arm rung (round-10 verdict #4): 100k-doc
    # corpus, flagged-heavy stream at 1x and 4x volume — verify wall must
    # be bounded by flagged count (not stream volume), the persisted
    # CorpusVerifyIndex path oracle-equal to the per-trigger re-shingle path
    stdout = run([sys.executable, "tools/scale_stream_verify_run.py"])
    artifact["stream_verify"] = {
        "note": (
            "tools/scale_stream_verify_run.py — stream_neardup_verified at "
            "100k corpus docs: verdict parity re-shingle vs CorpusVerifyIndex "
            "asserted per trigger; trigger wall vs stream volume shows the "
            "verify arm is O(flagged x banded partners), not O(stream)"
        ),
        "rows": [
            json.loads(line) for line in stdout.splitlines()
            if line.strip().startswith("{")
        ],
    }

    # crossover summary: where the skew-proof/tiered forms overtake, and
    # whether the probe-gated auto rows track max(plain, forced) per rung
    for e in artifact["market"]:
        j = e["jobs"]
        if "market_stats_plain" in j and "market_stats_blocked" in j:
            e["blocked_speedup"] = round(
                j["market_stats_plain"]["sec"] / j["market_stats_blocked"]["sec"], 2
            )
        if "preprocess_job" in j and "preprocess_job_tuned" in j:
            e["tuned_speedup"] = round(
                j["preprocess_job"]["sec"] / j["preprocess_job_tuned"]["sec"], 2
            )
        # auto_over_best = auto_wall / min(forced arms) — LOWER IS BETTER,
        # ≤1.0 means the probe-gated auto row beat every forced arm.
        # (r10 emitted the INVERTED ratio under the ambiguous name
        # "*_auto_vs_best", which the round-10 verdict read backwards —
        # auto was in fact 14% FASTER than the best forced arm at 2M, not
        # 14% slower. Self-describing name + direction comment since.)
        # guard on EVERY job each ratio reads: run() is fault-tolerant (a
        # dead rung leaves a partial jobs dict), so an unguarded index here
        # would KeyError at the summary stage and lose the whole artifact
        if {"market_stats_auto", "market_stats_plain", "market_stats_blocked"} <= j.keys():
            e["stats_auto_over_best"] = round(
                j["market_stats_auto"]["sec"]
                / min(
                    j["market_stats_plain"]["sec"],
                    j["market_stats_blocked"]["sec"],
                ),
                2,
            )
        if {"preprocess_job_auto", "preprocess_job", "preprocess_job_tuned"} <= j.keys():
            e["preprocess_auto_over_best"] = round(
                j["preprocess_job_auto"]["sec"]
                / min(
                    j["preprocess_job"]["sec"], j["preprocess_job_tuned"]["sec"]
                ),
                2,
            )

    with open(out_path, "w") as f:
        json.dump(artifact, f, indent=2)
    print(json.dumps(artifact, indent=2))


if __name__ == "__main__":
    main()
