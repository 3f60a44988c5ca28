"""Scale rung for the streaming near-dup VERIFY arm (round-10 verdict #4).

Measures `stream_neardup_verified` against a large static corpus with a
flagged-heavy stream, contrasting the r11 persisted `CorpusVerifyIndex`
path (corpus shingles/bands/sizes built once at wiring time) with the r10
per-trigger re-shingle path, across stream volumes at a FIXED flagged
count. Claims under test:

1. verify cost is bounded by the flagged count, not stream volume —
   per-trigger wall stays ~flat when the unflagged stream volume grows 4x;
2. the persisted-index path removes the O(corpus)-per-trigger re-shingle
   (index triggers much cheaper than re-shingle triggers, and the gap is
   the corpus pass);
3. the two paths are verdict-identical (asserted per trigger here AND by
   tests/test_streaming.py::test_verify_neardup_corpus_index_path_oracle_equal).

Stream shape per trigger: `flagged` near-dup docs (corpus doc text with a
one-token tail edit -> band collision + true jaccard >= threshold) plus
`clean_per_trigger` novel docs that share no shingles with the corpus.

Usage: python tools/scale_stream_verify_run.py [--corpus 100000]
         [--flagged 50] [--clean 2000,8000] [--triggers 3]
Emits one JSON line per (path, clean_volume) rung + a summary line;
record_scale.py folds these into SCALE_r{N}.json's stream_verify section.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from crypto_market_data_etl_spark.session import get_spark  # noqa: E402
from tools.corpus_fixtures import zipf_docs  # noqa: E402


def _stream_rows(spark, corpus, trigger: int, n_flagged: int, n_clean: int,
                 base_id: int, flagged_mod: int = 997):
    """One trigger's documents: n_flagged near-dups of distinct corpus docs
    (tail token swapped -> shares all-but-one shingle) + n_clean novel docs
    (fresh vocabulary, zero shingle overlap). ``flagged_mod`` picks the
    residue-class width of the corpus slice the near-dups derive from —
    it must satisfy corpus/flagged_mod >= n_flagged or the flagged count
    silently caps (the r12 flagged-axis rung uses 97 so the 500-flagged
    point is real)."""
    src = (
        corpus.filter(F.col("doc_id") % flagged_mod == trigger % flagged_mod)
        .limit(n_flagged)
        .select(
            (F.lit(base_id) + F.monotonically_increasing_id()).alias("doc_id"),
            F.concat(
                F.substring_index(F.col("text"), " ", 20),
                F.lit(f" edited{trigger}"),
            ).alias("text"),
        )
    )
    clean = spark.range(n_clean).select(
        (F.lit(base_id + 1_000_000) + F.col("id")).alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(F.lit(f"novel{trigger}_"),
                         F.pmod(F.xxhash64(F.col("id") * 31 + i), F.lit(50_000)))
                for i in range(12)
            ],
        ).alias("text"),
    )
    return src.unionByName(clean).withColumn(
        "ingest_ts", F.timestamp_seconds(F.lit(1_700_000_000 + trigger))
    )


def run_path(spark, corpus, *, reuse_index: bool, n_flagged: int,
             n_clean: int, n_triggers: int, threshold: float,
             flagged_mod: int = 997) -> dict:
    from crypto_market_data_etl_spark.streaming.corpus import (
        stream_neardup_verified,
    )

    tmp = tempfile.mkdtemp(prefix="stream_verify_")
    docs_path, ckpt = f"{tmp}/docs", f"{tmp}/ckpt"
    # seed file so the stream has a schema source
    _stream_rows(spark, corpus, 0, n_flagged, n_clean, 10_000_000,
                 flagged_mod).coalesce(
        1
    ).write.mode("overwrite").parquet(docs_path)

    stream = (
        spark.readStream.schema(spark.read.parquet(docs_path).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_path)
    )
    stats = {"rows": 0, "verified": 0, "neardup": 0}

    def sink(batch_df, batch_id):
        agg = batch_df.agg(
            F.count(F.lit(1)),
            F.sum(F.col("verified").cast("int")),
            F.sum(F.col("neardup").cast("int")),
        ).collect()[0]
        stats["rows"] += agg[0] or 0
        stats["verified"] += agg[1] or 0
        stats["neardup"] += agg[2] or 0

    t_wire = time.time()
    q = stream_neardup_verified(
        stream, corpus, sink, threshold=threshold, watermark="0 seconds",
        checkpoint=ckpt, query_name="scale_verify",
        reuse_corpus_index=reuse_index,
    )
    trigger_walls = []
    try:
        t0 = time.time()
        q.processAllAvailable()
        wire_plus_first = time.time() - t_wire
        trigger_walls.append(round(time.time() - t0, 3))
        for tr in range(1, n_triggers):
            _stream_rows(
                spark, corpus, tr, n_flagged, n_clean,
                10_000_000 + tr * 2_000_000, flagged_mod,
            ).coalesce(1).write.mode("append").parquet(docs_path)
            t0 = time.time()
            q.processAllAvailable()
            trigger_walls.append(round(time.time() - t0, 3))
    finally:
        q.stop()
        shutil.rmtree(tmp, ignore_errors=True)
    steady = trigger_walls[1:] or trigger_walls
    per_trigger = sum(steady) / len(steady)
    rows_per_trigger = n_flagged + n_clean
    return {
        "path": "index" if reuse_index else "reshingle",
        "clean_per_trigger": n_clean,
        "flagged_per_trigger": n_flagged,
        "triggers": n_triggers,
        "wire_plus_first_trigger_s": round(wire_plus_first, 2),
        "steady_trigger_walls_s": steady,
        "per_trigger_s": round(per_trigger, 3),
        "events_per_sec": int(rows_per_trigger / per_trigger),
        "rows_seen": stats["rows"],
        "neardup_flagged": stats["neardup"],
        "verified_true": stats["verified"],
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", type=int, default=100_000)
    ap.add_argument("--flagged", type=int, default=50)
    ap.add_argument("--clean", default="2000,8000")
    ap.add_argument("--triggers", type=int, default=3)
    ap.add_argument("--threshold", type=float, default=0.5)
    ap.add_argument(
        "--flagged-axis", default=None, dest="flagged_axis",
        help="comma list of flagged counts (e.g. 0,5,50,500): runs the "
        "INDEX path at FIXED stream volume (first --clean value) varying "
        "only the flagged count — the second axis of the O(flagged) claim "
        "(r11 verdict ask #3). flagged=0 isolates the per-trigger FLOOR "
        "(gate + verify wiring with an empty candidate set); pair with a "
        "small --corpus run to attribute the floor's corpus-side share.",
    )
    args = ap.parse_args()

    spark = get_spark(app_name="scale_stream_verify")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    corpus = zipf_docs(spark, args.corpus)
    corpus.count()

    if args.flagged_axis is not None:
        n_clean = int(args.clean.split(",")[0])
        axis = [int(x) for x in args.flagged_axis.split(",")]
        # discarded warm-up pass: the session's first streaming query pays
        # JIT/codegen/shuffle-infra warm-up (~2-3x on the first rung's
        # walls — measured: the first axis point read 29 s cold vs 8 s
        # when the same config ran later in-session); burn it on a rung
        # that isn't recorded so the axis points are comparable
        run_path(
            spark, corpus, reuse_index=True, n_flagged=5, n_clean=500,
            n_triggers=2, threshold=args.threshold, flagged_mod=97,
        )
        rungs = []
        for n_flagged in axis:
            r = run_path(
                spark, corpus, reuse_index=True, n_flagged=n_flagged,
                n_clean=n_clean, n_triggers=args.triggers,
                threshold=args.threshold, flagged_mod=97,
            )
            r["corpus_docs"] = args.corpus
            rungs.append(r)
            print(json.dumps(r), flush=True)
        by = {r["flagged_per_trigger"]: r for r in rungs}
        floor = by.get(0)
        summary = {
            "job": "summary_flagged_axis",
            "corpus_docs": args.corpus,
            "clean_per_trigger": n_clean,
            "per_trigger_s_by_flagged": {
                str(f): by[f]["per_trigger_s"] for f in axis
            },
        }
        if floor is not None:
            summary["floor_per_trigger_s"] = floor["per_trigger_s"]
            summary["verify_share_by_flagged"] = {
                str(f): round(by[f]["per_trigger_s"] - floor["per_trigger_s"], 3)
                for f in axis
                if f
            }
        print(json.dumps(summary), flush=True)
        spark.stop()
        return

    # discarded warm-up pass (same rule as the flagged-axis branch): the
    # session's first streaming query pays JIT/codegen/shuffle-infra
    # warm-up ~2-3x — burn it unrecorded so the volume axis is comparable
    run_path(
        spark, corpus, reuse_index=True, n_flagged=5, n_clean=500,
        n_triggers=2, threshold=args.threshold, flagged_mod=97,
    )
    rungs = []
    for n_clean in [int(x) for x in args.clean.split(",")]:
        for reuse in (True, False):
            r = run_path(
                spark, corpus, reuse_index=reuse, n_flagged=args.flagged,
                n_clean=n_clean, n_triggers=args.triggers,
                threshold=args.threshold,
            )
            r["corpus_docs"] = args.corpus
            rungs.append(r)
            print(json.dumps(r), flush=True)

    # verdict parity across paths at equal volume (rule 3)
    by = {(r["path"], r["clean_per_trigger"]): r for r in rungs}
    parity = all(
        by[("index", c)]["verified_true"] == by[("reshingle", c)]["verified_true"]
        and by[("index", c)]["neardup_flagged"]
        == by[("reshingle", c)]["neardup_flagged"]
        for c in {r["clean_per_trigger"] for r in rungs}
    )
    vols = sorted({r["clean_per_trigger"] for r in rungs})
    summary = {
        "job": "summary",
        "verdict_parity_index_vs_reshingle": parity,
        "index_trigger_flat_vs_volume": round(
            by[("index", vols[-1])]["per_trigger_s"]
            / by[("index", vols[0])]["per_trigger_s"],
            2,
        ),
        "volume_ratio": round(vols[-1] / vols[0], 2),
        "reshingle_over_index_per_trigger": {
            str(c): round(
                by[("reshingle", c)]["per_trigger_s"]
                / by[("index", c)]["per_trigger_s"],
                2,
            )
            for c in vols
        },
        # the r12 floor attribution claimed the fixed per-trigger cost
        # "amortizes with trigger size" from wiring analysis alone; this
        # row MEASURES it — per-document wall on the index path must fall
        # as the trigger grows (r12 verdict ask #5)
        "index_ms_per_doc_by_clean": {
            str(c): round(
                1000.0
                * by[("index", c)]["per_trigger_s"]
                / (c + by[("index", c)]["flagged_per_trigger"]),
                3,
            )
            for c in vols
        },
    }
    print(json.dumps(summary), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
