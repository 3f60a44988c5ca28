"""Streaming corpus ingestion: the continuous-crawl arm of the curation
pipeline (extension surface — the reference streams market data only).

A production 100 TB corpus is not rebuilt from scratch per crawl; new shards
arrive continuously and must pass the same hygiene gates incrementally. This
wires the batch curation stages (`operators/curation.py`) as one Structured
Streaming query over a document stream:

1. **Quality gate** — `text.quality_expr` is a pure projection, so it runs
   unchanged on the stream (no state).
2. **Streaming exact dedup** — content-hash `dropDuplicatesWithinWatermark`:
   re-crawled/replayed documents are dropped with state BOUNDED by the
   watermark (the streaming arm of `dedup.exact_dedup`; an unbounded
   `dropDuplicates` would grow state forever on a 100 TB crawl).
3. **Contamination flag** — document n-grams explode and probe the STATIC
   benchmark gram set via a broadcast stream-static join (the same
   broadcast shape as `contamination.contamination_report` — the stream
   side never shuffles for the probe), then one watermarked per-document
   aggregation reassembles the verdict. Grouping on the event-time column
   keeps the aggregation state watermark-cleaned; append mode emits each
   document exactly once, after its event time expires.

Near-dup canonicalization stays batch (connected components need the full
pair graph); the streaming tier handles the gates that are incremental by
nature and hands survivors to the periodic batch dedup — the standard
lambda split for corpus pipelines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.text import quality_expr


def stream_curate(
    stream_docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ingest_ts",
    quality_min: float = 0.5,
    gram_n: int = 3,
    watermark: str = "10 seconds",
) -> DataFrame:
    """Quality-gate, dedup, and contamination-flag a document STREAM.

    ``stream_docs`` must carry an event-time column ``ts_col``; ``bench`` is
    a static (batch) DataFrame of benchmark documents. Returns a streaming
    DataFrame ``(id, ts, quality, n_grams, n_hit, clean)`` — run in append
    mode; each surviving document emits once its event time passes the
    watermark. ``clean`` is the strict n_hit == 0 policy of the batch
    pipeline (stage 3 of ``curate_corpus``).
    """
    from ..materialize import materialize
    from ..operators.dedup import gram_array_expr, word_shingles

    gated = (
        stream_docs.withColumn(text_col, F.coalesce(F.col(text_col), F.lit("")))
        # watermark BEFORE the quality filter: every ingested document
        # advances event time, so a burst of low-quality input still lets
        # earlier survivors finalize
        .withWatermark(ts_col, watermark)
        .withColumn("quality", quality_expr(text_col))
        .filter(F.col("quality") >= quality_min)
        .withColumn("__h", F.md5(F.col(text_col)))
        .dropDuplicatesWithinWatermark(["__h"])
    )
    # per-doc gram array via the SHARED gram rule (dedup.gram_array_expr) —
    # the streaming probe and the batch contamination_report cannot drift;
    # explode_outer keeps gram-less docs in the output with zero counts
    staged = gated.select(
        F.col(id_col),
        F.col(ts_col),
        "quality",
        F.split(F.col(text_col), " ").alias("__toks"),
    ).select(
        id_col,
        ts_col,
        "quality",
        F.explode_outer(gram_array_expr(F.col("__toks"), gram_n)).alias("s"),
    )
    # MATERIALIZED: a stream-static join re-evaluates the static side every
    # micro-batch — without this, each trigger re-runs the bench shingle
    # explode + distinct shuffle before broadcasting
    bench_grams = F.broadcast(
        materialize(
            word_shingles(bench, id_col, text_col, gram_n, spread=False)
            .select("s")
            .distinct()
            .withColumn("__hit", F.lit(1))
        )
    )
    probed = staged.join(bench_grams, "s", "left")
    return (
        probed.groupBy(ts_col, id_col, "quality")
        .agg(
            F.sum(F.when(F.col("s").isNotNull(), 1).otherwise(0)).alias("n_grams"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hit"),
        )
        .withColumn("clean", F.col("n_hit") == 0)
    )


def stream_neardup_flag(
    stream_docs: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ingest_ts",
    shingle_n: int = 2,
    n_hashes: int = 15,
    rows_per_band: int = 3,
    watermark: str = "10 seconds",
    keep_text: bool = False,
) -> DataFrame:
    """Flag streamed documents that are MinHash-LSH near-duplicates of a
    STATIC historical corpus — the "dedup the new crawl against what we
    already have" gate, incremental where the batch pair pipeline
    (``dedup.minhash_jaccard_pairs``) is periodic.

    Index side (batch, built once and re-broadcast per trigger): corpus →
    shingles → MinHash → banded signatures → the DISTINCT (band_idx,
    band_sig) set, materialized. Index size is O(docs × bands) band keys —
    at 100 TB, point the ``corpus`` argument at a representative slice or
    partition range (crawl dedup is usually against the recent window), or
    swap the broadcast for a shuffled stream-static join by removing the
    hint; the gate's correctness is join-strategy-independent.

    Stream side: the per-doc signature is computed IN-ROW
    (``dedup.minhash_sig_cols`` — transform + array_min, a pure projection:
    no explode, no stateful agg, no extra watermark wait), bands explode,
    the index left-join flags collisions, and one watermarked per-document
    aggregation emits ``(id, ts, n_band_hits, neardup)`` exactly once in
    append mode. A collision in ANY band marks the document (the same
    candidate rule as the batch pipeline; the batch tier then
    exact-verifies candidates — :func:`stream_neardup_verified` wires that
    verify step as a foreachBatch; ``keep_text=True`` carries the text
    column through the aggregation so the verify arm can re-shingle the
    flagged documents).
    """
    from ..materialize import materialize
    from ..operators.dedup import (
        gram_array_expr,
        lsh_bands,
        minhash_sig_cols,
        minhash_signatures,
        word_shingles,
    )

    n_bands = n_hashes // rows_per_band
    index = F.broadcast(
        materialize(
            lsh_bands(
                minhash_signatures(
                    word_shingles(corpus, id_col, text_col, shingle_n, distinct=False),
                    id_col,
                    n_hashes,
                ),
                id_col,
                n_hashes,
                rows_per_band,
            )
            .select("band_idx", "band_sig")
            .distinct()
            .withColumn("__hit", F.lit(1))
        )
    )
    toks = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    carried = [text_col] if keep_text else []
    sig = (
        stream_docs.withWatermark(ts_col, watermark)
        .withColumn("__grams", gram_array_expr(toks, shingle_n))
        .select(
            id_col, ts_col, *carried, *minhash_sig_cols(F.col("__grams"), n_hashes)
        )
    )
    bands = F.array(
        *[
            F.concat_ws(
                "|", *[f"mh{b * rows_per_band + r}" for r in range(rows_per_band)]
            )
            for b in range(n_bands)
        ]
    )
    # gram-less docs have NULL minhashes -> empty concat_ws pieces would
    # fabricate a "||" band key; null the band list instead so they emit
    # with zero hits
    staged = sig.select(
        id_col,
        ts_col,
        *carried,
        F.posexplode_outer(
            F.when(F.col("mh0").isNotNull(), bands)
        ).alias("band_idx", "band_sig"),
    )
    return (
        staged.join(index, ["band_idx", "band_sig"], "left")
        # text rides the group keys (functionally dependent on the id
        # within a trigger) so the verify arm can re-shingle the doc
        .groupBy(ts_col, id_col, *carried)
        .agg(F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_band_hits"))
        .withColumn("neardup", F.col("n_band_hits") > 0)
    )


def stream_embedding_neardup_flag(
    stream_docs: DataFrame,
    index: DataFrame,
    centroids: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ingest_ts",
    dim: int = 64,
    n_probe: int = 4,
    threshold: float = 0.9,
    center_vec: list[float] | None = None,
    watermark: str = "10 seconds",
    tokenizer: str = "space",
    broadcast_index: bool = True,
) -> DataFrame:
    """Flag streamed documents that are SEMANTIC (embedding-cosine)
    near-duplicates of a static historical corpus — the embedding arm of
    :func:`stream_neardup_flag`, closing the "near-dup canonicalization
    stays batch" gap for the re-crawl case: an edited re-post whose token
    swaps dodge the MinHash bands still lands next to its source in
    embedding space.

    Index side (batch, build-once): ``index`` is an
    :func:`~..operators.similarity.ivf_index` inverted file ``(c_id, n_id,
    n_vec)`` and ``centroids`` the table it was built with — the SAME
    x53-oracle-gated operators the batch ANN tier runs, with the same
    space contract (``center_vec`` must match the build; centered
    assignment, raw-vector verdicts). The file is materialized once and
    re-joined per trigger; ``broadcast_index=False`` drops the hint for
    corpus-scale files (the stream-static equi-join on ``c_id`` then
    shuffles the static side — correctness is join-strategy-independent,
    same note as the MinHash gate).

    Stream side — every step a PURE PROJECTION until the single
    watermarked aggregation (the in-row-signature contract): the hashed-BoW
    embedding (:func:`~..operators.similarity.bow_embedding_expr`,
    bit-identical to the batch featurizer), the probe-cell selection
    (:func:`~..operators.similarity.probe_cells_expr` — the IVF cell
    rule of ``ivf_index`` as one in-row Column, which a stream can run),
    an explode over the ``n_probe`` probed cells, the c_id equi-join, and
    one per-document agg emitting ``(ts, id, n_hits, best_sim, neardup)``
    exactly once in append mode. The verdict cosine runs on RAW vectors
    (6dp-rounded) — what counts as a duplicate is identical to the batch
    :func:`~..operators.similarity.semantic_dedup`/ANN contract; zero-norm
    or empty documents emit with zero hits and NULL ``best_sim``.

    At 100 TB: the per-trigger verify work is
    ``docs × (probed cell volume)`` — bounded by ``n_probe`` and the
    centroid granularity, never the corpus; point ``index`` at the recent
    window (crawl dedup is usually against it) or re-build per centroid
    generation, exactly like the batch IVF artifact."""
    from ..materialize import materialize
    from ..operators.similarity import (
        _bow_tokens,
        _collect_small_side,
        _dot,
        bow_embedding_expr,
        probe_cells_expr,
    )

    cent_rows = _collect_small_side(
        centroids.select("c_id", "c_vec").orderBy("c_id"), "centroid"
    )
    inv = materialize(index.select("c_id", "n_id", "n_vec"))
    if broadcast_index:
        inv = F.broadcast(inv)
    toks = _bow_tokens(text_col, tokenizer)
    # no NULL-text coalesce: NULL toks -> NULL embedding -> NULL cells ->
    # explode_outer keeps the row with zero hits / NULL best_sim, exactly
    # the docstring's zero-norm contract (md5("")-embedding would instead
    # flag sim-1.0 near-dups against empty corpus docs)
    staged = (
        stream_docs.withWatermark(ts_col, watermark)
        .withColumn("__emb", bow_embedding_expr(toks, dim=dim))
        .withColumn(
            "__cells",
            probe_cells_expr(F.col("__emb"), cent_rows, n_probe, center_vec),
        )
        .select(
            id_col, ts_col, "__emb", F.explode_outer("__cells").alias("c_id")
        )
    )
    sim = F.round(
        _dot(F.col("__emb"), F.col("n_vec"))
        / (
            F.greatest(F.sqrt(_dot(F.col("__emb"), F.col("__emb"))), F.lit(1e-12))
            * F.sqrt(_dot(F.col("n_vec"), F.col("n_vec")))
        ),
        6,
    )
    probed = staged.join(inv, "c_id", "left").filter(
        F.col("n_id").isNull() | (F.col("n_id") != F.col(id_col))
    )
    return (
        probed.withColumn("__sim", sim)
        .groupBy(ts_col, id_col)
        .agg(
            F.max("__sim").alias("best_sim"),
            F.sum(
                F.when(F.col("__sim") >= threshold, 1).otherwise(0)
            ).alias("n_hits"),
        )
        .withColumn("neardup", F.col("n_hits") > 0)
    )


class CorpusVerifyIndex:
    """Corpus-side artifacts of :func:`verify_neardup_batch`, built ONCE and
    persisted so a frequently-triggering stream gate doesn't re-shingle the
    whole corpus per micro-batch: shingle table ``(id, s)``, LSH band table
    ``(id, band_idx, band_sig)``, and shingle-set sizes ``(id, n_c)``.

    Built from the exact same comparators the re-shingle path uses
    (``dedup.word_shingles`` → ``minhash_signatures`` → ``lsh_bands``), so
    the verify verdicts are bit-identical either way (pytest-asserted).
    Build cost is one corpus pass, paid at wiring time instead of per
    trigger; per-trigger verify cost drops to O(flagged candidates ×
    banded partners) with ZERO corpus-side recompute.
    """

    def __init__(
        self,
        corpus: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        shingle_n: int = 2,
        n_hashes: int = 15,
        rows_per_band: int = 3,
    ) -> None:
        from ..materialize import materialize
        from ..operators.dedup import (
            lsh_bands,
            minhash_signatures,
            word_shingles,
        )

        self.id_col = id_col
        self.shingle_n = shingle_n
        self.n_hashes = n_hashes
        self.rows_per_band = rows_per_band
        # eager: pay the corpus pass at wiring time, not inside trigger 1
        self.shingles = materialize(
            word_shingles(corpus, id_col, text_col, shingle_n), eager=True
        )
        self.bands = materialize(
            lsh_bands(
                minhash_signatures(self.shingles, id_col, n_hashes),
                id_col, n_hashes, rows_per_band,
            ),
            eager=True,
        )
        self.sizes = materialize(
            self.shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_c")),
            eager=True,
        )

    def check_knobs(self, shingle_n: int, n_hashes: int, rows_per_band: int) -> None:
        """A stale index silently changes verdicts — refuse knob drift."""
        got = (self.shingle_n, self.n_hashes, self.rows_per_band)
        want = (shingle_n, n_hashes, rows_per_band)
        if got != want:
            raise ValueError(
                f"CorpusVerifyIndex built with (shingle_n, n_hashes, "
                f"rows_per_band)={got} but the verify call wants {want} — "
                f"rebuild the index with matching knobs"
            )


def verify_neardup_batch(
    cand_docs: DataFrame,
    corpus: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 2,
    n_hashes: int = 15,
    rows_per_band: int = 3,
    threshold: float = 0.7,
    corpus_index: CorpusVerifyIndex | None = None,
    scratch_out: list | None = None,
) -> DataFrame:
    """Exact-verify a BATCH of gate-flagged candidate documents against the
    static corpus — the batch rule the stream gate's band collisions only
    estimate. One row per candidate: ``(id, best_match, best_jaccard,
    verified)`` with ``verified = best_jaccard >= threshold`` (false, with
    NULL best columns, when no banded corpus partner survives).

    Shares the x04-gated comparators verbatim: the same
    ``dedup.word_shingles`` gram rule, the same
    ``minhash_signatures``/``lsh_bands`` candidate generation (here joined
    stream-side × corpus-side instead of within one table), and the same
    intersection-equi-join + inclusion-exclusion jaccard that
    ``dedup.ngram_jaccard_pairs`` computes — a pair's ``best_jaccard`` here
    is bit-identical to that operator's ``jaccard``. Same-id pairs are
    excluded (a re-post of the same document id is an update, not a dup —
    the embedding gate's rule).

    Cost shape: candidates are the flagged slice of one micro-batch;
    corpus shingles/bands are O(corpus) per call on the re-shingle path —
    pass ``corpus_index`` (a :class:`CorpusVerifyIndex`, built once) to
    amortize that pass across triggers; verdicts are bit-identical either
    way (same comparators; pytest-asserted). Join strategy is left to AQE:
    forcing the candidate side to broadcast measured 2.6-3.1x slower per
    trigger at the SCALE_r12 flagged-axis rung (broadcast subplans re-run
    per join site).

    ``scratch_out``: the call materializes per-batch scratch tables (the
    candidate shingles). On the
    persist path (non-local master) those blocks live until an explicit
    unpersist, so a per-trigger caller would grow storage unboundedly over
    a long-lived stream. Pass a list and the scratch frames are appended
    to it; ``materialize.release()`` them AFTER the returned DataFrame has
    been fully consumed (:func:`stream_neardup_verified` does exactly
    this per trigger). Harmless no-op on the localCheckpoint path."""
    from ..materialize import materialize
    from ..operators.dedup import lsh_bands, minhash_signatures, word_shingles

    sh_s = materialize(
        word_shingles(cand_docs, id_col, text_col, shingle_n)
    )
    if scratch_out is not None:
        scratch_out.append(sh_s)
    if corpus_index is not None:
        corpus_index.check_knobs(shingle_n, n_hashes, rows_per_band)
        sh_c, bands_c = corpus_index.shingles, corpus_index.bands
        sizes_c = corpus_index.sizes
    else:
        if corpus is None:
            raise ValueError(
                "verify_neardup_batch: pass corpus or corpus_index"
            )
        sh_c = materialize(word_shingles(corpus, id_col, text_col, shingle_n))
        if scratch_out is not None:
            scratch_out.append(sh_c)
        bands_c = lsh_bands(
            minhash_signatures(sh_c, id_col, n_hashes),
            id_col, n_hashes, rows_per_band,
        )
        sizes_c = sh_c.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_c"))
    bands_s = lsh_bands(
        minhash_signatures(sh_s, id_col, n_hashes), id_col, n_hashes, rows_per_band
    )
    pairs = (
        bands_s.select(F.col(id_col).alias("id_s"), "band_idx", "band_sig")
        .join(
            bands_c.select(F.col(id_col).alias("id_c"), "band_idx", "band_sig"),
            ["band_idx", "band_sig"],
        )
        .filter(F.col("id_s") != F.col("id_c"))
        .select("id_s", "id_c")
        .distinct()
    )
    sizes_s = sh_s.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_s"))
    inter = (
        pairs.join(sh_s.select(F.col(id_col).alias("id_s"), "s"), "id_s")
        .join(sh_c.select(F.col(id_col).alias("id_c"), "s"), ["id_c", "s"])
        .groupBy("id_s", "id_c")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = (
        pairs.join(inter, ["id_s", "id_c"], "left")
        .na.fill({"n_inter": 0})
        .join(sizes_s.select(F.col(id_col).alias("id_s"), "n_s"), "id_s")
        .join(sizes_c.select(F.col(id_col).alias("id_c"), "n_c"), "id_c")
        .select(
            "id_s",
            "id_c",
            F.round(
                F.col("n_inter") / (F.col("n_s") + F.col("n_c") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
    )
    # deterministic best partner: max jaccard, ties to the LOWEST corpus id
    best = jac.groupBy("id_s").agg(
        F.max(F.struct(F.col("jaccard"), (-F.col("id_c")).alias("neg"))).alias("b")
    )
    return (
        cand_docs.select(F.col(id_col).alias("id_s"))
        .distinct()
        .join(best, "id_s", "left")
        .select(
            F.col("id_s").alias(id_col),
            (-F.col("b.neg")).alias("best_match"),
            F.col("b.jaccard").alias("best_jaccard"),
            F.coalesce(F.col("b.jaccard") >= threshold, F.lit(False)).alias(
                "verified"
            ),
        )
    )


def stream_neardup_verified(
    stream_docs: DataFrame,
    corpus: DataFrame,
    sink,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ingest_ts",
    shingle_n: int = 2,
    n_hashes: int = 15,
    rows_per_band: int = 3,
    threshold: float = 0.7,
    watermark: str = "10 seconds",
    checkpoint: str | None = None,
    query_name: str = "neardup_verified",
    reuse_corpus_index: bool = True,
):
    """:func:`stream_neardup_flag` with the batch exact-verify arm WIRED:
    the gate's band-collision candidates are re-judged per micro-batch by
    :func:`verify_neardup_batch`, so the verdict the caller consumes is the
    BATCH verdict (x04's exact jaccard), not the candidate rule — a band
    collision whose true jaccard falls short of ``threshold`` arrives with
    ``neardup=True, verified=False`` (the false positive cleared), and
    non-candidates skip the verify work entirely.

    ``sink(verdict_df, batch_id)`` receives one batch DataFrame per
    trigger: ``(ts, id, n_band_hits, neardup, best_match, best_jaccard,
    verified)``. Returns the started StreamingQuery (caller stops it).

    At 100 TB the per-trigger verify cost is O(flagged candidates ×
    banded partners) — the gate's selectivity bounds it, never the stream
    volume. The corpus-side comparanda (shingles/bands/sizes) are built
    ONCE at wiring time into a persisted :class:`CorpusVerifyIndex` and
    reused every trigger (``reuse_corpus_index=True``, the default since
    r11) — the per-trigger corpus re-shingle the r10 docstring admitted to
    is gone; pass ``False`` only to A/B the re-shingle path (verdicts are
    bit-identical — pytest + the SCALE stream_verify rung assert it)."""
    corpus_index = (
        CorpusVerifyIndex(
            corpus, id_col, text_col, shingle_n, n_hashes, rows_per_band
        )
        if reuse_corpus_index
        else None
    )
    gated = stream_neardup_flag(
        stream_docs, corpus, id_col, text_col, ts_col,
        shingle_n, n_hashes, rows_per_band, watermark, keep_text=True,
    )

    def _verify(batch_df, batch_id):
        from ..materialize import release

        flagged = batch_df.filter(F.col("neardup")).select(id_col, text_col)
        scratch = []
        verdicts = verify_neardup_batch(
            flagged, corpus, id_col, text_col,
            shingle_n, n_hashes, rows_per_band, threshold,
            corpus_index=corpus_index,
            scratch_out=scratch,
        )
        out = (
            batch_df.join(verdicts, id_col, "left")
            .withColumn("verified", F.coalesce(F.col("verified"), F.lit(False)))
            .select(
                ts_col, id_col, "n_band_hits", "neardup",
                "best_match", "best_jaccard", "verified",
            )
        )
        try:
            sink(out, batch_id)
        finally:
            # per-trigger scratch (candidate shingles; corpus shingles
            # on the re-shingle arm): on the persist
            # path these would otherwise accumulate in _PERSISTED forever
            # over a long-lived stream — the sink has fully consumed `out`
            # by now, so the blocks are dead
            for df in scratch:
                release(df)

    writer = gated.writeStream.outputMode("append").queryName(query_name)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.foreachBatch(_verify).start()
