"""The streaming curation modes, and the benchmark-decontamination
stage they share.

``MODES`` is the one table of what a curation mode is: the table it
replays, its id column, and which stages it runs (``Mode``). One
per-batch driver (``ingest_batch``) runs any mode's stages in order,
one batch twin (``batch_keep``) runs the same stages over a whole
frame with an empty dedup store, and one starter (``ingest_with_mode``)
runs the driver under foreachBatch. Exactly-once comes from the
replayable source plus the idempotent per-batch-id dirs every output
lands in (append_batch).

The veto stage: ingest-time benchmark decontamination, a
stream-static veto in two modes — shingle OVERLAP (the batch
`contamination` rule) and, since r16, exact-substring SPANS (the
batch `span_decontam` rule: one verbatim SPAN_W-token run vetoes; same
_span_occurrences machinery, so stream and batch agree on what a span
is).

The batch `contamination` query (plans/northstar.py) audits a corpus
at rest for benchmark n-gram overlap; a training-data pipeline also
wants the INGEST form — refuse a crawled doc the moment it overlaps a
held-out evaluation set, so contaminated rows never enter the corpus
at all. Unlike near-dup ingest (streaming/neardup.py) this operator
is STATELESS per doc: the benchmark shingle set is a small static
frame built once and broadcast into every micro-batch (the
stream-static join shape), so there is no accumulating store, no
replay subtlety beyond the sink's idempotent batch dirs, and the
streamed result trivially equals the batch rule under any batching.

Rule: a doc is CONTAMINATED iff it shares >= CONTAM_MIN_SHARED
distinct shingles with any single benchmark doc (self-pairs excluded,
so a benchmark doc replayed through the stream is not vetoed by
itself). The benchmark side is df-capped on ITS OWN corpus
(shingles present in more than ``cap`` benchmark docs are
boilerplate — licence headers, prompt scaffolding — and carry no
contamination signal); the batch `contamination` query caps across
both corpora, which an ingest pass cannot know — the delta is
documented here and in the batch twin so the two stay comparable.

Dropped rows are not discarded silently: each batch appends its
(doc_id, bench_doc, shared) verdicts to a ``_contaminated``
quarantine table under the sink (same idempotent per-batch-dir layout
as the sink itself, compactable through the same SnapshotTable fold)
— the audit trail an eval-integrity review reads.

At 100 TB: the benchmark frame is tiny by definition (evaluation
sets are thousands of docs, not billions), the broadcast is a few MB,
and the per-batch cost is one shingle explode over the BATCH joined
map-side against the broadcast — no shuffle of corpus-scale data at
all beyond the per-doc aggregate of matched shingles.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from functools import partial

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from etl_wikipedia_updates_spark.operators import text as T
from etl_wikipedia_updates_spark.plans.northstar import (
    CONTAM_MIN_SHARED,
    SHINGLE_DF_CAP,
)
from etl_wikipedia_updates_spark.streaming import neardup as N
from etl_wikipedia_updates_spark.streaming.ingest import (
    append_batch,
    start_foreach_batch,
)

CONTAM_DIRNAME = "_contaminated"  # _-prefixed: invisible to sink readers


def contam_store_path(sink_path: str) -> str:
    return os.path.join(sink_path, CONTAM_DIRNAME)


def bench_shingles(
    bench_docs: DataFrame, cap: int = SHINGLE_DF_CAP
) -> DataFrame:
    """(lang, term, bench_doc): the benchmark corpus's distinct
    shingles, df-capped on the benchmark side (a shingle in more than
    ``cap`` bench docs is boilerplate, not signal — and would multiply
    the per-batch match join by its df). Build once per stream and
    persist: the frame is benchmark-sized, not corpus-sized."""
    sh = T.doc_shingles(bench_docs)
    w = W.partitionBy("lang", "term")
    return (
        sh.withColumn("__df", F.count("*").over(w))
        .filter(F.col("__df") <= cap)
        .drop("__df")
        .select("lang", "term", F.col("doc_id").alias("bench_doc"))
    )


def bench_spans(bench_docs: DataFrame) -> DataFrame:
    """(h, bench_doc): the benchmark corpus's distinct HOP-aligned
    SPAN_W-token span hashes with their owning doc — the static frame
    of SPAN mode (the stream-static statement of the batch
    span_decontam audit; same _span_occurrences machinery, so stream
    and batch agree on what a span is). No df cap: an exact SPAN_W-
    token verbatim run is contamination signal regardless of how many
    bench docs carry it (the shingle cap exists because single
    shingles are weak evidence; a 16-token exact run is not)."""
    from etl_wikipedia_updates_spark.plans.northstar import (
        _span_occurrences,
    )

    return (
        _span_occurrences(bench_docs)
        .select("h", F.col("doc_id").alias("bench_doc"))
        .distinct()
    )


def decontam_span_verdicts(
    docs: DataFrame, bench_sp: DataFrame, exclude_self: bool = True
) -> DataFrame:
    """(doc_id, bench_doc, shared) for every doc carrying at least ONE
    exact benchmark span — the span-mode rule (a single verbatim
    SPAN_W-token run vetoes; there is no min-shared threshold like the
    shingle rule's, matching the batch span_decontam contract of
    contam_doc > 0). ``shared`` counts matched span occurrences
    against the reported bench_doc; reporting shape (strongest match,
    ties to smallest bench_doc) and ``exclude_self`` semantics are
    identical to decontam_verdicts, so both modes share the
    quarantine-table schema."""
    from etl_wikipedia_updates_spark.plans.northstar import (
        _span_occurrences,
    )

    sp = _span_occurrences(docs).select("doc_id", "h")
    joined = sp.join(F.broadcast(bench_sp), "h")
    if exclude_self:
        joined = joined.filter(F.col("doc_id") != F.col("bench_doc"))
    counts = joined.groupBy("doc_id", "bench_doc").agg(
        F.count("*").alias("shared")
    )
    w = W.partitionBy("doc_id").orderBy(
        F.col("shared").desc(), F.col("bench_doc")
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", "bench_doc", "shared")
    )


def decontam_verdicts(
    docs: DataFrame, bench_sh: DataFrame, exclude_self: bool = True
) -> DataFrame:
    """(doc_id, bench_doc, shared) for every doc sharing >=
    CONTAM_MIN_SHARED distinct shingles with a benchmark doc (its
    strongest single match, ties to the smallest bench_doc — the
    same reporting rule as the batch contamination query).

    ``exclude_self`` drops (doc_id == bench_doc) pairs and is ONLY
    valid when the benchmark rows are a subset of the streamed corpus
    sharing its id universe (the in-table source-slice convention) —
    there the pair is literally the same row and vetoing it would
    empty the benchmark out of its own corpus. For an EXTERNAL
    benchmark with its own id space, pass False: an id collision
    between unrelated corpora would otherwise silently bypass the
    veto for exactly that doc."""
    sh = T.doc_shingles(docs)
    joined = sh.join(F.broadcast(bench_sh), ["lang", "term"])
    if exclude_self:
        joined = joined.filter(F.col("doc_id") != F.col("bench_doc"))
    counts = (
        joined.groupBy("doc_id", "bench_doc")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= CONTAM_MIN_SHARED)
    )
    w = W.partitionBy("doc_id").orderBy(
        F.col("shared").desc(), F.col("bench_doc")
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", "bench_doc", "shared")
    )


# mode name -> (static-frame builder, per-batch verdict function).
# Both modes share the stream-static join shape, the quarantine-table
# schema, and the idempotent batch-dir sink; they differ only in what
# the broadcast frame holds (df-capped shingles vs distinct exact
# span hashes) and the match rule (>= CONTAM_MIN_SHARED shingles vs
# >= 1 exact SPAN_W-token span — the batch span_decontam contract).
DECONTAM_MODES = {
    "shingles": (bench_shingles, decontam_verdicts),
    "spans": (bench_spans, decontam_span_verdicts),
}


def _mode_fns(mode: str):
    try:
        return DECONTAM_MODES[mode]
    except KeyError:
        raise ValueError(
            f"unknown decontam mode {mode!r}; "
            f"expected one of {sorted(DECONTAM_MODES)}"
        ) from None


# --- the curation modes: one table, one per-batch driver, one starter --------
@dataclass(frozen=True)
class Mode:
    """One streaming curation mode (``dedup-ingest --mode``): the table
    it replays, that table's id column, and the stages it runs, always
    in this order:

    (0) ``redact`` — PII redaction (the shared plans.corpus.pii_redact
        expression the pii_scrub audit certifies), on with
        ``redact_pii=True``. It runs FIRST so every downstream signal
        (quality ratios, shingles, near-dup signatures) sees the text a
        release would ship.
    (1) ``quality`` — the Gopher-style repetition gate
        (plans.northstar.quality_keep), stateless per doc.
    (2) ``veto`` — the benchmark veto against a static benchmark frame
        (``decontam_mode`` picks the shingle-overlap or exact-span
        rule), its verdicts quarantined in ``_contaminated``.
    (3) ``dedup`` — the near-dup tail against the accumulating stores
        (neardup.Dedup).
    (4) ``mix`` — temperature membership on the sink append, on with
        ``temp_rates``: a STATIC (source, rate_ppm) frame
        (plans.northstar.static_temp_rates over a declared corpus or
        prior snapshot, NEVER the unbounded stream). Mix-dropped docs
        still enter the dedup stores and shadow their later near-dups,
        as in the release pipeline's dedup-before-mix order.

    The order is cheap-to-expensive: quality needs no state, the veto
    joins a tiny broadcast, and only the survivors of both pay the
    signature aggregation and store join. Corpus-global budget FITTING
    stays release-time/static; a stream only APPLIES precomputed
    thresholds."""

    table: str
    id_col: str
    redact: bool = False
    quality: bool = False
    veto: bool = False
    mix: bool = False
    dedup: N.Dedup | None = None


MODES = {
    "doc": Mode("documents", "doc_id", dedup=N.MINHASH_DEDUP),
    "quality": Mode(
        "documents", "doc_id", quality=True, dedup=N.MINHASH_DEDUP
    ),
    "verified": Mode("documents", "doc_id", dedup=N.VERIFIED_DEDUP),
    "span": Mode("documents", "doc_id", dedup=N.SPAN_DEDUP),
    "embedding": Mode("embeddings", "vec_id", dedup=N.EMBEDDING_DEDUP),
    "embedding-verified": Mode(
        "embeddings", "vec_id", dedup=N.EMBEDDING_VERIFIED_DEDUP
    ),
    "decontam": Mode("documents", "doc_id", veto=True),
    "curate": Mode(
        "documents",
        "doc_id",
        redact=True,
        quality=True,
        veto=True,
        mix=True,
        dedup=N.MINHASH_DEDUP,
    ),
}

# Every state store a mode keeps under its sink, by the name
# maintenance reports it under.
STORES = {
    "bucket_store": N.BUCKETS_DIRNAME,
    "shingle_store": N.SHINGLES_DIRNAME,
    "vector_store": N.VECTORS_DIRNAME,
    "contam_store": CONTAM_DIRNAME,
}


def _mode(mode: str, bench, redact_pii: bool, temp_rates) -> Mode:
    """The table entry for ``mode``. A stage setting the mode does not
    run is refused, never ignored: a privacy control or a mix that
    silently no-ops ships the wrong corpus with a clean exit."""
    try:
        spec = MODES[mode]
    except KeyError:
        raise ValueError(
            f"unknown curation mode {mode!r}; expected one of {sorted(MODES)}"
        ) from None
    if spec.veto and bench is None:
        raise ValueError(f"mode {mode!r} runs the benchmark veto: pass a bench")
    for setting, given, runs in (
        ("a bench", bench is not None, spec.veto),
        ("redact_pii", redact_pii, spec.redact),
        ("temp_rates", temp_rates is not None, spec.mix),
    ):
        if given and not runs:
            raise ValueError(
                f"mode {mode!r} does not run the stage {setting} configures"
            )
    return spec


def ingest_batch(
    mode: str,
    batch_df: DataFrame,
    bench_sh: DataFrame | None,
    sink_path: str,
    batch_id: int,
    compact_every: int | None = None,
    exclude_self: bool = True,
    redact_pii: bool = False,
    temp_rates: DataFrame | None = None,
    decontam_mode: str = "shingles",
) -> None:
    """One micro-batch of ``mode`` (the foreachBatch body of every
    curation stream): its stages (see Mode) in order. Every output —
    the sink, the quarantine, the dedup stores — lands under this
    batch's idempotent dir, so an at-least-once replay overwrites its
    own first attempt. ``bench_sh`` is the ``decontam_mode``-matching
    static frame (bench_shingles or bench_spans output) of a veto mode,
    None otherwise. The quarantine and dedup stores fold on the
    ``compact_every`` cadence."""
    from etl_wikipedia_updates_spark.plans.corpus import pii_redact
    from etl_wikipedia_updates_spark.plans.northstar import (
        quality_keep,
        temp_membership,
    )

    spec = _mode(mode, bench_sh, redact_pii, temp_rates)
    spark = batch_df.sparkSession
    df = pii_redact(batch_df) if redact_pii else batch_df
    # A stage output read by more than one later action is persisted:
    # the gated docs feed the verdicts and the veto survivors, and the
    # survivors feed the tail's band aggregation and its sink append.
    # Without the persists every action re-runs the quality gate's
    # explode — the dominant per-batch map cost.
    held: list[DataFrame] = []
    try:
        if spec.quality:
            df = quality_keep(df)
            if spec.veto:
                held.append(df.persist())
        if spec.veto:
            verdicts = _mode_fns(decontam_mode)[1](
                df, bench_sh, exclude_self=exclude_self
            ).persist()
            held.append(verdicts)
            df = df.join(verdicts.select("doc_id"), "doc_id", "left_anti")
            if spec.dedup is None:
                append_batch(df, sink_path, batch_id)
            else:
                held.append(df.persist())
            append_batch(verdicts, contam_store_path(sink_path), batch_id)
            if compact_every and batch_id > 0 and batch_id % compact_every == 0:
                N.compact_store(
                    spark, contam_store_path(sink_path), below=batch_id
                )
        if spec.dedup is not None:
            N.dedup_ingest_batch(
                spec.dedup,
                df,
                sink_path,
                batch_id,
                spec.id_col,
                compact_every,
                None
                if temp_rates is None
                else (lambda d: temp_membership(d, temp_rates)),
            )
    finally:
        for f in reversed(held):
            f.unpersist()


def ingest_with_mode(
    mode: str,
    stream: DataFrame,
    bench_docs: DataFrame | None,
    sink_path: str,
    checkpoint: str,
    available_now: bool = True,
    compact_every: int | None = None,
    exclude_self: bool = True,
    redact_pii: bool = False,
    temp_rates: DataFrame | None = None,
    decontam_mode: str = "shingles",
) -> StreamingQuery:
    """Streamed ``mode`` curation into ``sink_path``, checkpointed:
    every micro-batch runs ingest_batch, and a restarted query resumes
    exactly once (replayable source plus idempotent per-batch dirs).
    ``bench_docs`` is a veto mode's static held-out corpus (None for
    the others); its ``decontam_mode`` frame is built ONCE, outside the
    per-batch handler, and persisted only while the stream lives
    (start_foreach_batch). ``exclude_self`` as in decontam_verdicts:
    True only when bench_docs is an id-shared subset of the stream,
    False for an external benchmark. ``temp_rates``: see Mode."""
    _mode(mode, bench_docs, redact_pii, temp_rates)
    bench_sh = (
        None if bench_docs is None else _mode_fns(decontam_mode)[0](bench_docs)
    )
    opts = dict(
        compact_every=compact_every,
        exclude_self=exclude_self,
        redact_pii=redact_pii,
        temp_rates=temp_rates,
        decontam_mode=decontam_mode,
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if mode == "curate":
            # looked up per call, so a wrapper installed on the module
            # attribute (perfbench/curate_replay.py) sees every batch
            full_curation_ingest_batch(
                batch_df, bench_sh, sink_path, batch_id, **opts
            )
        else:
            ingest_batch(mode, batch_df, bench_sh, sink_path, batch_id, **opts)

    return start_foreach_batch(
        stream, handle, checkpoint, available_now, persisted=bench_sh
    )


def batch_keep(
    mode: str,
    docs: DataFrame,
    bench_docs: DataFrame | None = None,
    exclude_self: bool = True,
    redact_pii: bool = False,
    temp_rates: DataFrame | None = None,
    decontam_mode: str = "shingles",
) -> DataFrame:
    """The BATCH statement of ``mode`` (equivalence tests and
    backfills): the same stages over the whole frame, the dedup tail
    against an empty store (neardup.batch_dedup_keep). The streamed
    sink equals this when the frame replays in id order — the dedup
    tail's arrival-order contract; redaction, the quality gate, the
    veto and temperature membership are stateless per doc, so they
    hold under any batching."""
    from etl_wikipedia_updates_spark.plans.corpus import pii_redact
    from etl_wikipedia_updates_spark.plans.northstar import (
        quality_keep,
        temp_membership,
    )

    spec = _mode(mode, bench_docs, redact_pii, temp_rates)
    if redact_pii:
        docs = pii_redact(docs)
    if spec.quality:
        docs = quality_keep(docs)
    if spec.veto:
        build, verdicts_fn = _mode_fns(decontam_mode)
        drops = verdicts_fn(docs, build(bench_docs), exclude_self=exclude_self)
        docs = docs.join(drops.select("doc_id"), "doc_id", "left_anti")
    if spec.dedup is not None:
        docs = N.batch_dedup_keep(spec.dedup, docs, spec.id_col)
    if temp_rates is not None:
        docs = temp_membership(docs, temp_rates)
    return docs


# The curate mode under the names its callers use.
ingest_with_full_curation = partial(ingest_with_mode, "curate")
full_curation_ingest_batch = partial(ingest_batch, "curate")
batch_full_curation_keep = partial(batch_keep, "curate")
