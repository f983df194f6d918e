"""Streaming near-dup dedup at ingest: LSH blocking per micro-batch.

The batch near-dup family (minhash_lsh, dedup_corpus) dedups a corpus
at rest; a training-data pipeline also needs the INGEST form — drop a
crawled row the moment it collides with anything already ingested,
without re-scanning the corpus per batch. This module is that
operator family: the dedup tails (``Dedup``) the streaming curation
modes (streaming.decontam.MODES) end in, over one shared per-batch
engine (``dedup_ingest_batch``) — MinHash-band blocking for documents
(the batch path's exact shingle/hash/band machinery,
operators.dedup), exact-span blocking, multi-band sign-bucket LSH for
embeddings (SemDeDup-style semantic blocking), and VERIFIED precision
variants of the document and embedding forms (band collisions only
nominate; the exact overlap or cosine against the colliding earlier
row decides, at the cost of a second, payload store).
The shared mechanics:

- Per micro-batch, each doc's signature unpivots into (lang, band,
  band_key) bucket rows (``lsh_band_rows``).
- A doc is DROPPED iff one of its buckets was seen in an EARLIER
  batch, or a smaller doc_id in the SAME batch shares a bucket —
  "collides with any earlier-arrived doc", the aggressive blocking
  rule production dedup uses at ingest (no verify pass: at a
  corpus-scale ingest rate the false-positive cost of a band
  collision is accepted in exchange for never touching the corpus).
- ALL of the batch's bucket rows (kept and dropped docs alike) are
  appended to the bucket store, so later arrivals collide with
  whichever representative arrived first.

State = the bucket store, a per-batch-dir parquet table exactly like
the data sink (append_batch layout): idempotent under foreachBatch
replay because a retried batch overwrites its own dir, and the
collision read EXCLUDES the current batch id, so a replay never
collides with its own first attempt. The store COMPACTS through the
same SnapshotTable fold the data sink uses (compact_store /
compact_every), so its file count is bounded by the compaction cadence
instead of growing one directory per trigger forever. At 100 TB the
store is
(lang, band, band_key, doc_id) rows — a fraction of corpus bytes —
and the per-batch work is one signature aggregation over the BATCH
plus one equi-join against the store: no corpus rescan, no driver
state. The reference's analog is R10's UNIQUE-index dedup (exact ids,
unbounded SQLite state, /root/reference/pipeline.py:173-174); this is
the near-dup generalization with explicit, inspectable state.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from functools import partial
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_wikipedia_updates_spark.operators import dedup as D
from etl_wikipedia_updates_spark.operators import similarity as S
from etl_wikipedia_updates_spark.operators import text as T
from etl_wikipedia_updates_spark.plans.northstar import (
    MINHASH_BANDS,
    MINHASH_PARAMS,
    MINHASH_ROWS,
)
from etl_wikipedia_updates_spark.streaming.ingest import (
    _publish_rewrite,
    _view_parts,
    append_batch,
)

BUCKETS_DIRNAME = "_lsh_buckets"  # _-prefixed: invisible to sink readers
SHINGLES_DIRNAME = "_shingle_store"  # verified mode: per-doc shingle sketches
VECTORS_DIRNAME = "_vector_store"  # embedding-verified mode: per-id vectors

_STORE_SCHEMA = "doc_id bigint, lang string, band int, band_key string"
_SHINGLE_SCHEMA = "doc_id bigint, toks array<bigint>"
_VECTOR_SCHEMA = "doc_id bigint, embedding array<float>"


def bucket_store_path(sink_path: str) -> str:
    return os.path.join(sink_path, BUCKETS_DIRNAME)


def _store_view(
    spark: SparkSession,
    store_path: str,
    below: int,
    schema: str = _STORE_SCHEMA,
) -> DataFrame | None:
    """Committed store rows from batches with id < ``below``: the
    compacted snapshot version (if any) plus unfolded committed batch
    dirs. None when nothing qualifying is committed yet (first batch,
    or an empty store). The ``below`` exclusion is the replay guard —
    a batch retried under its own id must not collide with its first
    attempt's rows, folded or not."""
    snap, v, folded, newer = _view_parts(store_path)
    dirs = [p for b, p in newer if b < below]
    if v is None:
        if not dirs:
            return None
        return spark.read.schema(schema).parquet(*dirs)
    if folded >= below:
        # Only possible through an external compaction run with an
        # explicit too-high ``below`` while the stream was in flight;
        # reading on would let a replayed batch collide with itself
        # and silently drop every row.
        raise RuntimeError(
            f"store {store_path} folded through {folded} but "
            f"batch {below} may replay; compact only below the "
            "in-flight batch id"
        )
    base = snap.read(spark, v)
    if dirs:
        base = base.unionByName(spark.read.schema(base.schema).parquet(*dirs))
    return base


def compact_store(
    spark: SparkSession,
    store_path: str,
    target_files: int = 4,
    below: int | None = None,
) -> dict | None:
    """Fold one accumulating per-batch store (bucket or shingle) into a
    snapshot version — the same SnapshotTable fold the data sink uses
    (``_publish_rewrite``), so the store's file count stops growing
    with batch count. Without this a store gains one directory per
    trigger forever and the per-batch collision join pays an
    ever-growing file-listing + footer cost.

    ``below`` (exclusive) bounds which batch ids are folded. The
    default folds everything EXCEPT the newest committed batch — a
    one-batch grace horizon, because with at-least-once foreachBatch
    the newest appended batch may be replayed if the checkpoint commit
    did not land, and a replayed batch must never find its own rows
    already folded (``_store_view`` raises on that invariant). The
    in-handler call sites pass ``below=batch_id`` for the same reason.

    Returns {"version": N, "folded_dirs": n} or None when there was
    nothing new to fold (no pointless full-store rewrite)."""
    _snap, _v, _folded, newer = _view_parts(store_path)
    if below is None:
        # newest UNFOLDED committed id; when everything committed is
        # already folded the max is over an empty set and foldable
        # below comes out empty either way
        below = max((b for b, _ in newer), default=-1)
    foldable = [b for b, _ in newer if b < below]
    if not foldable:
        return None
    version = _publish_rewrite(
        spark,
        store_path,
        lambda view: view.coalesce(target_files),
        below=below,
    )
    return {"version": version, "folded_dirs": len(foldable)}


def _require_payload_coverage(
    sink_path: str, payload_dirname: str, below: int, mode: str
) -> None:
    """Verified modes keep TWO stores in lockstep: the bucket store
    (nomination) and a per-id payload store (shingle sketches /
    vectors — the decision evidence). If the bucket store holds batch
    ids the payload store lacks — e.g. a sink first populated with an
    unverified --mode, then continued verified — cross-batch
    candidate pairs against those docs find no payload row, the
    verify inner join silently drops the pair, and near-duplicates of
    earlier docs pass through undetected. Fail loudly instead.

    Coverage rule: every batch id the bucket store is known to hold
    below ``below`` must be visible in the payload store — as an
    unfolded committed dir, or folded under the payload's
    folded_through watermark. The bucket side's folded ids are not
    individually enumerable, so the (contiguous by construction —
    foreachBatch ids) gap (pfolded, bfolded] is checked id by id
    against the payload's unfolded dirs: a crash between the two
    in-lockstep store compactions leaves the payload watermark
    behind but ALL its ids still on disk unfolded, which is healthy
    and must not raise."""
    _bs, _bv, bfolded, bnewer = _view_parts(bucket_store_path(sink_path))
    payload_path = os.path.join(sink_path, payload_dirname)
    _ps, _pv, pfolded, pnewer = _view_parts(payload_path)
    have = {b for b, _ in pnewer}
    missing = [
        b
        for b, _ in bnewer
        if b < below and b > pfolded and b not in have
    ] + [
        b
        for b in range(pfolded + 1, min(bfolded, below - 1) + 1)
        if b not in have
    ]
    if missing:
        raise RuntimeError(
            f"{mode} ingest at {sink_path}: bucket store covers batches "
            f"the {payload_dirname} store lacks "
            f"(folded {bfolded} vs {pfolded}; missing "
            f"{sorted(set(missing))[:8]}). The sink was likely "
            "populated with a non-verified mode first; verified modes "
            "cannot decide candidate pairs against docs with no stored "
            "payload. Re-ingest from scratch in the verified mode, or "
            "continue in the original mode."
        )


def doc_tids(docs: DataFrame) -> DataFrame:
    """The shingle -> term-hash chain every dedup derivation starts
    from. Single definition so blocking (band rows) and verification
    (shingle sketches) can never disagree on a doc's shingle ids."""
    return T.doc_shingles(docs).withColumn("tid", T.term_hash_col())


def doc_band_rows(docs: DataFrame, dtok: DataFrame | None = None) -> DataFrame:
    """(doc_id, lang, band, band_key) bucket membership for a document
    frame — the batch pipeline's exact shingle->tid->signature->band
    chain, so streaming and batch dedup agree on every bucket. Pass a
    precomputed (persisted) ``doc_tids`` frame to share the dominant
    shingle pass with other derivations of the same batch."""
    if dtok is None:
        dtok = doc_tids(docs)
    sig = D.minhash_signatures(
        dtok.select("doc_id", "lang", "tid"), MINHASH_PARAMS
    )
    return D.lsh_band_rows(sig, MINHASH_BANDS, MINHASH_ROWS)


def batch_neardup_drops(
    band: DataFrame, store: DataFrame | None
) -> DataFrame:
    """doc_ids of this batch to drop: bucket seen in the store (earlier
    batches), or a smaller doc_id in this batch shares the bucket."""
    keys = ["lang", "band", "band_key"]
    keeper = band.groupBy(*keys).agg(F.min("doc_id").alias("keeper"))
    within = (
        band.join(keeper, keys)
        .filter(F.col("doc_id") > F.col("keeper"))
        .select("doc_id")
    )
    if store is None:
        return within.distinct()
    prev = band.join(
        store.select(*keys), keys, "left_semi"
    ).select("doc_id")
    return within.unionByName(prev).distinct()


# --- embedding-space variant (SemDeDup-style blocking) ------------------------
# 4 bands of 16 sign bits: a pair collides iff some band's 16
# hyperplane signs all agree — a coarse cosine proximity proxy (at
# sf0.001 it drops 14/500; 8-bit bands dropped 438/500, far too
# aggressive for random-ish vectors). Seeds decorrelate the bands.
EMB_BANDS = 4
EMB_BITS = 16
EMB_DIM = 64  # the embeddings table's dimensionality


def embedding_band_rows(emb: DataFrame, dim: int = EMB_DIM) -> DataFrame:
    """(doc_id, lang, band, band_key) bucket membership for an
    embeddings frame — doc_id carries vec_id and lang is a constant so
    the frame is shape-compatible with batch_neardup_drops and the
    bucket store.

    The hyperplanes are fixed-dimension literals, and zip_with pads a
    shorter side with NULLs: a vector whose length != ``dim`` (or a
    NULL vector) would make every dot product NULL, every sign bit 0,
    and every band_key collide — the whole batch silently dropped to
    one survivor. So mismatched rows raise instead: a wrong ``dim`` is
    a configuration error, not data to be deduplicated."""
    emb = emb.withColumn(
        "embedding",
        F.when(F.size("embedding") == dim, F.col("embedding")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "embedding_band_rows: expected "
                        f"{dim}-dim embedding, got length "
                    ),
                    F.size("embedding").cast("string"),
                    F.lit(" (-1 = NULL) for vec_id="),
                    F.col("vec_id").cast("string"),
                )
            )
        ),
    )
    bands = []
    for b in range(EMB_BANDS):
        planes = S.lsh_hyperplanes(EMB_BITS, dim, seed=11 + 97 * b)
        bands.append(
            F.struct(
                F.lit(b).alias("band"),
                S.lsh_bucket_col("embedding", planes)
                .cast("string")
                .alias("band_key"),
            )
        )
    return emb.select(
        F.col("vec_id").alias("doc_id"),
        F.lit("*").alias("lang"),
        F.explode(F.array(*bands)).alias("bk"),
    ).select(
        "doc_id",
        "lang",
        F.col("bk.band").alias("band"),
        F.col("bk.band_key").alias("band_key"),
    )


# --- span-mode (exact-substring) ingest dedup ---------------------------------
# The sixth variant (r17): a doc is dropped iff it shares ONE verbatim
# SPAN_W-token span with any earlier-arrived doc — the streaming
# statement of the span_dedup / incremental_span_dedup rule (Lee et
# al. 2021's dup-span test applied as a doc-level veto at ingest),
# where the MinHash variant blocks on APPROXIMATE whole-doc
# similarity. Everything reuses the shared bucket engine: the span
# hashes ARE the bucket rows (band=0, band_key=h), so the store
# layout, replay idempotence, compaction, and the first-arriver
# shadowing rule (dropped docs' spans still stored) come for free —
# and the store is exactly release.publish_span_store's artifact
# denominated in the streaming sink's per-batch format. At 100 TB the
# store rows are (h, doc_id) — ~n_tok/HOP per doc, the span-level
# analog of the band store's MINHASH_BANDS rows per doc.


def doc_span_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, band, band_key) SPAN-occurrence rows for a
    document frame — plans.northstar._span_occurrences (the same
    machinery as the four batch span operators, so stream and batch
    agree on what a span is) shaped for the shared bucket engine:
    lang='*' (verbatim spans collide across langs), band=0, the span
    hash as the bucket key. Docs shorter than SPAN_W emit no rows and
    are never dropped."""
    from etl_wikipedia_updates_spark.plans.northstar import (
        _span_occurrences,
    )

    return _span_occurrences(docs).select(
        "doc_id",
        F.lit("*").alias("lang"),
        F.lit(0).alias("band"),
        F.col("h").cast("string").alias("band_key"),
    )


def seed_span_store_from(
    spark: SparkSession,
    sink_path: str,
    span_store_root: str,
    version: int | None = None,
) -> int:
    """Seed a FRESH span-mode ingest sink with a prior release's
    span-hash store (release.publish_span_store) — the full recrawl
    composition: the new crawl streams against the PRIOR release from
    batch 0, so a doc verbatim-overlapping last release's corpus never
    lands even though that corpus was ingested in another lifetime.

    The seed publishes as the bucket store's initial snapshot version
    with folded_through=-1: the committed view (``_store_view``) is
    'snapshot + batch dirs above the fold marker', so every future
    batch sees the seed without any special-casing, compaction folds
    on top of it, and replay semantics are untouched. Store hashes
    carry doc_id=-1 / lang='*' — collision reads are key-only
    (left_semi on (lang, band, band_key)), the id is never consulted
    for seeded rows. Refuses a non-empty store: seeding is a creation-
    time act; injecting hashes under a live store would change history.

    Returns the number of seeded span hashes."""
    import json

    from etl_wikipedia_updates_spark.streaming.ingest import sink_snapshot
    from etl_wikipedia_updates_spark.streaming.snapshot import SnapshotTable

    src = SnapshotTable(span_store_root)
    v = src.current_version() if version is None else version
    if v is None:
        raise FileNotFoundError(
            f"no published span store under {span_store_root}"
        )
    src_meta = src.meta_for(v)
    if src_meta.get("kind") != "span_store":
        raise ValueError(
            f"{span_store_root} v{v} is not a span store"
        )
    from etl_wikipedia_updates_spark.release import _require_span_params

    _require_span_params(src_meta, f"{span_store_root} v{v}")
    store_path = bucket_store_path(sink_path)
    snap = sink_snapshot(store_path)
    prior_v = snap.current_version()
    if prior_v is not None or _committed_batch_dirs_any(store_path):
        # Crash-recovery path (r17 advice): a crash between the seed
        # publish and the sidecar write leaves a seeded store with no
        # marker, after which the CLI resume check misses and this
        # function would refuse forever. If the ONLY state is a seed
        # snapshot from THIS store (no ingest batches yet — so
        # compaction can't have erased the seeded_from meta), rewrite
        # the missing marker and return idempotently.
        if prior_v is not None and not _committed_batch_dirs_any(store_path):
            prior_meta = snap.meta_for(prior_v)
            if (
                prior_meta.get("folded_through") == -1
                # structured provenance (r18 review: string-parsing the
                # display field broke on format tweaks, and a RAW
                # relative root re-resolved at recovery-time cwd could
                # false-match a different store) — seed_root is stored
                # normalized at publish time
                and prior_meta.get("seed_root") is not None
                # the REQUESTED version must match what actually
                # seeded: a recovery that silently returns v1's spans
                # when the caller asked for v2 (store advanced via
                # --merge since the seed) would let v2-only content
                # through the veto (r18 review)
                and prior_meta.get("seed_version") == v
                and prior_meta["seed_root"]
                == os.path.normpath(os.path.abspath(span_store_root))
            ):
                _write_seed_marker(sink_path, prior_meta["seed_root"], v)
                return snap.read(spark, prior_v).count()
        raise RuntimeError(
            f"span store at {store_path} already has state — seeding "
            "must happen before the first ingest batch. To recover: "
            "either recreate the sink (delete it and its checkpoint) "
            "and re-seed, or — if this store DID seed the sink and "
            "only the marker is missing — hand-write "
            f"{seed_marker_path(sink_path)} with "
            '{"store_root": <normalized abs path>, "version": N}'
        )
    rows = src.read(spark, v).select(
        F.lit(-1).cast("long").alias("doc_id"),
        F.lit("*").alias("lang"),
        F.lit(0).alias("band"),
        F.col("h").cast("string").alias("band_key"),
    )
    seed_root = os.path.normpath(os.path.abspath(span_store_root))
    sv = snap.publish(
        rows,
        meta={
            "folded_through": -1,
            # display string + structured fields: crash recovery reads
            # seed_root/seed_version (normalized at PUBLISH time, so a
            # relative --seed-span-store can never be re-resolved
            # against a different cwd later — r18 review)
            "seeded_from": f"{span_store_root} v{v}",
            "seed_root": seed_root,
            "seed_version": v,
        },
    )
    # The durable seed marker is a SIDECAR file, not (only) snapshot
    # meta: compaction republishes the store with fresh meta
    # (folded_through only), so meta alone cannot answer "was this
    # sink seeded, and from where?" after the first fold (r17 review).
    # Paths are normalized so resume matching survives trailing-slash /
    # relative-vs-absolute differences.
    _write_seed_marker(sink_path, seed_root, v)
    # count the MATERIALIZED snapshot, not the source plan again — the
    # publish already paid the store scan (r17 review)
    return snap.read(spark, sv).count()


def _write_seed_marker(sink_path: str, seed_root: str, version: int) -> None:
    """(Re)write the durable seed sidecar. ``seed_root`` must already
    be normalized (it comes from the publish-time meta or a fresh
    normpath(abspath(...)))."""
    import json

    with open(seed_marker_path(sink_path), "w") as f:
        json.dump({"store_root": seed_root, "version": version}, f)


def seed_marker_path(sink_path: str) -> str:
    """Sidecar recording what (if anything) seeded this sink's span
    store — durable across store compactions, unlike snapshot meta."""
    return os.path.join(bucket_store_path(sink_path), "_seeded_from.json")


def seeded_from(sink_path: str) -> dict | None:
    """The seed marker's content ({'store_root', 'version'}, paths
    normalized) or None when the sink was never seeded."""
    import json

    p = seed_marker_path(sink_path)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _committed_batch_dirs_any(store_path: str) -> bool:
    from etl_wikipedia_updates_spark.streaming.ingest import (
        _committed_batch_dirs,
    )

    return bool(_committed_batch_dirs(store_path))


# --- verified (precision-mode) ingest dedup -----------------------------------
# The aggressive pipelines above drop on ANY band collision (recall-
# first, zero extra state). Verified mode adds the precision pass the
# batch path already has (minhash_lsh's jaccard_verify): a doc is
# dropped only when a shingle-Jaccard check against the colliding
# earlier doc clears the threshold. The extra state is the shingle
# store — each doc's BOTTOM-K SKETCH: the k smallest sorted-distinct
# shingle ids (ids, not strings: the same stateless term_hash the
# signatures use, so the store is integers and the k smallest are a
# deterministic min-k sample, identical on every engine). The cap
# bounds per-doc state at SHINGLE_SKETCH_K ids, so the store grows
# with DOC count, not corpus tokens — without it the store would be a
# large fraction of the corpus itself at 100 TB. The check is the
# standard bottom-k estimator (operators.dedup.jaccard_verify_sketch),
# EXACT for every pair whose union fits under k. Per batch the verify
# join touches only CANDIDATE pairs (band-colliding), so its cost
# scales with collision rate, not corpus size; at 100 TB the shingle
# store is bucketed by doc_id (operators/layout.py) so the candidate
# lookup co-locates.
VERIFY_THRESHOLD = 0.5  # == plans.northstar.JACCARD_THRESHOLD (q26/minhash)
SHINGLE_SKETCH_K = 512  # bottom-k sketch width (per-doc store bound)


def doc_shingle_tid_arrays(
    docs: DataFrame, dtok: DataFrame | None = None
) -> DataFrame:
    """(doc_id, toks): each doc's bottom-SHINGLE_SKETCH_K sketch of
    sorted-distinct shingle ids — the exact arrays
    jaccard_verify_sketch consumes, via the same shingle->tid chain
    the signatures use (so verify and blocking can never see
    different shingle sets). ``dtok`` as in doc_band_rows."""
    if dtok is None:
        dtok = doc_tids(docs)
    return dtok.groupBy("doc_id").agg(
        F.slice(
            F.array_sort(F.collect_set("tid")), 1, SHINGLE_SKETCH_K
        ).alias("toks")
    )


def _band_pairs_within(band: DataFrame) -> DataFrame:
    """Distinct candidate (doc_id, doc_id2) pairs within one frame of
    band rows, doc_id < doc_id2 — the batch pair enumeration's
    posting-list shape (operators.dedup.enumerate_sorted_pairs)."""
    buckets = band.groupBy("lang", "band", "band_key").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ds")
    )
    return (
        D.enumerate_sorted_pairs(buckets)
        .select(F.col("x").alias("doc_id"), F.col("y").alias("doc_id2"))
        .distinct()
    )


# --- verified (precision-mode) EMBEDDING dedup --------------------------------
# The embedding twin of verified mode (SemDeDup with the verify pass):
# sign-bucket band collisions only NOMINATE; the exact cosine against
# the colliding earlier vector decides. The extra state is the vector
# store — each ingested id's embedding (the payload is the evidence;
# unlike shingles no sketch is needed: one row per vector, dim floats,
# already the minimal decision state). Threshold shared with the batch
# cosine_neardup operator so "near-duplicate" means the same thing at
# rest and at ingest.
EMB_VERIFY_THRESHOLD = 0.35  # == plans.northstar.COSINE_NEARDUP_THRESHOLD


def _cosine_verify(
    pairs: DataFrame, vectors: DataFrame, threshold: float
) -> DataFrame:
    """Exact-cosine check on candidate pairs. vectors: (doc_id,
    embedding). Two joins (candidates only), then the JVM-side
    fold-based cosine (functions.arrays) — no Python."""
    from etl_wikipedia_updates_spark.functions.arrays import (
        cosine_similarity,
    )

    v1 = vectors.select(F.col("doc_id"), F.col("embedding").alias("e1"))
    v2 = vectors.select(
        F.col("doc_id").alias("doc_id2"), F.col("embedding").alias("e2")
    )
    return (
        pairs.join(v1, "doc_id")
        .join(v2, "doc_id2")
        .select(
            "doc_id",
            "doc_id2",
            cosine_similarity(F.col("e1"), F.col("e2")).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def embedding_vectors(emb: DataFrame) -> DataFrame:
    """(doc_id, embedding): the embedding-verified payload — the
    vector itself, keyed like the bucket rows."""
    return emb.select(F.col("vec_id").alias("doc_id"), "embedding")


# --- dedup tails: one per-batch engine for every near-dup mode ----------------
@dataclass(frozen=True)
class Verify:
    """The precision pass of a verified tail: each id's decision
    evidence (``payload`` rows, kept in their own per-batch store
    ``dirname`` beside the bucket store) and the rule that decides a
    band-nominated (doc_id, doc_id2) pair from it (``decide`` returns
    the pairs that ARE near-duplicates)."""

    dirname: str
    schema: str
    payload: Callable[..., DataFrame]
    decide: Callable[[DataFrame, DataFrame], DataFrame]
    label: str  # the mode name its coverage error reports


@dataclass(frozen=True)
class Dedup:
    """A dedup tail: how a batch becomes (doc_id, lang, band, band_key)
    bucket rows, plus an optional verify pass. ``shared``, when set,
    builds a frame that ``band`` and the payload both derive from
    (passed as their second argument), so the ingest path persists it
    once per batch instead of deriving it twice."""

    band: Callable[..., DataFrame]
    verify: Verify | None = None
    shared: Callable[[DataFrame], DataFrame] | None = None


MINHASH_DEDUP = Dedup(doc_band_rows)
SPAN_DEDUP = Dedup(doc_span_rows)
EMBEDDING_DEDUP = Dedup(embedding_band_rows)
VERIFIED_DEDUP = Dedup(
    doc_band_rows,
    Verify(
        SHINGLES_DIRNAME,
        _SHINGLE_SCHEMA,
        doc_shingle_tid_arrays,
        partial(
            D.jaccard_verify_sketch,
            threshold=VERIFY_THRESHOLD,
            k=SHINGLE_SKETCH_K,
        ),
        "verified",
    ),
    shared=doc_tids,
)
EMBEDDING_VERIFIED_DEDUP = Dedup(
    embedding_band_rows,
    Verify(
        VECTORS_DIRNAME,
        _VECTOR_SCHEMA,
        embedding_vectors,
        partial(_cosine_verify, threshold=EMB_VERIFY_THRESHOLD),
        "embedding-verified",
    ),
)


def _tail_frames(
    tail: Dedup, df: DataFrame, hold
) -> tuple[DataFrame, DataFrame | None]:
    """(band rows, payload rows or None) of ``df``, each passed through
    ``hold`` as it is built — the ingest path persists, the batch twin
    passes frames through. The shared frame is held first so both
    derivations read its cached rows."""
    args = (df,) if tail.shared is None else (df, hold(tail.shared(df)))
    band = hold(tail.band(*args))
    payload = None if tail.verify is None else hold(tail.verify.payload(*args))
    return band, payload


def _tail_drops(
    tail: Dedup,
    band: DataFrame,
    payload: DataFrame | None,
    store_band: DataFrame | None,
    store_payload: DataFrame | None,
) -> DataFrame:
    """doc_ids of the batch to drop. Unverified: any bucket shared with
    an earlier doc (batch_neardup_drops). Verified: band collisions
    within the batch and against the store only nominate (earlier doc
    as doc_id, this batch's as doc_id2 — the only droppable side); the
    payload decides. A None store is the empty store of batch 0 and of
    the batch twin."""
    if tail.verify is None:
        return batch_neardup_drops(band, store_band)
    pairs = _band_pairs_within(band)
    lookup = payload
    if store_band is not None:
        cross = (
            band.join(
                store_band.withColumnRenamed("doc_id", "doc_id_prev"),
                ["lang", "band", "band_key"],
            )
            .select(
                F.col("doc_id_prev").alias("doc_id"),
                F.col("doc_id").alias("doc_id2"),
            )
            .distinct()
        )
        pairs = pairs.unionByName(cross)
        if store_payload is not None:
            lookup = payload.unionByName(store_payload)
    return (
        tail.verify.decide(pairs, lookup)
        .select(F.col("doc_id2").alias("doc_id"))
        .distinct()
    )


def _anti(df: DataFrame, drops: DataFrame, id_col: str) -> DataFrame:
    return df.join(
        drops.withColumnRenamed("doc_id", id_col), id_col, "left_anti"
    )


def dedup_ingest_batch(
    tail: Dedup,
    batch_df: DataFrame,
    sink_path: str,
    batch_id: int,
    id_col: str,
    compact_every: int | None,
    sink_transform,
) -> None:
    """One micro-batch of dedup ingest (the dedup tail of every
    streaming mode that has one).

    Reads the stores' COMMITTED views below batch_id — the compacted
    snapshot plus unfolded batch dirs (a replayed batch must not
    collide with, or verify against, its own first attempt) — drops
    the rows ``tail`` rules duplicates, then appends the survivors to
    the data sink, ALL batch bucket rows to the bucket store and, for
    a verified tail, ALL batch payload rows to the payload store, each
    under this batch's idempotent dir. Every ``compact_every`` batches
    each store is folded into one snapshot version (strictly below
    this batch id, so a retry of THIS batch still excludes its own
    rows); re-running the compaction on a batch retry folds nothing
    new and publishes nothing.

    ``sink_transform`` (None, or a DataFrame -> DataFrame callable such
    as the temperature-membership filter) applies to the SINK append
    only — the stores still record every survivor, mirroring the
    release pipeline where dedup canonicalization runs BEFORE mixing: a
    mix-dropped doc must still shadow its later near-dups, or a
    duplicate of it would sneak into the sink."""
    spark = batch_df.sparkSession
    # Band and payload rows (and the frame they share) are each read by
    # the drops, i.e. the sink write, and again by their store append;
    # without the persists every batch would pay the signature
    # aggregation (the dominant per-batch cost) twice.
    held: list[DataFrame] = []

    def hold(df: DataFrame) -> DataFrame:
        held.append(df.persist())
        return df

    try:
        band, payload = _tail_frames(tail, batch_df, hold)
        bucket_path = bucket_store_path(sink_path)
        stores = [
            (bucket_path, band.select("doc_id", "lang", "band", "band_key"))
        ]
        store_band = _store_view(spark, bucket_path, batch_id)
        store_payload = None
        if tail.verify is not None:
            payload_path = os.path.join(sink_path, tail.verify.dirname)
            stores.append((payload_path, payload))
            if store_band is not None:
                # a bucket store without matching payload coverage
                # (sink previously fed by a non-verified mode) must fail
                # loudly, not silently pass near-dups of unverifiable
                # docs
                _require_payload_coverage(
                    sink_path, tail.verify.dirname, batch_id,
                    tail.verify.label,
                )
                store_payload = _store_view(
                    spark, payload_path, batch_id, schema=tail.verify.schema
                )
        drops = _tail_drops(tail, band, payload, store_band, store_payload)
        survivors = _anti(batch_df, drops, id_col)
        if sink_transform is not None:
            survivors = sink_transform(survivors)
        append_batch(survivors, sink_path, batch_id)
        for path, rows in stores:
            append_batch(rows, path, batch_id)
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            for path, _rows in stores:
                compact_store(spark, path, below=batch_id)
    finally:
        for df in held:
            df.unpersist()


def batch_dedup_keep(tail: Dedup, df: DataFrame, id_col: str) -> DataFrame:
    """The BATCH statement of a dedup tail — the streaming rule run
    against an empty store, one implementation (_tail_drops), so the
    equivalence reference can never drift from what the ingest path
    computes. A row survives iff no smaller id nominates it (shares a
    bucket) and, for a verified tail, also passes the decision rule.
    When a stream replays the frame in id order, the streamed sink must
    equal this exactly (arrival order = id order makes 'earlier' and
    'smaller' the same relation across and within batches)."""
    band, payload = _tail_frames(tail, df, lambda f: f)
    return _anti(df, _tail_drops(tail, band, payload, None, None), id_col)
