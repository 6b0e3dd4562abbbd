"""Incremental streaming near-dup detection: MinHash+LSH over a feed.

Batch LSH (`operators/dedup.py`) re-scans the whole corpus per run; an
ingest feed at 100 TB cannot afford that. This operator maintains an
accumulated SIGNATURE INDEX — (doc_id, band) plus (doc_id, shingle)
stores, parquet-backed — and, per arriving micro-batch, checks the new
documents against (a) each other and (b) the index, then appends them
to the index. The shingle store holds the per-doc ARRAY form (one row
per document — r17, matching the batch operator's row-local shapes).
Work per batch is proportional to the BATCH (shingle, band, candidate
volume), never to corpus history; the only history touched is the
equi-join against the band index, which Spark prunes to matching band
keys.

The reference has no streaming analog (its ingest path is a job queue,
`api/app/services/job_queue.py`, with content-hash idempotency only —
exact dup detection at ingest, `api/app/services/content_hasher.py`);
near-dup there is a batch offline concern. This operator is the
union of the two postures: the reference's at-ingest idempotency check
upgraded to near-dup, Spark-first.

Scale notes:
- The band-bucket cap (`operators/dedup.py MAX_BUCKET`) applies to the
  COMBINED bucket (index + batch): degenerate boilerplate bands are
  dropped before any pair generation, keeping per-batch candidate
  volume bounded even as the index grows. The band store is pruned to
  the batch's band keys by one broadcast semi-join BEFORE any count or
  pair generation, so both stages work on (batch ∩ index) rows only;
  at 100 TB the store would additionally be PARTITIONED BY a band
  prefix so the semi-join prunes directories, not just rows.
- Verification joins fetch ONLY candidate docs' shingles from the
  shingle store (semi-join pushdown on doc_id), so exact-jaccard cost
  is proportional to candidates, not history.
- State (band/shingle stores) lives in object storage, not executor
  memory — restart-safe alongside the stream checkpoint, and readable
  by the batch operators (the index IS d_minhash_lsh's intermediate).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.fs import parquet_state_exists
from ..functions.scale import fan_out
from .landing import replay
from ..operators.dedup import (
    JACCARD_THRESHOLD,
    MAX_BUCKET,
    N_BANDS,
    doc_shingle_arrays,
    lsh_candidates,
    minhash_signatures_from_arrays,
    verify_jaccard_arrays,
)


def _bands_of(sigs: DataFrame) -> DataFrame:
    """(doc_id, band) rows, one per band per doc — same band encoding
    as the batch operator (prefixed, so bands never collide across
    band positions)."""
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.lit(f"b{b}|"), F.col(f"h{2*b}"), F.col(f"h{2*b+1}")
                    ).alias(f"band{b}")
                    for b in range(N_BANDS)
                ]
            )
        ).alias("band"),
    )


def _relevant_bands(bands_old: DataFrame, bands_new: DataFrame) -> DataFrame:
    """The slice of the band store a batch can interact with: one
    broadcast semi-join on the batch's (small) distinct band keys.
    Everything downstream — cap count, cross-pair generation — reads
    this frame, so per-batch state touched is O(batch ∩ index) rows
    regardless of how large the accumulated index is
    (test_dedup_stream.test_cap_count_input_is_batch_bounded pins it)."""
    return bands_old.join(
        F.broadcast(bands_new.select("band").distinct()), "band", "left_semi"
    )


def process_batch(
    batch_docs: DataFrame,
    band_dir: str,
    shingle_dir: str,
    pairs_dir: str,
    batch_id: int,
    max_bucket: int = MAX_BUCKET,
) -> None:
    """One micro-batch: detect near-dups (batch-internal + batch-vs-
    index), append results, then admit the batch into the index."""
    spark = batch_docs.sparkSession
    # r17 (guide §2.4): the stream twin inherits the batch operator's
    # row-local array forms — shingle dedup and the 8 minhash folds are
    # per-document projections, so the per-trigger explode→DISTINCT and
    # groupBy(doc) exchanges of the r16 shape are gone. The shingle
    # STORE holds the array form too (same bytes, one row per doc), and
    # verification reads it through the same semi-filtered array path
    # the batch row grades through. fan_out BEFORE shingling (the batch
    # operator's lesson): a micro-batch lands as ONE file = one scan
    # split, which serialized the whole md5 stage on a single task; at
    # production trigger sizes splits ≥ cores and fan_out is a no-op.
    arr_new = doc_shingle_arrays(fan_out(batch_docs)).localCheckpoint(eager=True)
    # one md5 pass per trigger: bands, the internal candidates, and the
    # band-store append all read the materialized signature rows;
    # _bands_of stays UN-checkpointed — it is a row-local explode over
    # these materialized rows, cheaper re-run than its own job
    sigs_new = minhash_signatures_from_arrays(arr_new).localCheckpoint(eager=True)
    bands_new = _bands_of(sigs_new)

    # Hadoop-FS probe, not os.path — the band index lives wherever the
    # checkpoint does (HDFS/object store in production); a driver-local
    # isdir would silently report "no index" there (functions/fs.py)
    have_index = parquet_state_exists(spark, band_dir)

    # batch-internal candidates: the batch operator's capped pair expansion
    internal = lsh_candidates(sigs_new, max_bucket=max_bucket)

    if have_index:
        bands_old = spark.read.parquet(band_dir)
        # ONE broadcast semi-join prunes the store to the batch's band
        # keys, and the pruned frame is materialized once — the cap
        # count and the cross pairs both read it, so per-batch work
        # past the store scan is proportional to (batch ∩ index), not
        # to history (the r6 shape aggregated the ENTIRE band store
        # per micro-batch; test_dedup_stream pins flatness now)
        bands_rel = _relevant_bands(bands_old, bands_new).localCheckpoint(eager=True)
        # combined per-band population decides the cap — a band already
        # degenerate in the index must not generate pairs with the batch
        combined_count = (
            bands_rel.groupBy("band").agg(F.count("*").alias("n_old"))
            .join(
                bands_new.groupBy("band").agg(F.count("*").alias("n_new")),
                "band",
            )
            .filter(F.col("n_old") + F.col("n_new") <= max_bucket)
            .select("band")
        )
        cross = (
            bands_new.join(combined_count, "band")
            .select(F.col("doc_id").alias("new_id"), "band")
            .join(bands_rel.withColumnRenamed("doc_id", "old_id"), "band")
            .select(
                F.least("new_id", "old_id").alias("doc_a"),
                F.greatest("new_id", "old_id").alias("doc_b"),
            )
            .distinct()
        )
        candidates = internal.unionByName(cross).distinct()
        arr_all = arr_new.unionByName(spark.read.parquet(shingle_dir))
    else:
        candidates = internal
        arr_all = arr_new

    # exact-jaccard verification on candidates only: the array verifier
    # semi-joins the (batch ∪ store) arrays down to candidate docs under
    # its counted broadcast guard, so per-trigger verification cost is
    # proportional to candidates, never to history
    cand = candidates.localCheckpoint(eager=True)
    pairs = (
        verify_jaccard_arrays(cand, arr_all, n_pairs=cand.count())
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .withColumn("batch_id", F.lit(batch_id))
    )
    pairs.write.mode("append").parquet(pairs_dir)

    # admit the batch into the index AFTER detection (a doc never pairs
    # with itself via the index)
    bands_new.write.mode("append").parquet(band_dir)
    arr_new.write.mode("append").parquet(shingle_dir)


def streaming_near_dup(
    spark: SparkSession,
    sf_dir: str,
    n_batches: int = 2,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """Feed the documents table through an availableNow file stream in
    `n_batches` landing files (maxFilesPerTrigger=1 → one micro-batch
    per file) and return every detected near-dup pair
    (doc_a, doc_b, jaccard, batch_id).

    The result matches the pair set d_minhash_lsh finds on the full
    corpus (same shingles, signatures, banding, cap, threshold) —
    pinned by tests/test_dedup_stream.py — computed incrementally:
    pairs whose docs arrive in different batches are found by the
    index join, at batch-proportional cost.

    Cap semantics under streaming: the cap decision is prefix-monotone
    — a band is judged on the docs seen SO FAR, and emitted pairs are
    never retracted. Exact parity with the batch operator therefore
    holds when no band crosses the cap mid-stream (true at every
    driver scale factor, largest bucket 28 < 64); a band that
    degenerates later yields a SUPERSET (the early, still-small-bucket
    pairs stand — the honest semantics for an online detector)."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))

    def handle(batch_df: DataFrame, batch_id: int, tmp: str) -> None:
        process_batch(
            batch_df.select("doc_id", "text"),
            os.path.join(tmp, "bands"),
            os.path.join(tmp, "shingles"),
            os.path.join(tmp, "pairs"),
            batch_id,
            max_bucket,
        )

    # modulo split: the pair set is order-insensitive, but batch_id
    # labels follow the part order
    parts = [docs.filter(F.col("doc_id") % n_batches == i) for i in range(n_batches)]
    return replay(
        parts, handle, lambda tmp: spark.read.parquet(os.path.join(tmp, "pairs"))
    )


def stream_dedup_within_watermark(
    events_stream: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    delay: str = "10 minutes",
) -> DataFrame:
    """Watermark-bounded streaming exact-dedup: a duplicate arriving
    within `delay` of the first occurrence is dropped; state for keys
    older than the watermark is EVICTED (Spark's
    dropDuplicatesWithinWatermark).

    Bounded state by design: at 100 TB/day a forever-dedup's state
    grows without bound, while real duplicate arrivals cluster near the
    original (retries, replays, at-least-once sources). Exact-duplicate
    semantics only — near-dup needs the LSH index path above."""
    return events_stream.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
        keys
    )


# ---------------------------------------------------------------------------
# Prepared r9 registry candidate (prepared-plan discipline; r9 plan in
# registry.py), registered r9 at the module tail below.
# ---------------------------------------------------------------------------


def st_neardup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r9 candidate: the incremental streaming LSH near-dup path as a
    driver row — documents replayed in 2 micro-batches against the
    accumulating band/shingle index. At every driver scale factor no
    band crosses the cap mid-stream (largest bucket 28 < 64, pinned by
    tests/test_dedup_stream.py), so the emitted pair set equals the
    batch operator's exactly and d_minhash_lsh's static SQL oracle
    grades the STREAMED path hash-exact. `batch_id` (arrival metadata,
    not part of the static contract) is dropped."""
    return streaming_near_dup(spark, sf_dir, n_batches=2).select(
        "doc_a", "doc_b", "jaccard"
    )


def st_neardup_stream_oracle() -> str:
    from ..operators import dedup  # noqa: F401 — ensure registration ran
    from ..registry import QUERIES

    return QUERIES["d_minhash_lsh"].oracle


# Registered r9: the prepared-candidate plan in registry.py, executed.
from ..registry import query as _query  # noqa: E402  (module tail)

_query("st_neardup_stream", oracle=st_neardup_stream_oracle())(st_neardup_stream)
