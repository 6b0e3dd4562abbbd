"""ST1 end-to-end streaming ingest (VERDICT r4 gap #5).

The reference's ingestion loop wraps every job in the epoch handshake:
`record_epoch` → chunk → LLM extract → embed → dedup-merge upsert →
`complete_epoch` (`/root/reference/api/app/lib/age_client/ingestion.py:
31-152`); committed readers only ever see fully-completed epochs.

Spark-first: documents arrive as an `availableNow` file stream; each
micro-batch runs the batch ingest pipeline (F3 chunk → U1 mock extract
→ U2 embed → J9/V4 two-tier upsert) inside `foreachBatch` — windowed
per-key state is not needed, the epoch column is the state — and lands
in an append-only concept sink plus an append-only epoch event log.
The demo ingests three epochs:

  epoch 0: even doc_ids vs the empty graph    → record + complete
  epoch 1: odd doc_ids vs epoch-0's concepts  → record + complete
  epoch 2: a RETRY of the even docs           → record, NEVER completed

Epoch 2 simulates an in-flight (crashed) ingestion: its rows are in
the sink but the committed watermark (max completed epoch = 1) excludes
them from every snapshot read — the whole point of the ST1 contract.

Scale shape: the demo lands its first `doc_limit` documents as one
file through `landing.replay`, so all epochs run in one micro-batch
(at 100 TB: a real landing zone with maxFilesPerTrigger); the upsert's
similarity join is the same bounded two-tier matcher the batch path
uses; the sink append is partitioned by epoch so snapshot reads prune.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import Ctx, query
from ..sources.ingest import ingest_documents, two_tier_upsert
from .landing import replay

_DOC_LIMIT = 40  # bounded demo corpus: constant across scale factors


def streaming_ingest(spark: SparkSession, sf_dir: str, doc_limit: int = _DOC_LIMIT) -> DataFrame:
    """Run the availableNow ingest stream; return the committed-snapshot
    concept frame (doc_id, chunk_index, concept_id, term, resolved_id,
    action, epoch)."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out_cols = ["doc_id", "chunk_index", "concept_id", "term",
                "embedding", "resolved_id", "action", "epoch"]

    def handle(batch_df: DataFrame, batch_id: int, tmp: str) -> None:
        concept_dir = os.path.join(tmp, "concepts")
        batch = batch_df.select("doc_id", "text")

        def log_epoch(epoch: int, status: str) -> None:
            from ..functions.scale import local_df

            local_df(spark, [(epoch, status)], "epoch int, status string") \
                .write.mode("append").parquet(os.path.join(tmp, "epochs"))

        # -- epoch 0: even docs against the empty graph
        # eager checkpoint: epoch 2's retry below re-emits these SAME
        # deterministic rows — one Python-boundary ingest pass instead
        # of two (r17, guide §1/§4; the retry semantics live in the
        # epoch log, not in recomputation)
        log_epoch(0, "record")
        w0 = ingest_documents(
            batch.filter(F.col("doc_id") % 2 == 0)
        ).localCheckpoint(eager=True)
        w0.withColumn("epoch", F.lit(0)).select(out_cols) \
            .write.mode("append").parquet(concept_dir)
        log_epoch(0, "complete")

        # -- epoch 1: odd docs matched against epoch-0's concept registry
        log_epoch(1, "record")
        existing = (
            spark.read.parquet(concept_dir)
            .filter(F.col("epoch") == 0)
            .select("concept_id", "term", "embedding")
            .dropDuplicates(["concept_id"])
        )
        from ..functions.text import chunk_by_count
        from ..sources.ingest import embed_concepts, mock_extract_concepts

        odd = batch.filter(F.col("doc_id") % 2 == 1)
        incoming = embed_concepts(mock_extract_concepts(chunk_by_count(odd)))
        w1 = two_tier_upsert(incoming, existing)
        w1.withColumn("epoch", F.lit(1)).select(out_cols) \
            .write.mode("append").parquet(concept_dir)
        log_epoch(1, "complete")

        # -- epoch 2: a retry of the even docs that never completes —
        # rows land in the sink, the watermark never covers them
        # (the retry re-emits epoch 0's materialized rows: identical by
        # determinism, and the un-committed-epoch semantics are carried
        # by the epoch log alone)
        log_epoch(2, "record")
        w0.withColumn("epoch", F.lit(2)).select(out_cols) \
            .write.mode("append").parquet(concept_dir)

    def result(tmp: str) -> DataFrame:
        epochs = spark.read.parquet(os.path.join(tmp, "epochs"))
        committed = (
            epochs.filter(F.col("status") == "complete")
            .agg(F.max("epoch").alias("c"))
            .collect()[0]["c"]
        )
        committed = -1 if committed is None else committed
        return (
            spark.read.parquet(os.path.join(tmp, "concepts"))
            .filter(F.col("epoch") <= committed)
            .drop("embedding")
        )

    return replay([docs.filter(F.col("doc_id") < doc_limit)], handle, result)


def _oracle() -> str:
    from ..functions import oracle_snippets as osql
    from ..functions.text import chunk_sql

    chunks = chunk_sql(20).strip().replace(
        "FROM documents)", f"FROM documents WHERE doc_id < {_DOC_LIMIT})"
    )
    uv = osql.unit_vec_cte(
        "term", "doc_id, chunk_index, term, concept_id", "cc"
    )
    return (
        "WITH "
        + chunks
        + f""",
terms AS (
  SELECT DISTINCT doc_id, chunk_index, t.term
  FROM chunks, unnest(string_split(chunk_text, ' ')) AS t(term)
  WHERE length(t.term) >= 5
),
cc AS (
  SELECT doc_id, chunk_index, term,
         'sha256:' || substr(sha256(term), 1, 12) || '_chunk' || chunk_index AS concept_id
  FROM terms
),
cemb AS MATERIALIZED (SELECT doc_id, chunk_index, term, concept_id, emb FROM {uv} u),
w0 AS (SELECT * FROM cemb WHERE doc_id % 2 = 0),
ex AS MATERIALIZED (
  SELECT concept_id AS existing_id, existing_term, existing_emb FROM (
    SELECT concept_id,
           first(term ORDER BY doc_id, chunk_index) AS existing_term,
           first(emb ORDER BY doc_id, chunk_index) AS existing_emb
    FROM w0 GROUP BY concept_id)
),
w1 AS (SELECT * FROM cemb WHERE doc_id % 2 = 1),
hits AS (
  SELECT w1.doc_id, w1.chunk_index, w1.concept_id, ex.existing_id,
         round({osql.dot_sql('w1.emb', 'ex.existing_emb')}, 6) AS sim
  FROM w1 CROSS JOIN ex
  WHERE round({osql.dot_sql('w1.emb', 'ex.existing_emb')}, 6) >= 0.5
     OR (round({osql.dot_sql('w1.emb', 'ex.existing_emb')}, 6) >= 0.3
         AND w1.term = ex.existing_term)
),
best AS (
  SELECT doc_id, chunk_index, concept_id, existing_id FROM
  (SELECT *, row_number() OVER
     (PARTITION BY concept_id, doc_id, chunk_index
      ORDER BY sim DESC, existing_id) AS rn
   FROM hits) WHERE rn = 1
),
w1r AS (
  SELECT w1.doc_id, w1.chunk_index, w1.concept_id,
         coalesce(b.existing_id, w1.concept_id) AS resolved_id,
         CASE WHEN b.existing_id IS NOT NULL THEN 'merge' ELSE 'insert' END AS action
  FROM w1 LEFT JOIN best b
    ON b.doc_id = w1.doc_id AND b.chunk_index = w1.chunk_index
   AND b.concept_id = w1.concept_id
),
w0r AS (SELECT doc_id, chunk_index, concept_id,
               concept_id AS resolved_id, 'insert' AS action FROM w0),
allr AS (
  SELECT 0 AS epoch, action, resolved_id FROM w0r
  UNION ALL
  SELECT 1, action, resolved_id FROM w1r
)
SELECT CAST(epoch AS INT) AS epoch, action,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT resolved_id) AS BIGINT) AS n_resolved
FROM allr GROUP BY epoch, action
"""
    )


@query("st_ingest_e2e", oracle=_oracle())
def st_ingest_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end streaming ingest through the epoch gate: per-epoch,
    per-action concept counts over the committed snapshot only. The
    never-completed retry epoch (2) MUST be absent from the result —
    the oracle does not even model it, so a watermark regression that
    leaks in-flight rows hash-mismatches immediately."""
    Ctx.get(spark, sf_dir)  # warm session confs (nanosAsLong, UTC)
    snap = streaming_ingest(spark, sf_dir)
    return snap.groupBy("epoch", "action").agg(
        F.count("*").alias("n"),
        F.countDistinct("resolved_id").alias("n_resolved"),
    )
