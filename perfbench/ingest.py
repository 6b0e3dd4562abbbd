"""`ingest` workload: writes beside reads.

Set-up builds a base concept store from a seeded corpus, in two halves:
the first into an empty store, the second against the first, so both
upsert paths are warm before the timed round. The timed round
then copies the base store and sends `BATCHES` micro-batches of Zipf
vocabulary documents through `sources.ingest.ingest_documents`, each
against the store built from every earlier batch; the benchmark appends
each batch's new concepts to the store (parquet) and runs one
`vector_search` over the just-written store. The round ends with one
`streaming.ingest_stream.streaming_ingest` pass over a generated
`documents.parquet`. A run is exactly one round, whatever `--seconds`
says, so a faster engine measures the same work.

Checks, after the timed round: each batch's per-action counts against
a DuckDB twin of the `st_ingest_e2e` oracle's CTE chain, each fresh
search against a DuckDB scan of the same store files, and the stream's
per-epoch counts against the registered `st_ingest_e2e` oracle.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

from knowledge_graph_system_spark.functions.vectors import unit_vec_py
from knowledge_graph_system_spark.operators.vector import vector_search
from knowledge_graph_system_spark.sources.ingest import ingest_documents
from knowledge_graph_system_spark.streaming.ingest_stream import streaming_ingest
from pyspark.sql import functions as F

import datagen
from checks import Oracle, spark_digest, subst

BATCHES = 5
BATCH_DOCS = 10
BASE_DOCS = 10  # per half
STREAM_DOCS = 20  # streaming_ingest reads at most doc_id < 40
VOCAB = 3000
SEARCH_K = 10


def _files(store: str) -> list[str]:
    return sorted(glob.glob(os.path.join(store, "*.parquet")))


class Ingest:
    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.vocab = datagen.ingest_vocabulary(VOCAB)
        self.n_docs = 0

    def docs(self, stream: int, n: int, name: str):
        path = os.path.join(self.work, "inputs", f"{name}.parquet")
        datagen.write_documents(path, datagen.zipf_documents(self.seed, stream, n, self.vocab))
        return path

    def _upsert(self, docs_path: str, store: str | None):
        existing = None
        if store and _files(store):
            existing = self.spark.read.parquet(store).select("concept_id", "term", "embedding")
        docs = self.spark.read.parquet(docs_path).select("doc_id", "text")
        return ingest_documents(docs, existing).localCheckpoint(eager=True)

    def _append(self, res, store: str) -> None:
        (res.filter(F.col("action") == "insert")
            .select("concept_id", "term", "embedding")
            .dropDuplicates(["concept_id"])
            .write.mode("append").parquet(store))

    def build_base(self, store: str) -> float:
        """Set-up: the base store from the seeded base corpus (seconds)."""
        halves = [self.docs(0, BASE_DOCS, "base-0"), self.docs(1, BASE_DOCS, "base-1")]
        shutil.rmtree(store, ignore_errors=True)
        t0 = time.perf_counter()
        self._append(self._upsert(halves[0], None), store)
        self._append(self._upsert(halves[1], store), store)
        return time.perf_counter() - t0

    def batches(self, rec, base: str, batches: int = BATCHES) -> list[dict]:
        """The micro-batch phase: one log entry per batch."""
        store = os.path.join(self.work, "store")
        shutil.copytree(base, store)
        log = []
        for b in range(batches):
            path = self.docs(2 + b, BATCH_DOCS, f"batch-{b}")
            before = _files(store)
            entry = {"docs": path, "before": before, "qtext": f"query:{b}"}
            try:
                with rec.op("batch"):
                    with rec.layer("ingest.upsert"):
                        res = self._upsert(path, store)
                    with rec.layer("ingest.registry_write"):
                        self._append(res, store)
                entry["actions"] = [
                    (r_["action"], r_["n"], r_["n_resolved"])
                    for r_ in res.groupBy("action").agg(
                        F.count("*").alias("n"),
                        F.countDistinct("resolved_id").alias("n_resolved")).collect()
                ]
                entry["after"] = _files(store)
                with rec.op("search"):
                    with rec.layer("vector.search"):
                        df = vector_search(
                            self.spark.read.parquet(store).select(
                                F.col("concept_id").alias("node_id"),
                                F.col("term").alias("label"), "embedding"),
                            unit_vec_py(entry["qtext"]), k=SEARCH_K)
                        entry["search"] = spark_digest(df.columns, df.collect())
            except Exception as exc:
                entry["error"] = repr(exc)
            self.n_docs += BATCH_DOCS
            log.append(entry)
        return log

    def stream(self, rec) -> dict:
        """The streaming pass: its log entry."""
        stream_dir = os.path.join(self.work, "stream")
        path = os.path.join(stream_dir, "documents.parquet")
        datagen.write_documents(path, datagen.zipf_documents(
            self.seed, 10_000, STREAM_DOCS, self.vocab))
        entry = {"stream_dir": stream_dir}
        try:
            with rec.op("stream"):
                with rec.layer("streaming.run"):
                    snap = streaming_ingest(self.spark, stream_dir)
                    out = snap.groupBy("epoch", "action").agg(
                        F.count("*").alias("n"),
                        F.countDistinct("resolved_id").alias("n_resolved"))
                    rows = out.collect()
            entry["epochs"] = len({row["epoch"] for row in rows})
            entry["stream"] = spark_digest(out.columns, rows)
        except Exception as exc:
            entry["error"] = repr(exc)
        self.n_docs += STREAM_DOCS
        return entry


def _batch_sql(osql, chunk_sql, docs: str, existing: list[str]) -> str:
    chunks = subst(chunk_sql(20).strip(), {"FROM documents)": f"FROM read_parquet('{docs}'))"})
    files = ", ".join(f"'{f}'" for f in existing)
    inc = osql.unit_vec_cte("term", "doc_id, chunk_index, term, concept_id", "cc")
    ex = osql.unit_vec_cte(
        "term", "concept_id, term",
        f"(SELECT DISTINCT concept_id, term FROM read_parquet([{files}])) s")
    dot = osql.dot_sql("i.emb", "x.emb")
    return f"""WITH {chunks},
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
inc AS MATERIALIZED (SELECT * FROM {inc} u),
ex AS MATERIALIZED (SELECT * FROM {ex} v),
hits AS (
  SELECT i.doc_id, i.chunk_index, i.concept_id, x.concept_id AS existing_id,
         round({dot}, 6) AS sim
  FROM inc i CROSS JOIN ex x
  WHERE round({dot}, 6) >= 0.5 OR (round({dot}, 6) >= 0.3 AND i.term = x.term)
),
best AS (
  SELECT doc_id, chunk_index, concept_id, existing_id FROM
  (SELECT *, row_number() OVER
     (PARTITION BY concept_id, doc_id, chunk_index ORDER BY sim DESC, existing_id) AS rn
   FROM hits) WHERE rn = 1
),
r AS (
  SELECT coalesce(b.existing_id, i.concept_id) AS resolved_id,
         CASE WHEN b.existing_id IS NOT NULL THEN 'merge' ELSE 'insert' END AS action
  FROM inc i LEFT JOIN best b
    ON b.doc_id = i.doc_id AND b.chunk_index = i.chunk_index AND b.concept_id = i.concept_id
)
SELECT action, CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT resolved_id) AS BIGINT) AS n_resolved
FROM r GROUP BY action"""


def _search_sql(osql, files: list[str], qtext: str) -> str:
    raw = osql.raw_vec_sql(f"'{qtext}'")
    lst = ", ".join(f"'{f}'" for f in files)
    return f"""WITH q AS (SELECT list_transform(raw, x -> x / {osql.l2_norm_sql('raw')}) AS qv
           FROM (SELECT {raw} AS raw) t),
s AS (SELECT concept_id AS node_id, term AS label, embedding AS emb
      FROM read_parquet([{lst}]))
SELECT node_id, label, round({osql.dot_sql('emb', 'qv')}, 6) AS score
FROM s, q WHERE round({osql.dot_sql('emb', 'qv')}, 6) >= 0.3
ORDER BY score DESC, node_id LIMIT {SEARCH_K}"""


def check(log: list[dict], specs: dict) -> dict:
    """(attempted, failed, pairs scored, merges, epochs) over one round."""
    from knowledge_graph_system_spark.functions import oracle_snippets as osql
    from knowledge_graph_system_spark.functions.text import chunk_sql

    con = Oracle()
    attempted = failed = pairs = merges = 0
    epochs = []
    for entry in log:
        attempted += 2 if "docs" in entry else 1
        if "error" in entry:
            failed += 1
            print(f"ingest step failed: {entry['error']}")
            continue
        if "docs" in entry:
            want = con.con.execute(_batch_sql(osql, chunk_sql, entry["docs"],
                                              entry["before"])).fetchall()
            got = entry["actions"]
            if sorted(got) != sorted(want):
                failed += 1
                print(f"batch {entry['docs']} counts {sorted(got)} != {sorted(want)}")
            n_in = sum(n for _a, n, _r in got)
            n_ex = con.con.execute(
                "SELECT count(*) FROM read_parquet([" +
                ", ".join(f"'{f}'" for f in entry["before"]) + "])").fetchone()[0]
            pairs += n_in * n_ex
            merges += sum(n for a, n, _r in got if a == "merge")
            if entry["search"] != con.digest(_search_sql(osql, entry["after"], entry["qtext"])):
                failed += 1
                print(f"fresh search {entry['qtext']} mismatch")
        else:
            epochs.append(entry["epochs"])
            sql = specs["st_ingest_e2e"].oracle
            con.con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM "
                            f"'{os.path.join(entry['stream_dir'], 'documents.parquet')}'")
            if entry["stream"] != con.digest(sql):
                failed += 1
                print(f"stream {entry['stream_dir']} mismatch")
    con.close()
    return {"attempted": attempted, "failed": failed, "pairs": pairs, "merges": merges,
            "epochs": epochs}


def run(rec, ing: Ingest, base: str) -> tuple[dict, list[dict]]:
    """The timed round. `wall_s` is the micro-batch phase, which the
    end-to-end metrics cover; the stream pass, one cold call whose time
    swings more than the bounds allow, is reported per layer."""
    t0 = time.perf_counter()
    log = ing.batches(rec, base)
    t1 = time.perf_counter()
    log.append(ing.stream(rec))
    return {"wall_s": t1 - t0, "round_s": time.perf_counter() - t0}, log
