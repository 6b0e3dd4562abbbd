"""Corpus-curation operators: train/eval contamination checking and
greedy sequence packing.

Two more standard steps of a large-scale training-data pipeline (the
reference corpus is one graph and has no analog; these extend the
engine's LLM-pipeline surface alongside `operators/dedup.py` and
`operators/sampling.py`):

- `contamination_check`: flag training documents that share word
  n-grams with an evaluation set — the standard decontamination test.
  Eval sets are small by construction (thousands of prompts), so the
  eval n-gram side is BROADCAST; the training side is one scan with an
  explode whose output is |doc_words| rows per doc — linear, no
  self-join, no shuffle of the training corpus (aggregation after the
  broadcast join is on doc_id, which the join preserves).
- `greedy_pack`: assign documents to fixed-token-budget training
  sequences. A global first-fit is inherently sequential, so this is
  the scale-correct variant: documents are hash-assigned to P
  independent pack groups and packed contiguously within each group in
  deterministic hash order (prefix-sum window → bin = floor(prefix /
  seq_len)). Each group packs in parallel; the window shuffle is on
  the group key, and P is chosen so a group fits a partition. This is
  the packing shape large-corpus trainers actually use (per-shard
  packing), not a toy global loop.

- `repetition_stats` / `repetition_filter`: the Gopher repetition
  gates (top n-gram fraction, duplicated n-gram fraction) — computed
  per-doc with a sorted-array run-length fold, ZERO shuffles.
- `duplicate_span_stats`: cross-document exact n-gram span sharing
  (substring-level dedup signal, complementing doc-level minhash).
- `pii_redact`: email/IPv4/phone scrub via a regexp_replace chain,
  patterns restricted to the RE2-and-Java-compatible subset.

Everything is pure column expressions; every operator ships with an
exact DuckDB oracle (tests/test_curation.py runs both engines
row-for-row).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..registry import query
from .sampling import bucket_sql, hash_bucket


def word_ngrams(text: Column, n: int) -> Column:
    """Array of space-joined word n-grams (documents shorter than n
    words yield an empty array)."""
    words = F.split(text, " ")
    return F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - n + 1),
            lambda i: F.concat_ws(" ", F.slice(words, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


# Distinct (eval_id, gram) rows above this lose the broadcast hint and
# the contamination join shuffles on gram instead — same bound class
# and row width as lm.LM_COUNT_BROADCAST_MAX (a string plus an id).
EVAL_GRAM_BROADCAST_MAX = 1_000_000


def contamination_check(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    min_hits: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per contaminated training doc: how many DISTINCT eval n-grams it
    contains and how many eval docs it collides with.

    Plan shape: eval n-grams (small in the intended use — eval sets are
    thousands of rows) are dedup'd, checkpointed, and broadcast WHILE
    COUNTED under EVAL_GRAM_BROADCAST_MAX — distinct (eval_id, gram)
    rows grow with the eval set, and a maliciously-or-accidentally
    large "eval set" must shuffle-join rather than blow the driver
    (r11: the one forced data-proportional hint the r10 audit missed).
    Train n-grams stream through the join exploded but never shuffle.
    Output: (doc_id, n_eval_ngrams, n_eval_docs) for docs with >=
    min_hits distinct shared n-grams."""
    from ..functions.scale import maybe_broadcast

    ev = (
        eval_df.select(
            F.col(id_col).alias("eval_id"),
            F.explode(word_ngrams(F.col(text_col), n)).alias("gram"),
        )
        .distinct()
        .localCheckpoint(eager=True)  # guard count + join share one pass
    )
    # no .distinct() on the train side: it would be a full (doc_id,
    # gram) exchange over the whole corpus before the broadcast join,
    # and the count_distinct aggregation below dedups anyway — the
    # only train-side shuffle is the per-doc aggregation over HITS
    tr = train.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_ngrams(F.col(text_col), n)).alias("gram"),
    )
    hits = tr.join(maybe_broadcast(ev, EVAL_GRAM_BROADCAST_MAX), "gram")
    return (
        hits.groupBy("doc_id")
        .agg(
            F.count_distinct("gram").alias("n_eval_ngrams"),
            F.count_distinct("eval_id").alias("n_eval_docs"),
        )
        .filter(F.col("n_eval_ngrams") >= min_hits)
    )


def contamination_sql(
    train_table: str,
    eval_table: str,
    n: int = 8,
    min_hits: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    def grams(tbl: str, alias: str) -> str:
        return f"""
  SELECT DISTINCT {tbl}.{id_col} AS {alias}, g.gram
  FROM {tbl},
       LATERAL (SELECT string_split({tbl}.{text_col}, ' ') AS words) w,
       LATERAL (
         SELECT array_to_string(w.words[u : u + {n - 1}], ' ') AS gram
         FROM unnest(range(1, len(w.words) - {n} + 2)) AS t(u)
       ) g
  WHERE len(w.words) >= {n}"""

    return f"""
WITH __tr_grams AS ({grams(train_table, "doc_id")}),
     __ev_grams AS ({grams(eval_table, "eval_id")})
SELECT t.doc_id,
       CAST(count(DISTINCT t.gram) AS BIGINT) AS n_eval_ngrams,
       CAST(count(DISTINCT e.eval_id) AS BIGINT) AS n_eval_docs
FROM __tr_grams t JOIN __ev_grams e ON t.gram = e.gram
GROUP BY t.doc_id
HAVING count(DISTINCT t.gram) >= {min_hits}
"""


def greedy_pack(
    docs: DataFrame,
    seq_len: int,
    n_groups: int,
    tokens_col: Column | None = None,
    id_col: str = "doc_id",
    salt: str = "pack",
) -> DataFrame:
    """Assign each doc a (pack_group, bin_id, bin_offset): contiguous
    greedy packing in deterministic hash order within hash-assigned
    groups. A doc whose span crosses a bin boundary belongs to the bin
    its first token falls in (`spans_boundary` marks it — real
    tokenizer pipelines split it downstream).

    n_groups sizes the parallelism: each group is one window partition,
    so pick n_groups >= cluster cores and small enough that a group's
    docs fit a partition (at 100 TB: tens of thousands)."""
    from pyspark.sql import Window

    toks = (
        tokens_col
        if tokens_col is not None
        else F.size(F.split(F.col("text"), " "))
    ).cast("bigint")
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("n_tokens"),
        (hash_bucket(F.col(id_col), salt) % n_groups).alias("pack_group"),
        hash_bucket(F.col(id_col), salt + "#order").alias("__ord"),
    )
    w = Window.partitionBy("pack_group").orderBy("__ord", "doc_id")
    cum = F.sum("n_tokens").over(w)
    return (
        d.withColumn("__start", cum - F.col("n_tokens"))
        .select(
            "doc_id",
            "n_tokens",
            "pack_group",
            F.floor(F.col("__start") / seq_len).cast("bigint").alias("bin_id"),
            (F.col("__start") % seq_len).alias("bin_offset"),
            (
                (F.col("__start") % seq_len) + F.col("n_tokens") > seq_len
            ).alias("spans_boundary"),
        )
    )


def greedy_pack_sql(
    table: str,
    seq_len: int,
    n_groups: int,
    tokens_sql: str = "len(string_split(text, ' '))",
    id_col: str = "doc_id",
    salt: str = "pack",
) -> str:
    grp = f"({bucket_sql(id_col, salt)}) % {n_groups}"
    ordb = bucket_sql(id_col, salt + "#order")
    return f"""
WITH d AS (
  SELECT {id_col} AS doc_id,
         CAST({tokens_sql} AS BIGINT) AS n_tokens,
         {grp} AS pack_group,
         {ordb} AS __ord
  FROM {table}
),
c AS (
  SELECT doc_id, n_tokens, pack_group,
         sum(n_tokens) OVER (
           PARTITION BY pack_group ORDER BY __ord, doc_id
         ) - n_tokens AS __start
  FROM d
)
SELECT doc_id, n_tokens, pack_group,
       CAST(floor(__start / {seq_len}) AS BIGINT) AS bin_id,
       CAST(__start % {seq_len} AS BIGINT) AS bin_offset,
       (__start % {seq_len}) + n_tokens > {seq_len} AS spans_boundary
FROM c
"""


# ---------------------------------------------------------------------------
# Repetition-based quality stats (the Gopher rules: Rae et al. 2021,
# "Scaling Language Models", Table A1 — fraction of content in the most
# frequent n-gram and in duplicated n-grams). A doc whose text is
# dominated by one repeated phrase is boilerplate; these two fractions
# are the standard cheap detectors.
# ---------------------------------------------------------------------------


def repetition_stats(
    docs: DataFrame, n: int = 2, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc repetition metrics, computed WITHOUT any shuffle.

    Returns (doc_id, n_grams, top_gram_frac, dup_gram_frac):
      top_gram_frac = count(most frequent word n-gram) / total n-grams
      dup_gram_frac = sum(counts of n-grams occurring >= 2) / total

    Scale shape: per-doc metrics need no cross-row state, so instead of
    explode -> groupBy(doc, gram) -> groupBy(doc) (two exchanges over
    rows x grams), the gram array is sorted per row and run-lengths are
    folded with an aggregate() higher-order function — an
    embarrassingly parallel scan, zero exchanges, stays inside
    whole-stage codegen. Docs shorter than n words report n_grams = 0
    and NULL fractions."""
    grams = word_ngrams(F.col(text_col), n)
    # fold: acc = (prev gram, current run, max run, sum of runs > 1)
    runs = F.expr(
        """
        aggregate(
          sort_array(__grams),
          named_struct('prev', CAST(NULL AS STRING), 'run', 0L,
                       'maxrun', 0L, 'dupsum', 0L),
          (acc, g) -> IF(acc.prev IS NOT NULL AND g = acc.prev,
            named_struct('prev', g, 'run', acc.run + 1L,
                         'maxrun', acc.maxrun, 'dupsum', acc.dupsum),
            named_struct('prev', g, 'run', 1L,
                         'maxrun', GREATEST(acc.maxrun, acc.run),
                         'dupsum', acc.dupsum
                                   + IF(acc.run > 1L, acc.run, 0L))),
          acc -> named_struct(
            'maxrun', GREATEST(acc.maxrun, acc.run),
            'dupsum', acc.dupsum + IF(acc.run > 1L, acc.run, 0L))
        )
        """
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"), grams.alias("__grams"))
        .select(
            "doc_id",
            F.size("__grams").cast("bigint").alias("n_grams"),
            runs.alias("__r"),
        )
        .select(
            "doc_id",
            "n_grams",
            F.when(
                F.col("n_grams") > 0,
                F.round(F.col("__r.maxrun") / F.col("n_grams"), 6),
            ).alias("top_gram_frac"),
            F.when(
                F.col("n_grams") > 0,
                F.round(F.col("__r.dupsum") / F.col("n_grams"), 6),
            ).alias("dup_gram_frac"),
        )
    )


def repetition_sql(
    table: str, n: int = 2, id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """DuckDB twin of repetition_stats (grouped counts — the oracle
    need not be shuffle-free, only equal)."""
    return f"""
WITH g AS (
  SELECT {table}.{id_col} AS doc_id,
         array_to_string(w.words[u : u + {n - 1}], ' ') AS gram
  FROM {table},
       LATERAL (SELECT string_split({table}.{text_col}, ' ') AS words) w,
       LATERAL (SELECT unnest(range(1, len(w.words) - {n} + 2)) AS u) t
  WHERE len(w.words) >= {n}
),
c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram),
s AS (
  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams,
         max(cnt) AS maxc,
         coalesce(sum(cnt) FILTER (cnt > 1), 0) AS dupsum
  FROM c GROUP BY doc_id
)
SELECT d.{id_col} AS doc_id,
       coalesce(s.n_grams, 0) AS n_grams,
       round(s.maxc / CAST(s.n_grams AS DOUBLE), 6) AS top_gram_frac,
       round(s.dupsum / CAST(s.n_grams AS DOUBLE), 6) AS dup_gram_frac
FROM {table} d LEFT JOIN s ON s.doc_id = d.{id_col}
"""


def repetition_filter(
    docs: DataFrame,
    n: int = 2,
    max_top_frac: float = 0.2,
    max_dup_frac: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Docs passing the Gopher repetition gates (NULL metrics — too
    short to measure — pass, matching the P5 NULL-passes convention)."""
    stats = repetition_stats(docs, n, id_col, text_col)
    keep = stats.filter(
        (F.col("top_gram_frac").isNull() | (F.col("top_gram_frac") <= max_top_frac))
        & (F.col("dup_gram_frac").isNull() | (F.col("dup_gram_frac") <= max_dup_frac))
    ).select("doc_id")
    return docs.join(keep, docs[id_col] == keep["doc_id"], "left_semi")


# ---------------------------------------------------------------------------
# Cross-document duplicate-span detection (substring-level exact dedup,
# the Lee et al. 2021 "Deduplicating Training Data Makes Language
# Models Better" signal): which of a doc's n-gram spans also occur in
# ANY other document. Doc-level minhash (operators/dedup.py) finds
# near-identical documents; this finds shared boilerplate spans inside
# otherwise-distinct documents.
# ---------------------------------------------------------------------------


def duplicate_span_stats(
    docs: DataFrame, n: int = 8, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc (n_spans, n_shared_spans, shared_frac): distinct n-gram
    spans, and how many of them occur in at least one OTHER doc.

    Scale shape: distinct (doc, gram) pairs -> gram doc-frequency by
    one groupBy(gram) -> broadcast-free equi-join back on gram -> per-
    doc aggregate. Two exchanges (gram, then doc_id), each linear in
    rows x grams — never a doc x doc self-join. A gram shared by many
    docs multiplies nothing: the doc-frequency table has one row per
    gram, and the join key count equals the distinct-pair count."""
    dg = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_ngrams(F.col(text_col), n)).alias("gram"),
    ).distinct()
    freq = dg.groupBy("gram").agg(F.count("*").alias("__df"))
    per_doc = (
        dg.join(freq, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum((F.col("__df") >= 2).cast("bigint")).alias("n_shared_spans"),
        )
    )
    base = docs.select(F.col(id_col).alias("doc_id"))
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("n_shared_spans", F.lit(0)).alias("n_shared_spans"),
            F.when(
                F.col("n_spans") > 0,
                F.round(F.col("n_shared_spans") / F.col("n_spans"), 6),
            ).alias("shared_frac"),
        )
    )


def duplicate_span_sql(
    table: str, n: int = 8, id_col: str = "doc_id", text_col: str = "text"
) -> str:
    return f"""
WITH dg AS (
  SELECT DISTINCT {table}.{id_col} AS doc_id,
         array_to_string(w.words[u : u + {n - 1}], ' ') AS gram
  FROM {table},
       LATERAL (SELECT string_split({table}.{text_col}, ' ') AS words) w,
       LATERAL (SELECT unnest(range(1, len(w.words) - {n} + 2)) AS u) t
  WHERE len(w.words) >= {n}
),
freq AS (SELECT gram, count(*) AS df FROM dg GROUP BY gram),
per_doc AS (
  SELECT dg.doc_id,
         CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_shared_spans
  FROM dg JOIN freq f ON f.gram = dg.gram
  GROUP BY dg.doc_id
)
SELECT d.{id_col} AS doc_id,
       coalesce(p.n_spans, 0) AS n_spans,
       coalesce(p.n_shared_spans, 0) AS n_shared_spans,
       CASE WHEN p.n_spans > 0
            THEN round(p.n_shared_spans / CAST(p.n_spans AS DOUBLE), 6)
       END AS shared_frac
FROM {table} d LEFT JOIN per_doc p ON p.doc_id = d.{id_col}
"""


# ---------------------------------------------------------------------------
# PII redaction: the standard scrub pass (emails, IPv4, phone-shaped
# numbers) every public-web training corpus runs before training.
# Pure regexp_replace chain — JVM-side, no UDF; patterns restricted to
# the RE2-AND-Java-compatible subset so the DuckDB oracle is exact.
# ---------------------------------------------------------------------------

PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\b\+?\d{3}[- ]\d{3}[- ]\d{4}\b", "<PHONE>"),
]


def pii_redact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, text_redacted, n_email, n_ipv4, n_phone, n_pii).

    Patterns apply in PII_PATTERNS order, each counting on the text as
    already redacted by the previous stage (so an email's digits are
    not re-counted as a phone). One projection, zero shuffles."""
    cur = F.col(text_col)
    counts = []
    for name, pat, rep in PII_PATTERNS:
        counts.append(F.regexp_count(cur, F.lit(pat)).cast("bigint").alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pat, rep)
    out = df.select(
        F.col(id_col).alias("doc_id"), cur.alias("text_redacted"), *counts
    )
    total = sum((F.col(f"n_{name}") for name, _, _ in PII_PATTERNS[1:]),
                F.col(f"n_{PII_PATTERNS[0][0]}"))
    return out.withColumn("n_pii", total.cast("bigint"))


def pii_redact_sql(table: str, text_col: str = "text", id_col: str = "doc_id") -> str:
    cur = text_col
    count_cols = []
    for name, pat, rep in PII_PATTERNS:
        esc = pat.replace("'", "''")
        count_cols.append(
            f"CAST(len(regexp_extract_all({cur}, '{esc}')) AS BIGINT) AS n_{name}"
        )
        cur = f"regexp_replace({cur}, '{esc}', '{rep}', 'g')"
    names = [f"n_{name}" for name, _, _ in PII_PATTERNS]
    return f"""
WITH r AS (
  SELECT {id_col} AS doc_id, {cur} AS text_redacted,
         {", ".join(count_cols)}
  FROM {table}
)
SELECT doc_id, text_redacted, {", ".join(names)},
       CAST({" + ".join(names)} AS BIGINT) AS n_pii
FROM r
"""


# ---------------------------------------------------------------------------
# r7 registration candidates (see registry.py "r7 REGISTRATION PLAN"):
# the driver-facing composites are built and oracle-tested NOW so r7's
# 3-slot budget is a decorator change, not new code. The window order
# cannot absorb them this round (50-slot invariant), so they stay
# unregistered; tests/test_curation.py runs each against its oracle
# exactly the way the driver will.
# ---------------------------------------------------------------------------


def cur_repetition_spans(spark, sf_dir: str):
    """Composite driver query: Gopher repetition metrics ⋈ cross-doc
    span stats per document (one frame, both quality signals)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rep = repetition_stats(docs, n=2)
    spans = duplicate_span_stats(docs, n=8)
    return rep.join(spans, "doc_id")


def cur_repetition_spans_oracle() -> str:
    rep = repetition_sql("documents", n=2)
    spans = duplicate_span_sql("documents", n=8)
    return f"""
SELECT r.doc_id, r.n_grams, r.top_gram_frac, r.dup_gram_frac,
       s.n_spans, s.n_shared_spans, s.shared_frac
FROM ({rep}) r JOIN ({spans}) s ON s.doc_id = r.doc_id
"""


def cur_pii_redact(spark, sf_dir: str):
    """Driver query: the PII scrub over documents (the synthetic corpus
    is PII-free, so the hash compare pins text_redacted == text and
    all-zero counts — the negative contract; the positive contract is
    pinned by the constructed-fixture test)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pii_redact(docs)


def cur_pii_redact_oracle() -> str:
    return pii_redact_sql("documents")


def smp_split_mix(spark, sf_dir: str):
    """Composite driver query: deterministic train/val/test split, then
    per-(split, lang) counts of a mixed corpus (web sources up-sampled
    1.5x, src0 down-sampled 0.4x) — exercises hash_split + corpus_mix
    in one aggregated, hash-stable result."""
    from .sampling import corpus_mix, hash_split

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mixed = corpus_mix(docs, "source", {"src0": 0.4, "src1": 1.5}, key="doc_id")
    split = hash_split(
        mixed, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return (
        split.groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_rows"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
    )


def smp_split_mix_oracle() -> str:
    from .sampling import corpus_mix_sql, hash_split_sql

    mixed = corpus_mix_sql(
        "documents", "source", {"src0": 0.4, "src1": 1.5}, key="doc_id"
    )
    split = hash_split_sql(f"({mixed})", "doc_id",
                           {"train": 0.8, "val": 0.1, "test": 0.1})
    return f"""
SELECT split, lang, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM ({split})
GROUP BY split, lang
"""


query("cur_repetition_spans", oracle=cur_repetition_spans_oracle())(cur_repetition_spans)
query("cur_pii_redact", oracle=cur_pii_redact_oracle())(cur_pii_redact)
query("smp_split_mix", oracle=smp_split_mix_oracle())(smp_split_mix)


# ---------------------------------------------------------------------------
# The packing/quota composite and the decontamination row.
# ---------------------------------------------------------------------------


@query(
    "cur_pack_quota",
    oracle="""
WITH q AS (
  SELECT * EXCLUDE (__rn) FROM (
    SELECT *, row_number() OVER (
      PARTITION BY source ORDER BY n_chars DESC, doc_id) AS __rn
    FROM documents
  ) WHERE __rn <= 200
),
p AS (""" + greedy_pack_sql("q", 2048, 8) + """)
SELECT pack_group,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT bin_id) AS BIGINT) AS n_bins,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(CAST(spans_boundary AS BIGINT)) AS BIGINT) AS n_spanning
FROM p GROUP BY pack_group
""",
)
def cur_pack_quota(spark, sf_dir: str) -> DataFrame:
    """Composite driver query: domain quota (top-200 per source by
    n_chars) feeding greedy sequence packing, summarized per pack
    group — the quota→pack chain a token-budgeted corpus build runs.
    Both stages shuffle once (domain window, pack-group window)."""
    from .sampling import domain_quota

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    quota = domain_quota(docs, "source", F.col("n_chars"), 200, "doc_id")
    packed = greedy_pack(quota, seq_len=2048, n_groups=8)
    return packed.groupBy("pack_group").agg(
        F.count("*").alias("n_docs"),
        F.count_distinct("bin_id").alias("n_bins"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum(F.col("spans_boundary").cast("bigint")).alias("n_spanning"),
    )


def cur_contamination_oracle() -> str:
    """Shared with st_contamination_stream's oracle
    (streaming/contamination_stream.py): stream==batch parity."""
    return contamination_sql("tr", "ev", n=8).replace(
        "WITH __tr_grams",
        "WITH tr AS (SELECT * FROM documents WHERE doc_id % 25 <> 0),\n"
        "     ev AS (SELECT * FROM documents WHERE doc_id % 25 = 0),\n"
        "     __tr_grams",
        1,
    )


@query("cur_contamination", oracle=cur_contamination_oracle())
def cur_contamination(spark, sf_dir: str) -> DataFrame:
    """Driver row for the decontamination check: every 25th document
    plays the eval set, the rest the training corpus; output is the
    per-contaminated-doc distinct shared 8-gram and eval-doc counts.
    Eval n-grams broadcast; the train side reaches the join with no
    exchange (plan pinned in tests/test_curation.py)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ev = docs.filter(F.col("doc_id") % 25 == 0)
    tr = docs.filter(F.col("doc_id") % 25 != 0)
    return contamination_check(tr, ev, n=8)


# ---------------------------------------------------------------------------
# Exact duplicated-span REWRITE (r9): duplicate_span_stats detects
# shared spans; this APPLIES the dedup — the corpus rewrite a training
# pipeline actually ships (Lee et al. 2022, "Deduplicating Training
# Data Makes Language Models Better": remove repeated spans, keep one
# canonical occurrence). Prepared r10/r11 registry candidate; r10 plan
# in registry.py.
# ---------------------------------------------------------------------------


def span_dedup_apply(
    docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """Rewrite the corpus so every duplicated word n-gram span survives
    only at its canonical FIRST occurrence (global order: doc_id, then
    start position); every other occurrence's word positions are
    removed and the doc's text is rebuilt from the surviving words.

    Returns (doc_id, clean_text, n_kept, n_removed) for EVERY input
    doc — untouched docs pass through verbatim with n_removed = 0.

    Scale shape: positioned grams are a per-row array transform (no
    shuffle); occurrence ranking is ONE window exchange on gram;
    covered positions derive from the dead spans without a new
    exchange; the rebuild is an anti-join on (doc, pos) plus a per-doc
    aggregate — every stage linear in rows x grams, never doc x doc.
    The within-partition sort the rebuild needs lives inside a
    collect_list + array_sort fold, not a global orderBy.

    Negative result, measured (SCALE_NOTES r9): a groupBy-MIN +
    join-back variant (combiner-friendly, immune to a hot-gram window
    partition) shuffles the gram stream TWICE and read 2.3x slower at
    sf1 (27 s vs 12 s, with 100 s variance spikes) — the single sorted
    exchange wins. A boilerplate-dominated corpus at 100 TB would
    instead bound the hot grams up front (doc-frequency cap, the
    MinHash band-cap discipline) before the window — that cap is
    `max_df`: grams occurring more than max_df times are EXEMPT from
    dedup (boilerplate is a filtering concern, not a dedup concern;
    same liveness argument as MinHash's MAX_BUCKET). The occurrence
    count rides the row_number window's existing exchange — a second
    window function, zero extra shuffles."""
    from pyspark.sql.window import Window

    base = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text"))
    ws = base.withColumn("__ws", F.split("__text", " "))
    grams = (
        ws.filter(F.size("__ws") >= n)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(__ws) - {n}), i -> "
                    f"struct(i AS start, concat_ws(' ', slice(__ws, i + 1, {n})) AS gram))"
                )
            ).alias("g"),
        )
        .select("doc_id", F.col("g.start").alias("start"), F.col("g.gram").alias("gram"))
    )
    occ_w = Window.partitionBy("gram").orderBy("doc_id", "start")
    occ = grams.withColumn("rn", F.row_number().over(occ_w))
    if max_df is not None:
        occ = occ.withColumn(
            "__df", F.count("*").over(Window.partitionBy("gram"))
        ).filter(F.col("__df") <= max_df)
    dead = (
        occ.filter(F.col("rn") >= 2)
        .select(
            "doc_id",
            F.explode(F.expr(f"sequence(start, start + {n - 1})")).alias("pos"),
        )
        .distinct()
    )
    wp = ws.select("doc_id", F.posexplode("__ws").alias("pos", "word"))
    rebuilt = (
        wp.join(dead, ["doc_id", "pos"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.expr(
                "concat_ws(' ', transform(array_sort(collect_list(struct(pos, word))),"
                " s -> s.word))"
            ).alias("clean_text"),
            F.count("*").alias("n_kept"),
        )
    )
    return (
        ws.select("doc_id", F.size("__ws").cast("bigint").alias("__n_words"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            (F.col("__n_words") - F.coalesce("n_kept", F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
        )
    )


def cur_span_dedup(spark, sf_dir: str) -> DataFrame:
    """r10/r11 candidate: `span_dedup_apply` (n=8) over the documents
    table as a driver row — the planted near-dup docs provably carry
    duplicated 8-gram spans at every gate sf, so the rewrite grades a
    non-trivial removal set (and every untouched doc verbatim)."""
    return span_dedup_apply(spark.read.parquet(f"{sf_dir}/documents.parquet"), n=8)


def cur_span_dedup_oracle() -> str:
    # constant-bound generate_series + WHERE (DuckDB lateral-bound
    # discipline, see the m_audio_frames oracle); fixture max is 99
    # words per doc, bound 128
    return """
WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
g AS (
  SELECT doc_id, i AS start, array_to_string(w[i+1 : i+8], ' ') AS gram
  FROM ws, generate_series(0, 128) AS t(i)
  WHERE i <= len(w) - 8
),
occ AS (
  SELECT doc_id, start,
         row_number() OVER (PARTITION BY gram ORDER BY doc_id, start) AS rn
  FROM g
),
cov AS (
  SELECT DISTINCT d.doc_id, d.start + u AS pos
  FROM (SELECT doc_id, start FROM occ WHERE rn >= 2) d,
       unnest(range(0, 8)) AS t(u)
),
wp AS (
  SELECT doc_id, i - 1 AS pos, w[i] AS word
  FROM ws, generate_series(1, 128) AS t(i)
  WHERE i <= len(w)
),
kept AS (
  SELECT wp.doc_id, wp.pos, wp.word
  FROM wp LEFT JOIN cov ON cov.doc_id = wp.doc_id AND cov.pos = wp.pos
  WHERE cov.pos IS NULL
),
agg AS (
  SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS clean_text,
         CAST(count(*) AS BIGINT) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id,
       coalesce(a.clean_text, '') AS clean_text,
       coalesce(a.n_kept, 0) AS n_kept,
       CAST(len(string_split(b.text, ' ')) AS BIGINT) - coalesce(a.n_kept, 0) AS n_removed
FROM documents b LEFT JOIN agg a ON a.doc_id = b.doc_id
"""


def pack_segments(
    packed: DataFrame, seq_len: int, id_col: str = "doc_id"
) -> DataFrame:
    """Split boundary-spanning docs into exact per-bin segments — the
    step greedy_pack's docstring defers "downstream": every doc's
    token span [start, start + n_tokens) is cut at bin boundaries into
    (bin_id, bin_offset, doc_offset, seg_len) rows, so each training
    sequence reads exactly its seq_len tokens and a spanning doc
    continues at doc_offset in the next bin.

    Input is greedy_pack's output (start reconstructs as
    bin_id * seq_len + bin_offset). Zero-token docs are dropped (they
    occupy no span). Pure per-row column math + one explode over the
    doc's bin range — no shuffle at all on top of the packing.

    Invariants (pinned by test): per-doc Σ seg_len == n_tokens; within
    every bin the segments tile [0, fill) without gaps or overlaps;
    every non-tail bin of a group is exactly seq_len full."""
    L = seq_len
    start = (F.col("bin_id") * L + F.col("bin_offset")).alias("__start")
    d = packed.filter(F.col("n_tokens") > 0).withColumn("__start", start)
    d = d.withColumn("__end", F.col("__start") + F.col("n_tokens"))
    d = d.withColumn(
        "__b",
        F.explode(
            F.expr(f"sequence(bin_id, CAST(floor((__end - 1) / {L}) AS BIGINT))")
        ),
    )
    return d.select(
        id_col,
        "pack_group",
        F.col("__b").alias("bin_id"),
        F.when(F.col("__b") == F.col("bin_id"), F.col("bin_offset"))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("bin_offset"),
        F.when(F.col("__b") == F.col("bin_id"), F.lit(0))
        .otherwise(F.col("__b") * L - F.col("__start"))
        .cast("bigint")
        .alias("doc_offset"),
        (
            F.least(F.col("__end"), (F.col("__b") + 1) * L)
            - F.greatest(F.col("__start"), F.col("__b") * L)
        )
        .cast("bigint")
        .alias("seg_len"),
    )


def pack_segments_sql(packed_sql: str, seq_len: int, max_tokens: int = 600) -> str:
    """DuckDB twin of `pack_segments` over a greedy_pack_sql subquery
    (constant-bound series + WHERE, the lateral-bound discipline).

    The extra-bin fan-out bound is DERIVED from `max_tokens` rather
    than guessed (ADVICE r9 — a fixed 4 silently dropped segments for
    any doc spanning more than 4 bins): a doc of n_tokens starting at
    the worst offset seq_len-1 spans 1 + floor((seq_len - 1 +
    n_tokens - 1) / seq_len) bins, so the series covers every possible
    u for n_tokens <= max_tokens and the WHERE trims the rest. The
    default 600 is the fixture-pinned per-document word ceiling
    (tests/test_dedup_multimodal.py::
    test_documents_fixture_is_ascii_nonempty, the same constant
    lm_score_sql's position series leans on); a longer-doc corpus must
    pass its own max_tokens or the twin diverges from Spark's exact
    arbitrary-span explode."""
    L = seq_len
    max_extra_bins = (L - 1 + max_tokens - 1) // L + 1
    return f"""
WITH __packed AS ({packed_sql}),
__s AS (
  SELECT *, bin_id * {L} + bin_offset AS __start,
         bin_id * {L} + bin_offset + n_tokens AS __end
  FROM __packed WHERE n_tokens > 0
)
SELECT doc_id, pack_group,
       bin_id + u AS bin_id,
       CAST(CASE WHEN u = 0 THEN bin_offset ELSE 0 END AS BIGINT) AS bin_offset,
       CAST(CASE WHEN u = 0 THEN 0 ELSE (bin_id + u) * {L} - __start END AS BIGINT) AS doc_offset,
       CAST(least(__end, (bin_id + u + 1) * {L})
            - greatest(__start, (bin_id + u) * {L}) AS BIGINT) AS seg_len
FROM __s, unnest(range(0, {max_extra_bins})) AS t(u)
WHERE bin_id + u <= CAST(floor((__end - 1) / {L}) AS BIGINT)
"""


def cur_pack_segments(spark, sf_dir: str) -> DataFrame:
    """r11 candidate: the segment table for a seq_len=128 packing of
    the documents table (whitespace budget — docs up to ~100 words, so
    spanning docs genuinely split) — greedy_pack composed with
    pack_segments, graded hash-exact against the composed SQL twin."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pack_segments(
        greedy_pack(docs, seq_len=128, n_groups=8), seq_len=128
    )


def cur_pack_segments_oracle() -> str:
    return pack_segments_sql(
        greedy_pack_sql("documents", seq_len=128, n_groups=8), seq_len=128
    )


# Registered r10: the prepared-candidate plan in registry.py, executed.
query("cur_span_dedup", oracle=cur_span_dedup_oracle())(cur_span_dedup)

# Registered r11: the prepared-candidate plan in registry.py, executed.
query("cur_pack_segments", oracle=cur_pack_segments_oracle())(cur_pack_segments)
