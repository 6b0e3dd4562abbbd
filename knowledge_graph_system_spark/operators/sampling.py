"""Deterministic sampling / splitting / corpus-mixing operators for
training-data pipelines.

A 100 TB corpus pipeline needs reproducible selection: the same
document must land in the same train/val/test split on every run, on
every cluster size, with no RNG state to ship. Everything here keys
off a content-stable hash bucket

    bucket(key) = CAST(substr(md5(key || salt), 1, 8) AS int base16) % 10000

which is bit-identical between Spark (`conv(substring(md5(..)))`) and
DuckDB (`('0x' || substr(md5(..),1,8))::BIGINT`), so every operator
has an exact SQL oracle. No UDFs, no driver-side state:

- `hash_split`       narrow map (zero shuffle): split assignment from
                     cumulative weight thresholds over the bucket.
- `stratified_sample` exact n-per-stratum: one shuffle on the stratum
                     column (window row_number ordered by hash — a
                     deterministic "random" order).
- `domain_quota`     top-k per domain by a quality expression: one
                     shuffle; the standard boilerplate-domain cap.
- `corpus_mix`       per-group up/down-sampling to target weights:
                     integer replication via explode(sequence) +
                     fractional remainder by hash threshold. Narrow.

The reference has no sampling surface (its corpus is one graph); these
are the scale-path operators the 100 TB brief adds on top, alongside
dedup (`operators/dedup.py`) and text stats (`operators/textstats.py`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_BUCKETS = 10_000


def hash_bucket(key: Column, salt: str = "") -> Column:
    """Deterministic [0, 10000) bucket from md5 — engine-portable."""
    h = F.md5(F.concat(key.cast("string"), F.lit(salt)))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % _BUCKETS


def bucket_sql(key_sql: str, salt: str = "") -> str:
    """The DuckDB-side rendering of `hash_bucket` (oracle parity)."""
    return (
        f"CAST(('0x' || substr(md5(CAST({key_sql} AS VARCHAR) || '{salt}'),"
        f" 1, 8)) AS BIGINT) % {_BUCKETS}"
    )


def hash_split(
    df: DataFrame,
    key: str,
    weights: dict[str, float],
    salt: str = "split",
) -> DataFrame:
    """Assign a deterministic split label from cumulative weight
    thresholds over the hash bucket. Zero shuffle: a narrow projection,
    so at 100 TB it fuses into whatever scan precedes it.

    weights must sum to ~1.0; iteration order defines the threshold
    order (use an explicit dict literal)."""
    total = sum(weights.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"split weights must sum to 1, got {total}")
    b = hash_bucket(F.col(key), salt)
    cum = 0.0
    expr = None
    names = list(weights)
    for name in names[:-1]:
        cum += weights[name]
        cond = b < int(round(cum * _BUCKETS))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    return df.withColumn("split", last)


def hash_split_sql(
    table: str, key: str, weights: dict[str, float], salt: str = "split"
) -> str:
    """DuckDB oracle for `hash_split` (same thresholds, same hash)."""
    b = bucket_sql(key, salt)
    cum, branches = 0.0, []
    names = list(weights)
    for name in names[:-1]:
        cum += weights[name]
        branches.append(f"WHEN {b} < {int(round(cum * _BUCKETS))} THEN '{name}'")
    case = "CASE " + " ".join(branches) + f" ELSE '{names[-1]}' END"
    return f"SELECT *, {case} AS split FROM {table}"


def stratified_sample(
    df: DataFrame,
    stratum: str,
    n_per_stratum: int,
    key: str,
    salt: str = "strat",
) -> DataFrame:
    """Exactly min(n, |stratum|) rows per stratum, chosen by hash order
    (deterministic, uniform over the stratum, stable under append-only
    growth of OTHER strata). One shuffle on the stratum column; the
    window never materializes more than a partition at a time.

    Skew note: a giant stratum hashes to many partitions only after
    AQE skew-split; for known-hot strata pre-salt the stratum key the
    same way `functions/skew.py` salts join keys."""
    from pyspark.sql import Window

    w = Window.partitionBy(stratum).orderBy(
        hash_bucket(F.col(key), salt), F.col(key)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_per_stratum)
        .drop("__rn")
    )


def stratified_sample_sql(
    table: str, stratum: str, n: int, key: str, salt: str = "strat"
) -> str:
    b = bucket_sql(key, salt)
    return f"""
SELECT * EXCLUDE (__rn) FROM (
  SELECT *, row_number() OVER (
    PARTITION BY {stratum} ORDER BY {b}, {key}) AS __rn
  FROM {table}
) WHERE __rn <= {n}
"""


def domain_quota(
    df: DataFrame,
    domain: str,
    quality: Column,
    k: int,
    key: str,
) -> DataFrame:
    """Keep the k highest-quality rows per domain (ties broken by key).
    The standard guard against boilerplate domains flooding a crawl
    corpus. One shuffle on domain; rank + filter is partition-local."""
    from pyspark.sql import Window

    w = Window.partitionBy(domain).orderBy(quality.desc(), F.col(key))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def corpus_mix(
    df: DataFrame,
    group: str,
    rates: dict[str, float],
    key: str,
    salt: str = "mix",
    default_rate: float = 1.0,
) -> DataFrame:
    """Up/down-sample each group to a target rate. rate < 1 keeps a
    deterministic hash-threshold subset; rate >= 1 emits floor(rate)
    copies plus the fractional remainder by the same threshold. A
    `mix_copy` column (0-based) disambiguates replicas downstream.

    Narrow except the explode, which only amplifies up-sampled groups —
    at 100 TB the common case (down-sampling boilerplate, up-sampling
    rare high-quality sources) adds no shuffle at all."""
    rate = None
    for name, r in rates.items():
        if r < 0:
            raise ValueError(f"negative rate for {name!r}")
        cond = F.col(group) == name
        rate = F.when(cond, r) if rate is None else rate.when(cond, r)
    rate = F.lit(float(default_rate)) if rate is None else rate.otherwise(
        float(default_rate)
    )
    b = hash_bucket(F.col(key), salt)
    whole = F.floor(rate).cast("int")
    # explicit round: Spark CAST truncates but DuckDB CAST rounds, so
    # the threshold must be rounded identically on both sides
    frac_keep = (b < F.round((rate - whole) * _BUCKETS, 0).cast("bigint")).cast("int")
    n_copies = whole + frac_keep
    return (
        df.withColumn("__n", n_copies)
        .filter(F.col("__n") > 0)
        .withColumn("mix_copy", F.explode(F.sequence(F.lit(0), F.col("__n") - 1)))
        .drop("__n")
    )


def corpus_mix_sql(
    table: str,
    group: str,
    rates: dict[str, float],
    key: str,
    salt: str = "mix",
    default_rate: float = 1.0,
) -> str:
    b = bucket_sql(key, salt)
    branches = " ".join(
        f"WHEN {group} = '{n}' THEN CAST({r} AS DOUBLE)" for n, r in rates.items()
    )
    rate = f"CASE {branches} ELSE CAST({default_rate} AS DOUBLE) END"
    return f"""
WITH rated AS (
  SELECT *,
         CAST(floor({rate}) AS INT)
         + CAST(({b}) < CAST(round(({rate} - floor({rate})) * {_BUCKETS}) AS BIGINT) AS INT)
         AS __n
  FROM {table}
)
SELECT * EXCLUDE (__n, u), CAST(u AS INT) AS mix_copy
FROM rated, unnest(range(CAST(__n AS BIGINT))) AS t(u)
WHERE __n > 0
"""


def quantile_filter(
    df: DataFrame,
    score: "Column | str",
    keep_frac: float,
    stratum: str | None = None,
    key: str = "doc_id",
) -> DataFrame:
    """Keep the top `keep_frac` of rows by `score` — optionally within
    each `stratum` (the standard per-domain quality cutoff: a global
    cut would let one high-scoring domain crowd out every other).

    Deterministic: ties on score break by `key`, and the boundary uses
    cume_dist (rank/total) so the kept set is a pure function of the
    data — re-runs, repartitions, and cluster sizes cannot change it.
    One shuffle (the window partition); at 100 TB a known-hot stratum
    takes the same pre-salting as any hot key (`functions/skew.py`).

    A stratum is REQUIRED: stratum=None would render the window as one
    global partition — the whole table through a single task, fatal at
    scale. For a corpus-wide cut use `quantile_filter_global`, which
    trades the exact boundary for an approxQuantile threshold."""
    if not (0.0 < keep_frac <= 1.0):
        raise ValueError("keep_frac must be in (0, 1]")
    if stratum is None:
        raise ValueError(
            "quantile_filter requires a stratum (a global cume_dist window"
            " is a single-partition plan); use quantile_filter_global for"
            " a corpus-wide threshold cut"
        )
    from pyspark.sql import Window

    sc = F.col(score) if isinstance(score, str) else score
    w = Window.partitionBy(stratum).orderBy(sc.desc(), F.col(key).asc())
    return (
        df.withColumn("__cd", F.cume_dist().over(w))
        .filter(F.col("__cd") <= keep_frac)
        .drop("__cd")
    )


def quantile_filter_global(
    df: DataFrame,
    score: "Column | str",
    keep_frac: float,
    rel_err: float = 0.001,
) -> DataFrame:
    """Corpus-wide quality cut that scales: an approxQuantile
    (Greenwald-Khanna, one aggregation pass, no global sort) finds the
    score threshold at the (1 - keep_frac) quantile, and a plain filter
    keeps rows at or above it.

    The trade vs `quantile_filter` is explicit: the kept FRACTION is
    keep_frac only to within rel_err, boundary ties are ALL kept
    (score >= threshold, no tie-break key), and the sketch's merge
    order makes the threshold partitioning-sensitive at the rel_err
    margin — so this path is for operational corpus cuts, while
    reproducible experiment curation should cut per-stratum with the
    exact operator."""
    if not (0.0 < keep_frac <= 1.0):
        raise ValueError("keep_frac must be in (0, 1]")
    if keep_frac == 1.0:
        return df
    sc = F.col(score) if isinstance(score, str) else score
    probed = df.withColumn("__score", sc.cast("double"))
    [thr] = probed.stat.approxQuantile("__score", [1.0 - keep_frac], rel_err)
    return probed.filter(F.col("__score") >= thr).drop("__score")


def quantile_filter_sql(
    table: str,
    score_sql: str,
    keep_frac: float,
    stratum: str | None = None,
    key: str = "doc_id",
) -> str:
    part = f"PARTITION BY {stratum} " if stratum else ""
    return f"""
SELECT * EXCLUDE (__cd) FROM (
  SELECT *, cume_dist() OVER (
    {part}ORDER BY {score_sql} DESC, {key} ASC) AS __cd
  FROM {table}
) WHERE __cd <= {keep_frac}
"""


# ---------------------------------------------------------------------------
# Prepared r9 registry candidate (prepared-plan discipline; r9 plan in
# registry.py), registered r9 at the module tail below.
# ---------------------------------------------------------------------------


def smp_quantile_global(spark, sf_dir: str) -> DataFrame:
    """r9 candidate: `quantile_filter_global` as a driver row — the
    corpus-wide quality cut keeping the top 25% by n_chars. The driver
    row runs rel_err=0.0, where Greenwald-Khanna is exact and returns
    the same dataset element as DuckDB's quantile_disc (agreement at
    both gate scale factors pinned by tests/test_sampling.py); a
    100 TB operational cut would pass rel_err>0 and accept the
    documented fraction tolerance instead."""
    from ..registry import Ctx

    docs = Ctx.get(spark, sf_dir).tables["documents"].select(
        "doc_id", "source", "n_chars"
    )
    return quantile_filter_global(docs, "n_chars", keep_frac=0.25, rel_err=0.0)


def smp_quantile_global_oracle() -> str:
    return """
SELECT doc_id, source, n_chars FROM documents
WHERE CAST(n_chars AS DOUBLE) >= (
  SELECT quantile_disc(CAST(n_chars AS DOUBLE), 0.75) FROM documents
)
"""


def weighted_sample(
    df: DataFrame,
    weight: "Column | str",
    k: int,
    key: str,
    group: str | None = None,
    salt: str = "ws",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement: top-k by
    the Efraimidis-Spirakis exponential-race priority, globally or per
    `group`. A row's uniform draw is hash-derived —
    u = (bucket(key) + 0.5) / 10000 — so the sample is reproducible on
    any cluster with no RNG state, and inclusion probability rises
    with weight exactly as ES prescribes (priority u^(1/w), realized
    as the order-equivalent ln(u)/w).

    Engine parity: ln is the one transcendental; both sides round the
    priority to 4 dp (the lm.py discipline) and tie-break on `key`, so
    the DuckDB twin (`weighted_sample_sql`) is row-identical. Rows
    with NULL or non-positive weight are excluded (a zero-weight row
    can never win an ES race).

    Scale: per-group sampling is one window over the group
    partitioning — the same single-shuffle shape as stratified_sample.
    GLOBAL sampling deliberately avoids an unpartitioned window (the
    single-partition funnel the r6 quantile fix removed) and plans as
    orderBy(priority).limit(k) → TakeOrderedAndProject: per-partition
    top-k, then a k-row merge on the driver side of the exchange
    (plan pinned in tests/test_sampling.py)."""
    if k <= 0:
        raise ValueError("k must be positive")
    wcol = F.col(weight) if isinstance(weight, str) else weight
    u = (hash_bucket(F.col(key), salt).cast("double") + F.lit(0.5)) / F.lit(
        float(_BUCKETS)
    )
    pri = F.round(F.log(u) / wcol.cast("double"), 4)
    alive = df.filter(wcol.isNotNull() & (wcol.cast("double") > 0)).withColumn(
        "__pri", pri
    )
    if group is None:
        return (
            alive.orderBy(F.col("__pri").desc(), F.col(key).asc())
            .limit(k)
            .drop("__pri")
        )
    from pyspark.sql import Window

    w = Window.partitionBy(group).orderBy(F.col("__pri").desc(), F.col(key).asc())
    return (
        alive.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__pri", "__rn")
    )


def weighted_sample_sql(
    table: str,
    weight_sql: str,
    k: int,
    key: str,
    group: str | None = None,
    salt: str = "ws",
) -> str:
    """DuckDB twin of `weighted_sample` (same hash draw, same 4 dp
    priority rounding, same tie-break)."""
    b = bucket_sql(key, salt)
    pri = f"round(ln((({b}) + 0.5) / {float(_BUCKETS)}) / CAST({weight_sql} AS DOUBLE), 4)"
    part = f"PARTITION BY {group} " if group else ""
    return f"""
SELECT * EXCLUDE (__rn) FROM (
  SELECT *, row_number() OVER ({part}ORDER BY {pri} DESC, {key} ASC) AS __rn
  FROM {table}
  WHERE {weight_sql} IS NOT NULL AND CAST({weight_sql} AS DOUBLE) > 0
) WHERE __rn <= {k}
"""


def temperature_mix(
    df: DataFrame,
    group: str,
    key: str,
    alpha: float = 0.5,
    salt: str = "tmix",
) -> DataFrame:
    """Temperature-flattened corpus mix: resample so each group's share
    is proportional to (its natural share)^alpha — the multilingual-LM
    rebalancing rule (alpha=1 keeps natural proportions, alpha→0
    approaches uniform) — keeping the expected corpus size unchanged.

    The per-group replication factor f_g = q_g * N / n_g (q_g the
    flattened share) is computed from the group-count aggregate — a
    bounded driver collect, one row per group, like learn_bpe's vocab
    head — rounded to 6 dp, and fed to `corpus_mix`, so the realized
    mix inherits corpus_mix's exact hash-threshold determinism and its
    SQL oracle discipline."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError("alpha must be in (0, 1]")
    counts = [
        (r[0], r[1]) for r in df.groupBy(group).agg(F.count("*").alias("n")).collect()
    ]
    return corpus_mix(df, group, temperature_rates(counts, alpha), key, salt=salt)


def temperature_rates(
    group_counts: list[tuple[str, int]], alpha: float
) -> dict[str, float]:
    """The rate computation behind `temperature_mix`, exposed so an
    oracle can be built with the SAME Python floats: groups are sorted
    before summation, making the float accumulation order — and so the
    6 dp-rounded rates — a pure function of the counts."""
    counts = sorted(group_counts)
    total = sum(n for _, n in counts)
    flat = [(g, (n / total) ** alpha) for g, n in counts]
    z = sum(s for _, s in flat)
    by_g = dict(counts)
    return {g: round((s / z) * total / by_g[g], 6) for g, s in flat}


# ---------------------------------------------------------------------------
# Prepared r10 registry candidates (prepared-plan discipline; r10 plan
# in registry.py). Built + driver-style tested this round, registered
# next round: the r9 window is set.
# ---------------------------------------------------------------------------


def smp_weighted(spark, sf_dir: str) -> DataFrame:
    """r10 candidate: ES weighted sampling as a driver row — BOTH
    forms in one frame: the global top-50 by n_chars weight (plans as
    TakeOrderedAndProject — per-partition top-k + k-row merge, never
    an unpartitioned window) and the per-source top-10 (one window
    over the group partitioning), tagged by `form`. The oracle is
    `weighted_sample_sql` verbatim for each half — 4 dp priority
    rounding keeps the one transcendental (ln) engine-portable."""
    from ..registry import Ctx

    docs = Ctx.get(spark, sf_dir).tables["documents"].select(
        "doc_id", "source", "n_chars"
    )
    glob = weighted_sample(docs, "n_chars", 50, "doc_id").withColumn(
        "form", F.lit("global")
    )
    grp = weighted_sample(docs, "n_chars", 10, "doc_id", group="source").withColumn(
        "form", F.lit("per_group")
    )
    return glob.unionByName(grp)


def smp_weighted_oracle() -> str:
    base = "(SELECT doc_id, source, n_chars FROM documents) t"
    g = weighted_sample_sql(base, "n_chars", 50, "doc_id")
    p = weighted_sample_sql(base, "n_chars", 10, "doc_id", group="source")
    return f"""
SELECT q.*, 'global' AS form FROM ({g}) q
UNION ALL
SELECT q.*, 'per_group' AS form FROM ({p}) q
"""


def smp_temperature_mix(spark, sf_dir: str) -> DataFrame:
    """r10 candidate: temperature-flattened mixing (alpha=0.5) as a
    driver row. The operator collects one row per group (the bounded
    vocab-head-style collect), computes rates with
    `temperature_rates`' pure-function contract, and realizes the mix
    through corpus_mix's exact hash-threshold filter. The oracle
    derives the SAME rates in SQL — counts → s_g = pow(n_g/total, 0.5)
    → z as an ORDERED list_sum (matching Python's sorted-group
    accumulation order bit-for-bit) → round 6 dp — so the oracle
    string stays static while the rates stay data-dependent."""
    from ..registry import Ctx

    docs = Ctx.get(spark, sf_dir).tables["documents"].select(
        "doc_id", "source", "n_chars"
    )
    return temperature_mix(docs, "source", "doc_id", alpha=0.5)


def smp_temperature_mix_oracle() -> str:
    b = bucket_sql("d.doc_id", "tmix")
    return f"""
WITH counts AS (
  SELECT source AS g, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY source
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts),
sg AS (
  SELECT g, n, pow(CAST(n AS DOUBLE) / CAST(total AS DOUBLE), 0.5) AS s
  FROM counts, tot
),
zs AS (SELECT list_sum(list(s ORDER BY g)) AS z FROM sg),
rates AS (
  SELECT g, round((s / z) * CAST(total AS DOUBLE) / CAST(n AS DOUBLE), 6) AS rate
  FROM sg, zs, tot
),
rated AS (
  SELECT d.doc_id, d.source, d.n_chars,
         CAST(floor(r.rate) AS INT)
         + CAST(({b}) < CAST(round((r.rate - floor(r.rate)) * {_BUCKETS}) AS BIGINT) AS INT)
         AS __n
  FROM documents d JOIN rates r ON r.g = d.source
)
SELECT doc_id, source, n_chars, CAST(u AS INT) AS mix_copy
FROM rated, unnest(range(CAST(__n AS BIGINT))) AS tt(u)
WHERE __n > 0
"""


def epoch_order(
    df: DataFrame,
    key: str,
    epoch: int,
    n_shards: int,
    salt: str = "ep",
) -> DataFrame:
    """Deterministic per-epoch training order: every row gets a
    (shard, pos) from one md5 draw over (key, salt, epoch) — the data
    order a trainer consumes, reproducible on any cluster with no RNG
    state, and a DIFFERENT permutation every epoch (the epoch is in
    the hash preimage). Shard = high bits mod n_shards; pos = dense
    0-based rank of the draw within the shard.

    Scale shape: one window per shard partition — n_shards sizes the
    parallelism exactly like greedy_pack's n_groups (pick n_shards >=
    cluster cores and small enough that a shard's rows fit a task; at
    100 TB: tens of thousands). The sort-within-shard IS the epoch
    shuffle; nothing is globally ordered."""
    from pyspark.sql import Window

    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    h = F.md5(F.concat(F.col(key).cast("string"), F.lit(f":{salt}:{epoch}")))
    cols = df.columns
    w = Window.partitionBy("shard").orderBy("__h", key)
    return (
        df.withColumn("__h", h)
        .withColumn(
            "shard",
            F.conv(F.substring("__h", 1, 8), 16, 10).cast("bigint") % n_shards,
        )
        .withColumn("pos", (F.row_number().over(w) - 1).cast("bigint"))
        .select(*cols, "shard", "pos")
    )


def epoch_order_sql(
    table: str, key: str, epoch: int, n_shards: int, salt: str = "ep"
) -> str:
    """DuckDB twin of `epoch_order` (same md5 preimage, same high-bit
    shard, same tie-break)."""
    h = f"md5(CAST({key} AS VARCHAR) || ':{salt}:{epoch}')"
    return f"""
SELECT * EXCLUDE (__h, __rn), CAST(__rn - 1 AS BIGINT) AS pos FROM (
  SELECT *, {h} AS __h,
         CAST(('0x' || substr({h}, 1, 8)) AS BIGINT) % {n_shards} AS shard,
         row_number() OVER (
           PARTITION BY CAST(('0x' || substr({h}, 1, 8)) AS BIGINT) % {n_shards}
           ORDER BY {h}, {key}) AS __rn
  FROM {table}
)
"""


def smp_epoch_order(spark, sf_dir: str) -> DataFrame:
    """r11 candidate: `epoch_order` as a driver row — documents dealt
    into 8 shards for epoch 2; (shard, pos) hash-exact against the SQL
    twin, so the trainer-facing data-order contract is graded."""
    from ..registry import Ctx

    docs = Ctx.get(spark, sf_dir).tables["documents"].select("doc_id", "source")
    return epoch_order(docs, "doc_id", epoch=2, n_shards=8)


def smp_epoch_order_oracle() -> str:
    return epoch_order_sql(
        "(SELECT doc_id, source FROM documents) t", "doc_id", epoch=2, n_shards=8
    )


# Registered r9: the prepared-candidate plan in registry.py, executed.
from ..registry import query as _query  # noqa: E402  (module tail)

_query("smp_quantile_global", oracle=smp_quantile_global_oracle())(
    smp_quantile_global
)

# Registered r10: the prepared-candidate plan in registry.py, executed.
_query("smp_weighted", oracle=smp_weighted_oracle())(smp_weighted)
_query("smp_temperature_mix", oracle=smp_temperature_mix_oracle())(
    smp_temperature_mix
)

# Registered r11: the prepared-candidate plan in registry.py, executed.
_query("smp_epoch_order", oracle=smp_epoch_order_oracle())(smp_epoch_order)


# ---------------------------------------------------------------------------
# Leakage-safe splitting (r13 candidate) — near-duplicate GROUPS must
# never straddle train/val/test. A plain per-doc hash split leaks:
# two near-identical documents land in different splits and the eval
# set scores memorization (the standard contamination failure mode a
# per-doc split cannot see; Lee et al. 2022 "Deduplicating Training
# Data Makes Language Models Better" measures exactly this). The fix
# is one line of key discipline: split on the GROUP representative —
# the dup-group id for grouped docs, the doc's own id for singletons —
# with the same md5-bucket rule hash_split already grades.
#
# Scale shape: the groups frame is the DUPLICATE set (corpus-small by
# definition — the dedup_apply argument), so the left join is
# AQE-broadcast territory; the split itself stays a narrow projection.
# ---------------------------------------------------------------------------


def leakage_safe_split(
    docs: DataFrame,
    groups: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "lsplit",
) -> DataFrame:
    """hash_split keyed on coalesce(group_id, own id): every member of
    a near-dup group lands in the SAME split by construction. `groups`
    is d_dup_groups-shaped (doc_id, group_id, keeper) — only grouped
    docs appear in it."""
    from ..functions.scale import maybe_broadcast

    g = groups.select(F.col("doc_id").alias(id_col), "group_id")
    # counted broadcast (r17, §3.1): the group map is duplicate-sized
    # (only grouped docs appear), so the left join streams the corpus
    # instead of exchanging+sorting it under the default SortMergeJoin;
    # past 2M grouped docs the planner shuffles as before
    keyed = docs.join(maybe_broadcast(g, 2_000_000), id_col, "left").withColumn(
        "__skey", F.coalesce(F.col("group_id"), F.col(id_col))
    )
    return (
        hash_split(keyed, "__skey", weights, salt)
        .withColumn("grouped", F.col("group_id").isNotNull())
        .drop("__skey", "group_id")
    )


_LSPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


def smp_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r13 candidate: per-split rollup of the leakage-safe split over
    documents with minhash dup groups — (split, n_docs, n_grouped_docs,
    chars). The no-straddle invariant is pinned in pytest (zero groups
    with >1 distinct split)."""
    from ..registry import Ctx
    from .components import d_dup_groups

    ctx = Ctx.get(spark, sf_dir)
    groups = d_dup_groups(spark, sf_dir).localCheckpoint(eager=True)
    out = leakage_safe_split(
        ctx.tables["documents"], groups, _LSPLIT_WEIGHTS
    )
    return out.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("grouped").cast("bigint")).alias("n_grouped_docs"),
        F.sum("n_chars").alias("chars"),
    )


def smp_leakage_split_oracle() -> str:
    """DuckDB twin: the byte-shared recursive-CC group CTEs (the
    d_dup_groups refactor-invariant prefix) + the hash_split CASE over
    the coalesced key + the same rollup."""
    from .components import _GROUPS_CTES

    split_sel = hash_split_sql("keyed", "skey", _LSPLIT_WEIGHTS, "lsplit")
    return (
        _GROUPS_CTES
        + f""",
grp AS (
  SELECT CAST(node AS BIGINT) AS doc_id, CAST(min(comp) AS BIGINT) AS group_id
  FROM reach GROUP BY node
),
keyed AS (
  SELECT d.doc_id, d.n_chars, g.group_id IS NOT NULL AS grouped,
         coalesce(g.group_id, d.doc_id) AS skey
  FROM documents d LEFT JOIN grp g USING (doc_id)
),
sp AS ({split_sel})
SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CAST(grouped AS BIGINT)) AS BIGINT) AS n_grouped_docs,
       CAST(sum(n_chars) AS BIGINT) AS chars
FROM sp GROUP BY split
"""
    )


# Registered r13: the prepared-candidate plan in registry.py, executed
# (probed r12 SCALE_NOTES part 8; re-validated at final r13 code).
_query("smp_leakage_split", oracle=smp_leakage_split_oracle())(
    smp_leakage_split
)


# NOT registered in r12 (prepared r13 candidate, two-line registration
# when its slot comes).


# ---------------------------------------------------------------------------
# Fixed-grid histogram quantiles (prepared r17 registry candidate):
# the BOUNDED-STATE scale path smp_quantile_global's docstring
# promises. Greenwald-Khanna at rel_err=0 is exact but its sketch
# state grows without a relative-error floor; a fixed value grid
# bounds state at `bins` counters PER GROUP by construction, the
# counters are trivially mergeable (plain sums — partial aggregation,
# stream accumulation, and cross-corpus merges all compose), and the
# answer is EXACT on the quantized grid: the same quantize-first
# contract the budget filter's cardinality guard names in its
# refusal, promoted to a first-class operator.
# ---------------------------------------------------------------------------


def grid_quantiles(
    df: DataFrame,
    col: str,
    qs: list[tuple[str, float]],
    lo: int,
    hi: int,
    bins: int,
    group: str | None = None,
) -> DataFrame:
    """(group?, q, gq): for each (label, fraction) in `qs`, the
    grid-quantile of integer column `col` — the LOWER EDGE of the
    smallest grid bucket whose cumulative count reaches ceil(q * N)
    (the quantile_disc position, answered at grid resolution).

    ALL-BIGINT bucket arithmetic — bucket = ((x - lo) * bins) DIV
    (hi - lo) on the clamped value, edge = lo + (b * (hi - lo)) DIV
    bins — so the Spark plan and the DuckDB twin agree bit-for-bit
    with no float ledger anywhere (the bloom position-set discipline:
    same decision procedure, two physical forms). `col` must be
    integral; quantize floats to a fixed-point BIGINT first.

    Scale shape: ONE hash aggregate (map-side combinable) into a
    frame bounded by groups x bins; the cumulative window partitions
    by group over that bounded frame; the q expansion is a broadcast
    of a len(qs)-row frame. No corpus-wide sort, no GK sketch state,
    no collect."""
    from pyspark.sql import Window

    if not (hi > lo and bins > 0):
        raise ValueError("grid_quantiles: need hi > lo and bins > 0")
    gcols = [group] if group else []
    clamped = df.select(
        *gcols,
        F.greatest(F.lit(lo), F.least(F.col(col), F.lit(hi - 1)))
        .cast("bigint")
        .alias("__x"),
    )
    hist = (
        clamped.selectExpr(*gcols, f"((__x - {lo}) * {bins}) DIV {hi - lo} AS __b")
        .groupBy(*gcols, "__b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
    )
    w = Window.partitionBy(*gcols).orderBy("__b")
    wn = Window.partitionBy(*gcols)
    cum = hist.withColumn("__cum", F.sum("__c").over(w)).withColumn(
        "__n", F.sum("__c").over(wn)
    )
    from ..functions.scale import local_df

    spark = df.sparkSession
    qf = local_df(spark, qs, "q string, frac double")
    hit = cum.join(F.broadcast(qf)).filter(
        F.col("__cum") >= F.ceil(F.col("frac") * F.col("__n"))
    )
    return (
        hit.groupBy(*gcols, "q")
        .agg(F.min("__b").alias("__b"))
        .select(
            *gcols,
            "q",
            (F.lit(lo) + F.expr(f"(__b * {hi - lo}) DIV {bins}")).alias("gq"),
        )
    )


def grid_quantiles_sql(
    table: str,
    col: str,
    qs: list[tuple[str, float]],
    lo: int,
    hi: int,
    bins: int,
    group: str | None = None,
) -> str:
    """DuckDB twin — identical BIGINT bucket/edge arithmetic (// is
    floor division; the clamp makes every operand non-negative, so
    floor == trunc and the dialects agree)."""
    g = f"{group}, " if group else ""
    gby = f"GROUP BY {group}" if group else ""
    part = f"PARTITION BY {group} " if group else ""
    qrows = ", ".join(f"('{label}', {frac})" for label, frac in qs)
    return f"""
WITH hist AS (
  SELECT {g}((greatest({lo}, least({col}, {hi - 1})) - {lo}) * {bins}) // {hi - lo} AS b,
         CAST(count(*) AS BIGINT) AS c
  FROM {table} GROUP BY {g}b
),
cum AS (
  SELECT {g}b, c,
         CAST(sum(c) OVER ({part}ORDER BY b) AS BIGINT) AS cm,
         CAST(sum(c) OVER ({part.strip() or ''}) AS BIGINT) AS n
  FROM hist
),
qs(q, frac) AS (VALUES {qrows})
SELECT {g}q, CAST({lo} + (min(b) * {hi - lo}) // {bins} AS BIGINT) AS gq
FROM cum CROSS JOIN qs
WHERE cm >= ceil(frac * n)
GROUP BY {g}q
"""


def smp_grid_quantiles(spark, sf_dir: str) -> DataFrame:
    """r17 candidate: per-source p50/p90/p99 of document length
    (n_chars) on a 256-bucket grid over [0, 4096) — the corpus length
    telemetry a curation pipeline watches per domain, in bounded
    mergeable state."""
    from ..registry import Ctx

    docs = Ctx.get(spark, sf_dir).tables["documents"]
    return grid_quantiles(
        docs,
        "n_chars",
        [("p50", 0.5), ("p90", 0.9), ("p99", 0.99)],
        lo=0,
        hi=4096,
        bins=256,
        group="source",
    )


def smp_grid_quantiles_oracle() -> str:
    return grid_quantiles_sql(
        "documents",
        "n_chars",
        [("p50", 0.5), ("p90", 0.9), ("p99", 0.99)],
        lo=0,
        hi=4096,
        bins=256,
        group="source",
    )


_query("smp_grid_quantiles", oracle=smp_grid_quantiles_oracle())(
    smp_grid_quantiles
)
