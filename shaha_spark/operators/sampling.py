"""Deterministic sampling and splits for training-data pipelines.

``df.sample``/``sampleBy`` draw from a partition-seeded RNG: the
selected rows change with partitioning, engine, and Spark version —
unacceptable for reproducible train/eval corpora, and impossible to
verify against an external oracle. These operators decide membership
from a cross-engine-stable content hash instead (md5-derived h28, the
same primitive as the dedup family): a row is in the sample iff
``h28(key ∥ salt) mod 10000 < fraction·10000``. Properties:

  * reproducible everywhere — any engine that can md5 agrees row-by-row;
  * stable under repartitioning, appends, and re-runs;
  * nested fractions: a 5% sample is a subset of a 10% sample with the
    same salt (membership is a threshold on one hash value);
  * disjoint splits by bucketing the same hash (train/eval/test).

All pure JVM expressions; the hash is codegen'd per row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from shaha_spark.operators.constants import TOKEN_SPLIT_RE
from shaha_spark.functions.text import h28

#: membership granularity: fractions resolve to 1/10000
_BUCKETS = 10_000


def _bucket(key: Column, salt: str) -> Column:
    return h28(F.concat(key.cast("string"), F.lit(salt))) % _BUCKETS


def hash_sample(
    df: DataFrame, fraction: float, key_col: str, salt: str = ""
) -> DataFrame:
    """Deterministic ``fraction`` sample keyed on ``key_col``."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return df.where(_bucket(F.col(key_col), salt) < round(fraction * _BUCKETS))


def stratified_hash_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str,
    default_fraction: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. downsample a dominant
    source while keeping all of a rare one). Strata absent from
    ``fractions`` use ``default_fraction``."""
    threshold = F.lit(round(default_fraction * _BUCKETS))
    for value, fraction in sorted(fractions.items()):
        threshold = F.when(
            F.col(strata_col) == value, F.lit(round(fraction * _BUCKETS))
        ).otherwise(threshold)
    return df.where(_bucket(F.col(key_col), salt) < threshold)


def hash_split(
    df: DataFrame,
    weights: dict[str, float],
    key_col: str,
    salt: str = "",
    split_col: str = "split",
) -> DataFrame:
    """Disjoint, exhaustive split assignment (train/eval/test …).

    Splits are consecutive bucket ranges of the same hash, in sorted
    split-name order, so every row lands in exactly one split and the
    assignment survives appends and re-runs. Weights must sum to 1.
    """
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    bucket = _bucket(F.col(key_col), salt)
    expr = None
    lo = 0
    names = sorted(weights)
    for i, name in enumerate(names):
        hi = _BUCKETS if i == len(names) - 1 else lo + round(weights[name] * _BUCKETS)
        cond = bucket < hi if expr is None else (bucket >= lo) & (bucket < hi)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
        lo = hi
    return df.withColumn(split_col, expr)


def cluster_split(
    df: DataFrame,
    edges: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "",
    split_col: str = "split",
) -> DataFrame:
    """Leakage-safe train/eval/test split: assign near-dup CLUSTERS to
    splits, not documents (training-data canon: a per-doc hash split
    puts one member of a duplicate pair in train and its twin in eval,
    so the benchmark leaks — the fix is to split by the connected
    component of the near-dup graph, cf. the decontamination family).

    ``edges`` is any (id_a, id_b) near-dup pair list — MinHash/SimHash/
    embedding near-dup all compose. Each doc's cluster representative
    is the MIN id of its component (its own id when isolated), and
    :func:`hash_split` runs on the REPRESENTATIVE — so every member of
    a cluster lands in the same split, assignments stay deterministic
    across appends/re-runs, and docs untouched by the dedup graph
    split exactly as a plain hash_split would. Returns the input
    columns + ``cluster_rep`` + ``split_col`` (the representative stays
    visible: the audit column that proves no pair straddles).

    Scale shape: label propagation over the sparse edge list
    (operators/components.py — O(diameter) rounds, no driver
    adjacency), one doc-count-sized left join to attach components,
    then the same codegen'd bucket CASE as hash_split. Nothing beyond
    the CC pass touches more than one scan.
    """
    from shaha_spark.operators.components import connected_components

    comps = connected_components(edges).select(
        F.col("id").alias(id_col), F.col("comp")
    )
    rep = df.join(comps, id_col, "left").withColumn(
        "cluster_rep", F.coalesce("comp", F.col(id_col))
    ).drop("comp")
    return hash_split(rep, weights, "cluster_rep", salt, split_col)


def split_balance(
    df: DataFrame,
    weights: dict[str, float] | None = None,
    split_col: str = "split",
    domain_col: str | None = None,
    cluster_col: str | None = None,
) -> DataFrame:
    """Split-composition audit (VERDICT r11 #3): cluster-level
    assignment (:func:`cluster_split`) preserves leakage-safety by
    moving WHOLE components between splits — which distorts the split
    proportions whenever components are large or correlated, and the
    split operators give no visibility into how much. This reports,
    per split (and per ``domain_col`` when given):

      ``n_docs`` — rows in the split;
      ``observed_frac`` — n_docs / total (per-domain total under
      ``domain_col``), round-9 after one IEEE division of exact longs;
      ``target_frac`` — the weight the caller asked for (NULL for a
      split name absent from ``weights``);
      ``skew`` — observed − target (round 9; NULL when no target);
      ``max_cluster_docs`` — the largest single cluster routed into
      the split (``cluster_col``, e.g. ``cluster_rep``; NULL when not
      given) — the "one giant component ate my eval set" diagnostic.

    Scale shape: ONE hash-aggregate pass over the corpus (under
    ``cluster_col`` a two-level aggregation: per-cluster sizes, then
    sum/max per split — n_docs is the exact sum of the cluster sizes,
    so the old second counts scan + join is gone), partial-aggregated
    map-side; the window total runs over the handful of
    (domain, split) rows, never the corpus. Pure built-in expressions; deterministic output
    (exact counts, single rounded division).
    """
    from pyspark.sql import Window

    keys = ([domain_col] if domain_col else []) + [split_col]
    if cluster_col is None:
        counts = df.groupBy(*keys).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.lit(None).cast("bigint").alias("max_cluster_docs"),
        )
    else:
        # ONE corpus pass (optimization round 12, guide §1.2 step 1):
        # n_docs is the exact-integer sum of the per-cluster sizes, so
        # both outputs fold into one two-level aggregation — the old
        # separate counts scan + join re-evaluated the ENTIRE upstream
        # (for docs_split_balance: the MinHash/LSH/connected-components
        # chain) a second time just to recount rows it already had.
        counts = (
            df.groupBy(*keys, cluster_col)
            .agg(F.count(F.lit(1)).alias("__csz"))
            .groupBy(*keys)
            .agg(
                F.sum("__csz").cast("bigint").alias("n_docs"),
                F.max("__csz").cast("bigint").alias("max_cluster_docs"),
            )
        )
    w_tot = Window.partitionBy(*([domain_col] if domain_col else []))
    observed = F.round(
        F.col("n_docs").cast("double") / F.sum("n_docs").over(w_tot), 9
    )
    target = F.lit(None).cast("double")
    for name, wgt in sorted((weights or {}).items()):
        target = F.when(
            F.col(split_col) == name, F.lit(float(wgt))
        ).otherwise(target)
    return counts.select(
        *keys,
        "n_docs",
        observed.alias("observed_frac"),
        target.alias("target_frac"),
        F.round(observed - target, 9).alias("skew"),
        "max_cluster_docs",
    )


def split_balance_sql(
    select_stmt: str,
    weights: dict[str, float] | None = None,
    split_col: str = "split",
    domain_col: str | None = None,
    cluster_col: str | None = None,
) -> str:
    """DuckDB twin of :func:`split_balance` — same grouping, same
    single rounded division, same CASE for the target.

    Structurally identical to the Spark form under ``cluster_col``:
    ONE two-level aggregation (per-cluster sizes, then SUM/MAX per
    key) instead of the old separate counts CTE joined back with
    ``JOIN mx USING (keys)`` — the join form DROPPED rows whose
    split/domain key is NULL (SQL joins never match NULLs) while
    Spark's groupBy keeps NULL groups, a latent twin divergence
    (ADVICE r12)."""
    keys = ", ".join(([domain_col] if domain_col else []) + [split_col])
    part = f"PARTITION BY {domain_col}" if domain_col else ""
    target = "CAST(NULL AS DOUBLE)"
    for name, wgt in sorted((weights or {}).items()):
        esc = name.replace("'", "''")
        target = (
            f"CASE WHEN {split_col} = '{esc}' THEN {float(wgt)} "
            f"ELSE {target} END"
        )
    observed = (
        f"round(CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER ({part}), 9)"
    )
    if cluster_col is not None:
        counts_cte = f"""cl AS (SELECT {keys}, {cluster_col}, COUNT(*) AS csz
      FROM src GROUP BY {keys}, {cluster_col}),
counts AS (SELECT {keys}, CAST(SUM(csz) AS BIGINT) AS n_docs,
                  CAST(MAX(csz) AS BIGINT) AS max_cluster_docs
           FROM cl GROUP BY {keys})"""
    else:
        counts_cte = f"""counts AS (SELECT {keys}, CAST(COUNT(*) AS BIGINT) AS n_docs,
                  CAST(NULL AS BIGINT) AS max_cluster_docs
           FROM src GROUP BY {keys})"""
    return f"""WITH src AS ({select_stmt}),
{counts_cte}
SELECT {keys}, n_docs,
  {observed} AS observed_frac,
  {target} AS target_frac,
  round({observed} - ({target}), 9) AS skew,
  max_cluster_docs
FROM counts"""


def h28_sql(expr: str) -> str:
    """DuckDB twin of the membership hash (see functions/text.h28)."""
    return f"CAST(concat('0x', substr(md5({expr}), 1, 7)) AS BIGINT)"


def bucket_sql(key_col: str, salt: str = "") -> str:
    """DuckDB membership-bucket expression for ``key_col``."""
    keyed = f"concat(CAST({key_col} AS VARCHAR), '{salt}')"
    return f"{h28_sql(keyed)} % {_BUCKETS}"


def weighted_hash_sample(
    df: DataFrame,
    weight_col: str,
    max_weight: float,
    key_col: str,
    salt: str = "",
) -> DataFrame:
    """Deterministic weighted sampling: row kept with probability
    ``weight / max_weight`` — importance sampling for training-mix
    construction (e.g. length-proportional document selection), with
    the same reproducibility guarantees as :func:`hash_sample`.

    The inclusion test is ``bucket * max_weight < weight * BUCKETS``:
    two single IEEE multiplications and a comparison, no division — the
    identical expression replays bit-for-bit in any engine. Weights
    above ``max_weight`` are simply always kept.
    """
    if max_weight <= 0:
        raise ValueError(f"max_weight must be positive, got {max_weight}")
    bucket = _bucket(F.col(key_col), salt).cast("double")
    keep = bucket * F.lit(float(max_weight)) < (
        F.col(weight_col).cast("double") * F.lit(float(_BUCKETS))
    )
    return df.where(keep)


#: A-ES uniform granularity: u = (h28 + 1) / 2^28 ∈ (0, 1]
_H28_RANGE = 268_435_456


def weighted_reservoir(
    df: DataFrame,
    k: int,
    weight_col: str,
    key_col: str,
    strata_col: str | None = None,
    salt: str = "",
    prune_buckets: int = 32,
    key_out: str = "res_key",
) -> DataFrame:
    """Deterministic weighted reservoir sampling (fixed-size k), per
    stratum or global — the Efraimidis–Spirakis A-ES scheme with the
    RNG replaced by the cross-engine md5 hash.

    :func:`weighted_hash_sample` keeps each row INDEPENDENTLY with
    probability ∝ weight, so the sample SIZE varies; a reservoir draws
    EXACTLY ``min(k, n)`` rows where a row's inclusion odds are
    proportional to its weight (A-ES: rank by ``u^(1/w)`` — here the
    monotone-equivalent ``ln(u)/w`` — and keep the top k). Determinism:
    ``u = (h28(key∥salt)+1)/2^28 ∈ (0,1]`` is exact integer→double,
    the ln is rounded to 9 decimals (the repo's established
    transcendental recipe, functions agree across engines at that
    precision), and the one division by the double-cast weight is a
    single IEEE op on identical operands. Ties (possible after
    rounding) break on ``key_col`` ascending in both engines.

    Precondition: ``key_col`` must be UNIQUE within the sampled frame.
    Uniqueness is what makes the per-row ``u`` values independent
    draws (duplicate keys share one hash, i.e. one draw), and it is
    what makes the tiebreak total — rows tied on ``(res_key,
    key_col)`` would otherwise get engine-dependent ``row_number``
    assignment and diverge from the oracle. Pass a row-unique id
    (``doc_id``, ``event_id``, a composed concat) — never a
    repeating attribute.

    Scale: a single per-stratum top-k window is the textbook shape but
    serializes a hot stratum through one partition. This runs the
    standard two-phase top-k instead: phase 1 ranks within
    (stratum, h28 % ``prune_buckets``) — the hash spreads any stratum
    across ``prune_buckets`` partitions — keeping ≤ k each; phase 2
    ranks the ≤ k·prune_buckets survivors per stratum. Top-k of a
    union of per-bucket top-ks equals the global top-k, so the result
    is identical to the flat-window oracle.

    Rows with NULL or non-positive weight are excluded (A-ES is
    undefined there: ``u^(1/w)`` has no sampling interpretation).
    """
    from pyspark.sql import Window

    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    h = h28(F.concat(F.col(key_col).cast("string"), F.lit(salt)))
    u = (h + F.lit(1)).cast("double") / F.lit(float(_H28_RANGE))
    keyed = df.where(
        F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
    ).withColumn(
        key_out, F.round(F.log(u), 9) / F.col(weight_col).cast("double")
    )
    strata = [F.col(strata_col)] if strata_col is not None else []
    order = [F.col(key_out).desc(), F.col(key_col).asc()]
    w1 = Window.partitionBy(*strata, h % prune_buckets).orderBy(*order)
    pruned = (
        keyed.withColumn("__rn1", F.row_number().over(w1))
        .where(F.col("__rn1") <= k)
        .drop("__rn1")
    )
    w2 = Window.partitionBy(*strata).orderBy(*order)
    return (
        pruned.withColumn("__rn", F.row_number().over(w2))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def weighted_reservoir_sql(
    table: str,
    k: int,
    weight_col: str,
    key_col: str,
    strata_col: str | None = None,
    salt: str = "",
    key_out: str = "res_key",
    select: str = "*",
) -> str:
    """DuckDB oracle twin of :func:`weighted_reservoir` — the same
    A-ES key over a FLAT per-stratum window (no pre-prune; top-k of
    per-bucket top-ks equals the flat top-k)."""
    keyed = f"concat(CAST({key_col} AS VARCHAR), '{salt}')"
    key_expr = (
        f"round(ln(({h28_sql(keyed)} + 1) / {float(_H28_RANGE)!r}), 9)"
        f" / CAST({weight_col} AS DOUBLE)"
    )
    part = f"PARTITION BY {strata_col} " if strata_col is not None else ""
    return f"""WITH keyed AS (
  SELECT *, {key_expr} AS {key_out}
  FROM {table}
  WHERE {weight_col} IS NOT NULL AND {weight_col} > 0
), ranked AS (
  SELECT *, row_number() OVER ({part}ORDER BY {key_out} DESC, {key_col} ASC) AS __rn
  FROM keyed
)
SELECT {select} FROM ranked WHERE __rn <= {k}"""


def balanced_sample(
    df: DataFrame,
    label_col: str,
    per_label: int,
    key_col: str,
    salt: str = "",
) -> DataFrame:
    """Class-balanced downsample: at most ``per_label`` rows per label,
    chosen by deterministic hash rank (NOT arbitrary head-of-partition
    rows — the selection is a stable pseudo-random draw, reproducible
    across runs, partitionings, and engines).

    One shuffle on the label key; the per-label sort inside the rank
    window is bounded by the label's row count — for heavily skewed
    labels combine with :func:`stratified_hash_sample` to pre-thin the
    giants before the exact top-k rank.

    Reproducibility requires ``key_col`` values to be UNIQUE within a
    label: the rank orders by (hash(key), key), so two rows tying on
    key_col tie on both terms and the engine breaks the tie by scan
    order. Key on a row id, not on free text that may repeat.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(label_col).orderBy(
        _bucket(F.col(key_col), salt), F.col(key_col)
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= per_label)
        .drop("__rk")
    )


def temperature_rates(
    df: DataFrame,
    strata_col: str,
    alpha: float = 0.7,
    budget: int | None = None,
) -> DataFrame:
    """Per-stratum sampling rates for temperature-based mixture
    construction (the multilingual-corpus recipe: sample stratum ``l``
    proportionally to ``p_l^alpha``, flattening dominant strata and
    boosting rare ones as ``alpha`` drops below 1).

    Given stratum counts ``c_l`` (empirical shares ``p_l = c_l / N``),
    the target mixture is ``q_l = p_l^alpha / sum(p^alpha)``; with a
    total document ``budget`` (default N), the per-stratum keep rate is
    ``min(1, budget * q_l / c_l)``. Returns one row per stratum:
    ``(stratum, n_docs, rate)``.

    Scale shape: one map-side-combining hash-agg down to L stratum rows
    plus an unpartitioned sum window over those L rows (L = number of
    languages/domains — config-sized, so the single-partition window is
    a non-issue). No collect; feed the result straight into
    :func:`temperature_resample`'s broadcast join.
    """
    from pyspark.sql import Window

    if alpha <= 0:
        raise ValueError(f"alpha must be positive, got {alpha}")
    counts = df.groupBy(F.col(strata_col).alias("stratum")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    total = F.sum("n_docs").over(Window.partitionBy())
    powed = counts.withColumn(
        "__pa", F.pow(F.col("n_docs").cast("double") / total, float(alpha))
    ).withColumn("__N", total)
    z = F.sum("__pa").over(Window.partitionBy())
    budget_col = F.lit(budget).cast("double") if budget is not None else F.col(
        "__N"
    ).cast("double")
    return powed.select(
        "stratum",
        "n_docs",
        F.least(
            F.lit(1.0),
            budget_col
            * (F.col("__pa") / z)
            / F.col("n_docs").cast("double"),
        ).alias("rate"),
    )


def temperature_resample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    alpha: float = 0.7,
    budget: int | None = None,
    salt: str = "",
) -> DataFrame:
    """Deterministically resample to the temperature mixture: broadcast
    the L-row :func:`temperature_rates` table, keep a row iff its hash
    bucket clears ``floor(rate * BUCKETS)``. Same stability guarantees
    as :func:`hash_sample` (subset-nesting, engine-agnostic); the rate
    join is an explicit broadcast so no shuffle touches the corpus.

    The rate join is NULL-SAFE: a NULL stratum is a stratum —
    temperature_rates counts it (groupBy keeps NULL keys), so a plain
    equi-join would silently drop all NULL-stratum rows while every
    other stratum's rate was computed assuming that mass is
    selectable, leaving the output short of the budget.
    """
    rates = temperature_rates(df, strata_col, alpha, budget).select(
        F.col("stratum"), F.floor(F.col("rate") * _BUCKETS).alias("__thr")
    )
    joined = df.join(
        F.broadcast(rates), df[strata_col].eqNullSafe(rates["stratum"]), "left"
    )
    return (
        joined.where(
            _bucket(F.col(key_col), salt) < F.coalesce(F.col("__thr"), F.lit(0))
        )
        .drop("stratum", "__thr")
    )


def balanced_sample_sql(
    table: str, label_col: str, per_label: int, key_col: str, salt: str = ""
) -> str:
    """DuckDB oracle twin of :func:`balanced_sample`."""
    keyed = f"concat(CAST({key_col} AS VARCHAR), '{salt}')"
    return f"""WITH ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY {label_col}
    ORDER BY {h28_sql(keyed)} % {_BUCKETS}, {key_col}
  ) AS rk
  FROM {table}
)
SELECT * EXCLUDE (rk) FROM ranked WHERE rk <= {per_label}"""


# ----------------------------------------- DSIR-style importance resampling

def _hashed_grams(
    docs: DataFrame, text_col: str, id_col: str, num_buckets: int, salt: str
) -> DataFrame:
    """(id, bucket) rows — hashed unigram + bigram bag features WITH
    multiplicity (the DSIR feature space). One posexplode + one lead
    window + one explode; the per-token array carries the token and its
    right-bigram so both gram orders come out of a single lineage."""
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), TOKEN_SPLIT_RE)).alias("pos", "w"),
    ).filter(F.col("w") != "")
    wnd = Window.partitionBy(id_col).orderBy("pos")
    with_next = toks.select(
        F.col(id_col),
        F.col("w"),
        F.lead("w", 1).over(wnd).alias("w2"),
    )
    grams = with_next.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.col("w2").isNotNull(),
                F.array(F.col("w"), F.concat_ws(" ", "w", "w2")),
            ).otherwise(F.array(F.col("w")))
        ).alias("gram"),
    )
    return grams.select(
        F.col(id_col),
        (h28(F.concat(F.col("gram"), F.lit(salt))) % num_buckets).alias("bucket"),
    )


def importance_weights(
    docs: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 4096,
    salt: str = "",
) -> DataFrame:
    """Per-document DSIR importance log-weight (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling" — public
    method re-expressed on Spark primitives):

        w(doc) = ln p_target(doc) − ln p_raw(doc)

    under hashed bag-of-ngrams (unigram+bigram) models with add-one
    smoothing over ``num_buckets`` hashed features. Documents that look
    more like the ``target`` distribution than the raw corpus score
    positive.

    Determinism recipe (the same one as
    :func:`~shaha_spark.operators.terms.unigram_logprob`): each
    bucket's smoothed log-probability is a single ``ln`` of one IEEE
    division, rounded to 8 decimals, cast to decimal; per-document
    totals are decimal-exact sums of those rounded per-bucket
    log-ratios, so partitioning and engine cannot reorder anything
    inexact.

    Scale shape: the bucket log-ratio table has at most ``num_buckets``
    rows (broadcast); the raw corpus is exploded ONCE into hashed gram
    instances and aggregated with map-side partials; the target side —
    in DSIR practice a small high-quality corpus — contributes one more
    hash-agg. No shuffle is keyed on anything wider than the 28-bit
    bucket id.

    Returns ``[id_col, n_grams, logweight]``.
    """
    raw_grams = _hashed_grams(docs, text_col, id_col, num_buckets, salt)
    tgt_grams = _hashed_grams(target, text_col, id_col, num_buckets, salt)
    lam, pins = _dsir_lam(raw_grams, tgt_grams, num_buckets)
    from shaha_spark.caching import registers

    return registers(
        raw_grams.join(F.broadcast(lam), "bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("lam").cast("double").alias("logweight"),
        ),
        *pins,
    )


def _dsir_lam(
    raw_grams: DataFrame, tgt_grams: DataFrame, num_buckets: int
) -> tuple[DataFrame, list[DataFrame]]:
    """The per-bucket DSIR log-ratio table λ(bucket) shared by the
    doc-level and domain-level operators; returns (lam, persisted
    pins for caching.registers)."""
    # each bucket-count table is consumed twice (its total + the
    # log-ratio join); the lazy persists stop Spark re-running the
    # gram explode + hash-agg per consumer. ≤num_buckets rows each.
    cr = raw_grams.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cr")
    ).persist()
    ct = tgt_grams.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("ct")
    ).persist()
    tot_r = cr.agg(F.sum("cr").alias("tr"))
    tot_t = ct.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("tt"))
    # every bucket a scored doc can hit appears in cr (docs ⊇ each doc);
    # buckets unseen in the target smooth to ct=0
    lam = (
        cr.join(ct, "bucket", "left")
        .crossJoin(F.broadcast(tot_r))
        .crossJoin(F.broadcast(tot_t))
        .select(
            "bucket",
            (
                F.round(
                    F.log(
                        (F.coalesce("ct", F.lit(0)) + 1).cast("double")
                        / (F.col("tt") + num_buckets).cast("double")
                    ),
                    8,
                ).cast("decimal(20,8)")
                - F.round(
                    F.log(
                        (F.col("cr") + 1).cast("double")
                        / (F.col("tr") + num_buckets).cast("double")
                    ),
                    8,
                ).cast("decimal(20,8)")
            ).alias("lam"),
        )
    )
    return lam, [cr, ct]


def domain_importance(
    docs: DataFrame,
    target: DataFrame,
    domain_col: str = "domain",
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 4096,
    salt: str = "",
) -> DataFrame:
    """DSIR importance aggregated to the DOMAIN level — the mixture
    knob production pipelines actually turn (DoReMi/DSIR practice:
    sampling rates are set per SOURCE/domain, not per document,
    because per-doc resampling destroys domain balance and per-domain
    rates are auditable). ``docs`` must carry ``domain_col`` — derive
    it with functions.url.registered_domain for web crawls, or pass
    any source/provenance column.

    One row per domain with at least one scored gram:
    ``n_docs`` (scored docs), ``n_grams``, ``total_logweight``
    (decimal-exact sum of the per-bucket log-ratios over every gram in
    the domain — the same λ table as :func:`importance_weights`, so
    per-domain totals are exactly the sums of that operator's per-doc
    weights), and ``mean_doc_logweight`` (ONE IEEE division of the
    exact total by n_docs, rounded to 6). :func:`domain_resample`
    takes the top-k domains by mean weight.

    Scale shape: the λ join is the same broadcast as the doc-level
    operator; the extra work is one doc-count-sized shuffle to attach
    the domain and one domain-count-sized hash-agg. Decimal-exact
    two-level aggregation ((domain, doc) then domain) keeps every
    partial sum associative, so partitioning cannot reorder anything
    inexact.
    """
    from shaha_spark.caching import registers

    raw_grams = _hashed_grams(docs, text_col, id_col, num_buckets, salt)
    tgt_grams = _hashed_grams(target, text_col, id_col, num_buckets, salt)
    lam, pins = _dsir_lam(raw_grams, tgt_grams, num_buckets)
    per_doc = (
        raw_grams.join(F.broadcast(lam), "bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("lam").alias("__lw"),  # decimal-exact
        )
    )
    per_domain = (
        per_doc.join(docs.select(id_col, domain_col), id_col)
        .groupBy(domain_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_grams").cast("bigint").alias("n_grams"),
            F.sum("__lw").alias("__tot"),  # still decimal-exact
        )
    )
    return registers(
        per_domain.select(
            domain_col,
            "n_docs",
            "n_grams",
            F.col("__tot").cast("double").alias("total_logweight"),
            F.round(
                F.col("__tot").cast("double") / F.col("n_docs"), 6
            ).alias("mean_doc_logweight"),
        ),
        *pins,
    )


def domain_resample(
    docs: DataFrame,
    target: DataFrame,
    k: int,
    domain_col: str = "domain",
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 4096,
    salt: str = "",
) -> DataFrame:
    """Deterministic top-``k`` domain selection under
    :func:`domain_importance` (mean doc log-weight desc, domain asc —
    the same rank-not-Gumbel determinism choice as
    :func:`importance_resample`). The top-k is a distributed
    TakeOrderedAndProject over the domain-count-sized aggregate —
    never a global sort, never a single-partition window."""
    di = domain_importance(
        docs, target, domain_col, text_col, id_col, num_buckets, salt
    )
    return di.orderBy(
        F.col("mean_doc_logweight").desc(), F.col(domain_col).asc()
    ).limit(k)


def importance_resample(
    docs: DataFrame,
    target: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 4096,
    salt: str = "",
) -> DataFrame:
    """Deterministic top-k DSIR selection: the ``k`` documents whose
    importance log-weight is highest (ties broken on the id). A
    rank-based selection rather than DSIR's Gumbel-noise sampling so
    the selected set is reproducible and oracle-checkable; the ordering
    statistic is the same.

    The top-k is a distributed TakeOrderedAndProject (per-partition
    heaps, k·partitions rows to the driver-side merge) — fine for the
    usual "select millions from billions" k. For selections too large
    to TakeOrdered, filter :func:`importance_weights` on a threshold
    instead (one codegen'd filter, no ordering).
    """
    w = importance_weights(docs, target, text_col, id_col, num_buckets, salt)
    return w.orderBy(F.col("logweight").desc(), F.col(id_col).asc()).limit(k)


def source_cap(
    df: DataFrame,
    group_col: str,
    id_col: str,
    cap: int,
    salt: str = "",
) -> DataFrame:
    """Per-group document cap: keep at most ``cap`` rows per
    ``group_col`` value, chosen deterministically by content-hash order
    (the Common-Crawl-style per-domain cap that stops one boilerplate
    host from dominating the corpus).

    The hash order makes the kept subset a stable uniform sample of
    each group — independent of ingestion order, re-runs, and appends
    below the cap.

    Scale: one shuffle on the group key, then a per-group sort feeding
    a rank filter (Spark plans a WindowGroupLimit: only the first
    ``cap`` rows per group materialize through the window, so a
    mega-domain never sorts fully in memory). A hot group lands on one
    task — at billions-per-domain, pre-prune with a two-phase
    cap (cap per (domain, hash-prefix) shard first) before this exact
    pass; the operator itself is deliberately the exact last mile.
    """
    from pyspark.sql import Window

    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    h = h28(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= cap)
        .drop("__rn")
    )


def source_cap_sql(
    table: str, group_col: str, id_col: str, cap: int, salt: str = ""
) -> str:
    """DuckDB oracle twin of :func:`source_cap`."""
    keyed = f"concat(CAST({id_col} AS VARCHAR), '{salt}')"
    return f"""SELECT * EXCLUDE (__rn) FROM (
  SELECT *, row_number() OVER (
    PARTITION BY {group_col}
    ORDER BY {h28_sql(keyed)}, {id_col}
  ) AS __rn
  FROM {table}
) WHERE __rn <= {cap}"""


def token_budget_select(
    docs: DataFrame,
    budget: int,
    score_col: str = "n_chars",
    bucket_width: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Select the highest-scoring documents whose cumulative token
    count fits a training budget: order by (score desc, id asc), take
    documents while the running token total stays under ``budget``
    (the straddler that crosses the boundary is kept, mirroring the
    bin-packing convention in chunking.pack_sequences).

    Distributed prefix sum over a VALUE ordering, not an id ordering:
    per-bucket cumulative sums partition on the score bucket
    (``score div bucket_width`` — parallel, bounded partitions), and
    only the per-bucket totals pass through the single-partition
    running-total window (score-range/bucket_width rows, a few hundred
    at any scale). Identical to the global
    ``SUM OVER (ORDER BY score DESC, id)`` the oracle runs, because
    integer addition is associative and the (bucket desc, score desc,
    id asc) concatenation IS that global order.
    """
    from pyspark.sql import Window

    from shaha_spark.functions.text import tokens
    from shaha_spark.util import ensure_parallelism

    # NULL-text pin: size(tokens(NULL)) is -1 under Spark's legacy
    # sizeOfNull while the SQL twin's len(NULL) is NULL — either would
    # corrupt the running total or silently drop the row on one side
    # only. Both sides define a null-text document as 0 tokens.
    sized = ensure_parallelism(docs).select(
        F.col(id_col),
        F.col(score_col).cast("long").alias("__score"),
        F.greatest(F.size(tokens(F.col(text_col))), F.lit(0))
        .cast("long")
        .alias("n_tokens"),
    ).withColumn("__bkt", F.expr(f"__score div {bucket_width}"))
    # explicit null-bucket filter: the inner join below infers
    # isnotnull(__bkt) on the probe side only, which would make the two
    # otherwise-identical exchange subtrees differ and defeat exchange
    # reuse (semantics unchanged — a null __bkt row can never join)
    sized = sized.where(F.col("__bkt").isNotNull())
    w_in = (
        Window.partitionBy("__bkt")
        .orderBy(F.col("__score").desc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = sized.withColumn("__cum_in", F.sum("n_tokens").over(w_in))
    # totals derive from the WINDOW OUTPUT, not from sized: the running
    # sum's final value per bucket IS the bucket total (n_tokens >= 0
    # when non-null and window-sum skips nulls, so __cum_in is
    # nondecreasing and max = last). Aggregating sized directly would
    # plan an independent partial-agg branch and scan + tokenize every
    # document twice; aggregating __cum_in forces this branch onto the
    # same Exchange(hash(__bkt)) subtree as cum, which exchange reuse
    # collapses to ONE corpus scan.
    totals = cum.groupBy("__bkt").agg(F.max("__cum_in").alias("__tot"))
    w_bkt = (
        Window.orderBy(F.col("__bkt").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "__bkt",
        F.coalesce(F.sum("__tot").over(w_bkt), F.lit(0)).alias("__off"),
    )
    start = F.col("__off") + F.col("__cum_in") - F.col("n_tokens")
    return (
        cum.join(F.broadcast(offsets), "__bkt")
        .withColumn("__start", start)
        .where(F.col("__start") < budget)
        .select(
            id_col,
            F.col("__score").alias("score"),
            "n_tokens",
            F.col("__start").alias("start"),
        )
    )


def token_budget_select_sql(
    table: str,
    budget: int,
    score_col: str = "n_chars",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB oracle: the plain global-order running sum the
    bucket-partitioned prefix sum equals."""
    return f"""WITH sized AS (
  SELECT {id_col}, CAST({score_col} AS BIGINT) AS score,
    CAST(COALESCE(len(list_filter(regexp_split_to_array({text_col}, '[ \\t\\n\\r]+'), x -> x <> '')), 0)
         AS BIGINT) AS n_tokens
  FROM {table}
),
cum AS (
  SELECT {id_col}, score, n_tokens,
    CAST(COALESCE(SUM(n_tokens) OVER (
      ORDER BY score DESC, {id_col} ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
    ), 0) AS BIGINT) AS start
  FROM sized
)
SELECT {id_col}, score, n_tokens, start
FROM cum WHERE start < {budget}"""


def diverse_sample(
    embeddings: DataFrame,
    k: int = 4,
    iters: int = 2,
    per_cluster: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Diversity-aware selection: k-means the corpus, then take an
    equal quota from every cluster — the bucketed stand-in for
    maximal-marginal-relevance selection (greedy MMR is inherently
    sequential; cluster quotas parallelize and preserve the property
    that no region of embedding space dominates the sample).

    Deterministic end to end: the engine's own kmeans_fit (id-ordered
    init, cosine argmax with id-asc ties) and an id-ordered quota rank,
    so the oracle reproduces the selection exactly. Scale: centroids
    broadcast; the quota window partitions by cluster.
    """
    from pyspark.sql import Window

    from shaha_spark.operators.kmeans import assign_nearest, kmeans_fit

    cents = kmeans_fit(embeddings, k=k, iters=iters, vec_col=vec_col, id_col=id_col)
    assigned = assign_nearest(embeddings, cents, vec_col=vec_col, id_col=id_col)
    w = Window.partitionBy("centroid_id").orderBy(F.col(id_col).asc())
    return (
        assigned.withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") <= per_cluster)
        .select(
            F.col(id_col),
            F.col("centroid_id").cast("bigint").alias("centroid_id"),
            F.col("__r").cast("bigint").alias("quota_rank"),
        )
    )
