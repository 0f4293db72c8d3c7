"""Domain mixing — reweighting a corpus to target per-stratum rates, the
step that turns a raw crawl into a training mixture (e.g. "2.5 epochs of
wiki, 0.25 of web"). Rates are epochs: r < 1 downsamples, r = 1 passes
through, r > 1 upsamples by integer replication plus a fractional
hash-sampled epoch; r = 0 drops the stratum.

Determinism contract: the keep/replicate decision is a pure function of
(seed, key) via the first 32 bits of md5 — uniform, reproducible across
runs/engines (same device as deterministic_sample in operators/core.py),
and exactly replayable in the DuckDB oracle. No rand(): resampling a
100 TB corpus must be re-runnable and auditable.

Scale: one narrow projection + filter (downsample) or generator explode
(upsample) — no shuffle at all; the mixture report is a single groupBy.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HASH_SPACE = float(1 << 32)


def uniform_unit_hash(key_cols: Sequence[str], seed: str) -> Column:
    """Deterministic uniform in [0, 1): first 32 md5 bits of seed|key.

    NULL key components encode as a NUL-byte sentinel: ``concat_ws``
    SKIPS nulls, so (NULL,'x') and ('x',NULL) would otherwise collide on
    one hash and all-NULL keys would share a single u (all kept or all
    dropped instead of the target rate). Non-null keys hash exactly as
    before — the SQL oracles' strings are unchanged."""
    from udata_datalake_service_spark.functions.hashing import md5_32

    key = F.concat_ws(
        "|",
        F.lit(seed),
        *[
            F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
            for c in key_cols
        ],
    )
    return md5_32(key) / F.lit(HASH_SPACE)


def stratified_mix(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    key_cols: Sequence[str],
    seed: str = "mix0",
    default_rate: float = 0.0,
    copy_col: str = "copy_idx",
) -> DataFrame:
    """Resample to the target mixture. Every surviving row carries
    ``copy_col`` (0-based replica index) so downstream shuffles spread
    replicas and lineage stays explicit.

    n_copies(row) = floor(rate) + [hash(seed|key) < frac(rate)] — exactly
    rate in expectation, deterministic per row.
    """
    rate: Column = F.lit(float(default_rate))
    for stratum, r in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == stratum, F.lit(float(r))).otherwise(rate)
    u = uniform_unit_hash(key_cols, seed)
    n_copies = (
        F.floor(rate).cast("long")
        + (u < (rate - F.floor(rate))).cast("long")
    )
    out = df.withColumn("__n_copies", n_copies).filter(F.col("__n_copies") >= 1)
    return (
        out.withColumn(
            copy_col, F.explode(F.sequence(F.lit(0), F.col("__n_copies") - 1))
        )
        .drop("__n_copies")
    )


def mixture_report(
    df: DataFrame,
    mixed: DataFrame,
    strata_col: str,
) -> DataFrame:
    """Before/after counts + achieved rate per stratum (strata dropped by
    the mix report n_out = 0 via the left join)."""
    before = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n_in")).alias("b")
    after = mixed.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n_out")).alias("a")
    # null-safe: the NULL stratum's survivors must be reported, not shown
    # as fully dropped (plain equality never joins NULL = NULL)
    return (
        before.join(
            after,
            F.col(f"b.{strata_col}").eqNullSafe(F.col(f"a.{strata_col}")),
            "left",
        )
        .select(
            F.col(f"b.{strata_col}").alias(strata_col),
            F.col("b.n_in").alias("n_in"),
            F.coalesce(F.col("a.n_out"), F.lit(0)).alias("n_out"),
        )
        .withColumn(
            "achieved_rate",
            F.round(F.col("n_out") / F.col("n_in"), 6),
        )
    )


def split_assign(
    df: DataFrame,
    weights: dict[str, float],
    key_cols: Sequence[str],
    seed: str = "split0",
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test split assignment.

    Each row lands in exactly one split; the split is a pure function of
    (seed, key) — re-running over a grown corpus never reassigns an
    existing row (the property random splits lack, and the reason hash
    splits are the training-data standard). Weights need not sum to 1;
    they are normalized. Assignment: u = md5-uniform in [0,1), cumulative
    weight intervals in sorted split-name order.

    Map-only (no shuffle); exactly replayable in SQL for the oracle.
    """
    total = float(sum(weights.values()))
    if total <= 0:
        raise ValueError("weights must sum to a positive value")
    u = uniform_unit_hash(key_cols, seed)
    expr: Column | None = None
    acc = 0.0
    items = sorted(weights.items())
    for name, w in items[:-1]:
        acc += float(w) / total
        cond = u < F.lit(acc)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return df.withColumn(out_col, expr)


def split_assign_grouped(
    df: DataFrame,
    weights: dict[str, float],
    group_cols: Sequence[str],
    seed: str = "split0",
    out_col: str = "split",
) -> DataFrame:
    """Leakage-safe split: EVERY row of a group (a domain, an author, a
    dedup cluster) lands in the same split, because the hash key is the
    group key — near-duplicate rows inside one group can never straddle
    train/test. Same determinism/normalization contract as split_assign."""
    return split_assign(df, weights, group_cols, seed=seed, out_col=out_col)


def curriculum_buckets(
    df: DataFrame,
    score: str,
    n_buckets: int = 4,
    token_col: str | None = None,
    quantum: int = 1_000_000,
) -> DataFrame:
    """Quality-curriculum binning: bucket documents by score QUANTILE so
    a training scheduler can order data easy→hard or anneal the highest-
    quality bucket last — the curriculum/annealing companion to
    `stratified_mix` (which mixes by label, not by score distribution).

    100 TB shape: the bucket boundaries come from ONE tiny aggregate
    (n_buckets-1 interpolated percentiles — Spark ``percentile()`` ≡
    DuckDB ``quantile_cont`` bit-for-bit, the a9q-verified pairing —
    collected, bounded by n_buckets, never the corpus). Bucketing is then
    a MAP-ONLY comparison chain: no global-sort ``NTILE``, which would
    single-partition the corpus. The report is one groupBy over
    n_buckets groups. The mean score is a fixed-point integer mean (the
    `unigram_surprisal` device) so partial-aggregation order can't
    wiggle the rounding.

    Returns (bucket, n_docs[, n_tokens], score_min, score_max,
    score_mean); bucket 1 holds the lowest scores. NULL scores land in
    bucket 1 (every comparison is NULL-false) and are excluded from
    min/max/mean by aggregate NULL semantics — replayed identically by
    the oracle.
    """
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be ≥ 2, got {n_buckets}")
    probs = [i / n_buckets for i in range(1, n_buckets)]
    plist = ", ".join(repr(p) for p in probs)
    s = F.col(score)
    row = df.agg(F.expr(f"percentile({score}, array({plist}))").alias("b")).collect()[0]
    bounds = row["b"] or []
    bucket = F.lit(1)
    for b in bounds:
        bucket = bucket + F.when(s > F.lit(float(b)), 1).otherwise(0)
    sq = F.round(s * quantum, 0).cast("long")
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.min(s).alias("score_min"),
        F.max(s).alias("score_max"),
        F.round(
            F.sum(sq) / (F.count(s) * F.lit(float(quantum))), 6
        ).alias("score_mean"),
    ]
    if token_col is not None:
        aggs.insert(1, F.sum(F.col(token_col)).cast("long").alias("n_tokens"))
    kept = [score] + ([token_col] if token_col else [])
    return (
        df.select(bucket.cast("long").alias("bucket"), *[F.col(c) for c in kept])
        .groupBy("bucket")
        .agg(*aggs)
    )


def mixture_plan(
    df: DataFrame,
    weights: dict[str, float],
    budget_tokens: int,
    source_col: str = "source",
    token_col: str = "n_tokens",
) -> DataFrame:
    """Sampling plan that realizes a target domain mixture: given the
    desired weight per source and a total training budget, how many
    tokens each source must contribute and how many EPOCHS of it that
    means (epochs > 1 ⇒ the source repeats — the number The Pile/Llama
    data cards publish per subset).

    Per source: available docs/tokens, normalized target weight, target
    tokens = round(weight·budget), epochs = target/available (rounded to
    6), and a repeated flag. One tiny aggregate (rows = #sources); the
    corpus itself never moves — the plan feeds `stratified_mix` /
    `write_training_shards` for the physical sample.
    """
    total_w = sum(weights.values())
    if total_w <= 0:
        raise ValueError("weights must sum > 0")
    rows = [(s, float(w) / total_w) for s, w in sorted(weights.items())]
    wdf = df.sparkSession.createDataFrame(rows, "src string, weight double")
    per = df.groupBy(F.col(source_col).alias("src")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col(token_col)).cast("long").alias("n_tokens"),
    )
    return (
        per.join(F.broadcast(wdf), on="src", how="inner")
        .select(
            F.col("src").alias(source_col),
            "n_docs",
            "n_tokens",
            F.round("weight", 6).alias("weight"),
            F.round(F.col("weight") * budget_tokens, 0)
            .cast("long")
            .alias("target_tokens"),
            F.round(
                F.col("weight") * budget_tokens / F.col("n_tokens"), 6
            ).alias("epochs"),
            (F.col("weight") * budget_tokens > F.col("n_tokens")).alias("repeated"),
        )
    )


def distribution_match_sample(
    raw: DataFrame,
    target: DataFrame,
    score: str,
    key_cols: Sequence[str],
    n_bins: int = 8,
    seed: str = "dm0",
) -> DataFrame:
    """Sample ``raw`` so its ``score`` distribution matches ``target``'s —
    the structural companion to DSIR (which matches CONTENT via
    importance weights; this matches a marginal like length, quality or
    perplexity — the knob data teams turn when the raw crawl skews long
    or low-quality relative to a curated reference).

    Method: bin the score axis by the TARGET's quantile boundaries
    (every target bin holds ≈1/n of target mass), measure raw's mass per
    bin, and keep each raw row with probability
    ``rate(bin) = (f_target / f_raw) / max_bins(f_target / f_raw)`` —
    the most under-represented bin keeps 100% and everything else scales
    down to its shape-matching fraction (maximum-volume exact matching
    in expectation). The coin is the deterministic md5 unit hash on
    ``key_cols`` + seed, so the sample is reproducible and stable under
    corpus growth (same device as `split_assign`).

    Shape: two tiny aggregates (target percentiles; raw per-bin counts,
    both n_bins-bounded collects) + one map-only filter. Returns the
    sampled raw rows with their ``__dm_bin`` attached for auditing.
    """
    if n_bins < 2:
        raise ValueError(f"n_bins must be ≥ 2, got {n_bins}")
    probs = [i / n_bins for i in range(1, n_bins)]
    plist = ", ".join(repr(p) for p in probs)
    row = target.agg(F.expr(f"percentile({score}, array({plist}))").alias("b")).collect()[0]
    bounds = [float(b) for b in (row["b"] or [])]

    def bin_col(c):
        b = F.lit(1)
        for x in bounds:
            b = b + F.when(c > F.lit(x), 1).otherwise(0)
        return b

    t_binned = target.select(bin_col(F.col(score)).alias("__dm_bin"))
    t_counts = {
        r["__dm_bin"]: r["n"]
        for r in t_binned.groupBy("__dm_bin").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    r_binned = raw.withColumn("__dm_bin", bin_col(F.col(score)))
    r_counts = {
        r["__dm_bin"]: r["n"]
        for r in r_binned.groupBy("__dm_bin").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    nt = sum(t_counts.values()) or 1
    nr = sum(r_counts.values()) or 1
    ratios = {
        b: (t_counts.get(b, 0) / nt) / (r_counts[b] / nr)
        for b in r_counts
        if r_counts[b] > 0
    }
    top = max(ratios.values(), default=0.0)
    rates = {b: (r / top if top > 0 else 0.0) for b, r in ratios.items()}

    rate_col = F.lit(0.0)
    for b, r in sorted(rates.items()):
        rate_col = F.when(F.col("__dm_bin") == b, F.lit(r)).otherwise(rate_col)
    u = uniform_unit_hash(key_cols, seed)
    return r_binned.filter(u < rate_col)


def temporal_split(
    df: DataFrame,
    ts_col: str,
    train_end,
    test_start,
    split_col: str = "split",
) -> DataFrame:
    """Leakage-safe time-based split with an EMBARGO gap: rows strictly
    before ``train_end`` train, rows at/after ``test_start`` test, and
    the (train_end, test_start) interval is quarantined as 'embargo' —
    the purged-split idiom that keeps near-boundary leakage (events
    whose effects straddle the cut) out of evaluation. NULL timestamps
    land in 'embargo' (never silently in train). Map-only."""
    if not train_end <= test_start:
        raise ValueError("train_end must be <= test_start")
    t = F.col(ts_col)
    return df.withColumn(
        split_col,
        F.when(t < F.lit(train_end), "train")
        .when(t >= F.lit(test_start), "test")
        .otherwise(F.lit("embargo")),
    )
