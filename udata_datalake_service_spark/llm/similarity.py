"""Similarity search over an embedding column (array<float>).

- ``brute_force_topk`` — exact cosine top-k: broadcast the (small) query
  set against the corpus; per-query heap via window row_number. The
  baseline and the verifier for approximate paths.
- ``lsh_bucketed_topk`` — random-hyperplane LSH: sign-bit signatures from
  md5-seeded deterministic hyperplanes, equi-join on bucket key, exact
  re-rank inside buckets. The 100 TB path: candidate generation is a
  shuffle on a short bucket key instead of a corpus × queries cross join.
- ``embedding_near_dups`` — corpus self-join near-dup detection above a
  cosine threshold, LSH-bucketed.

Dot products run JVM-side via ``F.zip_with`` + ``F.aggregate`` with a
DOUBLE accumulator in list order — sequential IEEE adds, reproducible
exactly by the DuckDB oracle's ``list_dot_product`` on DOUBLE[].
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# pd/np must be module-level: pandas_udf resolves the (stringified, PEP 563)
# type hints of UDFs defined in this module against these globals.
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Sequential-order dot product via ``zip_with`` + ``aggregate``.

    Left-associated IEEE adds in list order — the same order DuckDB's
    ``list_dot_product`` uses, so oracle hashes match bit-for-bit.

    ``dim`` is accepted for API compatibility but deliberately unused:
    unrolling to ``a[0]*b[0] + a[1]*b[1] + …`` was measured SLOWER than
    this higher-order-function form at every scale tried on Spark 4
    (2 M pairs × dim 64: 36 s unrolled vs 11 s HOF; 10 k pairs: 2.6 s vs
    0.7 s). The 64-term tree of ANSI bounds-checked ``getItem`` calls
    blows past janino's method-size budget, drops the projection out of
    whole-stage codegen, and is then a far bigger interpreted tree than
    the single array loop this form evaluates.
    """
    del dim  # see docstring — unrolled getItem chains lose on Spark 4
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column, dim: int | None = None) -> Column:
    return F.sqrt(dot(a, a, dim))


def cosine(a: Column, b: Column, dim: int | None = None) -> Column:
    """Cosine similarity, zero-norm-safe: a zero vector scores 0.0
    against everything. The session runs ANSI mode, so an unguarded
    ``/0`` would RAISE and kill the job — and zero vectors are reachable
    through ordinary preprocessing (`standardize_embeddings` zeroes any
    row equal to the per-dimension mean). 0.0 matches the numpy kernels'
    guard (`semantic_dedup` clamps zero norms), keeping the pinned
    expr≡matmul equality."""
    denom = norm(a, dim) * norm(b, dim)
    return F.when(denom > 0, dot(a, b, dim) / denom).otherwise(F.lit(0.0))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k neighbors per query.

    ``queries`` is expected small (broadcast); the corpus is scanned once.
    Norms are computed once per row *before* the pair blow-up (1 dot per
    pair instead of 3). Result: (query_id, neighbor_id, cos) with rank ≤ k,
    self-matches excluded, ties broken by neighbor id for determinism.
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
        ).withColumn("qn", norm(F.col("qv"), dim))
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", norm(F.col("cv"), dim))
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos",
            # zero-norm-safe under the ANSI session (see `cosine`)
            F.round(
                F.when(
                    F.col("qn") * F.col("cn") > 0,
                    dot(F.col("qv"), F.col("cv"), dim)
                    / (F.col("qn") * F.col("cn")),
                ).otherwise(F.lit(0.0)),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def _hyperplanes(dim: int, num_planes: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from a hash-based generator
    (no RNG state, reproducible across runs/engines). Components are
    uniform in [-1, 1) derived from md5-free integer mixing."""
    planes = []
    for p in range(num_planes):
        row = []
        for d in range(dim):
            # splitmix64-style integer mix — stable, platform-independent
            z = (seed * 0x9E3779B97F4A7C15 + p * 0xBF58476D1CE4E5B9 + d * 0x94D049BB133111EB) & (
                2**64 - 1
            )
            z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & (2**64 - 1)
            z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & (2**64 - 1)
            z = z ^ (z >> 31)
            row.append((z / 2**63) - 1.0)
        planes.append(row)
    return planes


def _bucket_keys_udf(dim: int, num_planes: int, num_tables: int, seed_base: int):
    """Pandas UDF: embedding → array of ``num_tables`` integer bucket keys.

    All tables' sign bits come from ONE (batch × dim) @ (dim × T·B) numpy
    matmul per Arrow batch — JVM→Python transfer is the only overhead, and
    the planes ride along as a broadcast-sized closure constant. Keys are
    packed ints (bit b set iff dot(v, plane_b) ≥ 0), cheaper to shuffle
    and join on than bit-strings.
    """
    from pyspark.sql.types import ArrayType, LongType

    planes = np.array(
        [_hyperplanes(dim, num_planes, seed=seed_base + t) for t in range(num_tables)]
    ).reshape(num_tables * num_planes, dim)
    weights = 1 << np.arange(num_planes, dtype=np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    def keys(v: pd.Series) -> pd.Series:
        m = np.stack(v.to_numpy())
        bits = (m @ planes.T >= 0).reshape(len(v), num_tables, num_planes)
        return pd.Series((bits * weights).sum(axis=2).tolist())

    return keys


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_planes: int = 8,
    num_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: candidates share a bucket in ≥1 of ``num_tables``
    sign-LSH tables; exact cosine re-rank on candidates only.

    Recall grows with num_tables; cost per table is an equi-join on an
    ``num_planes``-bit key. At 1000 executors each table's join is a plain
    shuffled hash join on a short string key.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", norm(F.col("cv"), dim))
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", norm(F.col("qv"), dim))

    # all tables' bucket keys in ONE pass over each side (posexplode), not
    # num_tables re-reads of the corpus
    keys = _bucket_keys_udf(dim, num_planes, num_tables, seed_base=7)
    cb = c.select(
        "neighbor_id", F.posexplode(keys(F.col("cv"))).alias("table", "bkey")
    )
    qb = q.select(
        "query_id", F.posexplode(keys(F.col("qv"))).alias("table", "bkey")
    )
    cand = (
        qb.join(cb, on=["table", "bkey"])
        .select("query_id", "neighbor_id")
        .distinct()
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    scored = (
        cand.join(q, on="query_id")
        .join(c, on="neighbor_id")
        .withColumn(
            "cos",
            # zero-norm-safe under the ANSI session (see `cosine`)
            F.round(
                F.when(
                    F.col("qn") * F.col("cn") > 0,
                    dot(F.col("qv"), F.col("cv"), dim)
                    / (F.col("qn") * F.col("cn")),
                ).otherwise(F.lit(0.0)),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_lists: int = 16,
    num_probes: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """IVF-style approximate top-k: data-dependent inverted lists.

    Poor-man's IVF without iterative k-means (which would be a driver loop):
    the first ``num_lists`` corpus vectors act as centroids (at production
    scale you'd train real centroids offline and broadcast them — the plan
    shape is identical). Every corpus vector joins its nearest list; each
    query probes its ``num_probes`` nearest lists; exact cosine re-rank on
    the probed lists only.

    Scale: centroid assignment is a broadcast join + argmax over
    ``num_lists`` unrolled dots (no shuffle); candidate generation is an
    equi-join on the short list id — same shuffle shape as the LSH path but
    with data-adaptive buckets (better recall on clustered corpora).
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", norm(F.col("cv"), dim))
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", norm(F.col("qv"), dim))

    # centroids collected once to the driver (in production: trained
    # offline) and shipped as a closure constant into ONE vectorized
    # pandas UDF per side — assignment is a (batch × dim) @ (dim × lists)
    # matmul + argsort per Arrow batch, no join, no shuffle, no window.
    from pyspark.sql.types import ArrayType, IntegerType

    cent = np.array(
        [
            [float(x) for x in r["cv"]]
            for r in c.orderBy("neighbor_id").limit(num_lists).collect()
        ]
    )
    cent_n = np.sqrt((cent * cent).sum(axis=1))

    def nearest_udf(n: int):
        @F.pandas_udf(ArrayType(IntegerType()))
        def nearest(v: pd.Series) -> pd.Series:
            m = np.stack(v.to_numpy())
            cs = (m @ cent.T) / cent_n  # row norms cancel in per-row ranking
            # stable argsort on (-cos, list_id) — ties break to lower id
            order = np.argsort(-cs, axis=1, kind="stable")[:, :n]
            return pd.Series(order.tolist())

        return nearest

    assigned = c.withColumn("list_id", nearest_udf(1)(F.col("cv"))[0])
    probed = q.select(
        "query_id", "qv", "qn",
        F.explode(nearest_udf(num_probes)(F.col("qv"))).alias("list_id"),
    )
    scored = (
        probed.join(assigned, on="list_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        # NO dedup needed (unlike the LSH path's distinct): each corpus
        # vector carries exactly one list_id and a query's probed lists
        # are distinct argsort indices, so candidates are already unique
        # — a dropDuplicates here would be a pure extra shuffle
        .withColumn(
            "cos",
            # zero-norm-safe under the ANSI session (see `cosine`)
            F.round(
                F.when(
                    F.col("qn") * F.col("cn") > 0,
                    dot(F.col("qv"), F.col("cv"), dim)
                    / (F.col("qn") * F.col("cn")),
                ).otherwise(F.lit(0.0)),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def recall_at_k(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """Per-query recall of an approximate top-k table against the exact
    one — the go/no-go metric before trusting an ANN index at scale
    (an IVF/LSH configuration is only usable if recall@k on a probe set
    clears the application's bar; this measures it inside the engine).

    Both inputs are (query_id, neighbor_id, …) frames as produced by
    `brute_force_topk` / `lsh_bucketed_topk` / `ivf_topk`. Output:
    (query_id, n_exact, n_hit, recall) with recall = |approx ∩ exact| /
    |exact| rounded to 6 — a left-semi join + two tiny aggregates, all
    on the query grain (queries are the small side by construction).
    """
    e = exact.select("query_id", "neighbor_id")
    hits = (
        e.join(approx.select("query_id", "neighbor_id"),
               on=["query_id", "neighbor_id"], how="left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    tot = e.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    return (
        tot.join(hits, on="query_id", how="left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
            F.round(
                F.coalesce("n_hit", F.lit(0)) / F.col("n_exact"), 6
            ).alias("recall"),
        )
    )


def _round_half_up(x: np.ndarray, decimals: int = 6) -> np.ndarray:
    """Round half AWAY FROM ZERO — the semantics of both DuckDB ``ROUND``
    and Spark's ``F.round`` (BigDecimal HALF_UP), unlike ``np.round``'s
    banker's rounding which ties-to-even and can hash-mismatch the oracle
    on exact .5e-6 ties."""
    f = 10.0**decimals
    return np.sign(x) * np.floor(np.abs(x) * f + 0.5) / f


def exact_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    block_rows: int = 8192,
    num_blocks: int | None = None,
) -> DataFrame:
    """Exact all-pairs cosine near-dups as a DISTRIBUTED block nested-loop.

    Rows are hashed into ``B = ceil(N / block_rows)`` blocks; every
    unordered block pair ``(i, j), i <= j`` becomes one shuffle group, and
    each group computes its ``A_i @ A_j.T`` in a single numpy matmul inside
    ``applyInPandas``. Nothing is ever materialized on the driver (the old
    form ``toPandas()``-ed the whole corpus to build a broadcast matrix —
    a scale-killer at 100 TB); per-task memory is bounded by two blocks of
    ``block_rows`` vectors regardless of corpus size.

    Cost model: each row is replicated exactly ``B`` times (once per block
    pair it participates in), so shuffle volume is ``N * B`` rows ≈
    ``N² / block_rows`` — the inherent O(N²) of exact all-pairs, spread
    across the cluster instead of the driver. This remains the
    *verifier/baseline* for ``embedding_near_dups`` (the LSH path is the
    production 100 TB operator).

    Values are identical to the crossJoin + fold-``dot`` form at round-6
    (ties rounded HALF_UP to match the DuckDB oracle and ``F.round``).
    """
    from pyspark.sql.types import DoubleType, StructField, StructType

    id_type = corpus.schema[id_col].dataType
    src = corpus.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
    )
    if num_blocks is None:
        n = corpus.count()  # cheap: parquet metadata count after pruning
        num_blocks = max(1, -(-n // block_rows))
    nb = int(num_blocks)

    # pid arithmetic in LONG: blk*nb reaches ~nb² and overflows int32
    # around nb≈46k (≈400M rows at the default block size) — ANSI mode
    # would kill the job, non-ANSI would silently collide block pairs
    blk = F.pmod(F.xxhash64(F.col("id")), F.lit(nb)).cast("long")
    # A-side: block i participates in pairs (i, j) for j in i..nb-1.
    a_pids = F.transform(
        F.sequence(F.col("blk"), F.lit(nb - 1)),
        lambda j: F.struct(
            (F.col("blk") * F.lit(nb).cast("long") + j).alias("pid"),
            F.lit(0).alias("side"),
        ),
    )
    # B-side: block j participates in pairs (i, j) for i in 0..j-1 (the
    # diagonal (j, j) is covered by the A-side alone).  sequence(0, blk)
    # then filter < blk — sequence(0, -1) would count DOWN, not be empty.
    b_pids = F.transform(
        F.filter(
            F.sequence(F.lit(0), F.col("blk")), lambda i: i < F.col("blk")
        ),
        lambda i: F.struct(
            (i.cast("long") * F.lit(nb).cast("long") + F.col("blk")).alias("pid"),
            F.lit(1).alias("side"),
        ),
    )
    exploded = (
        src.withColumn("blk", blk)
        .select("id", "v", F.explode(F.concat(a_pids, b_pids)).alias("ps"))
        .select("id", "v", F.col("ps.pid").alias("pid"), F.col("ps.side").alias("side"))
    )

    schema = StructType(
        [
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("cos", DoubleType()),
        ]
    )
    empty = pd.DataFrame({"id_a": [], "id_b": [], "cos": []})

    def compute(key, pdf):
        pid = key[0]
        diagonal = (pid // nb) == (pid % nb)
        a = pdf[pdf["side"] == 0]
        b = pdf[pdf["side"] == 1]
        if not len(a) or (not diagonal and not len(b)):
            return empty
        A = np.stack(a["v"].to_numpy()).astype(np.float64)
        aid = a["id"].to_numpy()
        if diagonal:
            Bm, bid = A, aid
        else:
            Bm = np.stack(b["v"].to_numpy()).astype(np.float64)
            bid = b["id"].to_numpy()
        An = np.sqrt((A * A).sum(axis=1))
        Bn = np.sqrt((Bm * Bm).sum(axis=1))
        cos = _round_half_up((A @ Bm.T) / np.outer(An, Bn))
        if diagonal:
            keep = (aid[:, None] < bid[None, :]) & (cos >= threshold)
            i, j = np.nonzero(keep)
            ia, ib = aid[i], bid[j]
        else:
            i, j = np.nonzero(cos >= threshold)
            ia, ib = aid[i], bid[j]
            lo = np.minimum(ia, ib)
            ib = np.maximum(ia, ib)
            ia = lo
        return pd.DataFrame({"id_a": ia, "id_b": ib, "cos": cos[i, j]})

    return exploded.groupBy("pid").applyInPandas(compute, schema)


def embedding_near_dups(
    corpus: DataFrame,
    threshold: float = 0.95,
    num_planes: int = 12,
    num_tables: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Near-duplicate vectors (cos ≥ threshold) via LSH self-join."""
    c = corpus.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
    ).withColumn("nrm", norm(F.col("v"), dim))
    keys = _bucket_keys_udf(dim, num_planes, num_tables, seed_base=101)
    b = c.select("id", "v", "nrm", F.posexplode(keys(F.col("v"))).alias("table", "bkey"))
    l = b.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"),
        "table", "bkey",
    )
    r = b.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"),
        "table", "bkey",
    )
    return (
        l.join(r, on=["table", "bkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn(
            "cos",
            F.round(dot(F.col("va"), F.col("vb"), dim) / (F.col("na") * F.col("nb")), 6),
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


# ------------------------------------------------------------ centroids ----
def label_centroids(
    df: DataFrame,
    vec: str = "embedding",
    label_col: str = "label",
    quantum: int = 1_000_000,
    dim: int | None = None,
) -> DataFrame:
    """Per-label centroid vectors — the E-step of k-means / the class
    prototype a vector-quality or VQ pass needs.

    Components are computed in FIXED POINT: each input component rounds to
    1/quantum, sums as exact integers, and divides back to double. A plain
    float mean is partial-aggregation-order dependent (the last-ulp wobble
    between engines or between runs with different partitioning); the
    integer sum makes the centroid bit-identical everywhere — the property
    the assignment oracle depends on — at the price of 1e-6 input
    quantization (far below float32 embedding noise).

    Shape: posexplode → groupBy(label, pos) integer sums (map-side
    combined) → per-label ordered collect. Shuffles carry (label, pos)
    longs, never vectors. Returns (label_col, centroid, n_vectors).

    ``dim`` (r13 opt) switches to a single-shuffle wide aggregate — one
    groupBy(label) with dim integer sums + a non-null-vector count,
    skipping the dim× row explode and the second shuffle. Identical
    values for fixed-``dim`` vectors (the ragged-safe exploded form
    stays the default). Measured guidance: a WIN for small dims (the
    dim=8 media embeddings: −20% on mm_embed_vq, 7-rep A/B) but a LOSS
    at dim=64 (+40% on ann_centroid_assign — the 64-buffer hash
    aggregate runs slower than the exploded two-stage form, whose
    map-side partial agg already bounds shuffle bytes at
    labels × dim × partitions) — so 64-dim callers deliberately stay on
    the default.
    """
    if dim is not None:
        v = _as_double(F.col(vec))
        base = df.select(F.col(label_col).alias("label"), v.alias("__v"))
        sums = [
            F.sum(F.round(F.get(F.col("__v"), i) * quantum, 0).cast("long")).alias(
                f"__s{i}"
            )
            for i in range(dim)
        ]
        g = base.groupBy("label").agg(*sums, F.count(F.col("__v")).alias("__n"))
        centroid = F.array(
            *[
                F.col(f"__s{i}") / (F.col("__n") * F.lit(float(quantum)))
                for i in range(dim)
            ]
        )
        return g.select(
            F.col("label").alias(label_col),
            centroid.alias("centroid"),
            F.col("__n").alias("n_vectors"),
        )
    ex = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(_as_double(F.col(vec))).alias("pos", "x"),
    ).select(
        "label",
        "pos",
        F.round(F.col("x") * quantum, 0).cast("long").alias("q"),
    )
    g = ex.groupBy("label", "pos").agg(
        F.sum("q").alias("s"), F.count(F.lit(1)).alias("n")
    )
    comp = (F.col("s") / (F.col("n") * F.lit(float(quantum)))).alias("c")
    return (
        g.select("label", "n", F.struct("pos", comp.alias("c")).alias("pc"))
        .groupBy("label")
        .agg(
            F.transform(F.sort_array(F.collect_list("pc")), lambda s: s["c"]).alias(
                "centroid"
            ),
            F.max("n").alias("n_vectors"),
        )
        .select(F.col("label").alias(label_col), "centroid", "n_vectors")
    )


def assign_nearest_centroid(
    df: DataFrame,
    centroids: DataFrame,
    vec: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    top_n: int = 1,
) -> DataFrame:
    """Nearest-centroid assignment by cosine (rounded 6; ties → lower
    label). Centroids broadcast (k rows); per-vector cost is k dots inside
    one projection — no shuffle beyond the top-1 window on the vector id.
    ``top_n`` > 1 returns each vector's n nearest centroids (the IVF
    multi-probe step) instead of just the winner.
    Returns (id_col, assigned_label, cos)."""
    from pyspark.sql import Window

    # norms precompute BEFORE the k-way blow-up (1 dot per pair instead
    # of 3 — the brute_force_topk convention; identical arithmetic to
    # `cosine`, so values are bit-equal), zero-norm-safe under ANSI
    c = centroids.select(
        F.col(label_col).alias("__clabel"), F.col("centroid").alias("__c")
    ).withColumn("__cn", norm(F.col("__c")))
    scored = (
        df.select(F.col(id_col), _as_double(F.col(vec)).alias("__v"))
        .withColumn("__vn", norm(F.col("__v")))
        .crossJoin(F.broadcast(c))
    )
    scored = scored.withColumn(
        "cos",
        F.round(
            F.when(
                F.col("__vn") * F.col("__cn") > 0,
                dot(F.col("__v"), F.col("__c")) / (F.col("__vn") * F.col("__cn")),
            ).otherwise(F.lit(0.0)),
            6,
        ),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("cos"), F.asc("__clabel"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= top_n)
        .select(id_col, F.col("__clabel").alias("assigned_label"), "cos")
    )


def kmeans_fit(
    df: DataFrame,
    k: int,
    vec: str = "embedding",
    id_col: str = "vec_id",
    max_iterations: int = 20,
    quantum: int = 1_000_000,
) -> DataFrame:
    """Deterministic distributed k-means (cosine): the iterative loop the
    fixed-point E-step enables — same harness pattern as
    dedup.near_dup_clusters (localCheckpoint per round, driver reads ONE
    scalar per round, loud failure on non-convergence).

    Init: the k vectors with the lowest md5(id) — a seeded, engine-
    reproducible choice (no rand()). Each round: assign every vector to
    its nearest centroid (broadcast k dots), recompute centroids in fixed
    point (label_centroids' integer-sum device, so a round's centroids
    are bit-identical regardless of partitioning → the whole run is
    deterministic), stop when no assignment changes. Returns
    (id_col, cluster, cos).

    Scale: per round one broadcast-join projection + one (cluster, pos)
    aggregate; nothing driver-side but k centroids and the changed-count.
    """
    ids_ranked = df.select(
        F.col(id_col).alias("__id"), _as_double(F.col(vec)).alias("__v")
    ).withColumn("__h", F.md5(F.col("__id").cast("string")))
    base = ids_ranked.localCheckpoint(eager=True)
    from pyspark.sql import Window

    # single-partition window is fine HERE: it runs on the k-row seed frame
    # (TakeOrdered already reduced it), never on the corpus
    seeds = (
        base.orderBy("__h")
        .limit(k)
        .withColumn("label", F.row_number().over(Window.orderBy("__h")) - 1)
        .select(F.col("label").cast("int").alias("label"), F.col("__v").alias("centroid"))
    )
    centroids = seeds.localCheckpoint(eager=True)
    assign = None
    for _ in range(max_iterations):
        new_assign = assign_nearest_centroid(
            base.select(F.col("__id").alias(id_col), F.col("__v").alias(vec)),
            centroids,
            vec=vec,
            id_col=id_col,
        ).localCheckpoint(eager=True)
        if assign is not None:
            changed = (
                new_assign.alias("n")
                .join(assign.alias("o"), on=id_col)
                .filter(F.col("n.assigned_label") != F.col("o.assigned_label"))
                .count()
            )
            if changed == 0:
                assign = new_assign
                break
        assign = new_assign
        centroids = label_centroids(
            base.join(
                assign.select(F.col(id_col).alias("__id"), F.col("assigned_label")),
                on="__id",
            ).select(F.col("__v").alias(vec), F.col("assigned_label").alias("label")),
            vec=vec,
            label_col="label",
            quantum=quantum,
        ).select("label", "centroid").localCheckpoint(eager=True)
        n_live = centroids.count()
        if n_live < k:
            raise RuntimeError(
                "k-means cluster became empty (duplicate seed vectors or k "
                f"too large for the data): {n_live} < {k} centroids — lower "
                "k or dedup the corpus first"
            )
    else:
        raise RuntimeError(
            f"kmeans_fit did not converge within {max_iterations} rounds"
        )
    return assign.select(
        id_col, F.col("assigned_label").alias("cluster"), "cos"
    )


def semantic_dedup(
    df: DataFrame,
    vec: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    threshold: float = 0.9,
    method: str = "matmul",
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate pruning via
    cluster-bucketed pairwise cosine — the embedding-space complement to
    MinHash/SimHash (which only see token overlap).

    Cluster first (per-label fixed-point centroids + nearest-centroid
    assignment — swap in `kmeans_fit` clusters for unlabeled corpora),
    then compare pairs ONLY within a cluster: the quadratic pair search
    the naive form needs collapses to an equi-join on the cluster id,
    which is the paper's entire scaling argument (k clusters of n/k
    vectors → n²/k pair work, shuffled on a short key).

    Keep rule (the paper's best variant): within a duplicate pair, KEEP
    the vector with the LOWER cosine to its centroid (the outlier carries
    more information; boilerplate sits near the centroid). A vector is
    dropped iff some same-cluster vector sits within `threshold` cosine
    of it AND has strictly lower centroid-cosine (ties break to the lower
    id). The rule is pairwise — no sequential greedy state — so it is
    exactly replayable in SQL and independent of partitioning.

    Returns (id_col, cluster, centroid_cos, is_dup): one row per input
    vector, `is_dup = true` meaning a curation pass should drop it.
    Cosines round to 6 before every comparison (cross-engine equality).

    ``method``: the within-cluster pair scan runs either as one numpy
    matmul per cluster inside ``applyInPandas`` (``"matmul"``, default —
    the `exact_near_dup_pairs` device: vectorized BLAS, measured ~4×
    faster than the expression form at sf0.1) or as the declarative
    cluster equi-join with zip_with cosines (``"expr"``). Both implement
    the identical rounded-6 rule and are pinned equal by test; a
    cluster's members must fit one task's memory for ``"matmul"`` (n/k
    vectors — the same bound SemDeDup's own pair matrices need).
    """
    cents = label_centroids(df, vec=vec, label_col=label_col, dim=dim)
    assigned = assign_nearest_centroid(
        df, cents, vec=vec, id_col=id_col, label_col=label_col
    )
    base = df.select(F.col(id_col).alias("id"), _as_double(F.col(vec)).alias("v"))
    mem = (
        assigned.select(
            F.col(id_col).alias("id"),
            F.col("assigned_label").alias("cluster"),
            F.col("cos").alias("centroid_cos"),
        )
        .join(base, on="id")
    )
    if method == "matmul":
        # np/pd are module-level imports (pandas_udf hint resolution
        # requires it); output id/cluster types derive from the INPUT
        # frames, so string labels and ids work exactly as they do in
        # label_centroids / assign_nearest_centroid
        from pyspark.sql.types import BooleanType, DoubleType, StructField, StructType

        out_schema = StructType(
            [
                StructField(id_col, df.schema[id_col].dataType),
                StructField("cluster", df.schema[label_col].dataType),
                StructField("centroid_cos", DoubleType()),
                StructField("is_dup", BooleanType()),
            ]
        )

        def scan(pdf: pd.DataFrame) -> pd.DataFrame:
            n = len(pdf)
            out = pd.DataFrame(
                {
                    id_col: pdf["id"].values,
                    "cluster": pdf["cluster"].values,
                    "centroid_cos": pdf["centroid_cos"].values,
                }
            )
            if n < 2:
                out["is_dup"] = False
                return out
            X = np.stack(pdf["v"].values).astype(np.float64)
            norms = np.linalg.norm(X, axis=1)
            norms[norms == 0] = 1.0
            C = _round_half_up((X @ X.T) / np.outer(norms, norms), 6)
            ccos = pdf["centroid_cos"].values
            ids = pdf["id"].values
            eligible = C >= threshold
            np.fill_diagonal(eligible, False)
            dom = (ccos[None, :] < ccos[:, None]) | (
                (ccos[None, :] == ccos[:, None]) & (ids[None, :] < ids[:, None])
            )
            out["is_dup"] = (eligible & dom).any(axis=1)
            return out

        return mem.groupBy("cluster").applyInPandas(scan, schema=out_schema)
    x, y = mem.alias("x"), mem.alias("y")
    pair_cos = F.round(cosine(F.col("x.v"), F.col("y.v")), 6)
    dominated = (
        (F.col("y.centroid_cos") < F.col("x.centroid_cos"))
        | (
            (F.col("y.centroid_cos") == F.col("x.centroid_cos"))
            & (F.col("y.id") < F.col("x.id"))
        )
    )
    dropped = x.join(
        y,
        (F.col("x.cluster") == F.col("y.cluster"))
        & (F.col("x.id") != F.col("y.id"))
        & (pair_cos >= F.lit(threshold))
        & dominated,
        "left_semi",
    ).select(F.col("id"), F.lit(True).alias("__dup"))
    return (
        mem.join(dropped, on="id", how="left")
        .select(
            F.col("id").alias(id_col),
            F.col("cluster"),
            F.col("centroid_cos"),
            F.coalesce(F.col("__dup"), F.lit(False)).alias("is_dup"),
        )
    )


def standardize_embeddings(
    df: DataFrame,
    vec: str = "embedding",
    id_col: str = "vec_id",
    quantum: int = 1_000_000,
) -> DataFrame:
    """Per-dimension z-score standardization — the preprocessing step
    ANN / k-means / SemDeDup quality depends on when dimensions carry
    wildly different scales.

    Moments are computed in FIXED POINT (the `label_centroids` device):
    components quantize to 1/quantum, per-dimension Σq and Σq² sum as
    exact integers, so mean and std are bit-identical across engines and
    partitionings, and the z-scores (computed in q units:
    ``(q − μ_q)/σ_q``, rounded 6) are exactly SQL-replayable.
    Integer-overflow bound: Σq² < 2⁶³ holds up to ~10⁹ rows at |x| ≤ 3
    with the default quantum; at larger corpora drop quantum to 10⁴ (the
    quantization noise is far below float32 embedding noise either way).

    Shape at 100 TB: one posexplode aggregate whose result is DIM rows
    (map-side combined; only those land on the driver — bounded by the
    embedding dimension, never the corpus), then a MAP-ONLY projection
    applying the literal μ/σ arrays with zip_with. Zero-variance
    dimensions standardize to 0.0. Returns (id_col, z: array<double>).
    """
    vd = _as_double(F.col(vec))
    ex = df.select(F.posexplode(vd).alias("pos", "x")).select(
        "pos", F.round(F.col("x") * quantum, 0).cast("long").alias("q")
    )
    stats = (
        ex.groupBy("pos")
        .agg(
            F.sum("q").alias("s1"),
            F.sum(F.col("q") * F.col("q")).alias("s2"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    import math

    by_pos = {r["pos"]: r for r in stats}
    dim = len(by_pos)
    mus, sigs = [], []
    for p in range(dim):
        r = by_pos[p]
        mu = r["s1"] / r["n"]
        var = r["s2"] / r["n"] - (r["s1"] / r["n"]) * (r["s1"] / r["n"])
        mus.append(mu)
        sigs.append(math.sqrt(var) if var > 0 else 0.0)
    mu_arr = F.array(*[F.lit(m) for m in mus])
    sig_arr = F.array(*[F.lit(s) for s in sigs])
    d_q = F.zip_with(vd, mu_arr, lambda x, m: F.round(x * quantum, 0) - m)
    z = F.zip_with(
        d_q,
        sig_arr,
        lambda d, s: F.when(s > 0, F.round(d / s, 6)).otherwise(F.lit(0.0)),
    )
    return df.select(F.col(id_col), z.alias("z"))


# ---------------------------------------------------------------- PQ ----
def pq_codes(
    df: DataFrame,
    m: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-partitioned product-quantization codes: split each vector
    into ``m`` contiguous subvectors of ``dim/m`` components; a
    subvector's code is its SIGN PATTERN (a '>0' bit per component,
    rendered as a bit-string key). The cells are orthants — encoding is
    a pure map (no nearest-codeword search), deterministic, and exactly
    replayable in SQL, which is what lets the ADC path carry a value-hash
    oracle; classical k-means codebooks drop into the same (sub, code)
    contract. Returns (id_col, sub, code, sv) at the (vector, subspace)
    grain — zero shuffle, m rows per vector."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d = dim // m
    v = _as_double(F.col(vec_col))
    subs = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.struct(
            s.cast("int").alias("sub"),
            F.slice(v, s * d + 1, d).alias("sv"),
        ),
    )
    return df.select(
        F.col(id_col), F.explode(subs).alias("e")
    ).select(
        id_col,
        F.col("e.sub").alias("sub"),
        F.array_join(
            F.transform(
                F.col("e.sv"),
                lambda x: F.when(x > 0, F.lit("1")).otherwise(F.lit("0")),
            ),
            "",
        ).alias("code"),
        F.col("e.sv").alias("sv"),
    )


def pq_codebooks(
    df: DataFrame,
    m: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantum: int = 1_000_000,
) -> DataFrame:
    """Codeword per (sub, code) = the fixed-point mean of that cell's
    subvectors (the `label_centroids` integer-sum device: per-component
    quantized means are bit-identical across engines and partitionings).
    One component-grain aggregate; the codebook is at most
    m * 2^(dim/m) rows — broadcast material at any corpus size."""
    cells = pq_codes(df, m=m, dim=dim, id_col=id_col, vec_col=vec_col).select(
        "sub", "code", "sv"
    )
    return _cell_means(cells, quantum, d=dim // m)


def _cell_means(
    cells: DataFrame, quantum: int = 1_000_000, d: int | None = None
) -> DataFrame:
    """(sub, code, sv) rows → (sub, code, cw): fixed-point per-component
    means (exact integer sums → partition-order-independent).

    ``d`` (the subvector length, known by every PQ caller as dim/m)
    switches to the single-shuffle wide-aggregate form (r13 opt): one
    groupBy(sub, code) with d integer sums + a count, instead of
    posexplode to component grain (d× the rows) plus TWO shuffles
    ((sub, code, pos) sums, then the per-cell collect). Identical values
    — same per-component rounds, sums and divisions; requires every sv
    to have exactly d non-null slots, which `pq_codes` guarantees by
    construction. ``d=None`` keeps the ragged-safe exploded form.
    """
    if d is not None:
        sums = [
            F.sum(F.round(F.get(F.col("sv"), i) * quantum, 0).cast("long")).alias(
                f"__s{i}"
            )
            for i in range(d)
        ]
        g = cells.groupBy("sub", "code").agg(
            *sums, F.count(F.lit(1)).alias("__n")
        )
        cw = F.array(
            *[
                F.col(f"__s{i}") / (F.col("__n") * F.lit(float(quantum)))
                for i in range(d)
            ]
        )
        return g.select("sub", "code", cw.alias("cw"))
    comp = cells.select(
        "sub",
        "code",
        F.posexplode(F.col("sv")).alias("pos", "x"),
    ).select(
        "sub", "code", "pos",
        F.round(F.col("x") * quantum, 0).cast("long").alias("xq"),
    )
    g = comp.groupBy("sub", "code", "pos").agg(
        F.sum("xq").alias("s"), F.count(F.lit(1)).alias("n")
    )
    return (
        g.groupBy("sub", "code")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("s"), F.col("n")))
            ).alias("parts")
        )
        .select(
            "sub",
            "code",
            F.transform(
                F.col("parts"),
                lambda p: p["s"] / (p["n"] * F.lit(float(quantum))),
            ).alias("cw"),
        )
    )


def pq_assign(subvecs: DataFrame, codebooks: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """Nearest-codeword assignment per (vector, subspace): broadcast the
    codebook, L2 argmin with a deterministic tie-break (lowest code).
    Input (id, sub, sv); output (id, sub, code, sv). The E-step of the
    Lloyd refinement AND the encoder for learned codebooks."""
    d2 = F.round(
        dot(F.col("sv"), F.col("sv"))
        - 2 * dot(F.col("sv"), F.col("cw"))
        + dot(F.col("cw"), F.col("cw")),
        9,
    )
    w = Window.partitionBy(id_col, "sub").orderBy(F.asc("__d2"), F.asc("code"))
    return (
        subvecs.join(F.broadcast(codebooks), on="sub")
        .withColumn("__d2", d2)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(id_col, "sub", "code", "sv")
    )


def pq_codebooks_refined(
    df: DataFrame,
    m: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 3,
    quantum: int = 1_000_000,
) -> DataFrame:
    """LEARNED product-quantization codebooks: Lloyd's algorithm run
    JOINTLY across all m subspaces (one loop, not m loops) from the
    sign-orthant initialization — E-step `pq_assign` (broadcast argmin),
    M-step `_cell_means` (fixed-point, partition-order-independent).
    Deterministic end to end, so two runs (or two cluster layouts)
    produce byte-identical codebooks.

    Same harness contract as `kmeans_fit`: localCheckpoint truncates the
    per-round lineage; nothing but the codebook (m * 2^(dim/m) rows)
    ever leaves the executors. At 100 TB you train on a SAMPLE of the
    corpus (pass df.sample(...)) — codebook quality saturates long
    before corpus size matters — then encode everything with
    `pq_assign`."""
    subvecs = (
        pq_codes(df, m=m, dim=dim, id_col=id_col, vec_col=vec_col)
        .select(id_col, "sub", "sv")
        .localCheckpoint(eager=True)
    )
    cb = _cell_means(
        pq_codes(df, m=m, dim=dim, id_col=id_col, vec_col=vec_col).select(
            "sub", "code", "sv"
        ),
        quantum,
        d=dim // m,
    ).localCheckpoint(eager=True)
    for _ in range(iterations):
        assigned = pq_assign(subvecs, cb, id_col=id_col)
        cb = _cell_means(assigned, quantum, d=dim // m).localCheckpoint(eager=True)
    return cb


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank: int = 4,
    codebooks: DataFrame | None = None,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k: queries stay EXACT, the corpus is
    replaced by its PQ reconstruction. ``codebooks`` accepts a LEARNED
    codebook (`pq_codebooks_refined`) — the corpus is then encoded by
    nearest-codeword assignment instead of sign buckets; None keeps the
    sign-orthant quantizer (the SQL-oracle-replayable default).
    ``candidates`` optionally restricts scoring to a (query_id,
    neighbor_id) pair set (the IVF probe set in `ivf_pq_topk`): the ADC
    sum then runs per candidate pair instead of per query × corpus —
    the sublinear path. Per query, a distance table of
    dot(q_sub, codeword) per (sub, code) is built on the codebook
    (queries x codebook — broadcast-sized) and the corpus scan just LOOKS
    UP its m codes and sums — the ADC trick: no per-pair full-dimension
    dot ever happens and the corpus is never exchanged. The standard
    over-fetch discipline applies: ``k * rerank`` candidates survive the
    ADC pass, get an EXACT cosine each (k*rerank*|queries| full dots —
    bounded, not corpus-sized), and the final top-k ranks by the exact
    score.

    Returns (query_id, neighbor_id, rnk, adc_cos, cos): rnk by exact
    cosine after re-rank, adc_cos the approximate score that surfaced
    the candidate. Self-matches excluded; ties break by neighbor id."""
    if codebooks is None:
        cb = pq_codebooks(corpus, m=m, dim=dim, id_col=id_col, vec_col=vec_col)
    else:
        cb = codebooks
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("qv"),
    ).withColumn("qn", norm(F.col("qv")))
    d = dim // m
    # distance table: one row per (query, sub, code); q_sub sliced lazily
    dt = (
        F.broadcast(q)
        .crossJoin(F.broadcast(cb))
        .select(
            "query_id",
            "qn",
            "sub",
            "code",
            # fixed-point per-(sub,code) parts: the ADC sum over m
            # subspaces is a float reduction whose order Spark does not
            # fix — integer sums do (the label_centroids device), so the
            # rounded cosine is engine-exact
            F.round(
                dot(F.slice(F.col("qv"), F.col("sub") * d + 1, d), F.col("cw"))
                * F.lit(1_000_000_000),
                0,
            )
            .cast("long")
            .alias("part_q"),
            F.round(dot(F.col("cw"), F.col("cw")) * F.lit(1_000_000_000), 0)
            .cast("long")
            .alias("cw_sq_q"),
        )
    )
    if codebooks is None:
        codes = pq_codes(
            corpus, m=m, dim=dim, id_col=id_col, vec_col=vec_col
        ).select(F.col(id_col).alias("neighbor_id"), "sub", "code")
    else:
        codes = pq_assign(
            pq_codes(corpus, m=m, dim=dim, id_col=id_col, vec_col=vec_col).select(
                id_col, "sub", "sv"
            ),
            cb,
            id_col=id_col,
        ).select(F.col(id_col).alias("neighbor_id"), "sub", "code")
    if candidates is not None:
        # candidate-bounded ADC: attach each candidate pair's query to its
        # neighbor's m code rows, then the distance-table lookup joins on
        # (query, sub, code) — scored rows = |candidates| × m, never
        # |queries| × |corpus| × m
        # dedupe first: the ADC sum below is per (query_id, neighbor_id),
        # so a duplicate candidate pair would double-count part_q/cw_sq_q
        # and corrupt adc_cos. Cheap at candidate-set grain (ADVICE r9).
        paired = codes.join(
            candidates.select("query_id", "neighbor_id").distinct(),
            on="neighbor_id",
        )
        joined = paired.join(F.broadcast(dt), on=["query_id", "sub", "code"])
    else:
        joined = codes.join(F.broadcast(dt), on=["sub", "code"])
    scored = (
        joined
        .groupBy("query_id", "neighbor_id", "qn")
        .agg(F.sum("part_q").alias("adc_q"), F.sum("cw_sq_q").alias("vn2_q"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.when(
                    (F.col("qn") > 0) & (F.col("vn2_q") > 0),
                    (F.col("adc_q") / F.lit(1_000_000_000.0))
                    / (
                        F.col("qn")
                        * F.sqrt(F.col("vn2_q") / F.lit(1_000_000_000.0))
                    ),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("adc_cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("adc_cos"), F.asc("neighbor_id")
    )
    cand = scored.withColumn("__arnk", F.row_number().over(w)).filter(
        F.col("__arnk") <= k * rerank
    )
    # exact re-rank on the k*rerank survivors only
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("cv"),
    )
    qv = q.select("query_id", "qv", "qn")
    exact = (
        F.broadcast(cand)
        .join(c, on="neighbor_id")
        .join(F.broadcast(qv), on="query_id")
        .select(
            "query_id",
            "neighbor_id",
            "adc_cos",
            F.round(
                F.when(
                    F.col("qn") * norm(F.col("cv")) > 0,
                    dot(F.col("qv"), F.col("cv"))
                    / (F.col("qn") * norm(F.col("cv"))),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("cos"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        exact.withColumn("rnk", F.row_number().over(wf))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk", "adc_cos", "cos")
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_lists: int = 16,
    num_probes: int = 4,
    m: int = 16,
    dim: int = 64,
    rerank: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    centroid_label_col: str = "label",
    centroid_vec_col: str = "centroid",
) -> DataFrame:
    """IVF × PQ — the production 100 TB ANN shape: a SUBLINEAR candidate
    set (only ``num_probes`` of ``num_lists`` inverted lists are read per
    query) scored against COMPRESSED vectors (ADC over the PQ codes —
    no full-dimension dot until the exact re-rank of k*rerank
    survivors). This is the FAISS IVFADC composition re-expressed as
    joins: centroid assignment is a broadcast k-dot projection + per-id
    top-1; probing is the same projection at top-``num_probes``; the
    candidate set is one equi-join on list_id; ADC and re-rank are the
    `pq_adc_topk` tail restricted to those candidates.

    Default centroids are the first ``num_lists`` corpus vectors by id —
    deterministic and oracle-replayable. Pass ``centroids`` (a
    (label, centroid array<double>) frame, e.g. a k-means pass over a
    sample) for production geometry: the ×64 probe
    (SCALE64.md §IVFADC-GEOMETRY) measured that at num_lists ≈ √N the
    first-K default no longer covers the space (recall@10 ≈ 0.1) while
    2-round trained centroids recover it at the same sublinear candidate
    fraction. The plan shape is identical either way. Corpus-side cost:
    ONE pass for assignment + ONE pass for codes (both precomputable
    lake tables); per-query cost is bounded by the probed lists' sizes,
    never the corpus.
    """
    if centroids is not None:
        # explicit column names, validated up front (ADVICE r10: the first
        # cut picked the label positionally and hard-required a column
        # literally named 'centroid' — a (centroid, label)-ordered frame
        # silently mislabeled every list)
        missing = [
            c
            for c in (centroid_label_col, centroid_vec_col)
            if c not in centroids.columns
        ]
        if missing:
            raise ValueError(
                f"centroids frame is missing column(s) {missing}; it has "
                f"{centroids.columns}. Pass centroid_label_col/"
                "centroid_vec_col naming the (list label, centroid vector) "
                "columns — e.g. kmeans/label_centroids output is "
                "(label, centroid)."
            )
        cents = centroids.select(
            F.col(centroid_label_col).alias("__list"),
            F.col(centroid_vec_col).cast("array<double>").alias("centroid"),
        )
    else:
        cents = (
            corpus.orderBy(id_col)
            .limit(num_lists)
            .select(
                F.col(id_col).alias("__list"),
                _as_double(F.col(vec_col)).alias("centroid"),
            )
        )
    assigned = assign_nearest_centroid(
        corpus, cents, vec=vec_col, id_col=id_col, label_col="__list"
    ).select(F.col(id_col).alias("neighbor_id"), F.col("assigned_label").alias("list_id"))
    probes = assign_nearest_centroid(
        queries, cents, vec=vec_col, id_col=id_col, label_col="__list",
        top_n=num_probes,
    ).select(F.col(id_col).alias("query_id"), F.col("assigned_label").alias("list_id"))
    cand = probes.join(assigned, on="list_id").select("query_id", "neighbor_id")
    return pq_adc_topk(
        corpus,
        queries,
        k=k,
        m=m,
        dim=dim,
        id_col=id_col,
        vec_col=vec_col,
        rerank=rerank,
        candidates=cand,
    )
