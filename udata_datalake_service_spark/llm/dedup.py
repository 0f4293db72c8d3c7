"""Deduplication family over a document corpus.

Five operators, ordered by cost/recall trade-off:

1. ``exact_dedup``        — hash-groupBy on a canonical fingerprint. One
   shuffle; the 100 TB workhorse.
2. ``ngram_jaccard_pairs``— exact n-gram Jaccard via shingle inverted
   index (explode → self-join on shingle → per-pair intersection counts).
   Quadratic only within shingle posting lists, not the corpus.
3. ``minhash_signatures`` / ``lsh_candidate_pairs`` — MinHash+LSH: the
   scalable near-dup path. Two hash families: seeded-md5 string MINs
   (bit-identical in any engine, so the DuckDB oracle can replay it)
   and seeded-``xxhash64`` long MINs (non-crypto, fixed-width — the
   throughput family the near-dup stream runs on; see
   ``minhash_signatures``). Banding turns all-pairs into equi-joins on
   band keys and adapts its key type to the family.
4. ``simhash64`` — 64-bit SimHash from md5-derived token hashes; near-dups
   = small Hamming distance. Pure column expressions.
5. ``embedding_near_dups`` — cosine over an embedding column (see
   similarity.py) above a threshold.

Scale notes: every operator is shuffle-on-key only (fingerprint / shingle /
band key); none does a cross join. Skewed shingles (ubiquitous n-grams) are
the classic hazard — ``ngram_jaccard_pairs`` drops shingles with document
frequency above ``max_df`` exactly like production MinHash pipelines drop
stop-shingles.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd

# pd/np at module level: pandas_udf resolves PEP 563 type hints here.
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from udata_datalake_service_spark.caching import adopt
from udata_datalake_service_spark.llm.text import TOKEN_SPLIT_RE, tokens


# ---------------------------------------------------------------- exact ----
def exact_dedup(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    fp_col: str | None = None,
) -> DataFrame:
    """Keep the lowest-id document per canonical fingerprint.

    groupBy(min) + semi-join back would scan twice; the window form is one
    shuffle on the fingerprint and keeps all columns.

    ``fp_col`` names an already-computed fingerprint column to dedup on
    (r13 opt: a pipeline that has the token array staged derives the
    fingerprint with ``fingerprint_from`` instead of re-tokenizing here);
    the column is consumed — dropped from the result like the internally
    derived one.
    """
    if fp_col is None:
        from udata_datalake_service_spark.llm.text import fingerprint

        df = df.withColumn("__fp", fingerprint(F.col(text)))
        fp_col = "__fp"
    w = Window.partitionBy(fp_col).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop(fp_col, "__rn")
    )


def duplicate_groups(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact-dup report: fingerprint, group size, canonical (min) id —
    only groups with >1 member."""
    from udata_datalake_service_spark.llm.text import fingerprint

    return (
        df.withColumn("fp", fingerprint(F.col(text)))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("canonical_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


# ------------------------------------------------------------- shingles ----
def shingles_of_tokens(toks: Column, k: int = 3) -> Column:
    """Array of k-word shingles (space-joined windows) from a token-array
    column.

    ``toks`` should be a MATERIALIZED column (projected in a prior
    select), not an inline ``tokens(text)`` expression tree: Spark's
    higher-order functions are CodegenFallback, and an outer expression
    referenced inside the lambda is re-evaluated PER ELEMENT — with an
    inline tokens() the full-document regex split ran once per shingle
    window (~176× per doc on natural text). Measured on 5 000 zipf docs
    (SOAK.md, round-13 cont.; COVERAGE.md "per-window token re-split
    fixed"): the whole 8-hash MinHash job went 67.4 s → 5.4 s from this
    one projection. An attribute reference is
    per-element cheap; the slice-copy that remains is the irreducible
    window cost."""
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(
        n >= k,
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, k), " ")),
    ).otherwise(F.array(F.array_join(toks, " ")))


def word_shingles(text_col: Column, k: int = 3) -> Column:
    """Array of k-word shingles straight from a text column.

    Convenience form for one-off expressions; the hot paths project
    ``tokens(text)`` into a real column first and call
    ``shingles_of_tokens`` on the attribute — see its docstring for why
    (per-element re-evaluation of the inline tokens() subtree)."""
    return shingles_of_tokens(tokens(text_col), k)


def shingle_index(
    df: DataFrame, text: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """The (id, sh) inverted-index frame `ngram_jaccard_pairs` joins on:
    distinct k-word shingles per doc, hashed to 8-byte ``xxhash64`` keys.
    Build + persist it once when several variants (e.g. exact and
    ``max_df``-capped) scan the same corpus — the shingling pass is the
    corpus scan, everything downstream is index-sized."""
    return (
        df.select(F.col(id_col).alias("id"), tokens(F.col(text)).alias("__t"))
        .select(
            "id",
            F.explode(F.array_distinct(shingles_of_tokens(F.col("__t"), k))).alias(
                "sh"
            ),
        )
        .select("id", F.xxhash64("sh").alias("sh"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
    index: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over k-word shingle sets via an inverted index.

    explode(distinct shingles) → self-equi-join on shingle → count
    intersections per pair → |A∪B| = |A|+|B|-∩. The ``id_a < id_b``
    predicate halves the pair space; ``max_df`` drops stop-shingles whose
    posting lists would explode the join (skew control at scale).

    The join key is ``xxhash64(shingle)``, not the shingle string: the
    inverted index shuffles 8-byte ints instead of multi-word strings
    (~2× faster end-to-end, measured). Jaccard itself is exact integer
    arithmetic on the counts, so the result is identical to the string
    join (a 64-bit key collision would need ~2^32 distinct shingles to
    become likely; on text corpora the posting multiset is unchanged).

    ``index`` optionally supplies a prebuilt (persisted) `shingle_index`
    frame, letting several variants share one shingling pass.
    """
    prebuilt = index is not None
    raw = index if prebuilt else shingle_index(df, text=text, id_col=id_col, k=k)
    if not prebuilt:
        # persist the RAW index before deriving anything from it: with
        # max_df the raw index feeds both the df-count aggregate and the
        # semi-join probe side, so persisting only the filtered
        # derivative would still shingle the corpus twice.
        raw = raw.persist()
    sh = raw
    if max_df is not None:
        rare = raw.groupBy("sh").agg(F.count(F.lit(1)).alias("df")).filter(F.col("df") <= max_df)
        # the capped derivative gets its own (small) cache — it is read
        # 3× below (sizes + both join sides) and would otherwise re-run
        # the df-count shuffle per read (no ReusedExchange in the plan)
        sh = raw.join(rare.select("sh"), on="sh", how="inner").persist()
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))

    a = sh.select(F.col("id").alias("id_a"), "sh")
    b = sh.select(F.col("id").alias("id_b"), "sh")
    inter = (
        a.join(b, on="sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.join(sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")), on="id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")), on="id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    # hand every internally-persisted frame to the action owner for
    # release (see caching.adopt/settle)
    caches = ([] if prebuilt else [raw]) + ([sh] if max_df is not None else [])
    return adopt(out, *caches) if caches else out


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    index: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard pairs via AllPairs/PPJoin prefix filtering — the
    LOSSLESS scale path next to the ``max_df`` cap (which drops pairs).

    Same result set as `ngram_jaccard_pairs` (equality pinned by test;
    the query-level oracle is shared verbatim), different candidate
    generator: shingles order globally by (document frequency ASC, hash
    ASC) — rarest first — and only each document's PREFIX, its
    ``|x| − ⌈t·|x|⌉ + 1`` rarest shingles, enters the inverted index.
    Theorem (Chaudhuri et al. 2006; Bayardo et al. 2007, "Scaling Up All
    Pairs Similarity Search"): if J(A,B) ≥ t the two prefixes share an
    element, so the prefix equi-join loses no qualifying pair. Hot
    stop-shingles sit at the END of the canonical order and almost never
    enter a prefix, so the candidate join only ever touches RARE posting
    lists — the frequency-ordered prefix collapses the quadratic blow-up
    without the max_df variant's lossy drop. Verification is
    per-candidate: the (small) candidate set joins back to the full
    sorted-shingle arrays and the exact intersection size comes from
    JVM-side ``array_intersect``.

    Shape at 100 TB: one df-count aggregate over the index, one
    aggregate to per-doc sorted arrays, a prefix self-equi-join on rare
    8-byte keys, two array-lookup joins on doc id. No window, no
    cross join; every shuffle key is short.

    Measured crossover (sf0.1, local[32], idle machine, r5): on THIS
    synthetic corpus the shingle DF distribution is near-uniform — no
    Zipfian stop-grams — so the plain posting join is already cheap
    (5.7-6.5 s for both exact+maxdf variants) and the prefix machinery's
    df-join + sort + per-candidate intersect overhead makes it slower
    (8.6-12.3 s; the r4 bench's 18.5 s row was loadavg-10+ noise). The
    prefix path's advantage is precisely the skewed corpus: with
    Zipf-distributed grams the full join's hot posting lists grow
    O(hot²) candidate pairs while prefixes stay rare —
    tests/test_llm.py::test_jaccard_prefix_beats_plain_join_on_zipfian_corpus
    constructs that shape and measures the prefix path ~3× faster there.
    Both forms are exported so the caller picks by corpus shape (and
    `max_df` remains the lossy third option).
    """
    prebuilt = index is not None
    sh = index if prebuilt else shingle_index(df, text=text, id_col=id_col, k=k)
    if not prebuilt:
        # sh feeds BOTH the df-count aggregate and the sh⋈dfreq join below;
        # without a cache the shingling corpus scan runs twice (the
        # docstring's "one df-count aggregate over the index" claim holds
        # only if the index is materialized — mirror ngram_jaccard_pairs).
        sh = sh.persist()
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    # per-doc shingles sorted by the global (df, sh) canonical order;
    # read 3x (prefix index + both verification sides) → persist
    docs = (
        sh.join(dfreq, on="sh")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "sh"))).alias("arr"))
        .select(
            "id",
            F.transform("arr", lambda s: s["sh"]).alias("shs"),
            F.size("arr").alias("sz"),
        )
        .persist()
    )
    # Prefix length |x| − ⌈t·|x|⌉ + 1 in EXACT integer arithmetic. The
    # naive F.ceil(sz * t) double product can land one ulp above the
    # exact rational (0.07 × 100 → 7.000000000000001 → ceil 8), silently
    # shortening the prefix below the AllPairs bound and dropping a
    # qualifying pair. Rationalize t to nano-units and take ceil via
    # integer div; the 500-nano slack additionally covers the final
    # round(J, 6) >= t filter, which admits pairs with true J down to
    # t − 5e-7 — those too are guaranteed a shared prefix element.
    num = max(int(round(threshold * 1_000_000_000)) - 500, 0)
    pre_len = (
        F.col("sz")
        - F.expr(f"(CAST(sz AS BIGINT) * {num} + 999999999) div 1000000000")
        + 1
    ).cast("int")
    # r13 opt (guide §2.3/§2.4): the set size rides the prefix explode
    # (one extra int per posting row), so the AllPairs LENGTH filter runs
    # right at the candidate join and the old two join-backs to an
    # (id, sz) projection — two whole shuffles — disappear; the distinct
    # then sees only length-compatible pairs. Same pair set: the length
    # predicate is deterministic per (id_a, id_b), so filtering before
    # the distinct is identical to after.
    pre = docs.select("id", "sz", F.explode(F.slice("shs", 1, pre_len)).alias("sh"))
    # AllPairs LENGTH filter before any array moves: J(A,B) ≤ min/max of
    # the set sizes, so a candidate with min·10⁹ < num·max can never reach
    # the (slack-adjusted) threshold; only surviving pairs pull the full
    # shingle arrays for the exact intersect (lossless — same `num` slack
    # as the prefix bound covers the rounded-jaccard final filter).
    survivors = (
        pre.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"), "sh")
        .join(
            pre.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"), "sh"),
            on="sh",
        )
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (
                F.least("sz_a", "sz_b").cast("long") * F.lit(1_000_000_000)
                >= F.lit(num) * F.greatest("sz_a", "sz_b").cast("long")
            )
        )
        .select("id_a", "id_b", "sz_a", "sz_b")
        .distinct()
    )
    a = docs.select(F.col("id").alias("id_a"), F.col("shs").alias("shs_a"))
    b = docs.select(F.col("id").alias("id_b"), F.col("shs").alias("shs_b"))
    out = (
        survivors.join(a, on="id_a")
        .join(b, on="id_b")
        .withColumn("inter", F.size(F.array_intersect("shs_a", "shs_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return adopt(out, docs) if prebuilt else adopt(out, docs, sh)


# -------------------------------------------------------------- minhash ----
def minhash_signatures(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    k: int = 3,
    hash_family: str = "md5",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """id → MinHash signature (array<string> or array<bigint>).

    Two hash families, identical estimator semantics, different cost
    profiles:

    * ``"md5"`` (default) — permutation *i* = lexicographic MIN over
      md5(i || '|' || shingle). md5 is uniform on hex strings, so
      string-min is a faithful min-wise hash; hex strings keep the
      DuckDB oracle trivial and engine-portable. The oracle-bound
      registry queries stay on this family.
    * ``"xxh64"`` — shingle STRINGS are never built: each k-token
      window is hashed directly off the token-array slice
      (``xxhash64(slice(toks, i, k))`` — Spark's xxhash64 hashes array
      values natively), and permutation *i* = MIN over
      ``xxhash64(i, shingle_hash)``, a fixed-width 12-byte hash per
      permutation instead of a fresh digest over a ~40-char shingle
      string. The signature is array<bigint>: ~8× smaller on the wire
      and in the sig/index tables, and the per-doc arithmetic the zipf
      ×16 soak measured at 65 % of the near-dup stream's wall
      (SOAK.md round-13) drops to non-crypto fixed-width hashing with
      zero per-shingle string allocation. Shingle identity becomes
      hash identity (two distinct shingles colliding in 64 bits merge
      — ~n²/2⁶⁵ per doc, negligible). Not DuckDB-reproducible —
      bindings for this family assert structure + the identical-
      shingle-set invariant, not md5-replayable values.

    The two families must never be mixed against one state table: a
    signature/band index built by one family is meaningless to probes
    from the other (same contract as changing ``num_hashes``/``k``).

    Physical shape (both families): explode(distinct shingles) →
    groupBy(id).agg(num_hashes MINs). All hash/min work runs in
    whole-stage codegen with map-side partial aggregation (each task
    emits one row per doc) — the shuffle carries only signatures, and
    nothing is evaluated through interpreted higher-order functions.

    ``shingles`` optionally supplies a prebuilt (id, sh) frame of
    exploded DISTINCT shingle STRINGS per doc (the grain this function
    builds internally for the md5 family) so several consumers — e.g.
    the signature build and `shingle_index`'s xxhash64 inverted index —
    share ONE tokenize+shingle corpus pass (r14 opt, guide §2.3).
    md5 family only: the xxh64 family never materializes shingle
    strings, which is its whole point.
    """
    if hash_family not in ("md5", "xxh64"):
        raise ValueError(f"unknown minhash hash_family: {hash_family!r}")
    if shingles is not None:
        if hash_family != "md5":
            raise ValueError("prebuilt shingles require hash_family='md5'")
        mins = [
            F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("sh")))).alias(f"__h{i}")
            for i in range(num_hashes)
        ]
        return (
            shingles.groupBy("id")
            .agg(*mins)
            .select(
                "id",
                F.array(*[F.col(f"__h{i}") for i in range(num_hashes)]).alias("sig"),
            )
        )
    # project the token array into a REAL column before any per-window
    # lambda touches it — an inline tokens(text) subtree inside the
    # transform re-runs the full-document regex split per shingle
    # window (see shingles_of_tokens; measured 67 s → 8.9 s on the
    # 5 000-doc probe)
    base = df.select(F.col(id_col).alias("id"), tokens(F.col(text)).alias("__t"))
    toks = F.col("__t")
    if hash_family == "xxh64":
        n = F.size(toks)
        idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
        sh64s = F.when(
            n >= k, F.transform(idx, lambda i: F.xxhash64(F.slice(toks, i + 1, k)))
        ).otherwise(F.array(F.xxhash64(toks)))
        sh = base.select("id", F.explode(F.array_distinct(sh64s)).alias("sh64"))
        mins = [
            F.min(F.xxhash64(F.lit(i), F.col("sh64"))).alias(f"__h{i}")
            for i in range(num_hashes)
        ]
    else:
        sh = base.select(
            "id",
            F.explode(F.array_distinct(shingles_of_tokens(toks, k))).alias("sh"),
        )
        mins = [
            F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("sh")))).alias(f"__h{i}")
            for i in range(num_hashes)
        ]
    return (
        sh.groupBy("id")
        .agg(*mins)
        .select(
            "id", F.array(*[F.col(f"__h{i}") for i in range(num_hashes)]).alias("sig")
        )
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    num_bands: int = 4,
    rows_per_band: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Band the signatures and equi-join on (band, band-key).

    Identical band slice ⇒ candidate pair. Returns distinct (id_a < id_b)
    candidates; feed them to an exact verifier (``ngram_jaccard_pairs`` on
    the candidate subset or estimate from signature overlap).

    **Candidates are NOT duplicates — verify before dropping.** A band
    collision is a probabilistic hint, not a similarity judgment: the
    ×64 curation soak measured dropping raw candidates deleting 93 % of
    a low-entropy corpus vs 38 % after verifying each candidate at
    estimated Jaccard ≥ 0.5 (SOAK.md). Pipe candidates through
    ``minhash_jaccard_estimate`` / ``ngram_jaccard_pairs`` and threshold
    BEFORE feeding any delete/cluster step.

    All band keys are derived in ONE pass over the signatures (posexplode),
    not one re-read of the upstream per band.

    ``max_bucket`` is the hot-bucket cap (the band-join sibling of
    ``ngram_jaccard_pairs``'s ``max_df``): a k-document boilerplate /
    template family shares band keys, and the self-join then emits k²
    pairs INSIDE ONE TASK — the canonical 100 TB straggler (exact dedup
    upstream removes identical docs, not near-identical families). With
    the cap, buckets holding more than ``max_bucket`` documents are
    skipped entirely; per the no-silent-caps rule the dropped buckets are
    enumerable via ``lsh_oversized_buckets`` (same band table, same cap)
    and the registry surfaces the drop count in ``dd_lsh_capped``'s
    output. A dropped bucket only loses a pair's candidacy in THAT band —
    pairs also agreeing in a calmer band still surface.

    Bands must fit the signature: a slice past the end would yield the
    SAME md5('') key for every document in the trailing bands, turning
    the banding into an all-pairs cross candidate set — so a
    ``num_bands × rows_per_band`` larger than the signature raises
    (validated against one probed row; an empty frame skips the probe
    and returns no candidates anyway).
    """
    exploded = lsh_band_table(signatures, num_bands, rows_per_band)
    caches = []
    if max_bucket is not None:
        # the band table feeds both the size aggregate and the join; one
        # persisted read instead of two bandings of the corpus
        exploded = exploded.persist()
        caches.append(exploded)
        keep = (
            exploded.groupBy("band", "bkey")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") <= max_bucket)
            .select("band", "bkey")
        )
        exploded = exploded.join(keep, on=["band", "bkey"])

    l = exploded.select(F.col("id").alias("id_a"), "band", "bkey")
    r = exploded.select(F.col("id").alias("id_b"), "band", "bkey")
    out = (
        l.join(r, on=["band", "bkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return adopt(out, *caches) if caches else out


def lsh_oversized_buckets(
    signatures: DataFrame,
    num_bands: int = 4,
    rows_per_band: int = 4,
    max_bucket: int = 64,
) -> DataFrame:
    """(band, bkey, bucket_size) for buckets LARGER than ``max_bucket`` —
    the drop-accounting side of the hot-bucket cap (no silent caps): what
    ``lsh_candidate_pairs(..., max_bucket=B)`` skipped, enumerable and
    attestable. One groupBy over the band table; at production scale this
    is the skew report you review before trusting a cap value."""
    return (
        lsh_band_table(signatures, num_bands, rows_per_band)
        .groupBy("band", "bkey")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .filter(F.col("bucket_size") > max_bucket)
    )


def lsh_band_table(
    signatures: DataFrame,
    num_bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """(id, band, bkey) banding of a signature table — the LSH INDEX.

    Factored out of ``lsh_candidate_pairs`` because at production scale
    this frame is a materialized lake table, not a plan fragment: band
    the corpus ONCE, write it bucketed by (band, bkey)
    (``Lake.write_bucketed_table``), and every future batch probes it
    with an equi-join that never re-shuffles the corpus side
    (``incremental_lsh_pairs``). Same validation as the pair join: bands
    must fit the signature or trailing bands alias to one empty-slice key.

    Band-key derivation follows the signature's hash family (element
    type): md5-family string signatures get md5(array_join(slice)) hex
    keys; xxh64-family bigint signatures get ``xxhash64(slice)`` long
    keys (Spark's xxhash64 hashes array values natively — no string
    round-trip, and the stored index key is 8 bytes instead of 32 hex
    chars). Both sides of any band equi-join derive keys through this
    one function, so the key type always agrees.
    """
    from pyspark.sql.types import LongType

    probe = signatures.select("sig").head(1)
    if probe:
        sig_len = len(probe[0]["sig"])
        if num_bands * rows_per_band > sig_len:
            raise ValueError(
                f"banding needs num_bands*rows_per_band <= len(signature): "
                f"{num_bands}*{rows_per_band} > {sig_len}"
            )
    elem = signatures.schema["sig"].dataType.elementType

    def _slice(b: int) -> Column:
        return F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band)

    if isinstance(elem, LongType):
        keys = F.array(*[F.xxhash64(_slice(b)) for b in range(num_bands)])
    else:
        keys = F.array(
            *[F.md5(F.array_join(_slice(b), "|")) for b in range(num_bands)]
        )
    return signatures.select("id", F.posexplode(keys).alias("band", "bkey"))


def incremental_lsh_pairs(
    corpus_sigs: DataFrame,
    batch_sigs: DataFrame,
    num_bands: int = 4,
    rows_per_band: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Probe-side LSH — near-dup candidates of a NEW batch against an
    EXISTING corpus, without ever re-pairing the corpus with itself.

    The incremental sibling of ``lsh_candidate_pairs``: daily ingest does
    not need corpus×corpus pairs again (they were resolved when the
    corpus was built), only batch×corpus and batch×batch. This function
    answers the cross term: band both sides, equi-join on (band, bkey),
    distinct (id_a=corpus, id_b=batch). Self-pairs (same id on both
    sides, e.g. a re-crawled document) are excluded; batch-internal dups
    are ``lsh_candidate_pairs`` on the batch alone (cheap — the batch is
    the small side).

    At 100 TB: the corpus band table is the persisted index
    (``lsh_band_table`` written bucketed by band key); this probe is one
    equi-join whose corpus side arrives pre-bucketed, so the shuffle
    moves ONLY the batch — the index is never rewritten or re-shuffled.
    Estimate survivors with ``minhash_jaccard_estimate`` on the union of
    the two signature tables.
    """
    ib = lsh_band_table(corpus_sigs, num_bands, rows_per_band).select(
        F.col("id").alias("id_a"), "band", "bkey"
    )
    if max_bucket is not None:
        # hot-bucket cap on the CORPUS side — the index-build-time cap:
        # probe cost per batch row is the corpus bucket's posting length,
        # so a template-family bucket of k corpus docs makes every
        # matching batch doc pay k. Applied when the index is built
        # (write_bucketed_table of the capped band table), so the stored
        # index never holds a straggler bucket; dropped buckets stay
        # enumerable via lsh_oversized_buckets(corpus_sigs, ...).
        cached_ib = ib.persist()
        keep = (
            cached_ib.groupBy("band", "bkey")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") <= max_bucket)
            .select("band", "bkey")
        )
        ib = cached_ib.join(keep, on=["band", "bkey"])
    bb = lsh_band_table(batch_sigs, num_bands, rows_per_band).select(
        F.col("id").alias("id_b"), "band", "bkey"
    )
    out = (
        ib.join(bb, on=["band", "bkey"])
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return adopt(out, cached_ib) if max_bucket is not None else out


def lsh_cap_scorecard(
    signatures: DataFrame,
    num_bands: int = 4,
    rows_per_band: int = 4,
    max_bucket: int = 64,
) -> DataFrame:
    """One-row audit of the hot-bucket cap: pair counts with and without
    the cap, plus the drop accounting — the no-silent-caps attestation
    for ``max_bucket``. Columns: pairs_uncapped, pairs_capped,
    buckets_dropped (buckets > max_bucket), rows_dropped (postings inside
    them). Band table and bucket sizes are computed ONCE (persisted) and
    feed all four legs; the 1-row legs combine by broadcast crossJoin
    (same shape as ``pair_set_eval``)."""
    bt = lsh_band_table(signatures, num_bands, rows_per_band).persist()
    sizes = (
        bt.groupBy("band", "bkey")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .persist()
    )
    keep = sizes.filter(F.col("bucket_size") <= max_bucket).select("band", "bkey")
    over = sizes.filter(F.col("bucket_size") > max_bucket)

    def _pairs(tbl: DataFrame) -> DataFrame:
        l = tbl.select(F.col("id").alias("id_a"), "band", "bkey")
        r = tbl.select(F.col("id").alias("id_b"), "band", "bkey")
        return (
            l.join(r, on=["band", "bkey"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )

    n_unc = _pairs(bt).agg(F.count(F.lit(1)).alias("pairs_uncapped"))
    n_cap = _pairs(bt.join(keep, on=["band", "bkey"])).agg(
        F.count(F.lit(1)).alias("pairs_capped")
    )
    drops = over.agg(
        F.count(F.lit(1)).alias("buckets_dropped"),
        F.coalesce(F.sum("bucket_size"), F.lit(0)).alias("rows_dropped"),
    )
    out = (
        n_unc.crossJoin(n_cap)
        .crossJoin(drops)
        .select(
            F.col("pairs_uncapped").cast("long").alias("pairs_uncapped"),
            F.col("pairs_capped").cast("long").alias("pairs_capped"),
            F.col("buckets_dropped").cast("long").alias("buckets_dropped"),
            F.col("rows_dropped").cast("long").alias("rows_dropped"),
        )
    )
    return adopt(out, bt, sizes)


def minhash_jaccard_estimate(signatures: DataFrame, pairs: DataFrame) -> DataFrame:
    """Estimated Jaccard for candidate pairs = matching signature positions /
    signature length (zip_with, no shuffle beyond the two joins)."""
    s_a = signatures.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    s_b = signatures.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    matches = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m)
    )
    return (
        pairs.join(s_a, on="id_a")
        .join(s_b, on="id_b")
        .withColumn("jaccard_est", F.round(matches / F.size("sig_a"), 6))
        .select("id_a", "id_b", "jaccard_est")
    )


# -------------------------------------------------------------- simhash ----
def simhash64(text_col: Column) -> Column:
    """64-bit SimHash over word tokens, md5-derived bit planes.

    Token hash = first 16 hex chars of md5(token) → 64 bits. For each bit,
    sum(+1/-1) across tokens; sign → bit. Implemented as 16 nibble lookups
    per token (pure expressions; no UDF). Returns BIGINT (may be negative —
    interpret as unsigned bit pattern).
    """
    toks = tokens(text_col)
    h = lambda t: F.substring(F.md5(t), 1, 16)  # noqa: E731

    def digits_at(nib: int) -> Column:
        return F.transform(
            toks, lambda t: F.conv(F.substring(h(t), nib + 1, 1), 16, 10).cast("int")
        )

    def votes_for(digit: Column, mask: int) -> Column:
        return F.aggregate(
            digit,
            F.lit(0),
            lambda a, d: a + F.when(d.bitwiseAND(F.lit(mask)) > 0, 1).otherwise(-1),
        )

    # per-nibble signed contributions; nibble n of token = hex digit n
    acc = F.lit(0).cast("bigint")
    for nib in range(16):
        digit = digits_at(nib)
        for bit in range(4):
            mask = 1 << (3 - bit)
            votes = votes_for(digit, mask)
            bit_pos = 63 - (nib * 4 + bit)  # MSB-first
            acc = acc + F.when(
                votes > 0, F.shiftleft(F.lit(1).cast("bigint"), bit_pos)
            ).otherwise(F.lit(0).cast("bigint"))
    return acc


def simhash_table(
    df: DataFrame, text: str = "text", id_col: str = "doc_id", out: str = "simhash"
) -> DataFrame:
    """Corpus-scale SimHash64: one md5 per token, bit votes as 64
    conditional sums in a single groupBy.

    Same bits as ``simhash64`` (asserted by tests), different physical
    shape: explode(tokens) computes each token hash exactly once (the
    column-expression form re-evaluates md5 per bit plane through
    interpreted lambdas — 64× the hashing). The bit tests are integer
    shift/mask ops in whole-stage codegen, and groupBy(id) partial-aggregates
    map-side, so the shuffle carries 64 small ints per doc.
    """
    tok = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text))).alias("t")
    )
    hx = F.md5(F.col("t"))
    tok = tok.select(
        "id",
        F.conv(F.substring(hx, 1, 8), 16, 10).cast("bigint").alias("hi"),
        F.conv(F.substring(hx, 9, 8), 16, 10).cast("bigint").alias("lo"),
    )
    votes = []
    for bit in range(64):  # bit 0 = MSB of the 64-bit token hash
        src, pos = (F.col("hi"), 31 - bit) if bit < 32 else (F.col("lo"), 63 - bit)
        is_set = F.shiftrightunsigned(src, pos).bitwiseAND(F.lit(1)) == 1
        votes.append(F.sum(F.when(is_set, 1).otherwise(-1)).alias(f"__v{bit}"))
    g = tok.groupBy("id").agg(*votes)
    acc = F.lit(0).cast("bigint")
    for bit in range(64):
        acc = acc + F.when(
            F.col(f"__v{bit}") > 0, F.shiftleft(F.lit(1).cast("bigint"), 63 - bit)
        ).otherwise(F.lit(0).cast("bigint"))
    sim = g.select("id", acc.alias(out))
    # token-less docs vanish in the explode; restore them with simhash 0
    # (what the vote loop yields for an empty token list)
    return (
        df.select(F.col(id_col).alias("id"))
        .join(sim, on="id", how="left")
        .select("id", F.coalesce(F.col(out), F.lit(0).cast("bigint")).alias(out))
    )


_TOKEN_RE = re.compile(TOKEN_SPLIT_RE)


def simhash_map(
    df: DataFrame, text: str = "text", id_col: str = "doc_id", out: str = "simhash"
) -> DataFrame:
    """Map-only SimHash64: one Arrow-batched pandas UDF, bit-identical to
    ``simhash_table`` (asserted by tests).

    The production path. ``simhash_table``'s 64 conditional sums are the
    pure-SQL formulation, but they cost an explode (tokens × docs rows), a
    64-counter shuffle, a repair join for token-less docs, and several
    seconds of codegen for the 64-wide aggregate. This form is a pure map:
    simhash computes inside the scan stage with NO shuffle at any scale.
    Python-side work is hashlib.md5 (C) + numpy bit math; tokenization
    replays ``text.tokens``'s split regex exactly.
    """
    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def sh(texts: pd.Series) -> pd.Series:
        msb_first = np.left_shift(np.uint64(1), np.arange(63, -1, -1, dtype=np.uint64))
        res = np.zeros(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            if not t:
                continue
            toks = [x for x in _TOKEN_RE.split(t.lower()) if x]
            if not toks:
                continue
            buf = b"".join(hashlib.md5(tok.encode("utf-8")).digest()[:8] for tok in toks)
            bits = np.unpackbits(np.frombuffer(buf, dtype=np.uint8)).reshape(len(toks), 64)
            votes = 2 * bits.sum(axis=0, dtype=np.int64) - len(toks)
            packed = ((votes > 0).astype(np.uint64) * msb_first).sum(dtype=np.uint64)
            res[i] = packed.astype(np.int64)  # reinterpret, 2^63.. wraps negative
        return pd.Series(res)

    return df.select(F.col(id_col).alias("id"), sh(F.col(text)).alias(out))


def simhash_near_dups(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    num_blocks: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Pigeonhole blocking: split the 64-bit hash into ``num_blocks`` blocks;
    any pair within distance d < num_blocks must agree on ≥1 block →
    equi-join per block, then exact popcount filter. No cross join.

    The guarantee REQUIRES ``max_hamming < num_blocks`` — a looser radius
    would silently drop qualifying pairs whose differing bits spread
    across every block, so the mismatch raises instead.
    """
    if max_hamming >= num_blocks:
        raise ValueError(
            f"pigeonhole blocking is complete only for max_hamming < "
            f"num_blocks (got {max_hamming} >= {num_blocks}); raise "
            "num_blocks (it need not divide 64 evenly)"
        )
    with_h = simhash_map(df, text=text, id_col=id_col, out="h")
    block_bits = 64 // num_blocks

    # one pass: every block key via posexplode; block index joins with the
    # key so different blocks never collide
    keys = F.array(
        *[
            F.shiftrightunsigned(F.col("h"), blk * block_bits).bitwiseAND(
                F.lit((1 << block_bits) - 1)
            )
            for blk in range(num_blocks)
        ]
    )
    side = with_h.select("id", "h", F.posexplode(keys).alias("blk", "bkey"))
    l = side.select(F.col("id").alias("id_a"), F.col("h").alias("h_a"), "blk", "bkey")
    r = side.select(F.col("id").alias("id_b"), F.col("h").alias("h_b"), "blk", "bkey")
    cands = (
        l.join(r, on=["blk", "bkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "h_a", "h_b")
    )

    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (
        cands.distinct()
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------- span-level dups ----
def duplicated_span_coverage(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    span: int = 8,
    min_df: int = 2,
) -> DataFrame:
    """Substring-level duplication signal: per document, how much of it is
    covered by token spans that also appear verbatim in OTHER documents.

    Document-level dedup (exact/MinHash/SimHash above) misses the classic
    training-data failure mode — distinct pages sharing big verbatim
    chunks (licenses, boilerplate, quoted passages); span-level dedup à la
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better" (ACL'22) catches it. Their suffix-array formulation is
    sequential; the distributed equivalent indexes every ``span``-token
    window by position and counts cross-document frequency:

    1. explode every token position's ``span``-gram (xxhash64 key — the
       index shuffles 8-byte ints, not multi-word strings; only COUNTS
       survive to the output, so the oracle can group raw gram strings and
       get identical numbers, same argument as ngram_jaccard_pairs) —
       docs shorter than ``span`` have zero windows;
    2. document frequency per gram = count of DISTINCT docs (intra-doc
       repeats don't count — ``repetition_ratio`` owns those); grams with
       df ≥ ``min_df`` are *duplicated spans*;
    3. per doc: duplicated-window count, and exact UNION length of the
       duplicated intervals [pos, pos+span−1] — sorted by start, each
       start contributes min(span, next_start − start), the last
       contributes span (one lead() window, SQL-replayable);
    4. left-join back so every document reports (zero coverage when
       nothing duplicates).

    Scale shape: explode → groupBy(gram) → join back on gram → one window
    + groupBy per doc. Shuffles only on gram hash and doc id; posting
    lists of ubiquitous spans are naturally capped because a span-gram is
    ``span`` tokens long (n-gram df decays fast in n; for the stop-gram
    pathology use min_df with an upper cap the way ngram_jaccard_pairs
    uses max_df).

    Returns (id_col, n_tokens, n_windows, n_dup_windows, dup_window_ratio,
    covered_tokens, coverage) — ratios rounded to 6.
    """
    toks = tokens(F.col(text))
    base = df.select(
        F.col(id_col).alias("id"), toks.alias("t"), F.size(toks).alias("n")
    )
    grams = base.filter(F.col("n") >= span).select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.col("n") - span + 1),
                lambda i: F.xxhash64(F.array_join(F.slice("t", i, span), " ")),
            )
        ).alias("pos0", "g"),
    ).select("id", (F.col("pos0") + 1).alias("pos"), "g")

    dfreq = grams.groupBy("g").agg(F.count_distinct("id").alias("df"))
    dup = grams.join(dfreq.filter(F.col("df") >= min_df).select("g"), on="g")

    w = Window.partitionBy("id").orderBy("pos")
    covered = (
        dup.withColumn("nxt", F.lead("pos").over(w))
        .withColumn(
            "contrib",
            F.when(F.col("nxt").isNull(), F.lit(span)).otherwise(
                F.least(F.lit(span), F.col("nxt") - F.col("pos"))
            ),
        )
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_dup_windows"),
            F.sum("contrib").alias("covered_tokens"),
        )
    )
    n_windows = F.greatest(F.col("n") - span + 1, F.lit(0))
    return (
        base.select("id", F.col("n").alias("n_tokens"), n_windows.alias("n_windows"))
        .join(covered, on="id", how="left")
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            "n_windows",
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.when(
                F.col("n_windows") > 0,
                F.round(F.coalesce("n_dup_windows", F.lit(0)) / F.col("n_windows"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_window_ratio"),
            F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
            F.when(
                F.col("n_tokens") > 0,
                F.round(F.coalesce("covered_tokens", F.lit(0)) / F.col("n_tokens"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("coverage"),
        )
    )


# ------------------------------------------------- cluster resolution ----

# ``method="auto"`` switches from min-label to the star method at this
# many (symmetric) edges: below it, tiny near-dup components converge in
# 2-4 cheap min-label rounds; above it, the exposure to a long-diameter
# chain — whose cost is rounds × whole-edge-set shuffles — outweighs the
# star method's ~2× heavier per-round plan. Overridable per call.
AUTO_STAR_EDGES = 1 << 20

# Min-label loop: pair two propagation rounds per driver collect only
# while the previous round changed MORE labels than this. Far above
# anything a local bench sees (its rounds stay individually checked —
# the measured-faster shape there) and far below the first rounds of a
# production-scale graph, where changed counts are in the billions and
# halving the driver barriers is pure win: with changed ≫ threshold the
# next round cannot plausibly be the fixed point, so the pair's second
# (eagerly computed) round is never wasted work. Scheduling heuristic
# only — the zero-change termination rule is checked exactly in both
# modes.
PAIR_ROUNDS_MIN_CHANGED = 1 << 17


def near_dup_clusters(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 50,
    method: str = "auto",
    star_threshold: int = AUTO_STAR_EDGES,
    pair_threshold: int = PAIR_ROUNDS_MIN_CHANGED,
) -> DataFrame:
    """Resolve near-dup PAIRS into duplicate CLUSTERS — the capstone every
    pair-producing operator above feeds: connected components over the
    pair graph, cluster id = MIN reachable doc id. A curation pipeline
    then keeps exactly one document per cluster (the canonical min), which
    pairwise dropping (drop id_b per pair) cannot express for chains like
    a-b, b-c.

    Methods (result-identical; pinned equal by tests/test_llm.py):

    * ``"minlabel"`` — iterative min-label propagation: each round every
      node takes the min label over itself and its neighbors; converges
      in graph-diameter rounds (near-dup components are overwhelmingly
      tiny — diameter ≤ a few hops — so 3-4 rounds in practice). ONE
      Spark job per round (round-7 fix: labels localCheckpoint lazily
      and the changed-count aggregate is the materializing action), and
      ONE job per TWO rounds while the loop is far from convergence
      (r14 adaptive pairing, ``pair_threshold``): round k+1 is built on
      round k's checkpoint and a single collect of the unioned
      changed-count aggregates materializes both. Raises if the budget
      is exhausted (returning intermediate labels would silently split
      a cluster).
    * ``"star"`` — alternating large-star/small-star rounds
      (``star_clusters``, Kiveris et al. "Connected Components in
      MapReduce and Beyond"): O(log²n) rounds regardless of diameter.
    * ``"auto"`` (default) — min-label while the (checkpointed) edge set
      is below ``star_threshold``, the star method above it; and if
      min-label exhausts its round budget — a longer-than-expected
      duplicate chain — auto falls back to the star method on the
      already-checkpointed edges instead of raising. At 100 TB this is
      the setting you want: cheap rounds for the common tiny-component
      graph, diameter-independence the moment the graph stops being one.

    Returns (id_col, cluster_id) for EVERY input id; non-duplicated
    documents are singleton clusters of themselves.
    """
    if method == "star":
        return star_clusters(ids, pairs, id_col=id_col, max_iterations=max_iterations)
    if method not in ("minlabel", "auto"):
        raise ValueError(f"unknown method {method!r} (auto|minlabel|star)")
    edges = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    sym = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    # the edge set is re-joined every round — materialize it once.
    # (localCheckpoint, not persist: iterative algorithms MUST truncate
    # lineage each round or the plan re-analyzed at round N contains all
    # N-1 previous rounds — exponential planning, then stack overflow.
    # Lazy + the next action as materializer = one driver-synchronized
    # job instead of two, the same round-7 device the loop body uses.)
    sym = sym.localCheckpoint(eager=False)

    def _star_on_sym() -> DataFrame:
        # reuse the checkpointed edges: the pair-generator plan (often an
        # expensive LSH/shingle join) must not be recomputed for the
        # method switch.
        return star_clusters(
            ids,
            sym.select(F.col("a").alias("id_a"), F.col("b").alias("id_b")),
            id_col=id_col,
        )

    if method == "auto" and sym.count() >= star_threshold:
        return _star_on_sym()
    # only nodes with ≥1 edge take part in propagation — in a dedup
    # workload that's a tiny fraction of the corpus; everyone else is a
    # singleton and joins back at the end, never entering the loop.
    # Lazy checkpoint: round 1's materializing action computes (and
    # truncates) it together with sym — no separate init job.
    labels = sym.select("a").distinct().withColumn("label", F.col("a")).localCheckpoint(
        eager=False
    )
    def _propagate(lbl: DataFrame) -> DataFrame:
        """One min-label round: (a, label, __chg), lazily checkpointed."""
        nbr_min = (
            sym.join(
                lbl.select(F.col("a").alias("b"), F.col("label").alias("nlabel")),
                on="b",
            )
            .groupBy("a")
            .agg(F.min("nlabel").alias("nbr_label"))
        )
        return (
            lbl.join(nbr_min, on="a", how="left")
            .select(
                "a",
                F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
                (F.col("nbr_label") < F.col("label")).alias("__chg"),
            )
            .localCheckpoint(eager=False)
        )

    def _chg(tag: int, lbl: DataFrame) -> DataFrame:
        return lbl.agg(
            F.lit(tag).alias("k"),
            F.sum(F.when(F.col("__chg"), 1).otherwise(0)).alias("n"),
        )

    # ADAPTIVE round pairing (r14, VERDICT item 3, measured): when the
    # loop is provably far from convergence (the previous round changed
    # more than ``pair_threshold`` labels), round k+1 is built on round
    # k's lazy checkpoint and ONE collect of the unioned 1-row
    # changed-count aggregates materializes both — half the
    # driver-synchronized barriers. Near convergence (small changed
    # count) every round is checked individually, because a pair whose
    # FIRST round hits zero changes has eagerly computed a wasted
    # full-size round (labels never shrink — each round is a whole
    # label-set join), and the tail is exactly where that happens.
    # Unconditional pairing measured SLOWER locally for this reason
    # (loop-isolated probe, sf0.1, median of 5: 2.47 s/22 jobs
    # single-round vs 2.85 s/26 jobs always-paired). The termination
    # rule is unchanged either way — stop at the first round with zero
    # changes (counts[1] in paired mode); a zero-change round is an
    # exact fixed point, so the eagerly-built next round equals it and
    # is simply discarded. The round budget is respected exactly.
    converged = False
    rounds_left = max_iterations
    last_changed: int | None = None  # unknown before round 1 → single
    while rounds_left > 0:
        pair = (
            rounds_left >= 2
            and last_changed is not None
            and last_changed > pair_threshold
        )
        if not pair:
            n1 = _propagate(labels)
            changed = _chg(1, n1).collect()[0]["n"] or 0
            labels = n1.drop("__chg")
            rounds_left -= 1
            last_changed = changed
            if changed == 0:
                converged = True
                break
            continue
        n1 = _propagate(labels)
        n2 = _propagate(n1.drop("__chg"))
        counts = {r["k"]: (r["n"] or 0) for r in _chg(1, n1).union(_chg(2, n2)).collect()}
        rounds_left -= 2
        if counts[1] == 0:
            labels = n1.drop("__chg")
            converged = True
            break
        labels = n2.drop("__chg")
        last_changed = counts[2]
        if counts[2] == 0:
            converged = True
            break
    if not converged:
        # exhausting the budget with changes still flowing means some
        # component's diameter exceeds max_iterations — returning the
        # intermediate labels would silently split one duplicate cluster
        # into several. Auto switches to the diameter-independent method;
        # explicit minlabel fails loudly.
        if method == "auto":
            return _star_on_sym()
        raise RuntimeError(
            f"near_dup_clusters did not converge within {max_iterations} "
            "rounds; a component's diameter exceeds the budget — raise "
            'max_iterations or pass method="star" (diameter-independent)'
        )
    resolved = labels.select(F.col("a").alias(id_col), F.col("label").alias("__cc"))
    return (
        ids.select(id_col)
        .distinct()
        .join(resolved, on=id_col, how="left")
        .select(id_col, F.coalesce("__cc", F.col(id_col)).alias("cluster_id"))
    )


def star_clusters(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 30,
) -> DataFrame:
    """Connected components via alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014) — the diameter-independent rung above min-label
    propagation. Min-label needs diameter-many rounds, so a duplicate
    CHAIN longer than the budget (mirror cascades, boilerplate families
    at 100 TB) kills it; the star rules contract every component to a
    star rooted at its minimum node in O(log²n) rounds regardless of
    diameter.

    Per round, on a directed big→small edge set:

    * large-star: for each node u, attach every LARGER neighbor to
      min(Γ(u) ∪ {u}) — one symmetric groupBy-min + one equi-join;
    * small-star: attach every smaller neighbor (and u) to the minimum —
      one groupBy-min + one equi-join.

    Fixed point (edge set unchanged by a full round) means every edge
    points directly at its component minimum. Convergence is detected
    from tagged 1-row (count, hash-sum) aggregates, TWO rounds per
    driver collect (r14) — no data is collected to the driver; each
    round localCheckpoints to truncate lineage like the min-label loop. Returns (id_col, cluster_id) for
    every input id, singletons labeling themselves — the exact contract
    of ``near_dup_clusters``, so the two are drop-in interchangeable
    (pinned equal by tests/test_llm.py).
    """
    e = pairs.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    ).filter(F.col("u") != F.col("v"))
    # canonical directed big→small edges. TWO consumers depend on this
    # strict u > v invariant (ADVICE r13): the small-star rule, and the
    # large-star probe in _round, which uses `swapped` directly as the
    # strictly-bigger-neighbor view instead of re-filtering sym — a
    # u <= v or self-loop row here would silently corrupt clusters
    # (the star certificate at the end catches it loudly). Lazy
    # checkpoint — the _sig aggregate right below is the materializing
    # action (one job, not two).
    edges = (
        e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def _sig_frame(tag: int, df: DataFrame) -> DataFrame:
        # (count, xor-of-hashes): xor can't overflow under ANSI mode and
        # identifies a SET exactly up to 64-bit collisions — which the
        # star certificate below would catch anyway. Tagged 1-row frame
        # so several rounds' signatures collect in ONE driver action.
        return df.agg(
            F.lit(tag).alias("k"),
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("h"),
        )

    def _round(e: DataFrame) -> DataFrame:
        """One large-star + small-star round on canonical big→small
        edges; lazily checkpointed (the signature collect materializes)."""
        # ---- large-star over the symmetric neighborhood view
        swapped = e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        sym = e.union(swapped)
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least("u", "mn").alias("m"))
        # r13 opt: sym's strictly-bigger-neighbor rows ARE the swapped
        # copies (edges is canonically big→small, u > v), so the
        # large-star probe side skips the 2|E|-row union+filter scan
        large = (
            swapped
            .join(mins, on="u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # ---- small-star on the (strictly big→small) large-star output
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        return (
            large.join(mins2, on="u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins2.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )

    # TWO rounds per driver round-trip (r14, VERDICT item 3): round k+1
    # is built on round k's lazy checkpoint, and a single collect of the
    # unioned tagged signature aggregates materializes both (the first
    # iteration folds the initial edge set's signature into the same
    # action, so the old separate init job disappears too). The
    # termination rule is untouched — stop at the first round whose
    # signature equals the PREVIOUS round's (consecutive comparison, no
    # distance-2 fixed-point argument needed); when round k is already
    # the fixed point, round k+1 was computed inside the same job and
    # equals it exactly (large/small-star are identities on a star
    # forest), so discarding it changes nothing. Round budget exact.
    prev: tuple | None = None
    converged = False
    rounds_left = max_iterations
    while rounds_left > 0:
        pair = rounds_left >= 2
        e1 = _round(edges)
        e2 = _round(e1) if pair else None
        frames = [_sig_frame(1, e1)] + ([_sig_frame(2, e2)] if pair else [])
        if prev is None:
            frames.insert(0, _sig_frame(0, edges))
        acc = frames[0]
        for fr in frames[1:]:
            acc = acc.union(fr)
        rows = {r["k"]: (r["n"], r["h"]) for r in acc.collect()}
        if prev is None:
            prev = rows[0]
        rounds_left -= 2 if pair else 1
        if rows[1] == prev:
            edges = e1
            converged = True
            break
        prev = rows[1]
        if pair:
            edges = e2
            if rows[2] == prev:
                converged = True
                break
            prev = rows[2]
        else:
            edges = e1
    if not converged:
        raise RuntimeError(
            f"star_clusters did not converge within {max_iterations} rounds "
            "— at O(log²n) rounds this means a malformed edge set, not a "
            "long chain; inspect the pair generator"
        )
    # star certificate: in a star forest no edge target is itself a source
    # (roots have no out-edges). One cheap self-join turns a wrong early
    # stop — however unlikely — into a loud error instead of split clusters.
    non_star = (
        edges.join(edges.select(F.col("u").alias("v")).distinct(), on="v")
        .limit(1)
        .count()
    )
    if non_star:
        raise RuntimeError("star_clusters: converged state is not a star forest")
    labels = edges.select(F.col("u").alias(id_col), F.col("v").alias("__cc"))
    return (
        ids.select(id_col)
        .distinct()
        .join(labels, on=id_col, how="left")
        .select(id_col, F.coalesce("__cc", F.col(id_col)).alias("cluster_id"))
    )


def pair_set_eval(approx: DataFrame, exact: DataFrame) -> DataFrame:
    """Candidate-quality scorecard for a near-dup pipeline: precision /
    recall / F1 of an approximate pair set (LSH bands, SimHash blocks,
    prefix candidates…) against the exact pair set — the dedup twin of
    `similarity.recall_at_k`, run before trusting an (hashes, bands,
    threshold) configuration at scale.

    Run this BEFORE wiring candidates into a drop step: candidates are
    not duplicates, and the precision column here is exactly the false-
    drop rate an unverified pipeline would eat (the ×64 soak measured
    93 % of a low-entropy corpus deleted on raw candidates vs 38 % after
    estimate-≥-0.5 verification — SOAK.md).

    Inputs need (id_a, id_b) columns with the id_a < id_b convention both
    generators already emit. One row out: n_exact, n_approx, n_hit,
    precision, recall, f1 (rounded to 6; empty sides score 0.0).

    Shape: two count aggregates + one equi-join on the pair key — every
    shuffle carries (id, id) pairs only. Both inputs are read twice
    (count + hit join), so they persist here and ride out via
    adopt/settle — without the cache each side's (expensive) pair
    generator executes twice (measured 20 s → 10 s on the LSH-vs-exact
    scorecard at sf0.1).
    """
    a = approx.select("id_a", "id_b").persist()
    e = exact.select("id_a", "id_b").persist()
    # BOTH sides are pair-grain — they scale with the corpus, so neither
    # may ever be planned as a broadcast build (measured: at ×256 the
    # exact side's compressed stats sat under the 64m auto-broadcast
    # threshold while its deserialized relation blew a shared 8g heap).
    # shuffle_hash keeps the join co-partitioned on the pair key with no
    # driver-side build and no sort.
    hit = a.join(e.hint("shuffle_hash"), on=["id_a", "id_b"]).agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    na = a.agg(F.count(F.lit(1)).alias("n_approx"))
    ne = e.agg(F.count(F.lit(1)).alias("n_exact"))
    out = ne.crossJoin(na).crossJoin(hit)
    prec = F.when(F.col("n_approx") > 0, F.col("n_hit") / F.col("n_approx")).otherwise(
        F.lit(0.0)
    )
    rec = F.when(F.col("n_exact") > 0, F.col("n_hit") / F.col("n_exact")).otherwise(
        F.lit(0.0)
    )
    return adopt(
        out.select(
            F.col("n_exact").cast("long").alias("n_exact"),
            F.col("n_approx").cast("long").alias("n_approx"),
            F.col("n_hit").cast("long").alias("n_hit"),
            F.round(prec, 6).alias("precision"),
            F.round(rec, 6).alias("recall"),
            F.round(
                F.when(
                    prec + rec > 0, F.lit(2.0) * prec * rec / (prec + rec)
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("f1"),
        ),
        a,
        e,
    )
