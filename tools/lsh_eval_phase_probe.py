"""Phase-split attribution of dd_lsh_eval's 64→256 alpha = 1.07
(VERDICT r10 task 3 — the only super-linear octave in §SCALE256).

dd_lsh_eval composes five phases; this probe times each SEPARATELY at
×64 and ×256 of the sf0.1 documents table (same token-salted
output-linear fixture as SCALE64.md §SCALE256), with upstream results
persisted so a phase's time never includes recomputing its inputs:

  1. signatures  minhash_signatures(d, 8, 2)          scan-shaped
  2. candidates  lsh_candidate_pairs(sigs, 2, 4)      band self-join
  3. estimate    minhash_jaccard_estimate >= 0.35     candidate-grain
  4. exact       ngram_jaccard_pairs(d, 2, 0.35)      posting join
  5. scorecard   pair_set_eval tail (counts + shuffle_hash hit join)

Per phase: wall @×64, wall @×256, alpha = log4(t256/t64), and the
pair/row counts (n_cand, n_approx, n_exact, n_hit) so an output-driven
term (n_exact ~ Σ family²) is visible as data, not inference.

Needs SPARK_DRIVER_MEM=48g (enforced at startup).

Usage: python tools/lsh_eval_phase_probe.py [sf_dir]
Prints a markdown table; paste the provenance note into SCALE64.md.
"""

from __future__ import annotations

import math
import sys
import time

sys.path.insert(0, ".")

SCALES = (64, 256)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    import os
    import shutil

    from pyspark.sql import functions as F

    from udata_datalake_service_spark.session import get_spark, require_driver_heap

    spark = get_spark()
    require_driver_heap(spark, 48, "lsh_eval_phase_probe")
    root = "/tmp/spark_hydra_lsh_phases"

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    for s in SCALES:
        if os.path.exists(f"{root}/sf_{s}x/documents.parquet/_SUCCESS"):
            print(f"fixture sf_{s}x already present, reusing", flush=True)
            continue
        parts = []
        for i in range(s):
            salted = F.regexp_replace(F.col("text"), r"([A-Za-z0-9]+)", f"$1s{i}")
            parts.append(
                docs.select(
                    (F.col("doc_id") + F.lit(i * n_docs)).alias("doc_id"),
                    salted.alias("text"),
                    "lang",
                    "source",
                    F.length(salted).cast("long").alias("n_chars"),
                )
            )
        d = parts[0]
        for p in parts[1:]:
            d = d.unionByName(p)
        d.repartition(32).write.mode("overwrite").parquet(
            f"{root}/sf_{s}x/documents.parquet"
        )
        print(f"fixture sf_{s}x built ({s * n_docs} docs)", flush=True)

    def quiesce():
        # GC only — NO clearCache(): the whole point of this probe is
        # that each phase reads its upstreams from cache, so a phase's
        # wall time is ITS OWN cost (the first cut cleared the cache per
        # phase and measured cumulative recomputes instead)
        import gc

        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.5)

    from udata_datalake_service_spark.llm.dedup import (
        lsh_candidate_pairs,
        minhash_jaccard_estimate,
        minhash_signatures,
        ngram_jaccard_pairs,
    )

    # dd_lsh_eval's own configuration (entry_queries._MINHASH_* / _LSH_*)
    N_HASHES, K_SHINGLE, BANDS, ROWS = 8, 2, 2, 4
    THRESH = 0.35

    times: dict[str, dict[int, float]] = {}
    counts: dict[str, dict[int, int]] = {}

    for s in SCALES:
        d = spark.read.parquet(f"{root}/sf_{s}x/documents.parquet")
        print(f"=== scale {s}x ({s * n_docs} docs) ===", flush=True)

        def run(name, thunk):
            quiesce()
            t0 = time.monotonic()
            out = thunk()
            times.setdefault(name, {})[s] = round(time.monotonic() - t0, 2)
            print(f"  {name} @ {s}x: {times[name][s]} s", flush=True)
            return out

        # 1. signatures (persist: every later phase reads them)
        sigs = minhash_signatures(d, num_hashes=N_HASHES, k=K_SHINGLE).persist()
        run("1 signatures", sigs.count)

        # 2. candidates from the persisted signatures
        cand = lsh_candidate_pairs(sigs, num_bands=BANDS, rows_per_band=ROWS).persist()
        counts.setdefault("n_cand", {})[s] = run("2 lsh candidates", cand.count)

        # 3. estimate + threshold at candidate grain
        approx = (
            minhash_jaccard_estimate(sigs, cand)
            .filter(F.col("jaccard_est") >= THRESH)
            .select("id_a", "id_b")
            .persist()
        )
        counts.setdefault("n_approx", {})[s] = run("3 estimate>=0.35", approx.count)

        # 4. the exact posting-list join (reads the raw docs, not sigs)
        exact = ngram_jaccard_pairs(d, k=K_SHINGLE, threshold=THRESH).select(
            "id_a", "id_b"
        ).persist()
        counts.setdefault("n_exact", {})[s] = run("4 exact ngram pairs", exact.count)

        # 5. the scorecard tail on persisted pair sets (pair_set_eval's
        # shape: two counts + one shuffle_hash equi-join on the pair key)
        def scorecard():
            hit = approx.join(
                exact.hint("shuffle_hash"), on=["id_a", "id_b"]
            ).count()
            counts.setdefault("n_hit", {})[s] = hit
            return hit

        run("5 scorecard join", scorecard)

        for df in (sigs, cand, approx, exact):
            df.unpersist()
        spark.catalog.clearCache()  # between scales only

    print("\n| phase | t@64x s | t@256x s | alpha(64→256) |")
    print("|---|---|---|---|")
    for name, row in times.items():
        a = math.log(row[256] / row[64], 4) if row.get(64) and row.get(256) else None
        print(f"| {name} | {row.get(64)} | {row.get(256)} | "
              f"{round(a, 2) if a is not None else '-'} |")
    print("\n| count | @64x | @256x | ratio |")
    print("|---|---|---|---|")
    for name, row in counts.items():
        r = row[256] / row[64] if row.get(64) else float("nan")
        print(f"| {name} | {row.get(64)} | {row.get(256)} | {round(r, 2)} |")
    shutil.rmtree(root, ignore_errors=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
