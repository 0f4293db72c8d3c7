"""``curation``: the composed LLM-data curation pipeline as a batch job,
run cold in a fresh session, as each invocation of the job is.

WARC → `read_warc` + `html_to_text` → `gopher_quality` (strict gate) →
`exact_dedup` → MinHash/LSH near-dup drop → BM25 `bm25_topk` retrieval
gate (top-20 per eval item ∩ shared 5-grams) → `decontaminate` →
`hard_negatives` export → `stratified_mix` → `write_training_shards` into
the default `PosixStore` lake.

The corpus is fixed (Zipf fixture from `llm.synthtext.zipf_documents`,
`BASE_DOCS` base documents in three duplication tiers, `SCALE` copies);
the seed decides how documents are laid out across WARC files and in
which order, and salts the shard assignment. No curation output depends
on layout or shard salt, so every phase's row count is pinned.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from harness import Clock, Outcome, check, median, tail_or_max

BASE_DOCS = 500
SCALE = 4
N_FILES = 8
N_SHARDS = 8
# rows out of each phase for (BASE_DOCS, SCALE); the pass fails if any
# phase disagrees
PINNED = {
    (500, 4): {
        "ingested": 1979, "gated": 1764, "exact": 1321, "deduped": 1281, "rt_gated": 1263,
        "clean": 1262, "hard_negatives": 220, "mixed": 932, "shards": 8, "shard_rows": 932,
    },
}


@dataclass
class CurationState:
    spark: object
    base: str
    seed: int
    evalset: object
    passes: int = 0
    pass_s: list[float] = field(default_factory=list)
    dedup_s: list[float] = field(default_factory=list)
    counts: dict = field(default_factory=dict)


def _alpha26(i: int) -> str:
    s, i = "", i + 1
    while i:
        s += chr(ord("a") + i % 26)
        i //= 26
    return s


def setup(spark, base, seed: int) -> CurationState:
    """Synthesise the corpus and write it as WARC files, laid out by seed,
    into the fresh directory ``base``."""
    import os

    from pyspark.sql import functions as F

    from udata_datalake_service_spark.llm.synthtext import zipf_documents

    (base / "warc").mkdir(parents=True)
    zipf_documents(spark, BASE_DOCS, seed="perfbench-zipf", num_partitions=4).write.parquet(
        str(base / "base_docs")
    )
    docs = spark.read.parquet(str(base / "base_docs"))
    # copy i%3==0 keeps the text (exact-dup families), i%3==1 salts long
    # words (near-dup families), i%3==2 salts most words (distinct docs)
    parts = []
    for i in range(SCALE):
        pattern = r"([A-Za-z0-9]{6,})" if i % 3 == 1 else r"([A-Za-z0-9]{3,})"
        body = F.col("text") if i % 3 == 0 else F.regexp_replace("text", pattern, f"$1s{_alpha26(i)}")
        parts.append(
            docs.select((F.col("doc_id") + F.lit(i * BASE_DOCS)).alias("doc_id"), body.alias("text"), "lang", "source")
        )
    big = parts[0]
    for p in parts[1:]:
        big = big.unionByName(p)
    warc_dir = str(base / "warc")
    layout = F.md5(F.concat_ws("|", F.lit(f"layout-{seed}"), F.col("doc_id").cast("string")))

    def write_part(rows):
        from pyspark import TaskContext

        from udata_datalake_service_spark.sources.warc import write_warc

        recs = [({"WARC-Type": "warcinfo", "Content-Type": "application/warc-fields"}, b"software: perfbench\r\n")]
        for r in rows:
            i = r["doc_id"]
            status = 404 if i % 97 == 0 else 200
            html = (
                f"<html><body><h1>Document</h1><p>{r['text']}</p></body></html>"
                if status == 200
                else "<html><body><p>gone</p></body></html>"
            )
            recs.append(
                (
                    {
                        "WARC-Type": "response",
                        "WARC-Record-ID": f"<urn:doc:{i}>",
                        "WARC-Target-URI": f"https://crawl.test/{r['lang']}/{r['source']}/doc-{i}",
                        "WARC-Date": "2026-01-01T00:00:00Z",
                        "Content-Type": "application/http; msgtype=response",
                    },
                    f"HTTP/1.1 {status} X\r\nContent-Type: text/html\r\n\r\n".encode() + html.encode(),
                )
            )
        if len(recs) == 1:
            return
        pid = TaskContext.get().partitionId()
        tmp = os.path.join(warc_dir, f".crawl-{pid:02d}.warc.gz.tmp")
        with open(tmp, "wb") as f:
            f.write(write_warc(recs, gzip_members=True))
        os.replace(tmp, os.path.join(warc_dir, f"crawl-{pid:02d}.warc.gz"))

    (
        big.withColumn("__layout", layout)
        .repartition(N_FILES, F.col("__layout"))
        .sortWithinPartitions("__layout")
        .drop("__layout")
        .foreachPartition(write_part)
    )
    evalset = spark.read.parquet(str(base / "base_docs")).filter(F.col("doc_id") % 47 == 0).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    return CurationState(spark=spark, base=str(base), seed=seed, evalset=evalset)


def wrap_targets(st: CurationState) -> list:
    return []


def run_pass(st: CurationState, tr) -> dict:
    """One pipeline pass into a fresh output directory; returns rows out
    of every phase."""
    from pyspark.sql import functions as F

    from udata_datalake_service_spark.llm.contamination import contamination_report, decontaminate
    from udata_datalake_service_spark.llm.dedup import (
        exact_dedup,
        lsh_candidate_pairs,
        minhash_jaccard_estimate,
        minhash_signatures,
    )
    from udata_datalake_service_spark.llm.gopher import gopher_quality
    from udata_datalake_service_spark.llm.html import html_to_text
    from udata_datalake_service_spark.llm.mixing import stratified_mix
    from udata_datalake_service_spark.llm.retrieval import bm25_topk, hard_negatives
    from udata_datalake_service_spark.sinks.lake import Lake
    from udata_datalake_service_spark.sources.warc import read_warc

    spark = st.spark
    out = f"{st.base}/pass-{st.passes}"
    st.passes += 1
    counts: dict[str, int] = {}

    def save(df, name: str) -> int:
        df.write.parquet(f"{out}/{name}")
        counts[name] = spark.read.parquet(f"{out}/{name}").count()
        return counts[name]

    def load(name: str):
        return spark.read.parquet(f"{out}/{name}")

    with tr.span("sources.warc.read_warc"):
        recs = read_warc(spark, f"{st.base}/warc").filter(
            (F.col("warc_type") == "response") & (F.col("http_status") == 200)
        )
        save(
            recs.select(
                F.regexp_extract("target_uri", r"doc-(\d+)", 1).cast("long").alias("doc_id"),
                F.regexp_extract("target_uri", r"crawl\.test/([^/]+)/", 1).alias("lang"),
                html_to_text(F.col("payload").cast("string")).alias("text"),
            ),
            "ingested",
        )
    with tr.span("llm.gopher.gopher_quality"):
        g = gopher_quality(load("ingested"), text="text", id_col="doc_id")
        kept = g.filter(F.col("gopher_pass")).select("doc_id")
        save(load("ingested").join(kept, "doc_id", "left_semi"), "gated")
    t_dedup = time.perf_counter()
    with tr.span("llm.dedup.exact_dedup"):
        save(exact_dedup(load("gated"), text="text", id_col="doc_id"), "exact")
    with tr.span("llm.dedup.lsh"):
        ex = load("exact")
        sigs = minhash_signatures(ex, num_hashes=8, k=2).persist()
        try:
            pairs = lsh_candidate_pairs(sigs, num_bands=4, rows_per_band=2, max_bucket=256)
            dups = minhash_jaccard_estimate(sigs, pairs).filter(F.col("jaccard_est") >= 0.5)
            drops = dups.select(F.col("id_b").alias("doc_id")).distinct()
            save(ex.join(drops, "doc_id", "left_anti"), "deduped")
        finally:
            sigs.unpersist()
    st.dedup_s.append(time.perf_counter() - t_dedup)
    with tr.span("llm.retrieval.bm25_topk"):
        d = load("deduped")
        near = bm25_topk(d, st.evalset, k=20).select("doc_id").distinct()
        shared = contamination_report(
            d, st.evalset.withColumnRenamed("query_id", "doc_id"), text="text", id_col="doc_id", k=5
        ).select("doc_id")
        queue = near.join(shared, "doc_id")
        save(d.join(queue, "doc_id", "left_anti"), "rt_gated")
    with tr.span("llm.contamination.decontaminate"):
        bench = st.evalset.withColumnRenamed("query_id", "doc_id")
        save(decontaminate(load("rt_gated"), bench, text="text", id_col="doc_id", k=5), "clean")
    with tr.span("llm.retrieval.hard_negatives"):
        save(hard_negatives(load("clean"), st.evalset, k=20, shingle_k=3, max_jaccard=0.5), "hard_negatives")
    with tr.span("llm.mixing.stratified_mix"):
        rates = {"de": 1.0, "en": 0.5, "es": 1.0, "fr": 0.5}
        save(stratified_mix(load("clean"), "lang", rates, key_cols=["doc_id"], seed="mix0"), "mixed")
    with tr.span("sinks.lake.write_training_shards"):
        lake = Lake(spark, f"{out}/lake")
        manifest = lake.write_training_shards(
            load("mixed").withColumn("row_key", F.concat_ws("#", "doc_id", "copy_idx")),
            "corpus_shards",
            N_SHARDS,
            ["row_key"],
            seed=f"shards-{st.seed}",
        ).collect()
    counts["shards"] = len(manifest)
    counts["shard_rows"] = sum(r["n_rows"] for r in manifest)
    return counts


def check_counts(counts: dict) -> None:
    want = PINNED[(BASE_DOCS, SCALE)]
    check(counts == want, f"phase counts {counts} != pinned {want}")


def warm_up(st: CurationState, tr, outcome: Outcome) -> None:
    """None: the pipeline is a batch job started per invocation, so the
    pass its users wait for is the first one in a fresh session."""


def measure(st: CurationState, seconds: float, tr, outcome: Outcome) -> dict:
    clock = Clock(seconds)
    while clock.running():
        t0 = time.perf_counter()
        counts = run_pass(st, tr)
        st.pass_s.append(time.perf_counter() - t0)
        st.counts = counts
        try:
            check_counts(counts)
            outcome.record(True)
        except Exception as e:  # noqa: BLE001 — a wrong count fails the pass
            outcome.record(False, repr(e))
    docs = BASE_DOCS * SCALE
    pass_tail = tail_or_max(st.pass_s)
    return {
        "op_p50_ms": median(st.pass_s) * 1000.0,
        "items_per_s": docs * len(st.pass_s) / sum(st.pass_s),
        "stage_p50_ms": median(st.dedup_s) * 1000.0,
        "detail": {"passes": len(st.pass_s), "pass_tail": pass_tail, "counts": st.counts},
        "n_ops": len(st.pass_s),
        "timed_s": sum(st.pass_s),
    }
