"""Benchmark harness — the driver's per-round feedback loop.

Runs every ``queries()`` entry at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Measurement discipline (round-7 fix — the r6 artifact was recorded at
loadavg 6.7→14.1 in a rotation-shuffled order and produced a dozen
phantom regressions that all turned out to be JIT-warm-up/order noise):

* **Fixed canonical order.** Queries execute in sorted-name order,
  independent of the attestation rotation that reorders the registry.
  Round-over-round diffs therefore compare like with like.
* **Warm-up pass + median-of-3.** One untimed suite-wide warm-up pass
  (JIT, codegen caches, parquet footers, Python workers), then
  ``$SPARK_GRAFT_BENCH_REPS`` (default 3) timed repetitions per query;
  the headline per-query number is the median, with min/max recorded in
  ``queries_detail`` so spread is visible in the artifact itself.
* **Loadavg gate.** If 1-min loadavg exceeds ``$SPARK_GRAFT_BENCH_LOAD``
  (default 0.5) at start, wait up to 180 s for the machine to go idle;
  if it never does, proceed but stamp ``"noisy": true`` — IN THE SUMMARY
  LINE, next to ``loadavg_start`` — so the artifact self-declares it
  cannot support regression claims. (VERDICT r11: the old 2.0 default
  passed a loadavg-1.84 machine as clean and its headline ran 28 %
  above the same-code idle run; the flag now trips on any start load a
  regression comparison can't survive.)

Each execution forces a full collect-free materialization
(``df.write.format("noop")``): every row is produced and shipped through
the plan, but driver-side materialization cost (irrelevant at cluster
scale) is excluded. Cache is cleared between executions so repetitions
measure the query, not residue.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

import pandas as pd  # module-level: pandas_udf type hints resolve here

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _wait_for_idle(limit: float, timeout_sec: float = 180.0) -> tuple[float, bool]:
    """Wait until 1-min loadavg <= limit or timeout; return (load, noisy)."""
    deadline = time.time() + timeout_sec
    load = os.getloadavg()[0]
    while load > limit and time.time() < deadline:
        print(
            f"bench: loadavg {load:.2f} > {limit:.1f}, waiting for idle...",
            file=sys.stderr,
        )
        time.sleep(10)
        load = os.getloadavg()[0]
    return load, load > limit


def timed_execution(spark, query, sf_dir: str, name: str, job_group: str | None = None) -> float:
    """Materialize one query through the noop sink; return its wall seconds.

    With ``job_group``, the execution runs under a unique job group so the
    status tracker can attribute every Spark job this query ran
    (deterministic counters — VERDICT r13 item 2: the wall-clock noise
    floor is ±16-29% on the cluster/retrieval family, so sub-20% claims
    need a drift-free signal). The group and its description are cleared
    even when the query raises, so no later job inherits them.
    """
    sc = spark.sparkContext
    if job_group is not None:
        sc.setJobGroup(job_group, name)
    try:
        t0 = time.time()
        query(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.time() - t0
    finally:
        if job_group is not None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    # Idle gate scales with core count (ADVICE r12 low): a flat 0.5 is
    # near-unsatisfiable on busy many-core hosts — every run would wait
    # the full timeout and stamp noisy. 0.02·nproc ≈ 0.64 on the 32-core
    # reference box (close to the old 0.5) yet tracks smaller/bigger
    # hosts; the env var still overrides for dedicated machines.
    default_load = max(0.5, 0.02 * (os.cpu_count() or 1))
    load_limit = float(os.environ.get("SPARK_GRAFT_BENCH_LOAD", default_load))

    load_start, noisy = _wait_for_idle(load_limit)

    import __spark_entry__ as entry_mod
    from udata_datalake_service_spark.session import get_spark

    spark = get_spark(master=f"local[{cpus}]")

    # warm the JVM + parquet footers once so per-query numbers measure the
    # query, not session startup.
    t_warm = time.time()
    from udata_datalake_service_spark.session import load_tables

    tables = load_tables(spark, sf_dir)
    for df in tables.values():
        df.limit(1).write.format("noop").mode("overwrite").save()
    # spin up the Python UDF workers once (lazy by default): otherwise the
    # first pandas-UDF query is charged ~3 s of worker startup that every
    # later UDF stage reuses (spark.python.worker.reuse).
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def _noop_udf(s: pd.Series) -> pd.Series:
        return s

    spark.range(1000).repartition(int(cpus)).select(
        _noop_udf("id")
    ).write.format("noop").mode("overwrite").save()

    qs = entry_mod.queries()
    # FIXED canonical execution order: sorted by name, NOT registry
    # (attestation-rotation) order, so round-over-round diffs are
    # order-stable.
    names = sorted(qs)

    def run_once(name: str, job_group: str | None = None) -> float:
        dt = timed_execution(spark, qs[name], sf_dir, name, job_group)
        # settling wrappers release their own adopted caches (caching.py),
        # but localCheckpoint blocks and any un-settled persist would
        # still linger; clearing between executions keeps sequential
        # queries/reps from stealing each other's execution memory and
        # makes per-execution numbers isolation-honest.
        spark.catalog.clearCache()
        return dt

    def job_stage_counts(job_group: str) -> tuple[int, int]:
        """Deterministic per-execution counters from the status tracker.

        n_jobs = Spark jobs submitted under the group; n_stages = distinct
        stages those jobs planned (incl. skipped/reused ones — stable
        across runs, unlike wall clock). Best-effort: retention limits
        (spark.ui.retainedJobs) could in principle evict entries, but we
        read immediately after the execution so in practice all are live.
        """
        tracker = spark.sparkContext.statusTracker()
        job_ids = tracker.getJobIdsForGroup(job_group)
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        return len(job_ids), len(stage_ids)

    # suite-wide warm-up pass (untimed headline; recorded for reference)
    warm_pass: dict[str, float] = {}
    failed: set[str] = set()
    for name in names:
        try:
            warm_pass[name] = round(run_once(name), 3)
        except Exception as e:  # noqa: BLE001
            print(f"bench error in {name} (warm-up): {e}", file=sys.stderr)
            failed.add(name)
    warm_sec = time.time() - t_warm

    timings: dict[str, float] = {}
    detail: dict[str, dict[str, float]] = {}
    for name in names:
        if name in failed:
            timings[name] = -1.0
            continue
        samples: list[float] = []
        counts: tuple[int, int] | None = None
        for rep in range(reps):
            try:
                # count jobs/stages on the LAST rep (cache state is
                # identical across reps — clearCache between executions —
                # so any rep's counters are the steady-state ones).
                group = f"bench:{name}:{rep}" if rep == reps - 1 else None
                samples.append(run_once(name, job_group=group))
                if group is not None:
                    counts = job_stage_counts(group)
            except Exception as e:  # noqa: BLE001
                print(f"bench error in {name}: {e}", file=sys.stderr)
                break
        if len(samples) < reps:
            timings[name] = -1.0
            continue
        timings[name] = round(statistics.median(samples), 3)
        detail[name] = {
            "median": round(statistics.median(samples), 3),
            "min": round(min(samples), 3),
            "max": round(max(samples), 3),
        }
        if counts is not None:
            detail[name]["n_jobs"], detail[name]["n_stages"] = counts

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    sf = 0.1 if "sf0.1" in sf_dir else (0.01 if "sf0.01" in sf_dir else 0.001)
    load_end = os.getloadavg()[0]
    payload = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "warm_sec": round(warm_sec, 3),
        "n_queries": len(timings),
        "reps": reps,
        "order": "sorted-name (fixed canonical)",
        # 1-min loadavg at suite start/end: a high start (external
        # load) or big delta flags a noisy run, so round-over-round
        # regressions can be attributed without manual triage
        "loadavg_start": round(load_start, 2),
        "loadavg_end": round(load_end, 2),
        # true when the idle gate timed out — the artifact then cannot
        # support regression claims and says so itself
        "noisy": bool(noisy),
        "queries_detail": detail,
    }
    # the driver's artifact keeps only a ~4 KB tail of stdout, which
    # truncates the per-query map on a 113-query suite; persist the full
    # JSON locally so every round has a complete record.
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        n_round = 1 + max(
            [
                int(f[7:9])
                for f in os.listdir(here)
                if f.startswith("BENCH_r") and f.endswith(".json") and f[7:9].isdigit()
            ],
            default=0,
        )
        # never clobber an existing local artifact (VERDICT r13 item 9:
        # the driver's own run overwrote the builder's committed
        # round-close record) — suffix with the first free counter.
        local = os.path.join(here, f"BENCH_LOCAL_r{n_round:02d}.json")
        k = 2
        while os.path.exists(local):
            local = os.path.join(here, f"BENCH_LOCAL_r{n_round:02d}_{k}.json")
            k += 1
        with open(local, "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
    except OSError as e:
        print(f"bench: could not write local artifact: {e}", file=sys.stderr)
    spark.stop()
    line = summary_line(payload)
    print(line, flush=True)
    return 0


# The driver's artifact keeps only a 2,000-char stdout tail (measured on
# BENCH_r10.json: tail length exactly 2000, final line cut mid-JSON) and
# parses the LAST line. The r10 guard assumed a ~4 KB tail and shipped a
# 3,5xx-char line that passed its own 3,500-char check and still got
# truncated. So: the summary line carries NO full per-query map — only
# totals + the slowest-10 — and is hard-capped well under the measured
# window. The complete per-query record lives in BENCH_LOCAL_r{N}.json.
_LINE_BUDGET = 1800


def summary_line(payload: dict) -> str:
    """Build the final stdout line, guaranteed < _LINE_BUDGET chars.

    Degrades by shrinking the slowest-k list (10 → 5 → 0) if query names
    are pathologically long; the totals always fit.
    """
    timings = payload["queries"]
    for k in (10, 5, 0):
        slowest = dict(
            sorted(
                ((n, t) for n, t in timings.items() if t >= 0),
                key=lambda kv: -kv[1],
            )[:k]
        )
        compact = {
            "metric": payload["metric"],
            "value": payload["value"],
            "unit": "sec",
            # "queries" must stay a {name: sec} dict for the driver's
            # parser; truncated to the slowest-k so the line fits the
            # 2,000-char tail. Full map: BENCH_LOCAL_r{N}.json.
            "queries": {n: round(t, 2) for n, t in slowest.items()},
            "queries_truncated_to_slowest": k,
            "sf": payload["sf"],
            "n_queries": payload["n_queries"],
            "n_failed": sum(1 for t in timings.values() if t < 0),
            "reps": payload["reps"],
            # noisy + the start load it was judged on travel IN the
            # parsed line (VERDICT r11: r11's 182 s headline was 28 %
            # machine-state inflation and nothing in the line said so)
            "noisy": payload["noisy"],
            "loadavg_start": payload.get("loadavg_start"),
        }
        line = json.dumps(compact, separators=(",", ":"))
        if len(line) < _LINE_BUDGET:
            return line
    return line  # k=0 totals-only line; cannot realistically exceed budget


if __name__ == "__main__":
    raise SystemExit(main())
