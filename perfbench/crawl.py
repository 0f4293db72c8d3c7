"""``crawl``: the crawl daemon with its analysis worker inline, as one
closed crawler loop (no idle between batches).

Each cycle: select a batch of 40 (`HydraService.select_crawl_batch`) →
claim it and rewrite the catalog, in the same rewrite recording the
previous batch's checks and flagging the next batch's priority resources →
check it through the md5 transport → change detection, webhook events and
next-check ladder over the batch's checks history → append the new checks
rows → analyse the first tabular resource whose check reports a change
(or a fallback URL when none does), from a freshly written CSV / CSV.gz.
"""

from __future__ import annotations

import hashlib
import json
import random
import time
from collections import Counter
from dataclasses import dataclass, field

from fixtures import (
    CATALOG_ROWS,
    CHECKS_DDL,
    CSV_COLUMNS,
    DIALECTS,
    PRIORITY_PER_CYCLE,
    SMALL_ROWS,
    build_lake,
    is_live,
    md5_transport,
    tag,
    write_csv,
)
from harness import CORES, Clock, Outcome, check, median, tail_or_max

NEW_CHECK_BASE = 10_000_000  # ids of checks appended during the run
WARM_CYCLES = 2
# the planted "previous analysis" of a known URL types this column as int
DRIFTED_COLUMN = "montant"


@dataclass
class CrawlState:
    spark: object
    lake: object
    svc: object
    files: str
    seed: int
    rng: random.Random
    checks_rows: int
    catalog_rows: int
    events_rng: random.Random
    next_id: int = NEW_CHECK_BASE
    # resource ids selected or flagged so far, and the previous batch's
    # (resource_id, new check id) pairs still to record in the catalog
    seen: set[str] = field(default_factory=set)
    done: list[tuple[str, int]] = field(default_factory=list)
    cycle_s: list[float] = field(default_factory=list)
    analyse_s: list[float] = field(default_factory=list)
    checks_done: int = 0
    analyses: int = 0


def setup(spark, base, seed: int, rows: int | None = None) -> CrawlState:
    """Load the seeded lake into the fresh directory ``base``."""
    from udata_datalake_service_spark.service import HydraService
    from udata_datalake_service_spark.sinks.lake import Lake

    (base / "files").mkdir(parents=True)
    lake = Lake(spark, str(base / "lake"))
    build_lake(spark, lake, seed, rows)
    n_checks = lake.read_app_table("checks").count()
    return CrawlState(
        spark=spark,
        lake=lake,
        svc=HydraService(spark, lake),
        files=str(base / "files"),
        seed=seed,
        rng=random.Random(f"crawl-{seed}"),
        checks_rows=n_checks,
        catalog_rows=rows or CATALOG_ROWS,
        events_rng=random.Random(f"events-{seed}"),
    )


def is_tabular(url: str) -> bool:
    return url.endswith((".csv", ".csv.gz"))


def is_known(url: str) -> bool:
    """About 1 in 4 tabular URLs were analysed by an earlier crawl."""
    return int(hashlib.md5(url.encode()).hexdigest()[:4], 16) % 4 == 0


def _plant_previous_analysis(st: CrawlState, url: str, resource_id: str) -> list[dict]:
    """Register an earlier inspection of ``url`` whose DRIFTED_COLUMN was
    int; returns the drift the re-analysis must report."""
    cols = {
        c: {"python_type": "int" if c == DRIFTED_COLUMN else t} for c, t in CSV_COLUMNS.items()
    }
    name = hashlib.md5(url.encode()).hexdigest()
    st.lake.register(name, {"header": list(CSV_COLUMNS), "columns": cols}, resource_id, url)
    return [
        {"column": DRIFTED_COLUMN, "change": "retyped", "old_type": "int", "new_type": "float"}
    ]


def _new_checks(st: CrawlState, results) -> list[tuple]:
    """Checks rows for the fetch results, in CHECKS_DDL column order."""
    from datetime import datetime, timezone

    now = datetime(2024, 2, 1, tzinfo=timezone.utc)
    rows = []
    for r in sorted(results, key=lambda r: r["resource_id"]):
        headers = dict(r["headers"] or {})
        cl = headers.get("content-length")
        lm = headers.get("last-modified")
        rows.append(
            (
                st.next_id, r["resource_id"], r["url"], r["domain"], now, r["status"],
                headers, bool(r["timeout"]), float(r["response_time"] or 0.0), r["error"],
                None, int(cl) if cl else None,
                datetime(2024, 1, 15, tzinfo=timezone.utc) if lm else None,
                None, r["method"],
            )
        )
        st.next_id += 1
    return rows


def next_priority(st: CrawlState) -> list[str]:
    """`PRIORITY_PER_CYCLE` live resources, not seen before in the run,
    that udata flags priority before the next batch."""
    out: list[str] = []
    while len(out) < PRIORITY_PER_CYCLE:
        k = st.events_rng.randrange(1, st.catalog_rows + 1)
        rid = f"r{tag(st.seed)}-{k}"
        if is_live(k) and rid not in st.seen:
            st.seen.add(rid)
            out.append(rid)
    return out


def catalog_events(st: CrawlState, flags: list[str]):
    """The catalog as the next claim finds it: the previous batch's checks
    recorded (last_check is the new check; priority and the claim's status
    cleared) and ``flags`` flagged priority."""
    from pyspark.sql import functions as F

    cat = st.svc.catalog
    done = st.spark.createDataFrame(st.done, "resource_id string, __new_check long")
    checked = F.col("__new_check").isNotNull()
    return (
        cat.join(F.broadcast(done), "resource_id", "left")
        .withColumn("last_check", F.coalesce("__new_check", "last_check"))
        .withColumn("status", F.when(checked, F.lit(None)).otherwise(F.col("status")))
        .withColumn(
            "priority",
            F.when(F.col("resource_id").isin(flags), F.lit(True))
            .when(checked, F.lit(False))
            .otherwise(F.col("priority")),
        )
        .select(*cat.columns)
    )


def run_cycle(st: CrawlState, i: int, tr, outcome: Outcome) -> None:
    from pyspark.sql import functions as F

    from udata_datalake_service_spark.plans.change_detection import (
        check_events,
        with_change_detection,
    )
    from udata_datalake_service_spark.plans.fetch import check_batch
    from udata_datalake_service_spark.plans.next_check import with_next_check
    from udata_datalake_service_spark.plans.select_batch import claim_batch

    spark, lake, svc = st.spark, st.lake, st.svc
    t0 = time.perf_counter()
    with tr.span("service.select_crawl_batch"):
        selected = svc.select_crawl_batch(seed=f"{tag(st.seed)}-{i}")
        rows = selected.collect()
        batch = spark.createDataFrame(rows, selected.schema)
    st.seen.update(r["resource_id"] for r in rows)
    flags = next_priority(st)
    with tr.span("plans.select_batch.claim_batch"):
        lake.rewrite_app_table(claim_batch(catalog_events(st, flags), batch), "catalog")
    with tr.span("plans.fetch.check_batch"):
        results = check_batch(batch, transport=md5_transport(), fan_out=CORES).collect()
    first_new = st.next_id
    with tr.span("plans.change_detection.with_change_detection"):
        new = spark.createDataFrame(_new_checks(st, results), CHECKS_DDL)
        # the batch's own history, as the reference's per-resource probe reads it
        ids = [r["resource_id"] for r in rows]
        history = (
            lake.read_app_table("checks")
            .filter(F.col("resource_id").isin(ids))
            .drop("next_check_at")
        )
        final = with_next_check(
            check_events(with_change_detection(history.unionByName(new.drop("next_check_at"))))
        )
        detected = final.filter(F.col("id") >= first_new).collect()
    with tr.span("sinks.lake.append_app_table"):
        cols = [c.split()[0] for c in CHECKS_DDL.split(", ")]
        lake.append_app_table(
            spark.createDataFrame([tuple(r[c] for c in cols) for r in detected], CHECKS_DDL),
            "checks",
        )
    st.cycle_s.append(time.perf_counter() - t0)
    st.checks_done += len(rows)
    st.checks_rows += len(rows)
    st.done = [(r["resource_id"], r["id"]) for r in detected]
    n = svc.config.batch_size
    tiers = Counter(r["tier"] for r in rows)
    ok = len(rows) == len(results) == len(detected) == n and tiers == {
        "priority": PRIORITY_PER_CYCLE,
        "outdated": n - PRIORITY_PER_CYCLE,
    }
    outcome.record(
        ok,
        f"cycle {i}: {len(rows)} selected {dict(tiers)}, {len(results)} checked, "
        f"{len(detected)} detected",
    )

    changed = sorted(
        (r for r in detected if r["change_status"] == "HAS_CHANGED" and is_tabular(r["url"])),
        key=lambda r: r["resource_id"],
    )
    if changed:
        url, resource_id = changed[0]["url"], changed[0]["resource_id"]
    else:  # every cycle analyses one file, so each window times the same work
        url = f"https://fallback.{tag(st.seed)}.example.org/c{i}.csv"
        resource_id = f"fallback-{i}"
    analyse(st, i, tr, outcome, url, resource_id)


def analyse(st: CrawlState, i: int, tr, outcome: Outcome, url: str, resource_id: str) -> None:
    """The analysis worker on one changed resource: a freshly written file
    (the download), `cli.analyse_csv`, then the output checks."""
    from udata_datalake_service_spark import cli

    # sizes and dialects cycle in a fixed order, so every run times the same
    # mix; the seed still decides the URLs, the content and which resources
    # are known
    n_rows = SMALL_ROWS[st.analyses % len(SMALL_ROWS)]
    sep, enc = DIALECTS[st.analyses % len(DIALECTS)]
    st.analyses += 1
    ext = ".csv.gz" if url.endswith(".gz") else ".csv"
    path = write_csv(f"{st.files}/{i}-{resource_id}{ext}", n_rows, sep, enc, st.rng)
    expected_drift: list[dict] = []
    with tr.paused():
        if is_known(url):
            expected_drift = _plant_previous_analysis(st, url, resource_id)
        n_reg = st.lake.registry().count()
    drifts: list = []
    t1 = time.perf_counter()
    with tr.span("cli.analyse_csv"):
        name = cli.analyse_csv(
            st.spark, st.lake, path, url=url, resource_id=resource_id, on_drift=drifts.append
        )
    st.analyse_s.append(time.perf_counter() - t1)
    try:
        verify_analysis(st, tr, name, n_rows, n_reg, drifts, expected_drift)
        outcome.record(True)
    except Exception as e:  # noqa: BLE001 — a wrong answer is a failed operation
        outcome.record(False, f"analyse {path}: {e!r}")


def verify_analysis(st, tr, name, n_rows, n_reg, drifts, expected_drift) -> None:
    from pyspark.sql import functions as F

    with tr.paused():
        reg = st.lake.registry()
        check(reg.count() == n_reg + 1, "registry gains one row per analysis")
        latest = (
            reg.filter(F.col("parsing_table") == name)
            .orderBy(F.col("created_at").desc())
            .limit(1)
            .collect()[0]
        )
        n = st.lake.read_table(name).count()
    insp = json.loads(latest["csv_detective"])
    types = {c: v["python_type"] for c, v in insp["columns"].items()}
    check(n == n_rows and insp["total_lines"] == n_rows, f"rows {n} != {n_rows}")
    check(types == CSV_COLUMNS, f"types {types}")
    check(drifts == ([expected_drift] if expected_drift else []), f"drift {drifts}")


def warm_up(st: CrawlState, tr, outcome: Outcome) -> None:
    """`WARM_CYCLES` full cycles, each with an analysis, so JIT, Python
    workers and the inference path are warm before the clock starts (one
    is not enough: the cycle after it ran up to 46 % slower than the next).
    Their output checks count like any other operation."""
    for i in range(WARM_CYCLES):
        run_cycle(st, -1 - i, tr, outcome)
    verify_checks(st, tr, outcome)
    st.cycle_s.clear()
    st.analyse_s.clear()
    st.checks_done = 0


def verify_checks(st: CrawlState, tr, outcome: Outcome) -> None:
    """The checks table grew by exactly the batch sizes."""
    with tr.paused():
        n = st.lake.read_app_table("checks").count()
    outcome.record(n == st.checks_rows, f"checks rows {n} != {st.checks_rows}")


def measure(st: CrawlState, seconds: float, tr, outcome: Outcome) -> dict:
    clock = Clock(seconds)
    i = 1
    while clock.running():
        run_cycle(st, i, tr, outcome)
        i += 1
    verify_checks(st, tr, outcome)
    busy = sum(st.cycle_s) + sum(st.analyse_s)
    cyc_tail = tail_or_max(st.cycle_s)
    ana_tail = tail_or_max(st.analyse_s)
    return {
        "op_p50_ms": median(st.cycle_s) * 1000.0,
        "items_per_s": st.checks_done / busy,
        "stage_p50_ms": median(st.analyse_s) * 1000.0,
        "detail": {
            "cycle_s": st.cycle_s,
            "cycle_tail": cyc_tail,
            "analyse_s": st.analyse_s,
            "analyse_tail": ana_tail,
            "busy_s": busy,
        },
        "n_ops": len(st.cycle_s),
        "timed_s": busy,
    }


def wrap_targets(st: CrawlState) -> list[tuple[object, str, str]]:
    """Layer functions the program calls internally during a cycle."""
    from udata_datalake_service_spark.sources import inference

    return [
        (st.lake, "read_app_table", "sinks.lake.read_app_table"),
        (st.lake, "rewrite_app_table", "sinks.lake.rewrite_app_table"),
        (inference, "inspect_tabular", "sources.inference.inspect_tabular"),
        (st.lake, "write_table", "sinks.lake.write_table"),
        (st.lake, "register", "sinks.lake.register"),
        (st.lake, "registry", "sinks.lake.registry"),
    ]
