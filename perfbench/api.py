"""``api``: the serving plane as open-loop route traffic.

Independent HTTP users: requests fall due at a fixed rate whether or not
earlier ones have finished, and up to `THREADS` threads serve them. A
request's latency runs from its due time, so time spent waiting for a
free thread counts. The mix is 90 % reads over seven routes and 10 %
writes (upsert and soft delete, each of which rewrites the catalog), with
Zipf-skewed resource keys. Writes run one at a time, as the lake's
single-writer rule asks.

After the window, every read that no write overlaps is checked against a
DuckDB restatement of its route over the fixture's parquet, with the
writes that finished before it applied. Each write is checked by reading
it back at once.
"""

from __future__ import annotations

import bisect
import random
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from fixtures import CATALOG_ROWS, DAY, build_lake, tag
from harness import CORES, Outcome, median, tail_or_max

# Requests per second: under half of the 4-5.3/s that CORES closed-loop
# clients sustained over this mix on a 4-core box. At 2.5/s the read
# median spread twice as wide from run to run, as concurrent queries
# slowed each other more (README).
RATE = 2.0
THREADS = CORES
ZIPF_S = 1.1
# Route shares. A guess: the reference publishes no traffic. Point lookups
# dominate; dashboards (aggregate, status, stats) poll; writes are udata's
# resource events. Writes are 10 %: a 10 s window at RATE holds 20
# requests, and each write route needs one of them.
MIX = {
    "latest_check": 0.30,
    "resource_status": 0.25,
    "all_checks": 0.15,
    "checks_aggregate": 0.05,
    "crawler_status": 0.05,
    "worker_status": 0.05,
    "stats": 0.05,
    "upsert_resource": 0.05,
    "delete_resource": 0.05,
}
WRITES = ("upsert_resource", "delete_resource")
KEYED = ("latest_check", "resource_status", "all_checks") + WRITES
MAX_WRITES = 32  # write keys drawn at set-up; a run uses a few


@dataclass
class Request:
    route: str
    key: str | None
    due: float  # seconds after the window opens
    due_at: float = 0.0  # perf_counter stamps
    start: float = 0.0
    call_start: float = 0.0
    end: float = 0.0
    answer: object = None
    readback: object = None
    error: str | None = None


@dataclass
class ApiState:
    spark: object
    lake: object
    svc: object
    seed: int
    paths: dict
    write_rows: dict  # resource_id -> fixture catalog row, for the upserts
    write_keys: list
    catalog_schema: object
    zipf: tuple  # (cumulative weights, rank -> resource number)
    write_lock: threading.Lock = field(default_factory=threading.Lock)
    done: list = field(default_factory=list)  # every served Request, warm-up included
    window: list = field(default_factory=list)
    verified: int = 0  # reads checked against the oracle


def _zipf_table(seed: int, n: int) -> tuple[list[float], list[int]]:
    cum, total = [], 0.0
    for rank in range(1, n + 1):
        total += rank ** -ZIPF_S
        cum.append(total)
    ks = list(range(1, n + 1))
    random.Random(f"api-keys-{seed}").shuffle(ks)
    return cum, ks


def _zipf_key(st: ApiState, rng: random.Random) -> str:
    cum, ks = st.zipf
    rank = min(len(ks) - 1, bisect.bisect_left(cum, rng.random() * cum[-1]))
    return f"r{tag(st.seed)}-{ks[rank]}"


def _snapshot(lake, dest) -> dict[str, str]:
    """Copy the fixture's catalog and checks parquet for the oracle: the
    lake keeps only the current and the previous version of a table."""
    import shutil

    out = {}
    for name in ("catalog", "checks"):
        src = f"{lake.app_table_path(name)}/{lake.table_version(name, app=True)}"
        out[name] = str(dest / name)
        shutil.copytree(src, out[name])
    return out


def setup(spark, base, seed: int, rows: int | None = None) -> ApiState:
    """Load the seeded lake into the fresh directory ``base``, and draw the
    write keys with their fixture rows."""
    from pyspark.sql import functions as F

    from udata_datalake_service_spark.service import HydraService
    from udata_datalake_service_spark.sinks.lake import Lake

    lake = Lake(spark, str(base / "lake"))
    build_lake(spark, lake, seed, rows)
    st = ApiState(
        spark=spark,
        lake=lake,
        svc=HydraService(spark, lake),
        seed=seed,
        paths=_snapshot(lake, base / "oracle"),
        write_rows={},
        write_keys=[],
        catalog_schema=None,
        zipf=_zipf_table(seed, rows or CATALOG_ROWS),
    )
    rng = random.Random(f"api-writes-{seed}")
    while len(st.write_keys) < MAX_WRITES:
        key = _zipf_key(st, rng)
        if key not in st.write_keys:
            st.write_keys.append(key)
    cat = lake.read_app_table("catalog")
    st.catalog_schema = cat.schema
    st.write_rows = {
        r["resource_id"]: r.asDict()
        for r in cat.filter(F.col("resource_id").isin(st.write_keys)).collect()
    }
    return st


def schedule(st: ApiState, seconds: float) -> list[Request]:
    """RATE × seconds requests, evenly spaced. Route counts follow MIX by
    largest remainder. Each route's requests are spread evenly over the
    window, its first one offset by a golden-ratio phase, so routes
    interleave and no two heavy ones bunch up. Every seed offers the same
    arrival pattern; the seed draws the keys."""
    n = max(1, round(RATE * seconds))
    exact = {r: share * n for r, share in MIX.items()}
    counts = {r: int(x) for r, x in exact.items()}
    for r in sorted(exact, key=lambda r: counts[r] - exact[r])[: n - sum(counts.values())]:
        counts[r] += 1
    slots = []
    for i, (route, c) in enumerate(counts.items()):
        phase = (i * 0.6180339887) % 1.0
        slots += [((j + phase) / c, i, route) for j in range(c)]
    routes = [route for _, _, route in sorted(slots)]
    rng = random.Random(f"api-{st.seed}")
    return [
        Request(route, _next_key(st, route, rng), i / RATE) for i, route in enumerate(routes)
    ]


def _next_key(st: ApiState, route: str, rng: random.Random) -> str | None:
    if route in WRITES:
        return st.write_keys.pop(0)
    return _zipf_key(st, rng) if route in KEYED else None


# --------------------------------------------------------------- routes --
def _last(cols: list[str], name: str) -> int:
    return len(cols) - 1 - cols[::-1].index(name)


def read_route(svc, route: str, key: str | None):
    """Call one read route and collect its answer in a comparable form."""
    if route == "latest_check":
        df = svc.latest_check(resource_id=key)
        c = df.columns  # catalog's columns, then the check's
        idx = [c.index("resource_id"), c.index("url"), _last(c, "id"), _last(c, "status"),
               c.index("filesize")]
        return sorted(tuple(r[i] for i in idx) for r in df.collect())
    if route == "all_checks":
        return [r["id"] for r in svc.all_checks(resource_id=key).collect()]
    if route == "resource_status":
        return [tuple(r) for r in svc.resource_status(key).collect()]
    if route == "checks_aggregate":
        return [tuple(r) for r in svc.checks_aggregate("status", DAY).collect()]
    if route == "crawler_status":
        return [tuple(r) for r in svc.crawler_status().collect()]
    if route == "worker_status":
        return sorted(tuple(r) for r in svc.worker_status().collect())
    if route == "stats":
        return sorted((r["value"], r["count"], r["pct"]) for r in svc.stats().collect())
    raise ValueError(route)


def upserted(row: dict) -> dict:
    """What the upsert writes: a new URL, flagged priority."""
    return dict(row, url=row["url"] + "#v2", priority=True)


def serve(st: ApiState, req: Request, tr) -> None:
    req.start = time.perf_counter()
    try:
        if req.route in WRITES:
            with st.write_lock:
                req.call_start = time.perf_counter()
                with tr.span(f"service.{req.route}"):
                    if req.route == "upsert_resource":
                        new = upserted(st.write_rows[req.key])
                        names = st.catalog_schema.fieldNames()
                        st.svc.upsert_resource(
                            st.spark.createDataFrame(
                                [tuple(new[c] for c in names)], st.catalog_schema
                            )
                        )
                    else:
                        st.svc.delete_resource(req.key)
                req.end = time.perf_counter()
            with tr.paused():
                req.readback = [
                    (r["url"], r["priority"], r["deleted"])
                    for r in st.svc.get_resource(req.key).collect()
                ]
        else:
            req.call_start = req.start
            with tr.span(f"service.{req.route}"):
                req.answer = read_route(st.svc, req.route, req.key)
            req.end = time.perf_counter()
    except Exception as e:  # noqa: BLE001 — a raising route is a failed operation
        req.end = req.end or time.perf_counter()
        req.error = repr(e)
    st.done.append(req)


def _run(st: ApiState, reqs: list[Request], tr, open_loop: bool) -> float:
    """Serve ``reqs`` on THREADS threads; open loop: each is submitted at
    its due time. Returns the perf_counter stamp the window opened at."""
    t0 = time.perf_counter() + 0.05
    with ThreadPoolExecutor(THREADS) as ex:
        for req in reqs:
            req.due_at = t0 + req.due if open_loop else t0
            if open_loop:
                delay = req.due_at - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
            ex.submit(serve, st, req, tr)
    return t0


def warm_up(st: ApiState, tr, outcome: Outcome) -> None:
    """Every route once, all at once on the serving threads, so plans, JIT
    and the rewrite path are warm before the clock starts. The answers are
    checked with the window's."""
    rng = random.Random(f"api-warm-{st.seed}")
    _run(st, [Request(r, _next_key(st, r, rng), 0.0) for r in MIX], tr, open_loop=False)


def measure(st: ApiState, seconds: float, tr, outcome: Outcome) -> dict:
    st.window = schedule(st, seconds)
    t0 = _run(st, st.window, tr, open_loop=True)
    verify(st, outcome)
    w = st.window
    reads = [r.end - r.due_at for r in w if r.route not in WRITES]
    writes = [r.end - r.due_at for r in w if r.route in WRITES]
    late = [r.start - r.due_at for r in w]
    return {
        "op_p50_ms": median(reads) * 1000.0,
        "items_per_s": len(w) / (max(r.end for r in w) - t0),
        "stage_p50_ms": median(writes) * 1000.0,
        "late_ms": median(late) * 1000.0,
        "detail": {
            "requests": len(w),
            "reads": len(reads),
            "writes": len(writes),
            "read_tail": tail_or_max(reads),
            "write_max": max(writes, default=0.0),
            "late_max_ms": max(late) * 1000.0,
            "route_p50_ms": {
                route: median([r.end - r.due_at for r in w if r.route == route]) * 1000.0
                for route in MIX
            },
            "verified": st.verified,
        },
        "n_ops": len(w),
        "timed_s": sum(r.end - r.call_start for r in w),
    }


# --------------------------------------------------------------- oracle --
def verify(st: ApiState, outcome: Outcome) -> None:
    """Check every served request: writes by their read-back, reads that no
    write overlaps against the DuckDB restatement of their route."""
    import duckdb

    writes = sorted((r for r in st.done if r.route in WRITES), key=lambda r: r.call_start)
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        con.execute("SET threads = 1")
        con.execute(
            f"CREATE VIEW checks AS SELECT * FROM read_parquet('{st.paths['checks']}/**/*.parquet')"
        )
        for j in range(len(writes) + 1):
            _catalog_view(con, st, f"cat{j}", writes[:j])
        st.verified = 0
        for req in st.done:
            if req.error is not None:
                outcome.record(False, f"{req.route}({req.key}): {req.error}")
            elif req.route in WRITES:
                want = _readback_expected(st, req)
                outcome.record(req.readback == want, f"{req.route}({req.key}) read back {req.readback} != {want}")
            else:
                applied = [w for w in writes if w.end < req.call_start]
                if any(w.call_start <= req.end and w.end >= req.call_start for w in writes):
                    outcome.record(True)  # a write was in flight: no single state to check
                    continue
                want = oracle(con, f"cat{len(applied)}", req.route, req.key)
                ok = _same(req.route, req.answer, want)
                st.verified += 1
                outcome.record(ok, f"{req.route}({req.key}): {req.answer} != {want}")
    finally:
        con.close()


def _readback_expected(st: ApiState, req: Request) -> list:
    row = st.write_rows[req.key]
    if req.route == "upsert_resource":
        new = upserted(row)
        return [(new["url"], True, new["deleted"])]
    return [(row["url"], row["priority"], True)]


def _catalog_view(con, st: ApiState, name: str, writes: list[Request]) -> None:
    """The catalog after ``writes``, as a DuckDB view over the fixture."""
    ups = {w.key: upserted(st.write_rows[w.key])["url"] for w in writes if w.route == "upsert_resource"}
    dels = [w.key for w in writes if w.route == "delete_resource"]

    def in_list(keys) -> str:
        return "(" + ", ".join(f"'{k}'" for k in keys) + ")" if keys else "(NULL)"

    url = "url" if not ups else (
        "CASE resource_id " + " ".join(f"WHEN '{k}' THEN '{u}'" for k, u in ups.items()) + " ELSE url END"
    )
    con.execute(
        f"""CREATE VIEW {name} AS SELECT id, dataset_id, resource_id, {url} AS url,
        deleted OR coalesce(resource_id IN {in_list(dels)}, false) AS deleted, last_check,
        priority OR coalesce(resource_id IN {in_list(list(ups))}, false) AS priority,
        harvest_modified_at, status
        FROM read_parquet('{st.paths['catalog']}/**/*.parquet')"""
    )


def oracle(con, cat: str, route: str, key: str | None):
    """The route restated in DuckDB SQL over catalog view ``cat``."""
    if route == "latest_check":
        rows = con.execute(
            f"SELECT c.resource_id, c.url, k.id, k.status, k.filesize FROM {cat} c "
            "JOIN checks k ON c.last_check = k.id WHERE c.resource_id = ?", [key]
        ).fetchall()
        return sorted(rows)
    if route == "all_checks":
        return [r[0] for r in con.execute(
            f"SELECT k.id FROM checks k JOIN {cat} c ON k.url = c.url "
            "WHERE c.resource_id = ? ORDER BY k.created_at DESC", [key]
        ).fetchall()]
    if route == "resource_status":
        return con.execute(
            f"SELECT resource_id, status, last_check, priority, deleted FROM {cat} "
            "WHERE resource_id = ?", [key]
        ).fetchall()
    if route == "checks_aggregate":
        return con.execute(
            "SELECT status, count(*) AS n FROM checks "
            f"WHERE CAST(created_at AS DATE) = DATE '{DAY}' "
            "GROUP BY status ORDER BY n DESC, status ASC NULLS LAST LIMIT 20"
        ).fetchall()
    if route == "crawler_status":
        return con.execute(
            f"SELECT count(*), count(*) FILTER (c.last_check IS NULL), "
            "count(*) FILTER (c.last_check IS NOT NULL), "
            "count(*) FILTER (k.next_check_at IS NOT NULL AND k.next_check_at <= now()) "
            f"FROM {cat} c LEFT JOIN checks k ON c.last_check = k.id WHERE NOT c.deleted"
        ).fetchall()
    if route == "worker_status":
        return sorted(con.execute(
            f"SELECT coalesce(status, 'NULL'), count(*) FROM {cat} GROUP BY 1"
        ).fetchall())
    if route == "stats":
        return sorted(con.execute(
            "SELECT CAST(k.status AS VARCHAR), count(*) AS n, "
            "CAST(n AS DOUBLE) * 100.0 / sum(n) OVER () "
            f"FROM {cat} c JOIN checks k ON c.last_check = k.id "
            "WHERE NOT c.deleted AND c.last_check IS NOT NULL GROUP BY 1"
        ).fetchall())
    raise ValueError(route)


def _same(route: str, got, want) -> bool:
    if route != "stats":
        return got == want
    # percentages are rounded to 4 places by the route only
    return len(got) == len(want) and all(
        g[:2] == w[:2] and abs(g[2] - w[2]) < 1e-4 for g, w in zip(got, want)
    )


def wrap_targets(st: ApiState) -> list[tuple[object, str, str]]:
    """Layer functions the routes call internally."""
    return [
        (st.lake, "read_app_table", "sinks.lake.read_app_table"),
        (st.lake, "rewrite_app_table", "sinks.lake.rewrite_app_table"),
    ]
