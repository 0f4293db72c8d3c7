"""Seeded inputs for the crawl workload: the catalog and checks lake
tables, the deterministic HTTP transport, and the CSV files the analysis
worker reads. Every catalog and checks value is a function of the
resource number ``k`` and the seed.
"""

from __future__ import annotations

import csv
import gzip
import io
import random

CATALOG_ROWS = 150_000  # close to production's 142,687 (README /api/status/crawler)
CHECK_BASE = 1_000_000  # ids of the older of each resource's two checks
DAY = "2024-01-01"
# Resources flagged priority between two crawl batches. A guess: the
# reference publishes no traffic. It assumes udata's resource events reach
# the crawl as priority flags; 4 per 60 s batch is ~5,800 events a day.
# Every other row of a batch comes from the outdated tier.
PRIORITY_PER_CYCLE = 4

# checks table layout (a projection of schemas.CHECKS_SCHEMA); crawl
# appends must carry exactly these columns and types
CHECKS_DDL = (
    "id bigint, resource_id string, url string, domain string, "
    "created_at timestamp, status int, headers map<string,string>, "
    "timeout boolean, response_time double, error string, checksum string, "
    "filesize bigint, detected_last_modified_at timestamp, "
    "next_check_at timestamp, method string"
)


def tag(seed: int) -> str:
    return f"s{seed}"


def is_live(k: int) -> bool:
    """Whether resource ``k`` passes the crawl's liveness and excluded-URL
    gate (see `catalog_frame`)."""
    return k % 31 != 0 and not (k % 5 not in (0, 1) and k % 97 == 3)


def initial_priority(seed: int, rows: int | None = None) -> list[int]:
    """The live resources flagged priority before the first batch."""
    rng = random.Random(f"priority-{seed}")
    out: list[int] = []
    while len(out) < PRIORITY_PER_CYCLE:
        k = rng.randrange(1, (rows or CATALOG_ROWS) + 1)
        if is_live(k) and k not in out:
            out.append(k)
    return out


def catalog_frame(spark, seed: int, rows: int | None = None):
    """``rows`` (default CATALOG_ROWS) resources, the crawl's steady state
    after the initial load: every resource checked (last_check = k), so the
    never-checked tier is empty. k%5 in {0,1}: tabular (.csv / .csv.gz);
    k%97==3: excluded format; k%31==0 deleted; k%11==0 BACKOFF;
    `initial_priority` flagged priority."""
    from pyspark.sql import functions as F

    k = F.col("id")
    ext = (
        F.when(k % 5 == 0, F.lit(".csv"))
        .when(k % 5 == 1, F.lit(".csv.gz"))
        .when(k % 97 == 3, F.lit("?format=shp"))
        .otherwise(F.lit(""))
    )
    return spark.range(1, (rows or CATALOG_ROWS) + 1, numPartitions=4).select(
        k.alias("id"),
        F.concat(F.lit("ds-"), (k % 9973).cast("string")).alias("dataset_id"),
        F.concat(F.lit(f"r{tag(seed)}-"), k.cast("string")).alias("resource_id"),
        F.concat(
            F.lit("https://d"), (k % 200).cast("string"),
            F.lit(f".{tag(seed)}.example.org/r/"), k.cast("string"), ext,
        ).alias("url"),
        (k % 31 == 0).alias("deleted"),
        k.cast("long").alias("last_check"),
        k.isin(initial_priority(seed, rows)).alias("priority"),
        F.lit(None).cast("timestamp").alias("harvest_modified_at"),
        F.when(k % 11 == 0, F.lit("BACKOFF")).otherwise(F.lit(None)).alias("status"),
    )


def checks_frame(spark, catalog):
    """Two checks per resource: the latest (id = k, the catalog's
    last_check) and an older one (id = CHECK_BASE + k) a week earlier. The
    latest one is due again (next_check_at in the past) for even k."""
    from pyspark.sql import functions as F

    k = F.col("id")

    def one(id_col, hours_back: int, cl_base: int, status, next_check):
        return catalog.select(
            id_col.cast("long").alias("id"),
            "resource_id",
            "url",
            F.regexp_extract("url", r"^https?://([^/]+)", 1).alias("domain"),
            F.expr(
                f"timestamp '{DAY} 00:00:00' + make_interval(0, 0, 0, 0, id % 48 - {hours_back}, 0, 0)"
            ).alias("created_at"),
            status.cast("int").alias("status"),
            F.create_map(
                F.lit("content-length"), (F.lit(cl_base) + k % 700).cast("string")
            ).alias("headers"),
            F.lit(False).alias("timeout"),
            F.lit(0.1).alias("response_time"),
            F.lit(None).cast("string").alias("error"),
            F.lit(None).cast("string").alias("checksum"),
            (F.lit(cl_base) + k % 700).cast("long").alias("filesize"),
            F.when(
                k % 5 == 0,
                F.expr(
                    "timestamp '2023-12-01 00:00:00' + make_interval(0, 0, 0, 0, id % 200, 0, 0)"
                ),
            ).alias("detected_last_modified_at"),
            next_check.alias("next_check_at"),
            F.lit("head").alias("method"),
        )

    latest = one(
        k, 0, 500,
        F.when(k % 17 == 0, F.lit(404)).otherwise(F.lit(200)),
        F.when(k % 2 == 0, F.expr("timestamp '2024-01-20 00:00:00'")).otherwise(
            F.expr("timestamp '2030-01-01 00:00:00'")
        ),
    )
    older = one(
        F.lit(CHECK_BASE) + k, 168, 400, F.lit(200),
        F.expr("timestamp '2024-01-10 00:00:00'"),
    )
    return latest.unionByName(older)


def build_lake(spark, lake, seed: int, rows: int | None = None) -> None:
    """Load the seeded catalog and checks through the program's own `Lake`
    writes."""
    cat = catalog_frame(spark, seed, rows)
    lake.write_app_table(cat, "catalog")
    lake.write_app_table(checks_frame(spark, cat), "checks")


def md5_transport():
    """Deterministic fake HTTP: status and headers derive from md5(url),
    method-independent (the HEAD->GET fallback changes only the recorded
    verb). Built as a closure so cloudpickle ships it to the executors by
    value; they need only the package, not this directory."""

    def transport(url: str, method: str):
        import hashlib

        h = int(hashlib.md5(url.encode()).hexdigest()[:8], 16)
        status = (200, 200, 304, 404, 500)[h % 5]
        headers = {}
        if h % 3 != 0:
            headers["Content-Length"] = str(100 + h % 1000)
        if h % 4 == 0:
            headers["Last-Modified"] = "Mon, 15 Jan 2024 00:00:00 GMT"
        return status, headers, None

    return transport


# ---------------------------------------------------------------- CSVs --
# declared columns of every generated file: header -> inferred python_type
CSV_COLUMNS = {
    "code": "int",
    "libelle": "string",
    "montant": "float",
    "jour": "date",
    "actif": "bool",
}
DIALECTS = (
    (",", "utf-8"),
    (";", "utf-8"),
    (";", "cp1252"),
    ("\t", "utf-8"),
    ("|", "latin-1"),
)
SMALL_ROWS = (1000, 2000, 3000, 5000)


def csv_bytes(n_rows: int, sep: str, encoding: str, rng: random.Random) -> bytes:
    """A file whose columns infer to exactly ``CSV_COLUMNS``."""
    buf = io.StringIO()
    w = csv.writer(buf, delimiter=sep, lineterminator="\n")
    w.writerow(list(CSV_COLUMNS))
    words = ("énergie", "été", "forêt", "crèche", "hôpital", "école")
    for i in range(n_rows):
        w.writerow(
            [
                rng.randrange(1, 10**6),
                f"{words[i % len(words)]} {rng.randrange(10**4)}",
                f"{rng.random() * 1000:.2f}",
                f"2024-{1 + i % 12:02d}-{1 + i % 28:02d}",
                "true" if rng.random() < 0.5 else "false",
            ]
        )
    return buf.getvalue().encode(encoding)


def write_csv(path: str, n_rows: int, sep: str, encoding: str, rng: random.Random) -> str:
    data = csv_bytes(n_rows, sep, encoding, rng)
    if path.endswith(".gz"):
        data = gzip.compress(data, mtime=0)
    with open(path, "wb") as fh:
        fh.write(data)
    return path
