r"""The serving plane: the reference's HTTP API surface, route for route,
over the lake (routes/__init__.py:51-77 → methods here).

The aiohttp/auth/marshmallow layers are transport, not query semantics —
what this binds is every route's *data contract*: same parameters, same
result shape, computed by the Spark plans in ``operators``/``plans``. A
deployment would wrap this class with any HTTP framework (or expose the
registered temp views through Spark Connect / Thrift).

| reference route | method here |
|---|---|
| GET /api/checks/latest?url\|resource_id     | latest_check |
| GET /api/checks/all?url\|resource_id        | all_checks |
| GET /api/checks/aggregate?group_by&created_at | checks_aggregate |
| POST /api/checks (on-demand check)          | run_checks (fetch plane) |
| GET/POST/PUT/DELETE /api/resources          | get/upsert/delete_resource |
| GET /api/resources/<id>/status              | resource_status |
| GET /api/status/crawler                     | crawler_status |
| GET /api/status/worker                      | worker_status |
| GET /api/stats                              | stats |
| GET /api/health                             | health |
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from udata_datalake_service_spark.config import Config
from udata_datalake_service_spark.operators import checks as checks_ops
from udata_datalake_service_spark.sinks.lake import Lake


class HydraService:
    """Route-shaped facade over a :class:`Lake` holding the ``catalog`` and
    ``checks`` app tables. ``config`` mirrors the reference's
    config_default.toml knobs (see :mod:`config`); defaults match the
    reference's shipped values."""

    def __init__(
        self, spark: SparkSession, lake: Lake, config: Config | None = None
    ):
        self.spark = spark
        self.lake = lake
        self.config = config or Config()

    def sql(self, query: str, extra_views: dict[str, DataFrame] | None = None) -> DataFrame:
        """Ad-hoc SQL over the lake: registers the app tables (catalog,
        checks — when present), the converted-tables registry as
        ``tables_index``, the converted tables the QUERY actually names
        (``t_<md5>`` — only referenced ones resolve, so a catalog with
        thousands of tables costs nothing on unrelated queries), and any
        ``extra_views``, then runs ``query`` through Catalyst. The
        escape hatch the reference's Postgres users keep: anything the
        facade doesn't wrap is one SELECT away. A table that exists in
        the registry but can't be read (dropped mid-flight, corrupt
        version dir) is skipped — the query then fails with Catalyst's
        table-not-found naming it, instead of this method aborting."""
        import re

        for name in ("catalog", "checks"):
            try:
                self.lake.read_app_table(name).createOrReplaceTempView(name)
            except FileNotFoundError:
                pass
        try:
            self.lake.registry().createOrReplaceTempView("tables_index")
        except FileNotFoundError:
            pass
        for t in set(re.findall(r"\bt_([0-9a-f]{6,32})\b", query)):
            try:
                self.lake.read_table(t).createOrReplaceTempView(f"t_{t}")
            except Exception:  # noqa: BLE001 — Catalyst names the gap
                pass
        for name, df in (extra_views or {}).items():
            df.createOrReplaceTempView(name)
        return self.spark.sql(query)

    # -------------------------------------------------------------- tables --
    @property
    def catalog(self) -> DataFrame:
        return self.lake.read_app_table("catalog")

    @property
    def checks(self) -> DataFrame:
        return self.lake.read_app_table("checks")

    # --------------------------------------------------------------- checks --
    def latest_check(self, **key) -> DataFrame:
        """GET /api/checks/latest?url=… or ?resource_id=… (J1)."""
        return checks_ops.latest_check(self.catalog, self.checks, **key)

    def all_checks(self, **key) -> DataFrame:
        """GET /api/checks/all (J2), newest first."""
        return checks_ops.all_checks(self.catalog, self.checks, **key)

    def checks_aggregate(self, group_by: str, created_at) -> DataFrame:
        """GET /api/checks/aggregate — ``group_by`` is an EXPRESSION (the
        reference interpolates it into SQL, db/check.py:87-98; same surface,
        same injection caveat → allowlist in any public deployment)."""
        return checks_ops.aggregate_for_date(self.checks, group_by, created_at)

    def run_checks(self, batch: DataFrame, transport=None, fan_out: int | None = None) -> DataFrame:
        """POST /api/checks — on-demand check execution (S1 fetch plane)."""
        from udata_datalake_service_spark.plans.fetch import check_batch, urllib_transport

        return check_batch(batch, transport or urllib_transport, fan_out=fan_out)

    # ------------------------------------------------------------ resources --
    def get_resource(self, resource_id: str) -> DataFrame:
        """GET /api/resources/<id> (P1)."""
        return self.catalog.filter(F.col("resource_id") == resource_id)

    def resource_status(self, resource_id: str) -> DataFrame:
        """GET /api/resources/<id>/status — status + last check pointer."""
        return self.get_resource(resource_id).select(
            "resource_id", "status", "last_check", "priority", "deleted"
        )

    def upsert_resource(self, rows: DataFrame) -> None:
        """POST/PUT /api/resources (U2) — merge by resource_id, rewrite the
        catalog table (Delta MERGE in a transactional deployment)."""
        from udata_datalake_service_spark.operators.core import upsert

        merged = upsert(self.catalog, rows, key="resource_id")
        self.lake.rewrite_app_table(merged, "catalog")

    def delete_resource(self, resource_id: str) -> None:
        """DELETE /api/resources/<id> (U5 soft delete)."""
        updated = self.catalog.withColumn(
            "deleted",
            F.when(F.col("resource_id") == resource_id, F.lit(True)).otherwise(
                F.col("deleted")
            ),
        )
        self.lake.rewrite_app_table(updated, "catalog")

    # ------------------------------------------------------------ exceptions --
    @property
    def exceptions(self):
        """GET/POST/PUT/DELETE /api/resources-exceptions
        (routes/resources_exceptions.py:14-55) — see operators/exceptions."""
        from udata_datalake_service_spark.operators.exceptions import (
            ResourceExceptions,
        )

        return ResourceExceptions(self.spark, self.lake)

    # ----------------------------------------------------------- crawl plane --
    def select_crawl_batch(self, seed: str = "s0") -> DataFrame:
        """The crawl loop's batch selection (J3/U7 surface) with every knob
        driven by the config: batch size, excluded patterns."""
        from udata_datalake_service_spark.plans.select_batch import select_batch

        return select_batch(
            self.catalog,
            self.checks,
            batch_size=self.config.batch_size,
            seed=seed,
            excluded_patterns=self.config.excluded_patterns,
        )

    def backoff_table(self) -> DataFrame:
        """Per-domain backoff decisions (ST2/A5) with config-driven
        thresholds and the NO_BACKOFF_DOMAINS allowlist."""
        from udata_datalake_service_spark.plans.backoff import domain_backoff_table

        return domain_backoff_table(
            self.checks,
            nb_req=self.config.backoff_nb_req,
            period_s=self.config.backoff_period,
            cool_off_s=self.config.cool_off_period,
            no_backoff_domains=self.config.no_backoff_domains,
        )

    # -------------------------------------------------------------- status --
    def crawler_status(self) -> DataFrame:
        """GET /api/status/crawler (A2)."""
        return checks_ops.crawler_status(self.catalog, self.checks)

    def worker_status(self) -> DataFrame:
        """GET /api/status/worker (A3)."""
        return checks_ops.worker_status(self.catalog)

    def stats(self) -> DataFrame:
        """GET /api/stats (A4)."""
        return checks_ops.stats(self.catalog, self.checks)

    def health(self) -> dict:
        """GET /api/health — storage reachable + spark alive."""
        try:
            n = self.catalog.limit(1).count()
            return {"ok": True, "catalog_reachable": True, "sample_rows": n}
        except Exception as e:  # noqa: BLE001
            return {"ok": False, "error": str(e)}

    # ---------------------------------------------- beyond-ref analytics ----
    # Availability SLAs over the checks series, on top of the reference's
    # route table.

    def availability_report(self) -> DataFrame:
        """Per-resource availability + longest consecutive-failure streak
        over the checks series (gaps-and-islands; failure = status absent
        or outside [200, 400))."""
        from pyspark.sql import Window

        c = self.checks.select(
            "resource_id",
            "id",
            F.unix_micros(F.col("created_at").cast("timestamp")).alias("us"),
            (
                F.col("status").isNull()
                | (F.col("status") < 200)
                | (F.col("status") >= 400)
            ).alias("is_err"),
        )
        w = Window.partitionBy("resource_id").orderBy("us", "id")
        with_rn = c.withColumn("rn", F.row_number().over(w))
        errs = with_rn.filter(F.col("is_err")).withColumn("rn2", F.row_number().over(w))
        streaks = (
            errs.groupBy("resource_id", (F.col("rn") - F.col("rn2")).alias("g"))
            .agg(F.count(F.lit(1)).alias("len"))
            .groupBy("resource_id")
            .agg(F.max("len").alias("longest_failure_streak"))
        )
        totals = c.groupBy("resource_id").agg(
            F.count(F.lit(1)).alias("n_checks"),
            F.count_if(F.col("is_err")).alias("n_failures"),
        )
        return (
            totals.join(streaks, on="resource_id", how="left")
            .select(
                "resource_id",
                "n_checks",
                "n_failures",
                F.round(1 - F.col("n_failures") / F.col("n_checks"), 6).alias(
                    "availability"
                ),
                F.coalesce("longest_failure_streak", F.lit(0)).cast("long").alias(
                    "longest_failure_streak"
                ),
            )
        )
