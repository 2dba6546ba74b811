"""Public engine facade — the library entry point (SURVEY §3 entry 3).

The reference's programmatic path (``README.md:126-171`` there) has the
user wire ``MqttConnector`` + ``InfluxConnector`` and drain the queue by
hand. Ours is two calls::

    engine = SolarEngine(spark, store_dir="/data/points")
    engine.ingest(input_dir="/data/raw")          # streaming ETL
    engine.query("events", sf_dir) \
          .range("-5m").filter("event_type", "click").to_df()

plus result modes (``execute``), plain-SQL access (``sql`` after
``register``), and the health check the reference runs at startup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from solar_logger_spark.io import results as _results
from solar_logger_spark.io.tables import register_views, table_path
from solar_logger_spark.query.builder import QueryBuilder
from solar_logger_spark.streaming.ingest import ingest_query, windowed_rollup_query


class SolarEngine:
    """One object tying the query surface, ingest pipeline, result
    modes, and catalog together."""

    def __init__(self, spark: SparkSession, store_dir: str | None = None):
        self.spark = spark
        self.store_dir = store_dir
        if not _results.health_check(spark):  # reference: S7 at startup
            raise RuntimeError("SparkSession failed health check")

    # -- query path ------------------------------------------------------

    def query(
        self,
        table: str,
        sf_dir: str,
        ts_col: str = "ts",
        value_col: str = "value",
        series_cols: tuple = (),
    ) -> QueryBuilder:
        """Start a fluent from→range→filter→aggregate→sort pipeline over
        one table (the reference's ``QueryBuilder``, corrected)."""
        return QueryBuilder(
            table_path(sf_dir, table),
            spark=self.spark,
            ts_col=ts_col,
            value_col=value_col,
            series_cols=series_cols,
        )

    def execute(self, df: DataFrame, query_mode: str = "flux"):
        """Result modes csv / flux / stream (reference S6)."""
        return _results.execute(df, query_mode)

    def query_flux(
        self,
        text: str,
        table: str,
        sf_dir: str,
        field_map: dict[str, str] | None = None,
        ts_col: str = "ts",
        value_col: str = "value",
        series_cols: tuple = (),
    ) -> QueryBuilder:
        """Execute a Flux query STRING — the artifact a reference user
        actually holds (its builder's only IR is the accumulated string,
        ``query_classes.py:73-84``). Accepts the reference's broken
        emitted dialect as well as well-formed text; see
        ``query/flux_parser.py``."""
        from solar_logger_spark.query.flux_parser import parse_flux

        return parse_flux(text).to_builder(
            table_path(sf_dir, table),
            spark=self.spark,
            field_map=field_map,
            ts_col=ts_col,
            value_col=value_col,
            series_cols=series_cols,
        )

    def query_points_flux(
        self, text: str, field_map: dict[str, str] | None = None
    ) -> QueryBuilder:
        """Flux text against the engine's own point store — the full
        reference loop for string-holding callers."""
        from solar_logger_spark.query.flux_parser import parse_flux

        return parse_flux(text).to_builder(
            self.points(),
            field_map=field_map
            or {"_measurement": "measurement", "_field": "field"},
            ts_col="ts",
            value_col="value",
            series_cols=("measurement", "field"),
        )

    def query_flux_script(
        self,
        text: str,
        sf_dir: str,
        field_map: dict[str, str] | None = None,
        **builder_kwargs,
    ) -> DataFrame:
        """Execute a multi-statement Flux script — named pipeline
        assignments combined by ``join(tables:, on:)`` or
        ``union(tables:)`` (Flux stdlib stages beyond the reference's
        single-pipeline grammar). Each ``from(bucket:)`` resolves to the
        table of that name in ``sf_dir``."""
        from solar_logger_spark.query.flux_parser import parse_flux_script

        script = parse_flux_script(text)
        return script.to_df(
            lambda bucket: table_path(sf_dir, bucket),
            field_map=field_map,
            spark=self.spark,
            **builder_kwargs,
        )

    def register(self, sf_dir: str) -> list[str]:
        """Expose every table to ``spark.sql``."""
        return register_views(self.spark, sf_dir)

    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)

    # -- ingest path -----------------------------------------------------

    def ingest(self, input_dir: str, checkpoint_dir: str | None = None,
               gate_online: bool = True):
        """Run the streaming ETL: raw messages → decoded gated points in
        the engine's store, partitioned by (measurement, date)."""
        if self.store_dir is None:
            raise ValueError("SolarEngine(store_dir=...) required for ingest")
        ckpt = checkpoint_dir or f"{self.store_dir}/_checkpoint"
        return ingest_query(
            self.spark, input_dir, self.store_dir, ckpt, gate_online=gate_online
        )

    def rollup(self, input_dir: str, output_dir: str,
               checkpoint_dir: str, every: str = "1h", agg: str = "mean"):
        """Streaming aggregateWindow over the live packet stream."""
        return windowed_rollup_query(
            self.spark, input_dir, output_dir, checkpoint_dir,
            every=every, agg=agg,
        )

    def points(self) -> DataFrame:
        """The persisted point store (long format, partition-pruned by
        measurement/date predicates)."""
        if self.store_dir is None:
            raise ValueError("SolarEngine(store_dir=...) required")
        return self.spark.read.parquet(f"{self.store_dir}/points")

    def query_points(self) -> QueryBuilder:
        """The reference's full loop: query the store the ingest path
        fills — from(points) |> range |> filter |> aggregateWindow |>
        sort over (measurement, field) series."""
        return QueryBuilder(
            self.points(),
            ts_col="ts",
            value_col="value",
            series_cols=("measurement", "field"),
        )


def wide_view(
    points: DataFrame, measurement: str, field_names: tuple | None = None
) -> DataFrame:
    """Per-measurement wide view of the long point store (SURVEY §1.3):
    one row per timestamp, one column per channel. Channel names come
    from the decoder registry when known — pinning them avoids the
    driver-side distinct pass and fixes column order."""
    from pyspark.sql import functions as F

    from solar_logger_spark.operators.pivoting import pivot
    from solar_logger_spark.streaming.decode import MEASUREMENT_FIELDS

    if field_names is None:
        field_names = MEASUREMENT_FIELDS.get(measurement)
    long = points.filter(F.col("measurement") == measurement).select(
        "ts", "field", "value"
    )
    return pivot(long, ["ts"], field_values=field_names, agg="first")
