"""Named per-supplier extractor API — 1:1 surface parity with the
reference's `Extractor` (reference etl/extractor.py:19-121), re-based from
BigQuery scans onto a parquet lake.

Each method reproduces the reference's source query semantics declaratively
(S2): DISTINCT * with the supplier's not-null price predicate and the
incremental cutoff — Catalyst pushes the filters into the parquet scan and
plans the distinct as a hash aggregate, the same "compute at the source"
shape the reference gets from BigQuery SQL text.

The 12-hour lookback clock is an INJECTED parameter (`cutoff_epoch`) instead
of the reference's hidden `datetime.now()` (etl/extractor.py:8-17) — the
SURVEY.md Q4 determinism rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .parquet import load_table


class Extractor:
    """Reference etl/extractor.py:19-121. `base_dir` holds one parquet
    table per supplier; names default to the reference's table names."""

    TABLES = {
        "cola": "New_cola_air_tickets_price",
        "set": "New_settour_air_tickets_price",
        "lion": "New_Lion_air_tickets_price",
        "eztravel": "New_Eztravel_air_tickets_price",
        "rich": "New_richmond_air_tickets_price",
    }

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        cutoff_epoch: float,
        tables: dict[str, str] | None = None,
    ):
        self.spark = spark
        self.base_dir = base_dir
        self.cutoff_epoch = float(cutoff_epoch)
        self.tables = {**self.TABLES, **(tables or {})}

    # ---- S1: ad-hoc SQL passthrough (etl/extractor.py:42-58) -------------
    def fetch_data_as_dataframe(self, query: str) -> DataFrame:
        if not isinstance(query, str):
            raise TypeError("Query must be a string")
        return self.spark.sql(query)

    def _scan(self, key: str) -> DataFrame:
        """The table's parquet relation; `load_table` caches it, so both
        eztravel extracts share one scan."""
        return load_table(self.spark, self.base_dir, self.tables[key])

    def _supplier(self, key: str) -> DataFrame:
        """Shared supplier shape (etl/extractor.py:70-89,109-121):
        DISTINCT * WHERE 票面價格 IS NOT NULL AND CAST(crawl_time AS INT64) > cutoff."""
        df = self._scan(key)
        return df.filter(
            F.col("票面價格").isNotNull()
            & (F.col("crawl_time").cast("bigint") > F.lit(int(self.cutoff_epoch)))
        ).distinct()

    # ---- named surface (etl/extractor.py:60-121) -------------------------
    def extract_cola_data(self) -> DataFrame:
        df = self._scan("cola")
        return df.filter(
            F.col("總售價").isNotNull()
            & (F.col("建立時間") > F.lit(self.cutoff_epoch))
        ).distinct()

    def extract_set_data(self) -> DataFrame:
        return self._supplier("set")

    def extract_lion_data(self) -> DataFrame:
        return self._supplier("lion")

    def extract_eztravel_data(self) -> DataFrame:
        # 海外供應商 = FALSE: domestic split (etl/extractor.py:90-98)
        return self._supplier("eztravel").filter(~F.col("海外供應商"))

    def extract_foreign_supplier_eztravel_data(self) -> DataFrame:
        # 海外供應商 = TRUE: foreign split (etl/extractor.py:100-109)
        return self._supplier("eztravel").filter(F.col("海外供應商"))

    def extract_rich_data(self) -> DataFrame:
        return self._supplier("rich")

    def save_to_csv(self, df: DataFrame, file_path: str) -> None:
        """S11 (etl/extractor.py:29 — declared-but-dead in the reference)."""
        from ..sinks import write_csv

        write_csv(df, file_path)
