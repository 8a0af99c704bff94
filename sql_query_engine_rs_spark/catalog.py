"""Named-table catalog: the Spark equivalent of the reference's RootCatalog.

Reference model (src/catalog/mod.rs:10-70): ``RootCatalog{tables}`` maps a
table name to ``TableCatalog{columns}``. Storage engines (CsvStorage,
InMemoryStorage — src/storage/csv.rs, src/storage/memory.rs) own the data and
expose the catalog.

Spark-first design: a "table" is a temp view over a lazily-read DataFrame.
Parquet/CSV scans keep their pushdown and pruning capabilities because we
never materialize — ``spark.table(name)`` re-derives the scan, so Catalyst
pushes filters/projections into the file source (visible as PushedFilters /
ReadSchema in ``df.explain``). At 100 TB this is what makes `WHERE` clauses
prune terabytes before they reach executors.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from sql_query_engine_rs_spark.errors import CatalogError
from sql_query_engine_rs_spark.sources import read

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass
class Catalog:
    """Registry of name -> schema, with data living as Spark temp views.

    Mirrors ``RootCatalog`` (reference: src/catalog/mod.rs:10-30): the table
    name doubles as the table id, column name doubles as the column id.
    """

    spark: SparkSession
    tables: dict[str, StructType] = field(default_factory=dict)

    # -- DDL-ish surface (reference: Storage trait, src/storage/mod.rs:13-32)

    def create_csv_table(
        self,
        name: str,
        path: str,
        schema: str | StructType | None = None,
        empty_strings: bool = False,
    ) -> DataFrame:
        """``\\load csv <name> <path>`` (reference: src/db.rs:27-40).

        Read through ``sources.read``: header assumed, delimiter ',' (Spark's
        default), schema inferred when not supplied, matching the reference's
        Arrow-based inference (src/storage/csv.rs:103,133-142). Pass an
        explicit schema to avoid inference drift (FIXTURES.md §5) — on a
        cluster this also avoids a full extra pass over the file for
        inference.

        ``empty_strings=True`` maps empty string cells to ``""`` instead of
        NULL (Spark's CSV reader nulls all empty unquoted fields; the
        reference's Arrow reader yields ``""`` for strings and NULL only for
        numerics — FIXTURES.md §5). Numeric empties stay NULL either way.
        """
        from pyspark.sql import functions as F
        from pyspark.sql.types import StringType

        df = read(self.spark, "csv", path, schema)
        if empty_strings:
            df = df.select(
                *[
                    F.coalesce(F.col(f.name), F.lit("")).alias(f.name)
                    if isinstance(f.dataType, StringType)
                    else F.col(f.name)
                    for f in df.schema.fields
                ]
            )
        return self.register(name, df)

    def create_file_table(self, name: str, fmt: str, path: str) -> DataFrame:
        """A table over a parquet, json or orc file (``\\load <fmt>``).

        Parquet is the scale path: column pruning plus predicate pushdown.
        ORC has the same properties (schema in the footer, filters reach the
        stripe reader). JSON-lines infers its schema in one extra pass; pass
        an explicit schema through ``sources.read`` for production pipelines.
        """
        return self.register(name, read(self.spark, fmt, path))

    def create_memory_table(self, name: str, data, schema=None) -> DataFrame:
        """In-memory table (reference: src/storage/memory.rs:11-83)."""
        df = self.spark.createDataFrame(data, schema=schema)
        return self.register(name, df)

    def register(self, name: str, df: DataFrame) -> DataFrame:
        name = name.lower()  # identifiers lowercased, reference: src/binder/expression/mod.rs:88-91
        df.createOrReplaceTempView(name)
        self.tables[name] = df.schema
        return df

    def register_testdata(self, sf_dir: str, tables: tuple[str, ...] = TESTDATA_TABLES) -> None:
        """Register every driver-generated parquet table under ``sf_dir``."""
        for t in tables:
            self.create_file_table(t, "parquet", f"{sf_dir}/{t}.parquet")

    # -- lookups (reference: src/catalog/mod.rs:16-29)

    def get_table(self, name: str) -> DataFrame:
        name = name.lower()
        if name not in self.tables:
            raise CatalogError(f"table not found: {name}")
        return self.spark.table(name)

    def show_tables(self) -> DataFrame:
        """``\\dt`` — 2-column (table_name, columns) relation.

        Reference: Storage::show_tables builds the same shape
        (src/storage/csv.rs:65-85, src/storage/memory.rs:62-82).
        """
        rows = [
            (name, ", ".join(f.name for f in schema.fields))
            for name, schema in sorted(self.tables.items())
        ]
        return self.spark.createDataFrame(rows or [], "table_name string, columns string")
