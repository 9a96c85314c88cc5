"""Multi-format file extractor: parquet / CSV / JSON(L) / ORC sources.

Generalizes ``ParquetExtractor`` (reference catalog-scan surface:
``src/extract/extractor.rs:25-94``) to the file formats a migration or
training-data job actually encounters. Catalog = files in a directory,
table name = stem, format = extension; the same sidecar
``<table>.constraints.json`` carries MSSQL type metadata when present.

Scale notes (100 TB):
- parquet/ORC: footer schema, full pushdown — nothing to add.
- CSV/JSON: schema INFERENCE is an extra pass over the data. Inference
  defaults to a full pass (correct on any input); for production-scale
  ingest either pass ``json_sampling_ratio`` < 1 or (better) an explicit
  schema via a sidecar so the read is single-pass. Predicate pushdown does not prune
  row groups in text formats — the right pattern is CSV/JSON -> parquet
  ONCE (exactly what the migrator pipeline does), then query the parquet.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .parquet_source import ParquetExtractor

# extension -> spark datasource format
_FORMATS = {
    ".parquet": "parquet",
    ".orc": "orc",
    ".csv": "csv",
    ".json": "json",
    ".jsonl": "json",
}


class FileExtractor(ParquetExtractor):
    """Extractor over a directory of ``<table>.<ext>`` files."""

    def __init__(self, spark: SparkSession, source_dir: str, json_sampling_ratio: float = 1.0):
        super().__init__(spark, source_dir)
        self.json_sampling_ratio = json_sampling_ratio
        self._catalog: dict[str, str] = {}
        for f in sorted(os.listdir(source_dir)):
            stem, ext = os.path.splitext(f)
            if ext not in _FORMATS or stem.endswith(".constraints"):
                continue
            if stem in self._catalog:
                raise ValueError(
                    f"table {stem!r} present in two formats "
                    f"({self._catalog[stem]} and {f}); a table must have one source file"
                )
            self._catalog[stem] = f

    def fetch_tables(self) -> list[str]:
        return sorted(self._catalog)

    def _load(self, table: str) -> DataFrame:
        fname = self._catalog.get(table, f"{table}.parquet")
        path = os.path.join(self.source_dir, fname)
        fmt = _FORMATS[os.path.splitext(fname)[1]]
        reader = self.spark.read
        if fmt == "csv":
            # header + typed inference; inference samples internally but is
            # still a scan — pass an explicit schema for petabyte CSV.
            reader = reader.option("header", "true").option("inferSchema", "true")
        elif fmt == "json":
            reader = reader.option("samplingRatio", str(self.json_sampling_ratio))
        return reader.format(fmt).load(path)
