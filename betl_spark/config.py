"""Engine configuration.

Re-expresses the reference's ConfClass (reference: betl/ConfClass.py) as
two small dataclass-style objects:

- ``Conf``   — application config: paths, datastores, data layers, audit
  column definitions, control flags (reference betl/ConfClass.py:64-249).
- ``ScheduleConfig`` — which stages/dataflows run and in what order
  (reference betl/ConfClass.py:150-176 and docs schedule-config).

The reference's 5 data layers and their layer→database mapping
(betl/ConfClass.py:25-31) become catalog namespaces: staging layers are
parquet directory namespaces under ``tmp_data/``, warehouse layers are
Spark-catalog databases (or parquet namespaces when no metastore).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any

# The five warehouse zones (reference betl/ConfClass.py:25-31).
DATA_LAYERS = ("EXT", "TRN", "LOD", "BSE", "SUM")
# Layer → logical database, mirroring ETL/TRG split (ConfClass.py:25-31).
LAYER_DB = {"EXT": "ETL", "TRN": "ETL", "LOD": "ETL", "BSE": "TRG", "SUM": "TRG"}

# Framework-managed audit columns (reference betl/ConfClass.py:33-46).
AUDIT_COLS = [
    {"columnName": "audit_source_system", "dataType": "TEXT"},
    {"columnName": "audit_bulk_load_date", "dataType": "DATE"},
    {"columnName": "audit_latest_delta_load_date", "dataType": "DATE"},
    {"columnName": "audit_latest_load_operation", "dataType": "TEXT"},
]
AUDIT_COL_NAMES = [c["columnName"] for c in AUDIT_COLS]


@dataclass
class ScheduleConfig:
    """Stage gating flags (reference betl/ConfClass.py:152-176)."""

    run_extract: bool = True
    run_transform: bool = True
    run_load: bool = True
    run_summarise: bool = True
    default_extract: bool = True
    default_load: bool = True
    default_summarise: bool = True
    bulk_or_delta: str = "BULK"
    src_system_ids: list[str] = field(default_factory=list)
    extract_dataflows: list[Any] = field(default_factory=list)
    transform_dataflows: list[Any] = field(default_factory=list)
    load_dim_dataflows: list[Any] = field(default_factory=list)
    load_fact_dataflows: list[Any] = field(default_factory=list)
    summarise_dataflows: list[Any] = field(default_factory=list)


@dataclass
class Conf:
    """Application configuration + runtime context.

    ``tmp_data_path`` is the staging root: each layer gets
    ``<tmp_data_path>/<layer>/<table>`` parquet dirs (the reference's CSV
    tmp_data tree, betl/io/fileIO.py:15-24, upgraded to parquet).
    """

    app_root: str = "."
    tmp_data_path: str | None = None
    schema_path: str | None = None
    log_path: str | None = None  # alerts + step journal (LoggerClass LOG_PATH)
    data_limit_rows: int | None = None  # LIMIT pushdown (ConfClass.py:186-191)
    earliest_date_in_data: str = "2014-01-01"  # dm_date range (ConfClass.py:230-232)
    latest_date_in_data: str = "2021-12-31"
    verbose_step_logging: bool = False  # eager df.count() per step if True
    datastores: dict[str, Any] = field(default_factory=dict)
    schedule: ScheduleConfig = field(default_factory=ScheduleConfig)

    def __post_init__(self) -> None:
        if self.tmp_data_path is None:
            self.tmp_data_path = os.path.join(self.app_root, "tmp_data")
        if self.schema_path is None:
            self.schema_path = os.path.join(self.app_root, "schema")
        if self.log_path is None:
            self.log_path = os.path.join(self.app_root, "logs")

    def layer_path(self, layer: str, table: str | None = None) -> str:
        layer = layer.upper()
        if layer not in DATA_LAYERS:
            raise ValueError(f"unknown data layer {layer!r}; expected one of {DATA_LAYERS}")
        p = os.path.join(str(self.tmp_data_path), layer)
        return os.path.join(p, table) if table else p
