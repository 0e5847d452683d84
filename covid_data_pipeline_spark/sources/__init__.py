"""Sources and sinks (SURVEY.md §2.1 S1–S11)."""

from covid_data_pipeline_spark.sources.readers import (  # noqa: F401
    read_csv,
    read_jdbc,
)
from covid_data_pipeline_spark.sources.writers import (  # noqa: F401
    IcebergWarehouse,
    Warehouse,
    iceberg_available,
    write_jdbc,
)
