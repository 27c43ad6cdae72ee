"""arrow_zarr_spark — a PySpark-native analytics engine with the
capabilities of ``datafusion-contrib/arrow-zarr``.

The reference is a Zarr-v3 scan layer for DataFusion; this package is
the idiomatic Spark re-expression: a Python DataSource ("zarr" format)
supplying the scan semantics, with Catalyst/Spark SQL providing every
relational operator, plus a large-scale data-pipeline operator library
(dedup, similarity search, text analysis, multimodal columns) the
reference does not have.
"""

# First, so every Spark worker that unpickles anything of this package
# stops re-reading unchanged zip archives on each call (see _zipguard).
from . import _zipguard  # noqa: F401
from .datasource import ZarrDataSource, read_zarr, read_zarr_many, register
from .pruning import zarr_sql

__version__ = "0.1.0"

__all__ = [
    "ZarrDataSource",
    "read_zarr",
    "read_zarr_many",
    "register",
    "zarr_sql",
    "__version__",
]
