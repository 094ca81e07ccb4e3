import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .appName("whoosh-reloaded-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.default.parallelism", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "6g")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


def reference_importable() -> bool:
    ref = "/root/reference/src"
    if os.path.isdir(ref):
        if ref not in sys.path:
            sys.path.insert(0, ref)
        # the reference imports the `cached_property` backport package, which
        # isn't installed here — shim it with the stdlib implementation
        if "cached_property" not in sys.modules:
            import functools
            import types

            shim = types.ModuleType("cached_property")
            shim.cached_property = functools.cached_property
            sys.modules["cached_property"] = shim
        try:
            import whoosh  # noqa: F401

            return True
        except Exception:
            return False
    return False


def final_plan(df) -> str:
    """The final adaptive plan of a collected DataFrame, without the
    initial plan that AQE prints after it."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    return plan.split("== Initial Plan ==")[0]


def postings_scans(plan: str) -> list:
    """The postings table's parquet scans in a plan string."""
    return [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "/postings" in ln
    ]


def joins(plan: str) -> list:
    """The join operators in a plan string."""
    return [ln for ln in plan.splitlines() if "Join " in ln]


def aggregates(plan: str) -> list:
    """The aggregate operators in a plan string, partial and final halves
    each, outermost first."""
    return [ln for ln in plan.splitlines() if "Aggregate(keys=" in ln]


def column_bytes(table_dir: str) -> dict:
    """Compressed bytes per column of a parquet table directory, summed
    over its files' column chunks as their footers record them."""
    import glob

    import pyarrow.parquet as pq

    out: dict = {}
    for f in sorted(glob.glob(os.path.join(table_dir, "*.parquet"))):
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for i in range(rg.num_columns):
                c = rg.column(i)
                out[c.path_in_schema] = (
                    out.get(c.path_in_schema, 0) + c.total_compressed_size
                )
    return out
