"""autoprepad_spark — a from-scratch PySpark-native schema + constraint
validation engine with the capability surface of JAdelhelm/AutoPrepAD.

The reference (studied at /root/reference, read-only) is a single-node
sklearn/pandas preprocessing + anomaly-marking pipeline. This engine
re-expresses that capability surface Spark-first:

* fit steps (quantiles, median/MAD, mean/std, modes, vocabularies) become
  native Spark aggregations in ONE wide pass over the scan,
* transform steps (outlier flags, null indicators, pattern encodings)
  become vectorized Arrow/pandas-UDF predicates or native Column
  expressions (configurable; never per-row Python),
* the pyod anomaly score becomes deterministic constraint verdicts:
  per-partition pass/fail rows + materialized violation rows,
* resumability comes from a per-partition lineage/metrics checkpoint
  table instead of joblib model dumps.

Designed for 10^12-row Iceberg tables on multi-executor clusters; the
local table layer (autoprepad_spark.sources.tables) stands in for Iceberg
with partitioned parquet so the same code runs in the sandbox.
"""

from autoprepad_spark.session import freeze_worker_zip_caches, get_spark
from autoprepad_spark.plans.suite import CustomCheck, ValidationSuite
from autoprepad_spark.plans.corpus import clean_corpus
from autoprepad_spark.operators.tokenizer import bpe_encode, fit_bpe
from autoprepad_spark.operators.suggest import (
    grouped_to_custom_checks,
    profile_snapshot,
    snapshot_diff,
    suggest_checks,
    suggest_fds,
    suggest_grouped_checks,
    to_custom_checks,
)
from autoprepad_spark.sources.warc import (
    read_warc,
    warc_to_documents,
    wet_to_documents,
)

# Every package UDF unpickles through this import inside a Python worker.
freeze_worker_zip_caches()

__version__ = "0.1.0"

__all__ = [
    "get_spark",
    "ValidationSuite",
    "CustomCheck",
    "clean_corpus",
    "fit_bpe",
    "bpe_encode",
    "profile_snapshot",
    "suggest_checks",
    "suggest_fds",
    "suggest_grouped_checks",
    "snapshot_diff",
    "to_custom_checks",
    "grouped_to_custom_checks",
    "read_warc",
    "warc_to_documents",
    "wet_to_documents",
    "__version__",
]
