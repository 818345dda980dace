"""datafiller_spark — a PySpark-native time-series rollup + downsample +
retention engine whose gap-fill stage reproduces the imputation math of
CyrilJl/datafiller (reference at /root/reference, Apache-2.0).

Architecture (Spark-first, not a port):

- ``sources``   — readers for the test tables and the deterministic
  pre-tokenized sequence table ``(doc_id, tokens, n_tok, source)``.
- ``operators`` — DataFrame-level operators: time bucketing, tier rollup
  cascade (raw→1m→1h→1d), grid regularization, Spark-native gap fill
  (ffill/bfill/linear/small-gap), per-series ridge imputation on one
  ``mapInPandas`` runner, Gorilla/delta-of-delta codecs, dedup, similarity,
  text analysis.
- ``kernels``   — pure-NumPy/pandas ports of the reference imputation
  math (FastRidge, lag matrices, optimask, multivariate/time-series
  imputers). These run *inside* Arrow-vectorized UDFs; no per-row Python.
- ``plans``     — end-to-end pipelines: continuous-aggregate rollup with
  checkpoint/resume and per-partition lineage + metrics.
"""

__version__ = "0.1.0"

from .exceptions import EngineError, EngineTypeError, EngineValueError
# the reference's root API (reference src/datafiller/__init__.py:1-17),
# importable the same way so its users can switch package names 1:1:
# from datafiller_spark import TimeSeriesImputer, MultivariateImputer, ...
from .kernels import (
    ExtremeLearningMachine,
    FastRidge,
    MultivariateImputer,
    TimeSeriesImputer,
)

__all__ = [
    "MultivariateImputer",
    "TimeSeriesImputer",
    "FastRidge",
    "ExtremeLearningMachine",
    "EngineError",
    "EngineTypeError",
    "EngineValueError",
    "__version__",
]
