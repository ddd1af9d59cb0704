"""Kernel library: pure Python/numpy plus compile-on-first-use C (no Spark
imports).

These functions pin the exact reference semantics (text-dedup) and serve
two roles: (1) closure state shipped into vectorized pandas/Arrow UDFs,
(2) the single-node oracle the distributed pipelines are parity-tested
against (SURVEY.md §5, §7.1 step 4).

Loading the package inside a PySpark Python worker also installs the
stat-guarded zip import cache (:mod:`zip_import_cache`).
"""

from text_dedup_spark.kernels.zip_import_cache import install_if_worker

install_if_worker()
