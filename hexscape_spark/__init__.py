"""hexscape_spark — a from-scratch PySpark-native hex-tiling & spatial
aggregation engine with the query capabilities of ku-awdc/hexscape,
re-expressed Spark-first over web-scale tables.

Core modules (README.md lists them all):
  hexgrid      pure-column axial hex math (encode/decode/kRing) — no UDFs
  geo          NumPy/Arrow geometry kernel (WKB, clipping, areas) — no GEOS dep
  tiling       generate_patches equivalent (lattice -> clip -> LU rollup)
  neighbours   adjacency graph with border lengths + compass directions
  rollup       seeded weighted sampling per group
  textops      language-ID, quality scoring, token counting, repetition
  dedup        exact / MinHash-LSH / SimHash / n-gram-Jaccard dedup
  similarity   LSH- and IVF-bucketed cosine ANN over embeddings
  sqlgen       shared SQL fragments (single source of truth w/ DuckDB oracle)
"""

import zipimport

from pyspark.core.files import SparkFiles

__version__ = "0.1.0"


def _keep_directory(self) -> None:
    """zipimporter.invalidate_caches on a Python worker: the archive is
    never rewritten.

    pyspark's worker calls importlib.invalidate_caches() before each task
    (worker_util.setup_spark_files).  On Python >= 3.10 that makes every
    zipimporter on the worker path re-read its archive's central
    directory: pyspark.zip and its sub-packages, the py4j zip and the
    spark-core jar, ~0.15 s a task.  Those archives are read-only
    installs, so a worker leaves them alone once it has imported this
    package, which cloudpickle does when it loads an engine UDF.  Workers
    are reused, so only the first task of each pays the re-read.  The
    driver keeps the hook."""


if SparkFiles._is_running_on_worker:
    zipimport.zipimporter.invalidate_caches = _keep_directory
