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

__version__ = "0.1.0"
