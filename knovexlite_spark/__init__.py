"""knovexlite_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of KnovexDB/Knovexlite (a neural graph database),
re-expressed Spark-first.

Capabilities (see SURVEY.md for the reference-parity map):

- KG storage as DataFrames (triples, entity/relation catalogs)
- EFO (existential first-order) logic query language: parse, NNF/DNF
  normalize, compile to DataFrame join plans (exact set semantics)
- Neural scoring semantics: KGE models (TransE/DistMult/ComplEx/RotatE/
  RESCAL/SWTransE/ConvE) as vectorized NumPy kernels, CQD beam search,
  LMPNN message passing
- Ranking metrics (MRR / Hits@K, filtered protocol)
- Full relational surface via Spark SQL (joins, windows, rollup,
  grouping sets, set ops, string/date/math functions)
- Large-scale training-data pipeline ops: dedup (exact / MinHash-LSH /
  SimHash / n-gram Jaccard / embedding-cosine), ANN similarity search,
  text analysis (language-ID, quality, tokens, fingerprints),
  multimodal binary-column plumbing
- Structured Streaming over event tables (watermarks, tumbling /
  sliding / session windows)
"""

from knovexlite_spark.session import get_spark
from knovexlite_spark.engine import Engine

__all__ = ["get_spark", "Engine"]
__version__ = "0.1.0"
