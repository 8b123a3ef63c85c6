"""Driver-side (no-Spark-job) serving entry points.

Spark is a batch engine; a standing vector-search deployment answers
single queries in milliseconds from a resident index (the reference's
Qdrant collection, project/qdrant/consumer_post.py:42-49). This package
closes that seam for the indexes the batch side already persists:
`IvfProbe.probe_one` (IVF cells), `PqProbe.probe_one` (PQ-ADC scan +
exact rerank) and `GraphAnnProbe.probe_one` (navigable-graph beam walk
over the persisted k-NN graph) load the parquet index once per process
and answer point queries with pure numpy — no Spark session required.
"""

from echo_chambers_detection_spark.serving.graph_probe import GraphAnnProbe
from echo_chambers_detection_spark.serving.ivf_probe import IvfProbe
from echo_chambers_detection_spark.serving.pq_probe import PqProbe

__all__ = [
    "GraphAnnProbe",
    "IvfProbe",
    "PqProbe",
]
