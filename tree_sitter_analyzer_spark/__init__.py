"""tree_sitter_analyzer_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch re-expression of the query/data-processing capabilities of
``aimasteracc/tree-sitter-analyzer`` (see SURVEY.md) as an idiomatic Spark
engine over an image+caption tiles table: grid-cell indexing (H3/S2 analog),
two-phase point-in-polygon joins, two-phase kNN, zonal statistics,
dedup/similarity/text pipelines, and checkpointed incremental jobs.
"""

__version__ = "0.1.0"
