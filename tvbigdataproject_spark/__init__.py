"""tvbigdataproject_spark — a PySpark-native analytics engine.

Re-expresses the capabilities of the reference Twitter graph-analytics
pipeline (tvbigdataproject/TVBigDataProject) as an idiomatic, composable
Spark operator library, and extends it with LLM-data-pipeline operators
(dedup, similarity search, multimodal columns, text analysis) designed
for 100 TB scale.

Layout:
  session     — SparkSession factory (AQE on, explicit tuning knobs)
  schemas     — explicit StructTypes (no inference in production paths)
  sources     — readers/writers (parquet/json/csv graph sinks)
  functions   — native Column-expression library (no Python UDFs on hot paths)
  operators   — relational / graph / dedup / similarity / text / multimodal
  plans       — the reference's end-to-end pipelines (Q1-Q7) recomposed
"""

__version__ = "0.1.0"
