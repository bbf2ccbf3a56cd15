"""hypertension_dashboard_pipeline_spark — a PySpark-native analytics engine.

A brand-new, idiomatic PySpark implementation of the query and
data-processing capabilities of the reference pipeline
(CDC-DHDSP/hypertension_dashboard_pipeline, four R scripts doing OMOP-CDM
hypertension surveillance ETL), re-architected Spark-first:

* one engine instead of three (Snowflake SQL + dplyr + CSV handoffs
  become DataFrame plans over Parquet, optimized by Catalyst);
* lazy distributed execution instead of eager single-thread R;
* fixed StructType schemas instead of CSV type drift;
* plus a beyond-reference extension surface for large-scale
  training-data pipelines: dedup (exact / MinHash-LSH / SimHash /
  n-gram Jaccard / embedding cosine), ANN similarity search, text
  analysis.

Layout:
    session.py    SparkSession factory (AQE on, UTC, Arrow)
    schemas.py    fixed StructType per table
    io.py         parquet/csv sources & sinks, view registration
    functions/    expression-level helpers (scalar fns, text, vectors)
    operators/    relational operators (filters, joins, aggregates,
                  windows, dedup, similarity)
    plans/        reference-pipeline equivalents (cohort, bp, phenotype)
    sources/      codelists + table registry
"""

__version__ = "0.1.0"
