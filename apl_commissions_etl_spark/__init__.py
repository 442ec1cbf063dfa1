"""PySpark-native analytics engine with the query/data-processing
capabilities of TechHalo-Labs/apl-commissions-etl, rebuilt Spark-first.

Layout:
    session     -- SparkSession factory (AQE on, Arrow on, UTC)
    schemas     -- declared StructTypes for every pipeline layer
    functions/  -- scalar/cleaning/hashing/text expression helpers
    sources/    -- readers (csv header-sniff, testdata parquet) and sinks
    operators/  -- reusable relational operators (as-of joins, skew
                   salting, consolidation fold, exports, media codecs)
    plans/      -- the domain pipeline: prep -> dims -> calc -> outputs
    streaming/  -- Structured Streaming surface over the events table
"""

__version__ = "0.1.0"
