"""map_reduce_ruby_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of mrkamel/map-reduce-ruby (reference read-only at
/root/reference/).

Architecture (SURVEY.md §7): on the distributed paths (``Job``, the DataFrame
adapter) the reference's spill/merge/heap machinery is Spark's sort-based
shuffle. Only the single-worker ``compat.Mapper``/``Reducer`` façade spills
and k-way merges sorted chunk files itself, with ``chunk_limit`` as the merge
fan-in, as the reference's worker does. What this package provides is:

- ``core``      — the faithful semantic layer: the map/reduce user protocol,
                  Ruby-comparable key ordering (raise on incomparable), canonical
                  JSON encoding, SHA1-of-JSON hash partitioning, combiner
                  optionality, sorted-within-partition output, JSON-lines chunk
                  interop.  (reference: lib/map_reduce/*.rb)
- ``operators`` — DataFrame-first operators beyond the reference's surface:
                  dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard /
                  embedding-cosine), similarity search, text analysis,
                  multimodal column plumbing, as-of join.
- ``sources``   — table loaders and the reference's JSON-lines chunk format.
- ``functions`` — column-expression helpers kept engine-portable (the same
                  expression is emitted for Spark and for the DuckDB oracle).
- ``plans``     — the query catalog: every implemented operator as a
                  (spark_fn, oracle_sql) pair consumed by __spark_entry__.py.
- ``streaming`` — Structured Streaming variants (windowed aggregation over
                  the events table).
"""

__version__ = "0.1.0"
