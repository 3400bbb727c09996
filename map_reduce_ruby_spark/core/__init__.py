"""Core semantic layer: the reference's map/reduce contract on Spark RDDs.

What is faithfully rebuilt (SURVEY.md §7.0): the user protocol
(map yields (key, value) pairs; optional binary reduce), Ruby ``<=>`` key
comparability (raise on incomparable), canonical-JSON key encoding, SHA1
hash-partition placement, combiner optionality, duplicate-preserving
sorted-within-partition output, JSON-lines chunk interop.

Where the spill/merge mechanics live: on ``Job`` and ``df_adapter``,
memory-bounded buffering, sorted spill files, k-way merge, bounded fan-in and
the temp-file lifecycle are Spark's sort-based shuffle. The single-worker
``compat.Mapper``/``Reducer`` reimplement them in-process — a bounded buffer,
sorted spill chunks, a FIFO-stable k-way merge with ``chunk_limit`` as the
fan-in, cascades through temp files — as reference
lib/map_reduce/{mapper,reducer,mergeable,priority_queue,temp_path}.rb do.
"""

from map_reduce_ruby_spark.core.keys import (
    IncomparableKeyError,
    SortKey,
    canonical_json,
    ruby_cmp,
)
from map_reduce_ruby_spark.core.partitioner import HashPartitioner, Md5Partitioner
from map_reduce_ruby_spark.core.job import Job
from map_reduce_ruby_spark.core.compat import InvalidChunkLimit, Mapper, Reducer
from map_reduce_ruby_spark.core.df_adapter import pairs_df, reduce_by_key

__all__ = [
    "pairs_df",
    "reduce_by_key",
    "IncomparableKeyError",
    "SortKey",
    "canonical_json",
    "ruby_cmp",
    "HashPartitioner",
    "Md5Partitioner",
    "Job",
    "Mapper",
    "Reducer",
    "InvalidChunkLimit",
]
