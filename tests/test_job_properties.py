"""Property test: Job.run against a pure-Python model of the reference's
semantics (group by key under Ruby ==, fold pairwise, sort by Ruby <=>) on
randomized legal-domain inputs — fidelity evidence beyond the hand-picked
spec ports in test_job.py."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from map_reduce_ruby_spark.core import HashPartitioner, Job, ruby_cmp

# Legal key domain (reference README.md:122-140): strings, numbers, flat
# number-lists. One strategy per comparable type-class so every generated
# batch is mutually comparable (mixed classes raise — tested separately).
_keys_by_class = (
    st.text(alphabet="abcdef", min_size=1, max_size=4),
    st.integers(min_value=-50, max_value=50),
    st.lists(st.integers(min_value=0, max_value=9), min_size=1, max_size=3),
)


def _norm(k):
    return tuple(k) if isinstance(k, list) else k


def _model(pairs):
    """Reference semantics in pure Python: fold per key, key-sorted."""
    acc = {}
    for k, v in pairs:
        nk = _norm(k)
        acc[nk] = acc[nk] + v if nk in acc else v
    import functools

    ordered = sorted(acc, key=functools.cmp_to_key(ruby_cmp))
    return [(k, acc[k]) for k in ordered]


@settings(max_examples=6, deadline=None)
@given(
    st.sampled_from(range(len(_keys_by_class))),
    st.data(),
)
def test_job_matches_reference_model(spark, key_class, data):
    keys = _keys_by_class[key_class]
    pairs = data.draw(
        st.lists(st.tuples(keys, st.integers(-100, 100)), min_size=0, max_size=60)
    )

    job = Job(
        map_fn=lambda kv: [kv],
        reduce_fn=lambda key, a, b: a + b,
        partitioner=HashPartitioner(4),
        num_partitions=4,
    )
    got = job.run(spark, pairs).collect()

    # Per-partition output is key-sorted (O15); merge partitions for the
    # global compare.
    got_norm = sorted(
        ((_norm(k), v) for k, v in got),
        key=lambda kv: __import__("functools").cmp_to_key(ruby_cmp)(kv[0]),
    )
    assert got_norm == _model(pairs)


@settings(max_examples=4, deadline=None)
@given(st.lists(st.tuples(st.text("xyz", min_size=1, max_size=2),
                          st.integers(0, 9)), min_size=1, max_size=30))
def test_no_reduce_preserves_multiset(spark, pairs):
    job = Job(map_fn=lambda kv: [kv], num_partitions=3,
              partitioner=HashPartitioner(3))
    got = job.run(spark, pairs).collect()
    assert sorted(got) == sorted(pairs)


@settings(max_examples=5, deadline=None)
@given(
    st.sampled_from(range(len(_keys_by_class))),
    st.data(),
)
def test_run_arrow_matches_rdd_path_property(spark, key_class, data):
    """run_arrow must agree with run() on randomized legal-domain inputs —
    same grouping (1 == 1.0, arrays element-wise), same fold totals, same
    SHA1 placement modulo num_partitions and the same key order within
    each partition, so each partition's contents are compared. Values ride
    the canonical-JSON wire on the Arrow path, so the compare
    JSON-normalizes both sides."""
    import json

    keys = _keys_by_class[key_class]
    pairs = data.draw(
        st.lists(st.tuples(keys, st.integers(-100, 100)), min_size=0, max_size=50)
    )

    job = Job(
        map_fn=lambda kv: [(kv[0], kv[1])],
        reduce_fn=lambda key, a, b: a + b,
        partitioner=HashPartitioner(4),
        num_partitions=4,
    )
    classic = [
        [(json.dumps(k, separators=(",", ":")), v) for k, v in part]
        for part in job.run(spark, pairs).glom().collect()
    ]

    df = spark.createDataFrame(
        [(json.dumps([k, v]),) for k, v in pairs], "row string"
    ) if pairs else None
    if df is None:
        return  # empty input: nothing to compare (run_arrow needs a frame)
    arrow_job = Job(
        map_fn=lambda s: [tuple(json.loads(s))],
        reduce_fn=lambda key, a, b: a + b,
        partitioner=HashPartitioner(4),
        num_partitions=4,
    )
    arrow = [
        [(r.k, json.loads(r.v)) for r in part]
        for part in arrow_job.run_arrow(spark, df).rdd.glom().collect()
    ]
    assert arrow == classic
