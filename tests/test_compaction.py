"""Compaction packing (``snapshots._compaction_groups``): the greedy
exclusive-cumsum bin-pack that ``snapshot_compact`` groups small files
with.  Pure driver arithmetic, so no JVM; ``test_snapshots.py`` checks
that compaction keeps every row."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from flow_spark.operators.snapshots import _compaction_groups


def test_oversize_file_sits_alone():
    groups = _compaction_groups([("big", 1000), ("a", 10), ("b", 10), ("c", 10)], 100)
    # the oversize file fills group 0 by itself; the small ones share the next
    assert groups == {0: ["big"], 10: ["a", "b", "c"]}  # floor(1000/100)


@given(
    sizes=st.lists(st.integers(min_value=1, max_value=500), min_size=1, max_size=30),
    target=st.integers(min_value=10, max_value=300),
)
@settings(max_examples=15, deadline=None)
def test_packing_invariants(sizes, target):
    groups = _compaction_groups([(f"f{i}", s) for i, s in enumerate(sizes)], target)
    paths = sorted(p for ps in groups.values() for p in ps)
    assert paths == sorted(f"f{i}" for i in range(len(sizes)))  # each file once
    size_of = {f"f{i}": s for i, s in enumerate(sizes)}
    max_file = max(sizes)
    for ps in groups.values():
        # greedy bound: group total < target + one file
        assert sum(size_of[p] for p in ps) < target + max_file
    # group ids are the exclusive-cumsum quotients: contiguous from 0
    assert min(groups) == 0
