"""Property tests for the plan-doctor's plan-TEXT parsers — the two
pure functions every lint verdict rests on (`top_level_groups`,
`node_col`). The behavioral suites
(test_doctor.py, test_plan_lint.py) pin verdicts on real plans; these
pin the parsers on GENERATED inputs, because a parser that mis-splits
one exotic-but-legal rendering silently flips a lint from "swept" to
"skipped" across the whole registry. Spark-free (no session fixture)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from nineinfra_spark.doctor import node_col, top_level_groups

# -- top_level_groups --------------------------------------------------------

_inner = st.text(
    alphabet="abc,#L ()<>:", min_size=0, max_size=12
).filter(lambda s: "[" not in s and "]" not in s)


@given(st.lists(_inner, min_size=0, max_size=5), _inner)
def test_groups_roundtrip_flat(parts, sep):
    """N flat bracket groups joined by arbitrary non-bracket filler
    parse back as exactly those N groups, in order."""
    line = sep + sep.join(f"[{p}]" for p in parts)
    assert top_level_groups(line) == [f"[{p}]" for p in parts]


@given(st.integers(min_value=1, max_value=6), _inner)
def test_groups_nesting_stays_inside(depth, payload):
    """A nested [[..[x]..]] tower is ONE top-level group, whatever the
    depth — nesting never leaks extra groups."""
    line = "Node " + "[" * depth + payload + "]" * depth + " tail"
    groups = top_level_groups(line)
    assert groups == ["[" * depth + payload + "]" * depth]


# -- node_col ----------------------------------------------------------------

@given(st.integers(min_value=0, max_value=12),
       st.sampled_from([": ", ":- ", "+- ", "   "]))
def test_node_col_is_first_non_tree_char(indent, prefix):
    """The node column is the first char outside the tree-drawing
    set, and deeper tree prefixes always give a strictly greater
    column (the ordering feeding_chain relies on)."""
    line = " " * indent + prefix + "Filter (x > 1)"
    deeper = " " * indent + prefix + prefix + "Filter (x > 1)"
    assert line[node_col(line)] == "F"
    assert node_col(deeper) > node_col(line)


def test_node_col_codegen_star_counts_from_star():
    assert node_col("  +- *(3) HashAggregate") == 5  # the '*'


@settings(max_examples=30)
@given(st.text(alphabet=" :+-", min_size=0, max_size=10))
def test_node_col_all_tree_chars_is_line_length(tree_only):
    assert node_col(tree_only) == len(tree_only)
