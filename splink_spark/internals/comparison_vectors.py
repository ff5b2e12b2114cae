"""Comparison vectors: blocked pairs with their compared columns, and the
per-comparison gamma values.

Reference: splink/internals/comparison_vector_values.py:41-132 — the junction
re-join (``blocked_id_pairs b JOIN concat_tf l ON uid_l = b.join_key_l JOIN
concat_tf r ...``, :98-115) followed by the gamma CASE ladders.

Here the blocking join carries the compared columns (a narrow projection of
the node table) straight into its output (``build_pairs_with_columns``), so
blocking → gammas → scoring is one pipeline over the node table. The junction
re-join survives only where an id-pair table is the input
(``blocked_pairs_with_columns``). Neither shape counts the node table or
hints a broadcast: the planner and AQE pick the join strategy.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .settings import Settings


def _needed_columns(settings: Settings, concat_with_tf: DataFrame) -> list[str]:
    """Columns the comparisons actually touch (narrow shuffle width)."""
    cols: list[str] = [settings.unique_id_column_name]
    if settings.source_dataset_column_name and (
        settings.source_dataset_column_name in concat_with_tf.columns
    ):
        cols.append(settings.source_dataset_column_name)
    for comp in settings.comparisons:
        for c in getattr(comp, "input_columns", None) or []:
            if c in concat_with_tf.columns and c not in cols:
                cols.append(c)
    for c in getattr(settings, "additional_columns_to_retain", []) or []:
        if c in concat_with_tf.columns and c not in cols:
            cols.append(c)
    tfp = getattr(settings, "term_frequency_adjustment_column_prefix", "tf_")
    for c in settings.tf_columns:
        tf = f"{tfp}{c}"
        if tf in concat_with_tf.columns and tf not in cols:
            cols.append(tf)
    known = {c for comp in settings.comparisons for c in (getattr(comp, "input_columns", None) or [])}
    if not known:  # no declared inputs (custom SQL levels) → carry everything
        return list(concat_with_tf.columns)
    return cols


def blocked_pairs_with_columns(
    blocked_pairs: DataFrame,
    concat_with_tf: DataFrame,
    settings: Settings,
    concat_with_tf_right: Optional[DataFrame] = None,
) -> DataFrame:
    """The junction re-join (comparison_vector_values.py:98-115), for callers
    whose input is an id-pair table: exploding rules, ``score_pairs``,
    registered or chunked blocked pairs, and predict's narrow-core re-join.
    The join strategy (broadcast the narrow node table or sort-merge) is the
    planner's, from the node table's size statistics, and AQE's at runtime.
    """
    uid = settings.unique_id_column_name
    cols = _needed_columns(settings, concat_with_tf)
    narrow_l = concat_with_tf.select([F.col(c).alias(f"{c}_l") for c in cols])
    right_src = concat_with_tf_right if concat_with_tf_right is not None else concat_with_tf
    narrow_r = right_src.select([F.col(c).alias(f"{c}_r") for c in cols])

    join_l = [blocked_pairs["join_key_l"] == narrow_l[f"{uid}_l"]]
    join_r = [blocked_pairs["join_key_r"] == narrow_r[f"{uid}_r"]]
    sd = settings.source_dataset_column_name
    if sd and "source_dataset_l" in blocked_pairs.columns:
        join_l.append(blocked_pairs["source_dataset_l"] == narrow_l[f"{sd}_l"])
        join_r.append(blocked_pairs["source_dataset_r"] == narrow_r[f"{sd}_r"])

    out = blocked_pairs.join(narrow_l, on=_and(join_l), how="inner").join(
        narrow_r, on=_and(join_r), how="inner"
    )
    # drop the pair table's copies by REFERENCE — the node table contributes
    # identically-named source_dataset_l/_r columns that must survive
    out = out.drop(blocked_pairs["join_key_l"]).drop(blocked_pairs["join_key_r"])
    if "source_dataset_l" in blocked_pairs.columns:
        out = out.drop(blocked_pairs["source_dataset_l"]).drop(
            blocked_pairs["source_dataset_r"]
        )
    return out


def build_pairs_with_columns(
    nodes: DataFrame,
    rules,
    settings: Settings,
    nodes_right: Optional[DataFrame] = None,
    link_type: Optional[str] = None,
    source_dataset_column_name: Optional[str] = None,
) -> DataFrame:
    """Blocked pairs WITH their compared columns: the needed node columns
    (``_needed_columns``) are carried through the blocking join itself — one
    join per rule, no ids-only pair table, no junction re-join, no node
    count. The planner and AQE choose the join strategy from the node
    table's statistics (broadcast one side of a small table, sort-merge a
    large one).

    Exploding rules are the exception: their pair dedup must run on ids, so
    they block ids-only and re-attach the columns through the junction join.

    ``link_type`` defaults to the settings'; ``source_dataset_column_name``
    is passed through to ``block_using_rules``.
    """
    from .blocking import block_using_rules

    block = dict(
        link_type=link_type or settings.link_type,
        unique_id_column_name=settings.unique_id_column_name,
        source_dataset_column_name=source_dataset_column_name,
        nodes_right=nodes_right,
    )
    if any(r.exploded_columns for r in rules):
        pairs = block_using_rules(nodes, rules, **block)
        return blocked_pairs_with_columns(
            pairs, nodes, settings, concat_with_tf_right=nodes_right
        )
    return block_using_rules(
        nodes, rules, output_columns=_needed_columns(settings, nodes), **block
    )


def compute_comparison_vectors(
    pairs_with_cols: DataFrame, settings: Settings
) -> DataFrame:
    """Append ``gamma_<comparison>`` columns (the F.when CASE ladders)."""
    gammas = [comp.gamma_column() for comp in settings.comparisons]
    return pairs_with_cols.select("*", *gammas)


def _and(conds):
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out
