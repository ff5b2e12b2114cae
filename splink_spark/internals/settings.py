"""The model: link type, blocking rules, comparisons, prior.

Reference: splink/internals/settings.py:197-670 and settings_creator.py:19-123.
Keeps the same JSON vocabulary (link_type, probability_two_random_records_match,
blocking_rules_to_generate_predictions, comparisons, unique_id_column_name,
source_dataset_column_name, em_convergence, max_iterations, retain flags) so
models interchange at the JSON level.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Optional, Sequence, Union

from .blocking import BlockingRule, CustomRule, _normalise_rule_sql, block_on
from .comparison import Comparison


@dataclass
class Settings:
    link_type: str = "dedupe_only"  # dedupe_only | link_only | link_and_dedupe
    comparisons: list[Comparison] = field(default_factory=list)
    blocking_rules_to_generate_predictions: list[BlockingRule] = field(default_factory=list)
    probability_two_random_records_match: float = 0.0001
    unique_id_column_name: str = "unique_id"
    source_dataset_column_name: Optional[str] = None
    retain_matching_columns: bool = True
    retain_intermediate_calculation_columns: bool = False
    additional_columns_to_retain: list = field(default_factory=list)
    em_convergence: float = 1e-4  # settings_creator.py:33-35
    max_iterations: int = 25
    # output-column prefix customisation (reference settings.py:215-233)
    comparison_vector_value_column_prefix: str = "gamma_"
    bayes_factor_column_prefix: str = "bf_"
    match_weight_column_prefix: str = "mw_"
    term_frequency_adjustment_column_prefix: str = "tf_"

    def __post_init__(self) -> None:
        if self.link_type not in ("dedupe_only", "link_only", "link_and_dedupe"):
            raise ValueError(f"invalid link_type {self.link_type!r}")
        if self.link_type != "dedupe_only" and self.source_dataset_column_name is None:
            self.source_dataset_column_name = "source_dataset"
        self.blocking_rules_to_generate_predictions = [
            _to_rule(r) for r in self.blocking_rules_to_generate_predictions
        ]
        # comparisons name their own gamma/bf/mw/tf columns; push the
        # configured prefixes onto each
        for comp in self.comparisons:
            comp.gamma_prefix = self.comparison_vector_value_column_prefix
            comp.bf_prefix = self.bayes_factor_column_prefix
            comp.mw_prefix = self.match_weight_column_prefix
            comp.tf_prefix = self.term_frequency_adjustment_column_prefix

    # -- conveniences ----------------------------------------------------------
    @property
    def needs_source_dataset(self) -> bool:
        return self.link_type != "dedupe_only"

    @property
    def tf_columns(self) -> list[str]:
        cols: list[str] = []
        for c in self.comparisons:
            for col in c.tf_adjustment_input_columns:
                if col not in cols:
                    cols.append(col)
        return cols

    @property
    def all_probabilities_set(self) -> bool:
        return all(c.all_probabilities_set for c in self.comparisons)

    # -- JSON round-trip (misc.py:19 save_model_to_json) -----------------------
    def as_dict(self) -> dict:
        return {
            "link_type": self.link_type,
            "probability_two_random_records_match": self.probability_two_random_records_match,
            "unique_id_column_name": self.unique_id_column_name,
            "source_dataset_column_name": self.source_dataset_column_name,
            "retain_matching_columns": self.retain_matching_columns,
            "retain_intermediate_calculation_columns": self.retain_intermediate_calculation_columns,
            "additional_columns_to_retain": list(self.additional_columns_to_retain),
            "comparison_vector_value_column_prefix": self.comparison_vector_value_column_prefix,
            "bayes_factor_column_prefix": self.bayes_factor_column_prefix,
            "match_weight_column_prefix": self.match_weight_column_prefix,
            "term_frequency_adjustment_column_prefix": self.term_frequency_adjustment_column_prefix,
            "em_convergence": self.em_convergence,
            "max_iterations": self.max_iterations,
            "blocking_rules_to_generate_predictions": [
                r.spec if r.spec else {"builder": "CustomRule", "args": [r.description], "kwargs": {}}
                for r in self.blocking_rules_to_generate_predictions
            ],
            "comparisons": [c.as_dict() for c in self.comparisons],
            "sql_dialect": "spark",
        }

    def to_json(self, path: Optional[str] = None) -> str:
        s = json.dumps(self.as_dict(), indent=2, default=float)
        if path:
            with open(path, "w") as f:
                f.write(s)
        return s

    @staticmethod
    def from_dict(d: dict) -> "Settings":
        from .blocking import rule_from_spec

        def _rule(r):
            if isinstance(r, str):
                return CustomRule(_normalise_rule_sql(r))
            if "builder" in r:
                return rule_from_spec(r)
            # reference-format dict: {"blocking_rule": sql,
            # "salting_partitions": n, "arrays_to_explode": [...]}
            # (reference blocking.py BlockingRule.as_dict)
            return CustomRule(
                _normalise_rule_sql(r["blocking_rule"]),
                arrays_to_explode=r.get("arrays_to_explode"),
                salting_partitions=int(r.get("salting_partitions", 1)),
            )

        rules = [
            _rule(r) for r in d.get("blocking_rules_to_generate_predictions", [])
        ]
        return Settings(
            link_type=d.get("link_type", "dedupe_only"),
            comparisons=[Comparison.from_dict(c) for c in d.get("comparisons", [])],
            blocking_rules_to_generate_predictions=rules,
            probability_two_random_records_match=d.get(
                "probability_two_random_records_match", 0.0001
            ),
            unique_id_column_name=d.get("unique_id_column_name", "unique_id"),
            source_dataset_column_name=d.get("source_dataset_column_name"),
            retain_matching_columns=d.get("retain_matching_columns", True),
            retain_intermediate_calculation_columns=d.get(
                "retain_intermediate_calculation_columns", False
            ),
            additional_columns_to_retain=list(
                d.get("additional_columns_to_retain", [])
            ),
            comparison_vector_value_column_prefix=d.get(
                "comparison_vector_value_column_prefix", "gamma_"
            ),
            bayes_factor_column_prefix=d.get("bayes_factor_column_prefix", "bf_"),
            match_weight_column_prefix=d.get("match_weight_column_prefix", "mw_"),
            term_frequency_adjustment_column_prefix=d.get(
                "term_frequency_adjustment_column_prefix", "tf_"
            ),
            em_convergence=d.get("em_convergence", 1e-4),
            max_iterations=d.get("max_iterations", 25),
        )

    @staticmethod
    def from_json(path_or_str: str) -> "Settings":
        import os

        if os.path.exists(path_or_str):
            with open(path_or_str) as f:
                d = json.load(f)
        else:
            d = json.loads(path_or_str)
        return Settings.from_dict(d)


def _to_rule(rule: Union[str, BlockingRule]) -> BlockingRule:
    if isinstance(rule, BlockingRule):
        return rule
    return CustomRule(rule)


def referenced_base_columns(settings: Settings) -> list[str]:
    """Every base input column the model reads: comparison inputs, TF
    columns, blocking-rule columns, and additional_columns_to_retain.
    ``block_on`` rules contribute the columns of their key expressions
    (``substr(dob, 1, 4)`` reads ``dob``); other rules contribute their
    parsed equality keys plus any suffixed ``<col>_l`` / ``<col>_r``
    identifiers found in the (normalised) rule SQL outside string
    literals."""
    import re

    cols: list[str] = []

    def add(c):
        if c and c not in cols:
            cols.append(c)

    for comp in settings.comparisons:
        for c in comp.input_columns or []:
            add(c)
        for c in comp.tf_adjustment_input_columns:
            add(c)
    for rule in settings.blocking_rules_to_generate_predictions:
        if rule.input_columns is not None:
            for c in rule.input_columns:
                add(c)
            continue
        for c in rule.columns or []:
            add(c)
        sql = _normalise_rule_sql(rule.description or "")
        spans = re.split(r"('(?:[^'\\]|\\.|'')*')", sql)
        for i, s in enumerate(spans):
            if i % 2 == 0:
                # backticked identifiers may contain spaces; strip them out
                # before the bare-token scan so "SUR name_l" doesn't
                # misparse as a column called "name"
                for m in re.finditer(r"`([^`]+)_[lr]`", s):
                    add(m.group(1))
                s = re.sub(r"`[^`]*`", " ", s)
                for m in re.finditer(r"\b([A-Za-z_]\w*?)_[lr]\b", s):
                    add(m.group(1))
    for c in settings.additional_columns_to_retain:
        add(c)
    return cols


def validate_settings_columns(
    settings: Settings, available_columns: Sequence[str]
) -> list[str]:
    """Missing-column check (the raise-free core of the reference's
    settings_validation/log_invalid_columns.py): returns every base column
    the model references that no input frame provides. The unique-id column
    is checked by the caller (a hard error, not a warning)."""
    avail = {c.lower() for c in available_columns}
    return sorted(
        c for c in referenced_base_columns(settings) if c.lower() not in avail
    )


def SettingsCreator(
    link_type: str = "dedupe_only",
    comparisons: Sequence[Comparison] = (),
    blocking_rules_to_generate_predictions: Sequence[Union[str, BlockingRule]] = (),
    **kw,
) -> Settings:
    """Constructor mirroring the reference's ``SettingsCreator`` keyword API."""
    return Settings(
        link_type=link_type,
        comparisons=list(comparisons),
        blocking_rules_to_generate_predictions=list(blocking_rules_to_generate_predictions),
        **kw,
    )
