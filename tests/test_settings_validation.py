"""Missing-column settings validation (reference
tests/test_settings_validation.py + settings_validation/log_invalid_columns.py:
referenced-but-absent columns are surfaced as a warning log; a missing
unique-id column is a hard error)."""

from __future__ import annotations

import logging

import pytest

import splink_spark.internals.comparison_library as cl
from splink_spark import Linker, SettingsCreator, block_on
from splink_spark.internals.settings import (
    validate_settings_columns,
)


def _settings(*comps, rules=()):
    return SettingsCreator(
        link_type="dedupe_only",
        comparisons=list(comps),
        blocking_rules_to_generate_predictions=list(rules),
    )


def test_valid_settings_report_nothing(persons):
    s = _settings(
        cl.ExactMatch("surname"), cl.LevenshteinAtThresholds("first_name", 2),
        rules=[block_on("dob"), "l.city = r.city"],
    )
    assert validate_settings_columns(s, persons.columns) == []


def test_missing_columns_reported_per_source(persons):
    s = _settings(
        cl.ExactMatch("surname"),
        cl.ExactMatch("full_name"),  # not in the frame
        rules=[
            block_on("dob"),
            "l.invalid_col = r.invalid_col",  # reference test case
            "levenshtein(l.email, r.emails) <= 2",  # typo'd side
        ],
    )
    s.additional_columns_to_retain = ["also_invalid"]
    missing = validate_settings_columns(s, persons.columns)
    assert missing == ["also_invalid", "emails", "full_name", "invalid_col"]


def test_sql_snippet_block_on_reports_its_columns(persons):
    """``block_on("surname", "substr(dob,1,4)")`` reads surname and dob:
    the function name is not a column, and dob is missing only when the
    frame lacks it."""
    s = _settings(
        cl.ExactMatch("surname"), rules=[block_on("surname", "substr(dob,1,4)")]
    )
    assert validate_settings_columns(s, persons.columns) == []
    assert validate_settings_columns(s, persons.drop("dob").columns) == ["dob"]


def test_linker_warns_on_missing_columns(spark, persons, caplog):
    s = _settings(cl.ExactMatch("full_name"), rules=[block_on("dob")])
    with caplog.at_level(logging.WARNING, logger="splink_spark"):
        Linker(persons, s)
    assert any(
        "missing from input table" in rec.getMessage()
        and "full_name" in rec.getMessage()
        for rec in caplog.records
    )


def test_linker_missing_uid_is_fatal(spark, persons):
    s = _settings(cl.ExactMatch("surname"), rules=[block_on("dob")])
    s.unique_id_column_name = "person_key"
    with pytest.raises(ValueError, match="person_key"):
        Linker(persons, s)


def test_validate_settings_false_skips_checks(spark, persons):
    s = _settings(cl.ExactMatch("full_name"), rules=[block_on("dob")])
    s.unique_id_column_name = "person_key"
    # opts out entirely (reference Linker validate_settings kwarg)
    Linker(persons, s, validate_settings=False)


def test_quoted_literals_not_mistaken_for_columns(persons):
    s = _settings(
        cl.ExactMatch("surname"),
        rules=["l.email = r.email AND l.city = 'not_a_col_l'"],
    )
    assert validate_settings_columns(s, persons.columns) == []


def test_level_dict_literals_not_phantom_input_columns():
    """A single-quoted literal containing ``_l``/``_r`` inside a level's
    sql_condition (e.g. a regex pattern) must not surface as an input column
    — phantom columns trigger spurious missing-column warnings and wrongful
    EM comparison deactivation (reference blanks literal spans before
    scanning identifiers)."""
    from splink_spark.internals.comparison import (
        _infer_input_columns_from_level_dicts,
    )

    cols = _infer_input_columns_from_level_dicts(
        [
            {"sql_condition": (
                "regexp_extract(email_l, 'foo_l') = "
                "regexp_extract(email_r, 'foo_l')")},
            {"sql_condition": "city_l = 'phantom_r' AND city_r = 'phantom_r'"},
        ]
    )
    assert cols == ["email", "city"]


def test_link_job_validates_each_frame_separately(spark, persons, caplog):
    """A column present in one input frame but missing from another must be
    reported against the OFFENDING table — a union-of-columns check lets the
    job pass validation and fail deep inside a blocking plan (the reference
    validates per input table)."""
    other = persons.drop("email")
    s = SettingsCreator(
        link_type="link_only",
        comparisons=[cl.ExactMatch("surname"), cl.ExactMatch("email")],
        blocking_rules_to_generate_predictions=[block_on("dob")],
    )
    with caplog.at_level(logging.WARNING, logger="splink_spark"):
        Linker({"left": persons, "right": other}, s)
    msgs = [r.getMessage() for r in caplog.records]
    assert any("'right'" in m and "email" in m for m in msgs)
    assert not any("'left'" in m and "email" in m for m in msgs)


def test_link_job_missing_uid_names_offending_table(spark, persons):
    other = persons.withColumnRenamed("unique_id", "uid")
    s = SettingsCreator(
        link_type="link_only",
        comparisons=[cl.ExactMatch("surname")],
        blocking_rules_to_generate_predictions=[block_on("dob")],
    )
    with pytest.raises(ValueError, match="right"):
        Linker({"left": persons, "right": other}, s)
