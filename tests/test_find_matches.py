"""find_matches_to_new_records: output oracle, TF-cache lifecycle, and
serving-path hygiene (cached frames and Spark jobs per request)."""

from __future__ import annotations

import pytest

import splink_spark.internals.comparison_library as cl
from splink_spark import Linker, SettingsCreator, block_on

# the serving output's column order: scores, match_key, every compared _l
# column, every _r column, gammas (the ids + junction shape's order, which
# the carry-through join keeps)
EXPECTED_COLUMNS = [
    "match_weight", "match_probability", "match_key",
    "unique_id_l", "surname_l", "first_name_l", "city_l", "tf_surname_l",
    "unique_id_r", "surname_r", "first_name_r", "city_r", "tf_surname_r",
    "gamma_surname", "gamma_first_name", "gamma_city",
]

# Spark jobs one request runs in the test session (AQE off, one TF column):
# the probe's TF broadcast, the probe evaluation, one probe broadcast per
# blocking rule and the result stage
MAX_JOBS_PER_REQUEST = 5


def _set(comp, mus):
    for lv in comp.comparison_levels:
        if lv.is_null_level:
            continue
        lv.m_probability, lv.u_probability = mus[lv.comparison_vector_value]
    return comp


def _linker(persons):
    settings = SettingsCreator(
        comparisons=[
            _set(
                cl.ExactMatch("surname", term_frequency_adjustments=True),
                {1: (0.9, 0.02), 0: (0.1, 0.98)},
            ),
            _set(
                cl.LevenshteinAtThresholds("first_name", [2]),
                {2: (0.8, 0.01), 1: (0.15, 0.09), 0: (0.05, 0.9)},
            ),
            _set(cl.ExactMatch("city"), {1: (0.8, 0.2), 0: (0.2, 0.8)}),
        ],
        blocking_rules_to_generate_predictions=[block_on("dob"), block_on("email")],
        probability_two_random_records_match=0.05,
    )
    return Linker(persons, settings)


@pytest.fixture(scope="module")
def linker(persons):
    lk = _linker(persons)
    yield lk
    lk.misc.invalidate_cache()


def _probe(spark, persons, uid0=100):
    return spark.createDataFrame(
        [
            # found by both rules (dob and email match records 0 and 1)
            (uid0, "julia", "taylor", "2015-10-29", "london", "julia.t@mail.com", -1),
            # found by the email rule only
            (uid0 + 1, "oliver", "smith", "1999-09-09", "leeds", "osmith@mail.com", -1),
            # null blocking keys: never blocked
            (uid0 + 2, "grace", "jones", None, "london", None, -1),
            # null dob, found by email
            (uid0 + 3, "amir", "khan", None, None, "ak@x.org", -1),
            # id colliding with base record 3
            (3, "oliver", "smyth", "1984-03-02", "york", None, -1),
            # surname absent from the base TF table
            (uid0 + 4, "zed", "newname", "2001-12-25", "bristol", "zli@x.org", -1),
        ],
        persons.schema,
    )


def _rows(df, cols):
    return sorted(
        (tuple(r[c] for c in cols) for r in df.select(*cols).collect()), key=repr
    )


def test_find_matches_equals_predict_between(spark, persons, linker):
    new = _probe(spark, persons)
    out = linker.inference.find_matches_to_new_records(new)
    assert out.columns == EXPECTED_COLUMNS
    got = _rows(out, EXPECTED_COLUMNS)
    want = _rows(
        linker.inference.predict_between(linker.df_concat(), new), EXPECTED_COLUMNS
    )
    assert got == want
    pairs = {(r[3], r[8]): r[2] for r in got}  # (uid_l, uid_r) -> match_key
    # each pair once, with the first rule that finds it
    assert len(pairs) == len(got)
    assert pairs[(0, 100)] == "0" and pairs[(1, 100)] == "0"
    assert pairs[(3, 101)] == "1"
    assert pairs[(9, 103)] == "1"
    assert (3, 3) in pairs  # colliding ids are still a (base, new) pair
    assert not any(uid_r == 102 for _, uid_r in pairs)
    by_pair = {(r[3], r[8]): r for r in got}
    assert by_pair[(11, 104)][12] is None  # no TF for an unseen surname


def test_registered_tf_lookup_reaches_find_matches(spark, persons):
    linker = _linker(persons)
    try:
        old = linker.tf_tables()["surname"]
        linker.df_concat_with_tf().count()  # populate the TF cache
        assert old.storageLevel.useMemory
        lookup = spark.createDataFrame(
            [("taylor", 0.5), ("smith", 0.25)], "surname string, tf_surname double"
        )
        linker.table_management.register_term_frequency_lookup(lookup, "surname")
        assert not old.storageLevel.useMemory and not old.storageLevel.useDisk
        out = linker.inference.find_matches_to_new_records(
            _probe(spark, persons)
        ).collect()
        tf = {(r["surname_l"], r["surname_r"]): (r["tf_surname_l"], r["tf_surname_r"])
              for r in out}
        assert tf[("taylor", "taylor")] == (0.5, 0.5)
        assert tf[("smith", "smith")] == (0.25, 0.25)
        assert tf[("khan", "khan")] == (None, None)
    finally:
        linker.misc.invalidate_cache()


def test_serving_requests_hold_caches_and_jobs_steady(spark, persons):
    sc = spark.sparkContext
    linker = _linker(persons)
    try:
        sizes, jobs = [], []
        for i in range(20):
            new = _probe(spark, persons, uid0=1000 + 10 * i)
            group = f"find_matches_hygiene_{i}"
            sc.setJobGroup(group, group)
            try:
                linker.inference.find_matches_to_new_records(new).collect()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            sizes.append(sc._jsc.getPersistentRDDs().size())
        assert sizes[1:] == [sizes[0]] * 19, sizes
        assert max(jobs[1:]) <= MAX_JOBS_PER_REQUEST, jobs
    finally:
        linker.misc.invalidate_cache()


def test_find_matches_with_exploding_rule_equals_predict_between(spark):
    """Exploding rules keep the ids-only join + junction on the serving
    path; rows must still equal predict_between's."""
    base = spark.createDataFrame(
        [
            (1, "ann", "lee", ["a", "b"]),
            (2, "ann", "lee", ["b"]),
            (3, "bob", "kim", ["c"]),
            (4, "cat", "lee", None),
        ],
        "unique_id long, first_name string, surname string, tags array<string>",
    )
    settings = SettingsCreator(
        comparisons=[
            _set(
                cl.ExactMatch("surname", term_frequency_adjustments=True),
                {1: (0.9, 0.02), 0: (0.1, 0.98)},
            ),
            _set(cl.ExactMatch("first_name"), {1: (0.8, 0.1), 0: (0.2, 0.9)}),
        ],
        blocking_rules_to_generate_predictions=[
            block_on("tags", arrays_to_explode=["tags"]),
            block_on("surname"),
        ],
        probability_two_random_records_match=0.1,
    )
    linker = Linker(base, settings)
    try:
        new = spark.createDataFrame(
            [(10, "ann", "lee", ["b", "c"]), (1, "dan", "kim", None)], base.schema
        )
        out = linker.inference.find_matches_to_new_records(new)
        want = linker.inference.predict_between(linker.df_concat(), new)
        assert out.columns == want.columns
        got = _rows(out, out.columns)
        assert got == _rows(want, out.columns) and len(got) > 0
    finally:
        linker.misc.invalidate_cache()


def test_find_matches_link_job_with_shared_uids_pairs_each_record_once(spark):
    """uids are unique only per source dataset: a base record must pair
    with a new record once, not once per base record sharing its uid."""
    a = spark.createDataFrame(
        [(1, "ann"), (2, "bob")], "unique_id long, first_name string"
    )
    b = spark.createDataFrame(
        [(1, "ann"), (3, "cat")], "unique_id long, first_name string"
    )
    settings = SettingsCreator(
        link_type="link_only",
        comparisons=[
            _set(cl.ExactMatch("first_name"), {1: (0.9, 0.1), 0: (0.1, 0.9)})
        ],
        blocking_rules_to_generate_predictions=[block_on("first_name")],
        probability_two_random_records_match=0.1,
    )
    linker = Linker({"a": a, "b": b}, settings)
    try:
        new = spark.createDataFrame(
            [{"unique_id": 9, "first_name": "ann", "source_dataset": "new"}],
            linker.df_concat().schema,
        )
        out = linker.inference.find_matches_to_new_records(new).collect()
        assert sorted((r["source_dataset_l"], r["unique_id_l"]) for r in out) == [
            ("a", 1), ("b", 1)
        ]
    finally:
        linker.misc.invalidate_cache()
