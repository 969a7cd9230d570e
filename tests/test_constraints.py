"""Constraint evaluation: exact violation sets and per-partition
verdicts against the generator's known-by-construction targets."""

import pytest
from pyspark.sql import functions as F

from data_validation_spark.operators.constraints import evaluate_constraints
from data_validation_spark.plans.suite import Component, Constraint, ValidationSuite
from data_validation_spark.sources.sequences import (
    VOCAB_SIZE,
    allowed_sources_df,
)
from tests.conftest import doc


@pytest.fixture(scope="module")
def suite(components):
    return ValidationSuite(
        name="seq_suite",
        components=components,
        partition_cols=["source", "bucket"],
        constraints=[
            Constraint("n_tok_bounds", "bounds",
                       {"component": "n_tok", "min": 1, "max": 8192}),
            Constraint("tokens_not_null", "not_null", {"component": "tokens"}),
            Constraint("length_consistency", "expression",
                       {"sql": "tokens is null or size(tokens) = n_tok"}),
            Constraint("vocab_bounds", "expression",
                       {"sql": f"tokens is null or (array_max(tokens) < {VOCAB_SIZE}"
                               " and array_min(tokens) >= 0)"}),
            Constraint("doc_id_unique", "unique", {"keys": ["doc_id"]}),
            Constraint("source_referential", "referential",
                       {"column": "source", "dim": "allowed_sources"}),
        ])


@pytest.fixture(scope="module")
def crun(sequences, suite, spark):
    run = evaluate_constraints(sequences, suite,
                               dims={"allowed_sources": allowed_sources_df(spark)})
    run.violations.cache().count()
    return run


def _ids_for(crun, constraint):
    rows = (crun.violations
            .filter(F.array_contains("errors", constraint))
            .select("doc_id").collect())
    return sorted(r["doc_id"] for r in rows)


def test_null_tokens_violations(crun, expected_ids):
    assert _ids_for(crun, "tokens_not_null") == \
        sorted(doc(i) for i in expected_ids["null_tokens"])


def test_length_consistency_violations(crun, expected_ids):
    assert _ids_for(crun, "length_consistency") == \
        sorted(doc(i) for i in expected_ids["len_mismatch"])


def test_vocab_bounds_violations(crun, expected_ids):
    assert _ids_for(crun, "vocab_bounds") == \
        sorted(doc(i) for i in expected_ids["oov"])


def test_uniqueness_violations(crun, expected_ids):
    # both rows of each duplicated key are violations; key doc(i-1) shared
    expect = sorted(doc(a) for a, _ in expected_ids["dup_pairs"]) * 2
    assert _ids_for(crun, "doc_id_unique") == sorted(expect)


def test_referential_violations(crun, sequences):
    badsrc = sequences.filter(F.col("source") == "BADSRC").count()
    ids = _ids_for(crun, "source_referential")
    assert len(ids) == badsrc > 0


def test_bounds_pass(crun):
    assert _ids_for(crun, "n_tok_bounds") == []


def test_token_array_equality_invariant(crun, sequences, expected_ids):
    """Every violation row carries the exact original tokens array
    (BASELINE.json:15 per-row invariant)."""
    i = min(expected_ids["oov"])
    orig = sequences.filter(F.col("doc_id") == doc(i)).select("tokens").first()
    viol = (crun.violations.filter(
        (F.col("doc_id") == doc(i))
        & F.array_contains("errors", "vocab_bounds")).select("tokens").first())
    assert viol["tokens"] == orig["tokens"]


def test_verdicts_cover_all_partitions_and_constraints(crun, sequences, suite):
    nparts = sequences.select("source", "bucket").distinct().count()
    verd = crun.verdicts.collect()
    assert len(verd) == nparts * len(suite.constraints)
    # verdict counts reconcile with violation rows
    total = sum(v["n_violations"] for v in verd)
    exploded = crun.violations.select(F.explode("errors")).count()
    assert total == exploded
    # bounds passes everywhere
    assert all(v["passed"] for v in verd if v["constraint"] == "n_tok_bounds")
    # BADSRC partitions fail referential; others pass it
    for v in verd:
        if v["constraint"] == "source_referential":
            assert v["passed"] == (not v["partition"].startswith("source=BADSRC"))


def test_violations_carry_partition_label(crun):
    row = crun.violations.first()
    assert row["partition"].startswith("source=") and "/bucket=" in row["partition"]


def test_validation_tags_shape(sequences, suite, expected_ids):
    """rdv tag-dict reconstruction: feature tags for every component,
    error tags only on violating rows, all carrying the suite group."""
    from data_validation_spark.operators.constraints import validation_tags
    tagged = validation_tags(sequences, suite)
    i = min(expected_ids["oov"])
    row = tagged.filter(F.col("doc_id") == doc(i)).select("tags").first()
    tags = [t.asDict() for t in row["tags"]]
    by_type = {}
    for t in tags:
        by_type.setdefault(t["type"], []).append(t)
    # one feature tag per component, in order
    assert [t["name"] for t in by_type["feature"]] == \
        ["n_tok", "source", "tokens"]
    assert all(t["group"] == "seq_suite" for t in tags)
    # the planted OOV row fires exactly the vocab_bounds error tag
    assert [t["name"] for t in by_type["error"]] == ["vocab_bounds"]
    # a clean row has no error tags
    clean = tagged.filter(F.col("doc_id") == doc(1)).select("tags").first()
    assert all(t["type"] == "feature" for t in clean["tags"])


def test_duplicate_key_counts_matches_row_retrieval(spark, sequences):
    """Key-level report == groupBy of the row-retrieval operator."""
    from data_validation_spark.operators.constraints import (
        duplicate_key_counts, uniqueness_violations)
    from pyspark.sql import functions as F
    dup = sequences.unionByName(sequences.limit(37))
    a = {(r["doc_id"], r["n_rows"]) for r in
         duplicate_key_counts(dup, ["doc_id"]).collect()}
    b = {(r["doc_id"], r["n"]) for r in
         uniqueness_violations(dup, ["doc_id"], [])
         .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    # sequences already carries i%97 dup pairs; the union adds 37 more
    assert a == b and len(a) >= 37


def test_functional_dependency_violations(spark):
    from data_validation_spark.operators.constraints import (
        functional_dependency_violations)
    rows = [(1, "a"), (1, "a"),          # consistent
            (2, "a"), (2, "b"), (2, "b"),  # violates: 2 dependents
            (3, None), (3, "c"),          # NULL counts as distinct
            (4, None), (4, None)]         # consistent (all NULL)
    df = spark.createDataFrame(rows, "k long, v string")
    out = {r.k: (r.n_distinct_dependents, r.n_rows) for r in
           functional_dependency_violations(df, ["k"], "v").collect()}
    assert out == {2: (2, 3), 3: (2, 2)}


def test_fd_and_completeness_constraint_kinds(spark):
    """The deequ-family checks as DECLARATIVE suite kinds: fd flags all
    rows of inconsistent keys; completeness flags NULL rows only when
    the table-level ratio breaks the assertion."""
    from data_validation_spark.operators.constraints import (
        evaluate_constraints)
    from data_validation_spark.plans.suite import (
        Component, Constraint, ValidationSuite)
    rows = [(1, "a", "p0"), (1, "a", "p0"),
            (2, "a", "p0"), (2, "b", "p1"),          # fd violation ×2
            (3, None, "p1"), (4, "c", "p1"), (5, "d", "p0"),
            (6, "e", "p0"), (7, "f", "p1"), (8, "g", "p0")]
    df = spark.createDataFrame(rows, "k long, v string, part string")
    suite = ValidationSuite(
        name="dq", components=[Component("v", "categoric")],
        partition_cols=["part"],
        constraints=[
            Constraint("k_determines_v", "fd",
                       {"determinant": ["k"], "dependent": "v"}),
            Constraint("v_complete_strict", "completeness",
                       {"component": "v", "min_ratio": 0.95}),
            Constraint("v_complete_loose", "completeness",
                       {"component": "v", "min_ratio": 0.5}),
        ])
    assert suite.schema_errors(df) == []
    run = evaluate_constraints(df, suite)
    by = {(r["k"], e) for r in run.violations.collect()
          for e in r["errors"]}
    # fd: both rows of key 2 flagged (and nothing else)
    assert {(k, e) for k, e in by if e == "k_determines_v"} == {
        (2, "k_determines_v")}
    # strict completeness (9/10 = 0.9 < 0.95): the NULL row flagged
    assert (3, "v_complete_strict") in by
    # loose completeness (0.9 >= 0.5): no violations at all
    assert not any(e == "v_complete_loose" for _, e in by)
    verd = {r.constraint: r.passed for r in
            run.verdicts.groupBy("constraint")
            .agg(F.min("passed").alias("passed")).collect()}
    assert verd == {"k_determines_v": False, "v_complete_strict": False,
                    "v_complete_loose": True}


def test_fd_completeness_schema_preflight(spark):
    from data_validation_spark.plans.suite import (
        Component, Constraint, ValidationSuite)
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    suite = ValidationSuite(
        name="bad", components=[Component("v", "categoric")],
        constraints=[
            Constraint("f1", "fd", {"determinant": ["nope"],
                                    "dependent": "v"}),
            Constraint("f2", "fd", {"determinant": ["k"],
                                    "dependent": "gone"}),
            Constraint("c1", "completeness", {"component": "v"}),
        ])
    errs = "\n".join(suite.schema_errors(df))
    assert "'nope' missing" in errs and "'gone' missing" in errs
    assert "needs 'min_ratio'" in errs


def test_join_rule_constraint_kind(spark):
    """Cross-table row rule: purchases must occur at or after the
    user's signup; missing signup = violation (fail-closed NULL)."""
    import datetime as dt
    from data_validation_spark.operators.constraints import (
        evaluate_constraints)
    from data_validation_spark.plans.suite import (
        Component, Constraint, ValidationSuite)
    t0 = dt.datetime(2026, 1, 1)
    ev = spark.createDataFrame(
        [(1, 10, t0 + dt.timedelta(days=2), "p0"),   # after signup: ok
         (2, 10, t0 - dt.timedelta(days=1), "p0"),   # BEFORE signup
         (3, 11, t0, "p1"),                          # exact: ok
         (4, 99, t0, "p1")],                         # user never signed up
        "event_id long, user_id long, ts timestamp, part string")
    signups = spark.createDataFrame(
        [(10, t0), (11, t0)], "user_id long, signup_ts timestamp")
    suite = ValidationSuite(
        name="jr", components=[Component("event_id", "numeric")],
        partition_cols=["part"],
        constraints=[Constraint(
            "purchase_after_signup", "join_rule",
            {"dim": "signups", "on": ["user_id"],
             "sql": "ts >= signup_ts"})])
    assert suite.schema_errors(ev) == []
    run = evaluate_constraints(ev, suite, dims={"signups": signups})
    bad = sorted(r.event_id for r in run.violations.collect())
    assert bad == [2, 4]
    # pre-flight lists missing params/columns
    bad_suite = ValidationSuite(
        name="jr2", components=[Component("event_id", "numeric")],
        constraints=[Constraint("r", "join_rule", {"on": ["ghost"]})])
    errs = "\n".join(bad_suite.schema_errors(ev))
    assert "needs 'dim'" in errs and "'ghost' missing" in errs


def test_runner_evaluates_dq_kinds_end_to_end(spark, tmp_path):
    """ADVICE r3 (medium): fd/completeness/join_rule must flow through
    run_validation itself — verdicts, violation rows in the sink, and
    identical counts on the no-sink (counts-only) path."""
    import datetime as dt
    from data_validation_spark.plans.runner import run_validation
    from data_validation_spark.sources.table_provider import TableProvider
    t0 = dt.datetime(2026, 1, 1)
    rows = [(1, 10, "a", t0 + dt.timedelta(days=2), "p0"),
            (2, 10, "a", t0 - dt.timedelta(days=1), "p0"),   # join_rule
            (2, 11, "b", t0, "p1"),                          # fd (key 2)
            (3, 99, None, t0, "p1"),                         # join_rule+null
            (4, 11, "c", t0, "p0"), (5, 10, "d", t0, "p1"),
            (6, 11, "e", t0, "p0"), (7, 10, "f", t0, "p1"),
            (8, 11, "g", t0, "p0"), (2, 10, "a", t0, "p1")]  # fd (key 2)
    df = spark.createDataFrame(
        rows, "k long, user_id long, v string, ts timestamp, part string")
    signups = spark.createDataFrame(
        [(10, t0), (11, t0)], "user_id long, signup_ts timestamp")
    suite = ValidationSuite(
        name="dq_e2e", components=[Component("k", "numeric")],
        partition_cols=["part"],
        constraints=[
            Constraint("k_determines_v", "fd",
                       {"determinant": ["k"], "dependent": "v"}),
            Constraint("v_complete", "completeness",
                       {"component": "v", "min_ratio": 0.95}),
            Constraint("after_signup", "join_rule",
                       {"dim": "signups", "on": ["user_id"],
                        "sql": "ts >= signup_ts"}),
        ])
    # no-sink path: counts-only jobs
    res = run_validation(spark, df, suite,
                         dims={"signups": signups}, resume=False)
    totals = {}
    for v in res.verdicts:
        totals[v["constraint"]] = totals.get(v["constraint"], 0) \
            + v["n_violations"]
    # fd: key 2 appears 3x with 2 distinct v's -> 3 rows flagged
    # completeness: 9/10 < 0.95 -> the one NULL v row
    # join_rule: event before signup + user 99 never signed up
    assert totals == {"k_determines_v": 3, "v_complete": 1,
                      "after_signup": 2}
    # sink path: identical verdicts + rows materialized
    tp = TableProvider(spark, str(tmp_path))
    res2 = run_validation(spark, df, suite, sink=tp,
                          dims={"signups": signups}, resume=False)
    totals2 = {}
    for v in res2.verdicts:
        totals2[v["constraint"]] = totals2.get(v["constraint"], 0) \
            + v["n_violations"]
    assert totals2 == totals
    viol = tp.read("violations")
    got = {(r["k"], e) for r in viol.collect()
           for e in __import__("json").loads(r["errors"])}
    assert got == {(2, "k_determines_v"), (3, "v_complete"),
                   (2, "after_signup"), (3, "after_signup")}


def test_runner_rejects_unknown_constraint_kind(spark):
    from data_validation_spark.plans.runner import run_validation
    df = spark.createDataFrame([(1,)], "k long")
    suite = ValidationSuite(
        name="bad", components=[Component("k", "numeric")],
        constraints=[Constraint("x", "made_up_kind", {})])
    with pytest.raises(ValueError, match="made_up_kind"):
        run_validation(spark, df, suite, resume=False)


def test_join_rule_missing_dim_is_descriptive(spark):
    """dims=None or a missing dimension name must be a clear ValueError
    naming the dimension — not a bare TypeError/KeyError — for every
    kind that reads a dimension, through both entry points."""
    from data_validation_spark.plans.runner import run_validation
    df = spark.createDataFrame([(1, 10)], "k long, user_id long")
    for con in (Constraint("r", "join_rule",
                           {"dim": "signups", "on": ["user_id"],
                            "sql": "true"}),
                Constraint("r", "referential",
                           {"column": "user_id", "dim": "signups"})):
        suite = ValidationSuite(
            name="jr", components=[Component("k", "numeric")],
            constraints=[con])
        for dims in (None, {"other": df}):
            with pytest.raises(ValueError, match="'signups' not provided"):
                evaluate_constraints(df, suite, dims=dims)
            with pytest.raises(ValueError, match="'signups' not provided"):
                run_validation(spark, df, suite, dims=dims, resume=False)
