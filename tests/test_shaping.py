"""Shaping operator semantics over an OnaData-style fixture (FIXTURES.md
§2): the settings matrix from app/schemas/configuration.py:6-14."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from duva_spark.shaping import (
    ExportSettings,
    apply_export_settings,
    flatten_group_names,
    rename_to_labels,
    split_select_multiple,
    unsplit_select_multiple,
)
from duva_spark.shaping.ops import join_reviews, show_choice_labels, unflatten_groups
from reference_folds import apply_export_settings_fold


@pytest.fixture(scope="module")
def submissions(spark):
    return spark.createDataFrame(
        [
            (1, "alice", "water health", "f", "district-1"),
            (2, "bob", "edu", "m", "district-2"),
            (3, "carol", None, "f", "district-1"),
        ],
        "`_id` long, respondent string, services_used string, "
        "`demographics/gender` string, `demographics/location/district` string",
    )


CHOICES = ["water", "health", "edu"]


def test_split_binary(spark, submissions):
    out = split_select_multiple(submissions, "services_used", CHOICES, binary_select_multiples=True)
    r = {row._id: row for row in out.collect()}
    assert (r[1]["services_used/water"], r[1]["services_used/health"], r[1]["services_used/edu"]) == (1, 1, 0)
    assert r[3]["services_used/water"] == 0  # null multi-select → 0 flags


def test_split_value_and_choice_labels(spark, submissions):
    out = split_select_multiple(
        submissions,
        "services_used",
        CHOICES,
        value_select_multiples=True,
        choice_labels={"water": "Clean water"},
    )
    r = {row._id: row for row in out.collect()}
    assert r[1]["services_used/water"] == "Clean water"
    assert r[1]["services_used/edu"] is None
    assert r[2]["services_used/edu"] == "edu"


def test_split_boolean_mode(spark, submissions):
    out = split_select_multiple(
        submissions, "services_used", CHOICES,
        value_select_multiples=False, binary_select_multiples=False,
    )
    r = {row._id: row for row in out.collect()}
    assert r[1]["services_used/water"] is True
    assert r[2]["services_used/water"] is False


def test_unsplit_roundtrip(spark, submissions):
    split = split_select_multiple(submissions, "services_used", CHOICES, binary_select_multiples=True)
    back = unsplit_select_multiple(split.drop("services_used"), "services_used", CHOICES)
    r = {row._id: row["services_used"] for row in back.collect()}
    assert r[1] == ["water", "health"]
    assert r[2] == ["edu"]
    assert r[3] == []


def test_flatten_group_names(submissions):
    out = flatten_group_names(submissions)
    assert "gender" in out.columns and "district" in out.columns
    assert "demographics/gender" not in out.columns


def test_flatten_collision_keeps_qualified_name(spark):
    df = spark.createDataFrame([(1, "a", "b")], "id long, `g1/x` string, `g2/x` string")
    out = flatten_group_names(df)
    assert "x" in out.columns and "g2/x" in out.columns  # second keeps prefix


@pytest.mark.parametrize(
    "schema, shape, want",
    [
        ("`a/b` string, b string", flatten_group_names, ["_id", "a/b", "b"]),
        ("`g/X` string, x string", flatten_group_names, ["_id", "g/X", "x"]),
        (
            "x string, b string",
            lambda df: rename_to_labels(df, {"x": "b", "b": "q"}),
            ["_id", "b", "q"],
        ),
        (
            "a string, b string",
            lambda df: rename_to_labels(df, {"a": "Q", "b": "Q"}),
            ["_id", "Q", "b"],
        ),
        (
            "`g/x` string, y string",
            lambda df: apply_export_settings(
                df, ExportSettings(do_not_split_select_multiple=True), question_labels={"x": "Y"}
            ),
            ["_id", "x", "y"],
        ),
    ],
    ids=["child-then-plain", "child-differs-in-case", "label-is-a-name", "shared-label", "bundle"],
)
def test_renames_keep_names_unique_and_sync(spark, tmp_path, schema, shape, want):
    """A rename whose target another output column already resolves to
    keeps the old name, so the extract has no two columns one name and
    the sync's write succeeds."""
    from duva_spark.sinks import full_refresh, read_dataset

    df = spark.createDataFrame([(1, "v1", "v2")], "`_id` long, " + schema)
    out = shape(df)
    assert out.columns == want
    assert len({c.lower() for c in out.columns}) == len(out.columns)
    path = str(tmp_path / "extract")
    assert full_refresh(out, path) == 1
    back = read_dataset(spark, path)
    assert back.columns == want and [tuple(r) for r in back.collect()] == [(1, "v1", "v2")]


def test_unflatten_groups(submissions):
    out = unflatten_groups(submissions)
    assert "demographics" in out.columns
    row = out.filter(F.col("_id") == 1).collect()[0]
    assert row.demographics.gender == "f"


def test_rename_to_labels(submissions):
    out = rename_to_labels(submissions, {"respondent": "What is your name?"})
    assert "What is your name?" in out.columns


def test_show_choice_labels(spark):
    df = spark.createDataFrame([(1, "f"), (2, "m"), (3, "x")], "id long, gender string")
    out = show_choice_labels(df, "gender", {"f": "Female", "m": "Male"})
    vals = {r.id: r.gender for r in out.collect()}
    assert vals == {1: "Female", 2: "Male", 3: "x"}  # unmapped passes through


def test_join_reviews(spark, submissions):
    reviews = spark.createDataFrame([(1, "approved")], "`_id` long, review_status string")
    out = join_reviews(submissions, reviews)
    r = {row._id: row.review_status for row in out.collect()}
    assert r[1] == "approved" and r[2] is None


def test_apply_export_settings_default_bundle(spark, submissions):
    out = apply_export_settings(
        submissions,
        ExportSettings(binary_select_multiples=False),
        question_labels={"respondent": "Name"},
        select_multiples={"services_used": CHOICES},
        choice_labels={"services_used": {"water": "Clean water"}},
    )
    cols = out.columns
    assert "Name" in cols
    assert "gender" in cols  # groups flattened
    # split columns flattened from services_used/water → water
    assert "water" in cols
    r = {row._id: row for row in out.collect()}
    assert r[1]["water"] == "Clean water"  # value mode + choice label


def test_labels_metadata_roundtrip(spark, submissions, tmp_path):
    from duva_spark.shaping.ops import attach_labels_metadata, labels_of

    out = attach_labels_metadata(submissions, {"respondent": "What is your name?"})
    assert labels_of(out) == {"respondent": "What is your name?"}
    # survives a Parquet round-trip (label metadata is part of the schema)
    p = str(tmp_path / "labeled")
    out.write.parquet(p)
    back = spark.read.parquet(p)
    assert labels_of(back) == {"respondent": "What is your name?"}


# --- dotted question names: identifiers are quoted, never parsed as struct access


@pytest.fixture(scope="module")
def dotted(spark):
    return spark.createDataFrame(
        [(1, "a b", "f"), (2, None, "m")], "id long, `grp/svc.v2` string, `who.sex` string"
    )


def test_split_dotted_question_name(dotted):
    out = split_select_multiple(dotted, "grp/svc.v2", ["a", "b", "c"], binary_select_multiples=True)
    r = {row.id: row for row in out.collect()}
    assert (r[1]["grp/svc.v2/a"], r[1]["grp/svc.v2/b"], r[1]["grp/svc.v2/c"]) == (1, 1, 0)
    assert r[2]["grp/svc.v2/a"] == 0


def test_unsplit_dotted_question_name(dotted):
    split = split_select_multiple(dotted, "grp/svc.v2", ["a", "b", "c"], binary_select_multiples=True)
    back = unsplit_select_multiple(split.drop("grp/svc.v2"), "grp/svc.v2", ["a", "b", "c"])
    assert {row.id: row["grp/svc.v2"] for row in back.collect()} == {1: ["a", "b"], 2: []}


def test_show_choice_labels_dotted_question_name(dotted):
    out = show_choice_labels(dotted, "who.sex", {"f": "Female"})
    assert {row.id: row["who.sex"] for row in out.collect()} == {1: "Female", 2: "m"}


# --- production (one projection) == the withColumn-chain fold

# ``${...}`` is Spark SQL variable-substitution syntax and ordinary XLSForm
# label syntax: it must reach the output as written, never as a conf or
# environment value
ODD_CHOICES = ["water", "health", "edu", "o'k", "naïve", "$5"]
ODD_LABELS = {
    "water": "Eau d'été",
    "health": "back\\slash",
    "edu": "tick`mark ${env:HOME}",
    "naïve": "наивный \\' mix",
    "$5": "How old is ${name}?",
}
QUESTION_LABELS = {"respondent": "Name", "gender": "Sex", "review_status": "Review", "x": "X?"}


@pytest.fixture(scope="module")
def wide(spark):
    """Groups with a colliding child (g1/x, g2/x), a pre-existing column
    named like a split column (grp/services/water), and a null answer."""
    return spark.createDataFrame(
        [
            (1, "alice", "water health o'k $5", "old-1", "f", "a", "b"),
            (2, "bob", "edu naïve ${v}", "old-2", "m", "c", None),
            (3, "carol", None, None, "f", None, "d"),
        ],
        "`_id` long, respondent string, `grp/services` string, `grp/services/water` string, "
        "`demographics/gender` string, `g1/x` string, `g2/x` string",
    )


def _variant(wide, name: str):
    """(frame, choices, choice labels, question labels) per variant:
    ``names-with-${`` puts ``${`` in an input name, a choice and a
    question label (so in output names too); ``duplicate-name`` carries
    two distinct ``respondent`` columns."""
    if name == "names-with-${":
        return (
            wide.withColumn("note ${x}", F.lit("n")),
            [*ODD_CHOICES, "${v}"],
            {**ODD_LABELS, "${v}": "home ${env:HOME}"},
            {**QUESTION_LABELS, "gender": "Sex ${who}"},
        )
    frame = wide.select("*", F.lit("dup").alias("respondent")) if name == "duplicate-name" else wide
    return frame, ODD_CHOICES, ODD_LABELS, QUESTION_LABELS


def _same_frame(got, want):
    assert got.schema == want.schema  # names, order, types, nullability, metadata
    i = got.columns.index("_id")
    assert sorted(got.collect(), key=lambda r: r[i]) == sorted(want.collect(), key=lambda r: r[i])


@pytest.mark.parametrize("variant", ["plain", "names-with-${", "duplicate-name"])
@pytest.mark.parametrize(
    "settings",
    [
        ExportSettings(),  # binary split, flatten, labels
        ExportSettings(binary_select_multiples=False),  # value mode + choice labels
        ExportSettings(binary_select_multiples=False, show_choice_labels=False),
        ExportSettings(binary_select_multiples=False, value_select_multiples=False),  # boolean
        ExportSettings(remove_group_name=False, include_labels_only=False),
        ExportSettings(binary_select_multiples=False, include_reviews=True),
        ExportSettings(do_not_split_select_multiple=True),
    ],
    ids=["binary", "value-labels", "value", "boolean", "no-flatten", "reviews-labels", "no-split"],
)
def test_apply_export_settings_equals_fold(spark, wide, settings, variant):
    frame, choices, labels, question_labels = _variant(wide, variant)
    reviews = spark.createDataFrame(
        [(1, "approved"), (3, "rejected")], "`_id` long, review_status string"
    )
    kwargs = dict(
        question_labels=question_labels,
        select_multiples={"grp/services": choices},
        choice_labels={"grp/services": labels},
        reviews=reviews,
    )
    _same_frame(
        apply_export_settings(frame, settings, **kwargs),
        apply_export_settings_fold(frame, settings, **kwargs),
    )


@pytest.mark.parametrize("variant", ["plain", "names-with-${", "duplicate-name"])
def test_include_labels_attaches_label_metadata(spark, wide, variant):
    """include_labels without include_labels_only keeps the column names
    and carries each question label as column metadata, keyed by the
    names after flattening (``g1/x`` → ``x``; ``g2/x`` keeps its name);
    both ``respondent`` columns of the duplicate frame are labelled.
    With include_labels off, no label is attached."""
    from duva_spark.shaping.ops import labels_of

    frame, choices, _, question_labels = _variant(wide, variant)
    kwargs = dict(question_labels=question_labels, select_multiples={"grp/services": choices})
    out = apply_export_settings(frame, ExportSettings(include_labels_only=False), **kwargs)
    assert labels_of(out) == {
        "respondent": "Name",
        "gender": question_labels["gender"],
        "x": "X?",
    }
    n_respondent = 2 if variant == "duplicate-name" else 1
    labelled = [f.metadata.get("label") for f in out.schema.fields if f.name == "respondent"]
    assert labelled == ["Name"] * n_respondent
    assert "g2/x" in out.columns and "Name" not in out.columns
    off = ExportSettings(include_labels=False, include_labels_only=False)
    assert labels_of(apply_export_settings(frame, off, **kwargs)) == {}


def test_split_keeps_dollar_brace_text_as_written(spark, wide):
    frame, choices, labels, _ = _variant(wide, "names-with-${")
    out = split_select_multiple(frame, "grp/services", choices, choice_labels=labels)
    r = {row._id: row for row in out.collect()}
    assert r[1]["grp/services/$5"] == "How old is ${name}?"
    assert r[2]["grp/services/edu"] == "tick`mark ${env:HOME}"
    assert r[2]["grp/services/${v}"] == "home ${env:HOME}"
    assert r[1]["note ${x}"] == "n"
    plain = split_select_multiple(wide, "grp/services", ["${v}"])
    assert {row._id: row["grp/services/${v}"] for row in plain.collect()} == {1: None, 2: "${v}", 3: None}
    labelled = rename_to_labels(wide, {"respondent": "Name ${who}"})
    assert labelled.columns[1] == "Name ${who}"


@pytest.mark.parametrize("case_sensitive", ["false", "true"])
def test_apply_export_settings_equals_fold_under_case_sensitivity(spark, case_sensitive):
    """``grp/SVC/WATER`` and ``grp/SVC/x`` replace ``grp/SVC/water`` and
    ``grp/svc/X`` in place only when names resolve case-insensitively;
    otherwise they are appended."""
    df = spark.createDataFrame(
        [(1, "WATER x", "old", "X"), (2, None, "old", None)],
        "`_id` long, `grp/SVC` string, `grp/SVC/water` string, `grp/svc/X` string",
    )
    kwargs = dict(
        question_labels={"grp/SVC/x": "X?"},
        select_multiples={"grp/SVC": ["WATER", "x"]},
    )
    settings = ExportSettings(binary_select_multiples=False, remove_group_name=False)
    before = spark.conf.get("spark.sql.caseSensitive")
    spark.conf.set("spark.sql.caseSensitive", case_sensitive)
    try:
        got = apply_export_settings(df, settings, **kwargs)
        _same_frame(got, apply_export_settings_fold(df, settings, **kwargs))
        want_names = {
            "false": ["_id", "grp/SVC", "grp/SVC/WATER", "X?"],
            "true": ["_id", "grp/SVC", "grp/SVC/water", "grp/svc/X", "grp/SVC/WATER", "X?"],
        }
        assert got.columns == want_names[case_sensitive]
    finally:
        spark.conf.set("spark.sql.caseSensitive", before)


def test_fold_case_matches_sparks_resolver(spark):
    """The case-insensitive key agrees with Spark's own resolver on names
    whose Python and Java case mappings differ."""
    from duva_spark.shaping.ops import _fold_case

    resolver = spark._jsparkSession.sessionState().analyzer().resolver()
    pairs = [
        ("Water", "WATER"), ("ς", "σ"), ("İ", "i"), ("ı", "I"), ("ß", "ss"), ("ß", "ẞ"),
        ("ᾀ", "ᾈ"), ("K", "k"), ("ǅ", "ǆ"), ("ﬀ", "FF"), ("ϑ", "θ"), ("ſ", "s"),
        ("𐐀", "𐐨"), ("Straße", "STRASSE"), ("a", "b"),
    ]
    for a, b in pairs:
        assert (_fold_case(a) == _fold_case(b)) == resolver.apply(a, b), (a, b)


def _plan_chain(df) -> list[str]:
    """Node names of the analyzed plan, root first; every node has at
    most one child."""
    plan, names = df._jdf.queryExecution().analyzed(), []
    while True:
        names.append(plan.nodeName())
        children = plan.children()
        if children.size() == 0:
            return names
        assert children.size() == 1, names
        plan = children.apply(0)


def test_export_shaping_is_one_projection(spark, tmp_path):
    """A wide form (12 select-multiples x 8 choices) shapes as ONE Project
    over the scan, not a withColumn per choice."""
    questions = {f"grp{k % 3}/sm{k:02d}": [f"c{j}" for j in range(8)] for k in range(12)}
    schema = "`_id` long, respondent string, " + ", ".join(f"`{q}` string" for q in questions)
    path = str(tmp_path / "wide")
    spark.createDataFrame([(1, "alice", *["c0 c3"] * len(questions))], schema).write.parquet(path)
    src = spark.read.parquet(path)
    out = apply_export_settings(
        src,
        ExportSettings(),
        question_labels={"respondent": "Name"},
        select_multiples=questions,
    )
    chain = _plan_chain(out)
    assert chain[0] == "Project" and len(chain) == 2, chain
    assert len(out.columns) == 2 + 12 * 9
    row = out.collect()[0]  # sm00 keeps the short names, later collisions the qualified ones
    assert (row["c3"], row["c4"], row["grp1/sm01/c3"]) == (1, 0, 1)


def test_labels_metadata_is_one_projection(submissions):
    from duva_spark.shaping.ops import attach_labels_metadata, labels_of

    labels = {"respondent": "Name", "demographics/gender": "Sex", "absent": "ignored"}
    out = attach_labels_metadata(submissions, labels)
    assert out.columns == submissions.columns
    assert labels_of(out) == {"respondent": "Name", "demographics/gender": "Sex"}
    assert _plan_chain(out).count("Project") == _plan_chain(submissions).count("Project") + 1
