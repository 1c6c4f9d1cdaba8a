"""Shaping operators over XLSForm submission DataFrames.

Semantics per setting (SURVEY §2a-ii; reference citations inline). All
operators are pure column projections/renames — zero shuffles — except
join_reviews (a broadcast left join).

One projection: the export shaping (select-multiple split, group
flattening, label rename) is planned in plain Python over ``df.columns``
as one ``(sql_expr, output_name)`` pair per output column and issued as
ONE ``selectExpr``: one DataFrame call and one plan analysis per
shaping, however wide the form. A ``withColumn`` per choice cost ~6
Column calls each (every pyspark Column call is several py4j round
trips) and re-analysed an ever deeper plan; a ``withColumns`` of
``F.expr`` columns, which lets Spark resolve the names, measured ~4x
the single ``selectExpr`` (traced ``sync`` benchmark, 4 cores).
`_Projection` replays ``withColumn`` semantics (an existing column,
matched by Spark's resolver, is replaced in place; a new one is
appended). A rename (group flattening, labels) is positional, one step
over the pre-rename names, and never gives two output columns one
name: a column whose target another output column resolves to keeps
its name. Names match exactly under ``spark.sql.caseSensitive=true``,
else by `_fold_case`, the key of Java's ``equalsIgnoreCase`` that the
resolver uses. `split_select_multiple`, `flatten_group_names`,
`rename_to_labels` and `apply_export_settings` all build through it;
the optional review join is the only step outside it.

Quoting rule: every identifier in generated SQL goes through
`quote_ident` (backticks, an inner backtick doubled), so a dotted or
slashed question name is never parsed as struct access, and every
string literal goes through `quote_str` (single quotes, ``\\`` and
``'`` backslash-escaped, ``$`` written ``\\u0024``). Spark's SQL parser
first replaces ``${...}`` in the text with a conf or environment value
(``spark.sql.variable.substitute``, on by default) and decodes the
escape only after that, so a label such as ``How old is ${name}?``
stays as written. A backticked name has no such escape, and SQL text
cannot tell apart two columns whose names resolve alike: a frame with
either is read through positional stand-in names, and output names
holding ``${`` (a ``${...}`` choice, a label-renamed column) are set
after the ``selectExpr``; both renames are ``toDF`` calls, which parse
nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def quote_ident(name: str) -> str:
    """``name`` as a SQL identifier: backticked, inner backticks doubled."""
    return "`" + name.replace("`", "``") + "`"


def quote_str(value: str) -> str:
    """``value`` as a SQL string literal under Spark's default (escaping)
    string-literal parser, kept from ``${...}`` variable substitution."""
    escaped = value.replace("\\", "\\\\").replace("'", "\\'").replace("$", "\\u0024")
    return "'" + escaped + "'"


def _fold_case(name: str) -> str:
    """``name``'s key under Spark's case-insensitive resolver, Java's
    ``equalsIgnoreCase``: per character the lower case of its upper case,
    each a one-character mapping as Java's are (Python's ``ß`` → ``SS``
    is not, so ``ß`` stays; ``İ`` lowers to ``i`` plus a combining dot,
    of which Java keeps the ``i``)."""
    return "".join((u if len(u := c.upper()) == 1 else c).lower()[0] for c in name)


class _Projection:
    """The output of a chain of ``withColumn`` steps and positional renames
    over ``df``, kept as one SQL expression over ``df``'s own
    columns per output column and issued as a single ``selectExpr``."""

    def __init__(self, df: DataFrame):
        self._df = df
        self.names = df.columns
        self._in_names = list(self.names)
        sensitive = df.sparkSession.conf.get("spark.sql.caseSensitive") == "true"
        self._key = str if sensitive else _fold_case
        self._reindex()
        # SQL text cannot name a column holding ``${``, nor one of two
        # that resolve alike: such a frame is read through stand-ins
        self._stand_ins = (
            [f"_c{i}" for i in range(len(self.names))]
            if len(self._at) < len(self.names) or _unquotable(self.names)
            else None
        )
        self._identity = [quote_ident(c) for c in self._stand_ins or self.names]
        self.exprs = list(self._identity)

    def ref(self, name: str) -> str:
        """An expression over ``df`` for the column currently called
        ``name`` (what ``F.col(name)`` resolves to at this step)."""
        hits = self._at.get(self._key(name), [])
        if len(hits) != 1:
            return quote_ident(name)  # let analysis report it
        expr = self.exprs[hits[0]]
        return expr if expr.startswith("`") else f"({expr})"

    def with_column(self, name: str, expr: str) -> None:
        """``withColumn(name, expr)``."""
        key = self._key(name)
        hits = self._at.get(key)
        if hits:
            for i in hits:
                self.exprs[i], self.names[i] = expr, name
        else:
            self._at[key] = [len(self.names)]
            self.exprs.append(expr)
            self.names.append(name)

    def rename(self, target_of) -> None:
        """Rename every output column to ``target_of(name)`` in one step
        over the pre-rename names, so renames never cascade. A column
        whose target key is held by another output column keeps its
        pre-rename name: columns that keep their names hold their keys
        first, then renamed columns in order, until no target is
        contested."""
        old = self.names
        targets = [target_of(c) for c in old]
        moving = {i for i, (c, t) in enumerate(zip(old, targets)) if t != c}
        while True:
            taken = {self._key(c) for i, c in enumerate(old) if i not in moving}
            kept = set()
            for i in sorted(moving):
                key = self._key(targets[i])
                if key in taken:
                    kept.add(i)
                taken.add(key)
            if not kept:
                break
            moving -= kept
        self.names = [targets[i] if i in moving else c for i, c in enumerate(old)]
        self._reindex()

    def _reindex(self) -> None:
        # resolver key → output positions bearing that name
        self._at: dict[str, list[int]] = {}
        for i, c in enumerate(self.names):
            self._at.setdefault(self._key(c), []).append(i)

    def split(
        self,
        question: str,
        choices: list[str],
        value_select_multiples: bool,
        binary_select_multiples: bool,
        choice_labels: dict[str, str] | None,
        sep: str,
    ) -> None:
        """One column per declared choice (see `split_select_multiple`)."""
        q = self.ref(question)
        for choice in choices:
            has = f"array_contains(split({q}, ' '), {quote_str(choice)})"
            selected = f"({has} AND {q} IS NOT NULL)"
            if binary_select_multiples:
                expr = f"CAST({selected} AS INT)"
            elif value_select_multiples:
                shown = (choice_labels or {}).get(choice, choice)
                expr = f"CASE WHEN {selected} THEN {quote_str(shown)} END"
            else:
                expr = selected
            self.with_column(f"{question}{sep}{choice}", expr)

    def source(self) -> DataFrame:
        """``df`` as the generated SQL reads it: under its stand-in names
        when it has them."""
        return self._df.toDF(*self._stand_ins) if self._stand_ins else self._df

    def select(self) -> DataFrame:
        """The one ``selectExpr``; ``df`` itself when nothing changed."""
        if self.exprs == self._identity and self.names == self._in_names:
            return self._df
        src = self.source()
        if _unquotable(self.names):
            return src.selectExpr(
                [f"{e} AS `_o{i}`" for i, e in enumerate(self.exprs)]
            ).toDF(*self.names)
        return src.selectExpr(
            [
                e if e == quote_ident(n) else f"{e} AS {quote_ident(n)}"
                for e, n in zip(self.exprs, self.names)
            ]
        )


def _unquotable(names: list[str]) -> bool:
    """Whether a name holds ``${``, which SQL text cannot carry."""
    return any("${" in n for n in names)


def flatten_group_names(df: DataFrame, sep: str = "/") -> DataFrame:
    """remove_group_name=True: strip XLSForm group prefixes
    (``demographics/gender`` → ``gender``; app/schemas/configuration.py:9).

    A column whose short name another output column already resolves to
    (a plain column of that name, or an earlier group's child) keeps its
    qualified name, so the result stays unambiguous.
    """
    proj = _Projection(df)
    proj.rename(lambda c: c.rsplit(sep, 1)[-1])
    return proj.select()


def unflatten_groups(df: DataFrame, sep: str = "/") -> DataFrame:
    """Inverse of group flattening: ``a/b`` columns → nested struct ``a.b``
    (the ArrayType/StructType model the reference's flat CSV lacks,
    SURVEY §1.1)."""
    top: dict[str, list[str]] = {}
    plain: list[str] = []
    for c in df.columns:
        if sep in c:
            top.setdefault(c.split(sep, 1)[0], []).append(c)
        else:
            plain.append(c)
    cols = [F.col(quote_ident(c)) for c in plain]
    for g, children in top.items():
        cols.append(
            F.struct(
                *[F.col(quote_ident(c)).alias(c.split(sep, 1)[1]) for c in children]
            ).alias(g)
        )
    return df.select(*cols)


def rename_to_labels(df: DataFrame, labels: dict[str, str]) -> DataFrame:
    """include_labels_only=True: replace column names with question labels
    entirely (app/schemas/configuration.py:8; release note v0.0.5
    "Include question labels as headers"). A column whose label another
    output column already resolves to keeps its name."""
    proj = _Projection(df)
    proj.rename(lambda c: labels.get(c, c))
    return proj.select()


def split_select_multiple(
    df: DataFrame,
    question: str,
    choices: list[str],
    value_select_multiples: bool = True,
    binary_select_multiples: bool = False,
    choice_labels: dict[str, str] | None = None,
    sep: str = "/",
) -> DataFrame:
    """Default export behavior (do_not_split_select_multiple=False): one
    column per declared choice of a space-delimited select-multiple
    (app/schemas/configuration.py:9-14), named ``{question}{sep}{choice}``
    (replacing a column of that name in place, else appended).

    Column value per mode:
    - binary_select_multiples: 1/0 int flags;
    - value_select_multiples: the choice value (or its label when
      show_choice_labels via `choice_labels`) when selected, else NULL;
    - neither: true/false.

    The choice universe comes from form metadata, NOT from the data — so
    the output schema is deterministic and stable across syncs (the
    schema-drift hazard called out in SURVEY §7).
    """
    proj = _Projection(df)
    proj.split(
        question, choices, value_select_multiples, binary_select_multiples, choice_labels, sep
    )
    return proj.select()


def unsplit_select_multiple(
    df: DataFrame, question: str, choices: list[str], sep: str = "/"
) -> DataFrame:
    """Inverse: per-choice columns → ArrayType column of selected values
    (the native Spark model for select-multiple, SURVEY §1.1)."""
    parts = [
        F.when(
            F.col(quote_ident(f"{question}{sep}{c}")).isNotNull()
            & (F.col(quote_ident(f"{question}{sep}{c}")).cast("string") != "0"),
            F.lit(c),
        )
        for c in choices
    ]
    arr = F.filter(F.array(*parts), lambda x: x.isNotNull())
    return df.withColumn(question, arr).drop(*[f"{question}{sep}{c}" for c in choices])


def show_choice_labels(df: DataFrame, question: str, labels: dict[str, str]) -> DataFrame:
    """show_choice_labels=True for select-one questions: render labels
    instead of underlying values via a literal map lookup (broadcast-free;
    app/schemas/configuration.py:13)."""
    pairs: list = []
    for value, label in labels.items():
        pairs.extend([F.lit(value), F.lit(label)])
    m = F.create_map(*pairs)
    q = F.col(quote_ident(question))
    return df.withColumn(question, F.coalesce(F.element_at(m, q), q))


def join_reviews(df: DataFrame, reviews: DataFrame, key: str = "_id") -> DataFrame:
    """include_reviews=True: append review status/comment/date columns via
    a broadcast left join on the submission id
    (app/schemas/configuration.py:10)."""
    return df.join(F.broadcast(reviews), on=key, how="left")


def apply_export_settings(
    df: DataFrame,
    settings,
    question_labels: dict[str, str] | None = None,
    select_multiples: dict[str, list[str]] | None = None,
    choice_labels: dict[str, dict[str, str]] | None = None,
    reviews: DataFrame | None = None,
) -> DataFrame:
    """Apply the full settings bundle in the reference's effective order:
    select-multiple split → group flatten → review join → labels.
    Everything but the review join is one projection; with a join, the
    label rename is a second one over the joined frame. Labels replace
    the names (``include_labels_only``) or, with ``include_labels``
    alone, ride along as column metadata (`attach_labels_metadata`);
    either way they are keyed by the names after flattening."""
    proj = _Projection(df)
    if not settings.do_not_split_select_multiple:
        for q, choices in (select_multiples or {}).items():
            proj.split(
                q,
                choices,
                settings.value_select_multiples,
                settings.binary_select_multiples,
                (choice_labels or {}).get(q) if settings.show_choice_labels else None,
                "/",
            )
    if settings.remove_group_name:
        proj.rename(lambda c: c.rsplit("/", 1)[-1])
    labels = question_labels if settings.include_labels_only else None
    if settings.include_reviews and reviews is not None:
        out = join_reviews(proj.select(), reviews)
        out = rename_to_labels(out, labels) if labels else out
    else:
        if labels:
            proj.rename(lambda c: labels.get(c, c))
        out = proj.select()
    if settings.include_labels and not settings.include_labels_only and question_labels:
        out = attach_labels_metadata(out, question_labels)
    return out


def attach_labels_metadata(df: DataFrame, labels: dict[str, str]) -> DataFrame:
    """include_labels=True with include_labels_only=False: keep question
    names as column names and carry the labels alongside
    (app/schemas/configuration.py:7-8 — the CSV export emits labels as an
    extra header row; the DataFrame-native equivalent is column
    metadata, which survives Parquet round-trips). One projection: every
    column named by a key of ``labels`` is re-aliased with
    ``{"label": ...}`` as its metadata, the rest pass through. Columns
    are taken by position, through `_Projection`'s stand-in names when
    two of them resolve alike, so each duplicate is labelled too."""
    columns = df.columns
    if not any(c in labels for c in columns):
        return df
    proj = _Projection(df)
    return proj.source().select(
        *[
            F.col(ident).alias(c, metadata={"label": labels[c]} if c in labels else None)
            for ident, c in zip(proj.exprs, columns)
        ]
    )


def labels_of(df: DataFrame) -> dict[str, str]:
    """Read back attached question labels."""
    return {
        f.name: f.metadata["label"]
        for f in df.schema.fields
        if f.metadata and "label" in f.metadata
    }
