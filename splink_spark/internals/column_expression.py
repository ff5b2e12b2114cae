"""Lazy column-transform chains applied before comparison.

Reference semantics: splink/internals/column_expression.py:23-367 — a
``ColumnExpression`` is a column name plus an ordered chain of transforms
(lower, substr, regex_extract, nullif, try-parse date/timestamp, cast,
first/last array element) that is applied to the ``_l``/``_r`` suffixed
variants of the column at comparison time.

Native rewrite: each transform is a ``Column -> Column`` function composed in
Python; no SQL strings, no dialects.
"""

from __future__ import annotations

from typing import Callable, Union

from pyspark.sql import Column
from pyspark.sql import functions as F

Transform = Callable[[Column], Column]


class ColumnExpression:
    """A column reference plus a chain of pre-comparison transforms.

    ``spec`` records the transform chain as (method_name, args) tuples so the
    expression is JSON-serializable (model save/load round trip).
    """

    def __init__(
        self,
        name: str,
        transforms: tuple[Transform, ...] = (),
        spec: tuple[tuple, ...] = (),
    ):
        self.name = name
        self.transforms = transforms
        self.spec = spec

    # -- construction helpers -------------------------------------------------
    @staticmethod
    def instantiate(spec: Union[str, "ColumnExpression"]) -> "ColumnExpression":
        if isinstance(spec, ColumnExpression):
            return spec
        return ColumnExpression(spec)

    def as_dict(self) -> dict:
        return {"name": self.name, "transforms": [list(t) for t in self.spec]}

    @staticmethod
    def from_dict(d: Union[str, dict]) -> "ColumnExpression":
        if isinstance(d, str):
            return ColumnExpression(d)
        if "sql" in d:
            return SqlColumnExpression(d["sql"])
        ce = ColumnExpression(d["name"])
        for method, *args in d.get("transforms", []):
            args = args[0] if len(args) == 1 and isinstance(args[0], list) else args
            ce = getattr(ce, method)(*args)
        return ce

    def _with(self, fn: Transform, method: str, *args) -> "ColumnExpression":
        return ColumnExpression(
            self.name, self.transforms + (fn,), self.spec + ((method, list(args)),)
        )

    # -- transform library (reference column_expression.py:115-310) -----------
    def lower(self) -> "ColumnExpression":
        return self._with(F.lower, "lower")

    def upper(self) -> "ColumnExpression":
        return self._with(F.upper, "upper")

    def substr(self, start: int, length: int) -> "ColumnExpression":
        return self._with(lambda c: F.substring(c, start, length), "substr", start, length)

    def cast_to_string(self) -> "ColumnExpression":
        return self._with(lambda c: c.cast("string"), "cast_to_string")

    def regex_extract(self, pattern: str, capture_group: int = 0) -> "ColumnExpression":
        # empty capture -> NULL, mirroring reference dialects.py:208-249
        return self._with(
            lambda c: F.nullif(F.regexp_extract(c, pattern, capture_group), F.lit("")),
            "regex_extract", pattern, capture_group,
        )

    def nullif(self, value) -> "ColumnExpression":
        return self._with(lambda c: F.nullif(c, F.lit(value)), "nullif", value)

    def try_parse_date(self, fmt: str = "yyyy-MM-dd") -> "ColumnExpression":
        # Spark impl in reference dialects.py:481-491: date(try_to_timestamp(c, fmt))
        return self._with(
            lambda c: F.try_to_timestamp(c, F.lit(fmt)).cast("date"),
            "try_parse_date", fmt,
        )

    def try_parse_timestamp(self, fmt: str = "yyyy-MM-dd HH:mm:ss") -> "ColumnExpression":
        return self._with(
            lambda c: F.try_to_timestamp(c, F.lit(fmt)), "try_parse_timestamp", fmt
        )

    def try_parse_iso_timestamp(self) -> "ColumnExpression":
        """ISO-8601 timestamp-or-date parse, unparseable → NULL (the
        reference's default when ``input_is_string`` date levels get no
        ``datetime_format``: DuckDB's try_strptime ISO behavior). Tries full
        timestamp, 'T'-separated with/without zone, then bare date."""
        return self._with(
            lambda c: F.coalesce(
                F.try_to_timestamp(c),
                F.try_to_timestamp(c, F.lit("yyyy-MM-dd'T'HH:mm:ssXXX")),
                F.try_to_timestamp(c, F.lit("yyyy-MM-dd'T'HH:mm:ss")),
                F.try_to_timestamp(c, F.lit("yyyy-MM-dd")),
            ),
            "try_parse_iso_timestamp",
        )

    def access_extreme_array_element(self, first_or_last: str) -> "ColumnExpression":
        if first_or_last not in ("first", "last"):
            raise ValueError("first_or_last must be 'first' or 'last'")
        idx = 1 if first_or_last == "first" else -1
        return self._with(
            lambda c: F.element_at(c, idx), "access_extreme_array_element", first_or_last
        )

    def struct_field(self, field: str) -> "ColumnExpression":
        return self._with(lambda c: c.getField(field), "struct_field", field)

    # -- application -----------------------------------------------------------
    def apply(self, col: Column) -> Column:
        for t in self.transforms:
            col = t(col)
        return col

    def on(self, column_name: str) -> Column:
        return self.apply(F.col(column_name))

    def l(self) -> Column:
        return self.on(f"{self.name}_l")

    def r(self) -> Column:
        return self.on(f"{self.name}_r")

    @property
    def is_pure_column_reference(self) -> bool:
        return not self.transforms

    @property
    def input_columns(self) -> list[str]:
        """Base columns the expression reads."""
        return [self.name]

    def __repr__(self) -> str:  # pragma: no cover
        return f"ColumnExpression({self.name!r}, {len(self.transforms)} transforms)"


# -- SQL-snippet keys (reference block_on("substr(surname,1,2)")) -------------

_SQL_IDENT = __import__("re").compile(r"[A-Za-z_][A-Za-z0-9_]*")
_SQL_KEYWORDS = {
    "AND", "OR", "NOT", "NULL", "IS", "CASE", "WHEN", "THEN", "ELSE", "END",
    "LIKE", "IN", "TRUE", "FALSE", "CAST", "AS", "BETWEEN", "DISTINCT",
    "INT", "BIGINT", "DOUBLE", "FLOAT", "STRING", "DATE", "TIMESTAMP",
    "BOOLEAN", "DECIMAL", "INTERVAL", "DIV",
}


def suffix_sql_identifiers(sql: str, suffix: str) -> str:
    """Append ``suffix`` to every bare column identifier in a SQL snippet,
    leaving function names (identifier followed by '('), SQL keywords,
    numeric literals, and single-quoted string literals untouched —
    ``substr(surname, 1, 2)`` + ``_l`` → ``substr(surname_l, 1, 2)``.
    The reference gets the same effect by prefixing a table alias via
    sqlglot; this lexical rewrite covers the function-call/arithmetic
    snippets block_on documents."""
    out = []
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c in ("'", '"'):  # string literal (Spark treats "..." as a string
            # literal too, with doubled-quote escapes)
            q = c
            j = i + 1
            while j < n:
                if sql[j] == q and not (j + 1 < n and sql[j + 1] == q):
                    break
                j += 2 if sql[j] == q else 1
            out.append(sql[i : j + 1])
            i = j + 1
            continue
        if c.isdigit():  # numeric literal: consume 1e2 / 0xFF / 1.5 verbatim
            j = i
            while j < n and (sql[j].isalnum() or sql[j] in "._"):
                j += 1
            out.append(sql[i:j])
            i = j
            continue
        if c == "`":  # backtick-quoted identifier: suffix INSIDE the quotes
            j = sql.find("`", i + 1)
            if j == -1:
                out.append(sql[i:])
                break
            out.append(f"`{sql[i + 1 : j]}{suffix}`")
            i = j + 1
            continue
        m = _SQL_IDENT.match(sql, i)
        if m:
            tok = m.group(0)
            rest = sql[m.end():].lstrip()
            prev = sql[:i].rstrip()
            is_func = rest.startswith("(")
            is_kw = tok.upper() in _SQL_KEYWORDS
            # alias.col: leave both the qualifier and the field untouched
            is_qualified = prev.endswith(".") or rest.startswith(".")
            out.append(tok if (is_func or is_kw or is_qualified) else tok + suffix)
            i = m.end()
            continue
        out.append(c)
        i += 1
    return "".join(out)


class SqlColumnExpression(ColumnExpression):
    """A blocking key defined by a SQL snippet over BASE column names
    (reference blocking_rule_library.py:162-210 ``block_on("substr(s,1,2)")``).
    ``l()``/``r()`` rewrite the snippet's identifiers with the side suffix;
    ``on(name)`` returns the raw expression (the shape the pre-filter
    key-count estimator groups by)."""

    def __init__(self, sql: str):
        super().__init__(sql)
        self.sql = sql

    def on(self, column_name: str) -> Column:
        for suffix in ("_l", "_r"):
            if column_name == f"{self.name}{suffix}":
                return F.expr(suffix_sql_identifiers(self.sql, suffix))
        return F.expr(self.sql)

    @property
    def is_pure_column_reference(self) -> bool:
        return False

    @property
    def input_columns(self) -> list[str]:
        """The identifiers ``l()``/``r()`` would suffix: column names, not
        function names, keywords or literals (``substr(dob, 1, 4)`` reads
        ``dob``)."""
        import re

        # suffix every identifier with a NUL mark, then read the marks back
        marked = suffix_sql_identifiers(self.sql, "\0")
        found = re.findall(r"`([^`]*)\0`|([A-Za-z_][A-Za-z0-9_]*)\0", marked)
        return list(dict.fromkeys(a or b for a, b in found))

    def as_dict(self) -> dict:
        return {"name": self.sql, "sql": self.sql}

    def __repr__(self) -> str:  # pragma: no cover
        return f"SqlColumnExpression({self.sql!r})"
