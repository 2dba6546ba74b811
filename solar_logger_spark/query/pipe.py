"""SQL pipe statements: how a Flux pipeline reaches Spark in one call.

Spark's SQL pipe syntax (``FROM t |> WHERE … |> AGGREGATE … GROUP BY …
|> ORDER BY …``) has the same shape as a Flux pipeline, so each builder
stage appends one ``|>`` operator to a :class:`Statement` and the whole
pipeline reaches the analyzer and optimizer as one ``spark.sql`` call.
User values only ever enter as named parameters (``:p0``) and names
only as backtick-quoted identifiers, so no user text becomes SQL text.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from solar_logger_spark.operators.litfast import ident_s

# Flux comparison → SQL operator
OPS = {
    "==": "=", "!=": "!=", ">": ">", ">=": ">=", "<": "<", "<=": "<=",
    "=~": "RLIKE", "in": "IN",
}


def esc(text: str) -> str:
    """SQL text made ``str.format``-ready: its braces doubled."""
    return text.replace("{", "{{").replace("}", "}}")


def ident(name: str) -> str:
    return esc(ident_s(name))


class Statement:
    """One SQL pipe statement being rendered: ``str.format``-ready text
    (a DataFrame source appears as ``{src}``), its named parameters and
    DataFrame sources, and the columns it yields. ``prefix`` keeps the
    names apart when two statements are joined into one."""

    def __init__(self, spark: SparkSession, prefix: str = "") -> None:
        self.spark, self.prefix = spark, prefix
        self.text = ""
        self.args: dict = {}
        self.frames: dict[str, DataFrame] = {}
        self.columns: list[str] = []
        self.df: DataFrame | None = None  # the source, while nothing follows it

    @classmethod
    def over(cls, df: DataFrame, prefix: str = "") -> Statement:
        st = cls(df.sparkSession, prefix)
        name = f"{prefix}src"
        st.frames[name] = df
        st.text = "FROM {" + name + "}"
        st.df, st.columns = df, list(df.columns)
        return st

    def param(self, value) -> str:
        name = f"{self.prefix}p{len(self.args)}"
        self.args[name] = value
        return ":" + name

    def pipe(self, op: str) -> None:
        self.text += "\n|> " + op
        self.df = None

    def select(self, pairs: list[tuple[str, str]]) -> None:
        """``|> SELECT`` of (column, output name) pairs."""
        self.pipe("SELECT " + ", ".join(
            ident(c) if c == out else f"{ident(c)} AS {ident(out)}"
            for c, out in pairs
        ))
        self.columns = [out for _, out in pairs]

    def with_column(self, name: str, expr: str) -> None:
        """Replace the column ``name`` in place with ``expr``, or append
        it (``DataFrame.withColumn``)."""
        if name in self.columns:
            self.pipe(f"SET {ident(name)} = {expr}")
        else:
            self.pipe(f"EXTEND {expr} AS {ident(name)}")
            self.columns.append(name)

    def where_band(self, predicates) -> None:
        """One Flux filter band: its (field, op, value, joiner)
        predicates folded left to right, each joiner combining with the
        predicate before it."""
        out = ""
        for p in predicates:
            col = ident(p.field)
            if p.op != "in":
                term = f"({col} {OPS[p.op]} {self.param(p.value)})"
            elif vals := (p.value if isinstance(p.value, (list, tuple, set)) else [p.value]):
                term = f"({col} IN ({', '.join(self.param(v) for v in vals)}))"
            else:
                term = "FALSE"
            out = f"({out} {'OR' if p.joiner == 'or' else 'AND'} {term})" if out else term
        self.pipe("WHERE " + out)

    def where_hours(self, ts: str, start: int, stop: int) -> None:
        """Flux hourSelection: the naive hour-of-day of ``ts`` in
        ``[start, stop]``, both inclusive; ``start > stop`` wraps
        midnight."""
        h, joiner = f"hour({ident(ts)})", "AND" if start <= stop else "OR"
        self.pipe(
            f"WHERE (({h} >= {self.param(start)}) {joiner} ({h} <= {self.param(stop)}))"
        )

    def sql(self) -> str:
        """The text as ``spark.sql`` takes it (formatted by pyspark
        itself when there are DataFrame sources)."""
        return self.text if self.frames else self.text.format()

    def frame(self) -> DataFrame:
        if self.df is not None:
            return self.df
        return self.spark.sql(self.sql(), self.args, **self.frames)

    def join(self, other: Statement, keys: Sequence[str], how: str) -> Statement:
        """Both statements as the CTEs of one ``USING`` join statement."""
        st = Statement(self.spark)
        st.text = (
            f"WITH `_left` AS ({self.text}), `_right` AS ({other.text})\n"
            f"FROM `_left`\n|> {how} `_right` USING "
            f"({', '.join(ident(k) for k in keys)})"
        )
        st.args = {**self.args, **other.args}
        st.frames = {**self.frames, **other.frames}
        st.columns = [*keys, *(c for c in self.columns if c not in keys),
                      *(c for c in other.columns if c not in keys)]
        return st
