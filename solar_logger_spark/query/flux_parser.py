"""Parse Flux pipeline text into an executable QueryBuilder.

The reference's only query IR is the Flux *string* its ``QueryBuilder``
accumulates (``src/classes/query_classes.py:73-84``) — so a user of the
reference holds query strings, and switching engines means those strings
must keep working. This parser accepts the reference's fixed grammar

    from(bucket: "B") |> range(start[, stop]) |> filter(...)*
        |> aggregateWindow(every, fn) |> sort(columns, desc) |> limit(n)

in BOTH forms:

* well-formed Flux (what our ``QueryBuilder.to_flux`` renders), and
* the reference's actual broken output, golden-asserted by its own
  tests (SURVEY §2.11.1): unclosed ``aggregateWindow(`` / ``sort(``
  parens (``query_classes.py:134-148``), dangling trailing joiners
  (``== "v" Or ``, ``:123-125``), and Python-cased booleans
  (``desc: True``).

Parsing yields a :class:`FluxPipeline`; ``to_builder`` binds it to a
DataFrame (with optional field-name mapping, e.g. ``_measurement`` →
``measurement``) as a normal QueryBuilder, so parsed text gets the same
corrected execution semantics as natively-built pipelines.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field

from pyspark.sql import DataFrame

from solar_logger_spark.query.builder import QueryBuilder

# a term's value: a quoted string, a regex literal /…/ (which may hold
# ")" and "|"; "\/" escapes a slash), or a bare number/bool
_PRED = re.compile(
    r"r\[\"(?P<field>[^\"]+)\"\]\s*"
    r"(?P<op>==|!=|=~|<=|>=|<|>)\s*"
    r"(?P<value>\"[^\"]*\"|'[^']*'|/(?:\\.|[^/\\])*/|[^\s)]+)"
)
# Flux's membership test: contains(value: r["f"], set: ["a", "b"])
_CONTAINS = re.compile(
    r"contains\(\s*value:\s*r\[\"(?P<field>[^\"]+)\"\]\s*,\s*"
    r"set:\s*\[(?P<set>[^\]]*)\]\s*\)"
)
_SET_ITEM = re.compile(r"\"[^\"]*\"|'[^']*'|[^,\s]+")
_JOINER = re.compile(r"\s*(and|or)\b\s*", re.IGNORECASE)
_FN_HEAD = re.compile(r"\s*fn:\s*\(\s*r\s*\)\s*=>\s*")
# what may follow the last term: the stage's closing paren, or nothing
# (the reference leaves filter parens unclosed)
_BAND_END = re.compile(r"\s*\)?\s*$")
# dotted record access (r._value > 50) — common in hand-written Flux
_DOT_PRED = re.compile(
    r"r\.(?P<field>\w+)\s*"
    r"(?P<op>==|!=|<=|>=|<|>)\s*"
    r"(?P<value>\"[^\"]*\"|'[^']*'|[^\s)]+)"
)


@dataclass
class FluxPipeline:
    bucket: str | None = None
    start: str | None = None
    stop: str | None = None
    bands: list[list[tuple[str, str, object, str]]] = dc_field(
        default_factory=list
    )  # [(field, op, value, joiner-to-previous)]
    agg: tuple[str, str, bool] | None = None  # (every, fn, create_empty)
    group_cols: list[str] | None = None  # group() BEFORE the aggregate
    hour_sel: tuple[int, int] | None = None  # hourSelection() BEFORE it
    transforms: list[tuple[str, dict]] = dc_field(default_factory=list)
    sorts: list[tuple[str, bool]] = dc_field(default_factory=list)
    limit: int | None = None
    offset: int = 0

    def to_builder(
        self,
        source: DataFrame | str,
        field_map: dict[str, str] | None = None,
        **builder_kwargs,
    ) -> QueryBuilder:
        """Bind to a source — a parquet path, a table name or a
        DataFrame, as :class:`QueryBuilder` takes it — as a QueryBuilder
        (corrected semantics). Flux's canonical record fields
        ``_value``/``_time`` map to the builder's value/ts columns unless
        ``field_map`` overrides."""
        qb = QueryBuilder(source, **builder_kwargs)
        fmap = {"_value": qb.value_col, "_time": qb.ts_col}
        fmap.update(field_map or {})
        if self.group_cols is not None:
            qb = qb.group([fmap.get(c, c) for c in self.group_cols])
        if self.start is not None or self.stop is not None:
            qb = qb.range(self.start, self.stop)
        if self.hour_sel is not None:
            qb = qb.hour_selection(*self.hour_sel)
        for band in self.bands:
            for i, (fld, op, value, joiner) in enumerate(band):
                qb = qb.filter(
                    fmap.get(fld, fld),
                    value,
                    op=op,
                    joiner=joiner if i else None,
                    new_band=(i == 0),
                )
        if self.agg is not None:
            every, fn, create_empty = self.agg
            qb = qb.aggregate_window(every, fn, create_empty=create_empty)
        for name, params in self.transforms:
            params = dict(params)
            if "columns" in params:
                c = params["columns"]
                if isinstance(c, dict):
                    params["columns"] = {
                        fmap.get(k, k): v for k, v in c.items()
                    }
                else:
                    params["columns"] = [fmap.get(x, x) for x in c]
            if "predicate_src" in params:
                from pyspark.sql import functions as F

                fld, op, value = params.pop("predicate_src")
                col = F.col(fmap.get(fld, fld))
                params["predicate"] = {
                    "==": col == value,
                    "!=": col != value,
                    ">": col > value,
                    ">=": col >= value,
                    "<": col < value,
                    "<=": col <= value,
                }[op]
            for key in ("row_key", "column_key"):
                if key in params:
                    params[key] = [fmap.get(c, c) for c in params[key]]
            if "value_column" in params:
                params["value_column"] = fmap.get(
                    params["value_column"], params["value_column"]
                )
            if "column" in params:  # duplicate(column:)
                params["column"] = fmap.get(params["column"], params["column"])
            if "expr_ast" in params:
                ast = params.pop("expr_ast")
                params["target"] = fmap.get(params["target"], params["target"])
                params["column"] = _ast_to_column(ast, fmap)
            if "reduce_fields" in params:
                params["aggs"] = _reduce_aggs(
                    params.pop("reduce_fields"), fmap
                )
            qb = qb.transform(name, **params)
        for fld, desc in self.sorts:
            qb = qb.sort(fmap.get(fld, fld), desc=desc)
        if self.limit is not None:
            qb = qb.limit(self.limit, offset=self.offset)
        return qb


def _unquote(tok: str):
    tok = tok.strip()
    if len(tok) >= 2 and tok[0] == tok[-1] and tok[0] in "\"'":
        return tok[1:-1]
    try:
        return int(tok)
    except ValueError:
        pass
    try:
        return float(tok)
    except ValueError:
        return tok


def _term_value(tok: str):
    """A filter term's value: a regex literal ``/…/`` reads as its
    pattern, ``true``/``false`` as bools, anything else as
    :func:`_unquote` reads it."""
    if len(tok) >= 2 and tok[0] == tok[-1] == "/":
        return tok[1:-1].replace("\\/", "/")
    if tok.lower() in ("true", "false"):
        return tok.lower() == "true"
    return _unquote(tok)


def _strarg(tok: str) -> str:
    """A string argument from a ``_parse_args`` token: quoted tokens
    already exclude the call's closing paren (the regex's quoted
    alternative stops at the closing quote), so only an UNQUOTED token
    may carry a trailing ``)`` to strip — rstrip-ing after unquoting
    would corrupt a legitimate value ending in ')' (r12 ADVICE fix,
    e.g. ``set(key: "src", value: "region(east)")``)."""
    tok = tok.strip()
    if tok[:1] in "\"'":
        return str(_unquote(tok))
    return str(_unquote(tok.rstrip(")")))


def _parse_args(body: str) -> dict[str, str]:
    """``key: value`` pairs from a stage body; tolerant of a missing
    closing paren and of list values (``columns: ["a", "b"]``)."""
    out: dict[str, str] = {}
    for m in re.finditer(
        r"(\w+)\s*:\s*(\[[^\]]*\]|\"[^\"]*\"|'[^']*'|[^,)]+)", body
    ):
        out[m.group(1)] = m.group(2).strip()
    return out


def _parse_band(stage: str, body: str) -> list[tuple[str, str, object, str]]:
    """One ``filter(fn: (r) => ...)`` body → its band of
    ``(field, op, value, joiner-to-previous)`` terms. Every term must
    read as a comparison or a ``contains(value:, set:)`` membership
    test: a term that reads as neither raises rather than being
    dropped, since dropping it would widen the filter. A dangling
    trailing joiner (reference bug) has no term after it and is
    dropped, which is the documented intent."""
    head = _FN_HEAD.match(body)
    if not head:
        raise ValueError(f"filter stage without fn: (r) =>: {stage!r}")
    band: list[tuple[str, str, object, str]] = []
    pos, joiner = head.end(), "and"
    while m := _PRED.match(body, pos) or _CONTAINS.match(body, pos):
        if m.re is _PRED:
            value = _term_value(m.group("value").rstrip(")"))
            band.append((m.group("field"), m.group("op"), value, joiner))
        else:
            values = [_term_value(t) for t in _SET_ITEM.findall(m.group("set"))]
            band.append((m.group("field"), "in", values, joiner))
        pos = m.end()
        j = _JOINER.match(body, pos)
        if not j:
            break
        joiner, pos = j.group(1).lower(), j.end()
    if not band or not _BAND_END.match(body, pos):
        raise ValueError(f"unreadable filter term {body[pos:]!r} in {stage!r}")
    return band


def parse_flux(text: str) -> FluxPipeline:
    """Parse pipeline text (well-formed or reference-broken) into a
    :class:`FluxPipeline`. Raises ``ValueError`` on stages outside the
    reference grammar."""
    pipe = FluxPipeline()
    stages = [s.strip() for s in text.split("|>")]
    for stage in stages:
        if not stage:
            continue
        head = re.match(r"([\w.]+)\s*\(", stage)  # dots: interpolate.linear
        if not head:
            raise ValueError(f"unparseable stage: {stage!r}")
        name = head.group(1)
        body = stage[head.end():]
        if name == "from":
            args = _parse_args(body)
            if "bucket" in args:
                pipe.bucket = str(_unquote(args["bucket"]))
        elif name == "range":
            args = _parse_args(body)
            if "start" in args:
                pipe.start = str(_unquote(args["start"]))
            if "stop" in args:
                pipe.stop = str(_unquote(args["stop"]))
        elif name == "filter":
            pipe.bands.append(_parse_band(stage, body))
        elif name == "aggregateWindow":
            args = _parse_args(body)
            if "every" not in args or "fn" not in args:
                raise ValueError(f"aggregateWindow needs every+fn: {stage!r}")
            create_empty = str(
                args.get("createEmpty", "false")
            ).strip().lower() in ("true", "1")
            pipe.agg = (
                str(_unquote(args["every"])),
                str(_unquote(args["fn"])).rstrip(")"),
                create_empty,
            )
        elif name == "sort":
            args = _parse_args(body)
            cols = re.findall(r"[\"']([^\"']+)[\"']", args.get("columns", ""))
            desc = str(args.get("desc", "false")).rstrip(")").strip().lower() == "true"
            for c in cols:
                pipe.sorts.append((c, desc))
        elif name == "limit":
            args = _parse_args(body)
            pipe.limit = int(str(_unquote(args.get("n", "0"))).rstrip(")"))
            if "offset" in args:
                pipe.offset = int(str(_unquote(args["offset"])).rstrip(")"))
        elif name == "group":
            # group() placed before aggregateWindow re-keys the aggregate
            # itself; after it, it re-keys only later stages. Position in
            # the stage list decides which.
            cols = re.findall(
                r"[\"']([^\"']+)[\"']", _parse_args(body).get("columns", "")
            )
            if pipe.agg is None and not pipe.transforms:
                pipe.group_cols = cols
            else:
                pipe.transforms.append(("group", {"columns": cols}))
        elif name == "hourSelection":
            # like group(): before the aggregate it filters the raw
            # rows (a scan-side conjunct); after it, it filters the
            # aggregated rows by their window label's hour
            args = _parse_args(body)
            if "start" not in args or "stop" not in args:
                raise ValueError(f"hourSelection needs start:+stop:: {body!r}")
            hs = (
                int(str(_unquote(args["start"])).rstrip(")")),
                int(str(_unquote(args["stop"])).rstrip(")")),
            )
            if pipe.agg is None and not pipe.transforms:
                pipe.hour_sel = hs
            else:
                pipe.transforms.append(
                    ("hourSelection", {"start": hs[0], "stop": hs[1]})
                )
        elif name == "yield":
            # yield(name:) names a result stream; with one result per
            # pipeline it is a no-op — accepted so real user strings
            # (which almost always end in yield) parse unchanged
            continue
        elif name in QueryBuilder.TRANSFORMS:
            # group and hourSelection never get here: their own
            # branches above handle them
            pipe.transforms.append(_parse_transform(name, body))
        else:
            raise ValueError(f"unsupported stage {name!r}")
    return pipe


def _unit_seconds(tok: str) -> float:
    from solar_logger_spark.durations import parse_duration

    dur = parse_duration(str(tok))
    if dur.months:
        raise ValueError(f"calendar units not valid here: {tok!r}")
    return float(dur.seconds)


def _parse_transform(name: str, body: str) -> tuple[str, dict]:
    """Flux stdlib transform stage → (name, builder params). These are
    beyond the reference's emitted grammar but are the stages its Flux
    backend documents next to ``aggregateWindow`` — accepted so user
    pipeline strings that grew past the reference keep working."""
    args = _parse_args(body)
    params: dict = {}
    if name in ("movingAverage", "exponentialMovingAverage", "top", "bottom",
                "tail"):
        params["n"] = int(str(_unquote(args.get("n", "5"))).rstrip(")"))
    elif name == "relativeStrengthIndex":
        params["n"] = int(str(_unquote(args.get("n", "14"))).rstrip(")"))
    elif name in ("chandeMomentumOscillator", "kaufmansER",
                  "kaufmansAMA", "doubleEMA", "tripleEMA",
                  "tripleExponentialDerivative",
                  "highestMax", "highestAverage", "highestCurrent",
                  "lowestMin", "lowestAverage", "lowestCurrent"):
        # Flux requires n: on both — fail at parse time, not plan time
        if "n" not in args:
            raise ValueError(f"{name} needs n:: {body!r}")
        params["n"] = int(str(_unquote(args["n"])).rstrip(")"))
    elif name == "histogramQuantile":
        # histogramQuantile(quantile: 0.9, minValue: 0.0) — consumes
        # the cumulative histogram(bins:) stage upstream
        if "quantile" not in args:
            raise ValueError(f"histogramQuantile needs quantile:: {body!r}")
        params["quantile"] = float(
            str(_unquote(args["quantile"])).rstrip(")")
        )
        if "minValue" in args:
            params["min_value"] = float(
                str(_unquote(args["minValue"])).rstrip(")")
            )
    elif name == "sample":
        if "n" not in args:
            raise ValueError(f"sample needs n:: {body!r}")
        params["n"] = int(str(_unquote(args["n"])).rstrip(")"))
        if "pos" in args:
            params["pos"] = int(str(_unquote(args["pos"])).rstrip(")"))
    elif name == "timeShift":
        if "duration" not in args:
            raise ValueError(f"timeShift needs duration: {body!r}")
        params["duration"] = str(_unquote(args["duration"])).rstrip(")")
    elif name in ("elapsed", "stateDuration", "integral") and "unit" in args:
        # bare integral(unit:) — Flux default 1s; the trapezoid area
        # comes out in value·unit
        params["unit_seconds"] = _unit_seconds(
            str(_unquote(args["unit"])).rstrip(")")
        )
    elif name == "timedMovingAverage":
        # Flux timedMovingAverage(every:, period:) — mean over the
        # trailing `period`, one row per `every` boundary
        if "every" not in args or "period" not in args:
            raise ValueError(
                f"timedMovingAverage needs every: + period:: {body!r}"
            )
        params["every"] = str(_unquote(args["every"])).rstrip(")")
        params["period"] = str(_unquote(args["period"])).rstrip(")")
        # Spark's window() requires stride <= width; period < every is
        # also not a moving average (gaps between windows) — reject
        # with a named error instead of a plan-time AnalysisException
        if _unit_seconds(params["period"]) < _unit_seconds(params["every"]):
            raise ValueError(
                "timedMovingAverage needs period >= every "
                f"(got every={params['every']}, period={params['period']})"
            )
    elif name == "holtWinters":
        # seasonality: 0 (Flux default) = non-seasonal Holt smoothing;
        # >= 1 = the additive seasonal recursion. alpha/beta/gamma are
        # beyond-Flux tuning knobs (Flux fits them; ours are pinned for
        # reproducibility — documented divergence, see builder)
        params["seasonality"] = int(
            str(_unquote(args.get("seasonality", "0"))).rstrip(")")
        )
        for k in ("alpha", "beta", "gamma"):
            if k in args:
                params[k] = float(str(_unquote(args[k])).rstrip(")"))
    elif name == "interpolate.linear":
        # our stage fills NULL values in place (time-weighted between
        # nearest non-null neighbors); Flux's every:-driven row
        # CREATION at regular intervals is not implemented — reject
        # rather than silently diverge
        if "every" in args:
            raise ValueError(
                "interpolate.linear(every:) row creation is not "
                "supported; the stage fills existing null values"
            )
    elif name == "truncateTimeColumn":
        if "unit" not in args:
            raise ValueError(f"truncateTimeColumn needs unit: {body!r}")
        params["unit_seconds"] = _unit_seconds(
            str(_unquote(args["unit"])).rstrip(")")
        )
    if name == "fill":
        if "value" in args:
            params["value"] = _unquote(str(args["value"]).rstrip("),"))
        else:
            use_prev = str(args.get("usePrevious", "true")).rstrip(")").strip()
            if use_prev.lower() not in ("true", "1"):
                raise ValueError(
                    "fill needs value: or usePrevious: true"
                )
    if name in ("keep", "drop"):
        cols = re.findall(r"[\"']([^\"']+)[\"']", args.get("columns", ""))
        if not cols:
            raise ValueError(f"{name} needs columns: [..]: {body!r}")
        params["columns"] = cols
    if name == "rename":
        # rename(columns: {old: "new", ...})
        mapping = dict(
            re.findall(r"(\w+)\s*:\s*[\"']([^\"']+)[\"']", body)
        )
        if not mapping:
            raise ValueError(f"rename needs columns: {{old: \"new\"}}")
        params["columns"] = mapping
    if name in ("stateCount", "stateDuration", "stateChanges"):
        m = _PRED.search(body) or _DOT_PRED.search(body)
        if not m:
            raise ValueError(f"{name} needs fn: (r) => r.<field> <op> <v>")
        params["predicate_src"] = (
            m.group("field"),
            m.group("op"),
            _unquote(m.group("value").rstrip("),")),
        )
    if name == "events.duration" and "unit" in args:
        params["unit_seconds"] = _unit_seconds(
            str(_unquote(args["unit"])).rstrip(")")
        )
    if name == "set":
        if "key" not in args or "value" not in args:
            raise ValueError(f"set needs key:+value:: {body!r}")
        params["key"] = _strarg(args["key"])
        params["value"] = _strarg(args["value"])
    if name == "histogram":
        # histogram(bins: [0.0, 10.0, 20.0])
        nums = re.findall(r"-?\d+\.?\d*(?:[eE]-?\d+)?", args.get("bins", ""))
        if not nums:
            raise ValueError(f"histogram needs bins: [..]: {body!r}")
        params["bins"] = [float(x) for x in nums]
    if name == "quantile":
        params["q"] = float(_unquote(str(args.get("q", "0.5")).rstrip(")")))
    if name == "duplicate":
        # duplicate(column: "x", as: "y")
        if "column" not in args or "as" not in args:
            raise ValueError(f"duplicate needs column: + as:: {body!r}")
        params["column"] = str(_unquote(str(args["column"]).rstrip(")")))
        params["as"] = str(_unquote(str(args["as"]).rstrip(")")))
    if name == "window":
        # window(every: 1h[, offset: 10m]) — regroup into tumbling windows
        if "every" not in args:
            raise ValueError(f"window needs every:: {body!r}")
        params["every"] = str(_unquote(str(args["every"]).rstrip(")")))
        if "offset" in args:
            params["offset"] = str(_unquote(str(args["offset"]).rstrip(")")))
    if name == "derivative":
        nn = str(args.get("nonNegative", "false")).rstrip(")").strip().lower()
        if nn in ("true", "1"):
            params["non_negative"] = True
    if name == "pivot":
        # pivot(rowKey: ["_time"], columnKey: ["_field"], valueColumn: "_value")
        def _cols(key: str) -> list[str]:
            return re.findall(r"[\"']([^\"']+)[\"']", args.get(key, ""))

        row_key, col_key = _cols("rowKey"), _cols("columnKey")
        if not col_key:
            raise ValueError(f"pivot needs columnKey: [..]: {body!r}")
        params["column_key"] = col_key
        if row_key:
            params["row_key"] = row_key
        if "valueColumn" in args:
            params["value_column"] = str(_unquote(args["valueColumn"]))
    if name == "map":
        # map(fn: (r) => ({ r with <target>: <arith expr> })) — the Flux
        # record-rewrite idiom, restricted to arithmetic over r.<field> /
        # r["field"] and numeric literals
        m = re.search(r"r\s+with\s+([\w.\"\[\]]+)\s*:\s*([^}]*)", body)
        if not m:
            raise ValueError(
                "map supports fn: (r) => ({ r with <field>: <expr> })"
            )
        target = m.group(1).strip()
        tm = re.match(r"r\[\"([^\"]+)\"\]|r\.(\w+)|(\w+)", target)
        params["target"] = next(g for g in tm.groups() if g) if tm else target
        params["source"] = m.group(2).strip()
        params["expr_ast"] = _parse_arith(params["source"])
    if name == "reduce":
        # reduce(fn: (r, accumulator) => ({ f: <expr>, ... }),
        #        identity: {f: <literal>, ...}) — restricted to
        # accumulator updates lowerable to native aggregates (see
        # _reduce_aggs): running sums/counts and if/then/else
        # extremes. r12 (VERDICT task #4).
        mfn = re.search(
            r"fn\s*:\s*\(\s*r\s*,\s*accumulator\s*\)\s*=>\s*"
            r"\(\s*\{(.*?)\}\s*\)",
            body, re.S,
        )
        mid = re.search(r"identity\s*:\s*\{([^}]*)\}", body)
        if not mfn or not mid:
            raise ValueError(
                "reduce needs fn: (r, accumulator) => ({..}) and "
                f"identity: {{..}}: {body!r}"
            )
        idents: dict[str, float] = {}
        for part in _split_top(mid.group(1)):
            pm = re.match(r"\s*(\w+)\s*:\s*(.*)$", part, re.S)
            if not pm:
                raise ValueError(f"reduce identity field: {part!r}")
            lit = _parse_arith(pm.group(2).strip())
            if lit[0] == "neg" and lit[1][0] == "num":
                lit = ("num", -lit[1][1])
            if lit[0] != "num":
                raise ValueError(
                    f"reduce identity must be numeric: {part!r}"
                )
            idents[pm.group(1)] = float(lit[1])
        fields = []
        for part in _split_top(mfn.group(1)):
            pm = re.match(r"\s*(\w+)\s*:\s*(.*)$", part, re.S)
            if not pm:
                raise ValueError(f"reduce fn field: {part!r}")
            fname = pm.group(1)
            if fname not in idents:
                raise ValueError(
                    f"reduce field {fname!r} missing from identity"
                )
            fields.append(
                (fname, _parse_arith(pm.group(2).strip()),
                 idents[fname])
            )
        params["reduce_fields"] = fields
        params["fn_src"] = mfn.group(1).strip()
        params["identity_src"] = mid.group(1).strip()
    return (name, params)


def _split_top(src: str) -> list[str]:
    """Split on commas at paren/bracket depth 0 (call arguments keep
    their commas)."""
    parts, depth, cur = [], 0, []
    for ch in src:
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if "".join(cur).strip():
        parts.append("".join(cur))
    return parts


def _reduce_aggs(fields, fmap):
    """Lower reduce() accumulator updates to native aggregates. The
    recognized shapes (each with its fold-from-identity composition):

    * ``accumulator.f + <expr(r)>`` (either operand order) — a running
      sum -> ``identity + SUM(expr)``. Summing a constant is a count.
      NOTE the standing SQL caveat: a float SUM is evaluation-order
      dependent; exactness-critical reductions should sum integers or
      integer-valued doubles (the registry query does).
    * ``if <expr(r)> >(=) accumulator.f then <expr(r)> else
      accumulator.f`` (and the mirrored comparison) — a running max
      -> ``greatest(identity, MAX(expr))``; ``<``/``<=`` -> min.
    """
    from pyspark.sql import functions as F

    def no_acc(n):
        if n[0] == "accfield":
            return False
        return all(
            no_acc(c) for c in n[1:] if isinstance(c, tuple)
        )

    out = []
    for fname, ast, ident in fields:
        def is_acc(n, _f=fname):
            return n[0] == "accfield" and n[1] == _f

        col = None
        if ast[0] == "bin" and ast[1] == "+":
            l, r = ast[2], ast[3]
            if is_acc(l) and no_acc(r):
                col = F.lit(ident) + F.sum(_ast_to_column(r, fmap))
            elif is_acc(r) and no_acc(l):
                col = F.lit(ident) + F.sum(_ast_to_column(l, fmap))
        elif ast[0] == "if" and ast[1][0] == "cmp":
            _, op, cl, cr = ast[1]
            a, b = ast[2], ast[3]
            ext = None
            if (is_acc(cr) and no_acc(cl) and a == cl and is_acc(b)):
                ext = "max" if op in (">", ">=") else "min"
                expr = cl
            elif (is_acc(cl) and no_acc(cr) and is_acc(a) and b == cr):
                ext = "max" if op in (">", ">=") else "min"
                expr = cr
            if ext == "max":
                col = F.greatest(
                    F.lit(ident), F.max(_ast_to_column(expr, fmap))
                )
            elif ext == "min":
                col = F.least(
                    F.lit(ident), F.min(_ast_to_column(expr, fmap))
                )
        if col is None:
            raise ValueError(
                f"reduce: unsupported accumulator update for "
                f"{fname!r} — supported: accumulator.{fname} + "
                f"<expr>, if <expr> OP accumulator.{fname} then ... "
                f"else accumulator.{fname}"
            )
        out.append(col.alias(fname))
    return out


# -- restricted expression language for map()/reduce() ------------------
#
# r12 (VERDICT task #4): grown from pure arithmetic to the next stages
# a Flux user actually writes — conditionals (``if c then a else b``),
# comparisons, and/or/not, string literals, and a compiled subset of
# the ``strings.*`` / ``math.*`` stdlib packages (named-argument call
# syntax), all lowered to native JVM Column expressions.
_TOKEN = re.compile(
    r"\s*(?:(?P<field>r\[\"[^\"]+\"\]|r\.\w+)"
    r"|(?P<acc>accumulator\.\w+)"
    r"|(?P<str>\"[^\"]*\")"
    r"|(?P<num>\d+\.\d*|\.\d+|\d+)"
    r"|(?P<name>[A-Za-z_][\w.]*)"
    r"|(?P<op>==|!=|<=|>=|[-+*/%()<>:,]))"
)

_KEYWORDS = {"if", "then", "else", "and", "or", "not", "true", "false"}

# Flux stdlib subset -> (package.fn, positional arg-name order)
_CALLS = {
    "strings.toUpper": ("v",),
    "strings.toLower": ("v",),
    "strings.trimSpace": ("v",),
    "strings.replaceAll": ("v", "t", "u"),
    "strings.containsStr": ("v", "substr"),
    "strings.strlen": ("v",),
    "strings.substring": ("v", "start", "end"),
    "math.abs": ("x",),
    "math.floor": ("x",),
    "math.ceil": ("x",),
    "math.sqrt": ("x",),
    "math.pow": ("x", "y"),
    "math.exp": ("x",),
    "math.log": ("x",),
}


def _tokenize(src: str) -> list[tuple[str, object]]:
    tokens: list[tuple[str, object]] = []
    pos = 0
    while pos < len(src):
        m = _TOKEN.match(src, pos)
        if not m:
            if src[pos:].strip():
                raise ValueError(
                    f"map: unparseable expression at {src[pos:]!r}"
                )
            break
        if m.group("field"):
            f = m.group("field")
            name = f[3:-2] if f.startswith('r["') else f[2:]
            tokens.append(("field", name))
        elif m.group("acc"):
            tokens.append(("accfield", m.group("acc")[12:]))
        elif m.group("str"):
            tokens.append(("str", m.group("str")[1:-1]))
        elif m.group("num"):
            tokens.append(("num", float(m.group("num"))))
        elif m.group("name"):
            name = m.group("name")
            if name in _KEYWORDS:
                tokens.append(("kw", name))
            else:
                tokens.append(("name", name))
        else:
            tokens.append(("op", m.group("op")))
        pos = m.end()
    return tokens


def _parse_arith(src: str):
    """Parse a map()/reduce() expression into a pure-data AST:
    ``("num", x) | ("str", s) | ("bool-lit", b) | ("field", name) |
    ("accfield", name) | ("neg", a) | ("bin", op, l, r) |
    ("cmp", op, l, r) | ("logic", op, l, r) | ("not", a) |
    ("if", cond, a, b) | ("call", fname, [args])``.
    Standard precedence: if < or < and < not < comparison < additive
    < multiplicative < unary; parens; named-arg stdlib calls."""
    tokens = _tokenize(src)
    if not tokens:
        raise ValueError(f"map: empty expression {src!r}")

    idx = 0

    def peek():
        return tokens[idx] if idx < len(tokens) else (None, None)

    def take():
        nonlocal idx
        tok = tokens[idx]
        idx += 1
        return tok

    def expect(kind, val):
        tok = take()
        if tok != (kind, val):
            raise ValueError(f"map: expected {val!r}, got {tok[1]!r}")

    def call(fname):
        sig = _CALLS.get(fname)
        if sig is None:
            raise ValueError(
                f"map: unsupported function {fname!r}; supported: "
                f"{sorted(_CALLS)}"
            )
        expect("op", "(")
        got: dict[str, object] = {}
        while True:
            kind, argname = take()
            if kind == "kw":
                kind = "name"  # arg named like a keyword (none today)
            if kind != "name":
                raise ValueError(
                    f"map: {fname} expects named arguments, got "
                    f"{argname!r}"
                )
            expect("op", ":")
            got[argname] = ifexpr()
            kind, val = peek()
            if (kind, val) == ("op", ","):
                take()
                continue
            expect("op", ")")
            break
        missing = [a for a in sig if a not in got]
        if missing:
            raise ValueError(f"map: {fname} missing args {missing}")
        return ("call", fname, [got[a] for a in sig])

    def factor():
        kind, val = peek()
        if kind == "op" and val == "-":
            take()
            return ("neg", factor())
        if kind == "op" and val == "(":
            take()
            node = ifexpr()
            if peek() != ("op", ")"):
                raise ValueError("map: unbalanced parens")
            take()
            return node
        if kind == "kw" and val in ("true", "false"):
            take()
            return ("bool-lit", val == "true")
        if kind == "name":
            take()
            return call(val)
        if kind in ("num", "field", "str", "accfield"):
            return take()
        raise ValueError(f"map: unexpected token {val!r}")

    def term():
        node = factor()
        while peek()[0] == "op" and peek()[1] in ("*", "/", "%"):
            _, op = take()
            node = ("bin", op, node, factor())
        return node

    def additive():
        node = term()
        while peek()[0] == "op" and peek()[1] in ("+", "-"):
            _, op = take()
            node = ("bin", op, node, term())
        return node

    def cmp():
        node = additive()
        if peek()[0] == "op" and peek()[1] in (
            "==", "!=", "<", "<=", ">", ">="
        ):
            _, op = take()
            node = ("cmp", op, node, additive())
        return node

    def notexpr():
        if peek() == ("kw", "not"):
            take()
            return ("not", notexpr())
        return cmp()

    def andexpr():
        node = notexpr()
        while peek() == ("kw", "and"):
            take()
            node = ("logic", "and", node, notexpr())
        return node

    def orexpr():
        node = andexpr()
        while peek() == ("kw", "or"):
            take()
            node = ("logic", "or", node, andexpr())
        return node

    def ifexpr():
        if peek() == ("kw", "if"):
            take()
            cond = orexpr()
            expect("kw", "then")
            a = ifexpr()
            expect("kw", "else")
            b = ifexpr()
            return ("if", cond, a, b)
        return orexpr()

    node = ifexpr()
    if idx != len(tokens):
        raise ValueError(f"map: trailing tokens in {src!r}")
    return node


def _ast_to_column(ast, fmap: dict[str, str]):
    """Bind a map()/reduce() AST to Spark Columns (field names via
    ``fmap``). ``strings.*`` / ``math.*`` calls compile to the
    equivalent built-in JVM functions — never a Python UDF. Documented
    mirror notes: ``math.floor``/``ceil`` return float (Flux
    semantics; Spark's integral result is cast back), ``substring`` is
    0-based start-inclusive/end-exclusive (Flux) mapped onto Spark's
    1-based form."""
    from pyspark.sql import functions as F

    kind = ast[0]
    if kind == "num":
        return F.lit(ast[1])
    if kind == "str":
        return F.lit(ast[1])
    if kind == "bool-lit":
        return F.lit(ast[1])
    if kind == "field":
        return F.col(fmap.get(ast[1], ast[1]))
    if kind == "accfield":
        raise ValueError(
            "accumulator.<field> is only meaningful inside reduce()"
        )
    if kind == "neg":
        return -_ast_to_column(ast[1], fmap)
    if kind == "not":
        return ~_ast_to_column(ast[1], fmap)
    if kind == "if":
        return F.when(
            _ast_to_column(ast[1], fmap), _ast_to_column(ast[2], fmap)
        ).otherwise(_ast_to_column(ast[3], fmap))
    if kind == "cmp":
        _, op, left, right = ast
        lc, rc = _ast_to_column(left, fmap), _ast_to_column(right, fmap)
        return {
            "==": lc == rc, "!=": lc != rc, "<": lc < rc,
            "<=": lc <= rc, ">": lc > rc, ">=": lc >= rc,
        }[op]
    if kind == "logic":
        _, op, left, right = ast
        lc, rc = _ast_to_column(left, fmap), _ast_to_column(right, fmap)
        return lc & rc if op == "and" else lc | rc
    if kind == "call":
        _, fname, args = ast
        cols = [_ast_to_column(a, fmap) for a in args]
        if fname == "strings.toUpper":
            return F.upper(cols[0])
        if fname == "strings.toLower":
            return F.lower(cols[0])
        if fname == "strings.trimSpace":
            return F.trim(cols[0])
        if fname == "strings.replaceAll":
            return F.replace(cols[0], cols[1], cols[2])
        if fname == "strings.containsStr":
            return F.contains(cols[0], cols[1])
        if fname == "strings.strlen":
            return F.length(cols[0])
        if fname == "strings.substring":
            # Flux: 0-based start inclusive, end exclusive
            return F.substring(
                cols[0],
                (cols[1] + F.lit(1)).cast("int"),
                (cols[2] - cols[1]).cast("int"),
            )
        if fname == "math.abs":
            return F.abs(cols[0])
        if fname == "math.floor":
            return F.floor(cols[0]).cast("double")
        if fname == "math.ceil":
            return F.ceil(cols[0]).cast("double")
        if fname == "math.sqrt":
            return F.sqrt(cols[0])
        if fname == "math.pow":
            return F.pow(cols[0], cols[1])
        if fname == "math.exp":
            return F.exp(cols[0])
        if fname == "math.log":
            return F.log(cols[0])
    _, op, left, right = ast
    lc, rc = _ast_to_column(left, fmap), _ast_to_column(right, fmap)
    if op == "+":
        return lc + rc
    if op == "-":
        return lc - rc
    if op == "*":
        return lc * rc
    if op == "/":
        return lc / rc
    return lc % rc


# -- multi-pipeline scripts: assignments + join()/union() ----------------

@dataclass
class FluxScript:
    """A parsed multi-statement Flux script::

        a = from(bucket: "x") |> range(...) |> ...
        b = from(bucket: "y") |> ...
        join(tables: {a: a, b: b}, on: ["_time"]) |> ...

    ``pipelines`` holds each named assignment; ``combine`` is
    ``("join", keys)`` or ``("union", None)``; ``tables`` lists the
    referenced names in order; ``post`` are trailing stages applied to
    the combined stream (re-using the single-pipeline transform set).
    """

    pipelines: dict[str, FluxPipeline] = dc_field(default_factory=dict)
    combine: tuple[str, object] | None = None
    tables: list[str] = dc_field(default_factory=list)
    post: FluxPipeline | None = None

    def to_df(
        self,
        resolve,
        field_map: dict[str, str] | None = None,
        **builder_kwargs,
    ) -> DataFrame:
        """Bind and execute. ``resolve(bucket_name)`` maps each
        ``from(bucket:)`` to its source: a parquet path (preferred: the
        pipeline then starts at the table scan) or a DataFrame.

        Join semantics follow Flux ``join()``: inner equi-join on the
        ``on`` columns; non-key columns present on both sides get a
        ``_<table>`` suffix. The two pipelines are the CTEs of one SQL
        statement that joins them ``USING`` the keys — with a small
        side, Spark's planner broadcasts it (AQE) — and trailing stages
        run on the combined stream.
        """
        if self.combine is None:
            raise ValueError("script has no join()/union() result statement")
        qb_kwargs = dict(builder_kwargs)
        fmap = {"_value": qb_kwargs.get("value_col", "value"),
                "_time": qb_kwargs.get("ts_col", "ts")}
        fmap.update(field_map or {})
        bound = {
            name: self.pipelines[name].to_builder(
                resolve(self.pipelines[name].bucket),
                field_map=field_map, **builder_kwargs,
            )
            for name in self.tables
        }
        kind, arg = self.combine
        names = list(self.tables)
        if kind == "union":
            out = bound[names[0]].to_df()
            for name in names[1:]:
                out = out.unionByName(bound[name].to_df(), allowMissingColumns=True)
        else:
            keys = [fmap.get(k, k) for k in arg["on"]]
            how = {
                "inner": "JOIN",
                "left": "LEFT OUTER JOIN",
                "right": "RIGHT OUTER JOIN",
                "full": "FULL OUTER JOIN",
            }.get(arg.get("method", "inner"))
            if how is None:
                raise ValueError(f"unsupported join method {arg['method']!r}")
            left = bound[names[0]]._build(prefix="l_")
            right = bound[names[1]]._build(prefix="r_")
            # Flux suffixes colliding non-key columns with _<table>
            shared = (set(left.columns) & set(right.columns)) - set(keys)
            if shared:
                for st, name in ((left, names[0]), (right, names[1])):
                    st.select([(c, f"{c}_{name}" if c in shared else c)
                               for c in st.columns])
            out = left.join(right, keys, how).frame()
        if self.post is not None:
            qb = self.post.to_builder(out, field_map=field_map, **qb_kwargs)
            return qb.to_df()
        return out


def parse_flux_script(text: str) -> FluxScript:
    """Parse a multi-statement script: ``name =`` pipeline assignments
    followed by one ``join(tables: {...}, on: [...])`` or
    ``union(tables: [...])`` result pipeline (optionally continued with
    ``|>`` stages). Single-pipeline text still parses via
    :func:`parse_flux`."""
    script = FluxScript()
    # statements are separated by newlines that START a new assignment or
    # the result; continuation lines belong to the current statement
    statements: list[str] = []
    for rawline in text.splitlines():
        line = rawline.strip()
        if not line or line.startswith("//"):
            continue
        # a new assignment is always `name = from(...)` in this surface;
        # the `from(` anchor keeps continuation lines that happen to
        # contain `word =` (e.g. inside a map() expression) glued to
        # their statement instead of silently starting a bogus one
        starts_new = re.match(
            r"^(\w+\s*=\s*from\s*\(|join\s*\(|union\s*\()", line
        )
        if starts_new or not statements:
            statements.append(line)
        else:
            statements[-1] += " " + line
    for stmt in statements:
        m = re.match(r"^(\w+)\s*=\s*(.+)$", stmt)
        if m:
            script.pipelines[m.group(1)] = parse_flux(m.group(2))
            continue
        head = re.match(r"^(join|union)\s*\((?P<body>.*?)\)(?P<rest>.*)$", stmt)
        if not head:
            raise ValueError(f"unparseable script statement: {stmt!r}")
        kind, body, rest = head.group(1), head.group("body"), head.group("rest")
        if kind == "join":
            method = "inner"
            mm = re.search(r"method\s*:\s*[\"'](\w+)[\"']", body)
            if mm:
                method = mm.group(1)
            body_wo_method = re.sub(r"method\s*:\s*[\"']\w+[\"']", "", body)
            # join keys come ONLY from the bracketed on: [...] slice —
            # quoted strings elsewhere in the body must not leak in
            on_m = re.search(r"on\s*:\s*\[(?P<keys>[^\]]*)\]", body_wo_method)
            if on_m is None:
                raise ValueError(f"join needs on: [..]: {stmt!r}")
            on = re.findall(r"[\"']([^\"']+)[\"']", on_m.group("keys"))
            if not on:
                raise ValueError(f"join needs on: [..]: {stmt!r}")
            leftover = re.sub(r"on\s*:\s*\[[^\]]*\]", "", body_wo_method)
            stray = re.findall(r"[\"']([^\"']+)[\"']", leftover)
            if stray:
                raise ValueError(
                    f"unrecognized quoted join() argument(s) {stray}: {stmt!r}"
                )
            refs = re.findall(r"(\w+)\s*:\s*(\w+)", leftover)
            tables = [v for k, v in refs if k not in ("tables", "on")]
            if len(tables) != 2:
                raise ValueError(f"join needs tables: {{a: a, b: b}}: {stmt!r}")
            script.combine = ("join", {"on": on, "method": method})
            script.tables = tables
        else:
            tables = re.findall(r"\b(\w+)\b", re.sub(r"tables\s*:", "", body))
            tables = [t for t in tables if t in script.pipelines]
            if len(tables) < 2:
                raise ValueError(f"union needs >= 2 known tables: {stmt!r}")
            script.combine = ("union", None)
            script.tables = tables
        rest = rest.strip()
        if rest.startswith("|>"):
            script.post = parse_flux("from(bucket: \"_\") " + rest)
        for t in script.tables:
            if t not in script.pipelines:
                raise ValueError(f"unknown table {t!r} in {kind}()")
    if script.combine is None:
        raise ValueError("script must end in join() or union()")
    return script
