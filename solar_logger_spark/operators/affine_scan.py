"""Segmented affine prefix scans — the within-series-parallel form of
the EMA-family recursions (r12; VERDICT task #1).

Every recursion in the family is an affine linear recurrence

    y_t = a_t · y_{t−1} + b_t            (scalar: ema, dema, tema,
                                          trix towers, kaufmansAMA)
    v_t = M_t · v_{t−1} + c_t            (vector d=2: Holt level+trend)

with per-row coefficients computable JVM-side (EMA: a = 1−α,
b = α·x; KAMA: a = 1−sc_t, b = sc_t·x; seed rows are the affine pair
(0, x) and warm-up rows the identity (1, 0)). Affine maps compose
associatively — (f₂∘f₁)(y) = a₂a₁·y + (a₂b₁ + b₂) — so the scan
parallelizes WITHIN a series instead of running one sequential task
per series (the round-11 verdict's last 100×-scale ceiling: a
5-event-type corpus ran the whole recursion on 5 tasks at any
scale).

Pinned evaluation order (the ``_pinned_hier_mean`` playbook — every
fold is order-pinned and replayed verbatim by the DuckDB oracle
twins, so results are deterministic, partition-invariant, and
cross-engine bit-identical):

1. ``rn`` — the global per-series rank by (ts, tiebreak). The order
   key must be UNIQUE per series (the family's standing determinism
   requirement). Computed with a keyed window by default (a C-speed
   spill-safe sort, the same execution class as every other keyed
   window op in this codebase); ``rank="segmented"`` switches to a
   range-partitioned rank (local ranks + per-partition offsets) that
   removes even the per-series sort task — the rank VALUE is
   identical either way (the global rank of unique keys does not
   depend on where range boundaries fall), so the choice is pure
   execution strategy, not semantics.
2. Level 0 — rank blocks of ``BLOCK`` = 4096 rows (``(rn−1) DIV
   4096``), internally a 64×64 grid: rows fold LEFT-TO-RIGHT from
   the identity within each 64-row chunk (``A' = fl(a·A)``,
   ``B' = fl(fl(a·B) + b)``), chunk totals fold across the block.
   Each row keeps its INCLUSIVE within-chunk prefix; each chunk its
   EXCLUSIVE prefix. O(chunk) work per row, blocks run in parallel —
   the within-series parallelism.
3. Mid level — block summaries group by ``blk DIV 16384`` in a
   128×128 grid, each block keeping its exclusive (chunk, within)
   prefix maps. Capacity below the top: 4096·16384 ≈ 6.7·10⁷ rows
   per mid group.
4. Top level — mid-group summaries fold per series in 1024-chunks.
   A 10¹² row series tops out at ~15k summary structs in the final
   per-series fold (the ``_pinned_hier_mean`` bounded-top-fold
   contract); time there is O(K·1024) element copies, quadratic only
   in K/1024.
5. Entries flow top-down, two pinned applications per hop
   (``e' = apply(within_excl, apply(chunk_excl, e))`` with
   ``apply((A,B), e) = fl(fl(A·e) + B)``), starting from e = 0 per
   series (every seed row has a = 0, so the zero entry is inert);
   finally ``y_row = apply(row_incl, apply(chunk_excl, e_block))``.

Float association necessarily differs from the retired sequential
form, so the r12 registry re-pins the family via CHANGED_IN_ROUND=12
with oracles replaying THIS fold order. Within the first 64-row
chunk of a series the folded B equals the old step-by-step recursion
bit-for-bit (IEEE + is commutative and the seed zeroes every entry
term), which keeps hand-computed unit pins valid on short series.

Plan shape: one exchange for the rank, then level 0 as one Arrow
``mapInPandas`` pass (numpy kernels replaying the pinned op
sequence) whose output is lineage-cut once for its two consumers,
then block-count-sized frames only. The mid/top folds are Catalyst
higher-order functions; every fold struct is consumed across an
exchange boundary, so each grid is evaluated once per consuming
branch and never per-field.

(Reference scope: the reference delegates these transforms to
InfluxDB (src/classes/influx_query.py); the scan form is this repo's
scale-path implementation.)
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

BLOCK = 4096     # level-0 rank block (64×64 grid)

# rank="auto" crossover: below this optimizer-estimated input size
# the keyed-window rank wins (fewer stage-jobs — the job-count floor
# dominates tiny inputs); above it the segmented rank wins and, more
# importantly, removes the per-series single-task sort that would
# otherwise cap a low-cardinality corpus at |series| tasks. Measured
# at the crossover (tools/probe_affine_skew.py + SCALING r12: 500k
# rows single series window 3.8s vs segmented 4.5s; 1M rows window
# 5.2s vs segmented 4.8s; 100k rows window faster by ~0.8s — the
# flip sits between 500k and 1M rows, ~20-40MB estimated).
AUTO_RANK_BYTES = 32 << 20
CHUNK = 64
MIDCAP = 16384   # blocks per mid group (128×128 grid)
MIDCHUNK = 128
TOPCHUNK = 1024  # top-level chunking (chunk count unbounded, small)

# coefficient/emit expressions passed to the scans may reference this
# column — the 1-based global per-series rank (seed-row detection)
RANK_COL = "_rn"

_RESERVED = ("_rn", "_pid", "_lrn", "_off", "_m", "_blk", "_mid",
             "_items", "_g", "_e", "_z", "_emit")


class AffineNSpec:
    """Map = (d×d matrix, d-vector): v' = M·v + c. Every matrix/vector
    entry is emitted longhand with ONE pinned fl order — sums
    accumulate LEFT-TO-RIGHT (Spark parses ``x*y + u*v + w`` as
    ``fl(fl(fl(x·y) + fl(u·v)) + w)``) and the SQL twins spell the
    identical expressions. d=2 carries Holt's (level, trend) and the
    doubleEMA tower; d=3 the tripleEMA/TRIX tower."""

    def __init__(self, d: int):
        self.d = d
        rng = range(1, d + 1)
        self.FIELDS = tuple(
            f"a{i}{j}" for i in rng for j in rng
        ) + tuple(f"c{i}" for i in rng)
        self.STATE = tuple(f"v{i}" for i in rng)

    def compose(self, acc: Callable[[str], Column],
                item: Callable[[str], Column]) -> dict[str, Column]:
        out = {}
        rng = range(1, self.d + 1)
        for i in rng:
            for j in rng:
                terms = [item(f"a{i}{k}") * acc(f"a{k}{j}") for k in rng]
                e = terms[0]
                for t in terms[1:]:
                    e = e + t
                out[f"a{i}{j}"] = e
            terms = [item(f"a{i}{k}") * acc(f"c{k}") for k in rng]
            e = terms[0]
            for t in terms[1:]:
                e = e + t
            out[f"c{i}"] = e + item(f"c{i}")
        return out

    def apply(self, m: Callable[[str], Column],
              e: Callable[[str], Column]) -> dict[str, Column]:
        out = {}
        rng = range(1, self.d + 1)
        for i in rng:
            terms = [m(f"a{i}{j}") * e(f"v{j}") for j in rng]
            x = terms[0]
            for t in terms[1:]:
                x = x + t
            out[f"v{i}"] = x + m(f"c{i}")
        return out


_EXPR_MEMO: dict = {}


def _memo_expr(key: tuple, build) -> Column:
    """Construction-time memo of REUSABLE unresolved Column
    expressions (never of data or results — every query still
    computes from its own input). The ``_grid``/``_fold`` builders
    assemble identical HOF expression trees on every call through
    thousands of py4j round trips (profiled at 8.6 s of an 11 s
    ts_tema_events DataFrame build); a Column is an immutable
    expression, so building each distinct (spec, chunk, input-name)
    tree once per JVM and reusing the object is plan-identical.
    Keyed by the live SparkContext so a restarted session (tests)
    rebuilds instead of referencing dead JVM objects."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    token = sc.applicationId if sc is not None else None
    full = (token, *key)
    if full not in _EXPR_MEMO:
        if len(_EXPR_MEMO) > 256:  # stale sessions
            _EXPR_MEMO.clear()
        _EXPR_MEMO[full] = build()
    return _EXPR_MEMO[full]


def _map_struct(spec, vals: dict[str, Column]) -> Column:
    return F.struct(*[vals[f].cast("double").alias(f)
                      for f in spec.FIELDS])


def _arr_type(spec) -> str:
    inner = ",".join(f"{f}:double" for f in spec.FIELDS)
    return f"array<struct<{inner}>>"


# -- SQL-text fold builders ---------------------------------------------------
# The grid/fold trees are the largest expression trees in the codebase
# (a d=3 first build cost ~29k py4j round trips of per-node Column
# construction before memoization could help). Rendered as Python
# strings they cost ZERO round trips to assemble and one parse at the
# F.expr boundary. Every expression below mirrors the retired Column
# builder node for node (same functions, same literal types, same
# left-to-right association, same FIELDS order — the HOF aggregate
# binds the accumulator struct positionally), so results stay
# bit-identical; lambda variables live in the same leading-underscore
# namespace no engine frame declares.

def _compose_s(spec, acc, item) -> dict[str, str]:
    """Text twin of ``AffineNSpec.compose`` — ``acc``/``item`` map a
    field name to its SQL text."""
    out = {}
    rng = range(1, spec.d + 1)
    for i in rng:
        for j in rng:
            terms = [f"({item(f'a{i}{k}')} * {acc(f'a{k}{j}')})"
                     for k in rng]
            e = terms[0]
            for t in terms[1:]:
                e = f"({e} + {t})"
            out[f"a{i}{j}"] = e
        terms = [f"({item(f'a{i}{k}')} * {acc(f'c{k}')})" for k in rng]
        e = terms[0]
        for t in terms[1:]:
            e = f"({e} + {t})"
        out[f"c{i}"] = f"({e} + {item(f'c{i}')})"
    return out


def _ident_vals_s(spec) -> dict[str, str]:
    out = {}
    for i in range(1, spec.d + 1):
        for j in range(1, spec.d + 1):
            out[f"a{i}{j}"] = "1.0D" if i == j else "0.0D"
        out[f"c{i}"] = "0.0D"
    return out


def _map_struct_s(spec, vals: dict[str, str]) -> str:
    """Text twin of :func:`_map_struct` (fields in FIELDS order, each
    cast to double)."""
    inner = ", ".join(
        f"'{f}', CAST({vals[f]} AS DOUBLE)" for f in spec.FIELDS
    )
    return f"named_struct({inner})"


def _ident_s(spec) -> str:
    return _map_struct_s(spec, _ident_vals_s(spec))


def _fold_s(maps: str, spec) -> str:
    """Order-pinned left fold of an array of map structs from the
    identity. Returns struct(arr: inclusive prefix per item, tot: the
    full composition). O(n²/2) element copies from the growing array
    accumulator — callers bound n by a grid chunk (or the documented
    top-level chunk count)."""
    ident = _ident_vals_s(spec)
    init_fields = ", ".join(
        f"'{f}', CAST({ident[f]} AS DOUBLE)" for f in spec.FIELDS
    )
    init = (
        f"named_struct({init_fields}, "
        f"'arr', CAST(array() AS {_arr_type(spec)}))"
    )
    new = _compose_s(
        spec, lambda f: f"_fac.{f}", lambda f: f"_fm.{f}"
    )
    merge_fields = ", ".join(
        f"'{f}', CAST({new[f]} AS DOUBLE)" for f in spec.FIELDS
    )
    merge = (
        f"named_struct({merge_fields}, "
        f"'arr', concat(_fac.arr, array({_map_struct_s(spec, new)})))"
    )
    tot_fields = ", ".join(
        f"'{f}', _fac.{f}" for f in spec.FIELDS
    )
    finish = (
        f"named_struct('arr', _fac.arr, "
        f"'tot', named_struct({tot_fields}))"
    )
    return (
        f"aggregate({maps}, {init}, (_fac, _fm) -> {merge}, "
        f"_fac -> {finish})"
    )


def _excl_s(incl_arr: str, spec) -> str:
    """Exclusive prefixes from inclusive ones: identity, then all but
    the last."""
    return (
        f"concat(array({_ident_s(spec)}), "
        f"slice({incl_arr}, 1, size({incl_arr}) - 1))"
    )


def _grid_s(maps: str, chunk: int, spec) -> str:
    """The pinned two-level fold of one group's map array in
    ``chunk``-sized slices. Returns struct(
      incl:  per-item INCLUSIVE within-chunk prefix,
      excl:  per-item EXCLUSIVE within-chunk prefix,
      cexcl: per-chunk EXCLUSIVE prefix (over chunk totals),
      tot:   the group's chunked composition — fold of chunk totals
             in order)."""
    nchunks = f"CAST(CEIL(size({maps}) / {chunk}) AS INT)"
    folded = (
        f"transform(sequence(0, {nchunks} - 1), "
        f"_ci -> {_fold_s(f'slice({maps}, _ci * {chunk} + 1, {chunk})', spec)})"
    )
    cfold = _fold_s(f"transform({folded}, _fr -> _fr.tot)", spec)
    return (
        "named_struct("
        f"'incl', flatten(transform({folded}, _fr -> _fr.arr)), "
        f"'excl', flatten(transform({folded}, "
        f"_fr -> {_excl_s('_fr.arr', spec)})), "
        f"'cexcl', {_excl_s(f'({cfold}).arr', spec)}, "
        f"'tot', ({cfold}).tot)"
    )


def _fold_tot_s(maps: str, spec) -> str:
    """The total composition only — O(n), no prefix arrays. Same
    association as :func:`_fold_s`'s ``tot`` (a plain left fold)."""
    new = _compose_s(
        spec, lambda f: f"_fac.{f}", lambda f: f"_fm.{f}"
    )
    return (
        f"aggregate({maps}, {_ident_s(spec)}, "
        f"(_fac, _fm) -> {_map_struct_s(spec, new)})"
    )


def _grid_tot_s(maps: str, chunk: int, spec) -> str:
    """The group total under the SAME chunked association as
    :func:`_grid_s`'s ``tot`` (fold of flat-folded chunk totals), at
    O(n) — no prefix arrays. Summary branches use this so the heavy
    grid is evaluated only on the branch that needs per-item
    prefixes."""
    nchunks = f"CAST(CEIL(size({maps}) / {chunk}) AS INT)"
    inner = _fold_tot_s(
        f"slice({maps}, _ci * {chunk} + 1, {chunk})", spec
    )
    return _fold_tot_s(
        f"transform(sequence(0, {nchunks} - 1), _ci -> {inner})",
        spec,
    )


def _grid(maps: str, chunk: int, spec) -> Column:
    """Column boundary of :func:`_grid_s` (one parse round trip)."""
    return F.expr(_grid_s(maps, chunk, spec))


def _grid_tot(maps: str, chunk: int, spec) -> Column:
    """Column boundary of :func:`_grid_tot_s`."""
    return F.expr(_grid_tot_s(maps, chunk, spec))


def _zip_grid(items_key: Column, g: Column, which: str,
              chunk: int) -> Column:
    """Explodable zip of one grouped frame: per item, its key, its
    ``which`` (incl/excl) within-chunk prefix map ``w``, and its
    chunk's exclusive prefix map ``c``."""
    idx = F.sequence(F.lit(0), F.size(items_key).cast("int") - 1)
    return F.arrays_zip(
        items_key.alias("k"),
        g[which].alias("w"),
        F.transform(
            idx, lambda i: g["cexcl"][F.floor(i / chunk).cast("int")]
        ).alias("c"),
    )


def _apply2(spec, w: Column, c: Column, e_get) -> list[Column]:
    """Two pinned applications: within-prefix onto (chunk-prefix onto
    the entry state) — ``apply(w, apply(c, e))`` — one column per
    state field, aliased ``_e_<field>``."""
    inner = spec.apply(lambda f: c[f], e_get)
    outer = spec.apply(lambda f: w[f], lambda s: inner[s])
    return [outer[s].cast("double").alias(f"_e_{s}")
            for s in spec.STATE]


def _window_rank(
    df: DataFrame, series: Sequence[str], order_cols: Sequence[Column],
) -> DataFrame:
    w = Window.partitionBy(*series).orderBy(*order_cols)
    return df.withColumn(RANK_COL, F.row_number().over(w))


def _segmented_rank(
    df: DataFrame, series: Sequence[str], order_cols: Sequence[Column],
) -> DataFrame:
    """Global per-series rank without a whole-series single-task
    sort: range-partition on (series, order...), rank locally per
    (partition, series), and add the per-series count of rows in
    earlier partitions. The range partitioner keeps whole-key order
    BETWEEN partitions and the key is unique per series, so the
    reconstructed rank equals the window rank regardless of where the
    sampled boundaries fall (property-tested)."""
    series = list(series)
    parted = df.repartitionByRange(
        *[F.col(c) for c in series], *order_cols
    ).withColumn("_pid", F.spark_partition_id())
    w_loc = Window.partitionBy("_pid", *series).orderBy(*order_cols)
    ranked = parted.withColumn("_lrn", F.row_number().over(w_loc))
    w_off = (
        Window.partitionBy(*series).orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = (
        parted.groupBy("_pid", *series)
        .agg(F.count(F.lit(1)).alias("_c"))
        .withColumn("_off", F.coalesce(F.sum("_c").over(w_off), F.lit(0)))
        .select(
            F.col("_pid").alias("_opid"),
            *[F.col(c).alias(f"_os_{i}") for i, c in enumerate(series)],
            "_off",
        )
    )
    cond = [F.col("_pid") == F.col("_opid")] + [
        F.col(c).eqNullSafe(F.col(f"_os_{i}"))
        for i, c in enumerate(series)
    ]
    return (
        ranked.join(offs, cond, "inner")
        .select(
            *df.columns,
            (F.col("_lrn") + F.col("_off")).alias(RANK_COL),
        )
    )


def _np_ident(spec):
    """The identity map's values in FIELDS order (0.0 / 1.0)."""
    import numpy as np

    diag = {f"a{i}{i}" for i in range(1, spec.d + 1)}
    return np.asarray([1.0 if f in diag else 0.0 for f in spec.FIELDS],
                      dtype=np.float64)


def _np_compose(acc, it, d):
    """Vectorized map composition (item∘acc) over (m, nf) float64
    arrays — each numpy binary op is one IEEE rounding, sequenced
    left-to-right exactly like ``AffineNSpec.compose``'s expression
    tree, so the result is bit-identical to the HOF folds of the
    mid/top levels and to the DuckDB oracle."""
    import numpy as np

    dd = d * d
    out = np.empty_like(acc)
    for i in range(d):
        for j in range(d):
            t = it[:, i * d + 0] * acc[:, 0 * d + j]
            for k in range(1, d):
                t = t + it[:, i * d + k] * acc[:, k * d + j]
            out[:, i * d + j] = t
        t = it[:, i * d + 0] * acc[:, dd + 0]
        for k in range(1, d):
            t = t + it[:, i * d + k] * acc[:, dd + k]
        out[:, dd + i] = t + it[:, dd + i]
    return out


def _np_grid(M, gcodes, d, ident):
    """The level-0 grid fold for one Arrow slab: rows of ALL groups at
    once. ``M``: (n, nf) per-row maps in rank order, ``gcodes``:
    contiguous group codes. Returns (W, C): per-row within-chunk
    INCLUSIVE prefix and chunk-EXCLUSIVE prefix.

    Vectorization shape: every chunk of every group is a row of a
    (total_chunks, CHUNK, nf) tensor padded with identity maps, so
    the sequential dimension is the ≤64 chunk POSITIONS (and the ≤64
    chunk indexes for the exclusive pass) — two short Python loops of
    numpy ops vectorized across all chunks/groups, never a per-row
    loop. Identity padding sits strictly AFTER each chunk/group's
    real items, so no real prefix ever folds a pad (the −0.0 edge of
    composing with the identity therefore cannot leak in)."""
    import numpy as np

    n, nf = M.shape
    starts = np.flatnonzero(np.r_[True, gcodes[1:] != gcodes[:-1]])
    lens = np.diff(np.r_[starts, n])
    pos_in_group = np.arange(n) - np.repeat(starts, lens)
    chunk_of_row = pos_in_group // CHUNK
    pos_in_chunk = pos_in_group % CHUNK
    nch = (lens + CHUNK - 1) // CHUNK
    chunk_base = np.r_[0, np.cumsum(nch)[:-1]]
    gchunk = np.repeat(chunk_base, lens) + chunk_of_row
    total_chunks = int(nch.sum())

    G = np.broadcast_to(
        ident, (total_chunks, CHUNK, nf)
    ).copy()
    G[gchunk, pos_in_chunk] = M
    incl = np.empty_like(G)
    prev = np.broadcast_to(ident, (total_chunks, nf)).copy()
    maxpos = int(pos_in_chunk.max()) + 1
    for i in range(maxpos):
        prev = _np_compose(prev, G[:, i, :], d)
        incl[:, i, :] = prev
    W = incl[gchunk, pos_in_chunk]

    # chunk totals: the inclusive prefix at each chunk's LAST REAL
    # position (padding is after it, so incl there is the real total)
    grp_of_chunk = np.repeat(np.arange(len(lens)), nch)
    pos_of_chunk = (
        np.arange(total_chunks) - chunk_base[grp_of_chunk]
    )
    last_real = np.minimum(
        (pos_of_chunk + 1) * CHUNK, lens[grp_of_chunk]
    ) - 1 - pos_of_chunk * CHUNK
    ctot = incl[np.arange(total_chunks), last_real]

    # exclusive chunk prefixes, vectorized across groups
    ngroups = len(lens)
    maxnch = int(nch.max())
    CT = np.broadcast_to(ident, (ngroups, maxnch, nf)).copy()
    CT[grp_of_chunk, pos_of_chunk] = ctot
    cex = np.empty_like(CT)
    acc = np.broadcast_to(ident, (ngroups, nf)).copy()
    for c in range(maxnch):
        cex[:, c, :] = acc
        acc = _np_compose(acc, CT[:, c, :], d)
    C = cex[np.repeat(np.arange(ngroups), lens), chunk_of_row]
    is_last = np.zeros(n, dtype=bool)
    is_last[starts + lens - 1] = True
    return W, C, is_last


def _block_entries(s0, spec, series, small: bool = False):
    """Entries per rank block from a block-summary frame
    ``(series..., _blk, _m)`` — the mid/top hierarchy and the
    downward pass (module docstring steps 3–5).

    ``small``: the caller resolved the input under the rank-mode
    crossover (≤ :data:`AUTO_RANK_BYTES`), so the top-entry frame is
    at most a few thousand rows — broadcast it into the mid join
    instead of letting the planner shuffle both sides (post-aggregate
    size estimates here are useless and default to sort-merge). Large
    inputs keep the shuffle join: the entry frames grow O(N/4096) and
    must never be collected to the driver."""
    mid = (
        s0.withColumn("_mid", F.expr(f"_blk DIV {MIDCAP}"))
        .groupBy(*series, "_mid")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_blk").alias("k"),
                                        F.col("_m").alias("m")))
            ).alias("_items")
        )
        .withColumn(
            "_g",
            _memo_expr(
                ("grid", spec.d, MIDCHUNK, "_items.m"),
                lambda: _grid(
                    "transform(_items, _t -> _t.m)", MIDCHUNK, spec
                ),
            ),
        )
    )
    top = (
        mid.select(
            *series, F.col("_mid").alias("_k"),
            _memo_expr(
                ("grid_tot", spec.d, MIDCHUNK, "_items.m"),
                lambda: _grid_tot(
                    "transform(_items, _t -> _t.m)", MIDCHUNK, spec
                ),
            ).alias("_m"),
        )
        .groupBy(*series)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_k").alias("k"),
                                        F.col("_m").alias("m")))
            ).alias("_items")
        )
        .withColumn(
            "_g",
            _memo_expr(
                ("grid", spec.d, TOPCHUNK, "_items.m"),
                lambda: _grid(
                    "transform(_items, _t -> _t.m)", TOPCHUNK, spec
                ),
            ),
        )
        .select(
            *series,
            F.explode(
                _memo_expr(
                    ("zip_grid", spec.d, "excl", TOPCHUNK, "_items/_g"),
                    lambda: _zip_grid(
                        F.transform("_items", lambda t: t["k"]),
                        F.col("_g"), "excl", TOPCHUNK,
                    ),
                )
            ).alias("_z"),
        )
        .select(
            *series,
            F.col("_z.k").alias("_ek"),
            *_memo_expr(
                ("apply2", spec.d, "zero"),
                lambda: _apply2(spec, F.col("_z.w"), F.col("_z.c"),
                                lambda s: F.lit(0.0)),
            ),
        )
    )
    ma, ta = mid.alias("m"), top.alias("t")
    if small:
        ta = F.broadcast(ta)
    cond = [F.col("m._mid") == F.col("t._ek")] + [
        F.col(f"m.{c}").eqNullSafe(F.col(f"t.{c}")) for c in series
    ]
    return (
        ma.join(ta, cond, "inner")
        .select(
            *[F.col(f"m.{c}") for c in series],
            F.explode(
                _memo_expr(
                    ("zip_grid", spec.d, "excl", MIDCHUNK,
                     "m._items/m._g"),
                    lambda: _zip_grid(
                        F.transform("m._items", lambda t: t["k"]),
                        F.col("m._g"), "excl", MIDCHUNK,
                    ),
                )
            ).alias("_z"),
            *[F.col(f"t._e_{s}").alias(f"_p_{s}") for s in spec.STATE],
        )
        .select(
            *series,
            F.col("_z.k").alias("_ek"),
            *_memo_expr(
                ("apply2", spec.d, "entry"),
                lambda: _apply2(spec, F.col("_z.w"), F.col("_z.c"),
                                lambda s: F.col(f"_p_{s}")),
            ),
        )
    )


def _auto_big(df: DataFrame) -> bool:
    """True when the optimizer's size estimate for ``df`` exceeds
    :data:`AUTO_RANK_BYTES`. Unavailable stats (connect mode, exotic
    plans) resolve True — the segmented rank is the scale-safe side
    of the crossover, the window rank only the small-input fast
    path."""
    try:
        raw = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        # py4j hands back a plain int for BigInt values that fit; only
        # an actual scala.math.BigInt object needs the string hop
        size = raw if isinstance(raw, int) else int(raw.toString())
    except Exception:
        return True
    return size > AUTO_RANK_BYTES


def _affine_scan(
    df: DataFrame,
    coeffs: dict[str, Column],
    spec,
    series: Sequence[str],
    ts_col: str,
    tiebreak: Sequence[str],
    out: dict[str, str],
    emit: Column | None = None,
    rank: str = "auto",
) -> DataFrame:
    """The generic pinned-hierarchy scan (module docstring). ``coeffs``
    maps each spec field to its per-row Column (may reference
    ``F.col(RANK_COL)``); ``out`` maps each spec STATE field to its
    output column name; ``emit`` masks rows whose output is null
    (warm-up) — their coefficient rows still participate in the fold
    (callers pass identity maps there).

    Level 0 runs as ONE Arrow-batched ``mapInPandas`` pass whose numpy
    kernels evaluate the pinned IEEE op sequence, vectorized across
    chunks and groups (the only Python loops are over the ≤64 chunk
    positions / chunk indexes); the result is pinned bitwise against
    the generated DuckDB oracle (``queries/affine_scan_sql.py``). Each
    row leaves the pass carrying its within-chunk inclusive prefix and
    its chunk's exclusive prefix as plain DOUBLE columns, so the final
    evaluation ``y = apply(w, apply(c, e_blk))`` is whole-stage-codegen
    JVM and there is no array explode anywhere.

    ``rank="auto"`` (default) resolves per input: the keyed-window
    rank below :data:`AUTO_RANK_BYTES` of optimizer-estimated input
    (fewest stage-jobs), the segmented rank above it (no single-task
    per-series sort — the 100×-scale form). Rank VALUES are identical
    either way, so the choice never changes output bits."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        BooleanType, DoubleType, StructField, StructType,
    )

    series = list(series)
    if rank == "auto":
        rank = "segmented" if _auto_big(df) else "window"
    for c in df.columns:
        if (c in _RESERVED or c.startswith("_e_")
                or c.startswith("_os_") or c.startswith("_f_")
                or c.startswith("_w_") or c.startswith("_c_")):
            raise ValueError(
                f"column {c!r} collides with an affine-scan internal"
            )
    order_cols = [F.col(ts_col), *[F.col(c) for c in tiebreak]]
    emit = F.lit(True) if emit is None else emit
    ranker = _segmented_rank if rank == "segmented" else _window_rank
    d = spec.d
    fcols = [f"_f_{f}" for f in spec.FIELDS]
    wcols = [f"_w_{f}" for f in spec.FIELDS]
    ccols = [f"_c_{f}" for f in spec.FIELDS]

    # one withColumns call: each withColumn re-analyzes the growing
    # plan eagerly, so the per-field loop cost O(fields × plan) of
    # driver time (profiled — a real fraction of d=3 builds)
    staged = ranker(df, series, order_cols).withColumns(
        {
            **{
                fc: coeffs[f].cast("double")
                for f, fc in zip(spec.FIELDS, fcols)
            },
            "_emit": emit,
            "_blk": F.expr(f"({RANK_COL} - 1) DIV {BLOCK}"),
        }
    )
    if rank == "window":
        # The keyed-window rank already leaves each partition hashed by
        # series and sorted by (series, order) — every (series, _blk)
        # group is contiguous and rank-ordered, which is all the Arrow
        # pass needs (groups never span partitions: a series lives
        # wholly in its hash partition). Re-exchanging by (series,
        # _blk) here would only redistribute the same groups at the
        # cost of a full payload shuffle + sort (measured ~25% of the
        # query at sf0.1). The segmented rank DOES need it: its groups
        # span range-partition boundaries by design.
        parted = staged
    else:
        parted = staged.repartition(
            *[F.col(c) for c in series], F.col("_blk")
        ).sortWithinPartitions(*series, "_blk", RANK_COL)

    out_schema = StructType(
        [f for f in parted.schema.fields if f.name not in fcols]
        + [StructField(c, DoubleType()) for c in wcols + ccols]
        + [StructField("_last", BooleanType())]
    )
    keep = [f.name for f in parted.schema.fields
            if f.name not in fcols]
    gcols = [*series, "_blk"]
    ident = _np_ident(spec)

    def _prefix_batches(batches):
        carry = None
        def process(pdf):
            gcodes = (
                pdf.groupby(gcols, sort=False, dropna=False)
                .ngroup().to_numpy()
            )
            M = pdf[fcols].to_numpy(dtype=np.float64)
            W, C, is_last = _np_grid(M, gcodes, d, ident)
            res = pdf[keep].copy()
            for i, c in enumerate(wcols):
                res[c] = W[:, i]
            for i, c in enumerate(ccols):
                res[c] = C[:, i]
            res["_last"] = is_last
            return res

        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if len(pdf) == 0:
                continue
            # hold the trailing (possibly batch-spanning) group
            gc = (
                pdf.groupby(gcols, sort=False, dropna=False)
                .ngroup().to_numpy()
            )
            cut = int(np.flatnonzero(gc == gc[-1])[0])
            head, carry = pdf.iloc[:cut], pdf.iloc[cut:]
            if len(head):
                yield process(head)
        if carry is not None and len(carry):
            yield process(carry)

    # localCheckpoint, not .persist(): the level-0 pass feeds both the
    # block-entry branch and the final row join, so this computes it
    # once (without it the whole rank+shuffle+Arrow pass executes
    # twice — measured 17.3s → 13.0s at 4M rows) — but unlike a
    # cache-manager entry it is NEVER matched by logical plan across
    # separate calls (a repeated identical query re-executes, keeping
    # benchmarks honest) and needs no unpersist bookkeeping (freed
    # with the DataFrame)
    prefixed = parted.mapInPandas(
        _prefix_batches, out_schema
    ).localCheckpoint(eager=False)

    # block summaries: the block total is compose(chunk_excl, w_incl)
    # of the block's LAST row (the arrow pass tags it) — exactly
    # grid_tot's final fold step. Entries are only needed for series
    # spanning MORE than one block: a series' first block always has
    # the exact +0.0 entry (identity prefixes applied to the zero
    # state — the seed row's a = 0 makes it inert anyway), so
    # single-block series — the entire frame when no series exceeds
    # 4096 rows — take a literal 0.0 through the left-join coalesce,
    # bit-identically, and the mid/top machinery runs on an EMPTY
    # frame.
    s0 = prefixed.filter(F.col("_last")).select(
        *series, "_blk",
        _memo_expr(
            ("s0_tot", spec.d),
            lambda: _map_struct(
                spec,
                spec.compose(
                    lambda f: F.col(f"_c_{f}"),
                    lambda f: F.col(f"_w_{f}"),
                ),
            ),
        ).alias("_m"),
    )
    multi = Window.partitionBy(*series)
    s0m = (
        s0.withColumn("_mx", F.max("_blk").over(multi))
        .filter(F.col("_mx") > 0)
        .drop("_mx")
    )
    small = rank == "window"
    eblk = _block_entries(s0m, spec, series, small=small)

    pa, ea = prefixed.alias("p"), eblk.alias("e")
    if small:
        # under the crossover the entry frame is ≤ input/4096 rows
        # (usually zero: every series fits one block) — broadcasting
        # it turns the final attach into a build-right hash join and
        # spares the payload a full shuffle + sort (the planner's
        # post-mapInPandas estimates would pick sort-merge). Above the
        # crossover eblk grows O(N/4096): keep the shuffle join.
        ea = F.broadcast(ea)
    cond = [F.col("p._blk") == F.col("e._ek")] + [
        F.col(f"p.{c}").eqNullSafe(F.col(f"e.{c}")) for c in series
    ]
    joined = pa.join(ea, cond, "left")

    def _final_outs():
        inner = spec.apply(
            lambda f: F.col(f"p._c_{f}"),
            lambda st: F.coalesce(F.col(f"e._e_{st}"), F.lit(0.0)),
        )
        return spec.apply(
            lambda f: F.col(f"p._w_{f}"), lambda s: inner[s]
        )

    outs = _memo_expr(("final_outs", spec.d), _final_outs)
    return joined.select(
        *[F.col(f"p.{c}") for c in df.columns],
        *[
            F.when(F.col("p._emit"), outs[s].cast("double"))
            .alias(out[s])
            for s in spec.STATE
            if s in out
        ],
    )


def scalar_affine_scan(
    df: DataFrame,
    a: Column,
    b: Column,
    series: Sequence[str],
    ts_col: str = "ts",
    tiebreak: Sequence[str] = (),
    alias: str = "y",
    emit: Column | None = None,
    rank: str = "auto",
) -> DataFrame:
    """y_t = a_t·y_{t−1} + b_t per series under the pinned
    hierarchical fold order; returns ``df`` + ``alias``. The scalar
    case is the d=1 instance of :func:`affine_n_scan` (the 1×1
    "matrix" compose/apply expressions are exactly the scalar ones:
    A' = fl(a·A), B' = fl(fl(a·B) + b), y = fl(fl(A·e) + B))."""
    return affine_n_scan(
        df, 1, {"a11": a, "c1": b}, series, ts_col, tiebreak,
        out={"v1": alias}, emit=emit, rank=rank,
    )


def affine_n_scan(
    df: DataFrame,
    d: int,
    coeffs: dict[str, Column],
    series: Sequence[str],
    ts_col: str = "ts",
    tiebreak: Sequence[str] = (),
    out: dict[str, str] | None = None,
    emit: Column | None = None,
    rank: str = "auto",
) -> DataFrame:
    """v_t = M_t·v_{t−1} + c_t per series with d-dimensional state
    (Holt's coupled level+trend at d=2; the doubleEMA tower at d=2;
    the tripleEMA/TRIX tower at d=3 — one scan instead of chained
    per-level scans). ``coeffs`` provides a11..a{d}{d}/c1..c{d} per
    row; ``out`` maps state fields v1..v{d} to output column names
    (omitted states are not emitted). Returns ``df`` + the mapped
    state columns."""
    spec = AffineNSpec(d)
    return _affine_scan(
        df, coeffs, spec, series, ts_col, tiebreak,
        dict(out or {}), emit=emit, rank=rank,
    )
