"""Small square matrices carried as one row.

A k×k matrix over sorted distinct ``labels`` is one row whose ``cells``
column is a row-major ``array<double>`` of k² entries, cell (a, b) at
index a·k + b. A NULL cell is an ABSENT edge, not 0.0, exactly as a
long-format ``(i, j, p)`` frame has no row for it: `product` is NULL where
no middle label links both factors (SQL ``SUM`` of no term), which the
oracles' ``AVG(p) GROUP BY j`` and absorbing-chain series depend on. A
cell that rounds to 0 stays a present 0.0.

A length-k vector over the same labels is an ``array<double>`` in label
order; `vecmat` multiplies it into a matrix with the same absent-term
rule as `product`.

All of it is Catalyst expressions: `dense` builds the row with one global
aggregate (no ``collect()`` feeds the plan), `iterate` is
``aggregate(sequence(1, steps), init, step)``, `long` posexplodes the row
back into ``(i, j, p)`` rows and `per_label` turns vectors back into one
row per label. Building a query on these starts no job.

HOF-CSE (SCALE.md): CollapseProject substitutes a column's expression into
every reference, and a reference inside a lambda runs once per element.
So a matrix a lambda reads more than once is bound to a lambda variable
first (`let`, the `iterate` accumulator).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def let(value: Column, body: Callable[[Column], Column]) -> Column:
    """``body(v)`` with ``value`` evaluated once and bound to ``v``."""
    return F.aggregate(F.array(F.lit(0)), value, lambda acc, _: acc, body)


def indices(k: Column) -> Column:
    """``[0, k)``; empty for k = 0, where ``sequence(0, -1)`` counts down."""
    return F.transform(F.array_repeat(F.lit(0), k), lambda _, n: n)


def total(xs: Column) -> Column:
    """SQL ``SUM`` of an array: NULLs skipped, NULL if none is present."""
    none = F.lit(None).cast("double")
    return F.aggregate(xs, none, lambda s, x: F.coalesce(s + x, x, s))


def add(a: Column, b: Column) -> Column:
    """Cell-wise A + B, absent only where both cells are absent."""
    return F.zip_with(a, b, lambda x, y: F.coalesce(x + y, x, y))


def product(a: Column, b: Column, k: Column) -> Column:
    """A·B; cell (i, j) absent when no t has A[i, t] and B[t, j] present."""
    return let(a, lambda a: let(b, lambda b: F.flatten(F.transform(
        indices(k), lambda i: F.transform(indices(k), lambda j: total(
            F.transform(indices(k), lambda t: a[i * k + t] * b[t * k + j])
        ))
    ))))


def vecmat(v: Column, m: Column, k: Column) -> Column:
    """v·M for a length-k vector v; entry j absent when no t has v[t] and
    M[t, j] present."""
    return let(v, lambda v: let(m, lambda m: F.transform(
        indices(k), lambda j: total(
            F.transform(indices(k), lambda t: v[t] * m[t * k + j])
        )
    )))


def transpose(m: Column, k: Column) -> Column:
    """Mᵀ: cell (i, j) is M[j, i]."""
    return let(m, lambda m: F.flatten(F.transform(
        indices(k), lambda i: F.transform(indices(k), lambda j: m[j * k + i])
    )))


def where(
    cells: Column, labels: Column, keep: Callable[[Column, Column], Column]
) -> Column:
    """``cells`` with each cell whose (row, column) labels fail ``keep``
    absent."""
    k = F.size(labels)
    return let(cells, lambda c: F.flatten(F.transform(
        labels, lambda li, a: F.transform(
            labels, lambda lj, b: F.when(keep(li, lj), c[a * k + b])
        )
    )))


def identity(labels: Column, keep: Callable[[Column, Column], Column]) -> Column:
    """The identity over ``labels``, minus the diagonal cell of each label
    ``li`` (at index ``a``) that fails ``keep(li, a)``."""
    return F.flatten(F.transform(labels, lambda li, a: F.transform(
        labels, lambda _, b: F.when((a == b) & keep(li, a), F.lit(1.0))
    )))


def iterate(
    init: Column,
    steps: int,
    step: Callable[[Column], Column],
    finish: Callable[[Column], Column] | None = None,
) -> Column:
    """``step`` applied ``steps`` times to ``init``; ``finish`` maps the
    last value. Both read a bound lambda variable."""
    return F.aggregate(
        F.sequence(F.lit(1), F.lit(steps)), init, lambda acc, _: step(acc),
        finish,
    )


def dense(long_: DataFrame, *carry: Column) -> DataFrame:
    """The one ``labels``/``cells`` row of an ``(i, j, p)`` frame with one
    row per (i, j) (rows with i or j NULL are skipped), plus the ``carry``
    aggregates over all rows in the same pass. An empty frame gives k = 0."""
    row = long_.agg(
        F.collect_list(F.when(
            F.col("i").isNotNull() & F.col("j").isNotNull(),
            F.struct(F.struct("i", "j").alias("ij"), "p"),
        )).alias("_e"),
        *carry,
    )
    names = [c for c in row.columns if c != "_e"]
    labels = F.array_sort(F.array_distinct(F.concat(
        F.transform("_e", lambda e: e["ij"]["i"]),
        F.transform("_e", lambda e: e["ij"]["j"]),
    )))
    m = let(labels, lambda L: let(F.map_from_entries("_e"), lambda c: F.struct(
        L.alias("labels"),
        F.flatten(F.transform(L, lambda li: F.transform(
            L, lambda lj: c[F.struct(li.alias("i"), lj.alias("j"))]
        ))).alias("cells"),
    )))
    return row.select(m.alias("_m"), *names).select("_m.*", *names)


def per_label(m: DataFrame, **vectors: Column) -> DataFrame:
    """``(label, name…)`` rows, one per label of ``m``, from the length-k
    arrays ``vectors`` (expressions over ``m``'s columns). As in `long`,
    ``inline_outer`` evaluates the arrays once; k = 0 gives no row."""
    z = F.arrays_zip(
        F.col("labels").alias("label"),
        *(v.alias(name) for name, v in vectors.items()),
    )
    return m.select(F.inline_outer(z)).filter(F.col("label").isNotNull())


def long(m: DataFrame, *keep: str) -> DataFrame:
    """``(keep…, i, j, p)`` rows of the present cells of ``m``.

    ``posexplode_outer`` evaluates the cells once; a plain posexplode
    makes the optimizer infer ``size(cells) > 0`` and push it below the
    projects with the whole iteration substituted into the predicate."""
    k, n = F.size("labels"), F.col("_n")
    return (
        m.select(*keep, "labels", F.posexplode_outer("cells").alias("_n", "p"))
        .filter(F.col("p").isNotNull())
        .select(
            *keep,
            F.col("labels")[F.floor(n / k).cast("int")].alias("i"),
            F.col("labels")[(n % k).cast("int")].alias("j"),
            "p",
        )
    )
