"""Order-pinned exact folds: the one home of the key-ordered value list
and the double left-fold sum.

Spark and DuckDB add doubles in different orders inside their own
``sum``, so every multi-row double sum the oracle checks bit for bit is
written as an explicit fold over a key-ordered list, the Spark twin of
DuckDB's ``list_reduce(list(val ORDER BY key), (a, b) -> a + b)``:

- ``ordered_values(keys, val)``: the array of ``val`` over the group's
  rows, sorted by ``keys`` (one column or a list of them) —
  ``transform(array_sort(collect_list(named_struct('k0', key, ...,
  'v', val))), s -> s.v)``.  As a group aggregate by default; with
  ``over=`` a window spec it is the same list over that window's frame.
  The fixed field names never collide with a column's, and two calls
  with the same arguments build the same expression, so Catalyst
  projects one struct for both (an ``alias`` would make each distinct).
- ``fold_sum(arr)``: ``aggregate(arr, 0.0, (acc, x) -> acc + x)`` — the
  left-to-right IEEE addition from ``0.0``, for any double array
  (an ordered list, a slice of one, a ``zip_with`` of two).
- ``fold_sum_exact(keys, val)``: ``fold_sum(ordered_values(keys, val))``.

NULL rule: the value rides in a struct, and ``collect_list`` keeps a
struct whose value is NULL, so a NULL ``val`` holds its place in the
list like DuckDB's ``list()`` (and a fold over it is NULL, as
``list_reduce`` is).  A bare ``collect_list(val)`` would drop it and
shorten the list — a different contract, which the few callers that
want it write themselves.  Rows whose keys tie are ordered by ``val``
(the struct compares field by field), so callers sort on keys that are
unique within the group.

Width guard: the list materializes ONE group's rows in a single task,
so per-task memory grows with the group (the cross-section width when
folding all sids of a date).  ``ordered_values`` checks every list where
it is built: an element at index ``max_width`` or beyond raises inside
the job with guidance instead of OOMing an executor (the same design as
the LSH hot-bucket cap in datapipe/dedup.py and the bucket cap in
operators/interval_join.py).  The check sits in the ``transform`` that
already projects the values, so the collected list is referenced once —
a ``when(size(l) > N, ...).otherwise(l)`` form would plan two identical
``collect_list`` window functions when ``over`` is given.  Bounded
window frames never come near the bound.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["ordered_values", "fold_sum", "fold_sum_exact",
           "DEFAULT_MAX_FOLD_WIDTH"]

# 1M doubles = ~8 MB of array per group in one task: comfortably inside
# an executor, far above any realistic cross-section width
DEFAULT_MAX_FOLD_WIDTH = 1_000_000


def ordered_values(keys, val, over=None,
                   max_width: int = DEFAULT_MAX_FOLD_WIDTH) -> Column:
    """Array of ``val`` (a Column or column name) in ``keys`` order, NULL
    values kept: a group aggregate, or a window function over ``over``.
    Errors inside the job if the list holds more than ``max_width``
    values — raise the bound (or switch to a plain windowed sum, which
    needs no array) for wider groups."""
    keys = list(keys) if isinstance(keys, (list, tuple)) else [keys]
    names = [f"k{i}" for i in range(len(keys))] + ["v"]
    cols = [F.col(c) if isinstance(c, str) else c for c in [*keys, val]]
    listed = F.collect_list(F.named_struct(
        *(part for name, col in zip(names, cols)
          for part in (F.lit(name), col))))
    if over is not None:
        listed = listed.over(over)
    too_wide = F.raise_error(F.lit(
        f"ordered_values: fold group holds more than {max_width} rows "
        f"(max_width={max_width}); the order-pinned array fold "
        "materializes the whole group in one task — raise max_width or "
        "use a plain windowed sum"))
    return F.transform(
        F.array_sort(listed),
        lambda s, i: F.when(i < max_width, s["v"]).otherwise(too_wide))


def fold_sum(arr) -> Column:
    """Left-to-right double sum of the array ``arr`` (a Column or column
    name) from ``0.0`` — bit-exact vs DuckDB's ``list_reduce(arr, +)``
    when ``arr`` is in the same order."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def fold_sum_exact(keys, val, max_width: int = DEFAULT_MAX_FOLD_WIDTH
                   ) -> Column:
    """Aggregate expression: sum of ``val`` over the group's rows in
    ``keys`` order, folded left-to-right (bit-exact vs DuckDB's
    ``list_reduce(list(val ORDER BY key), +)``)."""
    return fold_sum(ordered_values(keys, val, max_width=max_width))
