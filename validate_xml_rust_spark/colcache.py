"""Per-context memo for pure Column builders.

Building an expression tree from Python costs one py4j round trip per
``functions`` call, lambda and alias, so a pipeline that rebuilds its rule
expressions on every run pays that again each time: a warm dolma
``curate()`` over 4k documents made ~7,300 round trips, most of them
rebuilding identical C4, Gopher and repetition expressions, and memoizing
them cut its driver time between Spark jobs by 1-2 s (``local[3]`` on a
4-core host). The reference compiles each distinct spec once and reuses it
for every item; ``per_context`` does the same for a Column builder: the
first call with given arguments builds the Columns, later calls return the
same objects.

The key is the builder, its arguments (column names and scalars only) and
the active SparkContext, so a stopped-and-restarted session never sees
Columns whose JVM objects belong to a dead context. Columns are unresolved
expressions, so one Column object can be applied to any frame that has the
named columns.

Only PURE builders qualify: the result must depend on the arguments alone
(no frame, no Column argument, no random or time-dependent literal). A
call with any other argument type bypasses the memo. Cached results are
shared by every caller: a dict result is returned as a fresh shallow copy,
and callers must not mutate anything nested inside one.
"""

from __future__ import annotations

import functools
import weakref

from pyspark import SparkContext

# memo per live SparkContext; an entry dies with its context object
_MEMOS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_PLAIN = (str, int, float, bool, type(None), tuple, frozenset)


def per_context(fn):
    """Memoize ``fn`` per active SparkContext, keyed on its arguments;
    calls with a non-scalar argument (a Column, a frame) build afresh."""

    @functools.wraps(fn)
    def build(*args, **kwargs):
        sc = SparkContext._active_spark_context
        if sc is None or not all(
            isinstance(a, _PLAIN) for a in (*args, *kwargs.values())
        ):
            return fn(*args, **kwargs)
        memo = _MEMOS.setdefault(sc, {})
        key = (build, args, tuple(sorted(kwargs.items())))
        try:
            out = memo[key]
        except KeyError:
            out = memo[key] = fn(*args, **kwargs)
        return dict(out) if isinstance(out, dict) else out

    return build


def clear() -> None:
    """Forget every memoized Column (for code that swaps a builder's
    dependency, e.g. a test hook around a UDF)."""
    _MEMOS.clear()
