"""Rowkey range algebra + Spark-filter translation (plan-time).

Re-expresses the reference's pushdown pipeline:
- ``ScanRange`` interval algebra — AND = pairwise intersection, OR =
  sorted union with adjacency merge (ScanRange.scala:59-281);
- Spark Filter -> (ranges, handled) translation (HBaseFilter.scala:
  126-390), including the semantic subtleties the tests pin down:
  conservative OR (either side unpushable => nothing pushed,
  HBaseFilter.scala:108-114), De Morgan on Not(And/Or)
  (HBaseFilter.scala:270-275), IN -> union of points
  (HBaseFilter.scala:369-378), and the In ∧ Not(In) set-difference
  rewrite (HBaseFilter.scala:252-266).

Because the default backend uses the ORDER-PRESERVING coder
(coders/ordered.py), every comparison maps to exactly ONE byte range —
the reference's sign-split 2-range decomposition (ScanRange.scala:
290-426) is unnecessary by construction. StringStartsWith becomes a
real range (prefix, prefix+0xFF...) — better than the reference, which
full-scans on key prefixes (HBaseFilter.scala:320-326, SURVEY §4.3).

Unlike the reference (first key dim only), translation is purely
plan-time Python: ranges prune backend partitions (region pruning) and
become parquet row-group predicates; Spark always re-evaluates
residual filters, so translation only needs to be a superset, never
exact.
"""

from __future__ import annotations

from bisect import bisect_left, bisect_right
from dataclasses import dataclass

#: +inf sentinel for an unbounded upper key
INF = None


@dataclass(frozen=True)
class ScanRange:
    """Byte-key interval. ``start=None`` = -inf, ``end=None`` = +inf."""

    start: bytes | None = None
    start_inclusive: bool = True
    end: bytes | None = None
    end_inclusive: bool = False

    def is_point(self) -> bool:
        return (
            self.start is not None
            and self.start == self.end
            and self.start_inclusive
            and self.end_inclusive
        )

    def is_empty(self) -> bool:
        if self.start is None or self.end is None:
            return False
        if self.start < self.end:
            return False
        if self.start > self.end:
            return True
        return not (self.start_inclusive and self.end_inclusive)

    def intersect(self, other: "ScanRange") -> "ScanRange | None":
        # lower bound: larger start wins
        if self.start is None:
            lo, lo_inc = other.start, other.start_inclusive
        elif other.start is None or self.start > other.start:
            lo, lo_inc = self.start, self.start_inclusive
        elif self.start < other.start:
            lo, lo_inc = other.start, other.start_inclusive
        else:
            lo, lo_inc = self.start, self.start_inclusive and other.start_inclusive
        # upper bound: smaller end wins
        if self.end is None:
            hi, hi_inc = other.end, other.end_inclusive
        elif other.end is None or self.end < other.end:
            hi, hi_inc = self.end, self.end_inclusive
        elif self.end > other.end:
            hi, hi_inc = other.end, other.end_inclusive
        else:
            hi, hi_inc = self.end, self.end_inclusive and other.end_inclusive
        r = ScanRange(lo, lo_inc, hi, hi_inc)
        return None if r.is_empty() else r

    def overlaps_or_adjacent(self, other: "ScanRange") -> bool:
        """True if union is a single interval."""
        a, b = self, other
        if a.start is not None and (
            b.end is not None
            and (
                a.start > b.end
                or (a.start == b.end and not (a.start_inclusive or b.end_inclusive))
            )
        ):
            return False
        if b.start is not None and (
            a.end is not None
            and (
                b.start > a.end
                or (b.start == a.end and not (b.start_inclusive or a.end_inclusive))
            )
        ):
            return False
        return True

    def merge(self, other: "ScanRange") -> "ScanRange":
        if self.start is None or other.start is None:
            lo, lo_inc = None, True
        elif self.start < other.start:
            lo, lo_inc = self.start, self.start_inclusive
        elif self.start > other.start:
            lo, lo_inc = other.start, other.start_inclusive
        else:
            lo, lo_inc = self.start, self.start_inclusive or other.start_inclusive
        if self.end is None or other.end is None:
            hi, hi_inc = None, False
        elif self.end > other.end:
            hi, hi_inc = self.end, self.end_inclusive
        elif self.end < other.end:
            hi, hi_inc = other.end, other.end_inclusive
        else:
            hi, hi_inc = self.end, self.end_inclusive or other.end_inclusive
        return ScanRange(lo, lo_inc, hi, hi_inc)


FULL_SCAN: list[ScanRange] = [ScanRange()]


def ranges_and(a: list[ScanRange], b: list[ScanRange]) -> list[ScanRange]:
    """AND = pairwise intersection (ScanRange.and, ScanRange.scala:59-90)."""
    out = []
    for ra in a:
        for rb in b:
            r = ra.intersect(rb)
            if r is not None:
                out.append(r)
    return _normalize(out)


def ranges_clip(ranges: list[ScanRange], sub: ScanRange) -> list[ScanRange]:
    """``ranges_and(ranges, [sub])`` for NORMALIZED ``ranges`` (sorted,
    disjoint, as every HRF holds them): two bisects find the slice of
    ranges that can meet ``sub``, and only that slice is intersected.
    The planner clips one HRF to every region or sub-range this way,
    in O(log n + output) each instead of O(n)."""
    lo = 0 if sub.start is None else bisect_left(
        ranges, (False, sub.start), key=lambda r: (r.end is None, r.end or b"")
    )
    hi = len(ranges) if sub.end is None else bisect_right(
        ranges, (True, sub.end), key=lambda r: (r.start is not None, r.start or b"")
    )
    return [r for r in (ra.intersect(sub) for ra in ranges[lo:hi]) if r is not None]


def ranges_or(a: list[ScanRange], b: list[ScanRange]) -> list[ScanRange]:
    """OR = union with adjacency merge (ScanRange.or, ScanRange.scala:91-281)."""
    return _normalize(list(a) + list(b))


def _sort_key(r: ScanRange):
    return (r.start is not None, r.start or b"", not r.start_inclusive)


def _normalize(ranges: list[ScanRange]) -> list[ScanRange]:
    if not ranges:
        return []
    rs = sorted((r for r in ranges if not r.is_empty()), key=_sort_key)
    out: list[ScanRange] = []
    for r in rs:
        if out and out[-1].overlaps_or_adjacent(r):
            out[-1] = out[-1].merge(r)
        else:
            out.append(r)
    return out


# ---------------------------------------------------------------------------
# Spark Filter -> ranges on the (encoded) rowkey


@dataclass
class HRF:
    """Translation result (HBaseFilter.scala HRF): key ranges (always a
    SUPERSET of matching keys) + whether the filter is fully handled by
    the ranges alone (handled=True => no re-evaluation needed)."""

    ranges: list[ScanRange]
    handled: bool

    @staticmethod
    def full() -> "HRF":
        return HRF(list(FULL_SCAN), False)


def _prefix_upper(prefix: bytes) -> bytes | None:
    """Smallest byte string greater than every string with this prefix."""
    b = bytearray(prefix)
    while b:
        if b[-1] != 0xFF:
            b[-1] += 1
            return bytes(b)
        b.pop()
    return None  # prefix = 0xFF... -> unbounded


def translate_filter(f, key_name: str, encode) -> HRF:
    """One Spark data source Filter -> HRF on the single leading rowkey
    dimension ``key_name``. ``encode(value) -> bytes`` must be
    order-preserving. Mirrors buildFilter (HBaseFilter.scala:164-390);
    non-leading composite dims intentionally return full-scan, like the
    reference (HBaseFilter.scala:150-159, CompositeKeySuite semantics).
    """
    return _translate(f, key_name, encode)


def _attr(f) -> str | None:
    for name in ("attribute", "col", "column"):
        if hasattr(f, name):
            a = getattr(f, name)
            if isinstance(a, tuple):  # pyspark.sql.datasource filters use tuple paths
                return a[0] if len(a) == 1 else None
            return a
    return None


def _translate(f, key_name: str, encode, points_only: bool = False) -> HRF:
    """``points_only``: the encoding is NOT order-preserving for the
    key's type (e.g. raw HBase two's-complement ints, ScanRange.scala
    §4.2 sign hazard) — only equality/IN translate (points are valid
    under any injective encoding); every order-dependent predicate
    falls back to full scan + Spark re-filter."""
    kind = type(f).__name__
    if kind in ("And",):
        left = _translate(f.left, key_name, encode, points_only)
        right = _translate(f.right, key_name, encode, points_only)
        return HRF(ranges_and(left.ranges, right.ranges), left.handled and right.handled)
    if kind in ("Or",):
        left = _translate(f.left, key_name, encode, points_only)
        right = _translate(f.right, key_name, encode, points_only)
        # conservative OR: either side full-scan => whole disjunction
        # full-scan (TypedFilter.or, HBaseFilter.scala:108-114)
        if not left.handled or not right.handled:
            return HRF.full()
        return HRF(ranges_or(left.ranges, right.ranges), True)
    if kind in ("Not",):
        inner = f.child if hasattr(f, "child") else f.inner
        ikind = type(inner).__name__
        if ikind == "And":  # De Morgan (HBaseFilter.scala:270-275)
            return _translate(
                _Or(_Not(inner.left), _Not(inner.right)), key_name, encode, points_only
            )
        if ikind == "Or":
            return _translate(
                _And(_Not(inner.left), _Not(inner.right)), key_name, encode, points_only
            )
        if points_only:
            # exclusion ranges are order-dependent -> full scan
            return HRF.full()
        if ikind in ("EqualTo",) and _attr(inner) == key_name:
            v = encode(inner.value)
            return HRF(
                ranges_or(
                    [ScanRange(None, True, v, False)], [ScanRange(v, False, None, False)]
                ),
                True,
            )
        if ikind == "In" and _attr(inner) == key_name:
            # Not(In): AND of Not(EqualTo) (HBaseFilter.scala:379-385)
            hrf = HRF(list(FULL_SCAN), True)
            for v in inner.value:
                ev = encode(v)
                neq = ranges_or(
                    [ScanRange(None, True, ev, False)], [ScanRange(ev, False, None, False)]
                )
                hrf = HRF(ranges_and(hrf.ranges, neq), hrf.handled)
            return hrf
        return HRF.full()

    attr = _attr(f)
    if attr != key_name:
        return HRF.full()

    if kind == "EqualTo":
        v = encode(f.value)
        return HRF([ScanRange(v, True, v, True)], True)
    if kind == "In":
        # one union of every point: folding them in one at a time
        # re-sorts the list per value, quadratic in the IN-list length
        return HRF(_normalize([ScanRange(p, True, p, True) for p in map(encode, f.value)]), True)
    if points_only:
        return HRF.full()
    if kind == "GreaterThan":
        return HRF([ScanRange(encode(f.value), False, None, False)], True)
    if kind == "GreaterThanOrEqual":
        return HRF([ScanRange(encode(f.value), True, None, False)], True)
    if kind == "LessThan":
        return HRF([ScanRange(None, True, encode(f.value), False)], True)
    if kind == "LessThanOrEqual":
        return HRF([ScanRange(None, True, encode(f.value), True)], True)
    if kind == "StringStartsWith":
        # prefix -> REAL range [prefix, next(prefix)) — improves on the
        # reference's full-scan-plus-PrefixFilter (HBaseFilter.scala:320-326)
        p = encode(f.value)
        upper = _prefix_upper(p)
        return HRF([ScanRange(p, True, upper, False)], True)
    return HRF.full()


class _Not:
    def __init__(self, child):
        self.child = child


class _And:
    def __init__(self, left, right):
        self.left = left
        self.right = right


class _Or:
    def __init__(self, left, right):
        self.left = left
        self.right = right


def translate_filters(filters, key_name: str, encode, points_only: bool = False) -> HRF:
    """AND-fold of all pushed filters (buildFilters, HBaseFilter.scala:126-138)."""
    hrf = HRF(list(FULL_SCAN), True)
    for f in filters:
        sub = _translate(f, key_name, encode, points_only)
        hrf = HRF(ranges_and(hrf.ranges, sub.ranges), hrf.handled and sub.handled)
    return hrf
