"""Range-algebra + filter-translation tests — model:
ScanRangeTestSuite.scala:40-493 (interval AND/OR over ints) and the
§2.2 pushdown semantics, checked against brute-force evaluation."""

from dataclasses import dataclass

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    LessThan,
    LessThanOrEqual,
    Not,
    StringStartsWith,
)

from shc_spark.coders import get_coder
from shc_spark.filters import (
    FULL_SCAN,
    HRF,
    ScanRange,
    _normalize,
    _prefix_upper,
    ranges_and,
    ranges_clip,
    ranges_or,
    translate_filters,
)

ordered = get_coder("OrderedType")
INT = T.IntegerType()


def enc(v) -> bytes:
    return ordered.to_bytes(v, INT)


def contains(ranges, v: int) -> bool:
    b = enc(v)
    for r in ranges:
        lo_ok = (
            r.start is None
            or b > r.start
            or (b == r.start and r.start_inclusive)
        )
        hi_ok = r.end is None or b < r.end or (b == r.end and r.end_inclusive)
        if lo_ok and hi_ok:
            return True
    return False


def rng(lo, lo_inc, hi, hi_inc) -> ScanRange:
    return ScanRange(
        None if lo is None else enc(lo), lo_inc, None if hi is None else enc(hi), hi_inc
    )


interval = st.tuples(
    st.one_of(st.none(), st.integers(-50, 50)),
    st.booleans(),
    st.one_of(st.none(), st.integers(-50, 50)),
    st.booleans(),
)


@given(st.lists(interval, min_size=1, max_size=4), st.lists(interval, min_size=1, max_size=4))
@settings(max_examples=300)
def test_and_or_against_bruteforce(a_specs, b_specs):
    """AND/OR of interval sets match pointwise evaluation over [-55, 55]
    (the property behind ScanRangeTestSuite's 45 example tests)."""
    a = [rng(*s) for s in a_specs]
    b = [rng(*s) for s in b_specs]
    anded = ranges_and(a, b)
    ored = ranges_or(a, b)
    for v in range(-55, 56):
        in_a, in_b = contains(a, v), contains(b, v)
        assert contains(anded, v) == (in_a and in_b), f"AND wrong at {v}"
        assert contains(ored, v) == (in_a or in_b), f"OR wrong at {v}"


@given(st.lists(interval, min_size=1, max_size=5))
@settings(max_examples=200)
def test_normalize_disjoint_sorted(specs):
    """After OR-normalization ranges are sorted and non-overlapping."""
    rs = ranges_or([rng(*s) for s in specs], [])
    for r1, r2 in zip(rs, rs[1:]):
        assert r1.start is None or r2.start is not None
        if r1.end is not None and r2.start is not None:
            assert r1.end <= r2.start
            if r1.end == r2.start:
                assert not (r1.end_inclusive and r2.start_inclusive)


@given(st.lists(interval, min_size=0, max_size=12), interval)
@settings(max_examples=500)
def test_ranges_clip_equals_ranges_and(specs, sub_spec):
    """The planner's bisect clip of a normalized range set to one
    region or sub-range returns exactly what ranges_and returns, on
    random sets of points, bounded and unbounded ranges."""
    ranges = _normalize([rng(*s) for s in specs])
    sub = rng(*sub_spec)
    assert ranges_clip(ranges, sub) == ranges_and(ranges, [sub])


def test_ranges_clip_many_points_and_cuts():
    """A wide get's point set clipped at every region cut, the shape of
    ShcReader._merge_partitions: equal to ranges_and for each cut."""
    import random

    r = random.Random(7)
    points = _normalize([rng(v, True, v, True) for v in r.sample(range(-50, 50), 60)])
    cuts = sorted(r.sample(range(-50, 50), 9))
    bounds = [None] + cuts
    for i, lo in enumerate(bounds):
        hi = bounds[i + 1] if i + 1 < len(bounds) else None
        sub = rng(lo, True, hi, False)
        assert ranges_clip(points, sub) == ranges_and(points, [sub])


# --------------------------------------------------------------------------
# Spark Filter translation (§2.2 zoo). The leaf filters are the real
# pyspark.sql.datasource classes, so the tests see the exact shapes
# Spark hands to DataSourceReader.pushFilters (In carries its values in
# `value`). PySpark defines no And/Or filter classes, so those two stay
# stand-ins: they exercise the translator's De Morgan / union handling.


@dataclass
class And:
    left: object
    right: object


@dataclass
class Or:
    left: object
    right: object


KEY = "col0"


def evaluate(f, v) -> bool:
    k = type(f).__name__
    if k == "EqualTo":
        return v == f.value
    if k == "GreaterThan":
        return v > f.value
    if k == "GreaterThanOrEqual":
        return v >= f.value
    if k == "LessThan":
        return v < f.value
    if k == "LessThanOrEqual":
        return v <= f.value
    if k == "In":
        return v in f.value
    if k == "Not":
        return not evaluate(f.child, v)
    if k == "And":
        return evaluate(f.left, v) and evaluate(f.right, v)
    if k == "Or":
        return evaluate(f.left, v) or evaluate(f.right, v)
    raise AssertionError(k)


def a(name=KEY):
    return (name,)


filter_strategy = st.deferred(
    lambda: st.one_of(
        st.builds(EqualTo, st.just(a()), st.integers(-20, 20)),
        st.builds(GreaterThan, st.just(a()), st.integers(-20, 20)),
        st.builds(GreaterThanOrEqual, st.just(a()), st.integers(-20, 20)),
        st.builds(LessThan, st.just(a()), st.integers(-20, 20)),
        st.builds(LessThanOrEqual, st.just(a()), st.integers(-20, 20)),
        st.builds(In, st.just(a()), st.tuples(st.integers(-20, 20), st.integers(-20, 20))),
        st.builds(Not, filter_strategy),
        st.builds(And, filter_strategy, filter_strategy),
        st.builds(Or, filter_strategy, filter_strategy),
    )
)


@given(st.lists(filter_strategy, min_size=1, max_size=3))
@settings(max_examples=200, deadline=None)
def test_translation_superset_and_exactness(filters):
    """The translated range set is ALWAYS a superset of matching keys
    (correctness under re-filtering), and exact when handled=True —
    the HRF contract (HBaseFilter.scala:126-138)."""
    hrf = translate_filters(filters, KEY, enc)
    for v in range(-25, 26):
        truth = all(evaluate(f, v) for f in filters)
        got = contains(hrf.ranges, v)
        if truth:
            assert got, f"range set lost matching key {v}"
        if hrf.handled and not truth:
            assert not got, f"handled=True but superset at {v}"


def test_signed_int_ranges_exact():
    """The DataTypeSuite battery (DataTypeSuite.scala:90-151): keys
    -31..30, col0 = i if i%2==0 else -i."""
    keys = [i if i % 2 == 0 else -i for i in range(32)]

    def count(filters):
        hrf = translate_filters(filters, KEY, enc)
        return sum(1 for k in keys if contains(hrf.ranges, k)), hrf

    n, hrf = count([LessThan(a(), 0)])
    assert n == 16 and hrf.handled
    n, _ = count([LessThanOrEqual(a(), -10)])
    assert n == 11
    n, _ = count([GreaterThan(a(), 10)])
    assert n == 10
    n, _ = count([And(GreaterThan(a(), -10), LessThanOrEqual(a(), 10))])
    assert n == 11
    # In ∧ Not(In) set difference (DefaultSourceSuite.scala:156-194)
    n, hrf = count([In(a(), (0, 2, 4)), Not(In(a(), (2, 4)))])
    assert n == 1 and hrf.handled


def test_or_with_unhandled_side_full_scans():
    """README.md:24-26 / HBaseFilter.scala:108-114 conservatism."""
    other_col = EqualTo(("colX",), 5)  # not the key -> unhandled
    hrf = translate_filters([Or(EqualTo(a(), 1), other_col)], KEY, enc)
    assert hrf.ranges == list(FULL_SCAN)
    assert not hrf.handled


def test_prefix_becomes_range():
    senc = lambda s: ordered.to_bytes(s, T.StringType())
    hrf = translate_filters([StringStartsWith(a(), "row00")], KEY, senc)
    assert hrf.handled
    (r,) = hrf.ranges
    assert r.start == b"row00" and r.end == b"row01"
    assert _prefix_upper(b"\xff\xff") is None
    assert _prefix_upper(b"a\xff") == b"b"


def test_point_range_detection():
    hrf = translate_filters([EqualTo(a(), 42)], KEY, enc)
    assert len(hrf.ranges) == 1 and hrf.ranges[0].is_point()
    hrf = translate_filters([In(a(), (1, 2, 3))], KEY, enc)
    assert all(r.is_point() for r in hrf.ranges)


# ---------------------------------------------------------------------------
# ScanRangeTestSuite.scala:40-493 parity — the reference's adversarial
# FIXED cases (adjacent merges at open/closed boundaries, infinities,
# point ranges), each pytest case named after its reference test. The
# 300-case random property above covers the space; these pin the exact
# boundary decisions the reference asserts. Int keys map to single
# bytes (unsigned compare == Bytes.compareTo), strings to ASCII bytes.


def _r(lo, lo_inc=True, hi=None, hi_inc=False):
    enc = lambda v: bytes([v]) if isinstance(v, int) else (
        v.encode() if isinstance(v, str) else v
    )
    return ScanRange(
        None if lo is None else enc(lo), lo_inc,
        None if hi is None else enc(hi), hi_inc,
    )


def _point(v):
    return _r(v, True, v, True)


def _set(ranges):
    return {
        (r.start, r.start_inclusive, r.end, r.end_inclusive) for r in ranges
    }


class TestScanRangeSuiteParity:
    # andRange 1 (ScanRangeTestSuite.scala:40)
    def test_and_range_1(self):
        got = ranges_and([_r(50, True, 100, False)],
                         [_r(0, True, 52, False), _r(80, True, 120, False)])
        assert _set(got) == _set([_r(50, True, 52, False), _r(80, True, 100, False)])

    # andRange 2 (:51) — open lower bound survives intersection
    def test_and_range_2(self):
        got = ranges_and([_r(50, False, 100, False)],
                         [_r(0, True, 52, True), _r(80, False, 120, False)])
        assert _set(got) == _set([_r(50, False, 52, True), _r(80, False, 100, False)])

    # andRange 3 (:63) — -inf lower bound
    def test_and_range_3(self):
        got = ranges_and([_r(None, True, 100, False)],
                         [_r(0, True, 52, True), _r(80, False, 120, False)])
        assert _set(got) == _set([_r(0, True, 52, True), _r(80, False, 100, False)])

    # andRange 4 (:77) — full scan is AND-identity
    def test_and_range_4(self):
        got = ranges_and([ScanRange()],
                         [_r(0, True, 52, True), _r(80, False, 120, False)])
        assert _set(got) == _set([_r(0, True, 52, True), _r(80, False, 120, False)])

    # andRange 5 (:90) — identity with +inf tail
    def test_and_range_5(self):
        got = ranges_and([ScanRange()],
                         [_r(0, True, 52, True), _r(80, False, None, False)])
        assert _set(got) == _set([_r(0, True, 52, True), _r(80, False, None, False)])

    # andRange 6 (:104) — identity with -inf head and +inf tail
    def test_and_range_6(self):
        got = ranges_and([ScanRange()],
                         [_r(None, True, 52, True), _r(80, False, None, False)])
        assert _set(got) == _set([_r(None, True, 52, True), _r(80, False, None, False)])

    # andRange 7 (:118) — touching OPEN boundaries produce nothing
    def test_and_range_7(self):
        got = ranges_and([_r(50, True, 100, False)],
                         [_r(0, True, 50, False), _r(100, True, 120, False)])
        assert got == []

    # andRange 8 (:128) — point vs both-sides-open neighbors is empty
    def test_and_range_8(self):
        got = ranges_and([_point(50)],
                         [_r(0, True, 50, False), _r(50, False, None, False)])
        assert got == []

    # andRange 9 (:138) — point AND full scan keeps the point
    def test_and_range_9(self):
        got = ranges_and([_point(50)], [ScanRange()])
        assert _set(got) == _set([_point(50)])

    # andRange 19 (:147) — full AND full = full
    def test_and_range_19(self):
        got = ranges_and([ScanRange()], [ScanRange()])
        assert _set(got) == _set([ScanRange()])

    # andRange 20 (:159) — multi-range AND multi-range
    def test_and_range_20(self):
        got = ranges_and([_r(10, True, 20, True), _r(30, True, 40, True)],
                         [_r(5, True, 15, False), _r(35, True, 45, False)])
        assert _set(got) == _set([_r(10, True, 15, False), _r(35, True, 40, True)])

    # andRange 21 (:175) — AND with full-scan list
    def test_and_range_21(self):
        got = ranges_and([_r(5, True, 15, False)], [ScanRange()])
        assert _set(got) == _set([_r(5, True, 15, False)])

    # orRange 1 (:188) — overlap chain merges, disjoint tail survives
    def test_or_range_1(self):
        got = ranges_or([_r(50, True, 100, False)],
                        [_r(0, True, 60, False), _r(80, True, 120, False),
                         _r(150, True, 200, False)])
        assert _set(got) == _set([_r(0, True, 120, False), _r(150, True, 200, False)])

    # orRange 2 (:201) — closed/open adjacency at BOTH ends merges
    def test_or_range_2(self):
        got = ranges_or([_r(50, True, 100, False)],
                        [_r(0, True, 50, False), _r(100, True, 120, False)])
        assert _set(got) == _set([_r(0, True, 120, False)])

    # orRange 3 (:213) — open/open adjacency at 50 does NOT merge
    def test_or_range_3(self):
        got = ranges_or([_r(50, False, 100, False)],
                        [_r(0, True, 50, False), _r(100, True, 120, False)])
        assert _set(got) == _set([_r(0, True, 50, False), _r(50, False, 120, False)])

    # orRange 4 (:225) — -inf head absorbs and extends
    def test_or_range_4(self):
        got = ranges_or([_r(None, True, 100, False)],
                        [_r(0, True, 50, False), _r(100, True, 120, False)])
        assert _set(got) == _set([_r(None, True, 120, False)])

    # orRange 5 (:236)
    def test_or_range_5(self):
        got = ranges_or([_r(None, True, 100, False)],
                        [_r(None, True, 50, False), _r(100, True, 120, False)])
        assert _set(got) == _set([_r(None, True, 120, False)])

    # orRange 6 (:248) — merge into +inf tail
    def test_or_range_6(self):
        got = ranges_or([_r(0, True, 100, False)],
                        [_r(0, True, 50, False), _r(100, True, None, False)])
        assert _set(got) == _set([_r(0, True, None, False)])

    # orRange 7 (:260) — -inf OR +inf collapses to full scan
    def test_or_range_7(self):
        got = ranges_or([_r(None, True, 100, False)],
                        [_r(0, True, 50, False), _r(100, True, None, False)])
        assert _set(got) == _set([ScanRange()])

    # orRange 8 (:271) — one range bridges three into one
    def test_or_range_8(self):
        got = ranges_or([_r(50, True, 150, False)],
                        [_r(0, True, 60, False), _r(80, True, 120, False),
                         _r(150, True, 200, False)])
        assert _set(got) == _set([_r(0, True, 200, False)])

    # orRange 9 (:284) — +inf tail swallows later ranges only
    def test_or_range_9(self):
        got = ranges_or([_r(70, True, None, False)],
                        [_r(0, True, 60, False), _r(80, True, 120, False),
                         _r(150, True, 200, False)])
        assert _set(got) == _set([_r(0, True, 60, False), _r(70, True, None, False)])

    # orRange 10 (:297) — distinct points stay distinct (byte space
    # has no integer adjacency)
    def test_or_range_10(self):
        got = ranges_or([_point(70)], [_point(71)])
        assert _set(got) == _set([_point(70), _point(71)])

    # orRange 11 (:309) — point on closed end absorbs
    def test_or_range_11(self):
        got = ranges_or([_point(70)], [_r(70, True, 71, True)])
        assert _set(got) == _set([_r(70, True, 71, True)])

    # orRange 12 (:320) — point closes an open lower bound
    def test_or_range_12(self):
        got = ranges_or([_point(70)], [_r(70, False, 71, True)])
        assert _set(got) == _set([_r(70, True, 71, True)])

    # orRange 13 (:331) — point closes an open -inf..70) end
    def test_or_range_13(self):
        got = ranges_or([_point(70)], [_r(None, True, 70, False)])
        assert _set(got) == _set([_r(None, True, 70, True)])

    # orRange 14 (:342) — point closes an open (70..+inf start
    def test_or_range_14(self):
        got = ranges_or([_point(70)], [_r(70, False, None, False)])
        assert _set(got) == _set([_r(70, True, None, False)])

    # orRange 15 (:353) — disjoint point below an open range survives
    def test_or_range_15(self):
        got = ranges_or([_r(80, False, 90, False)], [_point(70)])
        assert _set(got) == _set([_point(70), _r(80, False, 90, False)])

    # orRange 16 (:365) — disjoint point above an open range survives
    def test_or_range_16(self):
        got = ranges_or([_r(80, False, 90, False)], [_point(100)])
        assert _set(got) == _set([_point(100), _r(80, False, 90, False)])

    # orRange 17 (:377) — string keys: "r20" < "row005" in byte order
    # ("2" < "o"), so both the "r20" and "row005" points are absorbed
    # by (-inf,"row005"]; "row020" and ("row040","row050"] survive.
    def test_or_range_17(self):
        got = ranges_or(
            [_r(None, True, "row005", True)],
            [_point("r20"), _point("row005"), _point("row020"),
             _r("row040", False, "row050", True)])
        assert _set(got) == _set([
            _r(None, True, "row005", True), _point("row020"),
            _r("row040", False, "row050", True)])

    # orRange 18 (:404) — same as 17 with explicit UTF-8 byte keys
    def test_or_range_18(self):
        got = ranges_or(
            [_r(None, True, b"row005", True)],
            [_point(b"r20"), _point(b"row005"), _point(b"row020"),
             _r(b"row040", False, b"row050", True)])
        assert _set(got) == _set([
            _r(None, True, b"row005", True), _point(b"row020"),
            _r(b"row040", False, b"row050", True)])

    # orRange 19 (:431) — idempotence
    def test_or_range_19(self):
        got = ranges_or([_r(10, True, 20, True)], [_r(10, True, 20, True)])
        assert _set(got) == _set([_r(10, True, 20, True)])

    # orRange 20 (:445) — full OR full = full
    def test_or_range_20(self):
        got = ranges_or([ScanRange()], [ScanRange()])
        assert _set(got) == _set([ScanRange()])

    # orRange 21 (:457) — closed end wins over open end on merge
    def test_or_range_21(self):
        got = ranges_or([_r(10, True, 20, True)], [_r(10, True, 20, False)])
        assert _set(got) == _set([_r(10, True, 20, True)])

    # orRange 22 (:469) — multi OR multi, pairwise bridges
    def test_or_range_22(self):
        got = ranges_or([_r(10, True, 20, True), _r(30, True, 40, True)],
                        [_r(5, True, 15, False), _r(35, True, 45, False)])
        assert _set(got) == _set([_r(5, True, 20, True), _r(30, True, 45, False)])

    # orRange 23 (:484) — unsigned byte ordering: [0x00]*6.."row005"
    # absorbs the "row005" point; [0x80]*6..[0xff]*6 (signed
    # MinValue..-1 under Bytes.compareTo) stays disjoint ABOVE ASCII
    def test_or_range_23(self):
        lo0, r5 = bytes(6), b"row005"
        hi_lo, hi_hi = bytes([0x80] * 6), bytes([0xFF] * 6)
        got = ranges_or([_r(r5, True, r5, True)],
                        [_r(lo0, True, r5, True), _r(hi_lo, True, hi_hi, True)])
        assert _set(got) == _set(
            [_r(lo0, True, r5, True), _r(hi_lo, True, hi_hi, True)])
