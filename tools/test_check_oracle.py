#!/usr/bin/env python3
"""Planted-regression tests for tools/check_oracle.py's type-strict
comparison (the local mirror of the driver's type-sensitive hash).

The load-bearing case (judge r9/r10): an oracle SQL that forgets
`CAST(SUM(big) AS BIGINT)` — DuckDB's SUM over BIGINT yields HUGEINT,
which pandas surfaces as float64 (small values) or object (values past
int64/float64) — must FAIL with the TYPE-ONLY message even though every
value is numerically identical, because the driver's hash reds it.

Run: python3 tools/test_check_oracle.py  (exit 0 = all planted cases behave)
"""
import sys
import pandas as pd
import numpy as np
from check_oracle import compare_frames

failures = []


def expect(case, got_ok, want_ok, msgs, want_substr=None):
    ok = got_ok == want_ok and (
        want_substr is None or any(want_substr in m for m in msgs))
    status = "ok  " if ok else "FAIL"
    print(f"{status} {case}: ok={got_ok} msgs={msgs}")
    if not ok:
        failures.append(case)


# 1. The planted un-cast SUM: spark int64 vs duck float64, identical values.
spark = pd.DataFrame({"k": ["a", "b"], "s": np.array([10, 20], dtype="int64")})
duck = pd.DataFrame({"k": ["a", "b"], "s": np.array([10.0, 20.0], dtype="float64")})
ok, msgs = compare_frames("uncast_sum_float", spark, duck)
expect("uncast SUM -> float64 is TYPE-ONLY FAIL", ok, False, msgs,
       "TYPE-ONLY mismatch (values identical)")

# 2. HUGEINT surfacing as OBJECT dtype (the r10 hole): int64 vs object ints.
duck_obj = pd.DataFrame({"k": ["a", "b"], "s": pd.Series([10, 20], dtype="object")})
ok, msgs = compare_frames("uncast_sum_object", spark, duck_obj)
expect("uncast SUM -> object is TYPE-ONLY FAIL", ok, False, msgs,
       "TYPE-ONLY mismatch (values identical)")

# 3. Values above 2^53: float64 round-trip loses precision, so the tag
#    must NOT claim 'values identical' when exact ints differ.
big_a = pd.DataFrame({"s": pd.Series([2**60 + 1], dtype="object")})
big_b = pd.DataFrame({"s": np.array([2**60], dtype="int64")})
ok, msgs = compare_frames("big_int_differs", big_b, big_a)
expect("2^60 vs 2^60+1 is type AND value mismatch", ok, False, msgs,
       "type AND value mismatch")

# 4. Matching int64 both sides passes.
ok, msgs = compare_frames("both_int", spark, spark.copy())
expect("identical int64 frames pass", ok, True, msgs)

# 5. String (object) columns both sides still compare by value, no type red.
s1 = pd.DataFrame({"k": ["x", "y"]})
ok, msgs = compare_frames("both_object_str", s1, s1.copy())
expect("object-vs-object strings pass", ok, True, msgs)

# 6. Float both sides with identical values passes (no spurious red).
f1 = pd.DataFrame({"v": np.array([1.5, np.nan], dtype="float64")})
ok, msgs = compare_frames("both_float", f1, f1.copy())
expect("float-vs-float with NaN passes", ok, True, msgs)

# 7. True value difference in matching dtypes still fails with a row diff.
d1 = pd.DataFrame({"v": np.array([1, 2], dtype="int64")})
d2 = pd.DataFrame({"v": np.array([1, 3], dtype="int64")})
ok, msgs = compare_frames("value_diff", d1, d2)
expect("plain value diff fails", ok, False, msgs, "differs at row")

# 8. A typo'd `only` name must surface as unknown, never a silent skip
#    that prints 'N/N match' over nothing (advisor r11).
from check_oracle import unknown_only_names
got = unknown_only_names({"q01_real", "q999_typo"}, {"q01_real", "q02_real"})
expect("typo'd only-name surfaces as unknown", got == ["q999_typo"],
       True, [str(got)])
got2 = unknown_only_names(set(), {"q01_real"})
expect("empty only has no unknowns", got2 == [], True, [str(got2)])

# 9. The slowest-oracle list: slowest first, ties by name, at most n.
from check_oracle import slowest
got3 = slowest({"q01": 0.5, "q02": 3.0, "q03": 1.0, "q04": 3.0}, n=3)
expect("slowest oracles come first, ties by name",
       got3 == [("q02", 3.0), ("q04", 3.0), ("q03", 1.0)], True, [str(got3)])

# 10. The over-budget list: names over the budget only, slowest first.
from check_oracle import over_budget
got4 = over_budget({"q01": 0.5, "q02": 30.0, "q03": 20.0, "q04": 45.0}, budget=20.0)
expect("oracles over the budget are named, slowest first, the budget itself is not over",
       got4 == ["q04", "q02"], True, [str(got4)])

print(f"\n{11 - len(failures)}/11 planted cases behave")
sys.exit(1 if failures else 0)
