"""Go strconv.FormatFloat(v,'g',-1,64) parity — both tiers (gofmt.py).

Expected strings below are Go outputs (verified against the Go spec's
shortest-'g' algorithm, strconv/ftoa.go: %e when decimal exponent < -4 or
>= 6, shortest round-trip digits, 2-digit-minimum exponent). Pins the
ADVICE-r3 vectors (1e6 / 1.2345675e6 / 1e-4) plus boundary and special
cases, then fuzzes the Column tier against the Python tier.
"""

from __future__ import annotations

import math
import random
import struct

import pyspark.sql.functions as F
import pytest

from loongcollector_spark.operators.gofmt import fmt_go_g, go_g

GO_VECTORS = [
    (0.0, "0"),
    (-0.0, "-0"),
    (1.0, "1"),
    (-2.5, "-2.5"),
    (123.456, "123.456"),
    (0.1, "0.1"),
    (100000.0, "100000"),
    (999999.0, "999999"),
    (999999.5, "999999.5"),
    (123456.0, "123456"),
    # ADVICE r3 vectors: exponent-form switch at decimal exponent >= 6
    (1000000.0, "1e+06"),
    (2000000.0, "2e+06"),
    (1234567.5, "1.2345675e+06"),
    (1000000.5, "1.0000005e+06"),
    # ... and at decimal exponent < -4
    (0.0001, "0.0001"),
    (0.00012345, "0.00012345"),
    (0.00001, "1e-05"),
    (1.5e-7, "1.5e-07"),
    # 3-digit exponents, extremes, JDK-4511638 victims (Java 17 toString
    # renders 2e23 as "1.9999999999999998E23" — Go and this code say 2e+23)
    (2e23, "2e+23"),
    (1e100, "1e+100"),
    (5e-324, "5e-324"),
    (1.7976931348623157e308, "1.7976931348623157e+308"),
    (1e15, "1e+15"),
    (float("nan"), "NaN"),
    (float("inf"), "+Inf"),
    (float("-inf"), "-Inf"),
]


def test_fmt_go_g_vectors():
    for v, want in GO_VECTORS:
        assert fmt_go_g(v) == want, f"{v!r}: {fmt_go_g(v)} != {want}"


def test_fmt_go_g_negative_zero():
    assert fmt_go_g(-0.0) == "-0"
    assert fmt_go_g(0.0) == "0"


def test_go_g_column_vectors(spark):
    vals = [(v,) for v, _ in GO_VECTORS]
    rows = (
        spark.createDataFrame(vals, "v double")
        .select("v", go_g(F.col("v")).alias("g"))
        .collect()
    )
    got = {i: r["g"] for i, r in enumerate(rows)}
    for i, (v, want) in enumerate(GO_VECTORS):
        if v == 0.0:  # createDataFrame order is preserved; match by index
            # -0.0 and 0.0 are distinguishable only via the sign bit
            pass
        assert got[i] == want, f"{v!r}: {got[i]} != {want}"


@pytest.mark.parametrize("seed", [7, 42])
def test_go_g_column_fuzz_matches_python(spark, seed):
    rng = random.Random(seed)
    vals: list[float] = []
    for _ in range(1500):
        v = struct.unpack("<d", struct.pack("<Q", rng.getrandbits(64)))[0]
        if not (math.isnan(v) or math.isinf(v)):
            vals.append(v)
    for _ in range(800):
        vals.append(rng.uniform(-1e8, 1e8))
        vals.append(float(rng.randint(-(10**9), 10**9)))
        vals.append(rng.uniform(-1, 1) * 10 ** rng.randint(-12, 12))
        vals.append(round(rng.uniform(0, 100), rng.randint(0, 4)))
    rows = (
        spark.createDataFrame([(v,) for v in vals], "v double")
        .select("v", go_g(F.col("v")).alias("g"))
        .collect()
    )
    mism = [(r["v"], r["g"], fmt_go_g(r["v"])) for r in rows if r["g"] != fmt_go_g(r["v"])]
    assert not mism, f"{len(mism)} mismatches, first: {mism[:5]}"


def test_go_g_column_null_is_null(spark):
    rows = (
        spark.createDataFrame([(0, None), (1, 1.5)], "i int, v double")
        .select("i", go_g(F.col("v")).alias("g"))
        .orderBy("i")
        .collect()
    )
    assert [r["g"] for r in rows] == [None, "1.5"]
