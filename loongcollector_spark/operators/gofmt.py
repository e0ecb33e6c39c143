"""Go ``strconv.FormatFloat(v, 'g', -1, 64)`` — exact, both tiers.

The reference renders every float ``__value__`` through Go's shortest-digits
'g' format (pkg/helper/log_helper.go NewMetricLog, influxdb decoder.go:169,
statsd, flusher converters). Semantics (Go strconv/ftoa.go, 'g' with
prec=-1): take the shortest decimal digit string that round-trips to the
same float64, then print positional (%f) when the decimal exponent is in
[-4, 6), exponent form (%e, ``d.ddde±XX`` with a 2-digit-minimum zero-padded
exponent) otherwise. Examples the boundary pins: ``999999.5`` → "999999.5",
``2000000`` → "2e+06", ``1234567.5`` → "1.2345675e+06", ``0.0001`` →
"0.0001", ``0.00001`` → "1e-05". Specials use Go spellings "NaN", "+Inf",
"-Inf"; negative zero prints "-0".

Two implementations:
- ``fmt_go_g`` (Python, used inside Arrow mappers): Python's ``repr`` is the
  same shortest-round-trip digit string (Gay/Ryū), so parity is exact for
  every finite double.
- ``go_g`` (Column, JVM-side): finds the shortest round-trip digit string
  directly — an unrolled ``format_string('%.Ne')`` candidate ladder
  (N = 0..16) whose first round-trip (``try_cast`` back equals the value)
  wins — then re-renders with the Go decision rule. A ``Double.toString``
  reparse is NOT usable here: pre-JDK-19 Java emits non-shortest digits for
  a measurable set of doubles (JDK-4511638; this JVM renders 2e23 as
  "1.9999999999999998E23"). The ladder is a lazy CASE chain, so typical
  1-7-significant-digit metric values stop after a few JVM format calls.
  Residual caveat (documented, value-safe): if Java's HALF_UP %e rounding
  ever disagrees with nearest-shortest at the minimal width, the ladder
  falls through to one more digit — a longer-but-round-trip-equal string,
  never a wrong value. tests/test_gofmt.py fuzzes this tier against the
  Python tier.
"""

from __future__ import annotations

import decimal
import math

import pyspark.sql.functions as F
from pyspark.sql import Column


def fmt_go_g(v: float) -> str:
    """Exact Go strconv.FormatFloat(v, 'g', -1, 64)."""
    if math.isnan(v):
        return "NaN"
    if math.isinf(v):
        return "+Inf" if v > 0 else "-Inf"
    if v == 0:
        return "-0" if math.copysign(1.0, v) < 0 else "0"
    sign = "-" if v < 0 else ""
    t = decimal.Decimal(repr(abs(v))).as_tuple()
    digits = "".join(map(str, t.digits)).rstrip("0")
    # value = 0.<digits> * 10^dp
    dp = len(t.digits) + t.exponent
    exp = dp - 1
    if exp < -4 or exp >= 6:  # ftoa.go: shortest 'g' uses eprec = 6
        mant = digits[0] + ("." + digits[1:] if len(digits) > 1 else "")
        return f"{sign}{mant}e{'-' if exp < 0 else '+'}{abs(exp):02d}"
    if dp <= 0:
        return f"{sign}0.{'0' * -dp}{digits}"
    if dp >= len(digits):
        return sign + digits + "0" * (dp - len(digits))
    return f"{sign}{digits[:dp]}.{digits[dp:]}"


def go_g(d: Column) -> Column:
    """Column tier of :func:`fmt_go_g` — pure JVM expressions, no UDF; NULL
    renders as NULL."""
    from .common import flet

    a = F.abs(d)
    # shortest-digits search: first %.Ne rendering that round-trips wins
    cands = [
        F.when(F.format_string(f"%.{n}e", a).try_cast("double") == a,
               F.format_string(f"%.{n}e", a))
        for n in range(17)
    ]
    sci = F.coalesce(*cands, F.format_string("%.16e", a))

    def render(s: Column) -> Column:
        mant = F.substring_index(s, "e", 1)
        exp = F.substring_index(s, "e", -1).cast("int")

        def render2(b: Column) -> Column:
            dg, e = b.getField("dg"), b.getField("e")
            nd = F.length(dg)
            p = e + 1  # decimal-point position: value = 0.<dg> * 10^p
            e_mant = F.concat(
                F.substring(dg, 1, 1),
                F.when(
                    nd > 1, F.concat(F.lit("."), F.substring(dg, 2, 1000))
                ).otherwise(F.lit("")),
            )
            eabs = F.abs(e).cast("string")
            e_suf = F.concat(
                F.when(e < 0, F.lit("e-")).otherwise(F.lit("e+")),
                F.when(F.length(eabs) < 2, F.concat(F.lit("0"), eabs)).otherwise(eabs),
            )
            f_form = (
                F.when(p <= 0, F.concat(F.lit("0."), F.repeat(F.lit("0"), -p), dg))
                .when(p >= nd, F.rpad(dg, p, "0"))
                .otherwise(
                    F.concat(
                        dg.substr(F.lit(1), p), F.lit("."), dg.substr(p + 1, F.lit(1000))
                    )
                )
            )
            return F.when((e < -4) | (e >= 6), F.concat(e_mant, e_suf)).otherwise(
                f_form
            )

        digits = F.regexp_replace(
            F.replace(mant, F.lit("."), F.lit("")), "0+$", ""
        )
        # all-zero mantissa never reaches here (d == 0 handled below), so
        # `digits` keeps its nonzero leading digit and exp stays normalized
        return flet(F.struct(digits.alias("dg"), exp.alias("e")), render2)

    body = flet(sci, render)
    sign = F.when(d.cast("string").startswith("-"), F.lit("-")).otherwise(F.lit(""))
    # NULL first: the ladder's format_string renders NULL as the text 'null'
    return (
        F.when(d.isNull(), F.lit(None).cast("string"))
        .when(F.isnan(d), F.lit("NaN"))
        .when(d == F.lit(float("inf")), F.lit("+Inf"))
        .when(d == F.lit(float("-inf")), F.lit("-Inf"))
        .when(d == 0, F.concat(sign, F.lit("0")))
        .otherwise(F.concat(sign, body))
    )
