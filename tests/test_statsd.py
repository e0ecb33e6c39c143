"""StatsD decoder tests (pkg/protocol/decoder/statsd/decoder.go:44-64 over the
public dogstatsd grammar)."""

from __future__ import annotations

from loongcollector_spark.operators.base import to_events
from loongcollector_spark.operators.statsd import StatsdDecoder


def _events(spark, lines):
    df = spark.createDataFrame([(i, c) for i, c in enumerate(lines)], ["i", "content"])
    return to_events(df)


def test_statsd_basic(spark):
    lines = [
        "page.views:1|c",
        "fuel.level:0.5|g",
        "song.length:240|h|@0.5",
        "users.online:123|c|@0.5|#country:china,region:east",
        "not a statsd line",
        "",
    ]
    out = StatsdDecoder(default_ts_ns=1700000000000000000).apply(_events(spark, lines))
    rows = {r["__name__"]: r.asDict() for r in out.collect()}
    assert len(rows) == 4  # malformed + blank dropped
    assert rows["page.views"]["__value__"] == "1"
    assert rows["page.views"]["__labels__"] == ""
    assert rows["fuel.level"]["__value__"] == "0.5"
    assert rows["song.length"]["__value__"] == "240"  # integral → %g "240"
    assert rows["users.online"]["__value__"] == "123"
    assert rows["users.online"]["__labels__"] == "country#$#china|region#$#east"
    assert rows["users.online"]["__time_nano__"] == "1700000000000000000"


def test_statsd_tag_sort_and_negative_gauge(spark):
    out = StatsdDecoder().apply(
        _events(spark, ["t.metric:-3.5|g|#zz:1,aa:2", "s.set:abc|s"])
    )
    rows = {r["__name__"]: r.asDict() for r in out.collect()}
    # non-float set value dropped (the reference would panic on the
    # float64 assertion; we drop the line)
    assert list(rows) == ["t.metric"]
    assert rows["t.metric"]["__value__"] == "-3.5"
    assert rows["t.metric"]["__labels__"] == "aa#$#2|zz#$#1"


def test_statsd_decode_roundtrip_generated(spark):
    """Property check over ~200 generated dogstatsd lines: serializing
    (name, value, type, rate, tags) through the public grammar
    ``name:value|type[|@rate][|#k:v,...]`` and decoding with StatsdDecoder
    recovers name, Go-%g-canonical value, and the sorted ``k#$#v|...`` label
    wire form exactly. Clean domain by construction (grammar separators
    ``:|,#`` excluded from the slots that cannot carry them — the protocol
    itself is ambiguous there, not the engine): name has no ``:|`` and no
    edge whitespace (the decoder trims whole lines like the UDP reader);
    tag keys have no ``:,|``; tag values may contain ``:`` (split is on the
    FIRST colon) but not ``,|``."""
    import random

    import pyspark.sql.functions as F

    from loongcollector_spark.operators.gofmt import go_g

    rng = random.Random(11)
    name_alpha = "aB9_./-"
    key_alpha = "ab9_."
    val_alpha = "xY7_.:-"

    lines, expected = [], []
    for i in range(200):
        name = "".join(rng.choice(name_alpha) for _ in range(rng.randint(1, 10)))
        kind = rng.choice(["float", "exp", "int"])
        if kind == "float":
            raw = repr(rng.uniform(-1e6, 1e6))
        elif kind == "exp":
            raw = repr(rng.random() * 10 ** rng.randint(-8, 8))
        else:
            raw = str(rng.randint(-10**6, 10**6))
        typ = rng.choice(["c", "g", "ms", "h", "d"])
        line = f"{name}:{raw}|{typ}"
        if rng.random() < 0.4:
            line += f"|@0.{rng.randint(1, 9)}"  # parsed but unused
        pairs, toks = [], []
        if rng.random() < 0.7:
            for k in rng.sample(["k", "ab", "z9", "_u", "q"], rng.randint(0, 4)):
                key = k + "".join(rng.choice(key_alpha) for _ in range(rng.randint(0, 2)))
                if rng.random() < 0.2:
                    # bare token ("key") and trailing-colon token ("key:")
                    # both decode to an empty value
                    pairs.append((key, ""))
                    toks.append(key if rng.random() < 0.5 else key + ":")
                else:
                    v = "".join(rng.choice(val_alpha) for _ in range(rng.randint(1, 5)))
                    pairs.append((key, v))
                    toks.append(f"{key}:{v}")
            line += "|#" + ",".join(toks)
        labels = "|".join(f"{k}#$#{v}" for k, v in sorted(pairs))
        lines.append(line)
        expected.append({"i": i, "name": name, "raw": raw, "labels": labels})

    out = StatsdDecoder(default_ts_ns=1_700_000_000_000_000_000).apply(
        _events(spark, lines)
    )
    got = {r["i"]: r.asDict() for r in out.collect()}
    assert len(got) == len(expected)  # every generated line parses

    # canonical %g strings via the engine's own renderer (pinned elsewhere
    # by the influx goldens)
    raws = spark.createDataFrame(
        [(e["i"], e["raw"]) for e in expected], ["i", "raw"]
    ).select("i", go_g(F.col("raw").cast("double")).alias("c"))
    canon = {r["i"]: r["c"] for r in raws.collect()}

    for e in expected:
        r = got[e["i"]]
        assert r["__name__"] == e["name"], e
        assert r["__value__"] == canon[e["i"]], e
        assert r["__labels__"] == e["labels"], e
        assert r["__time_nano__"] == "1700000000000000000"
