"""Influx line-protocol decoder goldens ported from
pkg/protocol/decoder/influxdb/decoder_test.go (TestFieldsExtend / TestNormal /
TestMySQL row counts)."""

from __future__ import annotations

from loongcollector_spark.operators.base import to_events
from loongcollector_spark.operators.influx import InfluxDecoder

TXT_WITH_DOT_NAMES = [
    "cpu.load,host=server01,region=uswest value=1 1434055562000000000",
    'cpu.load,host.dd=server02,region=uswest tt="xx",value=3 1434055562000010000',
]

TEXT_FORMAT = """
# integer value
cpu value=1i

# float value
cpu_load value=1

cpu_load value=1.0

cpu_load value=1.2

# boolean value
error fatal=true

# string value
event msg="logged out"

# multiple values
cpu load=10,alert=true,reason="value above maximum threshold"

cpu,host=server01,region=uswest value=1 1434055562000000000
cpu,host=server02,region=uswest value=3 1434055562000010000
temperature,machine=unit42,type=assembly internal=32,external=100 1434055562000000035
temperature,machine=unit143,type=assembly internal=22,external=130 1434055562005000035
cpu,host=server\\ 01,region=uswest value=1,msg="all systems nominal"
cpu,host=server\\ 01,region=us\\,west value_int=1i
"""

MYSQL_FORMAT = """
cpu,host=server01,region=uswest value=1 1434055562000000000

mysql,host=Vm-Req-170328120400894271-tianchi113855.tc,server=rm-bp1eomqfte2vj91tkjo.mysql.rds.aliyuncs.com:3306 bytes_sent=19815071437i,com_assign_to_keycache=0i,com_alter_event=0i,com_alter_function=0i,com_alter_server=0i,com_alter_table=0i,aborted_clients=7738i,binlog_cache_use=136756i,binlog_stmt_cache_use=136759i,com_alter_procedure=0i,binlog_stmt_cache_disk_use=0i,bytes_received=6811387420i,com_alter_db_upgrade=0i,com_alter_instance=0i,aborted_connects=7139i,binlog_cache_disk_use=0i,com_admin_commands=3478164i,com_alter_db=0i,com_alter_tablespace=0i,com_alter_user=0i 1595818360000000000

mysql,host=Vm-Req-170328120400894271-tianchi113855.tc,server=rm-bp1eomqfte2vj91tkjo.mysql.rds.aliyuncs.com:3306 innodb_buffer_pool_read_ahead_rnd=0i,innodb_data_pending_fsyncs=0i,innodb_buffer_pool_bytes_dirty=4325376i,innodb_buffer_pool_pages_flushed=21810i,innodb_buffer_pool_pages_total=40960i,innodb_buffer_pool_read_ahead_evicted=0i,innodb_buffer_pool_reads=757i,innodb_buffer_pool_load_status="Buffer pool(s) load completed at 200702 21:33:49",innodb_buffer_pool_pages_data=846i,innodb_buffer_pool_read_ahead=0i,innodb_buffer_pool_write_requests=36830857i,innodb_data_fsyncs=344588i,innodb_buffer_pool_dump_status="Dumping of buffer pool not started",innodb_buffer_pool_pages_dirty=264i,innodb_buffer_pool_pages_misc=3i,innodb_buffer_pool_read_requests=45390218i,innodb_buffer_pool_wait_free=0i,innodb_buffer_pool_bytes_data=13860864i,innodb_buffer_pool_pages_free=40111i 1595406780000000000
"""


def _events(spark, lines):
    df = spark.createDataFrame([(i, c) for i, c in enumerate(lines)], ["i", "content"])
    return to_events(df)


def _rows(df):
    return [r.asDict() for r in df.collect()]


def test_fields_extend_goldens(spark):
    out = InfluxDecoder(fields_extend=True).apply(_events(spark, TXT_WITH_DOT_NAMES))
    got = sorted(
        ({k: v for k, v in r.items() if k != "i"} for r in _rows(out)),
        key=lambda r: (r["__name__"], r["__time_nano__"]),
    )
    want = [
        {"__name__": "cpu.load", "__value__": "1",
         "__labels__": "host#$#server01|region#$#uswest",
         "__time_nano__": "1434055562000000000",
         "__type__": "float", "__field__": "value"},
        {"__name__": "cpu.load", "__value__": "3",
         "__labels__": "host.dd#$#server02|region#$#uswest",
         "__time_nano__": "1434055562000010000",
         "__type__": "float", "__field__": "value"},
        {"__name__": "cpu.load:tt", "__value__": "xx",
         "__labels__": "host.dd#$#server02|region#$#uswest",
         "__time_nano__": "1434055562000010000",
         "__type__": "string", "__field__": "tt"},
    ]
    assert got == want


def test_sls_metrics_format_goldens(spark):
    # FieldsExtend=false + EnableSlsMetricsFormat: names/keys sanitized,
    # string fields skipped, no __type__/__field__
    out = InfluxDecoder(fields_extend=False, sls_metrics_format=True).apply(
        _events(spark, TXT_WITH_DOT_NAMES)
    )
    got = sorted(
        ({k: v for k, v in r.items() if k != "i"} for r in _rows(out)),
        key=lambda r: r["__time_nano__"],
    )
    want = [
        {"__name__": "cpu_load", "__value__": "1",
         "__labels__": "host#$#server01|region#$#uswest",
         "__time_nano__": "1434055562000000000"},
        {"__name__": "cpu_load", "__value__": "3",
         "__labels__": "host_dd#$#server02|region#$#uswest",
         "__time_nano__": "1434055562000010000"},
    ]
    assert got == want


def test_normal_row_count(spark):
    # TestNormal: 15 logs (strings skipped without FieldsExtend)
    out = InfluxDecoder().apply(_events(spark, TEXT_FORMAT.split("\n")))
    assert out.count() == 15


def test_mysql_row_count(spark):
    # TestMySQL: 38 logs (two string fields skipped)
    out = InfluxDecoder().apply(_events(spark, MYSQL_FORMAT.split("\n")))
    assert out.count() == 38


def test_escapes_types_and_g_format(spark):
    lines = [
        # escaped space/comma in tags; integral float → "1"; 1.0 → "1"
        'cpu,host=server\\ 01,region=us\\,west value=1.0,msg="all systems nominal"',
        # bool variants, uint, negative int, float fraction
        "m,t=a fatal=T,ok=f,n=-5i,u=7u,load=1.25 1434055562000000000",
    ]
    out = InfluxDecoder(fields_extend=True).apply(_events(spark, lines))
    rows = {r["__name__"]: r for r in _rows(out)}
    assert rows["cpu"]["__value__"] == "1"
    assert rows["cpu"]["__labels__"] == "host#$#server 01|region#$#us,west"
    assert rows["cpu:msg"]["__value__"] == "all systems nominal"
    assert rows["cpu:msg"]["__type__"] == "string"
    # no timestamp → default_ts_ns
    assert rows["cpu"]["__time_nano__"] == "0"
    assert rows["m:fatal"]["__value__"] == "1" and rows["m:fatal"]["__type__"] == "bool"
    assert rows["m:ok"]["__value__"] == "0"
    assert rows["m:n"]["__value__"] == "-5" and rows["m:n"]["__type__"] == "int"
    assert rows["m:u"]["__value__"] == "7" and rows["m:u"]["__type__"] == "int"
    assert rows["m:load"]["__value__"] == "1.25" and rows["m:load"]["__type__"] == "float"
    assert rows["m:load"]["__time_nano__"] == "1434055562000000000"


def test_time_nano_digit_normalization(spark):
    # NewMetricLogStringVal (log_helper.go:270-283): 13-digit ms appends
    # '000000'; 19-digit verbatim; other lengths scale by 10^(19-len) via
    # float64 (10-digit epoch seconds → ns)
    lines = [
        "a v=1 1434055562000",  # 13 digits (ms)
        "b v=1 1434055562000000000",  # 19 digits (ns)
        "c v=1 1434055562",  # 10 digits (s) → ×10^9
    ]
    out = InfluxDecoder().apply(_events(spark, lines))
    rows = {r["__name__"]: r["__time_nano__"] for r in _rows(out)}
    assert rows["a:v"] == "1434055562000000000"
    assert rows["b:v"] == "1434055562000000000"
    assert rows["c:v"] == "1434055562000000000"


def test_g_format_exponent_boundary(spark):
    # gofmt.go_g: decimal exponent >= 6 or < -4 switches to %e (Go 'g')
    lines = ["m v=2000000,w=1234567.5,x=0.0001,y=0.00001,z=999999.5 1434055562000000000"]
    out = InfluxDecoder().apply(_events(spark, lines))
    rows = {r["__name__"]: r["__value__"] for r in _rows(out)}
    assert rows["m:v"] == "2e+06"
    assert rows["m:w"] == "1.2345675e+06"
    assert rows["m:x"] == "0.0001"
    assert rows["m:y"] == "1e-05"
    assert rows["m:z"] == "999999.5"


def test_malformed_line_dropped_not_job(spark):
    lines = ["not a valid line", "cpu value=1i 1434055562000000000"]
    out = InfluxDecoder().apply(_events(spark, lines))
    rows = _rows(out)
    assert len(rows) == 1 and rows[0]["__value__"] == "1"


def test_influx_serialize_decode_roundtrip_generated(spark):
    """Property check: InfluxMetricSerializer (converter_sls_metric.go
    readValue/readNames semantics) and InfluxDecoder (decoder.go parsePoints)
    are exact inverses over the clean domain — ',= ' escaping in measurement
    and tags, quoted/escaped string fields, int 'i' suffix, bool forms,
    ':field' name suffixes, 19-digit timestamps — across ~240 generated rows.
    Excluded by construction (protocol-level ambiguities, not engine bugs):
    '|' / '#$#' inside label values (the sls label wire format's own
    separators), backslash in measurement/tags (line protocol does not
    escape it there), '#'-leading measurements (comment lines)."""
    import random

    import pyspark.sql.functions as F

    from loongcollector_spark.operators.convert import InfluxMetricSerializer
    from loongcollector_spark.operators.gofmt import go_g
    from loongcollector_spark.operators.influx import InfluxDecoder

    rng = random.Random(7)
    name_alpha = "aB9_,. -"
    lab_alpha = 'x7_,= ".'
    str_alpha = 'ab,= "\\.'

    rows, expected = [], []
    for i in range(240):
        nlab = rng.randint(0, 3)
        keys = sorted(rng.sample(["k", "ab", "z9", "_u", "q"], nlab))
        labels = "|".join(
            k + "#$#" + "".join(rng.choice(lab_alpha) for _ in range(rng.randint(0, 4)))
            for k in keys
        )
        ts = str(rng.randint(10**18, 9 * 10**18)) if rng.random() < 0.8 else None
        kind = rng.choice(["float", "int", "bool", "string", "suffix"])
        base = "".join(rng.choice(name_alpha) for _ in range(rng.randint(1, 8)))
        fld = None
        if kind == "suffix":
            fld = rng.choice(["load", "io", "x"])
            name, typ = base + ":" + fld, None
            val = repr(rng.uniform(-1e6, 1e6))
        elif kind == "float":
            name, typ = base, rng.choice([None, "float"])
            val = rng.choice([
                repr(rng.uniform(-1e6, 1e6)),
                repr(rng.random() * 10 ** rng.randint(-8, 8)),
                str(rng.randint(-1000, 1000)),
            ])
        elif kind == "int":
            name, typ, val = base, "int", str(rng.randint(-2**40, 2**40))
        elif kind == "bool":
            name, typ, val = base, "bool", rng.choice(["1", "0"])
        else:
            name, typ = base, "string"
            val = "".join(rng.choice(str_alpha) for _ in range(rng.randint(0, 8)))
        rows.append((i, name, labels, val, ts, typ, fld))
        expected.append({
            "i": i, "__name__": name, "__labels__": labels,
            "__time_nano__": ts if ts is not None else "0",
            "__field__": fld or "value",
            "kind": kind, "raw_value": val,
        })

    inp = _metric_like_df(spark, rows)
    ser = InfluxMetricSerializer().apply(inp)
    assert ser.filter(F.col("line").isNull()).count() == 0  # clean domain

    from loongcollector_spark.operators.base import to_events

    dec = InfluxDecoder(fields_extend=True).apply(
        to_events(ser.select("i", "line"), content_col="line")
    )
    got = {r["i"]: r.asDict() for r in dec.collect()}
    assert len(got) == len(rows)  # one metric row back per input row

    # canonical float strings via the engine's own Go-%g renderer (pinned
    # separately in test_gofmt / the exponent-boundary golden above)
    float_ids = [e["i"] for e in expected if e["kind"] in ("float", "suffix")]
    canon = {
        r["i"]: r["c"]
        for r in inp.filter(F.col("i").isin(float_ids))
        .select("i", go_g(F.col("__value__").cast("double")).alias("c"))
        .collect()
    }
    for e in expected:
        g = got[e["i"]]
        for col in ("__name__", "__labels__", "__time_nano__", "__field__"):
            assert g[col] == e[col], (e["i"], col, g[col], e[col])
        want_val = canon[e["i"]] if e["kind"] in ("float", "suffix") else e["raw_value"]
        assert g["__value__"] == want_val, (e["i"], g["__value__"], want_val)
        want_type = "float" if e["kind"] == "suffix" else e["kind"]
        assert g["__type__"] == want_type, (e["i"], g["__type__"], want_type)


def _metric_like_df(spark, rows):
    return spark.createDataFrame(
        rows,
        "i int, `__name__` string, `__labels__` string, `__value__` string, "
        "`__time_nano__` string, `__type__` string, `__field__` string",
    )
