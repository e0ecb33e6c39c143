"""Flagship end-to-end behaviors: the one parse path against the per-source
(branched) parser operators and the JVM decode, per-sink resumable writes,
the write's rebalance splitting a hot sink, desensitize masking."""

import importlib.util
import json
import os
import re
import subprocess
import sys
import threading
from collections import Counter
from functools import reduce
from pathlib import Path

import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import DataFrame

from loongcollector_spark import flagship
from loongcollector_spark.aggregate import sink_aggregates
from loongcollector_spark.operators.base import FIELDS, fget, to_events
from loongcollector_spark.operators.common import ParserOptions
from loongcollector_spark.operators.transforms import Desensitize
from loongcollector_spark.plans.checkpoint import Manifest, resumable_write
from loongcollector_spark.routing import RouteCondition, Router
from loongcollector_spark.synth import (
    ROUTE_RULES,
    SOURCE_LOOKUP_ROWS,
    sequences_df,
    source_lookup_df,
)
from loongcollector_spark.tokens import (
    REGEX_GROUPS,
    REGEX_OK,
    decode_tokens,
    decode_tokens_arrow,
)


def _per_source_reference(seq, arrow=False):
    """The flagship parse built the branched way: per source, a decode and
    that format's parser ``apply``, unioned; other sources are dropped."""
    if arrow:
        decoded = decode_tokens_arrow(seq, "tokens", "content", drop_tokens=True)
    else:
        decoded = seq.withColumn("content", decode_tokens("tokens")).drop("tokens")
    ev = to_events(decoded)
    parts = [p.apply(ev.filter(F.col("source") == s)) for s, p in flagship.PARSERS.items()]
    return reduce(DataFrame.unionByName, parts)


def _keyed(df):
    return sorted(
        (r["doc_id"], r["source"], r["n_tok"], tuple(sorted(r[FIELDS].items())))
        for r in df.collect()
    )


def _seq_of(spark, lines):
    """A sequences frame of (doc_id, line, source) triples."""
    return spark.createDataFrame(
        [(d, [ord(c) for c in line], len(line), s) for d, line, s in lines],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )


def _sink_events(aggs):
    return {r["sink"]: r["events"] for r in aggs.collect()}


def test_arrow_and_jvm_paths_identical(spark, sf_dir):
    """The flagship parse (one Arrow decode, CASE over the parsers' parse())
    equals the per-source parser operators over the JVM decode, on the
    fixture plus a row of an unknown source with four tab fields, which both
    must discard and which reaches no sink."""
    unknown = _seq_of(spark, [("unknown", "u2\t11\tPUT\t7", "syslog")])
    seq = sequences_df(spark, sf_dir).unionByName(unknown)
    got = _keyed(flagship.parsed_events_from(seq))
    assert got == _keyed(_per_source_reference(seq))
    assert "unknown" not in {d for d, _, _, _ in got}
    assert _sink_events(flagship.pipeline_aggregates_from(spark, seq)) == {
        "sink_a": 850, "sink_b": 100, "sink_default": 950,
    }


def test_fused_equals_branched(spark, sf_dir):
    """The fused CASE dispatch over one Arrow decode equals the branched
    parse (one filtered branch per source, same Arrow decode, each parser's
    apply) row for row on the fixture."""
    seq = sequences_df(spark, sf_dir)
    got = _keyed(flagship.parsed_events_from(seq))
    assert len(got) > 0
    assert got == _keyed(_per_source_reference(seq, arrow=True))


def test_fused_csvlog_overflow_matches_branched(spark):
    """A csvlog line with MORE than len(CSV_KEYS) tab-separated fields gets
    the same __column{i}__ EXTEND overflow keys on the flagship parse as on
    the branched DelimiterParser path."""
    seq = _seq_of(spark, [("d1", "u1\t10\tGET\t42\textra1\textra2", "csvlog")])
    a = flagship.parsed_events_from(seq).collect()
    b = _per_source_reference(seq).collect()
    fa, fb = dict(a[0][FIELDS]), dict(b[0][FIELDS])
    assert fa == fb
    assert fa["__column4__"] == "extra1" and fa["__column5__"] == "extra2"


def test_fused_full_pipeline_matches_branched(spark, sf_dir):
    """pipeline_aggregates (single-scan CASE-dispatch parse) equals the same
    lookup, routing and per-sink fold over the branched parse, and keeps the
    pinned fixture counts."""
    seq = sequences_df(spark, sf_dir)
    rules = [
        RouteCondition(r["sink"], r["match_key"], r["match_value"]) for r in ROUTE_RULES
    ]
    enriched = _per_source_reference(seq).join(
        F.broadcast(source_lookup_df(spark)), "source", "left"
    )
    # the per-event route: the rules evaluated on every enriched row
    branched = sink_aggregates(Router(rules).apply(enriched)).select(
        "sink", "events", F.col("tokens_total").cast("long").alias("tokens_total")
    )
    a = flagship.pipeline_aggregates(spark, sf_dir).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in branched.collect()]
    assert {r["sink"]: r["events"] for r in a} == {
        "sink_a": 850, "sink_b": 100, "sink_default": 950,
    }


def test_every_parsed_source_has_a_lookup_row():
    """The flagship routes on the lookup's inner join, as the oracle does: a
    parsed source without a lookup row would reach no sink."""
    assert set(flagship.PARSERS) <= {row[0] for row in SOURCE_LOOKUP_ROWS}


def test_nginx_line_holding_the_group_separator(spark):
    """An nginx line whose user agent holds ``\\x01``, the separator of the
    one-pass regex parse, keeps every group whole on the flagship parse."""
    line = (
        '10.0.0.1 - - [10/Oct/2023:13:55:36 +0000] "GET /a HTTP/1.1" 200 12 '
        '"-" "Mozilla\x01/5.0 (X11)" "-"'
    )
    seq = _seq_of(spark, [("ua", line, "nginx")])
    got = flagship.parsed_events_from(seq).collect()
    groups = re.fullmatch(flagship.NGINX_REGEX, line).groups()
    assert [dict(r[FIELDS]) for r in got] == [dict(zip(flagship.NGINX_KEYS, groups))]
    assert got[0][FIELDS]["http_user_agent"] == "Mozilla\x01/5.0 (X11)"


@pytest.fixture(scope="module")
def fixture_lines(spark, sf_dir):
    """The first four decoded fixture lines of each flagship source, plus a
    malformed nginx line."""
    seq = sequences_df(spark, sf_dir).orderBy("doc_id")
    rows = seq.select("source", decode_tokens("tokens").alias("content")).collect()
    by_source = {s: [r["content"] for r in rows if r["source"] == s] for s in flagship.PARSERS}
    malformed = next(line for line in by_source["nginx"] if line.startswith("MALFORMED"))
    return [line for lines in by_source.values() for line in lines[:4]] + [malformed]


def _lines(fixture):
    """Fixture lines, cut short (malformed), with a ``\x01`` spliced in, empty,
    NULL, or short noise over the formats' delimiters."""
    pick = st.sampled_from(fixture)
    at = st.integers(0, 160)
    cut = st.tuples(pick, at).map(lambda t: t[0][: t[1]])
    sep = st.tuples(pick, at).map(lambda t: t[0][: t[1]] + "\x01" + t[0][t[1]:])
    noise = st.text(alphabet='ab1 \t{}":,[]-\x01', max_size=20)
    line = st.one_of(pick, cut, sep, noise, st.just(""), st.none())
    return st.lists(line, min_size=1, max_size=10)


def _parse_by_source(src):
    """(success, parsed map) over ``src`` of the PARSERS parser of each row's
    ``source``: one CASE, as the flagship dispatches."""
    success = new_map = None
    for source, parser in flagship.PARSERS.items():
        ok, parsed = parser.parse(src)
        hit = F.col("source") == source
        success = F.when(hit, ok) if success is None else success.when(hit, ok)
        new_map = F.when(hit, parsed) if new_map is None else new_map.when(hit, parsed)
    return success.otherwise(False), new_map


@given(st.data())
@settings(max_examples=5, deadline=None)
def test_bare_line_columns_equal_finalize_over_events(spark, fixture_lines, data):
    """The flagship's keep filter and ``fields`` (``flagship._columns()``) over
    a bare ``content`` column keep the same rows with the same ``fields`` as
    default ``ParserOptions().finalize`` over ``to_events`` of the same lines,
    for every PARSERS source. The nginx rows read the decode stage's match
    columns, filled here by the JVM regex parser (RE2 parity:
    tests/test_re2_parse.py)."""
    lines = data.draw(_lines(fixture_lines))
    df = spark.createDataFrame(
        [(i, s, line) for i, line in enumerate(lines) for s in flagship.PARSERS],
        "i int, source string, content string",
    )
    ok, groups = flagship.PARSERS["nginx"].parse(F.col("content"))
    stage = df.select("*", ok.alias(REGEX_OK), F.when(ok, groups).alias(REGEX_GROUPS))
    c = flagship._columns()
    got = stage.filter(c.keep).select("i", "source", c.fields.alias(FIELDS))
    src = fget("content")
    want = ParserOptions().finalize(to_events(df), *_parse_by_source(src), src)
    rows = [
        sorted((r["i"], r["source"], sorted(r[FIELDS].items())) for r in out.collect())
        for out in (got, want.select("i", "source", FIELDS))
    ]
    assert rows[0] == rows[1], lines


def test_second_build_makes_few_py4j_round_trips(spark, sf_dir, monkeypatch):
    """The flagship's input-independent Columns are built once per JVM, so a
    later build only chains the DataFrame operations: at most 150 py4j round
    trips (about 2,100 when each build made its expressions anew)."""
    seq = sequences_df(spark, sf_dir)
    flagship.pipeline_aggregates_from(spark, seq)
    client = spark.sparkContext._gateway._gateway_client
    real, trips = client.send_command, []
    caller = threading.get_ident()

    def counted(command, *a, **k):
        # py4j's finalizer thread frees dead objects in the background, one
        # round trip each, off the build's path: count the building thread
        if threading.get_ident() == caller:
            trips.append(command)
        return real(command, *a, **k)

    monkeypatch.setattr(client, "send_command", counted)
    flagship.pipeline_aggregates_from(spark, seq)
    assert len(trips) <= 150, "\n".join(t.replace("\n", " ") for t in trips)


def _scans(df) -> list[tuple[int, int]]:
    """(metric id, rows output) of each parquet scan of ``df``'s executed
    plan; AQE keeps the scans inside its query stages."""
    found = []

    def walk(node):
        if node.nodeName().startswith("Scan parquet"):
            rows = node.metrics().apply("numOutputRows")
            found.append((rows.id(), rows.value()))
        if node.getClass().getSimpleName().endswith("QueryStageExec"):
            walk(node.plan())
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().executedPlan().executedPlan())
    return found


def test_each_job_scans_and_parses_its_whole_input(spark, sf_dir):
    """Reusing the built Columns must not reuse a job: each build+collect
    runs a new plan whose scan reads every input row (a cached or re-collected
    DataFrame would show the first job's scan metric, or none) and gives the
    pinned aggregates."""
    n = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    seq = sequences_df(spark, sf_dir)
    seen = []
    for _ in range(2):
        df = flagship.pipeline_aggregates_from(spark, seq)
        assert _sink_events(df) == {"sink_a": 850, "sink_b": 100, "sink_default": 950}
        scans = _scans(df)
        assert [rows for _, rows in scans] == [n], scans
        seen.append(scans[0][0])
    assert seen[0] != seen[1]


_TWO_SESSIONS = """
import json, sys
from loongcollector_spark import flagship
from loongcollector_spark.session import get_spark

def events():
    spark = get_spark("two-sessions", master="local[2]", shuffle_partitions=2)
    spark.sparkContext.setLogLevel("ERROR")
    rows = flagship.pipeline_aggregates(spark, sys.argv[1]).collect()
    return spark, {r["sink"]: r["events"] for r in rows}

spark, first = events()
cols = flagship._columns()
spark.stop()
spark, second = events()
print(json.dumps({"first": first, "second": second, "reused": flagship._columns() is cols}))
spark.stop()
"""


def test_memoised_columns_serve_a_new_session_in_the_same_jvm(sf_dir, tmp_path):
    """A driver that stops its session and starts another in the same JVM
    (as one spark-submit driver running several jobs does) reuses the built
    Columns, with the same aggregates. Runs in its own driver process, so the
    shared test session is not stopped."""
    root = Path(__file__).resolve().parents[1]
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(filter(None, [str(root), os.environ.get("PYTHONPATH")])),
        SPARK_DRIVER_MEM="1g",
        SPARK_LOCAL_DIRS=str(tmp_path),
    )
    done = subprocess.run(
        [sys.executable, "-c", _TWO_SESSIONS, sf_dir],
        cwd=root, env=env, capture_output=True, text=True, timeout=600,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    got = json.loads(done.stdout.strip().splitlines()[-1])
    pinned = {"sink_a": 850, "sink_b": 100, "sink_default": 950}
    assert got == {"first": pinned, "second": pinned, "reused": True}


def test_flagship_sink_writes_match_routed_rows(spark, sf_dir, tmp_path):
    routed = flagship.routed(spark, sf_dir).select("sink", "doc_id", "source")
    manifest = Manifest(str(tmp_path / "m"))
    out = str(tmp_path / "sinks")
    sinks = ["sink_a", "sink_b", "sink_default"]
    written = resumable_write(routed, sinks, out, manifest)
    assert written == sinks
    # read back every sink dir and compare to the routed row set
    back = []
    for s in sinks:
        for r in spark.read.parquet(f"{out}/unit={s}").collect():
            back.append((s, r["doc_id"], r["source"]))
    expect = [(r["sink"], r["doc_id"], r["source"]) for r in routed.collect()]
    assert sorted(back) == sorted(expect)
    # expected per-sink counts at sf0.001 (deterministic from seeded testdata)
    counts = {s: sum(1 for b in back if b[0] == s) for s in sinks}
    assert counts == {"sink_a": 850, "sink_b": 100, "sink_default": 950}


def test_flagship_sink_write_resume_after_crash(spark, sf_dir, tmp_path, crash_after_markers):
    routed = flagship.routed(spark, sf_dir).select("sink", "doc_id")
    manifest = Manifest(str(tmp_path / "m"))
    out = str(tmp_path / "sinks")
    sinks = ["sink_a", "sink_b", "sink_default"]
    with crash_after_markers(manifest, 1), pytest.raises(RuntimeError):
        resumable_write(routed, sinks, out, manifest)
    assert manifest.done_units() == {"sink_a"}
    # resume: only the two unfinished sinks are written
    written = resumable_write(routed, sinks, out, manifest)
    assert written == ["sink_b", "sink_default"]
    total = sum(
        spark.read.parquet(f"{out}/unit={s}").count() for s in sinks
    )
    assert total == 1900


SINKS = ["sink_a", "sink_b", "sink_default"]


def _submit_job():
    path = Path(__file__).resolve().parents[1] / "tools" / "submit_job.py"
    spec = importlib.util.spec_from_file_location("submit_job", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _doc_ids(spark, out):
    """Per-sink doc_id multisets of a job's output directory."""
    return {
        s: Counter(r["doc_id"] for r in spark.read.parquet(f"{out}/unit={s}").collect())
        for s in SINKS
    }


@pytest.fixture(scope="module")
def clean_job(spark, sf_dir, tmp_path_factory):
    """One clean tools/submit_job.py run over the fixture: (out dir, result)."""
    out = str(tmp_path_factory.mktemp("clean_job"))
    return out, _submit_job().run(spark, sf_dir, out)


def test_submit_job_aggregates_from_markers_equal_pipeline_aggregates(spark, sf_dir, clean_job):
    """The aggregates the job reports come from its markers (counters of the
    one write); they equal the separate aggregate action sink by sink."""
    out, result = clean_job
    assert result["written_sinks"] == SINKS
    assert result["observed"] == result["aggregates"]
    expect = {
        r["sink"]: {"events": r["events"], "tokens_total": r["tokens_total"]}
        for r in flagship.pipeline_aggregates(spark, sf_dir).collect()
    }
    assert result["aggregates"] == expect
    assert Manifest(f"{out}/_manifest").counts(SINKS) == expect


def test_submit_job_resume_all_done_runs_no_spark_job(spark, sf_dir, clean_job):
    out, clean = clean_job
    sc = spark.sparkContext
    sc.setJobGroup("submit-job-all-done", "resume with every sink committed")
    try:
        result = _submit_job().run(spark, sf_dir, out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("submit-job-all-done") == []
    assert result["written_sinks"] == [] and result["skipped_sinks"] == SINKS
    assert result["observed"] is None
    assert result["aggregates"] == clean["aggregates"]


def test_sink_write_crash_before_markers_then_resume(
    spark, sf_dir, tmp_path, clean_job, crash_after_markers
):
    """Crash after the commit but before any marker: the resume rewrites
    every sink, and dynamic overwrite replaces (not appends to) the committed
    partitions, leaving ``_manifest/`` in place."""
    routed = flagship.routed(spark, sf_dir)
    out = str(tmp_path / "sinks")
    manifest = Manifest(f"{out}/_manifest")
    with crash_after_markers(manifest, 0), pytest.raises(RuntimeError, match="injected failure"):
        resumable_write(routed, SINKS, out, manifest)
    assert manifest.done_units() == set() and os.path.isdir(manifest.path)
    assert all(os.path.isdir(f"{out}/unit={s}") for s in SINKS)
    assert resumable_write(routed, SINKS, out, manifest) == SINKS
    assert sorted(os.listdir(manifest.path)) == [f"{s}.done.json" for s in SINKS]
    got, clean = _doc_ids(spark, out), _doc_ids(spark, clean_job[0])
    assert got == clean
    assert all(n == 1 for ids in got.values() for n in ids.values())


def test_write_rebalance_splits_hot_sink(spark, sf_dir, tmp_path, clean_job):
    """The write rebalances by sink: with a 64 KB advisory partition size, AQE
    splits the hot sink_default over several files and no file holds the bulk
    of the routed rows; each sink's rows are those of the default-size job."""
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "64KB")
    try:
        out = str(tmp_path / "sinks")
        _submit_job().run(spark, sf_dir, out)
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    files = {s: list(Path(out, f"unit={s}").glob("*.parquet")) for s in SINKS}
    assert len(files["sink_default"]) >= 2
    rows = [pq.read_metadata(f).num_rows for fs in files.values() for f in fs]
    assert sum(rows) == 1900
    assert max(rows) <= 0.45 * 1900
    assert _doc_ids(spark, out) == _doc_ids(spark, clean_job[0])


def test_desensitize_arrow_md5_all_occurrences(spark):
    import hashlib

    line = "id=123 then id=456 end"
    ev = to_events(
        spark.createDataFrame([(0, line)], ["i", "content"])
    )
    out = Desensitize(
        source_key="content", method="md5", prefix_pattern="id=",
        content_pattern=r"\d+", replacing_all=True,
    ).apply(ev)
    got = out.collect()[0][FIELDS]["content"]
    h1 = hashlib.md5(b"123").hexdigest().upper()
    h2 = hashlib.md5(b"456").hexdigest().upper()
    assert got == f"id={h1} then id={h2} end"


def test_desensitize_arrow_matches_jvm_const(spark):
    rows = [(i, f"user=u{i} pass=secret{i} tail") for i in range(20)]
    ev = to_events(spark.createDataFrame(rows, ["i", "content"]))
    kw = dict(
        source_key="content", method="const", prefix_pattern="pass=",
        content_pattern=r"\w+", replacing_string="***", replacing_all=True,
    )
    a = {r["i"]: r[FIELDS]["content"] for r in Desensitize(**kw).apply(ev).collect()}
    b = {i: re.sub(r"(pass=)(?:\w+)", r"\g<1>***", line) for i, line in rows}
    assert a == b


def test_dict_map_csv_file(spark, tmp_path):
    from loongcollector_spark.operators.enrich import DictMap, read_dict_csv

    p = tmp_path / "dict.csv"
    p.write_text("nginx,web\ncsvlog,trade\n")
    d = read_dict_csv(str(p))
    assert d == {"nginx": "web", "csvlog": "trade"}
    ev = spark.createDataFrame([(0, {"k": "nginx"})], ["i", FIELDS])
    out = DictMap(d, source_key="k", dest_key="cat").apply(ev)
    assert out.collect()[0][FIELDS]["cat"] == "web"


def test_dict_map_csv_rejects_conflicts(tmp_path):
    from loongcollector_spark.operators.enrich import read_dict_csv

    p = tmp_path / "bad.csv"
    p.write_text("a,1\na,2\n")
    with pytest.raises(ValueError, match="hash crash"):
        read_dict_csv(str(p))
