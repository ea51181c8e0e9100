"""End-to-end batch pipeline: gzip NDJSON -> 13 OCSF parquet tables +
quarantine, schemas conforming to ocsf.schemas, event-time partitioning."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.ocsf.schemas import (
    OCSF_SCHEMAS,
    TABLE_KEYS,
)
from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.pipeline import (
    run_batch,
)
from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.parquet import (
    register_ocsf_tables,
)

from .fdr_fixtures import EXPECTED_COUNTS, write_fixture_files


@pytest.fixture(scope="module")
def ocsf_out(spark, tmp_path_factory):
    src = write_fixture_files(str(tmp_path_factory.mktemp("fdr_raw")))
    out = str(tmp_path_factory.mktemp("ocsf"))
    run_batch(spark, src, out, region="us-east-1", account_id="123456789012")
    return out


def test_row_counts(spark, ocsf_out):
    for key, expected in EXPECTED_COUNTS.items():
        n = spark.read.parquet(f"{ocsf_out}/{key}").count()
        assert n == expected, f"{key}: {n} != {expected}"


def test_schemas_conform(spark, ocsf_out):
    for key in TABLE_KEYS:
        df = spark.read.parquet(f"{ocsf_out}/{key}")
        expected = OCSF_SCHEMAS[key][2]
        got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        for f in expected.fields:
            assert got.get(f.name) == f.dataType.simpleString(), (
                f"{key}.{f.name}: {got.get(f.name)} != {f.dataType.simpleString()}"
            )
        for p in ("region", "accountId", "eventDay"):
            assert p in got, f"{key} missing partition col {p}"


def test_envelope_invariant(spark, ocsf_out):
    """type_uid == class_uid*100 + activity_id on every row (SURVEY.md X3)."""
    for key in TABLE_KEYS:
        df = spark.read.parquet(f"{ocsf_out}/{key}")
        bad = df.filter(
            F.col("type_uid") != F.col("class_uid") * 100 + F.col("activity_id")
        ).count()
        assert bad == 0, key


def test_event_day_partitioning(spark, ocsf_out):
    df = spark.read.parquet(f"{ocsf_out}/process_activity")
    days = {str(r.eventDay) for r in df.select("eventDay").distinct().collect()}
    assert days == {"20240610"}
    # sentinel timestamp lands in the 1998 partition (load-bearing default)
    dc = spark.read.parquet(f"{ocsf_out}/device_config_state")
    days = {str(r.eventDay) for r in dc.select("eventDay").distinct().collect()}
    assert "19980424" in days


def test_quarantine(spark, ocsf_out):
    corrupt = spark.read.parquet(f"{ocsf_out}/_quarantine/corrupt_lines")
    assert corrupt.count() == 1
    nodisc = spark.read.parquet(f"{ocsf_out}/_quarantine/no_discriminator")
    assert nodisc.count() == 1
    unmapped = spark.read.parquet(f"{ocsf_out}/_quarantine/unmapped_events")
    rows = unmapped.collect()
    assert len(rows) == 1 and rows[0].event_name == "SomeFutureEvent"


def test_register_and_query(spark, ocsf_out):
    registered = register_ocsf_tables(spark, ocsf_out)
    assert "ocsf_all" in registered
    # the Phase-1 flagship query (SURVEY.md §7): SQL over the OCSF tables,
    # with partition pruning on eventDay
    out = spark.sql(
        "SELECT device.uid AS device_uid, count(*) AS n FROM process_activity "
        "WHERE eventDay = '20240610' GROUP BY device.uid"
    ).collect()
    assert out and all(r.n >= 1 for r in out)
    total = spark.sql("SELECT count(*) AS n FROM ocsf_all").collect()[0].n
    assert total == sum(EXPECTED_COUNTS.values())


def test_unmapped_residual(spark, ocsf_out):
    row = (
        spark.read.parquet(f"{ocsf_out}/process_activity")
        .filter(F.col("metadata.uid") == "evt-0001")
        .select("unmapped")
        .collect()[0]
    )
    # consumed keys are gone; the discriminator and unknown keys remain
    assert row.unmapped == {
        "event_simpleName": "ProcessRollup2",
        "SomeUnmappedKey": "v1",
    }


def test_cast_failure_quarantine(spark, tmp_path):
    """E5: rows with a present value that does not convert to its number
    or timestamp are DIVERTED to _quarantine/cast_failures (the reference
    Firehose's failures/ prefix), not written with nulled fields; clean
    rows are untouched."""
    import json

    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.pipeline import (
        process_batch,
    )
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sources.fdr import (
        parse_fdr_lines,
    )
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sources.sample import (
        FIXTURES,
    )

    net = next(
        e for e in FIXTURES if e.get("event_simpleName") == "NetworkConnectIP4"
    )
    proc = next(
        e for e in FIXTURES if e.get("event_simpleName") == "ProcessRollup2"
    )
    api = next(
        e for e in FIXTURES if e.get("ExternalApiType") == "Event_AuthActivityAuditEvent"
    )
    bad_port = dict(net, RemotePort="80x", id="evt-badport")
    bad_pid = dict(proc, RawProcessId="not-a-pid", id="evt-badpid")
    bad_ts = dict(net, timestamp="yesterday", id="evt-badts")
    bad_status = dict(api, AuditKeyValues=[
        dict(kv, ValueString="abc") if kv["Key"] == "status_code" else kv
        for kv in api["AuditKeyValues"]
    ])
    # non-numbers and timestamps past year 9999 (3e14 ms) are failures
    out_of_range = [dict(net, timestamp=t, id=f"evt-ts-{t}") for t in ("NaN", "1e20", "3e14")]
    # '' is absent (X11); Spark's cast trims; fractions and negatives parse
    typed_ok = [
        dict(net, timestamp="", id="evt-ts-empty"),
        dict(net, RemotePort=" 443", timestamp="1718000000.5", id="evt-ok-frac"),
        dict(net, timestamp="-5", id="evt-ok-neg"),
    ]
    events = (net, proc, bad_port, bad_pid, bad_ts, bad_status, *out_of_range, *typed_ok)
    lines = [json.dumps(e) for e in events]
    out = str(tmp_path / "ocsf")
    parsed = parse_fdr_lines(
        spark.createDataFrame([(l,) for l in lines], ["value"]).repartition(1)
    )
    process_batch(spark, parsed, out)

    q = spark.read.parquet(f"{out}/_quarantine/cast_failures").collect()
    by_sink = {}
    for r in q:
        by_sink.setdefault(r.sink, []).append(sorted(r.bad_fields))
    assert {k: sorted(v) for k, v in by_sink.items()} == {
        "network_activity": [["RemotePort"]] + [["timestamp"]] * 4,
        "process_activity": [["RawProcessId"]],
        "http_activity_extapi": [["AuditKeyValues.status_code"]],
    }, by_sink
    # diverted rows never reach the typed tables; the clean ones do
    net_rows = {
        r.metadata.uid: r for r in spark.read.parquet(f"{out}/network_activity").collect()
    }
    assert sorted(net_rows) == ["evt-0001", "evt-ok-frac", "evt-ok-neg", "evt-ts-empty"]
    assert net_rows["evt-0001"].dst_endpoint.port == 443
    assert str(net_rows["evt-ts-empty"].time) == "1998-04-24 02:07:39"
    assert net_rows["evt-ok-frac"].dst_endpoint.port == 443
    assert str(net_rows["evt-ok-frac"].time) == "2024-06-10 06:13:20.500000"
    assert str(net_rows["evt-ok-neg"].time) == "1969-12-31 23:59:55"
    proc_rows = spark.read.parquet(f"{out}/process_activity").collect()
    assert len(proc_rows) == 1 and proc_rows[0].process.pid == 4832


def test_txn_commit_replay_idempotent(spark, tmp_path):
    """Exactly-once stream commit: each of a batch's 17 sinks commits as
    a snapshot version fenced on (writer, txn_version).  A batch that died
    after committing only some sinks replays into exactly the missing
    ones, a replay of a fully committed batch is a no-op on every table,
    and every input line lands in exactly one sink."""
    import json as _json

    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.pipeline import (
        batch_sinks,
    )
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.snapshot import (
        read_snapshot,
        write_snapshot,
    )
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sources.fdr import (
        parse_fdr_lines,
    )
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sources.sample import (
        FIXTURES,
    )

    base = str(tmp_path / "lake")
    lines = spark.createDataFrame(
        [(_json.dumps(e),) for e in FIXTURES], ["value"]
    ).repartition(1)
    with batch_sinks(spark, parse_fdr_lines(lines)) as sinks:
        keys = list(sinks)
        assert len(keys) == 17

        def commit(ks):
            return {
                k: write_snapshot(
                    spark, sinks[k], f"{base}/{k}", txn_app="t", txn_version=7
                )
                for k in ks
            }

        def counts():
            return {k: read_snapshot(spark, f"{base}/{k}").count() for k in keys}

        # batch 7 dies after committing the first half of its sinks; the
        # replay commits exactly the other half
        done = keys[: len(keys) // 2]
        assert set(commit(done).values()) == {1}
        replay = commit(keys)
        assert all(replay[k] is None for k in done)
        assert all(replay[k] == 1 for k in keys if k not in done)
        after = counts()
        assert after["process_activity"] > 0
        assert sum(after.values()) == len(FIXTURES)

        # full replay: the txn mark short-circuits every table
        assert set(commit(keys).values()) == {None}
        assert counts() == after


def _fixture_batch(spark, extra=()):
    """The sample fixtures (plus ``extra`` events) as one parsed batch."""
    import json as _json

    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sources.fdr import (
        parse_fdr_lines,
    )
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sources.sample import (
        FIXTURES,
    )

    lines = [(_json.dumps(e),) for e in (*FIXTURES, *extra)]
    return parse_fdr_lines(spark.createDataFrame(lines, ["value"]).repartition(1))


def _plan_nodes(plan) -> list:
    """Every node of a JVM logical plan tree."""
    nodes, stack = [], [plan]
    while stack:
        node = stack.pop()
        nodes.append(node)
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return nodes


def test_batch_sinks_read_one_persisted_frame_without_join(spark):
    """All 17 sinks of a batch are filters and projections of the one
    persisted routed frame: each optimized plan's only leaves are the
    same InMemoryRelation, and no plan joins."""
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.pipeline import (
        batch_sinks,
    )

    identity = spark.sparkContext._jvm.java.lang.System.identityHashCode
    with batch_sinks(spark, _fixture_batch(spark)) as sinks:
        assert len(sinks) == 17
        caches = set()
        for key, df in sinks.items():
            nodes = _plan_nodes(df._jdf.queryExecution().optimizedPlan())
            names = [n.getClass().getSimpleName() for n in nodes]
            assert not [n for n in names if "Join" in n], (key, names)
            leaves = [n for n in nodes if n.children().size() == 0]
            assert {n.getClass().getSimpleName() for n in leaves} == {"InMemoryRelation"}, (
                key, names)
            caches |= {identity(n.cacheBuilder()) for n in leaves}
        assert len(caches) == 1


def test_cast_quarantine_wrapper_matches_batch_sinks(spark):
    """``normalized_tables_with_cast_quarantine(classify(...))`` yields the
    same 13 tables and cast failures as ``batch_sinks``."""
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.operators.router import (
        classify,
    )
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.pipeline import (
        batch_sinks,
        normalized_tables_with_cast_quarantine,
    )
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sources.sample import (
        FIXTURES,
    )

    net = next(e for e in FIXTURES if e.get("event_simpleName") == "NetworkConnectIP4")
    parsed = _fixture_batch(spark, [dict(net, RemotePort="80x"), dict(net, timestamp="x")])

    def rows(df):
        return sorted(map(repr, df.collect()))

    tables, failures = normalized_tables_with_cast_quarantine(classify(parsed, spark))
    with batch_sinks(spark, parsed) as sinks:
        for key in TABLE_KEYS:
            assert rows(tables[key]) == rows(sinks[key]), key
        got = rows(failures)
        assert len(got) == 2 and got == rows(sinks["_quarantine/cast_failures"])


# Every recorded cast site, on the sample fixture that carries it:
# (fixture event name, raw or AuditKeyValues key, the site's typed output)
_CAST_SITES = [
    ("ProcessRollup2", "timestamp", lambda r: r.time),
    ("Event_AuthActivityAuditEvent", "UTCTimestamp", lambda r: r.time),
    ("HttpRequest", "LocalPort", lambda r: r.src_endpoint.port),
    ("NetworkConnectIP4", "LocalPort", lambda r: r.observables[0].value),
    ("NetworkConnectIP4", "RemotePort", lambda r: r.dst_endpoint.port),
    ("ProcessRollup2", "RawProcessId", lambda r: r.process.pid),
    ("UserLogon", "RawProcessId", lambda r: r.logon_process.pid),
    ("LfoUploadStart", "DownloadPort", lambda r: r.dst_endpoint.port),
    # status 0 "Unknown" is the absent-status_code branch
    ("Event_AuthActivityAuditEvent", "AuditKeyValues.status_code", lambda r: r.status_id or None),
    ("Event_AuthActivityAuditEvent", "AuditKeyValues.request_uri_length",
     lambda r: r.http_request.length),
]

_NUMERIC_ISH = st.one_of(
    st.text(alphabet="0123456789+-.eEx ", max_size=24),
    st.integers(min_value=-(10**20), max_value=10**20).map(str),
    st.floats().map(repr),
    st.sampled_from(["", " ", "NaN", "Infinity", "-Infinity", "inf", " 443", "0x1F"]),
)

# empty, overflowing, non-finite and non-numeric values: each defaults or
# quarantines, none may raise or land as a wrong time
_PROBE_CASES = [
    (0, ""), (1, ""), (0, "1e20"), (0, "9.99e15"), (0, "1e300"), (0, "-1e300"),
    (0, "Infinity"), (0, "NaN"), (8, "abc"), (9, "4.2x"),
]


def _fuzzed_event(i: int, site: int, value: str) -> dict:
    """The site's fixture with ``value`` at the site's key and the id
    ``fz-<i>`` (extapi rows take metadata.uid from the trace_id AV)."""
    import copy

    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sources.sample import (
        FIXTURES,
    )

    name, key, _ = _CAST_SITES[site]
    e = copy.deepcopy(next(
        f for f in FIXTURES if name in (f.get("event_simpleName"), f.get("ExternalApiType"))
    ))
    e["id"] = f"fz-{i}"
    av = {"trace_id": f"fz-{i}"}
    if key.startswith("AuditKeyValues."):
        av[key.split(".", 1)[1]] = value
    else:
        e[key] = value
    if "AuditKeyValues" in e:
        e["AuditKeyValues"] = [dict(kv, ValueString=av.get(kv["Key"], kv["ValueString"]))
                               for kv in e["AuditKeyValues"]]
    return e


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(cases=st.lists(st.tuples(st.integers(0, len(_CAST_SITES) - 1), _NUMERIC_ISH),
                      min_size=1, max_size=80))
@example(cases=_PROBE_CASES)
def test_cast_sites_ansi_fuzz(spark, cases):
    """Fuzzed numeric-ish strings at every recorded cast site, with ANSI
    casts on and off: collecting all 17 sinks never raises, every line
    lands once, a failing value is quarantined under its label, a tabled
    present value is typed non-null, and both settings give the same
    sinks."""
    import json as _json
    from concurrent.futures import ThreadPoolExecutor

    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.pipeline import (
        batch_sinks,
    )
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sources.sample import (
        FIXTURES,
    )

    events = [_fuzzed_event(i, site, value) for i, (site, value) in enumerate(cases)]
    snapshots = {}
    try:
        for ansi in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", ansi)
            with batch_sinks(spark, _fixture_batch(spark, events)) as sinks, \
                    ThreadPoolExecutor(max_workers=4) as pool:
                got = dict(zip(sinks, pool.map(lambda df: df.collect(), sinks.values())))
            assert sum(map(len, got.values())) == len(FIXTURES) + len(events)
            tabled = {r.metadata.uid: r for k in TABLE_KEYS for r in got[k]}
            failed = {_json.loads(r.value)["id"]: r.bad_fields
                      for r in got["_quarantine/cast_failures"]}
            for i, (site, value) in enumerate(cases):
                _, key, typed = _CAST_SITES[site]
                uid = f"fz-{i}"
                if uid in failed:
                    assert failed[uid] == [key] and value != "", (key, value)
                else:
                    assert value == "" or typed(tabled[uid]) is not None, (key, value)
            snapshots[ansi] = {k: sorted(map(repr, rows)) for k, rows in got.items()}
    finally:
        spark.conf.unset("spark.sql.ansi.enabled")
    assert snapshots["true"] == snapshots["false"]


def test_batch_frame_released_after_every_batch(spark, tmp_path, monkeypatch):
    """The persisted per-batch frame never outlives its batch: not after
    ``run_batch``, not after a streamed micro-batch, and not after a
    micro-batch whose sink write raises."""
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks import (
        snapshot as snap,
    )
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.streaming import (
        run_stream,
    )

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())  # other tests' caches

    def leaked() -> set:
        return set(jsc.getPersistentRDDs().keySet()) - before

    src = write_fixture_files(str(tmp_path / "raw"))
    run_batch(spark, src, str(tmp_path / "lake"))
    assert not leaked()

    q = run_stream(spark, src, str(tmp_path / "s1"), checkpoint=str(tmp_path / "ck1"))
    q.awaitTermination(300)
    assert q.exception() is None
    assert not leaked()

    write = snap.write_snapshot

    def failing_write(spark_, df, path, **kw):
        if path.endswith("unmapped_events"):
            raise RuntimeError("injected sink failure")
        return write(spark_, df, path, **kw)

    monkeypatch.setattr(snap, "write_snapshot", failing_write)
    q = run_stream(spark, src, str(tmp_path / "s2"), checkpoint=str(tmp_path / "ck2"))
    with pytest.raises(Exception, match="injected sink failure"):
        q.awaitTermination(300)
    assert not leaked()


def test_corrupt_gzip_file_aborts_and_skips(spark, tmp_path):
    """E1: a corrupt gzip member aborts the read by default (the
    reference's object-level BadGzipFile behavior); with
    ignore_corrupt_files=True the bad object is skipped and every line
    from the healthy objects survives."""
    import pytest as _pytest

    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sources.fdr import (
        read_fdr,
    )

    from .fdr_fixtures import FIXTURES, write_fixture_files

    src = write_fixture_files(str(tmp_path / "raw"), with_corrupt_file=True)
    with _pytest.raises(Exception):
        read_fdr(spark, src).count()
    n = read_fdr(spark, src, ignore_corrupt_files=True).count()
    assert n == len(FIXTURES) + 1  # all fixture lines + the corrupt LINE


def test_exactly_once_commit_uri_base_path(spark, tmp_path, monkeypatch):
    """Regression: with a scheme-qualified base path (file:, standing in
    for s3a://hdfs://), the stream's snapshot commits must still match
    every staged file to its table root — a scheme-stripped comparison
    would reject or drop the batch's files.  Without ``compact_every``
    the compaction scheduler reads no manifest: its every snapshot call
    raises here, and the batch still commits."""
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.snapshot import (
        read_snapshot,
    )
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.streaming import (
        compaction,
        run_stream,
    )

    def no_manifest_read(*a, **kw):
        raise AssertionError("a non-compacting batch touched the compactor")

    for name in ("last_txn_version", "current_version", "compact_snapshot", "vacuum_snapshots"):
        monkeypatch.setattr(compaction, name, no_manifest_read)

    src = write_fixture_files(str(tmp_path / "raw"))
    base = f"file:{tmp_path}/lake"
    q = run_stream(spark, src, base, checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(300)
    assert q.exception() is None
    for key, expected in EXPECTED_COUNTS.items():
        assert read_snapshot(spark, f"{base}/{key}").count() == expected, key
    assert read_snapshot(spark, f"{base}/_quarantine/corrupt_lines").count() == 1


@pytest.mark.slow
def test_stream_quarantine_lands_once_across_replay(spark, tmp_path):
    """A batch replayed after its sinks committed but before the
    checkpoint did (the commit-log entry is dropped) must not re-land
    anything: the corrupt fixture line stays in _quarantine exactly once
    and no table gains a version."""
    import os

    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.snapshot import (
        current_version,
        read_snapshot,
    )
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.streaming import (
        run_stream,
    )

    src = write_fixture_files(str(tmp_path / "raw"))
    out = str(tmp_path / "ocsf")
    ckpt = str(tmp_path / "ckpt")
    quarantine = f"{out}/_quarantine/corrupt_lines"
    q = run_stream(spark, src, out, checkpoint=ckpt)
    q.awaitTermination(300)
    assert read_snapshot(spark, quarantine).count() == 1
    versions = {k: current_version(spark, f"{out}/{k}") for k in EXPECTED_COUNTS}
    v_quarantine = current_version(spark, quarantine)

    commits = os.path.join(ckpt, "commits")
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    for n in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, n)):
            os.remove(os.path.join(commits, n))
    q = run_stream(spark, src, out, checkpoint=ckpt)
    q.awaitTermination(300)
    assert q.exception() is None
    # the batch did re-run: its commit-log entry is back
    assert os.path.exists(os.path.join(commits, str(last)))
    assert read_snapshot(spark, quarantine).count() == 1
    assert current_version(spark, quarantine) == v_quarantine
    for key, expected in EXPECTED_COUNTS.items():
        assert current_version(spark, f"{out}/{key}") == versions[key], key
        assert read_snapshot(spark, f"{out}/{key}").count() == expected, key
