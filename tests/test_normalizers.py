"""Golden-record assertions per normalizer (FIXTURES.md plan §1/§4).

Expected values hand-derived from the reference normalizer code
(qopcfdr_stream_loader.py, cited in each normalizer's docstring);
deliberate deviations are the ones documented in FIDELITY.md."""

from __future__ import annotations

import json

import pytest

from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.operators.router import (
    classify,
    normalized_tables,
    unmapped_events,
)
from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sources.fdr import (
    no_discriminator,
    parse_fdr_lines,
)

from .fdr_fixtures import CORRUPT_LINE, FIXTURES, JA3, MD5, SHA1, SHA256


@pytest.fixture(scope="module")
def tables(spark):
    lines = [(json.dumps(e),) for e in FIXTURES] + [(CORRUPT_LINE,)]
    parsed = parse_fdr_lines(spark.createDataFrame(lines, ["value"])).persist()
    t = {k: df.collect() for k, df in normalized_tables(classify(parsed, spark)).items()}
    t["_parsed"] = parsed
    return t


def by_log_name(rows, name):
    return [r for r in rows if r.metadata.log_name == name]


def obs_map(row):
    return {o.name: (o.type, o.type_id, o.value) for o in row.observables}


def test_process_activity_golden(tables):
    row = by_log_name(tables["process_activity"], "ProcessRollup2")[0]
    assert (row.activity_id, row.activity_name) == (3, "Open")
    assert (row.class_uid, row.class_name) == (1007, "Process Activity")
    assert row.type_uid == 100703 and row.type_name == "Process Activity: Open"
    assert str(row.time) == "2024-06-10 06:13:20.123000"
    assert row.message == "ProcessRollup2V2"
    p = row.process
    assert p.cmd_line == "cmd.exe /c whoami" and p.pid == 4832
    assert p.uid == "111" and p.parent_process.uid == "222"
    assert p.file.hashes[0].asDict() == {
        "algorithm_id": 3, "algorithm": "SHA-256", "value": SHA256}
    assert p.file.hashes[1].asDict() == {
        "algorithm_id": 1, "algorithm": "MD5", "value": MD5}
    assert p.parent_process.file.name == "explorer.exe"
    om = obs_map(row)
    assert om["process.pid"] == ("Process ID", 15, "4832")  # FIDELITY #6
    assert om["device.ip"] == ("IP Address", 2, "198.51.100.7")
    d = row.device
    assert d.os.type_id == 100 and d.os.type == "Windows"
    assert d.agent_list[0].version == "1007.3.0016606.1"
    assert row.unmapped == {"event_simpleName": "ProcessRollup2", "SomeUnmappedKey": "v1"}


def test_process_parent_image_variant(tables):
    # ParentImageFileName fallback; reference KeyErrors here (FIDELITY #2)
    row = by_log_name(tables["process_activity"], "EndOfProcess")[0]
    assert row.process.parent_process.file.name == "init"
    assert "ParentImageFileName" not in row.unmapped
    # null-stub hashes when no hash fields present (X9)
    assert [h.asDict() for h in row.process.file.hashes] == [
        {"algorithm_id": None, "algorithm": None, "value": None}]


def test_network_activity_golden(tables):
    row = by_log_name(tables["network_activity"], "NetworkConnectIP4")[0]
    ci = row.connection_info
    assert (ci.direction_id, ci.direction) == (2, "Outbound")
    assert ci.protocol_ver_id == 4 and "IPv4" in ci.protocol_ver
    assert row.dst_endpoint.ip == "203.0.113.9" and row.dst_endpoint.port == 443
    assert row.src_endpoint.mac == "00-11-22-33-44-55"
    assert row.src_endpoint.intermediate_ips == ["10.0.0.5"]
    om = obs_map(row)
    assert om["dst_endpoint.ip"] == ("IP Address", 2, "203.0.113.9")  # FIDELITY #1
    assert om["src_endpoint.port"] == ("Port", 11, "49152")

    v6 = by_log_name(tables["network_activity"], "NetworkConnectIP6")[0]
    assert v6.connection_info.protocol_ver_id == 6
    assert v6.dst_endpoint.ip == "2001:db8::9"
    assert v6.connection_info.direction == "Inbound"
    assert v6.src_endpoint.intermediate_ips == ["2001:db8::5"]


def test_device_config_state_platform_decode(tables):
    rows = tables["device_config_state"]
    hb = by_log_name(rows, "SensorHeartbeat")[0]
    assert hb.device.os.type_id == 100 and hb.device.os.type == "Windows"
    assert hb.unmapped["CpuUsage"] == "12"
    other = by_log_name(rows, "AgentConnect")[0]
    assert other.device.os.type_id == 99 and other.device.os.type == "Sol"


def test_http_activity_method_decode(tables):
    row = by_log_name(tables["http_activity"], "HttpRequest")[0]
    assert (row.activity_id, row.activity_name) == (6, "Post")
    assert row.http_request.http_method == "POST"
    assert row.http_request.url.hostname == "internal.example"
    assert row.http_request.url.path == "/login"
    # HttpRequest's mapping StatusName is Unknown (not Override) -> kept
    assert (row.status_id, row.status) == (0, "Unknown")
    assert row.type_uid == 400206


def test_http_activity_status_override(tables):
    rows = by_log_name(tables["http_activity"], "HttpResponse")
    by_code = {r.status_code: r for r in rows}
    assert (by_code["404"].status_id, by_code["404"].status) == (2, "Failure")
    assert (by_code["204"].status_id, by_code["204"].status) == (1, "Success")
    # HttpStatus is surfaced but never consumed (stays in unmapped)
    assert by_code["404"].unmapped["HttpStatus"] == "404"


def test_http_activity_tls(tables):
    row = by_log_name(tables["http_activity"], "TlsClientHello")[0]
    assert row.tls.version == "1.2"
    assert row.tls.ja3_hash.asDict() == {
        "algorithm": "ja3", "algorithm_id": 99, "value": JA3}
    assert "TlsVersion" not in row.unmapped and "Ja3Hash" not in row.unmapped
    assert (row.activity_id, row.activity_name) == (99, "TlsClientHello")


def test_extapi_golden(tables):
    rows = tables["http_activity_extapi"]
    full = [r for r in rows if r.message == "Event_AuthActivityAuditEvent"][0]
    assert (full.activity_id, full.activity_name) == (3, "Get")
    assert (full.status_id, full.status) == (1, "Success")
    hr = full.http_request
    assert hr.http_method == "Get" and hr.length == "42" and hr.uid == "trace-1"
    assert [h.asDict() for h in hr.http_headers] == [
        {"name": "Accept", "value": "application/json"},
        {"name": "Content-Type", "value": "application/json"},
        {"name": "User-Agent", "value": "falcon-cli/1.0"},
    ]
    ci = full.connection_info
    assert ci.protocol_name == "tcp" and ci.protocol_num == 6  # FIDELITY #5
    assert ci.session.credential_uid == "client-9"
    se = full.src_endpoint
    assert se.ip == "192.0.2.77" and se.owner.account.uid == "cust-1"
    assert se.agent_list[0].uid == "agent-1" and se.agent_list[0].version is None
    assert not hasattr(full, "unmapped")

    minimal = [r for r in rows if r.message == "Event_Other"][0]
    # empty strings are falsy (X11)
    assert minimal.src_endpoint.ip is None and minimal.src_endpoint.uid is None
    assert (minimal.activity_id, minimal.activity_name) == (0, "Unknown")
    assert (minimal.status_id, minimal.status) == (2, "Failure")  # 503
    assert minimal.observables == []


def test_file_system_activity_variants(tables):
    rows = tables["file_system_activity"]
    plain = [r for r in rows if r.file.name == "/tmp/a.sh"][0]
    assert plain.file.type_id == 1 and plain.file.type == "Regular File"
    assert plain.file.creator.name == "alice" and plain.file.uid == "f-1"
    assert plain.file.hashes[0].value == SHA256
    folder = [r for r in rows if r.file.name == "b.ps1"][0]
    assert folder.file.type_id == 2 and folder.file.type == "Folder"
    assert folder.file.path == "C:\\scripts"
    assert "ScriptContentName" not in folder.unmapped
    assert "ContentSHA256HashData" not in folder.unmapped


def test_dns_activity(tables):
    row = tables["dns_activity"][0]
    assert row.query.asDict() == {
        "opcode": "Query", "opcode_id": 0, "hostname": "example.internal"}
    assert (row.rcode_id, row.rcode) == (0, "NoError")
    # ContextBaseFileName: observable only, stays in unmapped (:2048-2057)
    assert obs_map(row)["unmapped.ContextBaseFileName"][2] == "chrome.exe"
    assert row.unmapped["ContextBaseFileName"] == "chrome.exe"


def test_authentication(tables):
    row = tables["authentication"][0]
    assert (row.logon_type_id, row.logon_type) == (10, "Remote Interactive")
    u = row.user
    assert (u.type_id, u.type) == (2, "Admin")
    assert u.uid == "alice@corp" and u.uid_alt == "S-1-5-21-1"
    assert row.session.asDict() == {"uid": "999", "uuid": "uuid-1", "uid_alt": "mac-1"}
    assert row.logon_process.pid == 712
    # LogonType is read but never consumed by the reference (:2245)
    assert row.unmapped["LogonType"] == "10"


def test_file_hosting(tables):
    rows = tables["file_hosting_activity"]
    up = [r for r in rows if r.metadata.log_name == "LfoUploadStart"][0]
    assert up.dst_endpoint.hostname == "files.example" and up.dst_endpoint.port == 443
    assert up.file.hashes[0].value == SHA256
    dl = [r for r in rows if r.metadata.log_name == "LFODownloadConfirmation"][0]
    assert dl.file.name == "/dl/dump.bin"  # DownloadPath fallback (X6)


def test_module_activity(tables):
    rows = tables["module_activity"]
    kext = [r for r in rows if r.metadata.log_name == "KextLoad"][0]
    assert kext.module.function_name == "com.example.kext"
    assert (kext.module.load_type_id, kext.module.load_type) == (1, "Standard")
    hashes = [h.asDict() for h in kext.module.file.hashes]
    assert hashes == [
        {"algorithm_id": 3, "algorithm": "SHA-256", "value": SHA256},
        {"algorithm_id": 2, "algorithm": "SHA-1", "value": SHA1},
        {"algorithm_id": 1, "algorithm": "MD5", "value": MD5},
    ]
    io = [r for r in rows if r.metadata.log_name == "IOServiceRegister"][0]
    assert io.module.function_name == "IOService:/root/disk"


def test_application_lifecycle(tables):
    rows = tables["application_lifecycle"]
    inst = [r for r in rows if r.app.name == "Editor"][0]
    assert (inst.activity_id, inst.activity_name) == (1, "Install")
    assert (inst.status_id, inst.status) == (1, "Success")
    assert inst.app.uid == "store" and inst.app.vendor_name == "ExampleCorp"
    assert inst.metadata.profiles == ["host"]
    other = [r for r in rows if r.app.name is None][0]  # UpdateFlag "9"
    assert (other.activity_id, other.activity_name) == (99, "Other")
    assert (other.status_id, other.status) == (99, "Other")


def test_os_patch_state(tables):
    rows = tables["operating_system_patch_state"]
    multi = [r for r in rows if len(r.kb_article_list) == 3][0]
    assert [k.uid for k in multi.kb_article_list] == ["KB5000001", "KB5000002", "KB5000003"]
    assert (multi.activity_id, multi.activity_name) == (1, "Install")
    single = [r for r in rows if len(r.kb_article_list) == 1][0]
    assert single.kb_article_list[0].uid == "KB5000009"
    assert (single.activity_id, single.activity_name) == (99, "Other")  # Status "7"


def test_detection_finding(tables):
    row = tables["detection_finding"][0]
    ev = row.evidences[0].process
    assert ev.cmd_line == "powershell -enc AAA" and ev.uid == "ctx-1"
    assert ev.file.name == "powershell.exe"
    assert ev.file.hashes[0].asDict() == {
        "algorithm": "SHA-256", "algorithm_id": 3, "value": SHA256}
    assert ev.parent_process.file.name == "cmd.exe"
    # bug-compat: parent cmd_line is always null (FIDELITY #4)
    assert ev.parent_process.cmd_line is None
    gp = ev.parent_process.parent_process
    assert gp.file.name == "explorer.exe" and gp.cmd_line == "explorer.exe /gp"
    assert row.metadata.profiles == ["host"]
    om = obs_map(row)
    assert "evidences[0].process.parent_process.cmd_line" not in om


def test_timestamp_variants(tables):
    rows = tables["device_config_state"]
    secs = [r for r in rows if r.metadata.log_name == "SensorHeartbeat"
            and str(r.time) == "2024-06-10 06:13:20"]
    assert secs, "seconds-epoch timestamp parsed"
    sentinel = [r for r in rows if str(r.time) == "1998-04-24 02:07:39"]
    assert sentinel, "missing timestamp -> 1998 sentinel"


def test_empty_string_falsiness(tables):
    rows = [r for r in tables["device_config_state"]
            if r.metadata.log_name == "SensorHeartbeat" and r.device.uid == ""]
    assert rows, "empty-string cid kept in struct field"
    row = rows[0]
    om = obs_map(row)
    assert "device.uid" not in om and "device.ip" not in om  # falsy -> no observable
    assert "device.agent_list[0].uid" in om


def test_alt_discriminator(tables):
    rows = [r for r in tables["device_config_state"]
            if r.device.agent_list[0].uid == "alt-disc"]
    assert rows, "EventType fallback discriminator routed"


def test_side_channels(spark, tables):
    parsed = tables["_parsed"]
    assert parsed.filter("raw IS NULL").count() == 1  # corrupt line
    assert no_discriminator(parsed).count() == 1
    um = unmapped_events(classify(parsed, spark)).collect()
    assert [r.event_name for r in um] == ["SomeFutureEvent"]
