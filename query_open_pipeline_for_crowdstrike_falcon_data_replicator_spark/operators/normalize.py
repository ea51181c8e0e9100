"""The 13 OCSF class normalizers as Catalyst expression builders.

Each function takes a DataFrame with columns

- ``value``       raw NDJSON line (string; needed only by the ExternalApi
                  normalizer for its AuditKeyValues array),
- ``raw``         the line parsed as map<string,string>,
- ``event_name``  discriminator (P1 coalesce),
- the 122-row mapping columns (R1 lookup, ``router.classify``):
  category_uid/category_name/class_uid/class_name/severity_id/severity/
  activity_id/activity_name/status_id/status

and returns a DataFrame exactly matching the class StructType from
``ocsf.schemas``.  Semantics follow the reference normalizers in
qopcfdr_stream_loader.py (cited per function); deliberate bug fixes are
listed in FIDELITY.md.

Everything is a single projection — no Python UDFs, no shuffles — so each
class normalization whole-stage-codegens over the scan.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from ..functions.builders import (
    CastSite,
    Common,
    consumed_keys,
    envelope_cols,
    hash_entry,
    hashes_array,
    nonempty,
    observable,
    observables_array,
    residual_unmapped,
    truthy,
)
from ..functions.decodes import (
    CONNECTION_DIRECTION,
    HTTP_METHOD_DECIMAL,
    HTTP_VERB_ACTIVITY,
    LOGON_TYPE,
    PATCH_STATUS,
    UPDATE_FLAG,
    decode,
)
from ..ocsf.schemas import OCSF_SCHEMAS


# Normalizer column lists are pure unresolved expressions (no normalizer
# touches its input df except through the final select), so building them —
# thousands of py4j Column constructions, ~1s per class — need happen only
# once per process.  _finish populates the cache with the columns and the
# class's cast record (Common.casts); normalize_class reuses it.
_COLS_CACHE: dict[str, tuple[list[Column], list[CastSite]]] = {}


def _finish(df: DataFrame, c: Common, cols: list[Column], table_key: str) -> DataFrame:
    _COLS_CACHE[table_key] = (cols, c.casts)
    schema = OCSF_SCHEMAS[table_key][2]
    return df.select(*cols).to(schema)


def _ev(c: Common) -> Column:
    return F.col("event_name")


# --------------------------------------------------------------------- #
# Device Config State (5002) — qopcfdr_stream_loader.py:522-648
# --------------------------------------------------------------------- #
def normalize_device_config_state(df: DataFrame) -> DataFrame:
    c = Common()
    obs = observables_array(*c.device_observables())
    cols = envelope_cols(event_name=_ev(c), common=c, observables=obs, profiles=[])
    cols += [
        c.device_struct().alias("device"),
        residual_unmapped(c.raw, consumed_keys([])).alias("unmapped"),
    ]
    return _finish(df, c, cols, "device_config_state")


# --------------------------------------------------------------------- #
# Process Activity (1007) — qopcfdr_stream_loader.py:650-916
# --------------------------------------------------------------------- #
def normalize_process_activity(df: DataFrame) -> DataFrame:
    c = Common()
    r = c.raw
    image = nonempty(r["ImageFileName"])
    sha256 = nonempty(r["SHA256HashData"])
    md5 = nonempty(r["MD5HashData"])
    cmd = nonempty(r["CommandLine"])
    raw_pid = nonempty(r["RawProcessId"])
    proc_uid = nonempty(r["SourceProcessId"])
    parent_uid = nonempty(r["ParentProcessId"])
    parent_base = nonempty(r["ParentBaseFileName"])
    parent_image = nonempty(r["ParentImageFileName"])
    parent_file = F.coalesce(parent_base, parent_image)  # X6 alt keys (:774-776)
    parent_cmd = nonempty(r["ParentCommandLine"])

    hashes = hashes_array(
        hash_entry(sha256, 3, "SHA-256"),
        hash_entry(md5, 1, "MD5"),
    )
    obs = observables_array(
        observable(image, "process.file.name", 7, "File Name"),
        observable(sha256, "process.file.hashes[0].value", 8, "Hash"),
        observable(md5, "process.file.hashes[1].value", 8, "Hash"),
        observable(cmd, "process.cmd_line", 13, "Command Line"),
        # reference labels this type_id 13 (copy/paste, :754-764); fixed to
        # the Process ID taxonomy id 15 used by authentication (:2287-2297)
        observable(raw_pid, "process.pid", 15, "Process ID"),
        observable(parent_file, "process.parent_process.file.name", 7, "File Name"),
        observable(parent_cmd, "process.parent_process.cmd_line", 13, "Command Line"),
        *c.device_observables(),
    )
    consumed = consumed_keys([
        ("ImageFileName", truthy(r["ImageFileName"])),
        ("SHA256HashData", truthy(r["SHA256HashData"])),
        ("MD5HashData", truthy(r["MD5HashData"])),
        ("CommandLine", truthy(r["CommandLine"])),
        ("RawProcessId", truthy(r["RawProcessId"])),
        ("SourceProcessId", truthy(r["SourceProcessId"])),
        ("ParentProcessId", truthy(r["ParentProcessId"])),
        # fixed: consume whichever alternate actually provided the value
        # (reference unconditionally dels ParentBaseFileName -> KeyError,
        # :774-786)
        ("ParentBaseFileName", parent_base.isNotNull()),
        ("ParentImageFileName", parent_base.isNull() & parent_image.isNotNull()),
        ("ParentCommandLine", truthy(r["ParentCommandLine"])),
    ])

    process = F.struct(
        cmd.alias("cmd_line"),
        c.time.alias("created_time"),
        c.typed("RawProcessId", "long").alias("pid"),
        proc_uid.alias("uid"),
        F.struct(image.alias("name"), hashes.alias("hashes")).alias("file"),
        F.struct(
            parent_cmd.alias("cmd_line"),
            c.time.alias("created_time"),
            parent_uid.alias("uid"),
            F.struct(parent_file.alias("name")).alias("file"),
        ).alias("parent_process"),
    )

    cols = envelope_cols(event_name=_ev(c), common=c, observables=obs, profiles=[])
    cols += [
        c.device_struct().alias("device"),
        process.alias("process"),
        residual_unmapped(c.raw, consumed).alias("unmapped"),
    ]
    return _finish(df, c, cols, "process_activity")


# --------------------------------------------------------------------- #
# Network Activity (4001) — qopcfdr_stream_loader.py:918-1174
# --------------------------------------------------------------------- #
def normalize_network_activity(df: DataFrame) -> DataFrame:
    c = Common()
    r = c.raw
    src_port = c.typed("LocalPort", "long")
    dst_port = c.typed("RemotePort", "long")
    dst_ip4 = nonempty(r["RemoteAddressIP4"])
    dst_ip6 = nonempty(r["RemoteAddressIP6"])
    dst_ip = F.coalesce(dst_ip4, dst_ip6)
    local_ip4 = nonempty(r["LocalAddressIP4"])
    local_ip6 = nonempty(r["LocalAddressIP6"])
    local_ip = F.coalesce(local_ip4, local_ip6)
    mac = nonempty(r["PhysicalAddress"])
    conn_dir = nonempty(r["ConnectionDirection"])

    direction_id, direction = decode(conn_dir, CONNECTION_DIRECTION, (0, "Unknown"))
    direction_id = F.when(conn_dir.isNull(), F.lit(0)).otherwise(direction_id).cast("long")
    direction = F.when(conn_dir.isNull(), F.lit("Unknown")).otherwise(direction)

    # protocol version sniffed from the *message* (`name` field), :1059-1067;
    # reference crashes on a missing name — treated as Unknown here
    proto_ver_id = (
        F.when(c.message.contains("IP4"), F.lit(4))
        .when(c.message.contains("IP6"), F.lit(6))
        .otherwise(F.lit(0))
        .cast("long")
    )
    proto_ver = (
        F.when(c.message.contains("IP4"), F.lit("Internet Protocol version 4 (IPv4)"))
        .when(c.message.contains("IP6"), F.lit("Internet Protocol version 6 (IPv6)"))
        .otherwise(F.lit("Unknown"))
    )

    obs = observables_array(
        observable(src_port, "src_endpoint.port", 11, "Port"),
        observable(dst_port, "dst_endpoint.port", 11, "Port"),
        # fixed: reference labels the destination IP "dst_endpoint.port"/Port
        # (copy/paste, :995-1002)
        observable(dst_ip, "dst_endpoint.ip", 2, "IP Address"),
        observable(local_ip, "src_endpoint.intermediate_ips[0]", 2, "IP Address"),
        observable(mac, "src_endpoint.mac", 3, "MAC Address"),
        *c.device_observables(),
    )
    consumed = consumed_keys([
        ("LocalPort", truthy(r["LocalPort"])),
        ("RemotePort", truthy(r["RemotePort"])),
        ("RemoteAddressIP4", dst_ip4.isNotNull()),
        ("RemoteAddressIP6", dst_ip4.isNull() & dst_ip6.isNotNull()),
        ("LocalAddressIP4", local_ip4.isNotNull()),
        ("LocalAddressIP6", local_ip4.isNull() & local_ip6.isNotNull()),
        ("PhysicalAddress", truthy(r["PhysicalAddress"])),
        ("ConnectionDirection", truthy(r["ConnectionDirection"])),
    ])

    cols = envelope_cols(event_name=_ev(c), common=c, observables=obs, profiles=[])
    cols += [
        F.struct(
            direction.alias("direction"),
            direction_id.alias("direction_id"),
            c.uid.alias("uid"),
            proto_ver.alias("protocol_ver"),
            proto_ver_id.alias("protocol_ver_id"),
        ).alias("connection_info"),
        F.struct(
            c.aip.alias("ip"),
            c.cid.alias("uid"),
            mac.alias("mac"),
            F.array(local_ip).alias("intermediate_ips"),  # [None] kept, :1149-1151
            c.os_struct().alias("os"),
            c.agent_list().alias("agent_list"),
        ).alias("src_endpoint"),
        F.struct(dst_ip.alias("ip"), dst_port.alias("port")).alias("dst_endpoint"),
        residual_unmapped(c.raw, consumed).alias("unmapped"),
    ]
    return _finish(df, c, cols, "network_activity")


# --------------------------------------------------------------------- #
# HTTP Activity (4002) — qopcfdr_stream_loader.py:1176-1539
# --------------------------------------------------------------------- #
def normalize_http_activity(df: DataFrame) -> DataFrame:
    c = Common()
    r = c.raw
    is_http_request = F.col("event_name") == "HttpRequest"

    http_method_dec = nonempty(r["HttpMethod"])
    m_name, m_verb, m_id = decode(http_method_dec, HTTP_METHOD_DECIMAL, ("Unknown", None, 0))
    # HttpRequest: activity from the decimal method decode (:1199-1251);
    # other events: activity from the mapping row
    activity_name = F.when(is_http_request, F.when(http_method_dec.isNull(), "Unknown").otherwise(m_name)).otherwise(
        F.col("activity_name").cast("string")
    )
    activity_id = F.when(is_http_request, F.when(http_method_dec.isNull(), 0).otherwise(m_id)).otherwise(
        F.col("activity_id")
    ).cast("long")
    http_method = F.when(is_http_request, m_verb)

    http_host = F.when(is_http_request, nonempty(r["HttpHost"]))
    http_path = F.when(is_http_request, nonempty(r["HttpPath"]))

    # StatusName 'Override' sentinel -> derive from HttpStatus (:1311-1322);
    # HttpStatus is read but never consumed (stays in unmapped)
    http_status = r["HttpStatus"]
    is_override = F.col("status").cast("string") == "Override"
    has_status = http_status.isNotNull()
    fail = http_status.startswith("4") | http_status.startswith("5")
    status = F.when(
        is_override & has_status, F.when(fail, "Failure").otherwise("Success")
    ).otherwise(F.col("status").cast("string"))
    status_id = F.when(
        is_override & has_status, F.when(fail, F.lit(2)).otherwise(F.lit(1))
    ).otherwise(F.col("status_id")).cast("long")

    dst_ip4 = nonempty(r["RemoteAddressIP4"])
    dst_ip6 = nonempty(r["RemoteAddressIP6"])
    dst_ip = F.coalesce(dst_ip4, dst_ip6)
    dst_port = c.typed("RemotePort", "long")
    src_port = c.typed("LocalPort", "long")
    file_name = nonempty(r["ImageFileName"])
    cmd = nonempty(r["CommandLine"])
    ja3 = nonempty(r["Ja3Hash"])
    tls_version_raw = r["TlsVersion"]
    domain = nonempty(r["DomainName"])

    tls = F.when(
        ja3.isNotNull(),
        F.struct(
            F.concat(F.lit("1."), tls_version_raw).alias("version"),
            F.struct(
                F.lit("ja3").alias("algorithm"),
                F.lit(99).cast("long").alias("algorithm_id"),
                ja3.alias("value"),
            ).alias("ja3_hash"),
        ),
    ).otherwise(
        F.struct(
            F.lit(None).cast("string").alias("version"),
            F.struct(
                F.lit(None).cast("string").alias("algorithm"),
                F.lit(None).cast("long").alias("algorithm_id"),
                F.lit(None).cast("string").alias("value"),
            ).alias("ja3_hash"),
        )
    )

    obs = observables_array(
        observable(http_host, "http_request.url.hostname", 1, "Hostname"),
        # fixed: reference labels the destination IP "dst_endpoint.port"/Port
        # (copy/paste, :1334-1341)
        observable(dst_ip, "dst_endpoint.ip", 2, "IP Address"),
        observable(dst_port, "dst_endpoint.port", 11, "Port"),
        observable(src_port, "src_endpoint.port", 11, "Port"),
        observable(file_name, "file.name", 7, "File Name"),
        observable(cmd, "actor.process.cmd_line", 13, "Command Line"),
        observable(ja3, "tls.ja3_hash.value", 8, "Hash"),
        observable(domain, "dst_endpoint.domain", 1, "Hostname"),
        *c.device_observables(),
    )
    consumed = consumed_keys([
        ("HttpMethod", is_http_request & truthy(r["HttpMethod"])),
        ("HttpHost", is_http_request & truthy(r["HttpHost"])),
        ("HttpPath", is_http_request & truthy(r["HttpPath"])),
        ("RemoteAddressIP4", dst_ip4.isNotNull()),
        ("RemoteAddressIP6", dst_ip4.isNull() & dst_ip6.isNotNull()),
        ("RemotePort", truthy(r["RemotePort"])),
        ("LocalPort", truthy(r["LocalPort"])),
        ("ImageFileName", truthy(r["ImageFileName"])),
        ("CommandLine", truthy(r["CommandLine"])),
        ("Ja3Hash", truthy(r["Ja3Hash"])),
        # fixed: reference dels TlsVersion unconditionally inside the Ja3
        # branch -> KeyError when absent (:1393-1397)
        ("TlsVersion", ja3.isNotNull() & tls_version_raw.isNotNull()),
        ("DomainName", truthy(r["DomainName"])),
    ])

    cols = envelope_cols(
        event_name=_ev(c),
        common=c,
        observables=obs,
        profiles=["host"],
        activity_id=activity_id,
        activity_name=activity_name,
        status_id=status_id,
        status=status,
        status_code=http_status,
    )
    cols += [
        F.struct(F.struct(cmd.alias("cmd_line")).alias("process")).alias("actor"),
        F.struct(file_name.alias("name")).alias("file"),
        F.struct(
            c.aip.alias("ip"),
            src_port.alias("port"),
            c.cid.alias("uid"),
            c.os_struct().alias("os"),
            c.agent_list().alias("agent_list"),
        ).alias("src_endpoint"),
        F.struct(
            dst_ip.alias("ip"), dst_port.alias("port"), domain.alias("domain")
        ).alias("dst_endpoint"),
        F.struct(
            http_method.alias("http_method"),
            c.uid.alias("uid"),
            F.struct(http_host.alias("hostname"), http_path.alias("path")).alias("url"),
        ).alias("http_request"),
        tls.alias("tls"),
        residual_unmapped(c.raw, consumed).alias("unmapped"),
    ]
    return _finish(df, c, cols, "http_activity")


# --------------------------------------------------------------------- #
# HTTP Activity, ExternalApiEvent variant — qopcfdr_stream_loader.py:277-520
# --------------------------------------------------------------------- #
_AKV_SCHEMA = StructType([
    StructField(
        "AuditKeyValues",
        ArrayType(
            StructType([
                StructField("Key", StringType()),
                StructField("ValueString", StringType()),
            ])
        ),
    )
])


def normalize_http_activity_extapi(df: DataFrame) -> DataFrame:
    c = Common()
    r = c.raw
    akv = F.from_json(F.col("value"), _AKV_SCHEMA)["AuditKeyValues"]

    def kv(key: str) -> Column:
        """AV-pair pivot (X12): first ValueString whose Key matches."""
        return F.try_element_at(
            F.filter(akv, lambda x: x["Key"] == key), F.lit(1)
        )["ValueString"]

    method_raw = kv("request_method")
    # .lower().capitalize() (:286)
    activity_from_method = F.initcap(F.lower(method_raw))
    verb_id = F.try_element_at(
        F.create_map(*[x for k, v in HTTP_VERB_ACTIVITY.items() for x in (F.lit(k), F.lit(v))]),
        activity_from_method,
    )
    # reference KeyErrors on verbs outside the table (:287); fixed -> 99
    activity_id = F.when(method_raw.isNull(), F.lit(0)).otherwise(
        F.coalesce(verb_id, F.lit(99))
    ).cast("long")
    activity_name = F.when(method_raw.isNull(), F.lit("Unknown")).otherwise(
        activity_from_method
    )
    http_method = method_raw

    status_code = c.typed("AuditKeyValues.status_code", "long", kv("status_code"))
    status_str = status_code.cast("string")
    ok = (
        status_str.startswith("1") | status_str.startswith("2") | status_str.startswith("3")
    )
    status_id = (
        F.when(status_code.isNull(), F.lit(0))
        .when(ok, F.lit(1))
        .otherwise(F.lit(2))
        .cast("long")
    )
    status = (
        F.when(status_code.isNull(), F.lit("Unknown"))
        .when(ok, F.lit("Success"))
        .otherwise(F.lit("Failure"))
    )

    user_agent = kv("user_agent")
    length = c.typed("AuditKeyValues.request_uri_length", "long", kv("request_uri_length"))
    trace_id = kv("trace_id")
    request_path = kv("request_path")
    accept_header = kv("request_accept")
    content_type = kv("request_content_type")
    api_client_id = kv("APIClientID")

    user_ip = nonempty(r["UserIp"])
    aid = nonempty(r["AgentIdString"])
    cid = nonempty(r["cid"])
    user_id = nonempty(r["UserId"])
    customer_id = nonempty(r["CustomerIdString"])

    obs = observables_array(
        observable(user_agent, "http_request.user_agent", 16, "HTTP User-Agent"),
        observable(api_client_id, "connection_info.session.credential_uid", 10, "Resource UID"),
        observable(user_ip, "src_endpoint.ip", 2, "IP Address"),
        observable(aid, "src_endpoint.agent_list[0].uid", 10, "Resource UID"),
        observable(cid, "src_endpoint.uid", 10, "Resource UID"),
        observable(user_id, "src_endpoint.owner.uid", 10, "Resource UID"),
        observable(customer_id, "src_endpoint.owner.account.uid", 10, "Resource UID"),
    )

    cols = envelope_cols(
        event_name=_ev(c),
        common=c,
        observables=obs,
        profiles=[],
        activity_id=activity_id,
        activity_name=activity_name,
        status_id=status_id,
        status=status,
        time=c.typed("UTCTimestamp", "timestamp"),
        message=r["ExternalApiType"],
        metadata_uid=trace_id,
    )
    cols += [
        F.struct(
            http_method.alias("http_method"),
            user_agent.alias("user_agent"),
            length.cast("string").alias("length"),
            trace_id.alias("uid"),
            F.array(
                F.struct(F.lit("Accept").alias("name"), accept_header.alias("value")),
                F.struct(F.lit("Content-Type").alias("name"), content_type.alias("value")),
                F.struct(F.lit("User-Agent").alias("name"), user_agent.alias("value")),
            ).alias("http_headers"),
            F.struct(request_path.alias("path")).alias("url"),
        ).alias("http_request"),
        F.struct(
            F.lit(0).cast("long").alias("boundary_id"),
            F.lit("Unknown").alias("boundary"),
            trace_id.alias("uid"),
            F.lit(2).cast("long").alias("direction_id"),
            F.lit("Outbound").alias("direction"),
            F.lit(0).cast("long").alias("protocol_ver_id"),
            F.lit("Unknown").alias("protocol_ver"),
            F.lit("tcp").alias("protocol_name"),
            # fixed: reference pairs protocol_name tcp with protocol_num 17
            # (UDP's number, :497-498)
            F.lit(6).cast("long").alias("protocol_num"),
            F.struct(api_client_id.alias("credential_uid")).alias("session"),
        ).alias("connection_info"),
        F.struct(
            user_ip.alias("ip"),
            cid.alias("uid"),
            F.struct(
                user_id.alias("uid"),
                F.lit(0).cast("long").alias("type_id"),
                F.lit("Unknown").alias("type"),
                F.struct(
                    customer_id.alias("uid"),
                    F.lit(99).cast("long").alias("type_id"),
                    F.lit("Crowdstrike").alias("type"),
                ).alias("account"),
            ).alias("owner"),
            c.agent_list(uid=aid, version=F.lit(None).cast("string")).alias("agent_list"),
        ).alias("src_endpoint"),
    ]
    return _finish(df, c, cols, "http_activity_extapi")


# --------------------------------------------------------------------- #
# File System Activity (1001) — qopcfdr_stream_loader.py:1541-1758
# --------------------------------------------------------------------- #
def normalize_file_system_activity(df: DataFrame) -> DataFrame:
    c = Common()
    r = c.raw
    target = nonempty(r["TargetFileName"])
    script = nonempty(r["ScriptContentName"])
    file_name = F.coalesce(target, script)
    file_path = nonempty(r["TargetDirectoryName"])
    file_type_id = F.when(file_path.isNotNull(), F.lit(2)).otherwise(F.lit(1)).cast("long")
    file_type = F.when(file_path.isNotNull(), "Folder").otherwise("Regular File")
    file_uid = nonempty(r["FileIdentifier"])
    creator = nonempty(r["UserName"])
    sha = nonempty(r["SHA256HashData"])
    content_sha = nonempty(r["ContentSHA256HashData"])
    sha256 = F.coalesce(sha, content_sha)

    hashes = hashes_array(hash_entry(sha256, 3, "SHA-256"))
    obs = observables_array(
        observable(file_name, "file.name", 7, "File Name"),
        observable(creator, "file.creator.name", 4, "User Name"),
        observable(sha256, "file.hashes[0].value", 8, "Hash"),
        *c.device_observables(),
    )
    consumed = consumed_keys([
        ("TargetFileName", target.isNotNull()),
        ("ScriptContentName", target.isNull() & script.isNotNull()),
        ("TargetDirectoryName", truthy(r["TargetDirectoryName"])),
        ("FileIdentifier", truthy(r["FileIdentifier"])),
        ("UserName", truthy(r["UserName"])),
        ("SHA256HashData", sha.isNotNull()),
        ("ContentSHA256HashData", sha.isNull() & content_sha.isNotNull()),
    ])

    cols = envelope_cols(event_name=_ev(c), common=c, observables=obs, profiles=[])
    cols += [
        c.device_struct().alias("device"),
        F.struct(
            file_name.alias("name"),
            file_uid.alias("uid"),
            file_path.alias("path"),
            file_type_id.alias("type_id"),
            file_type.alias("type"),
            F.lit(0).cast("long").alias("confidentiality_id"),
            F.lit("Unknown").alias("confidentiality"),
            F.struct(creator.alias("name")).alias("creator"),
            hashes.alias("hashes"),
        ).alias("file"),
        residual_unmapped(c.raw, consumed).alias("unmapped"),
    ]
    return _finish(df, c, cols, "file_system_activity")


# --------------------------------------------------------------------- #
# DNS Activity (4003) — qopcfdr_stream_loader.py:1995-2154
# --------------------------------------------------------------------- #
def normalize_dns_activity(df: DataFrame) -> DataFrame:
    c = Common()
    r = c.raw
    domain = nonempty(r["DomainName"])
    ctx_file = nonempty(r["ContextBaseFileName"])  # observable only, stays unmapped

    obs = observables_array(
        observable(domain, "query.hostname", 1, "Hostname"),
        observable(ctx_file, "unmapped.ContextBaseFileName", 7, "File Name"),
        *c.device_observables(),
    )
    consumed = consumed_keys([("DomainName", truthy(r["DomainName"]))])

    cols = envelope_cols(event_name=_ev(c), common=c, observables=obs, profiles=[])
    cols += [
        c.device_struct().alias("src_endpoint"),
        F.struct(
            F.lit("Query").alias("opcode"),
            F.lit(0).cast("long").alias("opcode_id"),
            domain.alias("hostname"),
        ).alias("query"),
        F.lit(0).cast("long").alias("rcode_id"),
        F.lit("NoError").alias("rcode"),
        residual_unmapped(c.raw, consumed).alias("unmapped"),
    ]
    return _finish(df, c, cols, "dns_activity")


# --------------------------------------------------------------------- #
# Authentication (3002) — qopcfdr_stream_loader.py:2156-2417
# --------------------------------------------------------------------- #
def normalize_authentication(df: DataFrame) -> DataFrame:
    c = Common()
    r = c.raw
    user_name = nonempty(r["UserName"])
    user_principal = nonempty(r["UserPrincipal"])
    user_sid = nonempty(r["UserSid"])
    auth_uid = nonempty(r["AuthenticationId"])
    auth_uuid = nonempty(r["AuthenticationUuid"])
    auth_mac = nonempty(r["AuthenticationIdMac"])
    logon_type_raw = nonempty(r["LogonType"])  # read but never consumed (:2245)
    pid = nonempty(r["RawProcessId"])
    is_admin = nonempty(r["UserIsAdmin"])

    lt_id, lt_name = decode(logon_type_raw, LOGON_TYPE, (0, "Unknown"))
    lt_id = F.when(logon_type_raw.isNull(), F.lit(0)).otherwise(lt_id).cast("long")
    lt_name = F.when(logon_type_raw.isNull(), F.lit("Unknown")).otherwise(lt_name)

    user_type_id = (
        F.when(is_admin.isNull(), F.lit(0))
        .when(is_admin == "1", F.lit(2))
        .otherwise(F.lit(1))
        .cast("long")
    )
    user_type = (
        F.when(is_admin.isNull(), F.lit("Unknown"))
        .when(is_admin == "1", F.lit("Admin"))
        .otherwise(F.lit("User"))
    )

    obs = observables_array(
        observable(user_name, "user.name", 4, "User Name"),
        observable(user_principal, "user.uid", 10, "Resource UID"),
        observable(user_sid, "user.uid_alt", 10, "Resource UID"),
        observable(pid, "logon_process.pid", 15, "Process ID"),
        *c.device_observables(),
    )
    consumed = consumed_keys([
        ("UserName", truthy(r["UserName"])),
        ("UserPrincipal", truthy(r["UserPrincipal"])),
        ("UserSid", truthy(r["UserSid"])),
        ("AuthenticationId", truthy(r["AuthenticationId"])),
        ("AuthenticationUuid", truthy(r["AuthenticationUuid"])),
        ("AuthenticationIdMac", truthy(r["AuthenticationIdMac"])),
        ("RawProcessId", truthy(r["RawProcessId"])),
        ("UserIsAdmin", truthy(r["UserIsAdmin"])),
    ])

    cols = envelope_cols(event_name=_ev(c), common=c, observables=obs, profiles=[])
    cols += [
        c.device_struct().alias("src_endpoint"),
        F.struct(c.typed("RawProcessId", "long").alias("pid")).alias("logon_process"),
        F.struct(
            user_name.alias("name"),
            user_principal.alias("uid"),
            user_sid.alias("uid_alt"),
            user_type.alias("type"),
            user_type_id.alias("type_id"),
        ).alias("user"),
        F.struct(
            auth_uid.alias("uid"), auth_uuid.alias("uuid"), auth_mac.alias("uid_alt")
        ).alias("session"),
        lt_name.alias("logon_type"),
        lt_id.alias("logon_type_id"),
        residual_unmapped(c.raw, consumed).alias("unmapped"),
    ]
    return _finish(df, c, cols, "authentication")


# --------------------------------------------------------------------- #
# File Hosting Activity (6006) — qopcfdr_stream_loader.py:2790-3004
# --------------------------------------------------------------------- #
def normalize_file_hosting_activity(df: DataFrame) -> DataFrame:
    c = Common()
    r = c.raw
    source = nonempty(r["SourceFileName"])
    dl_path = nonempty(r["DownloadPath"])
    file_name = F.coalesce(source, dl_path)
    sha = nonempty(r["SHA256HashData"])
    content_sha = nonempty(r["ContentSHA256HashData"])
    sha256 = F.coalesce(sha, content_sha)
    dl_server = nonempty(r["DownloadServer"])
    dl_port = c.typed("DownloadPort", "long")

    hashes = hashes_array(hash_entry(sha256, 3, "SHA-256"))
    obs = observables_array(
        observable(file_name, "file.name", 7, "File Name"),
        observable(sha256, "file.hashes[0].value", 8, "Hash"),
        observable(dl_server, "dst_endpoint.hostname", 1, "Hostname"),
        observable(dl_port, "dst_endpoint.port", 11, "Port"),
        *c.device_observables(),
    )
    consumed = consumed_keys([
        ("SourceFileName", source.isNotNull()),
        ("DownloadPath", source.isNull() & dl_path.isNotNull()),
        ("SHA256HashData", sha.isNotNull()),
        ("ContentSHA256HashData", sha.isNull() & content_sha.isNotNull()),
        ("DownloadServer", truthy(r["DownloadServer"])),
        ("DownloadPort", truthy(r["DownloadPort"])),
    ])

    cols = envelope_cols(event_name=_ev(c), common=c, observables=obs, profiles=[])
    cols += [
        c.device_struct().alias("src_endpoint"),
        F.struct(dl_server.alias("hostname"), dl_port.alias("port")).alias("dst_endpoint"),
        F.struct(
            file_name.alias("name"),
            F.lit(0).cast("long").alias("confidentiality_id"),
            F.lit("Unknown").alias("confidentiality"),
            hashes.alias("hashes"),
        ).alias("file"),
        residual_unmapped(c.raw, consumed).alias("unmapped"),
    ]
    return _finish(df, c, cols, "file_hosting_activity")


# --------------------------------------------------------------------- #
# Module Activity (1005) — qopcfdr_stream_loader.py:1760-1993
# --------------------------------------------------------------------- #
def normalize_module_activity(df: DataFrame) -> DataFrame:
    c = Common()
    r = c.raw
    bundle = nonempty(r["BundleID"])
    io_path = nonempty(r["IOServicePath"])
    module_name = F.coalesce(bundle, io_path)
    load_type_id = F.when(module_name.isNotNull(), F.lit(1)).otherwise(F.lit(0)).cast("long")
    load_type = F.when(module_name.isNotNull(), "Standard").otherwise("Unknown")
    file_name = nonempty(r["ImageFileName"])
    sha256 = nonempty(r["SHA256HashData"])
    sha1 = nonempty(r["SHA1HashData"])
    md5 = nonempty(r["MD5HashData"])

    hashes = hashes_array(
        hash_entry(sha256, 3, "SHA-256"),
        hash_entry(sha1, 2, "SHA-1"),
        hash_entry(md5, 1, "MD5"),
    )
    obs = observables_array(
        observable(file_name, "module.file.name", 7, "File Name"),
        observable(sha256, "file.hashes[0].value", 8, "Hash"),
        observable(sha1, "file.hashes[1].value", 8, "Hash"),
        observable(md5, "file.hashes[2].value", 8, "Hash"),
        *c.device_observables(),
    )
    consumed = consumed_keys([
        ("BundleID", bundle.isNotNull()),
        ("IOServicePath", bundle.isNull() & io_path.isNotNull()),
        ("ImageFileName", truthy(r["ImageFileName"])),
        ("SHA256HashData", truthy(r["SHA256HashData"])),
        ("SHA1HashData", truthy(r["SHA1HashData"])),
        ("MD5HashData", truthy(r["MD5HashData"])),
    ])

    cols = envelope_cols(event_name=_ev(c), common=c, observables=obs, profiles=[])
    cols += [
        c.device_struct().alias("device"),
        F.struct(
            module_name.alias("function_name"),
            load_type_id.alias("load_type_id"),
            load_type.alias("load_type"),
            F.struct(file_name.alias("name"), hashes.alias("hashes")).alias("file"),
        ).alias("module"),
        residual_unmapped(c.raw, consumed).alias("unmapped"),
    ]
    return _finish(df, c, cols, "module_activity")


# --------------------------------------------------------------------- #
# Application Lifecycle (6002) — qopcfdr_stream_loader.py:2419-2613
# --------------------------------------------------------------------- #
def normalize_application_lifecycle(df: DataFrame) -> DataFrame:
    c = Common()
    r = c.raw
    flag = nonempty(r["UpdateFlag"])
    a_id, a_name, s_id, s_name = decode(flag, UPDATE_FLAG, (99, "Other", 99, "Other"))
    a_id = F.when(flag.isNull(), F.lit(0)).otherwise(a_id).cast("long")
    a_name = F.when(flag.isNull(), F.lit("Unknown")).otherwise(a_name)
    s_id = F.when(flag.isNull(), F.lit(0)).otherwise(s_id).cast("long")
    s_name = F.when(flag.isNull(), F.lit("Unknown")).otherwise(s_name)

    app_name = nonempty(r["AppName"])
    app_source = nonempty(r["AppSource"])
    app_vendor = nonempty(r["AppVendor"])
    app_version = nonempty(r["AppVersion"])

    obs = observables_array(*c.device_observables())
    consumed = consumed_keys([
        ("UpdateFlag", truthy(r["UpdateFlag"])),
        ("AppName", truthy(r["AppName"])),
        ("AppSource", truthy(r["AppSource"])),
        ("AppVendor", truthy(r["AppVendor"])),
        ("AppVersion", truthy(r["AppVersion"])),
    ])

    cols = envelope_cols(
        event_name=_ev(c),
        common=c,
        observables=obs,
        profiles=["host"],
        activity_id=a_id,
        activity_name=a_name,
        status_id=s_id,
        status=s_name,
    )
    cols += [
        c.device_struct().alias("device"),
        F.struct(
            app_name.alias("name"),
            app_source.alias("uid"),
            app_vendor.alias("vendor_name"),
            app_version.alias("version"),
        ).alias("app"),
        residual_unmapped(c.raw, consumed).alias("unmapped"),
    ]
    return _finish(df, c, cols, "application_lifecycle")


# --------------------------------------------------------------------- #
# Operating System Patch State (5004) — qopcfdr_stream_loader.py:2615-2788
# --------------------------------------------------------------------- #
def normalize_operating_system_patch_state(df: DataFrame) -> DataFrame:
    c = Common()
    r = c.raw
    flag = nonempty(r["Status"])
    a_id, a_name, s_id, s_name = decode(flag, PATCH_STATUS, (99, "Other", 99, "Other"))
    a_id = F.when(flag.isNull(), F.lit(0)).otherwise(a_id).cast("long")
    a_name = F.when(flag.isNull(), F.lit("Unknown")).otherwise(a_name)
    s_id = F.when(flag.isNull(), F.lit(0)).otherwise(s_id).cast("long")
    s_name = F.when(flag.isNull(), F.lit("Unknown")).otherwise(s_name)

    kbs_raw = nonempty(r["InstalledUpdateIds"])
    kbs = F.when(
        kbs_raw.isNotNull(),
        F.transform(F.split(kbs_raw, ";"), lambda x: F.struct(x.alias("uid"))),
    ).otherwise(F.array(F.struct(F.lit(None).cast("string").alias("uid"))))

    obs = observables_array(*c.device_observables())
    consumed = consumed_keys([
        ("Status", truthy(r["Status"])),
        ("InstalledUpdateIds", truthy(r["InstalledUpdateIds"])),
    ])

    cols = envelope_cols(
        event_name=_ev(c),
        common=c,
        observables=obs,
        profiles=[],
        activity_id=a_id,
        activity_name=a_name,
        status_id=s_id,
        status=s_name,
    )
    cols += [
        c.device_struct().alias("device"),
        kbs.alias("kb_article_list"),
        residual_unmapped(c.raw, consumed).alias("unmapped"),
    ]
    return _finish(df, c, cols, "operating_system_patch_state")


# --------------------------------------------------------------------- #
# Detection Finding (2004) — qopcfdr_stream_loader.py:3006-3252
# --------------------------------------------------------------------- #
def normalize_detection_finding(df: DataFrame) -> DataFrame:
    c = Common()
    r = c.raw
    file_name = nonempty(r["ImageFileName"])
    cmd = nonempty(r["CommandLine"])
    sha256 = nonempty(r["ContentSHA256HashData"])
    ctx_uid = nonempty(r["ContextProcessId"])
    parent_file = nonempty(r["ParentImageFileName"])
    # bug-compat: the reference re-reads CommandLine after consuming it, so
    # parent cmd_line is always None and its observable never fires
    # (:3099-3109, FIDELITY.md)
    parent_cmd = F.lit(None).cast("string")
    gp_file = nonempty(r["GrandparentImageFileName"])
    gp_cmd = nonempty(r["GrandparentCommandLine"])

    obs = observables_array(
        observable(file_name, "evidences[0].process.file.name", 7, "File Name"),
        observable(cmd, "evidences[0].process.cmd_line", 13, "Command Line"),
        observable(sha256, "evidences[0].process.file.hashes[0].value", 8, "Hash"),
        observable(parent_file, "evidences[0].process.parent_process.file.name", 7, "File Name"),
        observable(
            gp_file,
            "evidences[0].process.parent_process.parent_process.file.name",
            7,
            "File Name",
        ),
        observable(
            gp_cmd,
            "evidences[0].process.parent_process.parent_process.cmd_line",
            13,
            "Command Line",
        ),
        *c.device_observables(),
    )
    consumed = consumed_keys([
        ("ImageFileName", truthy(r["ImageFileName"])),
        ("CommandLine", truthy(r["CommandLine"])),
        ("ContentSHA256HashData", truthy(r["ContentSHA256HashData"])),
        ("ContextProcessId", truthy(r["ContextProcessId"])),
        ("ParentImageFileName", truthy(r["ParentImageFileName"])),
        ("GrandparentImageFileName", truthy(r["GrandparentImageFileName"])),
        ("GrandparentCommandLine", truthy(r["GrandparentCommandLine"])),
    ])

    # hashes entry is unconditional in the reference (constant SHA-256
    # algorithm, possibly-null value, :3226-3232)
    evidence = F.struct(
        F.struct(
            cmd.alias("cmd_line"),
            ctx_uid.alias("uid"),
            F.struct(
                file_name.alias("name"),
                F.array(
                    F.struct(
                        F.lit("SHA-256").alias("algorithm"),
                        F.lit(3).cast("long").alias("algorithm_id"),
                        sha256.alias("value"),
                    )
                ).alias("hashes"),
            ).alias("file"),
            F.struct(
                parent_cmd.alias("cmd_line"),
                F.struct(parent_file.alias("name")).alias("file"),
                F.struct(
                    gp_cmd.alias("cmd_line"),
                    F.struct(gp_file.alias("name")).alias("file"),
                ).alias("parent_process"),
            ).alias("parent_process"),
        ).alias("process")
    )

    cols = envelope_cols(
        event_name=_ev(c), common=c, observables=obs, profiles=["host"]
    )
    cols += [
        c.device_struct().alias("device"),
        F.array(evidence).alias("evidences"),
        residual_unmapped(c.raw, consumed).alias("unmapped"),
    ]
    return _finish(df, c, cols, "detection_finding")


# table_key -> normalizer builder
NORMALIZERS: dict[str, Callable[[DataFrame], DataFrame]] = {
    "process_activity": normalize_process_activity,
    "network_activity": normalize_network_activity,
    "device_config_state": normalize_device_config_state,
    "http_activity": normalize_http_activity,
    "http_activity_extapi": normalize_http_activity_extapi,
    "file_system_activity": normalize_file_system_activity,
    "dns_activity": normalize_dns_activity,
    "authentication": normalize_authentication,
    "file_hosting_activity": normalize_file_hosting_activity,
    "module_activity": normalize_module_activity,
    "application_lifecycle": normalize_application_lifecycle,
    "operating_system_patch_state": normalize_operating_system_patch_state,
    "detection_finding": normalize_detection_finding,
}


def normalize_class(df: DataFrame, table_key: str) -> DataFrame:
    """Apply the class normalizer to an already-classified DataFrame."""
    built = _COLS_CACHE.get(table_key)
    if built is not None:
        return df.select(*built[0]).to(OCSF_SCHEMAS[table_key][2])
    return NORMALIZERS[table_key](df)


def class_columns(table_key: str, df: DataFrame) -> list[Column]:
    """The class's projection columns, building the normalizer plan once
    if the pure-expression cache is cold; the build also records the
    class's casts (``class_casts``)."""
    if table_key not in _COLS_CACHE:
        NORMALIZERS[table_key](df)
    return _COLS_CACHE[table_key][0]


def class_casts(table_key: str) -> list[CastSite]:
    """Every string -> number/timestamp site of a built class (E5 cast
    check, operators/castcheck.py), recorded by ``Common.typed``."""
    return _COLS_CACHE[table_key][1]
