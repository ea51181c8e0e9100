"""Shared column-expression builders used by all 13 class normalizers.

The reference repeats these blocks in every normalizer function
(qopcfdr_stream_loader.py): common-field extraction (:227-275), the
aid/cid/aip observables triple (:559-592 et al.), the constant
metadata/product block (:614-626 et al.), the agent_list entry, the
envelope derivations (``type_uid = class_uid*100 + activity_id``), and the
residual ``unmapped`` map.  Here each exists once, as pure Catalyst
expressions (no Python UDFs) so the whole normalizer compiles into a single
whole-stage-codegen projection.
"""

from __future__ import annotations

from functools import cached_property

from pyspark.sql import Column
from pyspark.sql import functions as F

from .decodes import platform_os
from .timeparse import TIMESTAMP_SENTINEL, fdr_timestamp

# Keys consumed from every event by commonFdrParser (:227-275) plus the
# ConfigBuild / event_platform pair every normalizer pops (:531-540 et al.).
# The event discriminator (event_simpleName/...) is NOT consumed — the
# reference leaves it in `unmapped`.
COMMON_CONSUMED_KEYS = (
    "name",
    "aid",
    "cid",
    "timestamp",
    "id",
    "aip",
    "ConfigBuild",
    "event_platform",
)

PRODUCT_URL = (
    "https://www.crowdstrike.com/resources/data-sheets/falcon-data-replicator/"
)


def truthy(c: Column) -> Column:
    """Python-falsiness condition for FDR string fields ('' == absent)."""
    return c.isNotNull() & (c != "")


def nonempty(c: Column) -> Column:
    """Value with Python-falsiness semantics: '' -> NULL (SURVEY.md X11).
    NULL != '' is NULL, so NULL stays NULL; one comparison keeps the
    expression small where castcheck repeats it inside a CASE branch."""
    return F.when(c != "", c)


# one typed conversion of a class: (label, present value, typed value)
CastSite = tuple[str, Column, Column]


class Common:
    """The common FDR fields, read once from the raw string map, and the
    record (``casts``) of every conversion the class's projection makes
    from an input string to a number or a timestamp."""

    def __init__(self, raw: Column | None = None):
        self.raw = F.col("raw") if raw is None else raw
        self.casts: list[CastSite] = []
        r = self.raw
        self.message = r["name"]
        self.aid = r["aid"]
        self.cid = r["cid"]
        self.aip = r["aip"]
        self.uid = r["id"]
        self.config_build = r["ConfigBuild"]
        self.platform = r["event_platform"]
        self.os_type_id, self.os_type = platform_os(self.platform)

    @cached_property
    def time(self) -> Column:
        """Event time; a missing or empty ``timestamp`` is the 1998 sentinel.
        Built on first use, so a class that never emits it records no site."""
        return self.typed("timestamp", "timestamp", default=TIMESTAMP_SENTINEL)

    def typed(self, label: str, to: str, value: Column | None = None,
              default: str | None = None) -> Column:
        """The only place an input string becomes a number (``to`` a Spark
        type name) or a timestamp (``to="timestamp"``, ``fdr_timestamp``).

        ``value`` is ``raw[label]`` unless given (an AuditKeyValues value);
        '' counts as absent (X11), and an absent value becomes ``default``
        when one is given.  A present value that does not convert gives
        NULL under either ANSI setting, never an exception, and the site is
        recorded so that castcheck diverts exactly those rows."""
        present = nonempty(self.raw[label] if value is None else value)
        source = present if default is None else F.coalesce(present, F.lit(default))
        out = fdr_timestamp(source) if to == "timestamp" else source.try_cast(to)
        self.casts.append((label, present, out))
        return out

    def os_struct(self) -> Column:
        return F.struct(
            self.os_type_id.alias("type_id"), self.os_type.alias("type")
        )

    def agent_list(self, uid: Column | None = None, version: Column | None = None) -> Column:
        """The constant Falcon-agent entry every normalizer emits."""
        if uid is None:
            uid = self.aid
        if version is None:
            version = self.config_build
        return F.array(
            F.struct(
                uid.cast("string").alias("uid"),
                F.lit("Crowdstrike Falcon Agent").alias("name"),
                version.cast("string").alias("version"),
                F.lit(1).cast("long").alias("type_id"),
                F.lit("Endpoint Detection and Response").alias("type"),
                F.lit("Crowdstrike").alias("vendor_name"),
            )
        )

    def device_struct(self) -> Column:
        """device / host-src_endpoint struct: ip/uid/os/agent_list."""
        return F.struct(
            self.aip.alias("ip"),
            self.cid.alias("uid"),
            self.os_struct().alias("os"),
            self.agent_list().alias("agent_list"),
        )

    def device_observables(self) -> list[Column]:
        """The aid/cid/aip observables triple (same names across classes)."""
        return [
            observable(self.aid, "device.agent_list[0].uid", 10, "Resource UID"),
            observable(self.cid, "device.uid", 10, "Resource UID"),
            observable(self.aip, "device.ip", 2, "IP Address"),
        ]

    def metadata_struct(self, event_name: Column, profiles: list[str],
                        uid: Column | None = None) -> Column:
        if uid is None:
            uid = self.uid
        return F.struct(
            uid.cast("string").alias("uid"),
            event_name.alias("log_name"),
            F.lit("Falcon Data Replicator").alias("log_provider"),
            F.lit("1.2.0").alias("version"),
            F.array(*[F.lit(p) for p in profiles]).cast("array<string>").alias("profiles"),
            F.struct(
                F.lit("en").alias("lang"),
                F.lit("Crowdstrike Falcon").alias("name"),
                F.lit("Crowdstrike").alias("vendor_name"),
                F.lit(PRODUCT_URL).alias("url_string"),
            ).alias("product"),
        )


def observable(value: Column, name: str, type_id: int, type_name: str) -> Column:
    """One conditional observable entry: NULL when the value is falsy, so
    ``observables_array`` can filter it out (SURVEY.md X8)."""
    return F.when(
        truthy(value.cast("string")),
        F.struct(
            F.lit(name).alias("name"),
            F.lit(type_name).alias("type"),
            F.lit(type_id).cast("long").alias("type_id"),
            value.cast("string").alias("value"),
        ),
    )


def observables_array(*entries: Column) -> Column:
    arr = F.array(*entries)
    return F.filter(arr, lambda x: x.isNotNull())


def hash_entry(value: Column, algorithm_id: int, algorithm: str,
               alg_first: bool = False) -> Column:
    """Conditional hash struct (algorithm taxonomy MD5=1 SHA-1=2 SHA-256=3
    ja3=99, qopcfdr_stream_loader.py:704-740)."""
    if alg_first:
        s = F.struct(
            F.lit(algorithm).alias("algorithm"),
            F.lit(algorithm_id).cast("long").alias("algorithm_id"),
            value.alias("value"),
        )
    else:
        s = F.struct(
            F.lit(algorithm_id).cast("long").alias("algorithm_id"),
            F.lit(algorithm).alias("algorithm"),
            value.alias("value"),
        )
    return F.when(truthy(value), s)


def hashes_array(*entries: Column) -> Column:
    """Hash list with the reference's null-stub fallback: when no hash is
    present the array holds one all-NULL entry (qopcfdr_stream_loader.py:800-808)."""
    arr = F.filter(F.array(*entries), lambda x: x.isNotNull())
    null_stub = F.array(
        F.struct(
            F.lit(None).cast("long").alias("algorithm_id"),
            F.lit(None).cast("string").alias("algorithm"),
            F.lit(None).cast("string").alias("value"),
        )
    )
    return F.when(F.size(arr) > 0, arr).otherwise(null_stub)


def consumed_keys(pairs: list[tuple[str, Column]]) -> Column:
    """Array of per-record consumed key names: key K is consumed iff its
    condition holds (the normalizer actually used its value)."""
    entries = [F.when(cond, F.lit(key)) for key, cond in pairs]
    arr = F.array(*entries) if entries else F.array().cast("array<string>")
    return F.filter(arr, lambda x: x.isNotNull())


def residual_unmapped(raw: Column, consumed: Column) -> Column:
    """Everything not consumed -> unmapped map<string,string> (SURVEY.md X7).

    array_except instead of map_filter: expressions referenced inside a
    higher-order-function lambda are inlined per ELEMENT, so a map_filter
    predicate touching the dynamic ``consumed`` array would rebuild it
    (with all its when()/map-lookup conditions) once per map entry.
    array_except evaluates ``consumed`` once per ROW; the remaining
    per-element work is a plain map lookup."""
    gone = F.concat(F.array(*[F.lit(k) for k in COMMON_CONSUMED_KEYS]), consumed)
    keep = F.array_except(F.map_keys(raw), gone)
    return F.map_from_arrays(keep, F.transform(keep, lambda k: F.element_at(raw, k)))


def envelope_cols(
    *,
    event_name: Column,
    common: Common,
    observables: Column,
    profiles: list[str],
    activity_id: Column | None = None,
    activity_name: Column | None = None,
    status_id: Column | None = None,
    status: Column | None = None,
    status_code: Column | None = None,
    time: Column | None = None,
    message: Column | None = None,
    metadata_uid: Column | None = None,
) -> list[Column]:
    """The OCSF base-event envelope, defaults sourced from the joined
    mapping row (R1); per-class overrides for the 777/'Override' sentinels."""
    if activity_id is None:
        activity_id = F.col("activity_id")
    if activity_name is None:
        activity_name = F.col("activity_name").cast("string")
    if status_id is None:
        status_id = F.col("status_id")
    if status is None:
        status = F.col("status").cast("string")
    if time is None:
        time = common.time
    if message is None:
        message = common.message
    activity_id = activity_id.cast("long")
    class_uid = F.col("class_uid").cast("long")
    cols = [
        activity_id.alias("activity_id"),
        activity_name.alias("activity_name"),
        F.col("category_name").alias("category_name"),
        F.col("category_uid").cast("long").alias("category_uid"),
        F.col("class_name").alias("class_name"),
        class_uid.alias("class_uid"),
        F.col("severity").alias("severity"),
        F.col("severity_id").cast("long").alias("severity_id"),
        status.alias("status"),
        status_id.cast("long").alias("status_id"),
    ]
    if status_code is not None:
        cols.append(status_code.cast("string").alias("status_code"))
    cols += [
        F.concat(F.col("class_name"), F.lit(": "), activity_name).alias("type_name"),
        (class_uid * 100 + activity_id).alias("type_uid"),
        time.alias("time"),
        message.alias("message"),
        observables.alias("observables"),
        common.metadata_struct(event_name, profiles, uid=metadata_uid).alias("metadata"),
    ]
    return cols
