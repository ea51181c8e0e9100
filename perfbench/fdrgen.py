"""Seeded synthetic CrowdStrike FDR corpus for the benchmark.

Every event is built from one of the shapes in the package's
``sources.sample.FIXTURES`` and then given fresh ids, hashes, paths, ports,
addresses and timestamps, so gzip and parquet see realistic entropy rather
than a handful of repeated lines.  A share of lines is malformed on purpose,
one kind per quarantine:

- ``corrupt``: truncated JSON (``_quarantine/corrupt_lines``);
- ``no_disc``: JSON without any discriminator key
  (``_quarantine/no_discriminator``);
- ``unmapped``: a discriminator that the 122-row mapping does not know
  (``_quarantine/unmapped_events``);
- ``cast_fail``: a mapped event whose epoch timestamp is not a number
  (``_quarantine/cast_failures``).

The generator computes where each line must land from its own table below,
not from the package, so the benchmark's output check is independent of the
code it checks.

Command-line use, each as a process of its own:

- ``python3 fdrgen.py batch ...`` writes the gzip objects for ``run_batch``
  and a JSON file of the expected landing counts (it runs while the
  benchmark starts its JVM);
- ``python3 fdrgen.py stream ...`` is the open-loop feed for the streaming
  workload: it writes one file per scheduled tick whether or not the stream
  keeps up.
"""

from __future__ import annotations

import argparse
import gzip
import json
import os
import random
import signal
import sys
import time
from collections import Counter

# FIXTURES comes from the package, so the repository root must be on
# sys.path, also when this file runs as the stream generator's process.
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sources.sample import (  # noqa: E402
    FIXTURES,
)

TABLES = (
    "process_activity",
    "network_activity",
    "device_config_state",
    "http_activity",
    "http_activity_extapi",
    "file_system_activity",
    "dns_activity",
    "authentication",
    "file_hosting_activity",
    "module_activity",
    "application_lifecycle",
    "operating_system_patch_state",
    "detection_finding",
)
QUARANTINES = ("corrupt_lines", "no_discriminator", "unmapped_events", "cast_failures")
MALFORMED = {
    "corrupt": "corrupt_lines",
    "no_disc": "no_discriminator",
    "unmapped": "unmapped_events",
    "cast_fail": "cast_failures",
}

# Destination of each discriminator, per the reference's event mapping
# (FIXTURES.md); the benchmark's own copy, so a routing bug in the package
# shows up as a count mismatch.
EVENT_TABLE = {
    "ProcessRollup2": "process_activity",
    "EndOfProcess": "process_activity",
    "NetworkConnectIP4": "network_activity",
    "NetworkConnectIP6": "network_activity",
    "SensorHeartbeat": "device_config_state",
    "AgentConnect": "device_config_state",
    "HttpRequest": "http_activity",
    "HttpResponse": "http_activity",
    "TlsClientHello": "http_activity",
    "Event_ExternalApiEvent": "http_activity_extapi",
    "NewScriptWritten": "file_system_activity",
    "DnsRequest": "dns_activity",
    "UserLogon": "authentication",
    "LfoUploadStart": "file_hosting_activity",
    "LFODownloadConfirmation": "file_hosting_activity",
    "KextLoad": "module_activity",
    "IOServiceRegister": "module_activity",
    "InstalledApplication": "application_lifecycle",
    "InstalledUpdates": "operating_system_patch_state",
    "ScriptControlDetectInfo": "detection_finding",
}

# OCSF class of each table, for the lake query's per-class check.
TABLE_CLASS = {
    "process_activity": "Process Activity",
    "network_activity": "Network Activity",
    "device_config_state": "Device Config State",
    "http_activity": "HTTP Activity",
    "http_activity_extapi": "HTTP Activity",
    "file_system_activity": "File System Activity",
    "dns_activity": "DNS Activity",
    "authentication": "Authentication",
    "file_hosting_activity": "File Hosting Activity",
    "module_activity": "Module Activity",
    "application_lifecycle": "Application Lifecycle",
    "operating_system_patch_state": "Operating System Patch State",
    "detection_finding": "Detection Finding",
}

# Volume weights of the skewed mix.  These are an unverified placeholder:
# nothing in the repository records FDR event-volume shares, so the weights
# only encode the assumption that process, network and DNS telemetry
# dominate a feed.  Replace them once a sourced mix or a recorded sample is
# in the repository.  Every other shape gets a thin tail.
SKEW = {
    "ProcessRollup2": 30.0,
    "NetworkConnectIP4": 20.0,
    "DnsRequest": 12.0,
    "EndOfProcess": 8.0,
    "SensorHeartbeat": 5.0,
}
SKEW_TAIL = 1.0

DAY0_MS = 1718000000000  # 2024-06-10T06:13:20Z
DAY_MS = 86_400_000


def _discriminator(d: dict) -> str | None:
    return d.get("event_simpleName") or d.get("event_type") or d.get("EventType")


def _templates() -> list[dict]:
    """The FIXTURES shapes that carry a mapped discriminator and a
    timestamp (the edge-case rows exist for the unit tests)."""
    out = []
    for f in FIXTURES:
        name = _discriminator(f)
        if name in EVENT_TABLE and ("timestamp" in f or "UTCTimestamp" in f):
            out.append(f)
    return out


TEMPLATES = _templates()


def _hex(rng: random.Random, n: int) -> str:
    return "%0*x" % (n, rng.getrandbits(4 * n))


def _ip4(rng: random.Random) -> str:
    return "10.%d.%d.%d" % (rng.randrange(256), rng.randrange(256), rng.randrange(1, 255))


def _word(rng: random.Random, n: int = 8) -> str:
    return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz0123456789") for _ in range(n))


def _vary_value(key: str, value, rng: random.Random):
    """A fresh value of the same kind as ``value`` for field ``key``."""
    if not isinstance(value, str) or value == "":
        return value
    if "SHA256" in key:
        return _hex(rng, 64)
    if "SHA1" in key:
        return _hex(rng, 40)
    if "MD5" in key or key == "Ja3Hash":
        return _hex(rng, 32)
    if key in ("aid", "cid"):
        return _hex(rng, 32)
    if key.endswith("Port"):
        return str(rng.randrange(1, 65536))
    if key.endswith("ProcessId") or key in ("AuthenticationId",):
        return str(rng.randrange(4, 1 << 31))
    if key.endswith("IP4") or key in ("aip", "UserIp"):
        return _ip4(rng)
    if key in ("ImageFileName", "TargetFileName", "SourceFileName", "DownloadPath"):
        return value.rsplit("\\" if "\\" in value else "/", 1)[0] + (
            "\\" if "\\" in value else "/") + _word(rng) + ".exe"
    if key in ("CommandLine", "ParentCommandLine", "GrandparentCommandLine"):
        return "%s --%s %s" % (value.split(" ", 1)[0], _word(rng, 5), _word(rng, 12))
    if key in ("UserName", "UserId", "UserPrincipal"):
        return _word(rng, 6) + ("@corp" if "@" in value else "")
    if key in ("DomainName", "HttpHost", "DownloadServer"):
        return "%s.%s.example" % (_word(rng, 6), _word(rng, 3))
    if key == "id":
        return "evt-" + _hex(rng, 16)
    return value


def _event(template: dict, rng: random.Random, days: int) -> dict:
    d = {}
    for k, v in template.items():
        d[k] = _vary_value(k, v, rng) if k != "AuditKeyValues" else v
    ms = DAY0_MS + rng.randrange(days * DAY_MS)
    if "UTCTimestamp" in d:
        d["UTCTimestamp"] = str(ms // 1000)
    else:
        d["timestamp"] = str(ms)
    return d


def _malformed(kind: str, rng: random.Random, days: int) -> str:
    if kind == "corrupt":
        full = json.dumps(_event(rng.choice(TEMPLATES), rng, days))
        return full[: rng.randrange(5, max(6, len(full) - 2))]
    if kind == "no_disc":
        return json.dumps({"aid": _hex(rng, 32), "timestamp": str(DAY0_MS + rng.randrange(days * DAY_MS)),
                           "note": _word(rng, 10)})
    if kind == "unmapped":
        return json.dumps({"event_simpleName": "FutureEvent%d" % rng.randrange(1000),
                           "aid": _hex(rng, 32), "timestamp": str(DAY0_MS + rng.randrange(days * DAY_MS))})
    d = _event(rng.choice(TEMPLATES), rng, days)
    key = "UTCTimestamp" if "UTCTimestamp" in d else "timestamp"
    d[key] = d[key][:4] + "x" + d[key][5:]  # not a number: the cast would null it
    return json.dumps(d)


class Expected:
    """Where the generated lines must land."""

    def __init__(self) -> None:
        self.lines = 0
        self.sinks: Counter = Counter()  # table or quarantine -> rows
        self.class_days: Counter = Counter()  # (class_name, yyyymmdd) -> rows

    def add_event(self, d: dict) -> None:
        table = EVENT_TABLE[_discriminator(d)]
        ms = int(d["UTCTimestamp"]) * 1000 if "UTCTimestamp" in d else int(d["timestamp"])
        day = time.strftime("%Y%m%d", time.gmtime(ms // 1000))
        self.lines += 1
        self.sinks[table] += 1
        self.class_days[(TABLE_CLASS[table], day)] += 1

    def add_malformed(self, kind: str) -> None:
        self.lines += 1
        self.sinks[MALFORMED[kind]] += 1

    def merge(self, other: "Expected") -> None:
        self.lines += other.lines
        self.sinks.update(other.sinks)
        self.class_days.update(other.class_days)

    def to_json(self) -> dict:
        return {
            "lines": self.lines,
            "sinks": dict(self.sinks),
            "class_days": [[c, d, n] for (c, d), n in sorted(self.class_days.items())],
        }

    @classmethod
    def from_json(cls, obj: dict) -> "Expected":
        e = cls()
        e.lines = obj["lines"]
        e.sinks.update(obj["sinks"])
        e.class_days.update({(c, d): n for c, d, n in obj["class_days"]})
        return e


def _lines(rng: random.Random, n: int, mix: str, malformed_share: float, days: int,
           exp: Expected) -> list[str]:
    """``n`` lines: a ``mix`` of valid events plus ``malformed_share`` split
    evenly over the four malformed kinds.  The uniform mix seeds every file
    with one line per sink, so each of the 17 sinks receives rows."""
    kinds = list(MALFORMED)
    if mix == "skewed":
        weights = [SKEW.get(_discriminator(t), SKEW_TAIL) for t in TEMPLATES]
        by_table = None
    elif mix == "uniform":
        weights = None
        by_table = {t: [f for f in TEMPLATES if EVENT_TABLE[_discriminator(f)] == t] for t in TABLES}
    else:
        raise ValueError(f"unknown mix {mix!r}")
    out: list[str] = []
    if mix == "uniform":
        for t in TABLES:
            d = _event(rng.choice(by_table[t]), rng, days)
            exp.add_event(d)
            out.append(json.dumps(d))
        for k in kinds:
            exp.add_malformed(k)
            out.append(_malformed(k, rng, days))
    while len(out) < n:
        if rng.random() < malformed_share:
            k = kinds[rng.randrange(len(kinds))]
            exp.add_malformed(k)
            out.append(_malformed(k, rng, days))
            continue
        if weights is not None:
            tpl = rng.choices(TEMPLATES, weights)[0]
        else:
            tpl = rng.choice(by_table[TABLES[rng.randrange(len(TABLES))]])
        d = _event(tpl, rng, days)
        exp.add_event(d)
        out.append(json.dumps(d))
    rng.shuffle(out)
    return out


def write_gzip(path: str, lines: list[str]) -> int:
    """Write NDJSON under a hidden name, then rename it into place: Spark's
    file source skips names starting with '.', so a reader never sees a
    partial object.  Returns the compressed size."""
    head, tail = os.path.split(path)
    tmp = os.path.join(head, "." + tail + ".tmp")
    with gzip.open(tmp, "wt", encoding="utf-8", compresslevel=6) as fh:
        fh.write("\n".join(lines))
        fh.write("\n")
    size = os.path.getsize(tmp)
    os.rename(tmp, path)
    return size


def make_batch_corpus(out_dir: str, seed: int, *, events: int, objects: int, mix: str,
                      malformed_share: float, days: int) -> tuple[Expected, int]:
    """Write ``objects`` gzip NDJSON files holding ``events`` lines in total.
    Returns the expected landing counts and the gzip bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    exp = Expected()
    gz = 0
    per = [events // objects + (1 if i < events % objects else 0) for i in range(objects)]
    for i, n in enumerate(per):
        gz += write_gzip(os.path.join(out_dir, "fdr-%05d.gz" % i),
                         _lines(rng, n, mix, malformed_share, days, exp))
    return exp, gz


def _stream_main(args: argparse.Namespace) -> int:
    """Open-loop feed: file ``i`` is due at ``start + i / rate``.  The
    schedule never waits for the consumer; each log record stamps the due
    time and the actual write time, so lateness is measured, not assumed."""
    stop = []
    signal.signal(signal.SIGTERM, lambda *_: stop.append(1))
    rng = random.Random(args.seed)
    os.makedirs(args.out, exist_ok=True)
    with open(args.log, "a", encoding="utf-8") as log:
        for i in range(args.files):
            if stop:
                break
            due = args.start + i / args.rate
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            if stop:
                break
            exp = Expected()
            lines = _lines(rng, args.events_per_file, args.mix, args.malformed_share, args.days, exp)
            name = "fdr-%06d.gz" % i
            gz = write_gzip(os.path.join(args.out, name), lines)
            rec = {"name": name, "due": due, "written": time.time(), "gz_bytes": gz,
                   "expect": exp.to_json()}
            log.write(json.dumps(rec) + "\n")
            log.flush()
    return 0


def _batch_main(args: argparse.Namespace) -> int:
    """Write the batch corpus, then ``{"gz_bytes", "expect"}`` to
    ``args.expect`` (under a hidden name first, so a reader never sees a
    partial file)."""
    exp, gz = make_batch_corpus(args.out, args.seed, events=args.events, objects=args.objects,
                                mix=args.mix, malformed_share=args.malformed_share,
                                days=args.days)
    head, tail = os.path.split(args.expect)
    tmp = os.path.join(head, "." + tail + ".tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump({"gz_bytes": gz, "expect": exp.to_json()}, fh)
    os.rename(tmp, args.expect)
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    b = sub.add_parser("batch", help="gzip objects for the batch workload")
    b.add_argument("--out", required=True)
    b.add_argument("--expect", required=True, help="JSON file of the expected counts")
    b.add_argument("--events", type=int, required=True)
    b.add_argument("--objects", type=int, required=True)
    s = sub.add_parser("stream", help="open-loop file feed for the streaming workload")
    s.add_argument("--out", required=True)
    s.add_argument("--log", required=True)
    s.add_argument("--start", type=float, required=True, help="epoch seconds of file 0")
    s.add_argument("--rate", type=float, required=True, help="files per second")
    s.add_argument("--files", type=int, required=True)
    s.add_argument("--events-per-file", type=int, required=True)
    for p in (b, s):
        p.add_argument("--seed", type=int, required=True)
        p.add_argument("--mix", required=True, choices=("skewed", "uniform"))
        p.add_argument("--malformed-share", type=float, required=True)
        p.add_argument("--days", type=int, required=True)
    args = ap.parse_args(argv)
    return _batch_main(args) if args.cmd == "batch" else _stream_main(args)


if __name__ == "__main__":
    sys.exit(main())
