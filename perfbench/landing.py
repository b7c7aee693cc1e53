"""Seeded ETL landing generator and the expected-state model.

A landing is a directory of JSON-lines files, one set per hour, whose
modification times fall inside that hour (the ingestor selects files by
mtime). Every byte and every mtime is a pure function of the seed.

The model computes, without running the program, what the warehouse
and the audit tables must hold after `Executor.run` has been called
once per hour: per table the row count, the distinct-key count and a
content hash over canonical row renderings, and the audit rows.
"""
import hashlib
import json
import os
import random
import struct
from datetime import datetime, timedelta, timezone

# IngestorJob.coldStart: the first hour a fresh root fetches.
COLD_START = datetime(2022, 11, 24, 10, 0, 0, tzinfo=timezone.utc)
EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)

NULL = "\\N"
SEP = "\x1f"

# Shares of the generated traffic. Re-sends repeat a line of an
# earlier hour byte for byte; in-file repeats duplicate a line inside
# one file; late events carry an `at` in the previous hour.
RESEND_SHARE = 0.02
INFILE_DUP_SHARE = 0.01
LATE_SHARE = 0.05
MALFORMED_SHARE = 0.001
OPERATING_PERIOD_SHARE = 0.15
PADDED_ORG_SHARE = 0.02


class Sizing:
    def __init__(self, hours, events_per_hour, files_per_hour):
        self.hours = hours
        self.events_per_hour = events_per_hour
        self.files_per_hour = files_per_hour


def hour_start(h):
    return COLD_START + timedelta(hours=h)


def micros(dt):
    delta = dt - EPOCH
    return (delta.days * 86400 + delta.seconds) * 1_000_000 + delta.microseconds


def _wall(dt, sep):
    return "%04d-%02d-%02d%s%02d:%02d:%02d" % (
        dt.year, dt.month, dt.day, sep, dt.hour, dt.minute, dt.second)


def iso(dt):
    """JSON timestamp: whole seconds without a fraction, else millis."""
    if dt.microsecond == 0:
        return _wall(dt, "T") + "Z"
    return _wall(dt, "T") + ".%03dZ" % (dt.microsecond // 1000)


def key_render(dt):
    """KeyGen's pandas-str rendering of a timestamp key column."""
    if dt.microsecond == 0:
        return _wall(dt, " ")
    return _wall(dt, " ") + ".%06d" % dt.microsecond


def generated_id(*rendered):
    h = hashlib.sha256("".join(rendered).encode()).hexdigest()
    return "-".join((h[0:8], h[8:12], h[12:16], h[16:20], h[20:32]))


def double_bits(x):
    return "%016x" % struct.unpack(">Q", struct.pack(">d", x))[0]


def _uuid(rng):
    return "%08x-%04x-4%03x-%04x-%012x" % (
        rng.getrandbits(32), rng.getrandbits(16), rng.getrandbits(12),
        0x8000 | rng.getrandbits(14), rng.getrandbits(48))


def _instant(rng, start):
    """A time inside [start, start+1h): half whole seconds, half millis."""
    secs = rng.randrange(3600)
    ms = 0 if rng.random() < 0.5 else rng.randrange(1, 1000)
    return start + timedelta(seconds=secs, milliseconds=ms)


class Event:
    """One generated event and the line that carries it."""
    __slots__ = ("entity", "key", "fields", "line")

    def __init__(self, entity, key, fields, line):
        self.entity, self.key, self.fields, self.line = entity, key, fields, line


def _org(rng, orgs):
    org = rng.choice(orgs)
    return "  %s " % org if rng.random() < PADDED_ORG_SHARE else org


def _vehicle_event(rng, vehicles, orgs, at):
    vid = rng.choice(vehicles)
    r = rng.random()
    op = "register" if r < 0.05 else "deregister" if r < 0.10 else "update"
    org = _org(rng, orgs)
    data = {"id": vid}
    lat = lng = loc_at = None
    if op == "update":
        lat = round(rng.uniform(52.3, 52.7), 6)
        lng = round(rng.uniform(13.1, 13.7), 6)
        loc_at = at - timedelta(seconds=rng.randrange(5))
        data["location"] = {"lat": lat, "lng": lng, "at": iso(loc_at)}
    obj = {"event": op, "on": "vehicle", "at": iso(at), "data": data,
           "organization_id": org}
    fields = {
        "vehicle_id": vid,
        "event_timestamp": at,
        "event_operation": op,
        "organization_id": org.strip(" "),
        "vehicle_latitude": lat,
        "vehicle_longitude": lng,
        "vehicle_location_timestamp": loc_at,
    }
    return Event("vehicle", (vid, at), fields, json.dumps(obj, separators=(",", ":")))


def _period_event(rng, periods, orgs, at):
    pid = rng.choice(periods)
    op = "create" if rng.random() < 0.7 else "delete"
    org = _org(rng, orgs)
    start = at.replace(minute=0, second=0, microsecond=0) - timedelta(hours=rng.randrange(1, 4))
    finish = start + timedelta(hours=rng.randrange(4, 13))
    obj = {"event": op, "on": "operating_period", "at": iso(at),
           "data": {"id": pid, "start": iso(start), "finish": iso(finish)},
           "organization_id": org}
    fields = {
        "operating_period_id": pid,
        "event_timestamp": at,
        "event_operation": op,
        "organization_id": org.strip(" "),
        "operation_start": start,
        "operation_finish": finish,
    }
    return Event("operating_period", (pid, at), fields,
                 json.dumps(obj, separators=(",", ":")))


def _malformed(rng, good_line):
    cut = rng.randrange(5, max(6, len(good_line) // 2))
    return good_line[:cut]


class Landing:
    """The generated hours: per hour, a list of files, each a list of
    (line, event-or-None) pairs."""

    def __init__(self, seed, sizing):
        self.seed, self.sizing = seed, sizing
        rng = random.Random("landing:%d" % seed)
        n_vehicles = max(8, sizing.events_per_hour // 20)
        self.vehicles = [_uuid(rng) for _ in range(n_vehicles)]
        self.periods = ["op_%d" % rng.randrange(10 ** 9) for _ in range(max(4, n_vehicles // 4))]
        self.orgs = ["org-%d" % i for i in range(7)]
        self.hours = []
        used = set()
        history = []  # good events of earlier hours, for re-sends
        for h in range(sizing.hours):
            self.hours.append(self._hour(rng, h, used, history))
            history.extend(ev for f in self.hours[-1] for _, ev in f if ev is not None)

    def _hour(self, rng, h, used, history):
        s = self.sizing
        start = hour_start(h)
        n = s.events_per_hour
        events = []
        while len(events) < n:
            late = rng.random() < LATE_SHARE
            at = _instant(rng, start - timedelta(hours=1) if late else start)
            if rng.random() < OPERATING_PERIOD_SHARE:
                ev = _period_event(rng, self.periods, self.orgs, at)
            else:
                ev = _vehicle_event(rng, self.vehicles, self.orgs, at)
            if (ev.entity, ev.key) in used:
                continue
            used.add((ev.entity, ev.key))
            events.append(ev)
        resends = [rng.choice(history) for _ in range(int(n * RESEND_SHARE))] if history else []
        # a re-sent key appears at most once per hour
        seen = set()
        resends = [e for e in resends if not ((e.entity, e.key) in seen or seen.add((e.entity, e.key)))]
        lines = [(ev.line, ev) for ev in events + resends]
        rng.shuffle(lines)
        files = [lines[i::s.files_per_hour] for i in range(s.files_per_hour)]
        for f in files:
            for _ in range(int(len(f) * INFILE_DUP_SHARE)):
                f.insert(rng.randrange(len(f) + 1), rng.choice(f))
        n_bad = max(1, int(round(n * MALFORMED_SHARE)))
        for _ in range(n_bad):
            f = rng.choice(files)
            f.insert(rng.randrange(len(f) + 1), (_malformed(rng, rng.choice(f)[0]), None))
        return files

    @staticmethod
    def file_name(h, i):
        return "h%03d_f%02d.json" % (h, i)

    @staticmethod
    def mtime(h, i):
        """Seconds since the epoch, inside hour h."""
        return micros(hour_start(h) + timedelta(seconds=300 + 10 * i)) // 1_000_000

    def write(self, directory):
        os.makedirs(directory, exist_ok=True)
        for h, files in enumerate(self.hours):
            for i, lines in enumerate(files):
                path = os.path.join(directory, self.file_name(h, i))
                with open(path, "w", encoding="utf-8", newline="\n") as out:
                    out.write("\n".join(line for line, _ in lines))
                    out.write("\n")
                t = self.mtime(h, i)
                os.utime(path, (t, t))

    @property
    def lines(self):
        """Input lines, malformed and repeated ones included."""
        return sum(len(f) for files in self.hours for f in files)


# -- expected state ------------------------------------------------------

TABLES = {"vehicle": "vehicle_location", "operating_period": "operating_periods"}


def _render(v):
    if v is None:
        return NULL
    if isinstance(v, datetime):
        return str(micros(v))
    if isinstance(v, float):
        return double_bits(v)
    return str(v)


def canonical_row(fields):
    """Column-name-sorted rendering shared with the JVM side."""
    return SEP.join("%s=%s" % (k, _render(fields[k])) for k in sorted(fields))


def row_hash(fields):
    """First 8 bytes of the SHA-256 of the canonical row; summed over a
    table modulo 2^64, it is a hash that ignores row order."""
    return int(hashlib.sha256(canonical_row(fields).encode()).hexdigest()[:16], 16)


def expected_state(landing):
    """Warehouse and audit state after one Executor.run per hour."""
    final = {t: {} for t in TABLES.values()}
    ingestor, handler = [], []
    for h, files in enumerate(landing.hours):
        batch = {e: set() for e in TABLES}
        for i, lines in enumerate(files):
            name = Landing.file_name(h, i)
            for _, ev in lines:
                if ev is None:
                    continue
                batch[ev.entity].add(ev.key)
                row = dict(ev.fields)
                row["original_s3_file_path"] = name
                k0, at = ev.key
                row["event_generated_id"] = generated_id(k0.strip(" "), key_render(at))
                # incoming wins per key: a later hour overwrites
                final[TABLES[ev.entity]][ev.key] = row
        hour_s = micros(hour_start(h)) // 1_000_000
        ingestor.append([hour_s, len(files), False])
        for entity, table in TABLES.items():
            handler.append([hour_s, table, len(batch[entity]), False])
    tables = {}
    for table, rows in final.items():
        tables[table] = {
            "rows": len(rows),
            "distinct_keys": len({r["event_generated_id"] for r in rows.values()}),
            "hash": "%016x" % (sum(row_hash(r) for r in rows.values()) % (1 << 64)),
        }
    return {"tables": tables, "ingestor": sorted(ingestor), "handler": sorted(handler)}
