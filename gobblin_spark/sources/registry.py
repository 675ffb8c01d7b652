"""Schema registry: versioned schema lookup for envelope decoding and
in-flight schema evolution.

Reference mapping (all relative to /root/reference/):
- KafkaSchemaRegistry (gobblin-modules/gobblin-kafka-common/.../
  schemareg/KafkaSchemaRegistry.java): id→schema lookup used by
  envelope converters; register returns the id for a schema.
- SchemaRegistryVersionWriter: stamps the schema id into the payload
  envelope so readers resolve the exact writer schema.
- EnvelopeSchemaConverter (gobblin-modules/gobblin-kafka-common/.../
  EnvelopePayloadConverter.java): looks up the payload schema by the
  envelope's ``schema_id`` field before decode.

Implementation: a filesystem-backed registry (one JSON file per
version under ``<root>/<subject>/``) on a POSIX path — registry
lookups are driver-side plan-building metadata, so a shared mount
(NFS, object-store FUSE) suffices; a registry that must live on
hdfs:// would follow the WatermarkStore's Hadoop-FS pattern. The
HTTP-backed registry (Confluent-style) is the same interface with a
different transport; it needs a network endpoint and is therefore
left to deployment.

Schema ids are content hashes (md5 of the canonical JSON), so
re-registering an identical schema is idempotent and ids are stable
across registries — exactly how the reference's
``register(schema) → id`` behaves for deduplicating registrations.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from pyspark.sql import types as T

from gobblin_spark import schema as _schema
from gobblin_spark.claim import claim


def schema_id(avro_schema: dict | str) -> str:
    """Stable content-hash id for a schema (md5 of canonical JSON)."""
    if isinstance(avro_schema, str):
        avro_schema = json.loads(avro_schema)
    canon = json.dumps(avro_schema, sort_keys=True, separators=(",", ":"))
    return hashlib.md5(canon.encode()).hexdigest()


class FileSchemaRegistry:
    """Filesystem-backed subject → versioned schemas registry."""

    # How long a TORN version file is presumed to be another
    # O_EXCL-fallback claimant mid-write (grace: rescan) rather than a
    # crashed claim (treat as never-happened). Wall-time, via the torn
    # file's mtime — independent of scan speed and of whether newer
    # claims landed above it (review r13 pass 6).
    TORN_GRACE_SEC = 1.0

    def __init__(self, root: str):
        self.root = root.rstrip("/")

    def _subject_dir(self, subject: str) -> str:
        return os.path.join(self.root, subject)

    def _versions(self, subject: str) -> list[tuple[int, str]]:
        d = self._subject_dir(subject)
        if not os.path.isdir(d):
            return []
        out = []
        for name in os.listdir(d):
            if name.startswith("v") and name.endswith(".json"):
                out.append((int(name[1:-5].split("-")[0]), os.path.join(d, name)))
        out.sort()
        # Collapse same-version ties to ONE winner per version. An
        # atomic-claim canonical name (vNNNNNN.json) wins outright: it
        # genuinely won a link(2)/O_EXCL race, while a same-version
        # legacy suffixed file is a rolling-upgrade racer that never
        # saw the claim (review r13 — '-' sorts before '.', so the old
        # smallest-path rule would silently shadow a registration that
        # already returned success). Legacy-only ties (pre-atomic
        # residue) keep the historical smallest-path rule.
        by_v: dict[int, list[str]] = {}
        for v, path in out:
            by_v.setdefault(v, []).append(path)
        collapsed: list[tuple[int, str]] = []
        for v in sorted(by_v):
            paths = by_v[v]
            canonical = os.path.join(d, f"v{v:06d}.json")
            # ...but only a PARSEABLE canonical: a torn one is a
            # crashed O_EXCL-fallback writer whose claim never
            # logically happened — it must not shadow an intact legacy
            # record at the same version (review r13 pass 2)
            if (len(paths) > 1 and canonical in paths
                    and self._load(canonical) is None):
                paths = [p for p in paths if p != canonical]
            collapsed.append(
                (v, canonical if canonical in paths else min(paths)))
        return collapsed

    @staticmethod
    def _age_sec(path: str) -> float:
        """Age of a version file by mtime; a vanished file (a legacy
        racer removing its lost claim) counts as infinitely old."""
        try:
            return max(0.0, time.time() - os.stat(path).st_mtime)
        except FileNotFoundError:
            return float("inf")

    @staticmethod
    def _load(path: str) -> dict | None:
        """Parse a version file; None when torn (a writer crashed
        mid-claim on a filesystem without atomic link — the version
        number is burned, the registration never logically happened)
        or vanished (a legacy racer removing its lost claim). Real IO
        failures PROPAGATE — masking EACCES or a network-FS fault as
        'schema never registered' would fail decodes with the wrong
        error and silently skip the compat gate (review r13 pass 2)."""
        try:
            with open(path) as f:
                return json.load(f)
        except (ValueError, FileNotFoundError):
            return None

    def register(self, subject: str, avro_schema: dict | str,
                 check_compat: bool = True) -> str:
        """Register a schema version; returns its content-hash id.
        Identical schemas are idempotent (same id, no new version).
        ``check_compat``: the new schema must be able to READ data
        written with the current latest (backward compatibility — the
        registry-enforced evolution rule)."""
        if isinstance(avro_schema, str):
            avro_schema = json.loads(avro_schema)
        sid = schema_id(avro_schema)
        lost = 0
        while lost < 16:
            # Re-scan EVERY attempt: a racer may have just registered
            # this exact schema (the idempotent fast path must see it)
            # or advanced latest (the compat check must run against the
            # schema we will actually succeed after).
            versions = self._versions(subject)
            recs = {path: self._load(path) for _, path in versions}
            # A YOUNG torn entry (ANY version, not just the top — a
            # newer claim may already have landed above a still-mid-
            # write racer) is presumed to be an O_EXCL-fallback racer
            # inside its create->write window: treating it as
            # never-happened right away would skip the compat gate
            # against (or duplicate the sid of) a registration that
            # completes an instant later. Grace = wall time on the torn
            # file's mtime, so it is independent of how fast our scans
            # run; a crashed claim ages past TORN_GRACE_SEC once and is
            # then treated as dead forever, so progress holds (reviews
            # r13 passes 5-6). Grace rescans do not consume claim
            # attempts — the 16-attempt budget counts genuine lost
            # version races only.
            if any(recs[path] is None
                   and self._age_sec(path) < self.TORN_GRACE_SEC
                   for _, path in versions):
                time.sleep(0.05)
                continue
            for _, path in versions:
                if recs[path] is not None and recs[path]["id"] == sid:
                    return sid  # already registered
            latest_rec = next(
                (recs[path] for _, path in reversed(versions)
                 if recs[path] is not None), None)
            if check_compat and latest_rec is not None:
                new_t = _schema.avro_to_struct(avro_schema)
                old_t = _schema.avro_to_struct(latest_rec["schema"])
                if not _schema.is_compatible(new_t, old_t):
                    raise ValueError(
                        f"schema for {subject} is not backward-compatible "
                        "with the latest registered version"
                    )
            v = (versions[-1][0] + 1) if versions else 1
            payload = {"id": sid, "version": v, "subject": subject,
                       "schema": avro_schema}
            # Single-winner claim of the canonical per-version name
            # (gobblin_spark.claim): exactly one writer can ever own a
            # version, and readers never see a torn payload except from
            # a crashed O_EXCL-fallback claim, which _load() skips (the
            # burned version number keeps allocation moving). RESIDUAL
            # of that fallback: a racer whose create->write gap exceeds
            # TORN_GRACE_SEC is treated as crashed, so a registration
            # racing it can skip the compat check against (or
            # re-register the sid of) its eventually-landing schema.
            path = os.path.join(self._subject_dir(subject),
                                f"v{v:06d}.json")
            if claim(path, json.dumps(payload).encode()):
                return sid
            lost += 1  # lost this version — retry at the next one
        raise RuntimeError(
            f"schema registration for {subject!r} lost the version "
            "race 16 times — registry under pathological contention")

    def by_id(self, sid: str) -> dict | None:
        """Exact writer schema for an envelope's schema_id."""
        for subject in (os.listdir(self.root) if os.path.isdir(self.root) else []):
            for _, path in self._versions(subject):
                rec = self._load(path)
                if rec is not None and rec["id"] == sid:
                    return rec["schema"]
        return None

    def latest(self, subject: str) -> dict | None:
        """Newest PARSEABLE version's schema (a torn top entry is a
        crashed writer's claim that never logically happened)."""
        for _, path in reversed(self._versions(subject)):
            rec = self._load(path)
            if rec is not None:
                return rec["schema"]
        return None

    def latest_struct(self, subject: str) -> T.DataType | None:
        latest = self.latest(subject)
        return None if latest is None else _schema.avro_to_struct(latest)

    def history(self, subject: str) -> list[dict]:
        recs = (self._load(p) for _, p in self._versions(subject))
        return [r["schema"] for r in recs if r is not None]
