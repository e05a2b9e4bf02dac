"""Seeded study-archive generator with ground truth.

One archive is one study record: a zip holding a nested ``taskData.json``
(struct + array<struct>, so stage 2 relationalizes it into a parent and a
child table), a list-body ``motion.json`` and, for some records, a
``metadata.json`` that names ``taskData.json``'s schema itself (the
self-reference scope of schema resolution). A few records carry a
schema-invalid ``taskData.json`` and a few archives are not zips at all.

Everything is drawn from ``random.Random(seed)`` and zip entries carry a
fixed timestamp, so one seed always gives byte-identical archives. The
generator also returns what the lake must hold after ingesting them.
"""

from __future__ import annotations

import io
import json
import os
import random
import zipfile
from dataclasses import dataclass, field

ASSESSMENTS = ("flanker", "spelling", "memory")
DAYS = ("2024-03-04", "2024-03-05", "2024-03-06")
_ZIP_TIME = (2024, 1, 1, 0, 0, 0)
_URL = "https://schemas.example.org/"

TASKDATA_SCHEMA = {
    "$id": "schemas/v1/TaskData",
    "type": "object",
    "required": ["taskRunUUID", "scores", "steps"],
    "properties": {
        "taskRunUUID": {"type": "string"},
        "scores": {
            "type": "object",
            "required": ["rawScore"],
            "properties": {
                "rawScore": {"type": "integer"},
                "scaledScore": {"type": "number"},
            },
        },
        "steps": {
            "type": "array",
            "items": {
                "type": "object",
                "required": ["identifier", "value"],
                "properties": {
                    "identifier": {"type": "string"},
                    "value": {"type": "integer"},
                    "durationMs": {"type": "integer"},
                },
            },
        },
    },
}
MOTION_SCHEMA = {
    "$id": "schemas/v1/MotionRecord",
    "type": "array",
    "items": {
        "type": "object",
        "required": ["timestamp", "sensorType", "x", "y", "z"],
        "properties": {
            "timestamp": {"type": "number"},
            "sensorType": {"enum": ["accelerometer", "gyro", "magnetometer"]},
            "x": {"type": "number"},
            "y": {"type": "number"},
            "z": {"type": "number"},
        },
    },
}
METADATA_SCHEMA = {
    "$id": "schemas/v1/ArchiveMetadata",
    "type": "object",
    "required": ["appName", "files"],
    "properties": {
        "appName": {"type": "string"},
        "appVersion": {"type": "string"},
        "files": {
            "type": "array",
            "items": {
                "type": "object",
                "properties": {
                    "filename": {"type": "string"},
                    "jsonSchema": {"type": "string"},
                },
            },
        },
    },
}

#: schema URL -> schema; ``taskdata-selfref`` is only reachable through an
#: archive's own metadata.json
SCHEMA_STORE = {
    _URL + "taskdata": TASKDATA_SCHEMA,
    _URL + "taskdata-selfref": TASKDATA_SCHEMA,
    _URL + "motion": MOTION_SCHEMA,
    _URL + "metadata": METADATA_SCHEMA,
}
SCHEMA_MAPPING = {
    "schemas/v1/TaskData": "taskdata_v1",
    "schemas/v1/MotionRecord": "motion_v1",
    "schemas/v1/ArchiveMetadata": "archivemetadata_v1",
}
ARCHIVE_MAP = {
    "assessments": [
        {
            "assessmentIdentifier": a,
            "assessmentRevision": 1,
            "files": [
                {"filename": "taskData.json", "jsonSchema": _URL + "taskdata"},
                {"filename": "motion.json", "jsonSchema": _URL + "motion"},
                {"filename": "metadata.json", "jsonSchema": _URL + "metadata"},
            ],
        }
        for a in ASSESSMENTS
    ],
    "apps": [],
    "anyOf": [],
}
REGISTRY_DOC = {
    "tables": {
        "taskdata_v1": {
            "columns": [
                {"Name": "taskRunUUID", "Type": "string"},
                {"Name": "scores", "Type": "struct<rawScore:bigint,scaledScore:double>"},
                {
                    "Name": "steps",
                    "Type": "array<struct<identifier:string,value:bigint,durationMs:bigint>>",
                },
                {"Name": "recordid", "Type": "string"},
            ]
        },
        "motion_v1": {
            "columns": [
                {"Name": "timestamp", "Type": "double"},
                {"Name": "sensorType", "Type": "string"},
                {"Name": "x", "Type": "double"},
                {"Name": "y", "Type": "double"},
                {"Name": "z", "Type": "double"},
                {"Name": "recordid", "Type": "string"},
            ]
        },
        "archivemetadata_v1": {
            "columns": [
                {"Name": "appName", "Type": "string"},
                {"Name": "appVersion", "Type": "string"},
                {"Name": "files", "Type": "array<struct<filename:string,jsonSchema:string>>"},
                {"Name": "recordid", "Type": "string"},
                {"Name": "clientinfo", "Type": "string"},
            ]
        },
    }
}
#: every parquet table the registry relationalizes into
TABLES = (
    "taskdata_v1",
    "taskdata_v1_steps",
    "motion_v1",
    "archivemetadata_v1",
    "archivemetadata_v1_files",
)
MANIFEST_DDL = (
    "path string, recordid string, assessmentid string, "
    "assessmentrevision string, uploadedon string, clientinfo string"
)


@dataclass
class Truth:
    """What the lake must hold after ingesting a batch of archives."""

    archives: int = 0
    members: int = 0  # archive members seen, valid + quarantined
    member_bytes: int = 0  # uncompressed member bytes
    invalid_records: int = 0
    quarantine_rows: int = 0
    rows: dict[str, int] = field(default_factory=lambda: dict.fromkeys(TABLES, 0))

    def add(self, other: "Truth") -> None:
        self.archives += other.archives
        self.members += other.members
        self.member_bytes += other.member_bytes
        self.invalid_records += other.invalid_records
        self.quarantine_rows += other.quarantine_rows
        for t, n in other.rows.items():
            self.rows[t] += n


def _zip_bytes(members: dict[str, bytes]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        for name, body in members.items():
            info = zipfile.ZipInfo(name, date_time=_ZIP_TIME)
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, body)
    return buf.getvalue()


def _record(rng: random.Random, motion_samples: int) -> tuple[dict, bool, bool]:
    """One record's members, whether it is schema-invalid, and whether it
    carries metadata.json."""
    steps = [
        {
            "identifier": f"step{j}",
            "value": rng.randrange(100),
            "durationMs": rng.randrange(50, 5000),
        }
        for j in range(rng.randrange(3, 12))
    ]
    invalid = rng.random() < 0.03
    task = {
        "taskRunUUID": f"{rng.getrandbits(64):016x}",
        "scores": {
            # a string score is the schema violation of an invalid record
            "rawScore": "n/a" if invalid else rng.randrange(1000),
            "scaledScore": round(rng.random() * 100, 3),
        },
        "steps": steps,
    }
    n = motion_samples + rng.randrange(-20, 21)
    t0 = rng.random() * 1000
    motion = [
        {
            "timestamp": round(t0 + i * 0.01, 3),
            "sensorType": rng.choice(("accelerometer", "gyro", "magnetometer")),
            "x": round(rng.gauss(0, 1), 5),
            "y": round(rng.gauss(0, 1), 5),
            "z": round(rng.gauss(0, 1), 5),
        }
        for i in range(n)
    ]
    members = {"taskData.json": task, "motion.json": motion}
    has_meta = rng.random() < 0.3
    if has_meta:
        members["metadata.json"] = {
            "appName": "mobile-toolbox",
            "appVersion": f"1.{rng.randrange(10)}",
            "files": [
                {"filename": "taskData.json", "jsonSchema": _URL + "taskdata-selfref"},
                {"filename": "motion.json"},
            ],
        }
    return members, invalid, has_meta


def generate(
    out_dir: str,
    seed: int,
    n_archives: int,
    start: int = 0,
    motion_samples: int = 200,
    corrupt: int = 2,
) -> tuple[list[tuple], Truth]:
    """Write archives ``start .. start+n_archives-1`` into ``out_dir``.

    Returns the manifest rows (see :data:`MANIFEST_DDL`) and the ground
    truth for this batch, which depends only on the arguments. ``corrupt``
    archives of the batch are not zips.
    """
    os.makedirs(out_dir, exist_ok=True)
    truth = Truth()
    rows = []
    corrupt_at = set(random.Random(f"{seed}:corrupt:{start}").sample(range(n_archives), corrupt))
    for k in range(n_archives):
        i = start + k
        rng = random.Random(f"{seed}:{i}")
        rid = f"rec{i:06d}"
        aid = ASSESSMENTS[rng.randrange(len(ASSESSMENTS))]
        uploaded = f"{rng.choice(DAYS)}T{rng.randrange(24):02d}:{rng.randrange(60):02d}:00.000Z"
        client = rng.choice(("iPhone 13; iOS 17", "Android 14; Pixel 8"))
        members, invalid, has_meta = _record(rng, motion_samples)
        path = os.path.join(out_dir, f"{rid}.zip")
        truth.archives += 1
        if k in corrupt_at:
            body = b"not a zip archive " + rid.encode()
            truth.members += 1
            truth.invalid_records += 1
            truth.quarantine_rows += 1
        else:
            encoded = {
                name: json.dumps(doc, separators=(",", ":")).encode()
                for name, doc in members.items()
            }
            body = _zip_bytes(encoded)
            truth.members += len(encoded)
            truth.member_bytes += sum(len(b) for b in encoded.values())
            if invalid:
                truth.invalid_records += 1
                truth.quarantine_rows += 1  # only taskData.json has errors
            else:
                truth.rows["taskdata_v1"] += 1
                truth.rows["taskdata_v1_steps"] += len(members["taskData.json"]["steps"])
                truth.rows["motion_v1"] += len(members["motion.json"])
                if has_meta:
                    truth.rows["archivemetadata_v1"] += 1
                    truth.rows["archivemetadata_v1_files"] += len(
                        members["metadata.json"]["files"]
                    )
        with open(path, "wb") as f:
            f.write(body)
        rows.append((path, rid, aid, "1", uploaded, client))
    return rows, truth
