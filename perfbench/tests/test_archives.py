"""The archive generator: byte-identical per seed, and its ground truth
agrees with what the archives hold."""

from __future__ import annotations

import json
import os
import zipfile

import archives


def _files(path):
    return {
        name: open(os.path.join(path, name), "rb").read()
        for name in sorted(os.listdir(path))
    }


def test_same_seed_gives_byte_identical_archives(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    rows_a, truth_a = archives.generate(str(a), 7, 40)
    rows_b, truth_b = archives.generate(str(b), 7, 40)
    archives.generate(str(c), 8, 40)
    assert _files(a) == _files(b)
    assert _files(a) != _files(c)
    assert [r[1:] for r in rows_a] == [r[1:] for r in rows_b]
    assert truth_a == truth_b


def test_truth_matches_archive_contents(tmp_path):
    rows, truth = archives.generate(str(tmp_path), 3, 60, corrupt=2)
    got = archives.Truth()
    got.archives = len(rows)
    for path, *_ in rows:
        try:
            z = zipfile.ZipFile(path)
        except zipfile.BadZipFile:
            got.members += 1
            got.invalid_records += 1
            got.quarantine_rows += 1
            continue
        docs = {n: json.loads(z.read(n)) for n in z.namelist()}
        got.members += len(docs)
        got.member_bytes += sum(len(z.read(n)) for n in z.namelist())
        if not isinstance(docs["taskData.json"]["scores"]["rawScore"], int):
            got.invalid_records += 1
            got.quarantine_rows += 1
            continue
        got.rows["taskdata_v1"] += 1
        got.rows["taskdata_v1_steps"] += len(docs["taskData.json"]["steps"])
        got.rows["motion_v1"] += len(docs["motion.json"])
        if "metadata.json" in docs:
            got.rows["archivemetadata_v1"] += 1
            got.rows["archivemetadata_v1_files"] += len(docs["metadata.json"]["files"])
    assert got == truth
    assert truth.invalid_records >= 2  # the corrupt archives at least
    assert all(n > 0 for n in truth.rows.values())
