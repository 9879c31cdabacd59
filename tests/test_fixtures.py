"""The one ``.fixtures`` materialiser (``sources.fixtures``): its rebuild
rule, driven through a throwaway fixture with no Spark session."""

from __future__ import annotations

import json
import os
from pathlib import Path

import pytest

from firebird_mapreduce_spark.sources import fixtures


def _shape_v1(x):
    return x


def _shape_v2(x):
    return x + 1


def _plant_stale(out, sf):
    (out / "c.dat").write_bytes(b"stale")
    return {}


def _drop_file(out, sf):
    os.remove(out / "a.dat")
    return {}


def _rewrite_corpus(out, sf):
    (sf / "documents.parquet").write_bytes(b"regenerated corpus")
    return {}


# name -> (what changes between the first and the second call, the files the
# second call writes, the suffix files left afterwards)
CASES = {
    "unchanged": (lambda out, sf: {}, [], ["a.dat", "b.dat"]),
    "stale_file_pruned": (_plant_stale, ["a.dat", "b.dat"], ["a.dat", "b.dat"]),
    "missing_file": (_drop_file, ["a.dat", "b.dat"], ["a.dat", "b.dat"]),
    "spec_changed": (lambda out, sf: {"spec": 2}, ["a.dat", "b.dat"], ["a.dat", "b.dat"]),
    "corpus_tag_changed": (_rewrite_corpus, ["a.dat", "b.dat"], ["a.dat", "b.dat"]),
    "code_changed": (
        lambda out, sf: {"code": (_shape_v2,)},
        ["a.dat", "b.dat"],
        ["a.dat", "b.dat"],
    ),
    "file_set_shrinks": (lambda out, sf: {"files": ("a.dat",)}, ["a.dat"], ["a.dat"]),
}


@pytest.mark.parametrize("case", CASES)
def test_materialise_rebuild_rule(tmp_path, monkeypatch, case):
    change, rewritten, left = CASES[case]
    monkeypatch.setattr(fixtures, "ROOT", str(tmp_path / "fx"))
    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "documents.parquet").write_bytes(b"corpus")
    written = []

    def build(files=("a.dat", "b.dat"), spec=1, code=(_shape_v1,)):
        def write(out_dir):
            for f in files:
                written.append(f)
                with open(os.path.join(out_dir, f), "w") as fh:
                    fh.write(f)

        return fixtures.materialise(
            "t", (str(sf),), ".dat", files, write,
            spec=spec, code=code, corpus=(str(sf), "documents"),
        )

    out = build()
    assert written == ["a.dat", "b.dat"]
    written.clear()
    kwargs = change(Path(out), sf)
    assert build(**kwargs) == out
    assert written == rewritten
    assert sorted(f for f in os.listdir(out) if f.endswith(".dat")) == left
    with open(os.path.join(out, "_marker.json")) as fh:
        assert set(json.load(fh)) == {"sig"}


def test_materialise_refuses_an_incomplete_writer(tmp_path, monkeypatch):
    """A writer that leaves an expected file unwritten gets no marker."""
    monkeypatch.setattr(fixtures, "ROOT", str(tmp_path))

    def write(out_dir):
        with open(os.path.join(out_dir, "a.dat"), "w") as fh:
            fh.write("a")

    with pytest.raises(RuntimeError):
        fixtures.materialise("t", (), ".dat", ["a.dat", "b.dat"], write, spec=1)
    assert not os.path.exists(os.path.join(fixtures.fixture_path("t"), "_marker.json"))
