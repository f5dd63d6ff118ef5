"""The one reuse rule for on-disk artifacts (cdstore_spark/artifacts.py)
and the snapshot fingerprint's input identity."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from cdstore_spark.artifacts import publish, reusable

IDENT = {"n": 60, "seed": 7, "cfg": {"k": 128, "tol": 0.015}}


class TestReuseRule:
    def test_missing_marker_rebuilds(self, tmp_path):
        assert reusable(str(tmp_path / "_DONE.json"), IDENT) is None

    def test_corrupt_marker_rebuilds(self, tmp_path):
        marker = tmp_path / "_DONE.json"
        marker.write_text('{"n": 60, "seed"')
        assert reusable(str(marker), IDENT) is None
        marker.write_text("[60, 7]")
        assert reusable(str(marker), IDENT) is None

    def test_other_identity_rebuilds(self, tmp_path):
        marker = str(tmp_path / "_DONE.json")
        publish(marker, dict(IDENT, seed=8))
        assert reusable(marker, IDENT) is None
        publish(marker, {"n": 60, "cfg": IDENT["cfg"]})   # key missing
        assert reusable(marker, IDENT) is None

    def test_identity_plus_metadata_reuses(self, tmp_path):
        marker = str(tmp_path / "_DONE.json")
        publish(marker, dict(IDENT, recall=1.0, writer="spark"))
        rec = reusable(marker, IDENT)
        assert rec is not None
        assert rec["recall"] == 1.0 and rec["writer"] == "spark"
        # tuples compare as the lists a JSON round trip gives back
        publish(marker, {"bounds": (2, 16)})
        assert reusable(marker, {"bounds": (2, 16)}) is not None

    def test_publish_leaves_no_tmp_file(self, tmp_path):
        marker = str(tmp_path / "_DONE.json")
        publish(marker, IDENT)
        publish(marker, dict(IDENT, n=61))
        assert os.listdir(tmp_path) == ["_DONE.json"]
        assert reusable(marker, dict(IDENT, n=61)) is not None


class TestStageFingerprint:
    @pytest.mark.parametrize("layout", ["file", "directory"])
    def test_changes_when_input_rewritten_in_place(self, tmp_path, layout):
        from cdstore_spark.config import DEFAULT
        from cdstore_spark.engine.pipeline import stage_fingerprint
        path = str(tmp_path / "clips.parquet")
        target = path
        if layout == "directory":
            os.mkdir(path)
            target = os.path.join(path, "part-00000.parquet")
        pq.write_table(pa.table({"clip_id": ["a", "b"]}), target)
        fp1 = stage_fingerprint(DEFAULT, 4, path)
        assert stage_fingerprint(DEFAULT, 4, path) == fp1
        pq.write_table(pa.table({"clip_id": ["a", "b", "c"]}), target)
        assert stage_fingerprint(DEFAULT, 4, path) != fp1
