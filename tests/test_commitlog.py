"""The streaming sinks' commit record (streaming/commitlog.py): one
small JSON record per target, ``{"batch_id": N, "degen": [...]}``,
committed as the next generation of ``target/_commit`` through
``fs.commit_generation``. A missing record means nothing is committed;
a malformed one raises instead of silently replaying. These are
driver-side unit tests — no SparkSession needed for plain local
paths."""

from __future__ import annotations

import os

import pytest

from nursinghome_data_pipeline_spark import fs
from nursinghome_data_pipeline_spark.streaming import commitlog


def test_markers_round_trip(tmp_path):
    target = str(tmp_path / "tgt")
    os.makedirs(target)
    assert commitlog.read_record(target) == {"batch_id": -1, "degen": []}
    commitlog.commit_record(target, 0)
    assert commitlog.read_record(target) == {"batch_id": 0, "degen": []}
    commitlog.commit_record(target, 1, {"b" * 32, "a" * 32})
    assert commitlog.read_record(target) == {
        "batch_id": 1,
        "degen": ["a" * 32, "b" * 32],
    }
    # every commit is a generation flip: one generation and its
    # pointer remain, beside data/ rather than inside it
    rdir = os.path.join(target, commitlog.RECORD_DIR)
    gen = os.path.basename(fs.active_data_root(rdir))
    assert sorted(os.listdir(rdir)) == [gen, gen + fs.GEN_PTR_SUFFIX]
    assert os.listdir(os.path.join(rdir, gen)) == [commitlog.RECORD_FILE]


def test_foreign_files_in_marker_dir_ignored(tmp_path):
    """A foreign file in the record directory is neither read as a
    record nor collected by the next commit."""
    target = str(tmp_path / "tgt")
    rdir = os.path.join(target, commitlog.RECORD_DIR)
    os.makedirs(rdir)
    with open(os.path.join(rdir, ".DS_Store"), "w") as f:
        f.write("junk")
    assert commitlog.read_record(target)["batch_id"] == -1
    commitlog.commit_record(target, 7)
    commitlog.commit_record(target, 8)
    assert commitlog.read_record(target)["batch_id"] == 8
    assert ".DS_Store" in os.listdir(rdir)


@pytest.mark.parametrize(
    "text", ["", "{", "[7]", '{"batch_id": "x", "degen": []}', '{"degen": []}']
)
def test_malformed_record_raises_named_error(tmp_path, text):
    target = str(tmp_path / "tgt")
    commitlog.commit_record(target, 3)
    path = os.path.join(
        fs.active_data_root(os.path.join(target, commitlog.RECORD_DIR)),
        commitlog.RECORD_FILE,
    )
    with open(path, "w") as f:
        f.write(text)
    with pytest.raises(ValueError, match="malformed commit record") as e:
        commitlog.read_record(target)
    assert path in str(e.value)
