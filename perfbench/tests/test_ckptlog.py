import os
import shutil

import pytest

from perfbench import ckptlog

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "ckpt")


@pytest.fixture
def ckpt(tmp_path):
    """The fixture log, with commit times set to batch id + 100 s."""
    d = str(tmp_path / "ckpt")
    shutil.copytree(FIXTURE, d)
    for name in os.listdir(os.path.join(d, "commits")):
        t = 100.0 + int(name)
        os.utime(os.path.join(d, "commits", name), (t, t))
    return d


def test_file_batches_reads_compact_and_plain_logs(ckpt):
    batches = ckptlog.file_batches(ckpt)
    # 9.compact repeats batches 0-9 (and "8" repeats batch 8); 10 and 11
    # are plain; the hidden .12.tmp is a partial write and is ignored.
    assert len(batches) == 13
    assert batches["00003.parquet"] == batches["00004.parquet"] == 3
    assert batches["00009.parquet"] == 8
    assert batches["00012.parquet"] == 11
    assert "00099.parquet" not in batches


def test_file_lags_use_the_commit_of_the_reading_batch(ckpt):
    due = {f"{i:05d}.parquet": 100.0 + i - 0.5 for i in range(13)}
    lags = ckptlog.file_lags(ckpt, due)
    assert lags["00000.parquet"] == pytest.approx(0.5)
    assert lags["00004.parquet"] == pytest.approx(103.0 - 103.5)
    assert lags["00011.parquet"] == pytest.approx(110.0 - 110.5)
    assert "00012.parquet" not in lags      # batch 11 never committed


def test_backlog_max_counts_landed_but_uncommitted_files(ckpt):
    # all thirteen files land at t=99: none committed yet
    landed = {f"{i:05d}.parquet": 99.0 for i in range(13)}
    assert ckptlog.backlog_max(landed, ckpt) == 13
    # each file lands just before its batch commits: one waits at a time,
    # two while batch 3 (which read two files) is open
    landed = {f: 100.0 + b - 0.5
              for f, b in ckptlog.file_batches(ckpt).items()}
    assert ckptlog.backlog_max(landed, ckpt) == 2
