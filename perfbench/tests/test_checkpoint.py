import json
import os

import pytest

from perfbench import checkpoint


def _log(path, entries):
    with open(path, "w") as f:
        f.write("v1\n")
        for e in entries:
            f.write(json.dumps(e) + "\n")


def _entry(name, bid):
    return {"path": f"file:///data/src/{name}", "timestamp": 1, "batchId": bid}


@pytest.fixture
def ckpt(tmp_path):
    """Batches 0-11 each read one file f<bid>.parquet. The source log
    compacted at batch 9 (9.compact repeats batches 0-9) and the plain
    logs 0-8 it covers were deleted; batch 11 has no commit yet."""
    src = tmp_path / "sources" / "0"
    commits = tmp_path / "commits"
    src.mkdir(parents=True)
    commits.mkdir()
    _log(src / "9.compact", [_entry(f"f{b}.parquet", b) for b in range(10)])
    _log(src / "10", [_entry("f10.parquet", 10), _entry("g10.parquet", 10)])
    _log(src / "11", [_entry("f11.parquet", 11)])
    (src / ".10.crc").write_bytes(b"x")
    (src / ".11.tmp").write_text("v1\n" + json.dumps(_entry("zz.parquet", 12)))
    for b in range(11):
        p = commits / str(b)
        p.write_text("v1\n{}")
        os.utime(p, (1000.0 + b, 1000.0 + b))
    return str(tmp_path)


def test_compact_and_plain_logs_map_files_to_batches(ckpt):
    fb = checkpoint.file_batches(ckpt)
    assert fb["f3.parquet"] == 3  # only in the compact file
    assert fb["f9.parquet"] == 9
    assert fb["g10.parquet"] == 10
    assert "zz.parquet" not in fb  # temp files are not the log
    assert checkpoint.commit_times(ckpt)[4] == 1004.0


def test_latency_is_due_to_commit_of_the_reading_batch(ckpt):
    due = {"f3.parquet": 1000.5, "g10.parquet": 1009.0,
           "f11.parquet": 1010.0, "never.parquet": 1010.0}
    lat, batch_of, missing = checkpoint.file_latencies(due, ckpt)
    assert lat == {"f3.parquet": pytest.approx(2.5), "g10.parquet": pytest.approx(1.0)}
    assert batch_of == {"f3.parquet": 3, "g10.parquet": 10}
    # read but not committed, and never read: both count as missing
    assert missing == ["f11.parquet", "never.parquet"]
