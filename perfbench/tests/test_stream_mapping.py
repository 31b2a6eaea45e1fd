import json
import os

from perfbench.stream import commit_times, file_batches


def _write_log(path, entries):
    with open(path, "w") as f:
        f.write("v1\n")
        for p, b in entries:
            f.write(json.dumps({"path": "file://" + p, "timestamp": 0, "batchId": b}) + "\n")


def test_file_batches_reads_compact_and_delta_files(tmp_path):
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)
    # batches 0..9 were compacted into 9.compact; 10 and 11 are deltas
    compacted = [(f"/in/part-{i:05d}.parquet", i // 2) for i in range(20)]
    _write_log(log / "9.compact", compacted)
    _write_log(log / "10", [("/in/part-00020.parquet", 10), ("/in/part-00021.parquet", 10)])
    _write_log(log / "11", [("/in/dir%20with%20space/part-00022.parquet", 11)])
    (log / ".10.crc").write_bytes(b"\0")  # checksum files are skipped
    mapping = file_batches(str(log))
    assert len(mapping) == 23
    assert mapping["/in/part-00000.parquet"] == 0
    assert mapping["/in/part-00019.parquet"] == 9
    assert mapping["/in/part-00021.parquet"] == 10
    assert mapping["/in/dir with space/part-00022.parquet"] == 11


def test_commit_times_reads_batch_ids_and_mtimes(tmp_path):
    for b, t in ((0, 100.0), (1, 101.5)):
        p = tmp_path / str(b)
        p.write_text("v1\n{}\n")
        os.utime(p, (t, t))
    (tmp_path / ".1.crc").write_bytes(b"\0")
    assert commit_times(str(tmp_path)) == {0: 100.0, 1: 101.5}
