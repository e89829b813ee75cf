"""The benchmark's input generator: determinism, and the KPL round trip
through the program's decoder.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import os
import random
import sys
import zlib

import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.diff_files or cmp.funny_files:
        return False
    _, diff, _ = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not diff and all(_same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def _write_all(out: str, seed: int) -> None:
    for kind, fn in (
        ("backlog", lambda o: gen.write_backlog(o, seed, shards=2, waves=2, outer_per_file=30)),
        ("tail", lambda o: gen.write_tail(o, seed, shards=2, n_files=4, outer_per_file=5, period_ms=100)),
    ):
        d = os.path.join(out, kind)
        gen.write_manifest(d, fn(d))


def test_same_seed_gives_byte_identical_files(tmp_path):
    _write_all(str(tmp_path / "a"), 7)
    _write_all(str(tmp_path / "b"), 7)
    _write_all(str(tmp_path / "c"), 8)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))


def test_program_deaggregates_exactly_the_generated_records():
    from kitkat_spark.functions.kpl import deaggregate_blob

    maker = gen.RecordMaker(random.Random(3))
    blobs = 0
    for j in range(400):
        data, _, msgs, bad = maker.outer(f"t{j}")
        if bad == "kpl":
            assert deaggregate_blob(data) == []
        elif bad == "zlib":
            assert data[:1] == b"x"
            try:
                zlib.decompress(data)
                raise AssertionError("corrupt zlib payload inflated")
            except zlib.error:
                pass
        elif data[:4] == gen.KPL_MAGIC:
            blobs += 1
            inner = deaggregate_blob(data)
            got = [r["data"] for r in inner]
            got = [zlib.decompress(d) if d[:1] == b"\x78" else d for d in got]
            assert got == [(m + "\n").encode() for m in msgs]
            assert all(r["partition_key"].startswith("pk-") for r in inner)
    assert blobs > 100


def test_backlog_files_carry_the_exact_mix(tmp_path):
    # every backlog file of one size holds the same work, whatever the seed
    counts = set()
    for seed in (1, 2):
        m = gen.write_backlog(str(tmp_path / str(seed)), seed, shards=2, waves=2, outer_per_file=200)
        for f in m["files"]:
            counts.add((len(f["messages"]), f["corrupt"]["kpl"], f["corrupt"]["zlib"]))
    # 200 outer: 4 corrupt (2 + 2), 98 aggregates of 10..30 cycling (1911
    # inner records) and 98 plain records
    assert counts == {(1911 + 98, 2, 2)}


def test_manifest_counts_match_files(tmp_path):
    m = gen.write_backlog(str(tmp_path), 1, shards=2, waves=2, outer_per_file=50)
    for f in m["files"]:
        t = pq.read_table(os.path.join(str(tmp_path), "records", f["file"]))
        assert t.num_rows == f["outer"]
        assert t.schema == gen.RECORD_ARROW_SCHEMA
        n_kpl = sum(1 for d in t.column("data").to_pylist() if d[:4] == gen.KPL_MAGIC)
        assert n_kpl >= f["corrupt"]["kpl"]
    # waves are ordered by file mtime, one file per shard per wave
    files = sorted(m["files"], key=lambda f: os.stat(os.path.join(str(tmp_path), "records", f["file"])).st_mtime_ns)
    assert [f["file"].split("-")[1] for f in files] == ["000", "000", "001", "001"]
