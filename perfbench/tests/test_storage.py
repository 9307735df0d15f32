from perfbench.storage import dir_bytes, total_bytes, walk_table


def _write(path, n):
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_bytes(b"x" * n)


def test_walk_table_splits_by_top_level_area(tmp_path):
    _write(tmp_path / "_data" / "u1" / "part-0.parquet", 100)
    _write(tmp_path / "_data" / "u1" / "k=1" / "part-1.parquet", 50)
    _write(tmp_path / "_commits" / "00000000000000000000.json", 7)
    _write(tmp_path / "_delta_log" / "00000000000000000000.json", 11)
    _write(tmp_path / "_delta_log" / "_last_checkpoint", 3)
    _write(tmp_path / "_bloom" / "u1" / "c.bloom", 5)
    _write(tmp_path / "stray.txt", 1)
    split = walk_table(str(tmp_path))
    assert split == {
        "_data": {"bytes": 150, "files": 2},
        "_commits": {"bytes": 7, "files": 1},
        "_delta_log": {"bytes": 14, "files": 2},
        "other": {"bytes": 6, "files": 2},
    }
    assert total_bytes(split) == dir_bytes(str(tmp_path)) == 177


def test_walk_table_of_missing_dir_is_empty(tmp_path):
    split = walk_table(str(tmp_path / "absent"))
    assert total_bytes(split) == 0
