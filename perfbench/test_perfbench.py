"""The benchmark's own checks; no Spark needed.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import fixtures  # noqa: E402
import kvlines  # noqa: E402
import measure  # noqa: E402


def _digest(directory: str) -> dict[str, str]:
    return {name: hashlib.sha256(
                open(os.path.join(directory, name), "rb").read()).hexdigest()
            for name in sorted(os.listdir(directory))}


def test_kv_lines_are_byte_identical_per_seed(tmp_path):
    for run in ("a", "b"):
        kvlines.write_files(kvlines.make_rows(7, 3_000), tmp_path / run, 500)
    kvlines.write_files(kvlines.make_rows(8, 3_000), tmp_path / "c", 500)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")


def test_fixture_tables_are_byte_identical_per_seed(tmp_path):
    for run, seed in (("a", 3), ("b", 3), ("c", 4)):
        fixtures.write_tables(tmp_path / run, seed, 500, 50)
    a, b, c = (_digest(tmp_path / r) for r in "abc")
    assert a == b
    assert a["events.parquet"] != c["events.parquet"]
    assert a["documents.parquet"] != c["documents.parquet"]


def test_line_mix_covers_every_kind_at_its_share():
    rows = kvlines.make_rows(11, 20_000)
    for kind, share in kvlines.KINDS:
        seen = sum(r["kind"] == kind for r in rows) / len(rows)
        assert abs(seen - share) < 0.2 * share + 0.002, (kind, seen)


def test_oracle_counts_lines_not_parses_them():
    rows = kvlines.make_rows(5, 2_000)
    want = kvlines.expected(rows)
    bad = [r for r in rows if r["kind"] in ("badparse", "badvalue")]
    assert want["quarantine"] == [
        (len(bad), sum(len(kvlines.render(r).encode()) for r in bad))]
    assert sum(n for *_k, n, _s in want["cw"]) == sum(
        r["kind"] == "cw" for r in rows)
    assert sum(n for _e, _a, n, _s in want["volume"]) == len(rows)



def test_end_descendants_leaves_no_process_behind():
    measure.adopt_orphans()
    # the shell exits at once; its child ignores SIGTERM and is orphaned
    subprocess.run(["sh", "-c", "(trap '' TERM; exec sleep 60) & exit 0"],
                   check=True)
    assert measure._descendants(os.getpid())
    measure.end_descendants(grace=0.2)
    assert measure._descendants(os.getpid()) == []
