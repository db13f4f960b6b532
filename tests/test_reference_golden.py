"""End-to-end golden parity against the reference's own checker fixtures.

The reference scores correctness by `diff -w` of 26 per-letter files against
committed goldens (checker/checker.sh:22-36). This runs the full Spark
pipeline — manifest source → tokenize/normalize → distinct pairs → postings
→ per-letter ordering → formatted lines — on the reference's corpora and
compares whitespace-insensitively, line order included, exactly like the
checker.

Corpora: the small corpus (3 docs, vendored with its goldens under
tests/fixtures/reference_small/) and, when the reference checkout is
mounted at CHECKER, the full test.txt (355 Gutenberg chapters, goldens
test_out/, 33,262 lines).
"""

import os
import pathlib
import re
import string

import pytest

from mapreduce_model_spark.operators.inverted_index import format_output, invert
from mapreduce_model_spark.sources.manifest import read_corpus, read_manifest
from tests.pymodel import (
    SMALL_GOLDENS,
    SMALL_MANIFEST,
    inverted_index,
    letter_file_text,
)

CHECKER = "/root/reference/checker"


def _golden_lines(golden_dir: str, letter: str) -> list[str]:
    path = os.path.join(golden_dir, f"{letter}.txt")
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [" ".join(line.split()) for line in fh if line.strip()]


def _engine_lines(spark, manifest: str) -> dict[str, list[str]]:
    """letter → ordered formatted lines, as written to <letter>.txt."""
    docs = read_corpus(spark, manifest)
    out = format_output(invert(docs)).collect()  # invert is letter-ordered
    by_letter: dict[str, list[str]] = {}
    for r in out:
        by_letter.setdefault(r.letter, []).append(" ".join(r.line.split()))
    return by_letter


def _assert_parity(spark, manifest: str, golden_dir: str) -> None:
    got = _engine_lines(spark, manifest)
    for letter in string.ascii_lowercase:
        expected = _golden_lines(golden_dir, letter)
        assert got.get(letter, []) == expected, f"{letter}.txt mismatch"


def test_vendored_small_goldens_match_model_and_excerpts():
    """The vendored goldens are the pure-Python model's rendering of the
    vendored corpus, byte for byte, and contain every FIXTURES.md §3
    excerpt line in order (the excerpts were read off the reference's
    test_out_small/)."""
    paths = read_manifest(SMALL_MANIFEST)
    docs = {i + 1: pathlib.Path(p).read_text() for i, p in enumerate(paths)}
    postings = inverted_index(docs)
    for letter in string.ascii_lowercase:
        golden = pathlib.Path(SMALL_GOLDENS, f"{letter}.txt").read_text()
        assert golden == letter_file_text(postings, letter), letter

    fixtures_md = pathlib.Path(__file__).resolve().parents[1] / "FIXTURES.md"
    section = fixtures_md.read_text().split("## 3.")[1].split("## 4.")[0]
    excerpts = re.findall(r"^([a-z])\.txt:(.*)$", section, re.M)
    assert excerpts
    for letter, line in excerpts:
        want = line.split()
        golden = pathlib.Path(SMALL_GOLDENS, f"{letter}.txt").read_text()
        assert golden.split()[: len(want)] == want, letter


def test_small_corpus_matches_reference_goldens(spark):
    _assert_parity(spark, SMALL_MANIFEST, SMALL_GOLDENS)


@pytest.mark.skipif(not os.path.isdir(CHECKER), reason="reference not mounted")
def test_full_corpus_matches_reference_goldens(spark):
    """The reference's real grading corpus: 355 files, 33k output lines."""
    _assert_parity(spark, f"{CHECKER}/test.txt", f"{CHECKER}/test_out")


def test_cli_matches_reference_goldens(tmp_path):
    """The CLI front door (python -m mapreduce_model_spark M R manifest out)
    must reproduce the reference checker's small-corpus goldens exactly —
    the end-to-end contract of main.cc:199-257 including argument shape."""
    import subprocess
    import sys

    out = tmp_path / "cli_out"
    out.mkdir()
    proc = subprocess.run(
        [
            sys.executable,
            "-m",
            "mapreduce_model_spark",
            "2",
            "4",
            SMALL_MANIFEST,
            str(out),
        ],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    golden_dir = pathlib.Path(SMALL_GOLDENS)
    for letter in "abcdefghijklmnopqrstuvwxyz":
        golden = (golden_dir / f"{letter}.txt").read_text()
        got = (out / f"{letter}.txt").read_text()
        norm = lambda s: [" ".join(l.split()) for l in s.splitlines() if l.strip()]
        assert norm(got) == norm(golden), letter


def test_cli_usage_error():
    import subprocess
    import sys

    proc = subprocess.run(
        [sys.executable, "-m", "mapreduce_model_spark", "1"],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert proc.returncode == 1
    assert "Usage:" in proc.stderr


def test_parallelism_matrix_matches_goldens():
    """checker.sh:141-164 proves the SAME goldens at every (M,R) in
    {1,2,4}² — the one reference-graded property the port previously
    proved only at a single config. Runs tools/parity_matrix.py in its own
    process (nine sequential sessions; the shared fixture session must not
    be stopped out from under the rest of the suite)."""
    import subprocess
    import sys

    proc = subprocess.run(
        [sys.executable, "tools/parity_matrix.py"],
        capture_output=True,
        text=True,
        timeout=900,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-2000:]
    assert "MATRIXDONE checked=9 fails=0" in proc.stdout
