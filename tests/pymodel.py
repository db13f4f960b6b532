"""Pure-Python executable model of the reference semantics (main.cc:33-172).

~20 lines, used as a property oracle in tests: independent of both Spark and
DuckDB, simple enough to verify by eye against SURVEY.md §1.6.
"""

from __future__ import annotations

import os
import re

_NON_LETTER = re.compile(r"[^a-z]")
# C-locale isspace (main.cc:73, operator>>) — also Java's regex \s. Not
# str.split(), which also splits on \x1c-\x1f, \x85, NBSP, U+2000-U+200A
# and U+3000.
_WHITESPACE = re.compile(r"[ \t\n\v\f\r]+")

# The reference checker's 3-document small corpus (manifest + inputs) and
# its 26 <letter>.txt goldens, vendored under tests/fixtures/ (goldens
# rendered by letter_file_text; FIXTURES.md §3 holds the excerpts).
REFERENCE_SMALL = os.path.join(os.path.dirname(__file__), "fixtures", "reference_small")
SMALL_MANIFEST = os.path.join(REFERENCE_SMALL, "test_small.txt")
SMALL_GOLDENS = os.path.join(REFERENCE_SMALL, "test_out_small")


def normalize(token: str) -> str:
    """lower (main.cc:75) then strip non-[a-z] (main.cc:33-42)."""
    return _NON_LETTER.sub("", token.lower())


def inverted_index(docs: dict[int, str]) -> dict[str, list[int]]:
    """word -> ascending distinct doc ids; empty words dropped."""
    postings: dict[str, set[int]] = {}
    for doc_id, text in docs.items():
        for token in _WHITESPACE.split(text):
            word = normalize(token)
            if word:
                postings.setdefault(word, set()).add(doc_id)
    return {w: sorted(ids) for w, ids in postings.items()}


def letter_file_rows(postings: dict[str, list[int]], letter: str) -> list[tuple[str, list[int]]]:
    """Rows of <letter>.txt in reference order: len DESC, word ASC (main.cc:148-156)."""
    rows = [(w, ids) for w, ids in postings.items() if w.startswith(letter)]
    return sorted(rows, key=lambda r: (-len(r[1]), r[0]))


def letter_file_text(postings: dict[str, list[int]], letter: str) -> str:
    """Contents of <letter>.txt: one ``word:[d1 d2 ...]`` line per row
    (main.cc:160-170); empty for a letter with no words."""
    return "".join(
        f"{w}:[{' '.join(map(str, ids))}]\n"
        for w, ids in letter_file_rows(postings, letter)
    )
