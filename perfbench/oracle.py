"""Reference results the benchmark checks the program against.

The oracle replays the generated events in pandas, one row at a time,
with the validation rules of the default v1 field specs and
last-writer-wins by ``(commit, event_seq)``. It shares no code with
``filters_spark``: normalization is Python's ``regex`` and
``unicodedata``, and the language list is written out here.
"""

from __future__ import annotations

import hashlib
import re
import unicodedata

import regex as rx

LANGS = {"py", "go", "rs", "js", "java", "c", "cpp", "rb"}

# \p{C} minus whitespace: what the Unicode step strips
_NPR = rx.compile(r"[^\P{C}\s]+")
# outside printable ASCII + \t + \n: content the identity guard sends
# through the Arrow kernel
_NONASCII = re.compile(r"[^\x20-\x7e\t\n]")


def normalize(content: str) -> str:
    s = _NPR.sub("", content)
    return unicodedata.normalize("NFC", s).replace("\r\n", "\n").replace("\r", "\n")


def valid_key(r) -> tuple | None:
    """The event's (repo, path) key, or None when v1 validation
    dead-letters it."""
    path, lang, content = r.path, r.lang, r.content
    if r.repo is None or path is None:
        return None
    path = path.strip()
    if not path or len(path) > 512:
        return None
    if lang is not None and lang.strip().lower() not in LANGS:
        return None
    if content is None or len(content) == 0:
        return None
    return (r.repo, path)


def content_sha(content: str) -> str:
    return hashlib.sha256(normalize(content).encode("utf-8")).hexdigest()


def row_hash(repo: str, path: str, sha: str) -> int:
    """The first 60 bits of sha256("repo\tpath\tcontent_sha")."""
    return int(hashlib.sha256(f"{repo}\t{path}\t{sha}".encode("utf-8")).hexdigest()[:15], 16)


def fingerprint(state: dict) -> str:
    """Order-independent fingerprint of a {(repo, path): content_sha}
    state: the sum of its row hashes, as a decimal string."""
    return str(sum(row_hash(repo, path, sha) for (repo, path), sha in state.items()))


def input_checksum(pdf) -> str:
    """sha256 over the generated events in (commit, event_seq) order."""
    h = hashlib.sha256()
    for r in pdf.sort_values(["commit", "event_seq"]).itertuples(index=False):
        h.update(repr(tuple(r)).encode("utf-8"))
    return h.hexdigest()


def text_checksum(values) -> str:
    """sha256 over strings in sorted order."""
    h = hashlib.sha256()
    for v in sorted(values):
        h.update(v.encode("utf-8") + b"\n")
    return h.hexdigest()


def dead_rows(pdf) -> int:
    """Events that v1 validation dead-letters."""
    return sum(valid_key(r) is None for r in pdf.itertuples(index=False))


def nonascii_rows(pdf) -> int:
    return int(sum(1 for c in pdf["content"] if c is not None and _NONASCII.search(c)))


class Replay:
    """Incremental last-writer-wins replay of one table's events."""

    def __init__(self):
        self.state: dict = {}
        self.dead = 0

    def apply(self, pdf) -> "Replay":
        for r in pdf.sort_values(["commit", "event_seq"]).itertuples(index=False):
            key = valid_key(r)
            if key is None:
                self.dead += 1
            elif r.op == "D":
                self.state.pop(key, None)
            else:
                self.state[key] = content_sha(r.content)
        return self

    def fingerprint(self) -> str:
        return fingerprint(self.state)
