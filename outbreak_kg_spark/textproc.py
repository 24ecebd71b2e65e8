"""Pure-Python alert text-extraction semantics — the byte-identity surface.

This module is the single source of truth for the extraction semantics the
engine must reproduce *byte-identically per url* (BASELINE.json input_hint).
Behavioral spec: /root/reference/promed_ner.py:27-46 (body section state
machine), :57-76 (header parse), :79-90 (subject normalize), :93-100
(canonical extracted-text layout). Re-expressed from scratch; every quirk of
the reference is intentional and noted inline.

These functions are called from inside Arrow-batched pandas UDFs
(extract.py) — never as row-at-a-time Spark Python UDFs.
"""

from __future__ import annotations

import datetime
import functools
import re

# Header field patterns (reference promed_ner.py:63-65). The date pattern
# requires a trailing newline; the archive-number group is optional.
_RE_DATE = re.compile(r"Published Date: (.+)\n")
_RE_SUBJECT = re.compile(r"Subject:(.+?)\n")
_RE_ARCHIVE = re.compile(r"Archive Number: (\d{8}\.\d+)?")

# Fast path for the overwhelmingly-common zero-padded date shape; anything
# else falls back to strptime so flexible-width inputs ('2024-3-01') keep
# strptime's exact accept/reject behavior. strptime alone costs ~6us per
# call — the single hottest line of header parsing.
_RE_FASTDATE = re.compile(r"(\d{4})-(\d{2})-(\d{2}) (\d{2}):(\d{2}):(\d{2})\Z")


@functools.lru_cache(maxsize=4096)
def _parse_date(s: str) -> datetime.datetime:
    # lru_cache: feeds and crawls carry few distinct per-second stamps
    # relative to row count, and datetime objects are immutable so the
    # cached instance is safely shared; misses (and raising inputs, which
    # lru_cache never caches) behave exactly as before
    m = _RE_FASTDATE.match(s)
    if m:
        y, mo, d, h, mi, se = map(int, m.groups())
        # the datetime constructor range-checks exactly like strptime
        return datetime.datetime(y, mo, d, h, mi, se)
    return datetime.datetime.strptime(s, "%Y-%m-%d %H:%M:%S")


def split_sections(body: str) -> list[dict]:
    """Split a raw alert body into [{title, content}] sections.

    Semantics (promed_ner.py:27-46), all load-bearing for byte identity:
    - a section opens at any line whose *stripped* form starts with '---' or
      '******'; its title is the **raw, unstripped** previous line (index
      idx-1 — for a marker on line 0 this wraps to the LAST line, a quirk we
      keep);
    - a section closes at a line that strips to exactly '--'; content lines
      are individually stripped and joined with single spaces;
    - a second marker while a section is open discards the open section;
    - a section never closed is silently dropped;
    - any exception mid-walk (e.g. a closer before any opener referencing the
      not-yet-bound title) returns the sections completed so far.
    """
    lines = body.split("\n")
    in_section = False
    out: list[dict] = []
    try:
        for idx, line in enumerate(lines):
            stripped = line.strip()
            if stripped.startswith("---") or stripped.startswith("******"):
                in_section = True
                title = lines[idx - 1]
                buf: list[str] = []
            elif stripped == "--":
                in_section = False
                out.append({"title": title, "content": " ".join(buf)})
            elif in_section:
                buf.append(stripped)
    except Exception:
        return out
    return out


def parse_header_fields(header: str) -> dict:
    """Parse {date, subject, archive_number} out of a raw header blob.

    Semantics (promed_ner.py:57-76): the date string has its last 4 chars
    dropped (the ' EDT'-style timezone suffix) before strptime with
    '%Y-%m-%d %H:%M:%S'; subject is optional (None if absent) and stripped
    (promed_ner.py:89); archive_number is optional. A header with no
    parseable date raises — callers treat that row as invalid.
    """
    date_m = _RE_DATE.search(header)
    subj_m = _RE_SUBJECT.search(header)
    arch_m = _RE_ARCHIVE.search(header)
    raw_date = date_m.group(1)  # AttributeError when absent == reference crash
    dt = _parse_date(raw_date[:-4])
    return {
        "date": dt,
        "subject": subj_m.group(1).strip() if subj_m else None,
        "archive_number": arch_m.group(1) if arch_m else None,
    }


def canonical_text(subject: str | None, sections: list[dict]) -> str:
    """Render the canonical extracted text — THE byte-identity target.

    Layout (promed_ner.py:93-100): subject (empty string when absent) +
    '\\n\\n', then for each section its raw title + '\\n\\n' + joined content
    + '\\n\\n'.
    """
    parts = [(subject if subject is not None else ""), "\n\n"]
    for sec in sections:
        parts.append(sec["title"])
        parts.append("\n\n")
        parts.append(sec["content"])
        parts.append("\n\n")
    return "".join(parts)


def split_page_text(page_text: str) -> tuple[str, str]:
    """Split a raw page ``text`` column into (header_blob, body).

    The reference receives header and body as separate JSON fields
    (promed_ner.py:121-131); our Common-Crawl-style pages carry one text
    column (FIXTURES.md §1-2), so the documented convention is: header =
    everything before the first blank line (with a trailing newline appended
    so the header regexes anchor), body = everything after it.
    """
    idx = page_text.find("\n\n")
    if idx < 0:
        return page_text + "\n", ""
    return page_text[:idx] + "\n", page_text[idx + 2 :]


def extract_alert(page_text: str) -> dict:
    """Full per-page extraction: header fields + sections + canonical text.

    Returns a dict with keys (archive_number, subject, published_ts,
    sections, extracted_text, valid). ``valid`` is False when the reference
    would skip the record: empty header (promed_ner.py:124-125), unparseable
    date, or missing archive number (:128-129).
    """
    header, body = split_page_text(page_text)
    if header.strip() == "":
        return _invalid()
    try:
        fields = parse_header_fields(header)
    except Exception:
        return _invalid()
    if fields["archive_number"] is None:
        return _invalid()
    sections = split_sections(body)
    return {
        "archive_number": fields["archive_number"],
        "subject": fields["subject"],
        "published_ts": fields["date"],
        "sections": sections,
        "extracted_text": canonical_text(fields["subject"], sections),
        "valid": True,
    }


def _invalid() -> dict:
    return {
        "archive_number": None,
        "subject": None,
        "published_ts": None,
        "sections": [],
        "extracted_text": None,
        "valid": False,
    }
