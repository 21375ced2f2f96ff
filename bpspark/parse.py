"""ZIP + java-Properties parsing (reference operators R3/R4/R5).

The reference opens each metadata ZIP, iterates entries, skips directories,
and parses each entry with ``java.util.Properties.load(InputStream)``
(`/root/reference/src/main/java/org/acme/bestpublishing/metadataingestion/
services/MetadataIngestionServiceImpl.java:131-162`, loop :140-152,
dir-skip :142, load :147-149, basename key :146).

``parse_properties`` reimplements the documented ``Properties.load``
semantics (the public java.util.Properties javadoc format):

- natural lines split on \\n, \\r\\n, \\r; ISO-8859-1 decoding
- comment lines: first non-blank char '#' or '!'
- logical lines: a terminal odd backslash run continues onto the next
  natural line, with that line's leading whitespace dropped
- key ends at the first unescaped '=', ':', or whitespace; a separator
  may be padded with whitespace; whitespace alone also separates
- escapes: \\t \\n \\f \\r \\\\ and \\uXXXX; a backslash before any other
  character is dropped (e.g. ``\\=`` → ``=``, ``\\b`` → ``b``)

Pure Python by design: it runs *inside* ``mapInPandas`` workers over Arrow
batches of (path, content) rows — the Spark-side plumbing stays columnar
and distributed; only the per-file byte parsing is Python (SURVEY §4.3:
no Catalyst rule needed).
"""

from __future__ import annotations

import io
import os
import zipfile

_WS = " \t\f"


def _natural_lines(data: bytes) -> list[str]:
    text = data.decode("iso-8859-1")
    return text.replace("\r\n", "\n").replace("\r", "\n").split("\n")


def _is_comment(line: str) -> bool:
    stripped = line.lstrip(_WS)
    return stripped.startswith("#") or stripped.startswith("!")


def _ends_with_continuation(line: str) -> bool:
    n = 0
    for ch in reversed(line):
        if ch == "\\":
            n += 1
        else:
            break
    return n % 2 == 1


def _logical_lines(data: bytes) -> list[str]:
    out: list[str] = []
    pending: str | None = None
    for raw in _natural_lines(data):
        if pending is None:
            if not raw.strip(_WS):
                continue
            if _is_comment(raw):
                continue
            line = raw.lstrip(_WS)
        else:
            line = pending + raw.lstrip(_WS)
            pending = None
        if _ends_with_continuation(line):
            pending = line[:-1]
        else:
            out.append(line)
    if pending is not None:
        out.append(pending)
    return out


def _unescape(s: str) -> str:
    out: list[str] = []
    i = 0
    while i < len(s):
        ch = s[i]
        if ch != "\\":
            out.append(ch)
            i += 1
            continue
        i += 1
        if i >= len(s):
            break  # lone trailing backslash is dropped
        esc = s[i]
        if esc == "u":
            hexs = s[i + 1 : i + 5]
            if len(hexs) == 4:
                try:
                    out.append(chr(int(hexs, 16)))
                    i += 5
                    continue
                except ValueError:
                    pass
            # java throws IllegalArgumentException; we surface the raw text
            out.append("u")
            i += 1
            continue
        out.append({"t": "\t", "n": "\n", "f": "\f", "r": "\r"}.get(esc, esc))
        i += 1
    return "".join(out)


def _split_key_value(line: str) -> tuple[str, str]:
    # find end of key: first unescaped '=', ':' or whitespace
    i = 0
    n = len(line)
    key_end = n
    sep_at = -1
    while i < n:
        ch = line[i]
        if ch == "\\":
            i += 2
            continue
        if ch in "=:" or ch in _WS:
            key_end = i
            sep_at = i
            break
        i += 1
    key = line[:key_end]
    if sep_at == -1:
        return _unescape(key), ""
    # skip whitespace, then at most one '=' or ':', then whitespace again
    j = sep_at
    while j < n and line[j] in _WS:
        j += 1
    if j < n and line[j] in "=:":
        j += 1
        while j < n and line[j] in _WS:
            j += 1
    return _unescape(key), _unescape(line[j:])


def parse_properties(data: bytes) -> dict[str, str]:
    """Parse bytes as a java-Properties file → {key: value} (R4)."""
    props: dict[str, str] = {}
    for line in _logical_lines(data):
        k, v = _split_key_value(line)
        props[k] = v  # later duplicates win, matching Hashtable.put
    return props


def basename_no_ext(entry_name: str) -> str:
    """R5: FilenameUtils.getBaseName — strip directories and last extension
    (MetadataIngestionServiceImpl.java:146)."""
    base = entry_name.rsplit("/", 1)[-1]
    dot = base.rfind(".")
    return base[:dot] if dot > 0 else base


def parse_metadata_zip(content: bytes) -> list[tuple[str, dict[str, str]]]:
    """R3: ZIP explode — one (basename, props) record per distinct basename
    of the non-directory entries (MetadataIngestionServiceImpl.java:131-162;
    directory skip :142). Two entries with one basename (``a.txt`` and
    ``dir/a.txt``) keep the later archive entry, as the reference's
    ``HashMap.put`` does (:146-149).

    Raises on corrupt ZIPs — callers route the error to the quarantine
    channel (R15, MetadataIngestionExecuter.java:62-73).
    """
    records: dict[str, dict[str, str]] = {}
    with zipfile.ZipFile(io.BytesIO(content)) as zf:
        for info in zf.infolist():
            if info.is_dir():
                continue
            with zf.open(info) as fh:
                records[basename_no_ext(info.filename)] = parse_properties(fh.read())
    return list(records.items())


def extract_isbn_from_path(path: str) -> str:
    """R2: filename-key extraction — the ISBN-13 business key from the ZIP
    file name (MetadataIngestionExecuter.java:56-62 contract)."""
    name = os.path.basename(path)
    # r8 tightening, mirroring the Spark-side sources.ISBN_ZIP_KEY_RE
    # exactly (tests/test_ingestion.py pins the agreement): the name must
    # END in .zip (the R2 contract is about ZIP drop files), and the stem
    # must be 13 ASCII digits — str.isdigit() alone accepts non-ASCII
    # digit glyphs the regex never matches.
    if not name.lower().endswith(".zip"):
        return ""
    stem = name[:-4]
    return stem if stem.isascii() and stem.isdigit() and len(stem) == 13 else ""
