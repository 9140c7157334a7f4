"""Shared text extraction + mention detection library.

This module is the engine's analogue of the reference's per-file-type
info extractors (`surfactant/infoextractors/*.py`) — stage 1 of the
pipeline. It is **pure Python over plain values** and is imported by

  (a) the Spark Arrow-batched UDFs (`operators/extract.py`), and
  (b) the pandas oracle used for parity testing,

so the "extracted text byte-identical per url" invariant holds by
construction (BASELINE.md per-row invariant).

Mention syntax in the synthetic web corpus (the analogue of
DT_NEEDED/peImport entries, `infoextractors/elf_file.py:66`,
`pe_file.py:147-149`):

  - ``lib://<alias>``      -> candidate ``Uses`` mention
  - ``bundle://<url>``     -> candidate ``Contains`` mention
  - ``<title>...</title>`` -> the entity this page *exports* (analogue of
    a library's soname/export symbols, `java_file.py:50-66`)
"""

from __future__ import annotations

import re
from typing import Dict, List, Tuple

_SCRIPT_RE = re.compile(rb"<script\b[^>]*>.*?</script>", re.IGNORECASE | re.DOTALL)
_STYLE_RE = re.compile(rb"<style\b[^>]*>.*?</style>", re.IGNORECASE | re.DOTALL)
_COMMENT_RE = re.compile(rb"<!--.*?-->", re.DOTALL)
_TAG_RE = re.compile(r"<[^>]*>")
_WS_RE = re.compile(r"\s+")
_ENTITIES = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),  # last, so double-escapes decode one level only
)

_MENTION_RE = re.compile(r"\b(lib|bundle)://([A-Za-z0-9_.\-/:~]+)")
_TITLE_RE = re.compile(rb"<title[^>]*>(.*?)</title>", re.IGNORECASE | re.DOTALL)


def extract_text(html: bytes) -> str:
    """Boilerplate-stripped visible text of a page. Deterministic; the
    per-url byte-identical contract is over this function's output."""
    if html is None:
        return ""
    stripped = _COMMENT_RE.sub(b" ", _STYLE_RE.sub(b" ", _SCRIPT_RE.sub(b" ", html)))
    text = stripped.decode("utf-8", errors="replace")
    text = _TAG_RE.sub(" ", text)
    for ent, rep in _ENTITIES:
        text = text.replace(ent, rep)
    return _WS_RE.sub(" ", text).strip()


def extract_title(html: bytes) -> str:
    """The entity name this page exports (empty if untitled)."""
    if html is None:
        return ""
    m = _TITLE_RE.search(html)
    if not m:
        return ""
    return _WS_RE.sub(" ", m.group(1).decode("utf-8", errors="replace")).strip()


def detect_mentions(html: bytes) -> List[Tuple[str, str, int, int]]:
    """Candidate mentions from the raw page bytes.

    Returns [(pred, alias, start, end)] with pred in {'Uses','Contains'}
    and character offsets into the decoded html. The raw bytes are
    scanned (not the stripped text) because mention carriers (hrefs) are
    markup — exactly like the reference reading structured sections of
    the binary rather than its strings.
    """
    if html is None:
        return []
    s = html.decode("utf-8", errors="replace")
    out = []
    for m in _MENTION_RE.finditer(s):
        pred = "Uses" if m.group(1) == "lib" else "Contains"
        out.append((pred, m.group(2), m.start(2), m.end(2)))
    return out


def classify_doctype(prefix: bytes) -> str:
    """Magic-byte doctype classification over the first bytes — the
    analogue of `surfactant/filetypeid/id_magic.py:51-214` (265-byte
    prefix read). Checked in declaration order (firstresult semantics,
    `plugin/hookspecs.py:17`)."""
    if prefix is None:
        return "unknown"
    p = prefix[:265]
    if p[:4] == b"\x7fELF":
        return "elf"
    if p[:2] == b"MZ":
        return "pe"
    if p[:4] == b"%PDF":
        return "pdf"
    if p[:5] == b"<?xml":
        return "xml"
    if p[:2] in (b"\x1f\x8b",):
        return "gzip"
    if p[:4] == b"PK\x03\x04":
        return "zip"
    low = p[:64].lower()
    if low.lstrip().startswith(b"<!doctype html") or b"<html" in low:
        return "html"
    if p[:1] == b"{" or p[:1] == b"[":
        return "json"
    return "text"


_STOPWORDS: Dict[str, frozenset] = {
    "en": frozenset("the a of and to in is that it for on with as are was".split()),
    "de": frozenset("der die das und ist ein eine zu den von mit nicht auf".split()),
    "fr": frozenset("le la les et est une un des du dans que pour sur".split()),
    "es": frozenset("el la los las y es un una de en que por con para".split()),
}


def detect_lang(text: str) -> str:
    """Tiny deterministic language-ID heuristic: CJK ratio for zh, else
    stopword voting (analogue of F1-F3 classification)."""
    if not text:
        return "und"
    cjk = sum(1 for ch in text[:400] if "一" <= ch <= "鿿")
    if cjk > len(text[:400]) * 0.05:
        return "zh"
    toks = text.lower().split()[:200]
    if not toks:
        return "und"
    best_lang, best = "und", 0
    for lang in ("en", "de", "fr", "es"):  # fixed order => deterministic ties
        score = sum(1 for t in toks if t in _STOPWORDS[lang])
        if score > best:
            best_lang, best = lang, score
    return best_lang


def token_count(text: str) -> int:
    """BPE-ish token count: word/number/punctuation-run tokens."""
    return len(re.findall(r"[A-Za-z]+|\d+|[^\sA-Za-z\d]", text or ""))


def quality_score(text: str) -> float:
    """Composite [0,1] quality score: length, alpha ratio, stopword
    ratio, mean word length sanity. Deterministic, SQL-reproducible."""
    if not text:
        return 0.0
    n = len(text)
    toks = text.lower().split()
    if not toks:
        return 0.0
    alpha = sum(1 for ch in text if ch.isalpha()) / n
    stop = sum(1 for t in toks if t in _STOPWORDS["en"]) / len(toks)
    mean_wl = sum(len(t) for t in toks) / len(toks)
    len_score = min(n / 500.0, 1.0)
    wl_score = 1.0 if 3.0 <= mean_wl <= 10.0 else 0.5
    return round(0.35 * len_score + 0.3 * alpha + 0.2 * min(stop * 4, 1.0) + 0.15 * wl_score, 6)
