"""Text extraction & cleaning: HTML -> text, whitespace/control cleanup,
charset-whitelist cleanup, long-repeat removal.

Reference semantics reproduced:
  clean_text (whitespace/control) -> /root/reference/tool.py:8-14
  charset-whitelist clean_text    -> /root/reference/Crawl_Page/tools/clear_redundancy.py:15-51
  remove_html_tags                -> /root/reference/tool.py:38-63 (BeautifulSoup
                                     html.parser, drop script/style/meta/noscript/
                                     header/footer/nav, get_text(separator=' '))
  remove_long_repeated_substrings -> clear_redundancy.py:53-170 (delete 2nd+
                                     occurrences of every repeated substring of
                                     length >= 21, merge intervals; one linear
                                     pass over 21-char windows in place of the
                                     reference's suffix automaton)

bs4 is not available in this environment; ``extract_html_text`` is a fresh
stdlib ``html.parser`` implementation of the same contract (drop the same tag
subtrees, join text nodes with a single space, then clean). When bs4 IS
installed it is used instead, for byte parity with the reference's extractor.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

_WS = re.compile(r"\s+")
_CTRL = re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]")


def clean_text(text: str) -> str:
    """Whitespace/control cleanup (tool.py:8-14)."""
    text = _WS.sub(" ", text)
    text = _CTRL.sub("", text)
    return text.strip()


# --- charset-whitelist cleaner (clear_redundancy.py:15-51) ---

_EMOJI_WHITELIST_CLEAN = re.compile(
    "["
    "\U0001F300-\U0001F5FF"
    "←-⇿"
    "☀-⛿"
    "✀-➿"
    "\U0001F600-\U0001F6FF"
    "\U0001F700-\U0001F77F"
    "\U0001F900-\U0001F9FF"
    "]+"
)
_ALLOWED_PUNCT = frozenset(
    " !~@#$%^&*()_+<>?:\"{}|,./;'[]\\-！￥……&*（）_+<>？：{}|，。，；【】—"
)
_KEEP_CHAR = re.compile(r"[一-鿿A-Za-z0-9]")
_MULTISPACE = re.compile(r"\s{2,}")


def clean_text_whitelist(text: str) -> str:
    """Keep CJK/latin/digits + an explicit punctuation whitelist, drop emoji
    ranges, collapse multi-space (clear_redundancy.py:15-51)."""
    text = _EMOJI_WHITELIST_CLEAN.sub("", text)
    kept = [
        ch for ch in text if _KEEP_CHAR.match(ch) or ch in _ALLOWED_PUNCT
    ]
    return _MULTISPACE.sub(" ", "".join(kept)).strip()


# Portable (Java regex + RE2) twins of the whitelist cleaner's three steps,
# built from the SAME constants so the native Spark column and the DuckDB
# oracle can't drift from the Python form (byte parity pinned by
# tests/test_functions_differential.py::test_whitelist_clean_col_matches_python).
_EMOJI_RANGES = (
    (0x1F300, 0x1F5FF),
    (0x2190, 0x21FF),   # ←-⇿
    (0x2600, 0x26FF),   # ☀-⛿
    (0x2700, 0x27BF),   # ✀-➿
    (0x1F600, 0x1F6FF),
    (0x1F700, 0x1F77F),
    (0x1F900, 0x1F9FF),
)
EMOJI_PATTERN_PORTABLE = (
    "[" + "".join(f"\\x{{{a:x}}}-\\x{{{b:x}}}" for a, b in _EMOJI_RANGES) + "]+"
)
# negate the keep-set: CJK block + latin alnum + every whitelisted
# punctuation codepoint, written as \x{...} so no char needs class-escaping
NON_WHITELIST_PORTABLE = (
    "[^A-Za-z0-9\\x{4e00}-\\x{9fff}"
    + "".join(f"\\x{{{ord(c):x}}}" for c in sorted(_ALLOWED_PUNCT))
    + "]"
)


def clean_whitelist_col(col):
    """Native-Column twin of clean_text_whitelist: after the per-codepoint
    whitelist filter only ASCII spaces can remain as whitespace, so the
    multi-space collapse and the final strip reduce to ' {2,}' + trim —
    identical semantics in Python re, Java regex, and RE2."""
    from pyspark.sql import functions as F

    t = F.regexp_replace(col, F.lit(EMOJI_PATTERN_PORTABLE), F.lit(""))
    t = F.regexp_replace(t, F.lit(NON_WHITELIST_PORTABLE), F.lit(""))
    t = F.regexp_replace(t, F.lit(" {2,}"), F.lit(" "))
    return F.trim(t)


# --- HTML -> text extraction (tool.py:38-63) ---

_DROP_TAGS = frozenset(("script", "style", "meta", "noscript", "header", "footer", "nav"))
# void elements never push onto the open-tag stack
_VOID_TAGS = frozenset(
    ("area", "base", "br", "col", "embed", "hr", "img", "input", "link",
     "meta", "param", "source", "track", "wbr")
)

try:  # pragma: no cover - bs4 absent in the sandbox
    from bs4 import BeautifulSoup  # type: ignore

    _HAVE_BS4 = True
except ImportError:
    _HAVE_BS4 = False


class _TextExtractor(HTMLParser):
    """Collect text nodes, skipping the subtrees of dropped tags."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.parts: list[str] = []
        self._drop_depth = 0

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _DROP_TAGS and tag not in _VOID_TAGS:
            self._drop_depth += 1

    def handle_endtag(self, tag: str) -> None:
        if tag in _DROP_TAGS and tag not in _VOID_TAGS and self._drop_depth > 0:
            self._drop_depth -= 1

    def handle_data(self, data: str) -> None:
        if self._drop_depth == 0 and data:
            self.parts.append(data)


def extract_html_text(html_content: str | bytes | None) -> str:
    """HTML -> cleaned text with the reference's contract (tool.py:38-63):
    drop script/style/meta/noscript/header/footer/nav subtrees, join text
    nodes with single spaces, then ``clean_text``. Returns "" on any error."""
    try:
        if isinstance(html_content, (bytes, bytearray)):
            html_content = bytes(html_content).decode("utf-8", errors="ignore")
        if not html_content or not isinstance(html_content, str):
            return ""
        if _HAVE_BS4:  # pragma: no cover
            soup = BeautifulSoup(html_content, "html.parser")
            for el in soup(list(_DROP_TAGS)):
                el.extract()
            return clean_text(soup.get_text(separator=" "))
        p = _TextExtractor()
        p.feed(html_content)
        p.close()
        return clean_text(" ".join(p.parts))
    except Exception:
        return ""


# --- long-repeat removal (clear_redundancy.py:53-170) ---


MIN_REPEAT_LEN = 21  # clear_redundancy.py's repeat length


def remove_long_repeated_substrings(s: str) -> str:
    """Delete the 2nd+ occurrences of every repeated substring of length
    >= ``MIN_REPEAT_LEN``; keep the first occurrence; merge deletion
    intervals that touch (gap <= 1 merges, clear_redundancy.py:150-159).

    The reference finds the repeats with a suffix automaton and an endpos
    SET per state (O(n^2) on repetitive pages: a 12KB menu-spam page takes
    ~18s, 50KB does not finish). The deleted chars are exactly those
    covered by a non-first occurrence of some ``MIN_REPEAT_LEN``-char
    window: every window inside a non-first occurrence of a repeated
    substring is itself a non-first window occurrence, and every non-first
    window occurrence lies inside a non-first occurrence of its automaton
    state's longest string (the substring the reference records). Merging
    touching intervals changes no kept char. So one pass over the windows,
    with the set of windows seen so far and a running cover end, gives the
    reference's output in linear time on every page (tests/
    test_functions_unit.py keeps the automaton as the oracle).

    A page whose windows are all distinct is returned as is after one set
    of slices at C speed (most pages take it)."""
    n = len(s)
    windows = n - MIN_REPEAT_LEN + 1
    # a repeat needs two windows
    if windows < 2 or len({s[i : i + MIN_REPEAT_LEN] for i in range(windows)}) == windows:
        return s
    seen: set[str] = set()
    pieces: list[str] = []
    kept_from = 0  # first char after the last deleted run
    for i in range(windows):
        w = s[i : i + MIN_REPEAT_LEN]
        if w in seen:
            if i > kept_from:
                pieces.append(s[kept_from:i])
            kept_from = i + MIN_REPEAT_LEN
        else:
            seen.add(w)
    pieces.append(s[kept_from:])
    return "".join(pieces)


def remove_long_repeated_substrings_ex(s: str) -> tuple[str, bool]:
    """``(remove_long_repeated_substrings(s), False)``: the exact removal
    has no fallback left, and the flag stays for callers that unpack it."""
    return remove_long_repeated_substrings(s), False


# --- perplexity-stage preprocessing (P7) -----------------------------------
# /root/reference/text_quality_filter/utils/lmppl_perplexity.py:92-154

_URL_TO_TOKEN = re.compile(r"https?://\S+|www\.\S+")
_BANGS = re.compile(r"[!?]{2,}")
_DOTS = re.compile(r"[.]{3,}")
_EMOJI_PPL = re.compile(
    "["
    "\U0001F600-\U0001F64F\U0001F300-\U0001F5FF\U0001F680-\U0001F6FF"
    "\U0001F700-\U0001F77F\U0001F780-\U0001F7FF\U0001F800-\U0001F8FF"
    "\U0001F900-\U0001F9FF\U0001FA00-\U0001FA6F\U0001FA70-\U0001FAFF"
    "\U00002702-\U000027B0\U000024C2-\U0001F251"
    "]+"
)
_SENT_SPLIT = re.compile(r"[。！？.!?]")


def preprocess_for_ppl(text: str) -> str:
    """Perplexity text preprocessing (lmppl_perplexity.py:92-125): collapse
    whitespace, URLs -> [URL], collapse !?-runs to '!', long dot runs to
    '...', strip emoji ranges."""
    text = _WS.sub(" ", text)
    text = _URL_TO_TOKEN.sub("[URL]", text)
    text = _BANGS.sub("!", text)
    text = _DOTS.sub("...", text)
    return _EMOJI_PPL.sub("", text)


def extract_meaningful_segments(text: str, max_length: int = 500) -> str:
    """Head/middle/tail sentence sampling for long docs
    (lmppl_perplexity.py:127-154): <=3 sentences -> text[:max]; otherwise two
    sentences from each third joined by '。', capped at max_length.

    Boundary arithmetic matches the reference exactly: the split points are
    n//3 and (2*n)//3 — NOT 2*(n//3); for n % 3 == 2 they differ by one and
    shift which sentences the middle/end thirds see (caught by the
    differential fuzz vs the executed reference method)."""
    sentences = [s for s in _SENT_SPLIT.split(text) if s.strip()]
    n = len(sentences)
    if n <= 3:
        return text[:max_length]
    third = n // 3
    two_thirds = 2 * n // 3
    selected = (
        sentences[:third][:2]
        + sentences[third:two_thirds][:2]
        + sentences[two_thirds:][:2]
    )
    return "。".join(selected)[:max_length]


def dedup_lines(text: str) -> str:
    """Within-document exact line dedup, keeping the first occurrence of each
    line — the semantics of piping through the commoncrawl dedupe binary
    (clear_redundancy.py:172-190, J4) without the subprocess."""
    seen: dict[str, None] = {}
    for ln in text.split("\n"):
        seen.setdefault(ln)
    return "\n".join(seen)
