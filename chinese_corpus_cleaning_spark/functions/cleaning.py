"""Text extraction & cleaning: HTML -> text, whitespace/control cleanup,
charset-whitelist cleanup, long-repeat removal.

Reference semantics reproduced:
  clean_text (whitespace/control) -> /root/reference/tool.py:8-14
  charset-whitelist clean_text    -> /root/reference/Crawl_Page/tools/clear_redundancy.py:15-51
  remove_html_tags                -> /root/reference/tool.py:38-63 (BeautifulSoup
                                     html.parser, drop script/style/meta/noscript/
                                     header/footer/nav, get_text(separator=' '))
  remove_long_repeated_substrings -> clear_redundancy.py:53-170 (suffix automaton;
                                     delete 2nd+ occurrences of every repeated
                                     substring of length >= 21, merge intervals)

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
WORK_BUDGET_FACTOR = 32  # exact-pass occurrence budget per document char


def _chunk_dedup(s: str, window: int) -> str:
    """O(n) fallback for pathologically repetitive documents: split into
    fixed ``window``-char chunks, keep the first occurrence of each distinct
    chunk (deterministic; collapses repeated boilerplate blocks)."""
    seen: set[str] = set()
    out: list[str] = []
    for i in range(0, len(s), window):
        chunk = s[i : i + window]
        if chunk not in seen:
            seen.add(chunk)
            out.append(chunk)
    return "".join(out)


def remove_long_repeated_substrings(s: str) -> str:
    """See remove_long_repeated_substrings_ex; this wrapper drops the
    fell-back flag for callers that only want the text."""
    return remove_long_repeated_substrings_ex(s)[0]


def remove_long_repeated_substrings_ex(s: str) -> tuple[str, bool]:
    """Delete the 2nd+ occurrences of every repeated substring of length
    >= ``MIN_REPEAT_LEN``; keep the first occurrence; merge deletion
    intervals that touch (gap <= 1 merges, clear_redundancy.py:150-159).

    Fresh implementation: suffix automaton built iteratively; for every state
    with ``len >= MIN_REPEAT_LEN`` and >= 2 end positions, the *maximal*
    substring of that state (exactly state.len chars) is recorded at each
    occurrence — the same selection the reference makes (it computes but
    never uses the suffix link length, clear_redundancy.py:116-133).

    Scale guard: unlike the reference (which materializes a full endpos SET
    per state — O(n^2) time/memory on repetitive pages; a 12KB menu-spam page
    takes ~18s and 50KB doesn't finish), occurrence counts are first computed
    in O(n) via suffix-link counting; positions are materialized only if the
    total occurrence volume fits ``WORK_BUDGET_FACTOR * n``. Within budget the
    result is byte-identical to the reference (differential-tested); beyond it
    — only pathologically repetitive documents — the deterministic fallback
    is fixed-window chunk dedup (keep the first occurrence of each distinct
    ``MIN_REPEAT_LEN``-char window), which collapses boilerplate/menu spam
    the same way the exact algorithm would, in O(n).

    Returns ``(text, fell_back)``: ``fell_back`` is True iff the approximate
    chunk-dedup path ran instead of the exact suffix-automaton path, so
    parity audits can exclude (and pipelines can count) over-budget docs —
    the byte-identical-to-reference guarantee holds only when it is False.

    Early exit: a substring of length >= ``MIN_REPEAT_LEN`` occurs twice iff
    some ``MIN_REPEAT_LEN``-char window does, so a page whose windows are
    all distinct returns ``(s, False)`` before the automaton is built —
    exactly the automaton's own no-qualifying-state exit, decided by one
    set of slices at C speed (most pages take it).
    """
    n = len(s)
    # a length->=MIN_REPEAT_LEN substring occurring twice (occurrences may
    # overlap) needs at least MIN_REPEAT_LEN+1 chars
    if n <= MIN_REPEAT_LEN:
        return s, False
    windows = n - MIN_REPEAT_LEN + 1
    if len({s[i : i + MIN_REPEAT_LEN] for i in range(windows)}) == windows:
        return s, False
    return _repeats_automaton(s)


def _repeats_automaton(s: str) -> tuple[str, bool]:
    """The suffix-automaton body of remove_long_repeated_substrings_ex,
    without its early exits (the differential tests' baseline)."""
    n = len(s)

    # suffix automaton: arrays of (len, link, transitions dict)
    sa_len = [0]
    sa_link = [-1]
    sa_next: list[dict[str, int]] = [{}]
    own_pos = [-1]  # the end position created with this state (-1 for clones)
    cnt = [0]
    last = 0
    for pos, ch in enumerate(s):
        cur = len(sa_len)
        sa_len.append(sa_len[last] + 1)
        sa_link.append(-1)
        sa_next.append({})
        own_pos.append(pos)
        cnt.append(1)
        p = last
        while p != -1 and ch not in sa_next[p]:
            sa_next[p][ch] = cur
            p = sa_link[p]
        if p == -1:
            sa_link[cur] = 0
        else:
            q = sa_next[p][ch]
            if sa_len[p] + 1 == sa_len[q]:
                sa_link[cur] = q
            else:
                clone = len(sa_len)
                sa_len.append(sa_len[p] + 1)
                sa_link.append(sa_link[q])
                sa_next.append(dict(sa_next[q]))
                own_pos.append(-1)
                cnt.append(0)
                while p != -1 and sa_next[p].get(ch) == q:
                    sa_next[p][ch] = clone
                    p = sa_link[p]
                sa_link[q] = clone
                sa_link[cur] = clone
        last = cur

    # occurrence counts (== |endpos|) via suffix-link propagation, O(n)
    order = sorted(range(len(sa_len)), key=lambda x: -sa_len[x])
    for st in order:
        lk = sa_link[st]
        if lk != -1:
            cnt[lk] += cnt[st]

    qualifying = [
        st
        for st in range(len(sa_len))
        if sa_len[st] >= MIN_REPEAT_LEN and cnt[st] >= 2
    ]
    if not qualifying:
        return s, False
    total_work = sum(cnt[st] for st in qualifying)
    if total_work > WORK_BUDGET_FACTOR * n:
        return _chunk_dedup(s, MIN_REPEAT_LEN), True

    # materialize end positions only for qualifying states: each original
    # (non-clone) state carries one end position, which belongs to every
    # suffix-link ancestor's endpos set
    qual = set(qualifying)
    positions: dict[int, list[int]] = {st: [] for st in qualifying}
    walk_budget = WORK_BUDGET_FACTOR * n * 4  # link chains also bounded
    for st in range(1, len(sa_len)):
        p = own_pos[st]
        if p < 0:
            continue
        node = st
        while node > 0:
            walk_budget -= 1
            if walk_budget < 0:
                return _chunk_dedup(s, MIN_REPEAT_LEN), True
            if node in qual:
                positions[node].append(p)
            node = sa_link[node]

    # collect occurrence intervals of repeated maximal substrings
    occurrences: dict[str, list[tuple[int, int]]] = {}
    for st in qualifying:
        length = sa_len[st]
        for end in positions[st]:
            start = end - length + 1
            if start < 0:
                continue
            occurrences.setdefault(s[start : end + 1], []).append((start, end))

    to_remove: list[tuple[int, int]] = []
    for intervals in occurrences.values():
        if len(intervals) < 2:
            continue
        intervals.sort(key=lambda x: x[0])
        to_remove.extend(intervals[1:])
    if not to_remove:
        return s, False

    to_remove.sort()
    merged: list[list[int]] = [list(to_remove[0])]
    for a, b in to_remove[1:]:
        if a <= merged[-1][1] + 1:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])

    pieces: list[str] = []
    idx = 0
    for a, b in merged:
        if idx < a:
            pieces.append(s[idx:a])
        idx = b + 1
    if idx < n:
        pieces.append(s[idx:])
    return "".join(pieces), False


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
