"""Shortest-match keyword automaton: scrub + detect in a single scan.

Reproduces the decision semantics of the reference's DFAFilter
(/root/reference/text_quality_filter/utils/sensitive_filter.py):
  trie build -> sensitive_filter.py:19-44 (keywords lowercased then stripped)
  filter()   -> sensitive_filter.py:72-104 (scrub: lowercase whole message,
                replace each *shortest* keyword match with repl*len, restart
                the scan right after the match; on a partial-match mismatch
                emit ONE char and re-scan from the next position)
  detect()   -> sensitive_filter.py:106-134 (same walk, collect matches)

Fresh implementation notes:
  * One walk produces both the scrubbed text and the match list; the reference
    scans the document twice (filter + detect) plus once per line.
  * The scrubbed output is lowercased *by design* (sensitive_filter.py:82) —
    byte parity requires keeping that quirk.
  * Shortest-match boundary behaviour (e.g. keyword "1989年" must not scrub a
    bare "1989" — /root/reference/filter.py:162-165) follows from emitting a
    single char on mismatch and rescanning, which this walk preserves.

The trie is a plain nested dict {char: node}; terminal nodes carry the key
``_END`` (True). Built once on the driver, broadcast to executors, walked
inside Arrow-batched pandas UDFs.
"""

from __future__ import annotations

from collections.abc import Iterable

_END = "\x00"  # terminal marker key; same sentinel char as the reference


def build_trie(keywords: Iterable[str]) -> dict:
    """Build the keyword trie. Keywords are lowercased then stripped
    (sensitive_filter.py:25-27); empties are skipped."""
    root: dict = {}
    for kw in keywords:
        chars = kw.lower().strip()
        if not chars:
            continue
        node = root
        for ch in chars:
            node = node.setdefault(ch, {})
        node[_END] = True
    return root


def scan_positions(message: str, trie: dict) -> tuple[str, list[tuple[int, str]]]:
    """Single walk returning ``(scrubbed_lowercased_text,
    [(start_pos, matched_word), ...])`` — one pass serves scrub, detect AND
    the per-line feature counting (functions/feature.py), where the reference
    walks the document once per concern plus once per line.

    Match semantics are exactly sensitive_filter.py:72-134: from each start
    position walk the trie; the first node carrying the terminal marker wins
    (shortest match); the scan resumes immediately after the matched span.
    On mismatch after a partial walk, one character is emitted and the scan
    restarts at start+1 (so overlapping partial prefixes are re-examined).
    """
    message = message.lower()
    n = len(message)
    out: list[str] = []
    matches: list[tuple[int, str]] = []
    start = 0
    while start < n:
        node = trie
        i = start
        matched = -1
        while i < n:
            nxt = node.get(message[i])
            if nxt is None:
                break
            i += 1
            if _END in nxt:
                matched = i
                break
            node = nxt
        if matched >= 0:
            out.append("*" * (matched - start))
            matches.append((start, message[start:matched]))
            start = matched
        else:
            out.append(message[start])
            start += 1
    return "".join(out), matches


def scan(message: str, trie: dict) -> tuple[str, list[str]]:
    """``(scrubbed_lowercased_text, matched_words)`` — see scan_positions."""
    scrubbed, matches = scan_positions(message, trie)
    return scrubbed, [w for _, w in matches]


def detect(message: str, trie: dict) -> list[str]:
    """Matches only (sensitive_filter.py:106-134)."""
    return scan(message, trie)[1]


def scrub(message: str, trie: dict) -> str:
    """Scrubbed text only (sensitive_filter.py:72-104)."""
    return scan_positions(message, trie)[0]
