"""Deterministic language identification.

The reference gates documents on fastText lid.176.bin: keep iff the top-1
label is ``__label__zh`` with confidence >= 0.7, after whitespace cleaning,
and documents shorter than 10 chars are rejected outright
(/root/reference/tool.py:16-35).

fastText (and its model file) is not available in this sandbox, so this module
provides a deterministic, dependency-free classifier behind the same
interface: character-class ratios + tiny stopword profiles. The pipeline
always uses ``identify`` (operators/extract.py ``extract_full``).
``FastTextLangId`` is a standalone wrapper with identical call semantics for
callers that have the ``fasttext`` package and a model file; no operator
calls it. The heuristic is intentionally simple and *stable* — correctness
gates compare engine-vs-oracle determinism, not linguistic accuracy.

Both this Python form and the SQL form used for DuckDB oracle parity
(__spark_entry__.py) implement exactly the same arithmetic: per-language score
= marker-token hits; zh score = CJK chars; argmax with alphabetical tie-break.
"""

from __future__ import annotations

import re

from .cleaning import clean_text

_CJK = re.compile(r"[一-鿿]")

# tiny high-precision function-word profiles (lowercased, matched as whole
# space-separated tokens). Deterministic, dialect-portable (no regex classes
# beyond literals) so the same logic is expressible in ANSI SQL.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it", "a"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu"),
    "es": ("el", "la", "los", "las", "de", "que", "es", "una", "para"),
    "fr": ("le", "la", "les", "des", "est", "une", "dans", "pour", "avec"),
}
LANGS = tuple(sorted(STOPWORDS))  # alphabetical tie-break order

# the keep gate (tool.py:16-28), shared with is_zh_relational and its oracle
ZH_MIN_CHARS = 10
ZH_THRESHOLD = 0.7


def identify(text: str) -> tuple[str, float, bool]:
    """Return ``(lang, confidence, is_zh)``.

    Mirrors the reference's gate shape (tool.py:16-35): short/empty text ->
    ("", 0.0, False); otherwise classify the cleaned text. ``is_zh`` is True
    iff lang == "zh" and confidence >= ZH_THRESHOLD.
    """
    if not text or len(text) < ZH_MIN_CHARS:
        return "", 0.0, False
    cleaned = clean_text(text)
    if not cleaned:
        return "", 0.0, False

    n = len(cleaned)
    cjk = len(_CJK.findall(cleaned))
    zh_score = cjk / n

    tokens = cleaned.lower().split(" ")
    n_tokens = len(tokens)
    best_lang = "und"
    best_score = 0.0
    for lang in LANGS:
        hits = sum(1 for t in tokens if t in STOPWORDS[lang])
        score = hits / n_tokens if n_tokens else 0.0
        if score > best_score:
            best_lang, best_score = lang, score

    if zh_score >= best_score and zh_score > 0.0:
        lang, conf = "zh", zh_score
    elif best_score > 0.0:
        lang, conf = best_lang, min(1.0, best_score * 4.0)
    else:
        lang, conf = "und", 0.0
    return lang, conf, lang == "zh" and conf >= ZH_THRESHOLD


class FastTextLangId:  # pragma: no cover - optional, model not in sandbox
    """fastText-backed variant with the reference's exact gate
    (tool.py:16-35). Requires the ``fasttext`` package and a model path."""

    def __init__(self, model_path: str) -> None:
        import fasttext  # type: ignore

        self.model = fasttext.load_model(model_path)

    def identify(self, text: str) -> tuple[str, float, bool]:
        if not text or len(text) < ZH_MIN_CHARS:
            return "", 0.0, False
        cleaned = clean_text(text)
        if not cleaned:
            return "", 0.0, False
        try:
            labels, confs = self.model.predict(cleaned, k=1)
            lang = labels[0].replace("__label__", "")
            conf = float(confs[0])
            return lang, conf, lang == "zh" and conf >= ZH_THRESHOLD
        except Exception:
            return "", 0.0, False
