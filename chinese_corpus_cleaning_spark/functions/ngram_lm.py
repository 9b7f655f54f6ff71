"""KenLM-style n-gram language model with Lidstone smoothing.

Reproduces the semantics recovered from the reference's deleted
``perplexity.py`` (disassembly of
/root/reference/text_quality_filter/utils/__pycache__/perplexity.cpython-310.pyc,
documented in SURVEY.md §2.9):

  * pad tokens with (n-1) ``<s>`` and one ``</s>``; emit (context, word) pairs
  * P(w|ctx) = (count(ctx,w) + alpha) / (count(ctx) + alpha * |V|), alpha=0.1
  * perplexity = 2 ** (-mean(log2 P)), log floor -100 when P <= 0; empty -> inf
  * score: 0.0 if ppl >= PPL_MAX; 1.0 if ppl <= PPL_THRESHOLD/2; else
    max(0, 1 - (ppl - thr/2) / (PPL_MAX - thr/2))

jieba is unavailable in this sandbox; the tokenizer below is a deterministic
fallback: runs of latin letters/digits are one token, every CJK char is its
own token (jieba's coarse behaviour on unseen text degrades to roughly this).
When jieba IS importable it is used instead for parity with the reference.

The *distributed* training/scoring paths live in operators/perplexity.py:
training is explode-ngrams -> groupBy(context, word).count() (hash aggregation
with map-side partials); scoring is either a broadcast-dict pandas UDF (fast
path) or a relational explode + broadcast join + agg (oracle-checkable path).
Both call into the arithmetic here.
"""

from __future__ import annotations

import math
import re
from collections import Counter
from dataclasses import dataclass, field

BOS = "<s>"
EOS = "</s>"
LOG_FLOOR = -100.0
LIDSTONE_ALPHA = 0.1
# banded score threshold and cap, shared with ppl_score_col and the oracles
PPL_THRESHOLD = 500.0
PPL_MAX = 10000.0

_TOKEN = re.compile(r"[A-Za-z0-9]+|[一-鿿]")

try:  # pragma: no cover - jieba absent in sandbox
    import jieba  # type: ignore

    def tokenize(text: str) -> list[str]:
        return list(jieba.cut(text))

except ImportError:

    def tokenize(text: str) -> list[str]:
        return _TOKEN.findall(text)


def ngrams(tokens: list[str], n: int) -> list[tuple[tuple[str, ...], str]]:
    """(context, word) pairs over the padded sequence (SURVEY.md §2.9)."""
    padded = [BOS] * (n - 1) + tokens + [EOS]
    return [
        (tuple(padded[i - (n - 1) : i]), padded[i])
        for i in range(n - 1, len(padded))
    ]


@dataclass
class NgramModel:
    n: int = 5
    alpha: float = LIDSTONE_ALPHA
    counts: dict[tuple[str, ...], Counter] = field(default_factory=dict)
    vocab: Counter = field(default_factory=Counter)

    def train(self, texts: list[str]) -> "NgramModel":
        for text in texts:
            tokens = tokenize(text)
            self.vocab.update(tokens)
            for ctx, w in ngrams(tokens, self.n):
                self.counts.setdefault(ctx, Counter())[w] += 1
        return self

    def prob(self, ctx: tuple[str, ...], word: str) -> float:
        c = self.counts.get(ctx)
        v = len(self.vocab)
        num = (c[word] if c else 0) + self.alpha
        den = (sum(c.values()) if c else 0) + self.alpha * v
        return num / den if den > 0 else 0.0

    def perplexity(self, text: str) -> float:
        tokens = tokenize(text)
        # empty -> inf per the recovered reference spec (SURVEY.md §2.9
        # "empty → inf"): the check must be on TOKENS — ngrams() pads
        # with <s>/<//s> so grams is never empty and the old
        # `if not grams` guard was unreachable, letting token-less text
        # score a low FINITE ppl that could pass the gate (review
        # finding). The distributed whitespace-delimited paths keep
        # their own ''-is-one-empty-token semantics (gate-pinned).
        if not tokens:
            return math.inf
        grams = ngrams(tokens, self.n)
        total = 0.0
        for ctx, w in grams:
            p = self.prob(ctx, w)
            total += math.log2(p) if p > 0 else LOG_FLOOR
        return 2.0 ** (-total / len(grams))

    # --- flattened export for broadcast / DataFrame use ---
    def export_tables(self) -> tuple[dict[tuple[str, ...], int], dict[tuple[tuple[str, ...], str], int], int]:
        """(context_totals, pair_counts, vocab_size) — the compact broadcast
        state used by the scoring UDF and by the relational scoring plan."""
        ctx_tot = {ctx: sum(c.values()) for ctx, c in self.counts.items()}
        pairs = {
            (ctx, w): cnt for ctx, c in self.counts.items() for w, cnt in c.items()
        }
        return ctx_tot, pairs, len(self.vocab)


def perplexity_score(ppl: float) -> float:
    """Banded score from the recovered PerplexityCalculator (SURVEY.md §2.9);
    the ppl is first capped at PPL_MAX (calculate_perplexity = min(ppl, max))."""
    ppl = min(ppl, PPL_MAX)
    if ppl >= PPL_MAX:
        return 0.0
    half = PPL_THRESHOLD / 2
    if ppl <= half:
        return 1.0
    return max(0.0, 1.0 - (ppl - half) / (PPL_MAX - half))
