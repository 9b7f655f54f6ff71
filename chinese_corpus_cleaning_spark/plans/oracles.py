"""DuckDB oracle SQL for every entry in plans/catalog.QUERIES.

Each SQL string recomputes the corresponding query's result independently in
DuckDB (tables pre-registered as views by the driver). The arithmetic mirrors
the Spark side operation-for-operation (same literals, same left-associative
float chains, same md5-h60 hashing) so order-insensitive value hashes match.

Dialect mapping used throughout:
  Spark                          DuckDB
  conv(substr(md5(x),1,15),16,10)  ('0x'||substr(md5(x),1,15))::bigint
  regexp_count(c, p)               len(regexp_extract_all(c, p))
  transform(sequence(a,b), f)      list_transform(generate_series(a,b), f)
  aggregate(l, 0, (a,x)->a+x)      list_sum(l)
  slice(l, i, n)                   l[i : i+n-1]      (both 1-based inclusive)
  split(s, ' ')                    string_split(s, ' ')
"""

from __future__ import annotations

from ..config import BM25_B, BM25_K1, DEFAULT, WEIGHT_CLUSTERING, WEIGHT_PERPLEXITY
from ..functions.langid import STOPWORDS
from ..functions.ngram_lm import BOS, EOS, LIDSTONE_ALPHA, LOG_FLOOR, PPL_MAX, PPL_THRESHOLD
from ..functions.spam import SPAM_PPL_THRESHOLD
from ..operators.classifier import GRAM_N, NB_ALPHA
from ..operators.dedup import DBSCAN_MIN_SAMPLES, JACCARD_K, JACCARD_THRESHOLD
from ..operators.dedup import SIMHASH_BANDS, SIMHASH_MAX_HAMMING
from ..operators.perplexity import LM_ORDER
from ..operators.similarity import CLUSTER_THRESHOLD, IVF_CELLS, IVF_K
from ..operators.similarity import RP_PLANES, hyperplane_sign_expr
from ..operators.textanalysis import HIST_BUCKET_WIDTH, SPAN_K, SPAN_MOD_P, WINNOW_K
from .curation import BOILERPLATE_MIN_DOC_FRAC
from .catalog import (
    AC_LEXICON,
    EN_LEXICON,
    RX_CJK,
    RX_EMOJI,
    RX_SYMBOL,
    RX_URL,
    _BM25_K,
    _BPE_TOP,
    _COSINE_K,
    _DECON_N,
    _NGRAM_MIN_COUNT,
    _SEMDEDUP_TAU,
    _SMALL_MINHASH,
    _STRATUM_K,
    _VOCAB_K,
)

R = DEFAULT.rule


def _rp_bucket_sql() -> str:
    """similarity.rp_lsh_buckets' bucket id in DuckDB."""

    def elem(i):
        return f"(embedding[{i}]::double)"

    return " + ".join(
        f"({hyperplane_sign_expr(p, elem)}::bigint * {1 << p})"
        for p in range(RP_PLANES)
    )


def _h60(e: str) -> str:
    return f"(('0x' || substr(md5({e}), 1, 15))::bigint)"


def _rx_count(col: str, pattern: str) -> str:
    return f"len(regexp_extract_all({col}, '{pattern}'))"


# --- shared CTE fragments -------------------------------------------------

def _shingles(k: int) -> str:
    """Distinct char k-shingles per doc (dedup.shingle_explode)."""
    return (
        f"select doc_id, unnest(case when length(text) < {k} then [text] else "
        f"list_distinct(list_transform(generate_series(1, length(text) - {k - 1}), "
        f"i -> substr(text, i, {k}))) end) as shingle from documents"
    )


_SHINGLES_MH = _shingles(_SMALL_MINHASH.shingle_size)

_SH_WIDTH = 60 // SIMHASH_BANDS  # simhash_near_dup_pairs' band width
_NH = _SMALL_MINHASH.num_hashes
_NB = _SMALL_MINHASH.num_bands
_ROWS = _NH // _NB

from ..functions.hashing import MINHASH_P, minhash_params

_PERM_ROWS = ", ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(minhash_params(_NH))
)
_SIG = (
    "select doc_id, slot, "
    f"min((a * ((('0x' || substr(md5(shingle), 1, 15))::bigint) % {MINHASH_P}) + b) % {MINHASH_P}) as minhash "
    f"from sh cross join (values {_PERM_ROWS}) perms(slot, a, b) "
    "group by doc_id, slot"
)

_BANDS = (
    "select doc_id, b as band, (('0x' || substr(md5(cast(b as varchar) || '|' || "
    f"array_to_string(sig[b * {_ROWS} + 1 : b * {_ROWS} + {_ROWS}], ',')), 1, 15))::bigint) as band_key "
    "from (select doc_id, list(minhash order by slot) as sig from sig group by doc_id) "
    f"cross join (select unnest(generate_series(0, {_NB - 1})) as b) bands"
)


# the LM_ORDER-gram (context, word) rows of operators/perplexity over the
# padded token list ``t`` (ngram_lm.ngrams semantics)
_LM_TOKS = (
    "[" + ", ".join([f"'{BOS}'"] * (LM_ORDER - 1)) + "]"
    f" || string_split(text, ' ') || ['{EOS}']"
)
_LM_GRAMS = (
    f"unnest(list_transform(generate_series({LM_ORDER}, len(t)),\n"
    f"    i -> {{'context': array_to_string(t[i-{LM_ORDER - 1} : i-1], chr(31)), 'word': t[i]}}),\n"
    "    recursive := true)"
)


def _lm_ctes(v: str) -> str:
    """The LM over documents (toks .. ctx) and its vocabulary size ``v``;
    :func:`_lm_log2p` over :func:`_lm_from` is perplexity_relational's."""
    return f"""toks as (select doc_id, ({_LM_TOKS}) as t from documents),
grams as (
  select doc_id, {_LM_GRAMS}
  from toks),
model as (select context, word, count(*) as cnt from grams group by 1, 2),
ctx as (select context, sum(cnt) as ctx_cnt from model group by 1),
{v} as (select count(distinct tok) as v from (select unnest(string_split(text, ' ')) as tok from documents))"""


def _lm_log2p(v: str) -> str:
    a = LIDSTONE_ALPHA
    return (
        f"greatest(log2((coalesce(m.cnt, 0) + {a}) / "
        f"(coalesce(c.ctx_cnt, 0) + {a} * {v}.v)), {LOG_FLOOR})"
    )


def _lm_from(v: str) -> str:
    return f"""  from grams g
  left join model m on m.context = g.context and m.word = g.word
  left join ctx c on c.context = g.context
  cross join {v}"""


# classifier._gram_expr's GRAM_N-gram bag over ``t`` (multiplicity kept,
# the whole text as one gram when shorter than GRAM_N)
_CLF_GRAMS = (
    f"unnest(case when length(t) < {GRAM_N} then [t]\n"
    f"    else list_transform(generate_series(1, length(t) - {GRAM_N - 1}),\n"
    f"                        i -> substr(t, i, {GRAM_N})) end)"
)


def _nb_weight_sql(n_buckets: int) -> str:
    """classifier.nb_logodds_weights' Laplace-smoothed log-odds ``w`` over
    the per-bucket class counts ``per`` (c1, c0), quantized like
    classifier_score."""
    a, b = NB_ALPHA, NB_ALPHA * n_buckets
    return f"""tot as (select sum(c1) as t1, sum(c0) as t0 from per),
w as (
  select bucket,
    round(ln((c1 + {a}) / (t1 + {b}))
          - ln((c0 + {a}) / (t0 + {b})), 6)::decimal(18,6) as wq
  from per cross join tot)"""


# minhash_similarity_pairs over the shingles ``sh``: signatures, LSH band
# keys, distinct candidate pairs, and each pair's agreeing slot count
_LSH_CAND = f"""sig as ({_SIG}),
bandt as ({_BANDS}),
cand as (
  select distinct a.doc_id as id_a, b.doc_id as id_b
  from bandt a join bandt b using (band_key)
  where a.doc_id < b.doc_id)"""
_LSH_AGREE = """agree as (
  select c.id_a, c.id_b,
         sum(case when sa.minhash = sb.minhash then 1 else 0 end) as agr
  from cand c
  join sig sa on sa.doc_id = c.id_a
  join sig sb on sb.doc_id = c.id_b and sb.slot = sa.slot
  group by 1, 2)"""


# dedup._jaccard_filter over pair intersections ``inter`` and counts ``sizes``
_JACCARD_TAIL = f"""select id_a::bigint as id_a, id_b::bigint as id_b,
       round(n_inter / (na.n + nb.n - n_inter), 9) as jaccard
from inter
join sizes na on na.id = id_a
join sizes nb on nb.id = id_b
where n_inter / (na.n + nb.n - n_inter) >= {JACCARD_THRESHOLD}"""


def _topk_sql(k: int) -> str:
    """similarity._topk over the cosine pairs ``p``."""
    return f"""r as (select *, row_number() over (partition by vec_id order by cos_sim desc, neighbor_id) as rank from p)
select vec_id::bigint as vec_id, neighbor_id::bigint as neighbor_id,
       round(cos_sim, 6) as cos_sim, rank::bigint as rank
from r where rank <= {k}"""


def _lines() -> str:
    return "list_filter(string_split(text, chr(10)), l -> trim(l) <> '')"


def _avg_line() -> str:
    lines = _lines()
    return (
        f"case when len({lines}) > 0 then "
        f"list_sum(list_transform({lines}, l -> length(l)))::double / len({lines}) "
        "else 0.0 end"
    )


def _dup13() -> str:
    grams = (
        "list_transform(generate_series(1, length(text) - 12), i -> substr(text, i, 13))"
    )
    return (
        "case when length(text) >= 13 then "
        f"1.0 - len(list_distinct({grams}))::double / (length(text) - 12) "
        "else 0.0 end"
    )


def _occ(col: str, w: str) -> str:
    """Non-overlapping occurrence count of literal w (== DFA matches for the
    overlap-free EN_LEXICON)."""
    return f"((length({col}) - length(replace({col}, '{w}', ''))) // {len(w)})"


def _scrub_chain() -> str:
    out = "lower(text)"
    for w in EN_LEXICON:
        out = f"replace({out}, '{w}', '{'*' * len(w)}')"
    return out


def _feature_cte() -> str:
    """Per-doc feature stats over EN_LEXICON (feature_words.py semantics on a
    lexicon whose DFA matches == literal occurrence counts)."""
    lower_occ = " + ".join(_occ("lower(text)", w) for w in EN_LEXICON)
    distinct_words = " + ".join(
        f"case when {_occ('lower(text)', w)} > 0 then 1 else 0 end" for w in EN_LEXICON
    )
    line_occ = " + ".join(_occ("lower(l)", w) for w in EN_LEXICON)
    lines = _lines()  # non-blank lines (reference counts matches on those)
    line_sum = (
        f"list_sum(list_transform({lines}, l -> {line_occ}))"
    )
    valid = "len(list_filter(string_split(text, chr(10)), l -> length(trim(l)) >= 5))"
    return f"""
  select doc_id, length(text) as flen,
    ({lower_occ}) as feature_count,
    ({distinct_words}) as distinct_feature_words,
    case when {valid} > 0 then coalesce({line_sum}, 0)::double / {valid} else 0.0 end as avg_feature_per_line
  from documents
"""


def _feature_score() -> str:
    """Banded score (feature_words.py:231-314): ratio = distinct_matches /
    (chars/10); no high-weight/common/negative-context hits possible on the
    ASCII corpus (all are CJK or contain '.' / ':' absent from the vocab)."""
    ratio = "(distinct_feature_words / (flen / 10))"
    return (
        "case when flen = 0 then 0.0 "
        f"when {ratio} > 0.2 then 0.0 "
        f"when {ratio} > 0.1 then 0.2 "
        f"when {ratio} > 0.05 then 0.5 "
        f"when {ratio} > 0.01 then 0.8 "
        "else 1.0 end"
    )


def _rule_stats_cte() -> str:
    return f"""
  select doc_id, text, length(text) as n,
    {_avg_line()} as avg_line,
    len({_lines()}) as n_lines,
    {_rx_count('text', RX_CJK)} as cjk,
    {_rx_count('text', RX_SYMBOL)} as sym,
    (length(text) - length(replace(text, '|', ''))) as vbar,
    (length(text) - length(replace(text, ',', ''))) as comma,
    {_rx_count('text', RX_URL)} as urls,
    {_rx_count('text', RX_EMOJI)} as emoji,
    {_dup13()} as dup13
  from documents
"""


def _rule_flags() -> dict[str, str]:
    return {
        "length_check": f"(n >= {R.min_text_length})",
        "avg_line_check": f"(n_lines > 0 and avg_line >= {R.min_avg_line_length})",
        "chinese_check": f"(n > 0 and cjk / n >= {R.min_chinese_ratio})",
        "symbol_check": f"(n > 0 and sym / n <= {R.max_symbol_ratio})",
        "dup_check": f"(dup13 <= {R.max_internal_dup_ratio})",
        "vbar_check": f"(n > 0 and vbar / n <= {R.max_vertical_bar_ratio})",
        "comma_check": f"(n > 0 and comma / n <= {R.max_comma_ratio})",
        "url_check": f"(n > 0 and urls / n <= {R.max_url_density})",
        "emoji_check": f"(n > 0 and emoji / n <= {R.max_emoji_ratio})",
    }


def _rule_score_sql() -> str:
    """D1 weighted rule score (rule_filter.py:262-404), same float-op order
    as functions/textstats.rule_score. The CJK SEO-spam regexes can never
    match the ASCII corpus and are elided from the spam predicate here (the
    vbar/url spam arms are kept verbatim)."""
    f = _rule_flags()
    s1 = f"case when {f['length_check']} then 1.0 else least(1.0, n / {R.min_text_length}) end"
    s2 = (
        f"case when {f['avg_line_check']} then 1.0 "
        f"when n_lines > 0 then least(1.0, avg_line / {R.min_avg_line_length}) else 0.0 end"
    )
    s3 = f"case when {f['chinese_check']} then 1.0 else least(1.0, (case when n > 0 then cjk / n else 0.0 end) / {R.min_chinese_ratio}) end"
    s4 = (
        f"case when {f['symbol_check']} then 1.0 "
        f"when sym = 0 then 1.0 "
        f"else greatest(0.0, least(1.0, {R.max_symbol_ratio} / (sym / n))) end"
    )
    s5 = (
        f"case when {f['dup_check']} then 1.0 "
        "when n < 13 then 1.0 "
        f"when dup13 > 0 then greatest(0.0, least(1.0, {R.max_internal_dup_ratio} / dup13)) else 1.0 end"
    )
    s6 = (
        f"case when {f['vbar_check']} then 1.0 "
        f"when vbar > 0 then greatest(0.0, least(0.5, {R.max_vertical_bar_ratio} / (vbar / n))) "
        "else greatest(0.0, least(0.5, 1.0)) end"
    )
    s7 = (
        f"case when {f['comma_check']} then 1.0 "
        f"when comma > 0 then greatest(0.0, least(1.0, {R.max_comma_ratio} / (comma / n))) else 1.0 end"
    )
    s8 = (
        f"case when {f['url_check']} then 1.0 "
        f"when urls > 0 then greatest(0.0, least(0.3, {R.max_url_density} / (urls / n))) "
        "else greatest(0.0, least(0.3, 1.0)) end"
    )
    s9 = (
        f"case when {f['emoji_check']} then 1.0 "
        f"when emoji > 0 then greatest(0.0, least(1.0, {R.max_emoji_ratio} / (emoji / n))) else 1.0 end"
    )
    weighted = (
        f"(({s1}) * 0.05 + ({s2}) * 0.1 + ({s3}) * 0.15 + ({s4}) * 0.1 + ({s5}) * 0.1"
        f" + ({s6}) * 0.2 + ({s7}) * 0.1 + ({s8}) * 0.1 + ({s9}) * 0.1)"
        " / (0.05 + 0.1 + 0.15 + 0.1 + 0.1 + 0.2 + 0.1 + 0.1 + 0.1)"
    )
    spam = (
        f"((contains(text, '|') and vbar / n > {R.max_vertical_bar_ratio} * 2)"
        f" or (urls / n > {R.max_url_density} * 3))"
    )
    all_pass = " and ".join(f.values())
    return (
        f"case when {all_pass} then 1.0 "
        f"when {spam} then ({weighted}) * 0.3 "
        f"else ({weighted}) end"
    )


# --------------------------------------------------------------------- SQLs


def build() -> dict[str, str]:
    o: dict[str, str] = {}

    o["rule_length_check"] = f"""
select doc_id, length(text)::bigint as text_len,
       length(text) >= {R.min_text_length} as pass_length
from documents"""

    o["rule_avg_line_length"] = f"""
select doc_id, round({_avg_line()}, 9) as avg_line_len,
       (len({_lines()}) > 0 and ({_avg_line()}) >= {R.min_avg_line_length}) as pass_avg_line
from documents"""

    o["rule_char_ratios"] = f"""
with s as ({_rule_stats_cte()})
select doc_id,
  round(cjk / n, 9) as chinese_ratio,
  round(sym / n, 9) as symbol_ratio,
  round(vbar / n, 9) as vbar_ratio,
  round(comma / n, 9) as comma_ratio,
  (n > 0 and cjk / n >= {R.min_chinese_ratio}) as pass_chinese,
  (n > 0 and sym / n <= {R.max_symbol_ratio}) as pass_symbol,
  (n > 0 and vbar / n <= {R.max_vertical_bar_ratio}) as pass_vbar,
  (n > 0 and comma / n <= {R.max_comma_ratio}) as pass_comma
from s"""

    o["rule_url_emoji"] = f"""
with s as ({_rule_stats_cte()})
select doc_id,
  round(urls / n, 9) as url_density,
  round(emoji / n, 9) as emoji_ratio,
  (n > 0 and urls / n <= {R.max_url_density}) as pass_url,
  (n > 0 and emoji / n <= {R.max_emoji_ratio}) as pass_emoji
from s"""

    o["rule_dup13"] = f"""
select doc_id, round({_dup13()}, 9) as dup13_ratio,
       ({_dup13()}) <= {R.max_internal_dup_ratio} as pass_dup13
from documents"""

    o["scrub_text"] = f"""
select doc_id, {_scrub_chain()} as scrubbed_text from documents"""

    o["feature_eval"] = f"""
with feat as ({_feature_cte()})
select doc_id,
  feature_count::bigint as feature_count,
  round(avg_feature_per_line, 9) as avg_feature_per_line,
  (avg_feature_per_line <= {DEFAULT.feature.max_feature_words_per_line}) as feature_passed,
  ({_feature_score()}) as feature_score
from feat"""

    o["quality_keep"] = f"""
with s as ({_rule_stats_cte()}),
feat as ({_feature_cte()}),
scored as (
  select s.doc_id,
    ({' and '.join(_rule_flags().values())}) as rule_passed,
    ({_rule_score_sql()}) as rule_score,
    ({_feature_score()}) as feature_score
  from s join feat on s.doc_id = feat.doc_id
)
select doc_id, rule_passed, round(rule_score, 9) as rule_score, feature_score,
  round((rule_score * {DEFAULT.weight_rule} + feature_score * {DEFAULT.weight_feature})
        / {DEFAULT.weight_rule + DEFAULT.weight_feature}, 9) as quality_score,
  ((rule_score * {DEFAULT.weight_rule} + feature_score * {DEFAULT.weight_feature})
        / {DEFAULT.weight_rule + DEFAULT.weight_feature}) >= {DEFAULT.quality_threshold} as keep
from scored"""

    o["dedup_exact"] = """
select md5(text) as text_md5, min(doc_id)::bigint as keep_id,
       count(*)::bigint as n_docs
from documents group by md5(text)"""

    o["ngram_jaccard_pairs"] = f"""
with sh as ({_shingles(JACCARD_K)}),
sizes as (select doc_id as id, count(*) as n from sh group by doc_id),
inter as (
  select a.doc_id as id_a, b.doc_id as id_b, count(*) as n_inter
  from sh a join sh b using (shingle)
  where a.doc_id < b.doc_id
  group by 1, 2)
{_JACCARD_TAIL}"""

    o["minhash_signatures"] = f"""
with sh as ({_SHINGLES_MH}),
sig as ({_SIG})
select doc_id::bigint as doc_id, slot::bigint as slot, minhash from sig"""

    o["lsh_band_keys"] = f"""
with sh as ({_SHINGLES_MH}),
sig as ({_SIG})
select doc_id::bigint as doc_id, band::bigint as band, band_key
from ({_BANDS})"""

    o["dedup_minhash_pairs"] = f"""
with sh as ({_SHINGLES_MH}),
{_LSH_CAND},
{_LSH_AGREE}
select id_a::bigint as id_a, id_b::bigint as id_b,
       round(agr / {_NH}, 9) as est_jaccard
from agree where agr / {_NH} >= {_SMALL_MINHASH.similarity_threshold}"""

    o["simhash"] = f"""
with toks as (select doc_id as id, unnest(string_split(text, ' ')) as tok from documents),
th as (select id, {_h60('tok')} as h from toks),
bits as (
  select id, bit, sum(case when (h >> bit) & 1 = 1 then 1 else -1 end) as s
  from th cross join (select unnest(generate_series(0, 59)) as bit) b
  group by id, bit)
select id::bigint as doc_id,
       sum(case when s > 0 then (1::bigint << bit) else 0::bigint end)::bigint as simhash
from bits group by id"""

    o["simhash_near_dup_pairs"] = f"""
with toks as (select doc_id as id, unnest(string_split(text, ' ')) as tok from documents),
th as (select id, {_h60('tok')} as h from toks),
bits as (
  select id, bit, sum(case when (h >> bit) & 1 = 1 then 1 else -1 end) as s
  from th cross join (select unnest(generate_series(0, 59)) as bit) b
  group by id, bit),
sims as (
  select id,
    sum(case when s > 0 then (1::bigint << bit) else 0::bigint end)::bigint as sh
  from bits group by id),
bands as (
  select id, sh, b as band, (sh >> (b * {_SH_WIDTH})) & {(1 << _SH_WIDTH) - 1} as val
  from sims cross join (select unnest(generate_series(0, {SIMHASH_BANDS - 1})) as b) bb),
p as (
  select a.id as id_a, x.id as id_b, bit_count(xor(a.sh, x.sh)) as hamming
  from bands a join bands x on a.band = x.band and a.val = x.val and a.id < x.id)
select distinct id_a::bigint as id_a, id_b::bigint as id_b, hamming::bigint as hamming
from p where hamming <= {SIMHASH_MAX_HAMMING}"""

    o["fingerprint_winnow"] = f"""
select doc_id::bigint as doc_id,
  list_min(list_transform(generate_series(1, greatest(length(text) - {WINNOW_K - 1}, 1)),
           i -> (('0x' || substr(md5(substr(text, i, {WINNOW_K})), 1, 15))::bigint))) as fingerprint
from documents"""

    o["token_stats"] = """
select doc_id::bigint as doc_id,
  len(string_split(text, ' '))::bigint as n_tokens,
  len(list_distinct(string_split(text, ' ')))::bigint as n_distinct_tokens,
  round(list_sum(list_transform(string_split(text, ' '), t -> length(t)))::double
        / len(string_split(text, ' ')), 9) as avg_token_len
from documents"""

    hit_exprs = {
        lang: (
            "len(list_filter(string_split(text, ' '), t -> lower(t) in ("
            + ", ".join(f"'{w}'" for w in words)
            + ")))"
        )
        for lang, words in STOPWORDS.items()
    }
    langs = sorted(STOPWORDS)
    best = "greatest(" + ", ".join(f"h_{lg}" for lg in langs) + ")"
    case = " ".join(f"when h_{lg} = {best} then '{lg}'" for lg in langs)
    o["langid_stopwords"] = f"""
with h as (
  select doc_id, len(string_split(text, ' ')) as n_tokens,
    {', '.join(f'{hit_exprs[lg]} as h_{lg}' for lg in langs)}
  from documents)
select doc_id::bigint as doc_id,
  case when {best} = 0 then 'und' {case} else 'und' end as lang_pred,
  {best}::bigint as top_hits, n_tokens::bigint as n_tokens
from h"""

    o["ngram_lm_train"] = f"""
with toks as (select ({_LM_TOKS}) as t from documents),
grams as (
  select {_LM_GRAMS}
  from toks)
select context, word, count(*)::bigint as cnt from grams group by 1, 2"""

    o["ngram_lm_train_pruned"] = f"""
with toks as (select ({_LM_TOKS}) as t from documents),
grams as (
  select {_LM_GRAMS}
  from toks)
select context, word, count(*)::bigint as cnt from grams
group by 1, 2 having count(*) >= {_NGRAM_MIN_COUNT}"""

    o["ngram_perplexity"] = f"""
with {_lm_ctes("v")},
scored as (
  select g.doc_id,
    {_lm_log2p("v")} as log2p
{_lm_from("v")})
select doc_id::bigint as doc_id, round(pow(2.0, -avg(log2p)), 2) as ppl,
       round(-avg(log2p), 7) as neg_avg_log2p
from scored group by doc_id"""

    # CCNet tertile partitioning: same ppl chain, then an integer-exact
    # histogram-cutoff (3*cum >= j*n on counts — no quantile interpolation,
    # see operators/perplexity.ppl_buckets). Bins are distinct per lang so
    # the explicit ROWS frame equals RANGE on both engines.
    o["ppl_buckets"] = f"""
with {_lm_ctes("v")},
sc as (
  select g.doc_id,
    {_lm_log2p("v")} as log2p
{_lm_from("v")}),
ppl as (
  select doc_id, round(pow(2.0, -avg(log2p)), 2) as ppl,
         round(-avg(log2p), 7) as neg_avg_log2p
  from sc group by doc_id),
pl as (select p.*, d.lang from ppl p join documents d using (doc_id)),
hist as (select lang, ppl, count(*) as c from pl group by 1, 2),
cum as (
  select lang, ppl,
    sum(c) over (partition by lang order by ppl
                 rows between unbounded preceding and current row) as cum,
    sum(c) over (partition by lang) as ntot
  from hist),
cut as (
  select lang,
    min(case when 3 * cum >= ntot then ppl end) as t_head,
    min(case when 3 * cum >= 2 * ntot then ppl end) as t_middle
  from cum group by lang)
select pl.doc_id::bigint as doc_id, pl.lang, pl.ppl, pl.neg_avg_log2p,
  case when pl.ppl <= cut.t_head then 'head'
       when pl.ppl <= cut.t_middle then 'middle'
       else 'tail' end as ppl_bucket,
  cut.t_head, cut.t_middle
from pl join cut on pl.lang is not distinct from cut.lang"""

    o["cosine_topk"] = f"""
with v as (select vec_id, list_transform(embedding, x -> x::double) as e from embeddings),
n as (select vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) as nrm from v),
p as (
  select a.vec_id as vec_id, b.vec_id as neighbor_id,
    list_sum(list_transform(generate_series(1, 64), i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm) as cos_sim
  from n a, n b where a.vec_id <> b.vec_id),
{_topk_sql(_COSINE_K)}"""

    o["ann_lsh_buckets"] = f"""
select vec_id::bigint as vec_id, ({_rp_bucket_sql()})::bigint as bucket from embeddings"""

    o["quality_stats_rollup"] = """
select lang, source, count(*)::bigint as n_docs,
  sum(length(text))::bigint as total_chars,
  round(avg(length(text)), 9) as avg_chars,
  min(length(text))::bigint as min_chars,
  max(length(text))::bigint as max_chars
from documents group by lang, source"""

    o["binary_meta"] = """
select doc_id, strlen(text)::bigint as n_bytes, md5(text) as content_md5
from documents"""

    o.update(build_extra())
    o.update(build_more())
    o.update(build_ann())
    o.update(build_tpch())
    o.update(build_ivf())
    o.update(build_ac())
    o.update(build_spam())
    o.update(build_cleaning())
    o.update(build_dedup_full())
    o.update(build_textanalysis_extra())
    o.update(build_round3())
    o.update(build_round4())
    o.update(build_round5(o))
    o.update(build_round6())
    o.update(build_curation())
    o.update(build_round7())
    o.update(build_round7_late())
    return {k: v.strip() for k, v in o.items()}


# Shared by the decorated repetition_signals oracle (build_round4) and the
# undecorated CTE embedded in the gopher composite (build_round5): the whole
# query minus the leading `d` CTE. Both callers prepend their own `d`
# definition — no string-slicing coupling between the two oracles.
_REPETITION_BODY = """lines as (
  select doc_id,
    unnest(list_filter(string_split(text, chr(10)), x -> length(x) > 0)) as line
  from d),
lc as (select doc_id, line, count(*) as cnt, length(line) as len
       from lines group by doc_id, line),
ls as (
  select doc_id, sum(cnt) as n_lines, sum(cnt - 1) as dup_lines,
    sum(cnt * len) as tot_chars, sum((cnt - 1) * len) as dup_chars
  from lc group by doc_id),
toks as (select doc_id, string_split(replace(text, chr(10), ' '), ' ') as t from d),
bg as (
  select doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
    i -> t[i] || ' ' || t[i + 1])) as gram
  from toks where len(t) >= 2),
bc as (select doc_id, gram, count(*) as cnt from bg group by doc_id, gram),
bs as (select doc_id, max(cnt) as top_bi, sum(cnt) as tot_bi from bc group by doc_id),
tg as (
  select doc_id, unnest(list_transform(generate_series(1, len(t) - 2),
    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) as gram
  from toks where len(t) >= 3),
tc as (select doc_id, gram, count(*) as cnt from tg group by doc_id, gram),
ts as (select doc_id,
         sum(case when cnt > 1 then cnt else 0 end) as dup_tri,
         sum(cnt) as tot_tri
       from tc group by doc_id)
select dd.doc_id::bigint as doc_id,
  coalesce(ls.n_lines, 0)::bigint as n_lines,
  round(case when coalesce(ls.n_lines, 0) > 0
        then ls.dup_lines::double / ls.n_lines else 0.0 end, 9) as dup_line_frac,
  round(case when coalesce(ls.tot_chars, 0) > 0
        then ls.dup_chars::double / ls.tot_chars else 0.0 end, 9) as dup_line_char_frac,
  round(case when coalesce(bs.tot_bi, 0) > 0
        then bs.top_bi::double / bs.tot_bi else 0.0 end, 9) as top_bigram_frac,
  round(case when coalesce(ts.tot_tri, 0) > 0
        then ts.dup_tri::double / ts.tot_tri else 0.0 end, 9) as dup_trigram_frac
from documents dd
left join ls on ls.doc_id = dd.doc_id
left join bs on bs.doc_id = dd.doc_id
left join ts on ts.doc_id = dd.doc_id"""


def build_round4() -> dict[str, str]:
    """Gopher-style repetition quality signals (operators/textanalysis.
    repetition_signals). The decoration (doc_id%3 arms) matches
    catalog.q_repetition_signals; fraction arithmetic is a single double
    division in both engines (bit-identical), rounded to 9."""
    o: dict[str, str] = {}
    o["repetition_signals"] = (
        """
with d as (
  select doc_id,
    case when doc_id % 3 = 0 then replace(text, ' ', chr(10))
         when doc_id % 3 = 1 then text || chr(10) || substr(text, 1, 30)
                                  || chr(10) || substr(text, 1, 30)
         else text end as text
  from documents),
"""
        + _REPETITION_BODY
    )

    # decoration matches catalog._URL_DECOR verbatim ('string' is a DuckDB
    # alias for varchar); regexes are anchor + literal-class only, identical
    # semantics in Java regex and RE2
    o["url_dedup"] = """
with d as (
  select doc_id,
    case when doc_id % 5 = 0 then 'HTTP://Host' || cast(doc_id % 7 as string)
      || '.Example.com:80/p/' || cast(doc_id as string) || '/'
    when doc_id % 5 = 1 then 'http://HOST' || cast((doc_id - 1) % 7 as string)
      || '.EXAMPLE.COM/p/' || cast(doc_id - 1 as string)
    when doc_id % 5 = 2 then 'https://host' || cast(doc_id % 7 as string)
      || '.example.com:443/p/' || cast(doc_id as string) || '#frag'
    when doc_id % 5 = 3 then 'ftp://Host' || cast(doc_id % 7 as string)
      || '.example.com:80/p/' || cast(doc_id as string)
    else 'https://host' || cast(doc_id % 7 as string) || '.example.com/p/'
      || cast(doc_id as string) || '//' end as url
  from documents),
s as (select doc_id, regexp_replace(url, '#.*', '') as u from d),
p as (
  select doc_id, u,
    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) as scheme,
    lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?]+)', 1)) as hostport,
    regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]+(.*)', 1) as rest
  from s),
c as (
  select doc_id,
    case when scheme = '' then lower(u)
      else scheme || '://' ||
        case when scheme = 'http' then regexp_replace(hostport, ':80$', '')
             when scheme = 'https' then regexp_replace(hostport, ':443$', '')
             else hostport end
        || regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/+$', '')
        || regexp_extract(rest, '(\\?.*)$', 1)
    end as canon_url
  from p),
k as (select canon_url, min(doc_id) as keep_id from c group by canon_url)
select c.doc_id::bigint as doc_id, c.canon_url, k.keep_id::bigint as keep_id,
  (c.doc_id <> k.keep_id) as is_duplicate_url
from c join k using (canon_url)"""
    return {k: v.strip() for k, v in o.items()}


def build_round3() -> dict[str, str]:
    """P3 whitelist clean, K7/A3 word-list merge, J1 is_zh relational twin.
    Every regex class is imported from the SAME module constants the Spark
    side uses (portable \\x{..} / \\p{Nd} syntax, valid in Java regex AND
    RE2), so the two engines cannot drift."""
    from ..functions.cleaning import (
        EMOJI_PATTERN_PORTABLE,
        NON_WHITELIST_PORTABLE,
    )
    from ..functions.langid import LANGS, STOPWORDS, ZH_MIN_CHARS, ZH_THRESHOLD
    from ..functions.spam import PY_WS_CLASS
    from ..sources.wordlists import SMALL_LEXICON
    from .catalog import WHITELIST_DECOR

    o: dict[str, str] = {}

    o["whitelist_clean"] = f"""
with t2 as (
  select doc_id,
    text || case when doc_id % 3 = 0 then '{WHITELIST_DECOR}' else '' end
      as text2
  from documents)
select doc_id::bigint as doc_id,
  trim(regexp_replace(regexp_replace(regexp_replace(text2,
    '{EMOJI_PATTERN_PORTABLE}', '', 'g'),
    '{NON_WHITELIST_PORTABLE}', '', 'g'),
    ' {{2,}}', ' ', 'g')) as cleaned
from t2"""

    lex = ", ".join(f"'{w}'" for w in SMALL_LEXICON)
    o["merge_wordlists"] = f"""
with u as (
  select unnest(string_split(text, ' ')) as value
  from documents where doc_id % 2 = 0
  union all
  select unnest(string_split(text, ' ')) as value
  from documents where doc_id % 2 = 1
  union all
  select unnest([{lex}]) as value),
w as (select distinct trim(value) as word from u where trim(value) <> '')
select word, row_number() over (order by word) as rank from w"""

    from ..operators.extract import CJK_CLASS_PORTABLE, CTRL_CLASS_PORTABLE

    ctrl = CTRL_CLASS_PORTABLE
    score_cols = []
    for lang in LANGS:
        words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        score_cols.append(
            f"len(list_filter(toks, t -> list_contains([{words}], t)))::double"
            f" / len(toks)::double as s_{lang}"
        )
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in LANGS) + ")"
    best_lang_case = (
        "case "
        + " ".join(
            f"when s_{lang} = best_score then '{lang}'" for lang in LANGS
        )
        + " else 'und' end"
    )
    # NB the case arms run in LANGS (alphabetical) order -> earliest lang
    # wins ties, same as identify()'s strict-> loop
    o["extract_is_zh"] = f"""
with t2 as (
  select doc_id,
    case when doc_id % 11 = 0 then '短'
         when doc_id % 4 = 0 then
           repeat('中文内容', (doc_id % 9)::int + 1) || ' ' || substr(text, 1, 12)
         else text end as raw
  from documents),
c as (
  select doc_id, raw,
    trim(regexp_replace(regexp_replace(raw, '{PY_WS_CLASS}+', ' ', 'g'),
         '{ctrl}', '', 'g')) as cleaned
  from t2),
m as (
  select doc_id, raw, cleaned,
    (length(cleaned) - length(regexp_replace(cleaned,
       '{CJK_CLASS_PORTABLE}', '', 'g')))::double
      / length(cleaned)::double as zh_score,
    string_split(lower(cleaned), ' ') as toks
  from c),
s as (
  select doc_id, raw, cleaned, zh_score, {", ".join(score_cols)}
  from m),
b as (
  select doc_id, raw, cleaned, zh_score, {best} as best_score,
    {", ".join(f"s_{lang}" for lang in LANGS)}
  from s),
lc as (
  select doc_id, raw, cleaned, zh_score, best_score,
    case when zh_score >= best_score and zh_score > 0.0 then 'zh'
         when best_score > 0.0 then {best_lang_case}
         else 'und' end as lang0,
    case when zh_score >= best_score and zh_score > 0.0 then zh_score
         when best_score > 0.0 then least(1.0, best_score * 4.0)
         else 0.0 end as conf0
  from b),
g as (
  select doc_id, lang0, conf0,
    (raw is null or length(raw) < {ZH_MIN_CHARS} or length(cleaned) = 0) as gated
  from lc)
select doc_id::bigint as doc_id,
  case when gated then '' else lang0 end as lang,
  round(case when gated then 0.0 else conf0 end, 7) as conf,
  case when gated then false else (lang0 = 'zh' and conf0 >= {ZH_THRESHOLD}) end as is_zh
from g"""

    o["dbscan_clusters"] = f"""
with recursive
sh as ({_SHINGLES_MH}),
{_LSH_CAND},
{_LSH_AGREE},
near as (select id_a, id_b from agree
         where agr / {_NH} >= {_SMALL_MINHASH.similarity_threshold}),
nbr as (select id_a as id, id_b as n from near
        union select id_b, id_a from near),
core as (select id from (select id, count(*) as nn from nbr group by id)
         where nn + 1 >= {DBSCAN_MIN_SAMPLES}),
ce as (
  select p.id_a as s, p.id_b as t from near p
  where p.id_a in (select id from core) and p.id_b in (select id from core)),
sym as (select s, t from ce union select t, s from ce),
reach as (
  select s as id, t as r from sym
  union
  select reach.id, sym.t as r from reach join sym on reach.r = sym.s),
ccomp as (select id, least(id, min(r)) as comp from reach group by id),
corelab as (
  select c.id, coalesce(cc.comp, c.id) as cluster
  from core c left join ccomp cc on c.id = cc.id),
border as (
  select nbr.id, min(cl.cluster) as cluster
  from nbr join corelab cl on nbr.n = cl.id
  where nbr.id not in (select id from core)
  group by nbr.id)
select d.doc_id::bigint as doc_id,
  coalesce(cl.cluster, b.cluster, -1)::bigint as cluster,
  case when cl.id is not null then 'core'
       when b.id is not null then 'border'
       else 'noise' end as role
from documents d
left join corelab cl on d.doc_id = cl.id
left join border b on d.doc_id = b.id"""

    return o


def _dedup_cte_chain(src: str = "documents") -> str:
    """The dedup_representatives CTE chain (groups .. comp), parameterized
    on the source relation so the composed curation oracle can retarget it
    at the quality-kept subset. Must be spliced into a `with recursive`
    clause; yields `comp(id, comp)` — join ``{src}`` against it for the
    per-doc component / is_duplicate columns."""
    sh_reps = _SHINGLES_MH.replace("from documents", "from reps")
    thr = _SMALL_MINHASH.similarity_threshold
    return f"""groups as (select text, min(doc_id) as rep from {src} group by text),
exact_edges as (
  select g.rep as id_a, d.doc_id as id_b
  from {src} d join groups g on d.text = g.text
  where d.doc_id <> g.rep),
reps as (select rep as doc_id, text from groups),
sh as ({sh_reps}),
{_LSH_CAND},
{_LSH_AGREE},
near_edges as (select id_a, id_b from agree where agr / {_NH} >= {thr}),
edges as (select id_a, id_b from near_edges union select id_a, id_b from exact_edges),
sym as (select id_a as s, id_b as t from edges union select id_b as s, id_a as t from edges),
reach as (
  select s as id, t as r from sym
  union
  select reach.id, sym.t as r from reach join sym on reach.r = sym.s),
comp as (select id, least(id, min(r)) as comp from reach group by id)"""


def build_dedup_full() -> dict[str, str]:
    """End-to-end dedup_representatives oracle: exact groups -> rep edges,
    MinHash/LSH/similarity over the distinct-text reps (same CTE chain as
    dedup_minhash_pairs, retargeted at the reps table), union of edge sets,
    then connected components as a recursive-CTE transitive closure with
    component = least(id, min(reachable)). Tractable because the fixture's
    edge set is small; Spark's side runs the adaptive CC strategy."""
    sql = f"""
with recursive
{_dedup_cte_chain()}
select d.doc_id::bigint as doc_id,
  coalesce(c.comp, d.doc_id)::bigint as component,
  (coalesce(c.comp, d.doc_id) <> d.doc_id) as is_duplicate
from documents d left join comp c on d.doc_id = c.id"""
    return {"dedup_representatives": sql.strip()}


def build_textanalysis_extra() -> dict[str, str]:
    o: dict[str, str] = {}
    o["vocab_topk"] = f"""
with c as (select unnest(string_split(text, ' ')) as token from documents),
agg as (select token, count(*) as cnt from c group by token),
r as (select token, cnt,
        row_number() over (order by cnt desc, token asc) as rank
      from agg)
select token, cnt::bigint as cnt, rank::bigint as rank from r where rank <= {_VOCAB_K}"""

    w = HIST_BUCKET_WIDTH
    o["doc_length_histogram"] = f"""
select (length(text) // {w} * {w})::bigint as bucket_lo,
  count(*)::bigint as n_docs,
  sum(length(text))::bigint as total_chars
from documents group by 1"""

    o["decontaminate_overlap"] = f"""
with docs2 as (
  select doc_id,
    case when doc_id % 13 = 0
      then array_to_string(string_split(text, ' ')[1:3], ' ')
      else text end as text
  from documents),
toks as (select doc_id, string_split(text, ' ') as t from docs2),
grams as (
  select doc_id,
    unnest(list_distinct(list_transform(generate_series({_DECON_N}, len(t)),
      i -> ('0x' || substr(md5(array_to_string(t[i-{_DECON_N - 1} : i], ' ')), 1, 15))::bigint)))
      as g
  from toks),
bench as (
  select distinct g from grams where doc_id % 97 = 0),
hits as (
  select doc_id, count(*) as n_overlap
  from grams join bench using (g)
  group by doc_id)
select d.doc_id::bigint as doc_id,
  coalesce(h.n_overlap, 0)::bigint as n_overlap,
  (coalesce(h.n_overlap, 0) > 0) as contaminated
from documents d left join hits h on d.doc_id = h.doc_id"""

    o["embedding_quantize_int8"] = """
with v as (select vec_id, list_transform(embedding, x -> x::double) as e from embeddings),
s as (
  select vec_id, e,
    (list_max(list_transform(e, x -> abs(x))) / 127.0) as scale
  from v),
q as (
  select vec_id, e, scale,
    list_transform(e, x -> coalesce(round(x / nullif(scale, 0.0))::int, 0)) as qv
  from s),
err as (
  select vec_id, scale, qv,
    list_max(list_transform(generate_series(1, len(e)),
             i -> abs(e[i] - qv[i] * scale))) as max_err
  from q)
select vec_id::bigint as vec_id, round(scale, 9) as scale,
  round(max_err, 9) as max_err,
  (u.i - 1)::bigint as dim_idx, qv[u.i]::bigint as qv
from err, unnest(generate_series(1, len(qv))) as u(i)"""

    wr, wf = DEFAULT.weight_rule, DEFAULT.weight_feature
    o["quality_percentiles"] = f"""
with s as ({_rule_stats_cte()}),
feat as ({_feature_cte()}),
scored as (
  select (({_rule_score_sql()}) * {wr} + ({_feature_score()}) * {wf})
         / {wr + wf} as quality_score
  from s join feat on s.doc_id = feat.doc_id)
select round(quantile_cont(quality_score, 0.10), 6) as p10,
  round(quantile_cont(quality_score, 0.50), 6) as p50,
  round(quantile_cont(quality_score, 0.90), 6) as p90,
  round(quantile_cont(quality_score, 0.99), 6) as p99
from scored"""

    o["host_rollup"] = """
with d as (
  select 'https://host' || (doc_id % 7)::varchar || '.example.com/p/'
         || doc_id::varchar as url, text
  from documents),
h as (
  select regexp_extract(url, '^[a-z]+://([^/]+)', 1) as host,
         length(text) as n_chars
  from d)
select host, count(*)::bigint as n_docs, sum(n_chars)::bigint as total_chars,
  round(sum(n_chars)::double / count(*), 9) as avg_chars
from h group by host"""

    # one shingle CTE feeds the MinHash candidates and the exact Jaccard
    assert JACCARD_K == _SMALL_MINHASH.shingle_size
    o["ngram_jaccard_candidates"] = f"""
with sh as ({_SHINGLES_MH}),
{_LSH_CAND},
sizes as (select doc_id as id, count(*) as n from sh group by doc_id),
inter as (
  select c.id_a, c.id_b, count(*) as n_inter
  from cand c
  join sh a on a.doc_id = c.id_a
  join sh b on b.doc_id = c.id_b and b.shingle = a.shingle
  group by 1, 2)
{_JACCARD_TAIL}"""
    return {k: v.strip() for k, v in o.items()}


def build_spam() -> dict[str, str]:
    """lmppl spam-adjusted perplexity: the ppl CTEs mirror ngram_perplexity;
    the spam flag mirrors functions/spam.has_spam_col term-for-term (12 RE2
    regexes + pipe ratio + punctuation ratio); threshold literals identical.
    Uses SPAM_PATTERNS_PORTABLE — the same \\p{{Nd}} / explicit-whitespace
    rewrites the Spark column uses, so both engines carry Python-`re`
    unicode semantics (full-width digits, U+3000) for \\d and \\s."""
    from ..functions.spam import PUNCTUATION, SPAM_PATTERNS_PORTABLE

    rx = " or ".join(
        f"regexp_matches(text2, '{p}')" for p in SPAM_PATTERNS_PORTABLE
    )
    pipe = "(length(text2) - length(replace(text2, '|', '')))"
    punct = " + ".join(
        f"(length(text2) - length(replace(text2, '{c}', '')))" for c in PUNCTUATION
    )
    spam_expr = (
        f"({rx}) or ({pipe} > 0 and {pipe} / length(text2) > 0.01)"
        f" or (({punct}) / length(text2) > 0.15)"
    )
    sql = f"""
with t2 as (
  select doc_id,
    text || case when doc_id % 7 = 0 then ' 在线 播放' else '' end as text2
  from documents),
spamf as (select doc_id, ({spam_expr}) as has_spam from t2),
{_lm_ctes("v")},
pplt as (
  select g.doc_id,
    pow(2.0, -avg({_lm_log2p("v")})) as ppl
{_lm_from("v")}
  group by g.doc_id),
adj as (
  select p.doc_id, s.has_spam,
    case when s.has_spam then greatest(p.ppl * 1.5, {SPAM_PPL_THRESHOLD * 1.2}) else p.ppl end as adj_ppl_raw
  from pplt p join spamf s on p.doc_id = s.doc_id)
select doc_id::bigint as doc_id, has_spam,
  round(adj_ppl_raw, 2) as adj_ppl,
  (adj_ppl_raw <= {SPAM_PPL_THRESHOLD} and not has_spam) as ppl_pass
from adj"""
    return {"ngram_ppl_spam_adjust": sql.strip()}


def build_ac() -> dict[str, str]:
    """W2 Aho-Corasick match counts. AC reports every (pattern, end-position)
    occurrence exactly once, so n_matches = sum of per-pattern literal
    occurrence counts; border-free patterns (AC_LEXICON invariant) make the
    non-overlapping replace-count equal the total count."""
    total = " + ".join(_occ("text", w.replace("'", "''")) for w in AC_LEXICON)
    distinct = " + ".join(
        f"case when {_occ('text', w)} > 0 then 1 else 0 end" for w in AC_LEXICON
    )
    return {
        "feature_ac_matches": f"""
select doc_id::bigint as doc_id,
  ({total})::bigint as n_matches,
  ({distinct})::bigint as n_distinct_patterns
from documents""".strip()
    }


def build_extra() -> dict[str, str]:
    """Oracles for the events / embedding / full-composite queries."""
    from .catalog import W_FULL_TOTAL

    o: dict[str, str] = {}

    o["events_sessionize"] = """
with e as (
  select user_id, ts, value,
    case when lag(ts) over w is null
           or ts - lag(ts) over w > interval 30 minutes
         then 1 else 0 end as new_session
  from events
  window w as (partition by user_id order by ts)),
s as (
  select *, sum(new_session) over (partition by user_id order by ts
                                   rows unbounded preceding) as session_id
  from e)
select user_id::bigint as user_id, session_id::bigint as session_id,
  count(*)::bigint as n_events, min(ts) as session_start,
  max(ts) as session_end, round(sum(value), 6) as total_value
from s group by user_id, session_id"""

    _vn = """
v as (select vec_id, list_transform(embedding, x -> x::double) as e from embeddings),
n as (select vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) as nrm from v)"""
    _dot = "list_sum(list_transform(generate_series(1, 64), i -> a.e[i] * b.e[i]))"

    o["embedding_near_dup_pairs"] = f"""
with {_vn}
select a.vec_id::bigint as id_a, b.vec_id::bigint as id_b,
  round({_dot} / (a.nrm * b.nrm), 6) as cos_sim
from n a, n b
where a.vec_id < b.vec_id and {_dot} / (a.nrm * b.nrm) >= {CLUSTER_THRESHOLD}"""

    thr = CLUSTER_THRESHOLD
    one_minus = repr(1.0 - thr)
    cluster_case = (
        f"case when dup_ratio >= {thr} then "
        f"greatest(0.0, 0.2 * (1.0 - (dup_ratio - {thr}) / {one_minus})) "
        f"else least(1.0, 0.8 + 0.2 * (1.0 - dup_ratio / {thr})) end"
    )
    dup_ratio_cte = f"""
with {_vn},
d as (
  select a.vec_id, max({_dot} / (a.nrm * b.nrm)) as dup_ratio
  from n a, n b where a.vec_id <> b.vec_id group by a.vec_id)"""

    o["embedding_cluster_score"] = f"""{dup_ratio_cte}
select vec_id::bigint as vec_id, round(dup_ratio, 6) as dup_ratio,
  round({cluster_case}, 6) as cluster_score
from d"""

    # ANN (RP-LSH-bucketed) dup-ratio CTE — mirrors
    # similarity.duplicate_ratio_ann term-for-term: same bucket bits, same
    # within-bucket max cosine, missing -> 0.0
    _dot_ax = "list_sum(list_transform(generate_series(1, 64), i -> a.e[i] * x.e[i]))"
    ann_dup_cte = f"""
with {_vn},
bk as (select vec_id, ({_rp_bucket_sql()})::bigint as bucket from embeddings),
nb as (select n.vec_id, bk.bucket, n.e, n.nrm from n join bk on n.vec_id = bk.vec_id),
mx as (
  select a.vec_id, max({_dot_ax} / (a.nrm * x.nrm)) as max_cos
  from nb a join nb x on a.bucket = x.bucket and a.vec_id <> x.vec_id
  group by a.vec_id),
d as (
  select n.vec_id, coalesce(mx.max_cos, 0.0) as dup_ratio
  from n left join mx on n.vec_id = mx.vec_id)"""

    wr, wf = DEFAULT.weight_rule, DEFAULT.weight_feature
    wp, wc = WEIGHT_PERPLEXITY, WEIGHT_CLUSTERING
    half, maxp = PPL_THRESHOLD / 2, PPL_MAX
    o["quality_keep_full"] = f"""
with s as ({_rule_stats_cte()}),
feat as ({_feature_cte()}),
{_lm_ctes("vv")},
pplt as (
  select g.doc_id,
    pow(2.0, -avg({_lm_log2p("vv")})) as ppl
{_lm_from("vv")}
  group by g.doc_id),
ppls as (
  select doc_id,
    case when least(ppl, {maxp}) >= {maxp} then 0.0
         when least(ppl, {maxp}) <= {half} then 1.0
         else greatest(0.0, 1.0 - (least(ppl, {maxp}) - {half}) / {maxp - half}) end as ppl_score
  from pplt),
{dup_ratio_cte.lstrip().removeprefix('with ')},
clus as (select vec_id as doc_id, ({cluster_case}) as cluster_score from d),
scored as (
  select s.doc_id,
    ({_rule_score_sql()}) as rule_score,
    ({_feature_score()}) as feature_score,
    ppls.ppl_score, clus.cluster_score
  from s
  join feat on s.doc_id = feat.doc_id
  join ppls on s.doc_id = ppls.doc_id
  join clus on s.doc_id = clus.doc_id)
select doc_id::bigint as doc_id,
  round(ppl_score, 6) as ppl_score,
  round(cluster_score, 6) as cluster_score,
  round((rule_score * {wr} + feature_score * {wf} + ppl_score * {wp}
         + cluster_score * {wc}) / {repr(W_FULL_TOTAL)}, 6) as quality_score_full,
  ((rule_score * {wr} + feature_score * {wf} + ppl_score * {wp}
         + cluster_score * {wc}) / {repr(W_FULL_TOTAL)}) >= {DEFAULT.quality_threshold} as keep_full
from scored"""

    # production variant: identical composite, clustering from the
    # RP-LSH-bucketed dup ratio (what q_quality_keep_full_ann runs on Spark)
    o["quality_keep_full_ann"] = o["quality_keep_full"].replace(
        dup_ratio_cte.lstrip().removeprefix("with "),
        ann_dup_cte.lstrip().removeprefix("with "),
    )
    assert o["quality_keep_full_ann"] != o["quality_keep_full"]

    return {k: v.strip() for k, v in o.items()}


def build_cleaning() -> dict[str, str]:
    """P2 / P7 / J4-line oracles. The Spark side runs the REAL python
    functions (functions/cleaning.py) via Arrow UDFs; these recompute the
    regex chains in DuckDB with explicit ASCII whitespace classes ([ \\t\\n
    \\x0b\\f\\r] — Python \\s and RE2 \\s agree on the ASCII fixture, and the
    injected messiness is ASCII-only by construction)."""
    o: dict[str, str] = {}
    ws = "[ \\t\\n\\x0b\\f\\r]+"
    ctrl = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]"
    o["clean_text"] = f"""
with m as (
  select doc_id,
    '  ' || replace(text, ' ', chr(9) || ' ') || chr(7) || '  ' as t
  from documents)
select doc_id,
  trim(regexp_replace(regexp_replace(t, '{ws}', ' ', 'g'), '{ctrl}', '', 'g'))
    as cleaned_text
from m"""

    nonws = "[^ \\t\\n\\x0b\\f\\r]"
    url = f"https?://{nonws}+|www\\.{nonws}+"
    suffix = " see http://ex.com/a?b=1 wow!!! fine...... ok"
    o["ppl_preprocess"] = f"""
with t2 as (
  select doc_id,
    text || case when doc_id % 5 = 0 then '{suffix}' else '' end as t
  from documents)
select doc_id,
  regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
    t, '{ws}', ' ', 'g'),
    '{url}', '[URL]', 'g'),
    '[!?]{{2,}}', '!', 'g'),
    '[.]{{3,}}', '...', 'g'),
    '{RX_EMOJI}', '', 'g') as ppl_text
from t2"""

    o["dedup_lines"] = """
with toks as (
  select doc_id, string_split(replace(text, ' ', chr(10)), chr(10)) as ls
  from documents),
idx as (
  select doc_id,
    unnest(list_transform(generate_series(1, len(ls)),
                          i -> {'tok': ls[i], 'i': i}), recursive := true)
  from toks),
firsts as (
  select doc_id, tok, min(i) as i from idx group by doc_id, tok)
select doc_id, array_to_string(list(tok order by i), chr(10)) as deduped_lines
from firsts group by doc_id"""

    # P7b: head/middle/tail sentence sampling (lmppl_perplexity.py:127-154):
    # <=3 sentences -> text[:500]; else first-2 of each third joined by 。
    o["segment_sample"] = """
with t2 as (select doc_id, replace(text, ' the ', '. ') as t from documents),
s as (
  select doc_id, t,
    list_filter(regexp_split_to_array(t, '[。！？.!?]'), x -> trim(x) <> '') as sents
  from t2),
sel as (select doc_id, t, sents, len(sents) as n,
               len(sents) // 3 as third, (2 * len(sents)) // 3 as two_thirds
        from s)
select doc_id,
  case when n <= 3 then t[1:500]
  else (array_to_string(
    sents[1 : least(third, 2)]
      || sents[third + 1 : third + least(two_thirds - third, 2)]
      || sents[two_thirds + 1 : two_thirds + least(n - two_thirds, 2)],
    '。'))[1:500]
  end as sampled_text
from sel"""
    return {k: v.strip() for k, v in o.items()}


def build_more() -> dict[str, str]:
    o: dict[str, str] = {}
    # first-occurrence token dedup: DuckDB list_distinct does NOT preserve
    # order, so rebuild it with min-index grouping
    o["dedup_tokens"] = """
with toks as (
  select doc_id, string_split(text, ' ') as ls from documents),
idx as (
  select doc_id,
    unnest(list_transform(generate_series(1, len(ls)),
                          i -> {'tok': ls[i], 'i': i}), recursive := true)
  from toks),
firsts as (
  select doc_id, tok, min(i) as i from idx group by doc_id, tok)
select doc_id, array_to_string(list(tok order by i), ' ') as deduped_text
from firsts group by doc_id"""
    return {k: v.strip() for k, v in o.items()}


def build_ann() -> dict[str, str]:
    from .catalog import _ANN_K

    sql = f"""
with b as (select vec_id, ({_rp_bucket_sql()})::bigint as bucket from embeddings),
v as (select vec_id, list_transform(embedding, x -> x::double) as e from embeddings),
n as (select v.vec_id, bucket, e, sqrt(list_sum(list_transform(e, x -> x * x))) as nrm
      from v join b on v.vec_id = b.vec_id),
p as (
  select a.vec_id as vec_id, x.vec_id as neighbor_id,
    list_sum(list_transform(generate_series(1, 64), i -> a.e[i] * x.e[i])) / (a.nrm * x.nrm) as cos_sim
  from n a join n x using (bucket) where a.vec_id <> x.vec_id),
{_topk_sql(_ANN_K)}"""
    return {"ann_topk_lsh": sql.strip()}


def build_tpch() -> dict[str, str]:
    return {
        "lineitem_pricing_summary": """
select l_returnflag, l_linestatus,
  (sum(l_quantity::decimal(18,2)))::double as sum_qty,
  (sum(l_extendedprice::decimal(18,2)))::double as sum_base_price,
  (sum(l_extendedprice::decimal(18,2) * (1::decimal(18,2) - l_discount::decimal(18,2))))::double as sum_disc_price,
  count(*)::bigint as count_order
from lineitem
where l_shipdate <= '1998-09-02'
group by l_returnflag, l_linestatus""".strip()
    }


# shared by build_ivf and build_round7_late (semdedup reuses the
# deterministic lowest-id-seed cell assignment verbatim)
_IVF_CELLS_CTE = f"""
v as (select vec_id, list_transform(embedding, x -> x::double) as e from embeddings),
cents as (select vec_id as cid, e as c from v order by vec_id limit {IVF_CELLS}),
dists as (
  select v.vec_id, cents.cid,
    list_sum(list_transform(generate_series(1, 64), i -> (v.e[i] - cents.c[i]) * (v.e[i] - cents.c[i]))) as d2
  from v cross join cents),
cells as (
  select vec_id, cid as cell from (
    select *, row_number() over (partition by vec_id order by d2 asc, cid asc) as rn
    from dists) where rn = 1)"""


def build_ivf() -> dict[str, str]:
    cells_cte = _IVF_CELLS_CTE
    o = {}
    o["ivf_cells"] = f"""
with {cells_cte}
select vec_id::bigint as vec_id, cell::bigint as cell from cells"""
    o["ivf_topk"] = f"""
with {cells_cte},
n as (select v.vec_id, cells.cell, e, sqrt(list_sum(list_transform(e, x -> x * x))) as nrm
      from v join cells on v.vec_id = cells.vec_id),
p as (
  select a.vec_id as vec_id, b.vec_id as neighbor_id,
    list_sum(list_transform(generate_series(1, 64), i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm) as cos_sim
  from n a join n b using (cell) where a.vec_id <> b.vec_id),
{_topk_sql(IVF_K)}"""
    return {k: v.strip() for k, v in o.items()}


def build_round5(merged: dict[str, str]) -> dict[str, str]:
    """Round-5 oracles. Takes the already-built dict because two of these
    reuse earlier SQL verbatim: the gopher composite embeds the full
    quality_keep_full query and an UNDECORATED repetition_signals CTE; the
    frontier rollup embeds the url_dedup canonicalization chain."""
    from .catalog import _BOILERPLATE_DECOR, _BOILERPLATE_FRAC, _SPAN_DECOR
    from ..operators.textanalysis import (
        GOPHER_MAX_DUP_LINE_FRAC,
        GOPHER_MAX_DUP_TRIGRAM_FRAC,
        GOPHER_MAX_TOP_BIGRAM_FRAC,
    )

    o: dict[str, str] = {}

    # cross-doc span dup: the h60 k-gram hash pairing (Spark conv-of-md5 /
    # DuckDB hex-cast) is the proven fingerprint_winnow primitive; mod-p
    # selection and the distinct-per-doc -> plain-count doc-frequency trick
    # mirror the operator exactly (k=16, p=16, min_docs=2 defaults)
    o["cross_doc_span_dup"] = f"""
with d as (select doc_id, {_SPAN_DECOR} as text from documents),
f as (select doc_id, list_distinct(list_filter(
    list_transform(generate_series(1, greatest(length(text) - {SPAN_K - 1}, 1)),
      i -> (('0x' || substr(md5(substr(text, i, {SPAN_K})), 1, 15))::bigint)),
    h -> h % {SPAN_MOD_P} = 0)) as fps from d),
ex as (select doc_id, unnest(fps) as fp from f),
fr as (select fp, count(*) as df from ex group by fp),
mk as (select ex.doc_id, case when fr.df >= 2 then 1 else 0 end as dup
       from ex join fr on fr.fp = ex.fp),
pd as (select doc_id, count(*) as nf, sum(dup) as nd from mk group by doc_id)
select d.doc_id::bigint as doc_id,
  coalesce(pd.nf, 0)::bigint as n_fingerprints,
  coalesce(pd.nd, 0)::bigint as n_dup_fingerprints,
  case when coalesce(pd.nf, 0) > 0 then round(pd.nd::double / pd.nf, 9)
       else 0.0 end as dup_span_frac
from d left join pd on pd.doc_id = d.doc_id"""

    # corpus-level boilerplate removal: DuckDB counts/filters on raw line
    # strings where Spark uses md5 digests — equivalent membership, and the
    # clean_text output is compared byte-for-byte. Decoration matches
    # catalog._BOILERPLATE_DECOR; 0.3 forced ::double so the threshold
    # product is the same IEEE value Spark's lit(0.3) * count produces.
    o["boilerplate_removal"] = f"""
with d as (select doc_id, {_BOILERPLATE_DECOR} as t from documents),
lines as (
  select unnest(list_distinct(list_filter(string_split(t, chr(10)),
    x -> length(x) > 0))) as line
  from d),
freq as (select line, count(*) as df from lines group by line),
tot as (select count(*) as n from d),
bl as (
  select coalesce(list(line), []) as bls
  from freq cross join tot
  where df >= ceil({_BOILERPLATE_FRAC}::double * n))
select doc_id::bigint as doc_id,
  array_to_string(list_filter(string_split(t, chr(10)),
    x -> not list_contains(bls, x)), chr(10)) as clean_text,
  (len(string_split(t, chr(10)))
   - len(list_filter(string_split(t, chr(10)),
       x -> not list_contains(bls, x))))::bigint
    as n_lines_removed
from d cross join bl"""

    # gopher composite: repetition fractions over the RAW documents table —
    # the shared _REPETITION_BODY with an undecorated `d` CTE (no %3
    # decoration), cuts applied to the 9-dp-rounded fractions exactly as
    # gopher_pass_col does
    rep_undec = (
        "with d as (select doc_id, text from documents),\n" + _REPETITION_BODY
    )
    cuts = (
        f"rep.dup_line_frac <= {GOPHER_MAX_DUP_LINE_FRAC}::double"
        f" and rep.top_bigram_frac <= {GOPHER_MAX_TOP_BIGRAM_FRAC}::double"
        f" and rep.dup_trigram_frac <= {GOPHER_MAX_DUP_TRIGRAM_FRAC}::double"
    )
    o["quality_keep_full_gopher"] = f"""
with rep as ({rep_undec}),
base as ({merged["quality_keep_full"]})
select base.doc_id, rep.dup_line_frac, rep.top_bigram_frac,
  rep.dup_trigram_frac,
  ({cuts}) as gopher_pass,
  base.keep_full,
  (base.keep_full and {cuts}) as keep_gopher
from base join rep on rep.doc_id = base.doc_id"""

    # stratified sample: the NAIVE single-window form — the operator's
    # two-phase salted shape provably selects the identical set (min-k of a
    # total order is associative; also test-asserted). h60 order key =
    # md5-of-stringified-id via the standard hex-cast pairing; (hh, doc_id)
    # ordering is tie-free because doc_id is unique.
    o["stratified_sample"] = f"""
with h as (
  select source, lang, doc_id,
    ('0x' || substr(md5(cast(doc_id as varchar)), 1, 15))::bigint as hh
  from documents),
r as (
  select source, lang, doc_id,
    row_number() over (partition by source, lang order by hh, doc_id)
      as sample_rank
  from h)
select source, lang, doc_id::bigint as doc_id,
  sample_rank::bigint as sample_rank
from r where sample_rank <= {_STRATUM_K}"""

    # crawl frontier: url_dedup's canonicalization chain (same decoration)
    # rolled up per host; n_unique derived with the same subtraction order
    o["crawl_frontier_dedup"] = f"""
with u as ({merged["url_dedup"]})
select regexp_extract(canon_url, '^[a-z][a-z0-9+.-]*://([^/?]+)', 1) as host,
  count(*)::bigint as n_urls,
  sum(case when is_duplicate_url then 1 else 0 end)::bigint as n_dup,
  (count(*) - sum(case when is_duplicate_url then 1 else 0 end))::bigint
    as n_unique
from u
group by 1"""
    return o


def build_round6() -> dict[str, str]:
    """Round-6 oracles: the regex PII scrub, composed after the DFA scrub
    exactly as the Spark query does — lower+star-mask chain (the scrub_text
    oracle) feeding the shared pii_sql_chain (functions/pii.py builds both
    engines' chains from one rule table; RE2 spelling here, Java spelling
    in pii_columns — tests/test_pii.py pins their agreement)."""
    from .catalog import _PII_DECOR
    from ..functions.pii import pii_sql_chain

    o: dict[str, str] = {}
    chain = pii_sql_chain("st")
    o["pii_scrub"] = f"""
with d as (select doc_id, {_PII_DECOR} as text from documents),
s as (select doc_id, {_scrub_chain()} as st from d),
p as (select doc_id,
        {chain["pii_text"]} as pii_text,
        {chain["n_phone"]} as n_phone,
        {chain["n_id_number"]} as n_id_number,
        {chain["n_url"]} as n_url,
        {chain["n_email"]} as n_email,
        {chain["n_ip"]} as n_ip
      from s)
select doc_id::bigint as doc_id, pii_text,
  coalesce(array_to_string(list_filter(
    [case when n_phone > 0 then 'phone' end,
     case when n_id_number > 0 then 'id_number' end,
     case when n_url > 0 then 'url' end,
     case when n_email > 0 then 'email' end,
     case when n_ip > 0 then 'ip' end], x -> x is not null), ','), '')
    as pii_reasons,
  n_phone, n_id_number, n_url, n_email, n_ip
from p"""

    # media header decode: the oracle recomputes dimensions from the SAME
    # doc_id formulas the blob generator embeds into real PNG/JPEG/GIF
    # header bytes (sources/gen.image_blob_for); the Spark side must parse
    # them back out of the bytes (multimodal.parse_image_dims)
    from ..sources.gen import MEDIA_H, MEDIA_W

    o["media_dims"] = f"""
select doc_id::bigint as doc_id,
  case doc_id % 3 when 0 then 'png' when 1 then 'jpeg' else 'gif' end
    as magic,
  ({MEDIA_W})::int as width,
  ({MEDIA_H})::int as height
from documents"""

    # incremental dedup: corpus = even doc_ids, new batch = odd doc_ids
    # (near-dup families span consecutive ids, so cross-split matches exist
    # by construction); same signature/band CTEs as dedup_minhash_pairs,
    # candidates restricted to corpus x new, then per-new-doc min-corpus-id
    # labels — mirrors operators/dedup.dedup_incremental
    # ... plus the round-7 fold extension: internal components among the
    # non-corpus-dup new docs (exact text groups + near edges derived from
    # the SAME sig/bandt CTEs restricted to survivors — equivalent to the
    # Spark side's reps-only LSH because identical texts have identical
    # signatures, so connectivity through exact members is preserved);
    # in_index_after = survivor AND min-id representative of its component.
    thr = _SMALL_MINHASH.similarity_threshold
    o["incremental_dedup"] = f"""
with recursive
sh as ({_SHINGLES_MH}),
sig as ({_SIG}),
bandt as ({_BANDS}),
cand as (
  select distinct c.doc_id as corpus_id, n.doc_id as new_id
  from bandt c join bandt n using (band_key)
  where c.doc_id % 2 = 0 and n.doc_id % 2 = 1),
agree as (
  select c.new_id, c.corpus_id,
         sum(case when sa.minhash = sb.minhash then 1 else 0 end) as agr
  from cand c
  join sig sa on sa.doc_id = c.corpus_id
  join sig sb on sb.doc_id = c.new_id and sb.slot = sa.slot
  group by 1, 2),
m as (
  select new_id, min(corpus_id) as dup_of,
         count(*) as n_corpus_matches, max(agr / {_NH}) as max_est
  from agree where agr / {_NH} >= {thr}
  group by 1),
surv as (
  select d.doc_id, d.text from documents d
  left join m on m.new_id = d.doc_id
  where d.doc_id % 2 = 1 and m.new_id is null),
sgroups as (select text, min(doc_id) as rep from surv group by text),
sexact as (
  select g.rep as id_a, s.doc_id as id_b
  from surv s join sgroups g on s.text = g.text
  where s.doc_id <> g.rep),
scand as (
  select distinct a.doc_id as id_a, b.doc_id as id_b
  from bandt a join bandt b using (band_key)
  join surv sa on sa.doc_id = a.doc_id
  join surv sb on sb.doc_id = b.doc_id
  where a.doc_id < b.doc_id),
sagree as (
  select c.id_a, c.id_b,
         sum(case when xa.minhash = xb.minhash then 1 else 0 end) as agr
  from scand c
  join sig xa on xa.doc_id = c.id_a
  join sig xb on xb.doc_id = c.id_b and xb.slot = xa.slot
  group by 1, 2),
sedges as (
  select id_a, id_b from sagree where agr / {_NH} >= {thr}
  union select id_a, id_b from sexact),
ssym as (
  select id_a as s, id_b as t from sedges
  union select id_b as s, id_a as t from sedges),
sreach as (
  select s as id, t as r from ssym
  union
  select sreach.id, ssym.t as r from sreach join ssym on sreach.r = ssym.s),
scomp as (select id, least(id, min(r)) as comp from sreach group by id)
select d.doc_id::bigint as doc_id,
       m.new_id is not null as is_duplicate,
       m.dup_of::bigint as dup_of,
       coalesce(m.n_corpus_matches, 0)::bigint as n_corpus_matches,
       round(m.max_est, 9) as max_est_jaccard,
       (m.new_id is null
        and coalesce(sc.comp, d.doc_id) = d.doc_id) as in_index_after
from documents d
left join m on m.new_id = d.doc_id
left join scomp sc on sc.id = d.doc_id
where d.doc_id % 2 = 1"""

    # UT1-style domain blocklist: host via regex (nullif '' mirrors Spark's
    # try_parse_url NULL on malformed URLs; class stops at ':' to drop the
    # port), trailing FQDN dots stripped like the Spark side (a trailing-
    # dot host must not evade the normalized entries), dot-suffix unnest,
    # min matched domain per doc
    from .catalog import _BL_DECOR, _BLOCKLIST

    bl_list = ", ".join(f"'{d}'" for d in sorted(set(_BLOCKLIST)))
    o["url_blocklist"] = f"""
with d as (select doc_id, {_BL_DECOR} as url from documents),
u as (
  select doc_id, regexp_replace(nullif(lower(regexp_extract(url,
    '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)), ''), '\\.+$', '') as host
  from d),
bl as (select unnest([{bl_list}]) as domain),
sfx as (
  select doc_id, unnest(list_transform(
    generate_series(1, len(string_split(host, '.'))),
    i -> array_to_string(list_slice(string_split(host, '.'), i,
                                    len(string_split(host, '.'))), '.')))
    as dom
  from u),
m as (
  select doc_id, min(domain) as blocked_domain
  from sfx join bl on sfx.dom = bl.domain group by doc_id)
select u.doc_id::bigint as doc_id, u.host, m.blocked_domain,
       (m.blocked_domain is not null) as is_blocked
from u left join m using (doc_id)"""

    # C4 line filter: the decoration re-spelled in DuckDB (NB Spark's
    # slice(arr, start, LENGTH) == DuckDB's list_slice(l, begin,
    # INCLUSIVE-END) — 1,4 -> 1,4; 5,4 -> 5,8; 9,3 -> 9,11); the terminal
    # class embeds the CJK marks as literal UTF-8 (RE2 and Java agree on
    # literal chars in classes)
    c4_toks = "string_split(text, ' ')"
    c4_decor = (
        "concat_ws(chr(10), "
        f"array_to_string(list_slice({c4_toks}, 1, 4), ' ') || ' end.', "
        f"array_to_string(list_slice({c4_toks}, 5, 8), ' ') || ' tail!', "
        "'中文 行 结束 。', "
        "'too short.', "
        f"array_to_string(list_slice({c4_toks}, 9, 11), ' '), "
        "case (doc_id % 4) when 0 then 'has lorem ipsum mark.' "
        "when 1 then 'brace { marker here.' "
        "when 2 then 'enable javascript now please.' "
        "else 'extra fine sentence here.' end)"
    )
    # \r stripped before the split exactly like the operator (Java vs RE2
    # disagree on $ before a trailing \r — textanalysis.C4_TERMINAL_RE).
    # \b here is RE2's ASCII word boundary == the Spark side's explicit
    # ASCII lookarounds (the pii.py dialect-split doctrine): C4's rule
    # drops the WORD javascript, not the substring.
    # word count = non-whitespace runs (full Python-\s class), the
    # Spark twin's regexp_count(_NONWS_RUN_SPARK); RE2 gets PY_WS_CLASS
    # as-is (standard strings)
    from ..functions.spam import PY_WS_CLASS as _PYWS

    _c4_word = "[^" + _PYWS[1:] + "+"
    c4_kept = (
        "list_filter(string_split(replace(t, chr(13), ''), chr(10)), l -> "
        f"len(regexp_extract_all(l, '{_c4_word}')) >= 3 "
        "and regexp_matches(trim(l), '[.!?\"。！？”」]$') "
        "and not regexp_matches(lower(l), '\\bjavascript\\b'))"
    )
    o["c4_line_filter"] = f"""
with d as (select doc_id, {c4_decor} as t from documents),
k as (select doc_id, t, {c4_kept} as kept from d)
select doc_id::bigint as doc_id,
  array_to_string(kept, chr(10)) as clean_text,
  len(string_split(t, chr(10)))::bigint as n_lines,
  len(kept)::bigint as n_lines_kept,
  (len(kept) >= 3 and not regexp_matches(lower(t), 'lorem ipsum')
   and not regexp_matches(t, '[{{]')) as page_keep
from k"""

    # sequence packing: the NAIVE single-window spec over (h60(id), id)
    # order — the Spark side's two-phase bucket-prefix form provably equals
    # it (also test-asserted); // and div both floor non-negative bigints.
    # Token count is the CJK-aware twin of sampling.token_count_sql: match
    # counting (regexp_extract_all ~ Spark regexp_count) sidesteps the
    # engines' grapheme-vs-codepoint length() split; DuckDB regexp_replace
    # needs the explicit 'g' flag (Spark's is global by default); the CJK
    # class uses literal endpoint chars (portable across RE2/Java).
    # Residue words = runs of non-whitespace over the full Python-\s set
    # (spam.PY_WS_CLASS spliced as-is — RE2 \x{..} syntax; the Spark twin
    # doubles the backslashes for its SQL literal, sampling._NONWS_RUN_SPARK).
    from ..functions.spam import PY_WS_CLASS

    nonws_run = "[^" + PY_WS_CLASS[1:] + "+"
    o["pack_sequences"] = f"""
with t0 as (
  select doc_id, coalesce(text, '') as t from documents),
t1 as (
  select doc_id, t,
    regexp_replace(t, '[一-鿿]', ' ', 'g') as resid
  from t0),
t as (
  select doc_id,
    (len(regexp_extract_all(t, '[一-鿿]'))
     + len(regexp_extract_all(resid, '{nonws_run}')))::bigint as n,
    ('0x' || substr(md5(cast(doc_id as varchar)), 1, 15))::bigint as h
  from t1),
c as (
  select doc_id, n, h,
    sum(n) over (order by h, doc_id
                 rows between unbounded preceding and current row) as cum
  from t)
select doc_id::bigint as doc_id, n as n_tokens, cum::bigint as cum_tokens,
  ((cum - n) // 512)::bigint as shard_first,
  (case when n = 0 then cum // 512
        else (cum - 1) // 512 end)::bigint as shard_last,
  ((cum - n) % 512)::bigint as offset_in_shard
from c"""

    # learned quality classifier: re-learn the NB log-odds weights over
    # hashed char 3-grams relationally (exact integer counts -> identical
    # double ln inputs on both engines), quantize to decimal(18,6) exactly
    # like classifier_score, and sum the margin in EXACT decimal — the one
    # float step (round(ln ratio, 6)) has the same cross-engine-libm
    # precedent as the gated log2 perplexity queries. Gram extraction
    # mirrors _gram_expr (multiplicity kept, whole-text gram when
    # length < 3).
    from .catalog import _CLF_BUCKETS, _CLF_DECOR

    _B = _CLF_BUCKETS
    o["quality_classifier"] = f"""
with d as (
  select doc_id, {_CLF_DECOR} as t, (doc_id % 2 = 1) as label
  from documents),
g as (
  select doc_id, label, {_CLF_GRAMS} as gram
  from d),
f as (
  select doc_id, label,
    (('0x' || substr(md5(gram), 1, 15))::bigint % {_B})::int as bucket,
    count(*) as cnt
  from g group by 1, 2, 3),
per as (
  select bucket,
    sum(case when label then cnt else 0 end) as c1,
    sum(case when not label then cnt else 0 end) as c0
  from f group by bucket),
{_nb_weight_sql(_B)},
m as (
  select f.doc_id, sum(f.cnt * w.wq) as margin
  from f join w using (bucket) group by 1)
select d.doc_id::bigint as doc_id, d.label,
  coalesce(m.margin, 0)::decimal(38,6) as margin,
  (coalesce(m.margin, 0) > 0) as clf_keep
from d left join m using (doc_id)"""
    return {k: v.strip() for k, v in o.items()}


def build_curation() -> dict[str, str]:
    """The composed curation-pipeline oracle — all four stages of
    plans/curation.curation_run as ONE CTE chain over the same decorated
    corpus (catalog._CURATION_DECOR, shared verbatim):

      1. quality keep: the quality_keep oracle's rule+feature scoring,
         retargeted at the decorated `d` CTE (same unrounded >= threshold
         comparison);
      2. dedup: the dedup_representatives recursive-CTE chain
         (_dedup_cte_chain) retargeted at the kept subset; survivors are
         the min-id component representatives;
      3. PII over scrub: _scrub_chain feeding pii_sql_chain (the shared
         two-dialect rule table, functions/pii.py) — per-row, so masking
         before or after dedup is equivalent (curation_run masks before,
         this oracle after the survivor filter);
      4. boilerplate removal over the masked text, threshold
         ceil(0.3 * |survivors|), then the naive single-window stratified
         sample (h60-of-id order, k=3 per (source, lang)) the two-phase
         Spark sampler provably equals."""
    from .catalog import (
        _BL_DECOR,
        _BLOCKLIST,
        _CURATION_DECOR,
        _CURATION_V2_TAIL,
    )
    from ..functions.pii import pii_sql_chain

    chain = pii_sql_chain("st")
    rules = _rule_stats_cte().replace("from documents", "from d")
    feats = _feature_cte().replace("from documents", "from d")
    wr, wf = DEFAULT.weight_rule, DEFAULT.weight_feature
    thr = DEFAULT.quality_threshold

    # v2 prefix: stage 0 — blocked docs (the url_blocklist oracle's host/
    # suffix logic retargeted at the v2 decoration) excluded from `d`
    # BEFORE any text stage, so downstream counts (boilerplate threshold)
    # see only unblocked docs, exactly like curation_run's stage 0.
    bl_list = ", ".join(f"'{x}'" for x in sorted(set(_BLOCKLIST)))
    v2_prefix = f"""
d0 as (
  select doc_id,
    ({_CURATION_DECOR}) || chr(10) || {_CURATION_V2_TAIL} as text,
    {_BL_DECOR} as url, source, lang
  from documents),
hosts as (
  select doc_id, regexp_replace(nullif(lower(regexp_extract(url,
    '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)), ''), '\\.+$', '') as host
  from d0),
blocked as (
  select distinct doc_id
  from hosts, unnest(list_transform(
    generate_series(1, len(string_split(host, '.'))),
    i -> array_to_string(list_slice(string_split(host, '.'), i,
                                    len(string_split(host, '.'))), '.')))
    as t(dom)
  where dom in ({bl_list})),
d as (
  select d0.doc_id, d0.text, d0.source, d0.lang
  from d0 left join blocked b on d0.doc_id = b.doc_id
  where b.doc_id is null),"""

    # v2 stage 3.5: C4 line cleanup over the boilerplate-cleaned text —
    # same kept-line predicate as the c4_line_filter oracle (min_words=3,
    # RE2 \\b word rule), page flags on the INPUT text, min_lines_kept=1,
    # dropped lines folded into n_lines_removed
    from ..functions.spam import PY_WS_CLASS as _PYWS2

    _v2_word = "[^" + _PYWS2[1:] + "+"
    v2_c4 = f"""
c4 as (
  select doc_id, source, lang, clean_text as ct, n_lines_removed,
    list_filter(string_split(replace(clean_text, chr(13), ''), chr(10)),
      l -> len(regexp_extract_all(l, '{_v2_word}')) >= 3
        and regexp_matches(trim(l), '[.!?"。！？”」]$')
        and not regexp_matches(lower(l), '\\bjavascript\\b')) as kept
  from cleaned),
c4f as (
  select doc_id, source, lang,
    array_to_string(kept, chr(10)) as clean_text,
    (n_lines_removed + len(string_split(replace(ct, chr(13), ''), chr(10)))
     - len(kept))::bigint as n_lines_removed
  from c4
  where len(kept) >= 1
    and not regexp_matches(lower(ct), 'lorem ipsum')
    and not regexp_matches(ct, '[{{]')),"""

    sql = f"""
with recursive
d as (select doc_id, {_CURATION_DECOR} as text, source, lang from documents),
s as ({rules}),
feat as ({feats}),
scored0 as (
  select s.doc_id,
    ({_rule_score_sql()}) as rule_score,
    ({_feature_score()}) as feature_score
  from s join feat on s.doc_id = feat.doc_id),
scored as (
  select doc_id,
    ((rule_score * {wr} + feature_score * {wf}) / {wr + wf}) >= {thr} as keep
  from scored0),
kept as (
  select d.doc_id, d.text, d.source, d.lang
  from d join scored on scored.doc_id = d.doc_id
  where scored.keep),
{_dedup_cte_chain("kept")},
uniq as (
  select k.doc_id, k.text, k.source, k.lang
  from kept k left join comp c on k.doc_id = c.id
  where coalesce(c.comp, k.doc_id) = k.doc_id),
pii as (
  select doc_id, source, lang, {chain["pii_text"]} as pii_text
  from (select doc_id, source, lang, {_scrub_chain()} as st from uniq) sub),
bl_lines as (
  select unnest(list_distinct(list_filter(string_split(pii_text, chr(10)),
    x -> length(x) > 0))) as line
  from pii),
bl_freq as (select line, count(*) as df from bl_lines group by line),
bl_tot as (select count(*) as n from pii),
bl as (
  select coalesce(list(line), []) as bls
  from bl_freq cross join bl_tot
  where df >= ceil({BOILERPLATE_MIN_DOC_FRAC}::double * n)),
cleaned as (
  select doc_id, source, lang,
    array_to_string(list_filter(string_split(pii_text, chr(10)),
      x -> not list_contains(bls, x)), chr(10)) as clean_text,
    (len(string_split(pii_text, chr(10)))
     - len(list_filter(string_split(pii_text, chr(10)),
         x -> not list_contains(bls, x))))::bigint as n_lines_removed
  from pii cross join bl),
sampled as (
  select doc_id, clean_text, n_lines_removed, source, lang,
    row_number() over (partition by source, lang
      order by ('0x' || substr(md5(cast(doc_id as varchar)), 1, 15))::bigint,
               doc_id) as sample_rank
  from cleaned)
select doc_id::bigint as doc_id, clean_text, n_lines_removed,
  source, lang, sample_rank::bigint as sample_rank
from sampled where sample_rank <= {_STRATUM_K}"""

    # curation_v2 = the v1 chain with (a) `d` replaced by the blocklist-
    # filtered v2-decorated prefix and (b) the C4 stage spliced between
    # `cleaned` and `sampled` (the sampler reads c4f instead)
    v1_d_cte = (
        f"d as (select doc_id, {_CURATION_DECOR} as text, source, lang "
        "from documents),"
    )
    sql_v2 = sql.replace(v1_d_cte, v2_prefix.strip() + "\n")
    assert sql_v2 != sql, "v1 d-CTE anchor not found for the v2 rewrite"
    sql_v2 = sql_v2.replace(
        "sampled as (",
        v2_c4.strip() + "\nsampled as (",
    ).replace(
        """               doc_id) as sample_rank
  from cleaned)""",
        """               doc_id) as sample_rank
  from c4f)""",
    )
    assert "from c4f)" in sql_v2, "sampler anchor not found for the v2 rewrite"
    return {"curation_total": sql.strip(), "curation_v2": sql_v2.strip()}


def build_round7() -> dict[str, str]:
    """Round-7 data-recipe operators: temperature source mixing and the
    deterministic hash split (operators/sampling.source_mix / hash_split).

    source_mix's arithmetic is deliberately cross-engine-exact (see
    _weight_sql): integer counts -> sqrt (IEEE correctly rounded) ->
    * 2^20 (exponent shift, exact) -> floor -> bigint weight; the weight
    SUM is bigint (order-free — the float-sum-ordering hazard never
    arises); the rate is a fixed-op-order double chain over those
    integers; the keep threshold floor(p * 2^60) multiplies by a power of
    two (exact). The SQL below mirrors the Spark expressions token for
    token. hash_split is pure integer arithmetic; DuckDB has no pmod, but
    h60 is non-negative (15 hex digits) so `%` == pmod here.
    """
    o: dict[str, str] = {}

    o["source_mix"] = f"""
with d as (
  select doc_id, 's' || cast(least(doc_id % 16, 3) as varchar) as mix_source
  from documents),
counts as (
  select mix_source as src, count(*)::bigint as n from d group by mix_source),
weighted as (
  select src, n,
    cast(floor(sqrt(cast(n as double)) * 1048576) as bigint) as w
  from counts),
total as (select sum(w)::bigint as sum_w from weighted),
rates as (
  select src, n,
    least(cast(1.0 as double),
          (cast(200 as double) * cast(w as double)) /
          (cast(sum_w as double) * cast(n as double))) as p
  from weighted cross join total),
thr as (
  select src, n, p,
    cast(floor(p * cast(1152921504606846976 as double)) as bigint) as t
  from rates)
select d.doc_id::bigint as doc_id, d.mix_source,
  thr.n::bigint as mix_n, round(thr.p, 9) as mix_rate,
  ({_h60("'mix' || '|' || cast(d.doc_id as varchar)")}) < thr.t as sampled
from d join thr on d.mix_source is not distinct from thr.src"""

    o["hash_split"] = f"""
with b as (
  select doc_id,
    ({_h60("'split' || '|' || cast(doc_id as varchar)")}) % 100 as bucket
  from documents)
select doc_id::bigint as doc_id,
  case when bucket < 90 then 'train'
       when bucket < 95 then 'valid'
       else 'test' end as split
from b"""

    # domain-level quality filter: host via the url_blocklist oracle's
    # expression (regex class stops at ':' to drop the port, nullif ''
    # mirrors try_parse_url's NULL on malformed, trailing FQDN dots
    # stripped AFTER lower); the flag decision is bigint-only
    # (n_bad*100 > n*50) so no float ratio can diverge; the left join on
    # host drops NULL hosts from flagging exactly like the Spark side's
    # equi-join (NULL == NULL is not a match in either engine).
    from .catalog import _DQ_BAD, _DQ_DECOR

    o["domain_quality"] = f"""
with d as (select doc_id, {_DQ_DECOR} as url from documents),
u as (
  select doc_id, regexp_replace(nullif(lower(regexp_extract(url,
    '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)), ''), '\\.+$', '') as host
  from d),
f as (
  select host, count(*)::bigint as n,
         count_if({_DQ_BAD})::bigint as n_bad
  from u where host is not null group by host),
fl as (select * from f where n >= 5 and n_bad * 100 > n * 50)
select u.doc_id::bigint as doc_id, u.host,
       fl.n::bigint as domain_n, fl.n_bad::bigint as domain_bad,
       (fl.n is not null) as domain_flagged
from u left join fl using (host)"""

    return o


def build_round7_late() -> dict[str, str]:
    """Round-7 late operators: SemDeDup semantic pruning.

    semdedup reuses the gated ivf cell CTE verbatim (lowest-id seeds,
    L2 argmin, cid tie-break); the cosine is the proven index-ordered
    fold (list_sum of list_transform == Spark's aggregate(zip_with)
    left-to-right adds — bit-identical doubles, established by the
    ivf_topk rank hash match), so max() picks the same element and the
    `< tau` keep verdict cannot flip between engines. tau=0.3 because
    the synthetic embeddings are near-orthogonal (max pairwise cosine
    ~0.49, median max-prior ~0.28): 0.3 exercises BOTH keep outcomes
    plus the NULL first-of-cell arm; real near-dup planting (scaled
    copies, cos ~1.0) is covered in tests/test_semdedup.py."""
    o: dict[str, str] = {}

    o["semdedup"] = f"""
with {_IVF_CELLS_CTE},
n as (select v.vec_id, cells.cell, e, sqrt(list_sum(list_transform(e, x -> x * x))) as nrm
      from v join cells on v.vec_id = cells.vec_id),
pr as (
  select a.vec_id as vec_id,
    max(list_sum(list_transform(generate_series(1, 64), i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm)) as mpc
  from n a join n b using (cell) where b.vec_id < a.vec_id
  group by a.vec_id),
j as (select cells.vec_id, cells.cell, pr.mpc from cells left join pr using (vec_id))
select vec_id::bigint as vec_id, cell::bigint as cell,
       round(mpc, 6) as max_prior_cos,
       (mpc is null or mpc < {_SEMDEDUP_TAU}) as semdedup_keep
from j"""

    # corpus-wide exact paragraph dedup: first occurrence in
    # (h60(doc_id), doc_id, idx) order wins. idx is 0-based to match
    # posexplode; paragraph equality is the shared md5-h60; empty
    # paragraphs (length < 1) never enter dedup so blank-line structure
    # survives; the rebuild string_agg(para order by idx) with chr(10) is
    # the byte twin of Spark's array_join(filter(...)). Decoration
    # imported from catalog._PARA_DECOR (cast(x as string) is a DuckDB
    # VARCHAR alias — same text both engines).
    from .catalog import _PARA_DECOR

    o["paragraph_dedup"] = f"""
with d as (select doc_id, {_PARA_DECOR} as text from documents),
base as (select doc_id,
  ('0x'||substr(md5(cast(doc_id as varchar)),1,15))::bigint as ord,
  string_split(coalesce(text,''), chr(10)) as parts from d),
px as (select doc_id, ord, unnest(list_transform(generate_series(1, len(parts)),
        i -> struct_pack(idx := i - 1, para := parts[i]))) as s from base),
p as (select doc_id, ord, s.idx as idx, s.para as para from px),
e as (select *, ('0x'||substr(md5(para),1,15))::bigint as ph
      from p where length(para) >= 1),
r as (select e.*, row_number() over (partition by ph order by ord, doc_id, idx) as rn from e),
drops as (select doc_id, idx from r where rn > 1),
reb as (
  select p.doc_id,
    coalesce(string_agg(p.para, chr(10) order by p.idx)
             filter (where drops.idx is null), '') as new_text,
    count(*) as n_paras,
    count(drops.idx) as n_dropped
  from p left join drops on drops.doc_id = p.doc_id and drops.idx = p.idx
  group by p.doc_id)
select d.doc_id::bigint as doc_id,
  case when d.text is null then null else reb.new_text end as text,
  (case when d.text is null then 0 else reb.n_paras end)::bigint as n_paras,
  reb.n_dropped::bigint as n_dropped
from d join reb on reb.doc_id = d.doc_id"""

    from ..operators.selection import _U_MOD
    from .catalog import _DSIR_BUCKETS, _DSIR_K

    # DSIR importance resampling: the labeled-union / gram / bucket /
    # log-ratio / decimal-margin CTEs are the quality_classifier oracle's
    # chain with target(y=1) + raw(y=0) corpora as the classes (alpha=1,
    # B=4096); the Gumbel uniform is (h60 % 2^53 + 0.5) / 2^53 — every
    # residue exactly representable as a double, so the int->double
    # conversion loses nothing and the ln/ln/add chain is the identical
    # fixed op order on identical bits. One row_number over all 500 rows
    # equals Spark's two-phase salt-bucket top-k (min-k of a total order
    # is associative; ties impossible — (key, id) is total).
    o["dsir_select"] = f"""
with d0 as (select doc_id, coalesce(text, '') as t from documents),
d as (
  select 'r|' || cast(doc_id as varchar) as did, t, 0 as y from d0
  union all
  select 't|' || cast(doc_id as varchar) as did, t, 1 as y from d0
  where doc_id % 17 = 0),
g as (
  select did, y, {_CLF_GRAMS} as gram
  from d),
f as (
  select did, y,
    (('0x' || substr(md5(gram), 1, 15))::bigint % {_DSIR_BUCKETS})::int as bucket,
    count(*) as cnt
  from g group by 1, 2, 3),
per as (
  select bucket,
    sum(case when y = 1 then cnt else 0 end) as c1,
    sum(case when y = 0 then cnt else 0 end) as c0
  from f group by bucket),
{_nb_weight_sql(_DSIR_BUCKETS)},
m as (
  select f.did, sum(f.cnt * w.wq) as logw
  from f join w using (bucket) where f.y = 0 group by 1),
s as (
  select d0.doc_id, coalesce(m.logw, 0)::decimal(38,6) as logw
  from d0 left join m on m.did = 'r|' || cast(d0.doc_id as varchar)),
kx as (
  select doc_id, logw,
    logw::double + (-ln(-ln(
      ((('0x' || substr(md5('dsir|' || cast(doc_id as varchar)), 1, 15))::bigint
        % {_U_MOD})::double + 0.5) / {float(_U_MOD)}
    ))) as gumbel_key
  from s),
r as (
  select *, row_number() over (order by gumbel_key desc, doc_id asc) as sel_rank
  from kx)
select doc_id::bigint as doc_id, logw,
       round(gumbel_key, 6) as gumbel_key, sel_rank::bigint as sel_rank
from r where sel_rank <= {_DSIR_K}"""

    # BPE pair-count kernel: whitespace tokens (explicit ASCII class —
    # Java/RE2 \s edge disagreement), single-codepoint symbols via substr
    # (codepoint-indexed in both engines), freq-weighted adjacent pairs,
    # top-25 with the trainer's tie-break.
    o["bpe_pair_counts"] = f"""
with toks as (
  select unnest(string_split_regex(coalesce(text, ''), '[ \t\n\r]+')) as token
  from documents),
v as (select token, count(*) as freq from toks where token <> '' group by token),
p as (
  select u.s.l as "left", u.s.r as "right", sum(v.freq) as cnt
  from v, unnest(case when length(token) < 2 then []
    else list_transform(generate_series(1, length(token) - 1),
      i -> struct_pack(l := substr(token, i, 1), r := substr(token, i + 1, 1)))
    end) as u(s)
  group by 1, 2),
r as (select *, row_number() over (order by cnt desc, "left" asc, "right" asc) as rank from p)
select "left", "right", cnt::bigint as cnt, rank::bigint as rank
from r where rank <= {_BPE_TOP}"""

    # BM25 top-k: portable-whitespace lowercased tokens; N/avgdl/df over
    # docs with >= 1 token; per-term contribution idf*(tf*(k1+1))/(tf + k1*
    # (1 - b + b*dl/avgdl)) with Spark's exact op order (the printed k1+1.0
    # and k1 parse to the same doubles as the Python-side lits),
    # each rounded@6 -> decimal(18,6) and summed exactly; rank on
    # (score desc, doc_id asc).
    _bm25_tf = {
        t: f"len(list_filter(toks, x -> x = '{t}'))::bigint"
        for t in ("spark", "customer", "vector")
    }
    _bm25_contrib = "\n     + ".join(
        f"round(ln((n::double - df_{t}::double + 0.5) / (df_{t}::double + 0.5)"
        f" + 1.0) * (tf_{t}::double * {BM25_K1 + 1.0}) / (tf_{t}::double + "
        f"{BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * (dl::double / "
        f"(total_dl::double / n::double)))), 6)"
        f"::decimal(18,6)"
        for t in ("spark", "customer", "vector")
    )
    o["bm25_topk"] = f"""
with arr as (
  select doc_id, list_filter(
    string_split_regex(lower(text), '[ \t\n\r]+'), x -> x <> '') as toks
  from documents where text is not null),
slim as (
  select doc_id, len(toks)::bigint as dl,
         {_bm25_tf['spark']} as tf_spark,
         {_bm25_tf['customer']} as tf_customer,
         {_bm25_tf['vector']} as tf_vector
  from arr),
f as (select * from slim where dl > 0),
s as (
  select count(*)::bigint as n, sum(dl)::bigint as total_dl,
         sum(case when tf_spark > 0 then 1 else 0 end)::bigint as df_spark,
         sum(case when tf_customer > 0 then 1 else 0 end)::bigint as df_customer,
         sum(case when tf_vector > 0 then 1 else 0 end)::bigint as df_vector
  from f),
sc as (
  select doc_id,
    ({_bm25_contrib})::decimal(18,6) as score
  from f, s),
m as (select * from sc where score > 0),
r as (select doc_id, score,
             row_number() over (order by score desc, doc_id asc) as rank
      from m)
select doc_id::bigint as doc_id, score, rank::bigint as rank
from r where rank <= {_BM25_K}"""

    # Unicode canonicalization: width fold == one translate over the
    # FF01-FF5E block + U+3000 (constants imported from the Spark side so
    # the mapping can never drift), then utf8proc NFC — pinned equal to
    # Python unicodedata NFC by the decorated composition arms.
    from ..functions.unicode_norm import FULLWIDTH_DST, FULLWIDTH_SRC
    from .catalog import _UNORM_MARKS, _UNORM_WIDTH

    _fw_dst = FULLWIDTH_DST.replace("'", "''")
    o["unicode_normalize"] = f"""
with d as (
  select doc_id,
         text || case when doc_id % 3 = 0 then '{_UNORM_WIDTH}'
                      when doc_id % 3 = 1 then '{_UNORM_MARKS}'
                      else '' end as text
  from documents),
n as (
  select doc_id, text,
         nfc_normalize(translate(text, '{FULLWIDTH_SRC}', '{_fw_dst}')) as norm_text
  from d)
select doc_id::bigint as doc_id, norm_text,
       length(text)::bigint as n_before,
       length(norm_text)::bigint as n_after,
       (norm_text <> text) as changed
from n"""

    # Decontamination removal: the whole token-space rewrite recomputed
    # relationally — same md5-h60 8-gram hash as the detect family, mask =
    # EXISTS range probe over matched starts (pad 2), span runs via a lag
    # window, text rebuilt with an ordered filtered string_agg (byte-exact
    # vs the Spark Arrow pass). string_agg over zero kept rows is NULL ->
    # coalesce '' (Python joins an empty list to '').
    from .catalog import _DECON_PASSAGE

    _dp = _DECON_PASSAGE
    o["decontaminate_remove"] = f"""
with dec as (
  select doc_id,
    case when doc_id % 13 = 0
           then array_to_string(string_split(text, ' ')[1:3], ' ')
         when doc_id % 97 = 0 then text || ' {_dp}'
         when doc_id % 29 = 0 and len(string_split(text, ' ')) >= 6
           then array_to_string(string_split(text, ' ')[1:5], ' ')
                || ' {_dp} '
                || array_to_string(
                     string_split(text, ' ')[6:len(string_split(text, ' '))], ' ')
         when doc_id % 29 = 0 then text || ' {_dp}'
         else text end as text
  from documents),
lst as (select doc_id, string_split(text, ' ') as l from dec),
bg as (
  select distinct
    ('0x' || substr(md5(array_to_string(l[i : i + {_DECON_N - 1}], ' ')), 1, 15))::bigint as g
  from lst, unnest(case when len(l) >= {_DECON_N}
                        then generate_series(1, len(l) - {_DECON_N - 1})
                        else [] end) as u(i)
  where doc_id % 97 = 0),
dg as (
  select doc_id, i,
    ('0x' || substr(md5(array_to_string(l[i : i + {_DECON_N - 1}], ' ')), 1, 15))::bigint as g
  from lst, unnest(case when len(l) >= {_DECON_N}
                        then generate_series(1, len(l) - {_DECON_N - 1})
                        else [] end) as u(i)),
bad as (select dg.doc_id, dg.i from dg join bg using (g)),
toks as (
  select doc_id, j, l[j] as tok
  from lst, unnest(generate_series(1, len(l))) as u(j)),
mask as (
  select t.doc_id, t.j, t.tok,
    exists(select 1 from bad b
           where b.doc_id = t.doc_id
             and t.j between b.i - 2 and b.i + {_DECON_N - 1} + 2) as m
  from toks t),
runs as (
  select doc_id, j, tok, m,
    coalesce(lag(m) over (partition by doc_id order by j), false) as pm
  from mask),
agg as (
  select doc_id,
    coalesce(string_agg(tok, ' ' order by j) filter (where not m), '')
      as cleaned_text,
    count(*) filter (where m) as n_tokens_removed,
    count(*) filter (where m and not pm) as n_spans_removed
  from runs group by doc_id),
nm as (select doc_id, count(*) as n_matches from bad group by doc_id)
select a.doc_id::bigint as doc_id, a.cleaned_text,
       coalesce(nm.n_matches, 0)::bigint as n_matches,
       a.n_spans_removed::bigint as n_spans_removed,
       a.n_tokens_removed::bigint as n_tokens_removed,
       (coalesce(nm.n_matches, 0) > 0) as contaminated
from agg a left join nm using (doc_id)"""

    return o
