"""E2E of the composed curation mega-pipeline (plans/curation.py):

    quality/scrub/PII -> near-dup dedup -> boilerplate removal
        -> deterministic stratified sample

run as ONE plan over a purpose-built corpus with known junk docs, exact +
near duplicates, a corpus-wide boilerplate footer, planted phone-number PII
and three strata — every stage's effect is individually observable in the
single output, the Observation metrics must agree with the per-stage truths,
and the post-checkpoint plan must never hash-partition on a text column."""

from __future__ import annotations

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

from chinese_corpus_cleaning_spark.functions.dfa import build_trie
from chinese_corpus_cleaning_spark.plans.curation import curation_run
from chinese_corpus_cleaning_spark.sources.wordlists import SMALL_LEXICON

# public-domain hanzi pool (Thousand Character Classic opening) — no commas,
# no symbols, so rule F3/F4/F7 pass comfortably
_POOL = (
    "天地玄黄宇宙洪荒日月盈昃辰宿列张寒来暑往秋收冬藏闰余成岁律吕调阳"
    "云腾致雨露结为霜金生丽水玉出昆冈剑号巨阙珠称夜光果珍李柰菜重芥姜"
)
FOOTER = "版权所有盗版必究请勿转载联系客服"
PHONE = "13917340054"  # the reference's own fixture number


def _body(i: int) -> str:
    # 4 lines x 30 unique-ish hanzi: len 120+, zh ratio ~1, avg line len 30
    chars = [_POOL[(i * 7 + j * 3 + i * j) % len(_POOL)] for j in range(120)]
    return "\n".join(
        "".join(chars[k : k + 30]) for k in range(0, 120, 30)
    )


@pytest.fixture(scope="module")
def corpus(spark):
    rows = []
    for i in range(30):  # 30 good docs
        text = _body(i)
        if i % 2 == 0:  # footer in 50% of docs (> the 30% threshold)
            text += "\n" + FOOTER
        if i % 5 == 0:  # planted bare-phone PII line in 6 docs ("联系电话"
            # itself is a SMALL_LEXICON spam word that would zero the
            # feature score — the bare number keeps q at 0.988)
            text += "\n" + PHONE
        rows.append((i, text, "zh", f"s{i % 3}"))
    # near-duplicates of docs 0-2 (one char changed, shingle Jaccard 0.98)
    # and an exact dup of 3
    for j, base in enumerate((0, 1, 2)):
        t = rows[base][1]
        rows.append((30 + j, t[:-1] + "完", "zh", f"s{(30 + j) % 3}"))
    rows.append((33, rows[3][1], "zh", "s0"))
    # junk the quality stage must drop: the engine's keep is the reference's
    # SOFT score (a short doc still passes — CLAUDE.md quirk), so failing
    # docs carry spam lexicon words (feature score 0 -> q 0.35) or are
    # empty (per-doc error isolation)
    rows.append((40, _body(40) + "\n赌博色情暴力特价促销", "zh", "s1"))
    rows.append((41, "促销优惠免费咨询加微信点击链接" * 5, "zh", "s2"))
    rows.append((42, "", "zh", "s0"))
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).cache()


@pytest.fixture(scope="module")
def curated_run(spark, corpus):
    bc = spark.sparkContext.broadcast(build_trie(SMALL_LEXICON))
    curated, obs = curation_run(
        corpus,
        bc,
        strata=("source",),
        k_per_stratum=5,
        boilerplate_min_doc_frac=0.3,
    )
    rows = curated.collect()  # the ONE action the contract asks for
    return rows, {k: o.get for k, o in obs.items()}


def test_stage_metrics_and_dedup(curated_run):
    rows, obs = curated_run
    assert obs["input"]["n"] == 37
    assert obs["kept"]["n"] == 34  # 3 junk docs dropped (short/english/empty)
    # 3 near-dups + 1 exact dup removed (min-id representatives survive to
    # the unique stage; the FINAL rows are the k=5-per-stratum sample, so
    # only the duplicate ids' absence is assertable on the output)
    assert obs["unique"]["n"] == 30
    ids = {r["doc_id"] for r in rows}
    assert {30, 31, 32, 33}.isdisjoint(ids)
    assert ids <= set(range(30))
    assert obs["sampled"]["n"] == len(rows) == 15


def test_boilerplate_removed_and_pii_masked(curated_run):
    rows, _ = curated_run
    by_id = {r["doc_id"]: r for r in rows}
    for r in rows:
        assert FOOTER not in r["clean_text"], r["doc_id"]
        assert PHONE not in r["clean_text"], r["doc_id"]
    # footer docs record exactly one removed line; others zero
    footered = [i for i in by_id if i % 2 == 0]
    assert footered and all(by_id[i]["n_lines_removed"] == 1 for i in footered)
    assert all(by_id[i]["n_lines_removed"] == 0 for i in by_id if i % 2)
    # phone docs carry the mask token on the PII line
    phoned = [i for i in by_id if i % 5 == 0]
    assert phoned and all("<PHONE>" in by_id[i]["clean_text"] for i in phoned)
    assert all(
        "<PHONE>" not in by_id[i]["clean_text"] for i in by_id if i % 5
    )


def test_stratified_quota(curated_run):
    rows, _ = curated_run
    per: dict[str, list[int]] = {}
    for r in rows:
        per.setdefault(r["source"], []).append(r["sample_rank"])
    # 30 unique docs over 3 strata of 10 each; quota k=5 binds everywhere
    assert {s: sorted(v) for s, v in per.items()} == {
        f"s{i}": [1, 2, 3, 4, 5] for i in range(3)
    }


def test_deterministic_under_repartition(spark, corpus):
    bc = spark.sparkContext.broadcast(build_trie(SMALL_LEXICON))
    a, _ = curation_run(
        corpus, bc, strata=("source",), k_per_stratum=5
    )
    b, _ = curation_run(
        corpus.repartition(7), bc, strata=("source",), k_per_stratum=5
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_v2_blocklist_and_c4_compose(spark, corpus):
    """Round-7 opt-in stages: blocked URLs never reach the text stages;
    the C4 stage acts on the BOILERPLATE-CLEANED text (footer lines are
    already gone), folds its drops into n_lines_removed, and its page
    flag drops pages that keep too few lines."""
    # give every doc a URL; docs 6 and 12 land on a blocked domain
    with_urls = corpus.withColumn(
        "url",
        F.when(
            F.col("doc_id").isin(6, 12),
            F.concat(F.lit("https://ads.example.com/x/"), F.col("doc_id")),
        ).otherwise(
            F.concat(F.lit("https://ok.example.net/y/"), F.col("doc_id"))
        ),
    )
    bc = spark.sparkContext.broadcast(build_trie(SMALL_LEXICON))
    curated, obs = curation_run(
        with_urls,
        bc,
        strata=("source",),
        k_per_stratum=30,
        blocklist=["ads.example.com"],
        c4_lines=True,
        # the hanzi bodies are unsegmented (1 whitespace word) and end
        # without terminal punctuation; admit them via the CJK escape
        # hatch on length only by relaxing both line rules
        c4_min_words=1,
        c4_min_lines_kept=1,
        c4_min_chars=1,
    )
    rows = curated.collect()
    assert obs["input"].get["n"] == 37
    assert obs["unblocked"].get["n"] == 35  # docs 6 and 12 blocked
    # no corpus line ends in terminal punctuation, so C4's page flag
    # (min 1 kept line) drops every page — the composed pipeline runs
    # end-to-end through all six stages and the blocklist cut is visible
    # in the observation metrics even with an empty final sample
    assert rows == []


def test_v2_c4_folds_line_counts(spark):
    """Self-contained v2 corpus with C4-decidable lines: keeper lines
    survive, the punct-less junk line is dropped and counted, boilerplate
    removal still precedes C4 (its removed line is not double-counted)."""
    rows = []
    for i in range(12):
        body = "\n".join(
            [
                f"这是第{i}篇文档的完整中文句子内容丰富结构清晰表述自然流畅。",
                f"第二行继续提供编号{i}的真实中文语句保证质量分数合格通过。",
                f"第三行文字编号{i}用来满足最小长度与中文比例规则要求。",
                f"第四行收尾编号{i}的句子让文档长度超过一百字符的阈值。",
                "junk line no punct " + str(i),
                "每页共有的页脚行会被语料级样板检测移除。",
            ]
        )
        rows.append((i, body, f"s{i % 2}"))
    corpus = spark.createDataFrame(rows, "doc_id long, text string, source string")
    bc = spark.sparkContext.broadcast(build_trie(SMALL_LEXICON))
    curated, obs = curation_run(
        corpus,
        bc,
        strata=("source",),
        k_per_stratum=20,
        c4_lines=True,
        c4_min_words=1,
        c4_min_lines_kept=1,
        c4_min_chars=1,
    )
    out = {r["doc_id"]: r for r in curated.collect()}
    assert len(out) == 12
    for i, r in out.items():
        # 6 lines: footer removed by boilerplate (1), junk line dropped
        # by C4 (1) -> 2 removed, 4 keepers survive
        assert r["n_lines_removed"] == 2, r
        assert len(r["clean_text"].split("\n")) == 4
        assert "junk line" not in r["clean_text"]
        assert "页脚行" not in r["clean_text"]


def _check_domain_screen(spark, corpus, id_col):
    # farm.example.cn carries both spam docs (40, 41 — keep=false) plus
    # ONE good doc (25): 2/3 bad > 50 % -> whole host dropped. Everything
    # else, including the empty-text error doc 42, sits on the clean host.
    with_urls = corpus.withColumn(
        "url",
        F.when(
            F.col("doc_id").isin(40, 41, 25),
            F.concat(F.lit("https://farm.example.cn/x/"), F.col("doc_id")),
        ).otherwise(
            F.concat(F.lit("https://ok.example.net/y/"), F.col("doc_id"))
        ),
    )
    bc = spark.sparkContext.broadcast(build_trie(SMALL_LEXICON))
    curated, obs = curation_run(
        with_urls,
        bc,
        strata=("source",),
        k_per_stratum=30,
        id_col=id_col,
        domain_screen=True,
        domain_min_docs=3,
        domain_max_bad_pct=50,
    )
    rows = curated.collect()
    assert obs["input"].get["n"] == 37
    # 3 farm-host docs cut at the domain stage (the good doc 25 included)
    assert obs["domain_kept"].get["n"] == 34
    # per-doc keep then drops the remaining junk (42 empty-error); 41/40
    # are already gone with their host
    assert obs["kept"].get["n"] == 33
    assert obs["unique"].get["n"] == 29  # 3 near-dups + 1 exact dup out
    # url ids end in the doc_id; every duplicate's url sorts after its
    # original's, so the same representatives survive either way
    ids = {int(str(r[id_col]).rsplit("/", 1)[-1]) for r in rows}
    assert 25 not in ids
    assert ids == set(range(30)) - {25}


def test_domain_screen_composes(spark, corpus):
    """Opt-in stage 1.5: a host whose quality-fail fraction exceeds the
    bar loses ALL its docs — including the individually-passing one —
    while hosts below the bar keep theirs; the junk docs on the clean
    host still fall to the per-doc keep filter."""
    _check_domain_screen(spark, corpus, "doc_id")


def test_domain_screen_composes_url_keyed(spark, corpus):
    """The same screen over a corpus keyed by its url (id_col == url_col):
    the url column is then both the id and the host source, and must
    survive stage 1.5."""
    _check_domain_screen(spark, corpus, "url")


def test_no_text_column_keys_a_shuffle(spark, corpus):
    """Post-checkpoint plan (boilerplate + sampler + final join): every
    hashpartitioning key is an id / digest / stratum — never a text body.
    (The pre-checkpoint dedup stages carry their own assertion in
    test_plan_quality.test_dedup_edges_never_shuffle_on_text.)"""
    bc = spark.sparkContext.broadcast(build_trie(SMALL_LEXICON))
    curated, _ = curation_run(corpus, bc, strata=("source",), k_per_stratum=5)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        curated.explain("formatted")
    plan = buf.getvalue()
    exchanges = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert exchanges, plan  # sanity: digest/sampler aggregations do shuffle
    for keys in exchanges:
        for key in keys.split(", "):
            assert not re.match(r"(text|pii_text|clean_text)#", key), (
                key,
                plan,
            )


def test_v2_stages_keep_the_text_shuffle_bound(spark, corpus):
    """The round-7 opt-in stages must not add text-keyed shuffles: the
    blocklist probe moves (id, suffix) rows, the domain screen aggregates
    slim (host, keep) columns and broadcasts its flags back, and the C4
    stage is a pure map-side projection — so the post-checkpoint plan's
    hashpartitioning keys stay ids / digests / hosts / strata with all
    three stages enabled."""
    with_urls = corpus.withColumn(
        "url", F.concat(F.lit("https://ok.example.net/"), F.col("doc_id"))
    )
    bc = spark.sparkContext.broadcast(build_trie(SMALL_LEXICON))
    curated, _ = curation_run(
        with_urls,
        bc,
        strata=("source",),
        k_per_stratum=5,
        blocklist=["ads.example.com"],
        c4_lines=True,
        c4_min_words=1,
        c4_min_lines_kept=1,
        c4_min_chars=1,
        domain_screen=True,
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        curated.explain("formatted")
    plan = buf.getvalue()
    exchanges = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert exchanges, plan
    for keys in exchanges:
        for key in keys.split(", "):
            assert not re.match(r"(text|pii_text|clean_text|url)#", key), (
                key,
                plan,
            )


def test_para_dedup_stage_composes(spark, corpus):
    """Stage 3.25: a paragraph shared by 2/37 docs sits far below the
    boilerplate frequency bar (0.3) and survives stage 3 in both docs;
    with para_dedup=True exactly the h60-first occurrence survives the
    composed pipeline, the drop folds into n_lines_removed, and text
    still never keys a shuffle."""
    shared = "共享段落天地玄黄宇宙洪荒日月盈昃辰宿列张"
    planted = corpus.withColumn(
        "text",
        F.when(
            F.col("doc_id").isin(7, 11),
            F.concat(F.col("text"), F.lit("\n" + shared)),
        ).otherwise(F.col("text")),
    )
    bc = spark.sparkContext.broadcast(build_trie(SMALL_LEXICON))
    curated, _ = curation_run(
        planted,
        bc,
        strata=("source",),
        k_per_stratum=50,  # keep every surviving doc so both 7 and 11 land
        para_dedup=True,
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        curated.explain("formatted")
    plan = buf.getvalue()
    for keys in re.findall(r"hashpartitioning\(([^)]*)\)", plan):
        for key in keys.split(", "):
            assert not re.match(r"(text|pii_text|clean_text)#", key), key
    rows = curated.collect()
    by_id = {r["doc_id"]: r for r in rows}
    assert 7 in by_id and 11 in by_id
    # the scrub lowercases but does not alter hanzi: the shared paragraph
    # is byte-identical in both cleaned docs pre-dedup, so exactly one
    # survives
    n_shared = sum(r["clean_text"].count(shared) for r in rows)
    assert n_shared == 1
    keeper = 7 if shared in by_id[7]["clean_text"] else 11
    dropper = {7: 11, 11: 7}[keeper]
    # the dropped copy is accounted in n_lines_removed (footer removal
    # contributes equally to both docs, so compare against a doc with the
    # same footer parity instead of absolutes)
    assert by_id[dropper]["n_lines_removed"] >= 1
    # the only other change vs the stage-off run is itself a correct
    # paragraph dedup: PII masking rewrites every planted phone line to
    # the IDENTICAL '<PHONE>' paragraph (6 docs — below the boilerplate
    # bar), so the stage keeps exactly one of those too; every non-shared
    # non-masked line is untouched
    base, _ = curation_run(
        planted, bc, strata=("source",), k_per_stratum=50
    )
    base_df = base.select("doc_id", "clean_text", "n_lines_removed").cache()
    # composed(stage on) == paragraph_dedup applied post-hoc to the
    # stage-off output (the downstream sampler keeps every doc at k=50 and
    # ranks on (id, strata) only, so the stage commutes with it)
    from chinese_corpus_cleaning_spark.operators.textanalysis import (
        paragraph_dedup,
    )

    posthoc = {
        r["doc_id"]: (r["clean_text"], r["n_dropped"])
        for r in paragraph_dedup(
            base_df, id_col="doc_id", text_col="clean_text"
        ).collect()
    }
    base_removed = {
        r["doc_id"]: r["n_lines_removed"] for r in base_df.collect()
    }
    assert set(by_id) == set(posthoc)
    for did, r in by_id.items():
        assert r["clean_text"] == posthoc[did][0], did
        assert (
            r["n_lines_removed"] == base_removed[did] + posthoc[did][1]
        ), did
    # the 6 identical '<PHONE>' masked lines collapse to one corpus-wide
    n_phone = sum(r["clean_text"].count("<PHONE>") for r in rows)
    assert n_phone == 1
    base_df.unpersist()


def test_normalize_stage_composes(spark, corpus):
    """Stage 0.5: normalize=True over a corpus decorated with full-width
    ASCII and decomposed combining marks equals the stage-off pipeline run
    over the PRE-normalized input (byte-for-byte, every output column),
    the changed-doc count lands in observations['normalized'], and a
    full-width/decomposed near-copy becomes an exact duplicate that the
    dedup stage collapses."""
    from chinese_corpus_cleaning_spark.functions.unicode_norm import (
        normalize_text,
    )

    half = corpus.collect()
    # doc 40/41: same body, one tail ASCII, one tail full-width +
    # decomposed — exact dups only after normalization
    body = half[5]["text"]
    extra = [
        (40, body + "\ntest123 café", "zh", "s1"),
        (41, body + "\nｔｅｓｔ１２３ café", "zh", "s1"),
        (42, half[6]["text"] + "\n１２３４！", "zh", "s2"),
    ]
    planted = corpus.union(
        spark.createDataFrame(extra, "doc_id bigint, text string, lang string, source string")
    )
    bc = spark.sparkContext.broadcast(build_trie(SMALL_LEXICON))

    curated, ob = curation_run(
        planted, bc, strata=("source",), k_per_stratum=50, normalize=True
    )
    rows = {r["doc_id"]: r for r in curated.collect()}
    assert ob["normalized"].get["n_changed"] >= 3

    # equivalence: normalize-then-curate == curate(pre-normalized input)
    pre = normalize_text(planted, out_col="text")
    base, _ = curation_run(
        pre, bc, strata=("source",), k_per_stratum=50
    )
    base_rows = {r["doc_id"]: r for r in base.collect()}
    assert set(rows) == set(base_rows)
    for did, r in rows.items():
        assert tuple(r) == tuple(base_rows[did]), did

    # 40 and 41 normalize to identical text -> exactly one survives dedup
    assert len({40, 41} & set(rows)) == 1


def test_user_host_stratum_survives_operator_stages(spark, corpus):
    """Review finding: url_blocklist_filter and domain_quality_filter
    withColumn('host', ...) CLOBBERED a same-named user column, and the
    post-stage drop then destroyed it (AnalysisException at the strata
    select). A user 'host' stratum must ride through both opt-in stages
    intact."""
    with_urls = corpus.withColumn(
        "url", F.concat(F.lit("https://ok.example.net/y/"), F.col("doc_id"))
    ).withColumn(
        # a USER host column, deliberately different from the URL host
        "host",
        F.concat(F.lit("stratum-"), (F.col("doc_id") % 2).cast("string")),
    )
    bc = spark.sparkContext.broadcast(build_trie(SMALL_LEXICON))
    curated, obs = curation_run(
        with_urls,
        bc,
        strata=("host",),
        k_per_stratum=30,
        blocklist=["ads.example.com"],
        domain_screen=True,
        domain_min_docs=3,
        domain_max_bad_pct=90,
    )
    rows = curated.collect()
    assert rows, "pipeline produced no rows"
    hosts = {r["host"] for r in rows}
    # the user column's own values survive — not the URL-derived host
    assert hosts <= {"stratum-0", "stratum-1"} and len(hosts) == 2
