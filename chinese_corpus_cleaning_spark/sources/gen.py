"""Deterministic synthetic Common-Crawl-style docs corpus.

Produces the BASELINE.json ``input_hint`` schema:

    docs(url: string, warc_ts: timestamp, html: binary, text: string, lang: string)

plus a generator-side ``doc_class`` column for test assertions. Document
classes mirror the reference's own fixtures
(/root/reference/text_quality_filter/test_filter.py and FIXTURES.md §2):
normal zh prose, vbar SEO spam, short text, low-zh-ratio, ad+phone,
sensitive words, mixed spam, jumbled repeats, near-duplicate families, and
scrub/boundary edge cases. One intentionally hot host exercises skew salting.

Every row is a pure function of ``doc_id`` (seeded ``random.Random(f"doc{id}")``)
so generation is embarrassingly parallel: ``spark.range(n)`` + ``mapInPandas``
yields the identical corpus under any partitioning — no driver-side
materialization at scale.
"""

from __future__ import annotations

import datetime as dt
import random

import pandas as pd

DOC_CLASSES = (
    "normal_zh",        # keep
    "seo_vbar_spam",    # drop
    "short_text",       # fails length check (reference still keeps via score)
    "low_zh_ratio",     # drop
    "ad_phone",         # drop; scrub targets
    "sensitive_words",  # feature hits; scrub targets
    "mixed_spam",       # drop
    "jumbled_repeat",   # high 13-gram dup
    "near_dup",         # near-duplicate families
    "edge_1989",        # scrub boundary case
)
_CLASS_WEIGHTS = (40, 10, 5, 8, 8, 8, 6, 5, 8, 2)

_NORMAL_SENTENCES = (
    "文本质量过滤是自然语言处理中的重要任务，旨在从大量文本数据中筛选出高质量的内容。",
    "高质量的文本通常具有较高的中文比例、适当的符号使用、较低的内部重复率等特点。",
    "通过多种过滤方法的组合，可以有效提高语料库的质量，为后续任务提供更好的基础。",
    "随着技术的进步，人工智能已经深入到我们生活的方方面面。",
    "从智能手机助手到自动驾驶汽车，从推荐系统到智能家居，科技正在改变生活方式。",
    "机器学习模型的训练需要大量干净的语料，数据清洗因此变得越来越重要。",
    "分布式计算框架能够将海量网页的处理任务划分到成千上万个节点上并行执行。",
    "研究人员提出了多种启发式规则来衡量网页正文的质量与可读性。",
    "语言模型的困惑度可以作为文本流畅程度的一种量化指标。",
    "网络爬虫抓取的页面中存在大量模板化的噪声内容，需要仔细剔除。",
)

# large deterministic vocabulary of 2-char CJK "words" — normal prose is
# composed from it so unrelated documents do NOT share 5-shingles (real
# webtext is diverse; a 10-sentence pool made every doc a near-dup of every
# other, which is degenerate for LSH benchmarks)
_VOCAB = tuple(
    chr(0x4E00 + (7 * i) % 3000) + chr(0x4E00 + (13 * i + 5) % 3000)
    for i in range(2500)
)


def _sentence(rnd: random.Random) -> str:
    n = rnd.randint(8, 18)
    return "".join(rnd.choice(_VOCAB) for _ in range(n)) + "。"
_SPAM_SEGMENTS = (
    "久久久久久日本一区99", "欧美日韩毛片一区", "99国产精品视频久久久久",
    "国产极品精频在线观看", "免费亚洲黄色", "美国毛片一级视频在线",
    "日韩成人小视频", "国产亚洲精品久久精品6", "中文字幕一区在线播放",
    "亚洲午夜久久久久国产", "精品视频在线", "不卡一区二区",
)
_AD_LINES = (
    "限时特价促销！优惠活动仅限三天！",
    "联系电话：{phone}，添加微信享受更多折扣。",
    "访问我们的官网www.example{k}.com，或扫码关注。",
    "免费咨询热线，点击链接立即抢购，秒杀底价。",
)
_SENSITIVE_LINES = (
    "这段内容涉及到色情、赌博、毒品等违规信息。",
    "此类暴力内容应当被过滤系统识别并清除。",
    "网站禁止发布色情和赌博相关的任何内容。",
)
_ENGLISH = (
    "This is a test text with very little Chinese content indeed.",
    "Most of this document is written in plain English words only.",
    "Quality filters should reject pages whose Chinese ratio is low.",
)

HOSTS = tuple(f"site{i:02d}.example.cn" for i in range(50))
HOT_HOST = "portal.hot-host.cn"  # skew target: ~30% of all docs
_BASE_TS = dt.datetime(2025, 3, 15, 3, 16, 26)

_NEAR_DUP_FAMILY_SIZE = 8


def _pick_class(rnd: random.Random) -> str:
    return rnd.choices(DOC_CLASSES, weights=_CLASS_WEIGHTS, k=1)[0]


def _text_for(cls: str, rnd: random.Random, doc_id: int) -> str:
    if cls == "normal_zh":
        k = rnd.randint(4, 8)
        lines = [_sentence(rnd) for _ in range(k - 1)]
        lines.insert(rnd.randrange(k), rnd.choice(_NORMAL_SENTENCES))
        return "\n".join(lines)
    if cls == "seo_vbar_spam":
        k = rnd.randint(15, 30)
        return " | ".join(rnd.choice(_SPAM_SEGMENTS) for _ in range(k)) + " |"
    if cls == "short_text":
        return "这是一个太短的文本" + str(rnd.randint(0, 9))
    if cls == "low_zh_ratio":
        lines = [rnd.choice(_ENGLISH) for _ in range(rnd.randint(3, 5))]
        lines.append("这只有一点点中文内容。")
        return "\n".join(lines)
    if cls == "ad_phone":
        phone = "13" + "".join(str(rnd.randint(0, 9)) for _ in range(9))
        body = [_sentence(rnd)]
        for tpl in _AD_LINES:
            body.append(tpl.format(phone=phone, k=rnd.randint(1, 99)))
        return "\n".join(body)
    if cls == "sensitive_words":
        body = [_sentence(rnd) for _ in range(2)]
        body += list(_SENSITIVE_LINES[: rnd.randint(1, 3)])
        return "\n".join(body)
    if cls == "mixed_spam":
        phone = "138" + "".join(str(rnd.randint(0, 9)) for _ in range(8))
        return "\n".join(
            [
                "这是一个混合了多种特征词的文本。",
                "包含促销优惠等广告词，也有色情赌博等敏感词。",
                f"联系电话：{phone}，添加微信了解更多。",
                rnd.choice(_SPAM_SEGMENTS),
            ]
        )
    if cls == "jumbled_repeat":
        chunk = _sentence(rnd)
        return chunk * rnd.randint(4, 8)
    if cls == "near_dup":
        # family members share an 8-sentence base; each non-base member
        # appends one short unique sentence => shingle Jaccard ~0.9, above
        # the 0.85 near-dup threshold (clustering.py:25-27)
        family = doc_id // _NEAR_DUP_FAMILY_SIZE
        frnd = random.Random(f"family{family}")
        base = [_sentence(frnd) for _ in range(8)]
        member = doc_id % _NEAR_DUP_FAMILY_SIZE
        if member:
            base.append("".join(rnd.choice(_VOCAB) for _ in range(4)) + "。")
        return "\n".join(base)
    if cls == "edge_1989":
        return (
            "1989年的历史事件与1989这个数字本身不同。\n"
            + "\n".join(_sentence(rnd) for _ in range(4))
        )
    raise ValueError(cls)


def _html_for(text: str, rnd: random.Random) -> bytes:
    """Minimal page wrapper with boilerplate exercising the tag-drop list of
    /root/reference/tool.py:51."""
    paras = "".join(f"<p>{ln}</p>" for ln in text.split("\n"))
    return (
        "<html><head><meta charset='utf-8'><script>var t={};</script>"
        "<style>.x{{color:red}}</style></head><body><header>页眉</header>"
        "<nav>首页 | 分类 | 关于</nav>{}<noscript>请启用JS</noscript>"
        "<footer>版权所有 © 2025</footer></body></html>"
    ).format(rnd.randint(0, 9), paras).encode("utf-8")


def make_doc(doc_id: int) -> dict:
    rnd = random.Random(f"doc{doc_id}")
    cls = _pick_class(rnd)
    text = _text_for(cls, rnd, doc_id)
    host = HOT_HOST if rnd.random() < 0.3 else rnd.choice(HOSTS)
    lang = "en" if cls == "low_zh_ratio" and rnd.random() < 0.5 else "zh"
    return {
        "url": f"https://{host}/{cls}/{doc_id}",
        "warc_ts": _BASE_TS + dt.timedelta(seconds=doc_id % 86400),
        "html": _html_for(text, rnd),
        "text": text,
        "lang": lang,
        "doc_class": cls,
    }


def docs_pandas(n: int) -> pd.DataFrame:
    """Driver-side generation for tests (small n)."""
    return pd.DataFrame([make_doc(i) for i in range(n)])


DOCS_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, "
    "lang string, doc_class string"
)


def docs_df(spark, n: int, partitions: int = 32):
    """Distributed generation: spark.range -> mapInPandas. Deterministic under
    any partitioning because each row depends only on its id."""

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame([make_doc(int(i)) for i in pdf["id"]])

    return (
        spark.range(0, n, 1, partitions)
        .mapInPandas(gen, schema=DOCS_SCHEMA)
    )


# prose-like classes a supervised quality classifier should KEEP; everything
# else (spam/ad/sensitive/degenerate/short/foreign) is the negative class
QUALITY_GOOD_CLASSES = ("normal_zh", "edge_1989", "near_dup")


def label_docs(d):
    """Project a docs_df-shaped frame to the canonical labeled fixture
    (doc_id, text, label, doc_class). ONE definition of the label
    derivation on purpose: bench.py and BENCH/scale_worker.py label their
    cached corpora with this too, so a change to the URL shape or the
    good-class set can never silently drift between the gate fixture and
    the benches (review finding)."""
    from pyspark.sql import functions as F

    return d.select(
        F.split("url", "/").getItem(4).cast("long").alias("doc_id"),
        "text",
        F.col("doc_class")
        .isin(*QUALITY_GOOD_CLASSES)
        .cast("int")
        .alias("label"),
        "doc_class",
    )


def labeled_docs_df(spark, n: int, partitions: int = 32):
    """Deterministic labeled training fixture for the learned quality
    classifier (operators/classifier.py): (doc_id, text, label, doc_class)
    with label 1 for the prose classes and 0 for the spam/degenerate ones.
    Pure function of doc_id like docs_df — same corpus under any
    partitioning, no external data."""
    return label_docs(docs_df(spark, n, partitions))


# ------------------------------------------------------- synthetic media

# Dimension formulas shared with the media_dims DuckDB oracle
# (plans/oracles.py): the oracle recomputes these from doc_id instead of
# parsing bytes, so a correct header PARSER (operators/multimodal.
# parse_image_dims) is exactly what makes the gate row match.
MEDIA_W = "16 + (doc_id * 7) % 2048"
MEDIA_H = "16 + (doc_id * 13) % 2048"


def image_blob_for(doc_id: int) -> bytes:
    """Deterministic minimal-but-valid image HEADER bytes: kind cycles
    png/jpeg/gif by doc_id % 3, dimensions from MEDIA_W/MEDIA_H. The bytes
    are real spec-conformant headers (a codec-backed parser would agree on
    the dimensions), plus a short deterministic payload tail so blobs have
    content beyond the header."""
    import struct

    w = 16 + (doc_id * 7) % 2048
    h = 16 + (doc_id * 13) % 2048
    tail = f"payload{doc_id}".encode()
    kind = doc_id % 3
    if kind == 0:  # PNG: signature + IHDR chunk
        ihdr = struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00"
        return (
            b"\x89PNG\r\n\x1a\n"
            + struct.pack(">I", 13)
            + b"IHDR"
            + ihdr
            + b"\x00\x00\x00\x00"  # (uncomputed CRC — header parse only)
            + tail
        )
    if kind == 1:  # JPEG: SOI + APP0(JFIF) + SOF0
        app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + struct.pack(">HH", 72, 72) + b"\x00\x00"
        sof0 = (
            b"\xff\xc0"
            + struct.pack(">H", 17)
            + b"\x08"
            + struct.pack(">HH", h, w)
            + b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01"
        )
        return b"\xff\xd8" + app0 + sof0 + tail
    # GIF89a: little-endian logical-screen descriptor
    return b"GIF89a" + struct.pack("<HH", w, h) + b"\xf7\x00\x00" + tail


def media_blob_udf():
    """Arrow-batched blob builder (id -> header bytes); pandas UDF, never
    row-at-a-time."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import BinaryType

    @F.pandas_udf(BinaryType())
    def build(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: image_blob_for(int(i)))

    return build
