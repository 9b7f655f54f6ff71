"""Seeded input generation for the three workloads, cached by (seed, size).

Every input is a pure function of ``(workload, seed, size)``. Generation and
the pure-Python reference labels run here, in the orchestrator process,
before the Spark worker starts, so no timed region ever pays for them. The
program under test only ever sees the parquet files written here.

Layout of one cached input (``.perfbench/cache/<key>/``):

    props.json            input properties recorded beside every result
    pass/part-*.parquet   ingest: the timed-pass input (4 files, like WARC shards)
    cold/part-*.parquet   every workload: the small cold-pass slice of set-up
    docs/part-*.parquet   dedup: the corpus of one timed call
    shards/shard-*.parquet  stream: the pre-written 250-doc shards
    expect.json           reference labels / constructed duplicate structure
"""

from __future__ import annotations

import json
import os
import random
import shutil

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from chinese_corpus_cleaning_spark.sources import gen

import reference

# Bump when generation changes: old cache entries are then ignored.
GEN_VERSION = 9

INGEST_DOCS = 2400  # one timed ingest pass
INGEST_FILES = 4
COLD_DOCS = 256  # the cold pass inside set-up
SAMPLE_DOCS = 200  # labels checked against the reference, per pass

DEDUP_BASE = 600  # generated docs (the sources/gen class mix)
DEDUP_FAMILIES = 10  # constructed near-dup families ...
DEDUP_FAMILY_SIZE = 6  # ... of this many members
DEDUP_GIANT = 80  # one family larger than the 64-member LSH bucket cap
DEDUP_COPIES = 100  # constructed exact copies
BUCKET_CAP = 64  # dedup_representatives' default max_band_bucket

# Open loop: one 250-doc shard every 1.5 s. A micro-batch takes ~0.6 s, so
# at 1 shard/s a host slowdown of ~1.5x pushes it past the arrival interval,
# a backlog builds, and latency climbs for the rest of the run. At this rate
# it stays below saturation unless the host runs 2.5x slower.
SHARD_DOCS = 250
SHARD_RATE = 2 / 3  # shards per second

WHY = {
    "ingest": (
        "The reference's main path: raw HTML -> with_extraction -> is_zh "
        "filter -> pipeline.run; per-doc Python kernels behind two "
        "ArrowEvalPython nodes, one repartition, no dedup."
    ),
    "dedup": (
        "dedup_representatives over a corpus with exact copies, near-dup "
        "families and one family above the 64-member bucket cap: MinHash "
        "exprs, shuffles, ~17 jobs per call and the driver CC arm."
    ),
    "stream": (
        "Open-loop 250-doc shards, one per 1.5 s, into labeled_stream -> write_labels_batch: "
        "the same quality UDF as ingest, but per-micro-batch fixed cost "
        "(planning, job launch, Arrow handoff, commit) dominates."
    ),
}


def _doc_base(seed: int) -> int:
    """First doc id of a seed's id range (ids never overlap across seeds)."""
    return (seed % 1_000_000) * 10_000_000


def _write_table(rows: list[dict], path: str) -> None:
    pdf = pd.DataFrame(rows)
    if "warc_ts" in pdf:
        pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"]).dt.tz_localize("UTC")
    # Spark reads microsecond timestamps only
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False), path, coerce_timestamps="us"
    )


def _write_parts(path: str, rows: list[dict], n_files: int) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // n_files)
    for i in range(n_files):
        chunk = rows[i * step : (i + 1) * step]
        if chunk:
            _write_table(chunk, f"{path}/part-{i:03d}.parquet")


def _html_doc(doc_id: int) -> dict:
    d = gen.make_doc(doc_id)
    return {"url": d["url"], "warc_ts": d["warc_ts"], "html": d["html"]}


# ------------------------------------------------------------------ ingest


def _gen_ingest(out: str, seed: int, n: int) -> tuple[dict, dict]:
    base = _doc_base(seed)
    docs = [_html_doc(base + i) for i in range(n)]
    cold = [_html_doc(base + n + i) for i in range(COLD_DOCS)]
    _write_parts(f"{out}/pass", docs, INGEST_FILES)
    _write_parts(f"{out}/cold", cold, 1)
    expected = [reference.ingest_label(d["url"], d["html"]) for d in docs]
    zh = [e for e in expected if e is not None]
    rnd = random.Random(f"sample-{seed}")
    sample = sorted(rnd.sample(zh, min(SAMPLE_DOCS, len(zh))), key=lambda e: e["url"])
    props = {
        "docs": n,
        "zh_docs": len(zh),
        "zh_share": round(len(zh) / n, 4),
        "files": INGEST_FILES,
        "cold_docs": COLD_DOCS,
        "keep_share": round(sum(e["keep"] for e in zh) / max(len(zh), 1), 4),
        "error_docs": sum(e["error"] is not None for e in zh),
    }
    return props, {"zh_docs": len(zh), "sample": sample}


# ------------------------------------------------------------------- dedup

_FAM_VOCAB = tuple(chr(0x4E00 + (11 * i + 3) % 20000) for i in range(6000))


def _fam_sentence(rnd: random.Random, n_words: int) -> str:
    return "".join(
        rnd.choice(_FAM_VOCAB) + rnd.choice(_FAM_VOCAB) for _ in range(n_words)
    ) + "。"


def _family_texts(rnd: random.Random, size: int) -> list[str]:
    """``size`` near-duplicates: a shared 24-sentence body, and every member
    but the first appends one short sentence of its own (5-shingle Jaccard
    ~0.97 between members, well above the 0.85 threshold)."""
    body = "\n".join(_fam_sentence(rnd, 12) for _ in range(24))
    return [body] + [body + "\n" + _fam_sentence(rnd, 3) for _ in range(size - 1)]


def _wrap_html(text: str) -> bytes:
    paras = "".join(f"<p>{ln}</p>" for ln in text.split("\n"))
    return f"<html><body>{paras}</body></html>".encode("utf-8")


def _dedup_corpus(seed: int, n_base: int) -> tuple[list[dict], list[list[int]], list[list[int]]]:
    """(rows, families as id lists, constructed exact copies as [copy id,
    source id]). Ids are assigned in generation order, so each copy's id is
    larger than its source's and the copy must come out ``is_duplicate``."""
    rnd = random.Random(f"dedup-{seed}")
    base = _doc_base(seed)
    rows: list[dict] = []

    def add(text: str, html: bytes) -> int:
        doc_id = len(rows)
        rows.append({"doc_id": doc_id, "text": text, "html": html})
        return doc_id

    for i in range(n_base):
        d = gen.make_doc(base + i)
        add(d["text"], d["html"])
    families = []
    sizes = [DEDUP_FAMILY_SIZE] * DEDUP_FAMILIES + [DEDUP_GIANT]
    for size in sizes:
        families.append([add(t, _wrap_html(t)) for t in _family_texts(rnd, size)])
    copies = []
    for _ in range(DEDUP_COPIES):
        src = rows[rnd.randrange(len(rows))]
        copies.append([add(src["text"], src["html"]), src["doc_id"]])
    # the program sees rows in a seeded shuffled order, ids unchanged
    rnd.shuffle(rows)
    return rows, families, copies


def _gen_dedup(out: str, seed: int, n_base: int) -> tuple[dict, dict]:
    rows, families, copies = _dedup_corpus(seed, n_base)
    _write_parts(f"{out}/docs", rows, 4)
    cold_base = _doc_base(seed) + n_base
    cold = []
    for i in range(COLD_DOCS):
        d = gen.make_doc(cold_base + i)
        cold.append({"doc_id": i, "text": d["text"], "html": d["html"]})
    _write_parts(f"{out}/cold", cold, 1)
    constructed = len(copies) + sum(len(f) - 1 for f in families)
    props = {
        "docs": len(rows),
        "generated_docs": n_base,
        "families": len(families),
        "family_size": DEDUP_FAMILY_SIZE,
        "largest_family": max(len(f) for f in families),
        "bucket_cap": BUCKET_CAP,
        "exact_copies": len(copies),
        "constructed_duplicate_share": round(constructed / len(rows), 4),
        "cold_docs": len(cold),
    }
    return props, {"families": families, "copies": copies}


# ------------------------------------------------------------------ stream


def _gen_stream(out: str, seed: int, n_shards: int) -> tuple[dict, dict]:
    base = _doc_base(seed)
    os.makedirs(f"{out}/shards", exist_ok=True)
    expected = {}
    for s in range(n_shards):
        rows = []
        for j in range(SHARD_DOCS):
            d = gen.make_doc(base + s * SHARD_DOCS + j)
            # the shard index rides in the url so each label maps to its shard
            d["url"] = f"{d['url']}?shard={s}"
            rows.append(d)
            expected[d["url"]] = reference.quality_label(d["text"])
        _write_table(rows, f"{out}/shards/shard-{s:04d}.parquet")
    cold = [gen.make_doc(base + n_shards * SHARD_DOCS + i) for i in range(COLD_DOCS)]
    _write_parts(f"{out}/cold", cold, 1)
    props = {
        "shards": n_shards,
        "shard_docs": SHARD_DOCS,
        "rate_shards_per_s": round(SHARD_RATE, 4),
        "offered_docs_per_s": round(SHARD_DOCS * SHARD_RATE, 2),
        "keep_share": round(
            sum(e["keep"] for e in expected.values()) / len(expected), 4
        ),
        "cold_docs": COLD_DOCS,
    }
    return props, {"labels": expected}


_GENERATORS = {"ingest": _gen_ingest, "dedup": _gen_dedup, "stream": _gen_stream}


def ensure(cache_root: str, workload: str, seed: int, size: int) -> str:
    """Generate (once) and return the cache directory for these inputs."""
    key = f"{workload}-v{GEN_VERSION}-seed{seed}-n{size}"
    out = os.path.join(cache_root, key)
    if os.path.exists(f"{out}/props.json"):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    props, expect = _GENERATORS[workload](tmp, seed, size)
    props = {"workload": workload, "seed": seed, "why": WHY[workload], **props}
    with open(f"{tmp}/expect.json", "w") as f:
        json.dump(expect, f)
    with open(f"{tmp}/props.json", "w") as f:
        json.dump(props, f, indent=1)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def load_props(path: str) -> dict:
    with open(f"{path}/props.json") as f:
        return json.load(f)

