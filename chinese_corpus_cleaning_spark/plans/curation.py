"""The curation mega-pipeline: every stage a 100 TB training-data run needs,
composed as ONE Spark plan —

    [URL blocklist ->] [unicode normalize ->]
        quality/scrub/PII [-> domain-quality screen]
        -> near-dup dedup -> corpus boilerplate removal
        [-> paragraph dedup] [-> C4 line cleanup]
        -> deterministic stratified sample

(bracketed stages are the round-7 opt-ins; a perplexity-bucket stratum
composes by passing ppl_buckets' label column in ``strata``)

The individual operators are all gate-verified (plans/catalog.py rows);
what this module adds is their COMPOSITION: checkpoint placement, observe()
metrics with zero extra jobs, and an audited bound on text movement.

Text-shuffle audit (the number tests/test_curation.py plan-asserts):
document BODIES cross a shuffle exactly TWICE end-to-end —
  1. inside dedup_representatives: the semi-join fetching each exact-
     representative's text for MinHash (dedup.py's documented single text
     shuffle; the exact pass itself keys on md5 digests);
  2. the survivor semi-join selecting non-duplicate curated rows (the label
     table is corpus-sized, so it cannot broadcast).
Everything else moves digests, ids, or counts: the quality/scrub/PII stage
is one Arrow pass plus native map-side projections; boilerplate frequency
ships (md5, count) partials and removal is a broadcast-set map-side filter;
the sampler ranks a slim (id, strata) projection and the winning id set —
bounded by k x |strata| rows by construction — broadcasts back for the
final semi-join.

Checkpoint placement: the kept/PII frame is localCheckpointed BEFORE dedup
(dedup scans its input several times — exact pass, representative fetch —
and each rescan would otherwise re-run the Arrow quality UDF); the unique
survivors are checkpointed before boilerplate (frequency pass + removal
pass both scan them). Both checkpoints follow the CLAUDE.md loop-state
doctrine measured in round 3.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..config import DEFAULT, DedupConfig, PipelineConfig
from ..operators.dedup import dedup_representatives
from ..operators.quality import with_pii, with_quality
from ..operators.sampling import stratified_sample
from ..operators.textanalysis import (
    c4_line_filter,
    domain_quality_filter,
    paragraph_dedup,
    remove_boilerplate,
    url_blocklist_filter,
)

__all__ = ["curation_run"]


def _shield_columns(df, reserved):
    """Temporarily rename user columns that collide with an operator's
    internal/output names (review finding: url_blocklist_filter and
    domain_quality_filter withColumn('host', ...) CLOBBERED a user 'host'
    stratum, which the post-stage drop then destroyed). Returns
    (renamed_df, rename_map); _unshield restores. Pure projection — no
    plan cost, and the operators' zero-shuffle doc side is untouched
    (joining decisions back by id instead would shuffle a corpus-sized
    flag table)."""
    ren = {c: f"__user_{c}" for c in df.columns if c in reserved}
    for a, b in ren.items():
        df = df.withColumnRenamed(a, b)
    return df, ren


def _unshield_columns(df, ren):
    for a, b in ren.items():
        df = df.withColumnRenamed(b, a)
    return df


def curation_run(
    docs: DataFrame,
    trie_broadcast,
    cfg: PipelineConfig = DEFAULT,
    dedup_cfg: DedupConfig | None = None,
    strata: tuple[str, ...] = ("source", "lang"),
    k_per_stratum: int = 100,
    boilerplate_min_doc_frac: float = 0.3,
    max_band_bucket: int | None = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    blocklist=None,
    url_col: str = "url",
    c4_lines: bool = False,
    c4_min_words: int = 3,
    c4_min_lines_kept: int = 3,
    c4_min_chars: int | None = None,
    domain_screen: bool = False,
    domain_min_docs: int = 5,
    domain_max_bad_pct: int = 50,
    para_dedup: bool = False,
    normalize: bool = False,
) -> tuple[DataFrame, dict[str, Observation]]:
    """Returns (curated, observations). ``curated`` has columns
    (id, clean_text, n_lines_removed, *strata, sample_rank); run ONE action
    on it (count/write), then read each Observation.get — the metrics
    piggyback on the stage checkpoints and the final action, costing zero
    extra jobs (round-3 measured doctrine).

    Near-dup dedup runs on the ORIGINAL text (masking/scrubbing must not
    change what counts as a duplicate); the curated output text is the
    boilerplate-cleaned PII-masked scrub output (``pii_text``) — the bytes
    a training run should actually consume.

    Round-7 composition knobs:

    * ``blocklist`` (+ ``url_col``) — stage 0, the CHEAPEST cut first:
      UT1-style domain filtering (url_blocklist_filter) drops blocked
      docs before any text work. The matched-hits join back onto the
      corpus is AQE's choice; hits are bounded by the blocked fraction,
      so at bench-through-production scales it broadcasts and text stays
      map-side (the stage precedes the kept-checkpoint either way, so
      the audited post-checkpoint bound is unchanged).
    * ``c4_lines`` (+ ``c4_*``) — C4 line-level cleanup between
      boilerplate removal and sampling: pure map-side projection (no
      shuffle); pages failing C4's page flags (poison markers /
      too-few-kept-lines) are dropped, and removed lines fold into
      ``n_lines_removed``.
    * ``para_dedup`` —
      stage 3.25, corpus-wide exact paragraph dedup on the cleaned text
      (operators/textanalysis.paragraph_dedup): the long tail of
      exactly-repeated paragraphs below the boilerplate frequency bar
      keeps only its h60-first occurrence; dropped paragraphs fold into
      ``n_lines_removed``.
    * ``normalize`` — stage 0.5, Unicode canonicalization
      (functions/unicode_norm: full-width→ASCII fold + NFC) applied to
      ``text_col`` in place BEFORE any text-keyed work, so the DFA
      scrub, MinHash shingles, boilerplate digests, and paragraph
      hashes all see canonical bytes (a full-width or decomposed copy
      of a doc becomes its exact duplicate). Map-side (one native
      translate + one Arrow pass) — the text-shuffle audit is
      unchanged; the changed-doc count lands in
      ``observations['normalized']`` at zero extra jobs. Runs AFTER
      the blocklist so blocked docs never pay the NFC UDF.
    * a perplexity stratum needs no knob: strata columns pass through
      every stage, so label docs with operators/perplexity.ppl_buckets
      first and name its ``ppl_bucket`` column in ``strata``.
    * ``domain_screen`` (+ ``domain_min_docs`` / ``domain_max_bad_pct``,
      needs ``url_col``) — stage 1.5, host-level quality escalation
      (domain_quality_filter): hosts whose quality-fail fraction strictly
      exceeds the bar lose ALL their docs, including the individually-
      passing ones (the content-farm cut). The scored frame is
      localCheckpointed first — the host aggregate and the keep filter
      each scan it, and without the checkpoint the Arrow quality UDF
      would run twice (CLAUDE.md loop-state doctrine); the aggregate
      itself ships only slim (host, keep) columns after pruning and the
      flagged-host set broadcasts back, so the text-shuffle audit
      (exactly 2) is unchanged."""
    dedup_cfg = dedup_cfg or DedupConfig()
    obs = {
        "input": Observation("curation_input"),
        "kept": Observation("curation_kept"),
        "unique": Observation("curation_unique"),
        "sampled": Observation("curation_sampled"),
    }

    # ---- stage 0 (opt-in): URL domain blocklist — drops whole documents
    # on a slim (id, suffix) probe before any text-side work
    work = docs.observe(obs["input"], F.count(F.lit(1)).alias("n"))
    if blocklist is not None:
        obs["unblocked"] = Observation("curation_unblocked")
        work, ren = _shield_columns(
            work, ("host", "blocked_domain", "is_blocked")
        )
        work = _unshield_columns(
            url_blocklist_filter(work, blocklist, url_col=url_col, id_col=id_col)
            .where(~F.col("is_blocked"))
            .drop("host", "blocked_domain", "is_blocked"),
            ren,
        ).observe(obs["unblocked"], F.count(F.lit(1)).alias("n"))

    # ---- stage 0.5 (opt-in): unicode canonicalization in place — width
    # fold native, NFC one Arrow pass; downstream hashing sees canonical
    # bytes. Changed-count observation rides the same pass.
    if normalize:
        # normalize_text IS the gated operator (unicode_normalize row) —
        # reusing it keeps the pipeline's normalization the exact bytes
        # the oracle verifies (review finding: an inline fold+NFC copy
        # could silently diverge from the canonical definition)
        from ..functions.unicode_norm import normalize_text

        obs["normalized"] = Observation("curation_normalized")
        work = (
            normalize_text(work, text_col, out_col="__norm")
            .observe(
                obs["normalized"],
                F.sum(
                    (F.col("__norm") != F.col(text_col)).cast("bigint")
                ).alias("n_changed"),
            )
            .withColumn(text_col, F.col("__norm"))
            .drop("__norm")
        )

    # ---- stage 1: quality + DFA scrub + PII mask (one Arrow pass + native
    # projections, map-side; with_quality preserves passthrough columns).
    # The url rides along only for stage 1.5, and only when it is not
    # already the id (a url-keyed corpus would otherwise project it twice
    # and lose its id to stage 1.5's drop).
    url_extra = [url_col] if domain_screen and url_col != id_col else []
    scored = with_quality(
        work.select(id_col, *url_extra, text_col, *strata),
        trie_broadcast,
        cfg,
        text_col=text_col,
    )

    # ---- stage 1.5 (opt-in): domain-level quality escalation — flag hosts
    # whose quality-fail fraction exceeds the bar and drop ALL their docs.
    # Checkpoint first: the host aggregate and the keep filter both scan
    # scored, and each rescan would re-run the Arrow quality UDF.
    if domain_screen:
        scored = scored.localCheckpoint(eager=True)
        obs["domain_kept"] = Observation("curation_domain_kept")
        scored, ren = _shield_columns(
            scored, ("host", "domain_n", "domain_bad", "domain_flagged")
        )
        scored = _unshield_columns(
            domain_quality_filter(
                scored,
                bad_expr="not keep",
                url_col=url_col,
                id_col=id_col,
                min_docs=domain_min_docs,
                max_bad_pct=domain_max_bad_pct,
            )
            .where(~F.col("domain_flagged"))
            .drop("host", "domain_n", "domain_bad", "domain_flagged", *url_extra),
            ren,
        ).observe(obs["domain_kept"], F.count(F.lit(1)).alias("n"))

    kept = (
        with_pii(scored.where(F.col("keep")), "scrubbed_text")
        .select(id_col, text_col, "pii_text", "n_phone", "n_id_number", *strata)
        .observe(obs["kept"], F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )

    # ---- stage 2: near-dup dedup on original text; survivors semi-join
    # (text shuffle #2 of 2 — see module doc)
    labels = dedup_representatives(
        kept.select(F.col(id_col), F.col(text_col)),
        dedup_cfg,
        id_col=id_col,
        text_col=text_col,
        max_band_bucket=max_band_bucket,
    )
    uniq = (
        kept.join(
            labels.where(~F.col("is_duplicate")).select(
                F.col("id").alias(id_col)
            ),
            id_col,
            "left_semi",
        )
        .observe(obs["unique"], F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )

    # ---- stage 3: corpus-level boilerplate removal over the CURATED text
    # (digests-only shuffle; removal map-side; strata ride through)
    cleaned = remove_boilerplate(
        uniq,
        id_col=id_col,
        text_col="pii_text",
        min_doc_frac=boilerplate_min_doc_frac,
        keep_cols=strata,
    )

    # ---- stage 3.25 (opt-in): corpus-wide exact paragraph dedup on the
    # cleaned text (MassiveText A1.2) — frequency-based boilerplate removal
    # (stage 3) killed the >= min_doc_frac fragments; this stage kills the
    # LONG TAIL of exactly-repeated paragraphs below that bar, keeping each
    # one's h60-first occurrence. The dedup decision moves slim hash rows
    # only; the drop-list join back onto the docs is AQE's choice — when it
    # broadcasts, text stays map-side and the audited text-shuffle bound is
    # unchanged at 2; when the affected-doc set is too large to broadcast
    # the join adds text shuffle #3 (the plan test asserts <= 3 with this
    # stage on). Dropped paragraphs fold into n_lines_removed.
    if para_dedup:
        pdd = paragraph_dedup(cleaned, id_col=id_col, text_col="clean_text")
        cleaned = pdd.select(
            F.col(id_col),
            F.col("clean_text"),
            (F.col("n_lines_removed") + F.col("n_dropped")).alias(
                "n_lines_removed"
            ),
            *strata,
        )

    # ---- stage 3.5 (opt-in): C4 line-level cleanup on the cleaned text —
    # map-side only; page poison flags drop whole docs, dropped lines fold
    # into n_lines_removed
    if c4_lines:
        c4ed = c4_line_filter(
            cleaned,
            id_col=id_col,
            text_col="clean_text",
            min_words=c4_min_words,
            min_lines_kept=c4_min_lines_kept,
            min_chars=c4_min_chars,
            keep_cols=("n_lines_removed", *strata),
        )
        cleaned = c4ed.where(F.col("page_keep")).select(
            F.col(id_col),
            F.col("clean_text"),
            (
                F.col("n_lines_removed")
                + F.col("n_lines")
                - F.col("n_lines_kept")
            ).alias("n_lines_removed"),
            *strata,
        )

    # ---- stage 4: deterministic per-stratum quota; winner ids broadcast
    # back (<= k x |strata| rows by construction) so text never shuffles
    sample = stratified_sample(
        cleaned.select(id_col, *strata), strata, k=k_per_stratum, id_col=id_col
    )
    curated = (
        cleaned.join(
            F.broadcast(sample.select(id_col, "sample_rank")), id_col
        )
        .observe(obs["sampled"], F.count(F.lit(1)).alias("n"))
    )
    return curated, obs
