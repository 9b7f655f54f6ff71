"""Drop-in API facade: the reference's ``TextQualityFilter`` surface
(/root/reference/text_quality_filter/main.py:28-415) re-implemented so a
user of the reference can switch imports and keep their calling code —
with every batch entry point executing on Spark instead of a tqdm loop.

Parity contract (differential-tested in tests/test_api_facade.py):
  * same constructor config keys and defaults (GENERAL_CONFIG,
    config/config.py:47-63): enable_rule_filter / enable_feature_words /
    enable_perplexity / enable_clustering / quality_threshold /
    component_weights / output_dir;
  * ``filter_text`` returns the same (is_high_quality, results) shape with
    identical scores for the default components (rule + feature over the
    vendored 43k-word lexicon); empty text raises ZeroDivisionError exactly
    like the reference (main.py:150 -> rule_filter.py:383);
  * ``filter_sensitive_content`` returns the identical scrubbed text
    (main.py:317-361 semantics: empty/None pass through, errors return the
    input unchanged);
  * ``batch_process`` / ``batch_filter_sensitive`` keep the reference's
    file-level contract (kept texts copied to output_dir, per-file JSON
    results under output_dir/results, stats.json + the same stats dict) but
    score documents distributed on Spark. For petabyte corpora use
    plans/pipeline.py (parquet in/out); this facade is the migration path
    for the reference's directory-of-.txt workflows.

Perplexity/clustering components: the reference disables both by default
(GENERAL_CONFIG) and degrades gracefully when the model deps are absent;
this facade accepts the flags and, when enabled, uses the n-gram scorer /
embedding path only if the caller wires them (see operators/perplexity.py,
operators/similarity.py) — matching the reference's "component missing ->
skipped" behaviour (main.py:73-90: perplexity_calculator = None).
"""

from __future__ import annotations

import glob
import json
import os

from .config import DEFAULT, WEIGHT_CLUSTERING, WEIGHT_PERPLEXITY, PipelineConfig
from .functions.dfa import scrub
from .functions.feature import evaluate_features
from .functions.textstats import check_reasons, evaluate_rules
from .sources.wordlists import full_trie


def _write_json(path: str, obj: dict) -> None:
    # indent=2 like every results JSON the reference writes
    with open(path, "w", encoding="utf-8") as f:
        json.dump(obj, f, ensure_ascii=False, indent=2)


GENERAL_DEFAULTS = {
    "enable_rule_filter": DEFAULT.enable_rule,
    "enable_feature_words": DEFAULT.enable_feature,
    "enable_perplexity": False,
    "enable_clustering": False,
    "output_dir": None,
    "quality_threshold": DEFAULT.quality_threshold,
    "component_weights": {
        "rule_score": DEFAULT.weight_rule,
        "feature_score": DEFAULT.weight_feature,
        "perplexity_score": WEIGHT_PERPLEXITY,
        "clustering_score": WEIGHT_CLUSTERING,
    },
}


class TextQualityFilter:
    """See module docstring. ``spark`` is optional: single-document methods
    run driver-side; batch methods create/get a session lazily."""

    def __init__(self, config: dict | None = None, spark=None):
        self.config = dict(GENERAL_DEFAULTS)
        if config:
            self.config.update(config)
        self._spark = spark
        self._trie = full_trie()

    # ------------------------------------------------------------- single-doc

    def filter_text(self, text: str) -> tuple[bool, dict]:
        """main.py:135-217 with the default enabled components. Empty text
        raises ZeroDivisionError from rule scoring — reference quirk kept."""
        results: dict = {}
        scores: dict = {}
        if self.config["enable_rule_filter"]:
            _passed, flags, rscore, stats = evaluate_rules(text, DEFAULT.rule)
            reasons = check_reasons(stats, flags, DEFAULT.rule)
            results["rule_filter"] = {
                "passed": all(flags.values()),
                "details": {
                    k: {"pass": flags[k], "reason": reasons[k]} for k in flags
                },
            }
            scores["rule_score"] = rscore
        if self.config["enable_feature_words"]:
            feat = evaluate_features(text, self._trie, DEFAULT.feature)
            results["feature_words"] = {
                "passed": feat.passed,
                "details": {
                    "feature_check": {
                        "pass": feat.passed,
                        "details": {
                            "feature_count": feat.feature_count,
                            "feature_words": feat.feature_words,
                            "avg_per_line": feat.avg_per_line,
                        },
                    }
                },
            }
            scores["feature_score"] = feat.score
        quality_score = self._calculate_quality_score(scores)
        is_high_quality = quality_score >= self.config["quality_threshold"]
        return is_high_quality, {
            "quality_score": quality_score,
            "is_high_quality": is_high_quality,
            "component_results": results,
            "component_scores": scores,
        }

    def _calculate_quality_score(self, scores: dict) -> float:
        """main.py:219-251: weighted mean over the PRESENT components."""
        if not scores:
            return 0.0
        weights = self.config.get(
            "component_weights", GENERAL_DEFAULTS["component_weights"]
        )
        total_weight = 0.0
        weighted_sum = 0.0
        for key, weight in weights.items():
            if key in scores:
                weighted_sum += scores[key] * weight
                total_weight += weight
        if total_weight == 0:
            return 0.0
        return weighted_sum / total_weight

    def _pipeline_config(self) -> PipelineConfig:
        """Project this instance's reference-shaped config dict onto the
        Spark pipeline's PipelineConfig so batch_process scores with the SAME
        threshold / weights / enabled components as filter_text (the
        reference's batch path goes through filter_text and honors
        self.config — main.py:280-285).

        No default-merging of a user-supplied weights dict: the reference's
        _calculate_quality_score (main.py:232-246) iterates the dict AS-IS,
        so a component whose key is absent from a partial
        ``component_weights`` contributes to neither the weighted sum nor
        the weight mass — i.e. weight 0 here, keeping batch_process and
        filter_text score-identical for partial dicts too. Like filter_text,
        the batch path scores rule + feature only."""
        w = self.config.get("component_weights")
        if w is None:
            w = GENERAL_DEFAULTS["component_weights"]
        return PipelineConfig(
            quality_threshold=self.config["quality_threshold"],
            weight_rule=w.get("rule_score", 0.0),
            weight_feature=w.get("feature_score", 0.0),
            enable_rule=self.config["enable_rule_filter"],
            enable_feature=self.config["enable_feature_words"],
        )

    def filter_file(self, filepath: str) -> tuple[bool, dict]:
        """main.py:114-133 — QUIRK KEPT: any per-file exception (including
        the empty-text ZeroDivisionError) is swallowed into
        (False, {"error": ...}), so batch_process counts such files as
        low_quality, NOT as errors (its error counter only sees failures of
        the outer loop)."""
        try:
            with open(filepath, encoding="utf-8", errors="ignore") as f:
                return self.filter_text(f.read())
        except Exception as e:
            return False, {"error": str(e)}

    def filter_sensitive_content(self, text: str) -> str:
        """main.py:317-361: DFA scrub; empty/None pass through unchanged;
        any internal error returns the input."""
        if not text:
            return text
        try:
            return scrub(text, self._trie)
        except Exception:
            return text

    # ------------------------------------------------------------ Spark batch

    def _session(self):
        if self._spark is None:
            from pyspark.sql import SparkSession

            self._spark = (
                SparkSession.builder.master("local[*]")
                .appName("ccc-api")
                .config("spark.sql.shuffle.partitions", "32")
                .config("spark.sql.session.timeZone", "UTC")
                .getOrCreate()
            )
        return self._spark

    def _read_dir(self, input_dir: str, file_pattern: str):
        from pyspark.sql import functions as F

        files = sorted(glob.glob(os.path.join(input_dir, file_pattern)))
        spark = self._session()
        if not files:
            return spark.createDataFrame([], "path string, text string"), []

        # input_file_name() returns a percent-encoded file URI; decode it so
        # os.path.basename reproduces the reference's basename(filepath)
        # contract for non-ASCII (e.g. Chinese) filenames and spaces.
        # Native-expr equivalent of urllib's unquote(urlparse(p).path):
        # strip scheme+authority, protect literal '+' (url_decode is
        # form-decoding and would turn it into a space), then url_decode.
        # try_url_decode + coalesce keeps urllib's LENIENCY: a stray '%'
        # not followed by two hex digits passes through as the raw path
        # instead of failing the whole read job (strict url_decode raises).
        stripped_path = F.regexp_replace(
            F.input_file_name(), "^[a-z][a-z0-9+.-]*:(//[^/]*)?", ""
        )
        decoded_path = F.coalesce(
            F.try_url_decode(F.regexp_replace(stripped_path, r"\+", "%2B")),
            stripped_path,
        )
        df = (
            spark.read.format("text")
            .option("wholetext", True)
            .load(files)
            .select(
                decoded_path.alias("path"),
                F.col("value").alias("text"),
            )
        )
        return df, files

    def batch_process(
        self, input_dir: str, output_dir: str | None = None, file_pattern: str = "*.txt"
    ) -> dict:
        """main.py:253-315's contract, Spark-distributed: every document is
        scored in one Arrow-vectorized pass (operators/quality.py); kept
        texts + per-file result JSONs + stats.json land in output_dir."""
        from pyspark.sql import functions as F

        from .operators.quality import with_quality
        from .sources.wordlists import broadcast_trie

        output_dir = output_dir or self.config["output_dir"] or "output"
        os.makedirs(output_dir, exist_ok=True)
        results_dir = os.path.join(output_dir, "results")
        os.makedirs(results_dir, exist_ok=True)

        df, files = self._read_dir(input_dir, file_pattern)
        stats = {"total": len(files), "high_quality": 0, "low_quality": 0, "error": 0}
        if files:
            spark = self._session()
            trie_bc = broadcast_trie(spark)
            labeled = with_quality(
                df.select(F.col("path").alias("url"), "text"),
                trie_bc,
                self._pipeline_config(),
            ).select(
                "url", "text", "keep", "quality_score", "rule_score",
                "feature_score", "error",
            )
            seen_names: set[str] = set()
            # toLocalIterator: results stream back one Arrow batch at a
            # time — driver memory is O(batch), not O(corpus)
            for r in labeled.toLocalIterator():
                name = os.path.basename(r["url"])
                seen_names.add(name)
                if r["error"] is not None:
                    # reference parity (main.py:114-133): per-doc errors are
                    # low-quality in the stats, not "error"
                    stats["low_quality"] += 1
                    _write_json(
                        os.path.join(results_dir, f"{name}.json"),
                        {"error": r["error"]},
                    )
                    continue
                if r["keep"]:
                    stats["high_quality"] += 1
                    with open(os.path.join(output_dir, name), "w", encoding="utf-8") as f:
                        f.write(r["text"])
                else:
                    stats["low_quality"] += 1
                _write_json(
                    os.path.join(results_dir, f"{name}.json"),
                    {
                        "quality_score": r["quality_score"],
                        "is_high_quality": bool(r["keep"]),
                        # only ENABLED components appear, like the
                        # reference's component_scores dict
                        "component_scores": {
                            k: r[k]
                            for k in ("rule_score", "feature_score")
                            if r[k] is not None
                        },
                    },
                )
            # files Spark's wholetext reader drops (0-byte) behave like the
            # reference's empty-text path: error swallowed -> low_quality,
            # and a per-file error results JSON is still written (the
            # reference writes results for EVERY processed file,
            # main.py:286-301; its empty-text error label maps to the
            # pipeline's "empty_text", operators/quality.py:_eval_one)
            for path in files:
                name = os.path.basename(path)
                if name in seen_names:
                    continue
                # only a file that is actually empty on disk takes the
                # reference's empty-text path; anything else missing from
                # the Spark result is a read failure and must be counted
                # as an error, not masked as empty_text (r7 advice)
                try:
                    is_empty = os.path.getsize(path) == 0
                except OSError:
                    is_empty = False
                if is_empty:
                    stats["low_quality"] += 1
                    err_label = "empty_text"
                else:
                    stats["error"] += 1
                    err_label = "unreadable_input"
                _write_json(
                    os.path.join(results_dir, f"{name}.json"), {"error": err_label}
                )
        _write_json(os.path.join(output_dir, "stats.json"), stats)
        return stats

    def batch_filter_sensitive(
        self, input_dir: str, output_dir: str | None = None, file_pattern: str = "*.txt"
    ) -> dict:
        """main.py:363-415's contract, Spark-distributed scrub. A non-empty
        input missing from the Spark result counts in ``stats["error"]`` and
        leaves ``errors/<name>.json`` = ``{"error": "unreadable_input"}``."""
        from .operators.quality import scrub_udf
        from .sources.wordlists import broadcast_trie

        output_dir = output_dir or self.config["output_dir"] or "output"
        os.makedirs(output_dir, exist_ok=True)
        df, files = self._read_dir(input_dir, file_pattern)
        stats = {"total": len(files), "processed": 0, "error": 0}
        seen_names: set[str] = set()
        if files:
            spark = self._session()
            trie_bc = broadcast_trie(spark)
            scrubbed = df.withColumn("scrubbed", scrub_udf(trie_bc)("text"))
            # stream results back batch-by-batch (driver memory O(batch))
            for r in scrubbed.toLocalIterator():
                name = os.path.basename(r["path"])
                seen_names.add(name)
                with open(os.path.join(output_dir, name), "w", encoding="utf-8") as f:
                    f.write(r["scrubbed"] if r["scrubbed"] is not None else "")
                stats["processed"] += 1
        # 0-byte files are dropped by Spark's wholetext reader; the
        # reference reads "" and writes an EMPTY scrubbed file, counted
        # processed (main.py:395-405) — compensate like batch_process
        # does (review finding: these files silently vanished here).
        # Only files that are ACTUALLY empty on disk get the compensation:
        # a file missing from the Spark result for any other reason
        # (unreadable, read failure) must surface as an error, not be
        # silently masked as a successfully scrubbed empty file (r7
        # advice).
        for path in files:
            name = os.path.basename(path)
            if name in seen_names:
                continue
            try:
                is_empty = os.path.getsize(path) == 0
            except OSError:
                is_empty = False
            if is_empty:
                with open(
                    os.path.join(output_dir, name), "w", encoding="utf-8"
                ) as f:
                    f.write("")
                stats["processed"] += 1
            else:
                # batch_process's error JSON, in a subdirectory: every
                # scrubbed output is a file directly in output_dir
                stats["error"] += 1
                errors_dir = os.path.join(output_dir, "errors")
                os.makedirs(errors_dir, exist_ok=True)
                _write_json(
                    os.path.join(errors_dir, f"{name}.json"),
                    {"error": "unreadable_input"},
                )
        # the reference ALWAYS writes filter_stats.json (main.py:410-413)
        _write_json(os.path.join(output_dir, "filter_stats.json"), stats)
        return stats


def train_models(args, spark=None) -> dict:
    """CLI 'train' (main.py:421-446), Spark-distributed: the n-gram LM is
    trained with the relational explode+agg trainer and written as a parquet
    model table (context, word, cnt) — the shape perplexity_relational
    consumes. The reference's clustering build needs an embedding model
    (absent here, as in the reference when torch is missing); it degrades to
    a skip message exactly like the reference's try/except arm."""
    from pyspark.sql import functions as F

    from .operators.perplexity import ngram_counts

    out: dict = {}
    tqf = TextQualityFilter(spark=spark)
    if not getattr(args, "skip_ngram", False):
        df, files = tqf._read_dir(args.train_dir, args.file_pattern)
        model_path = os.path.join(args.train_dir, "_models", "ngram_lm")
        if files:
            # pre-tokenize with functions/ngram_lm.tokenize (jieba when
            # present, else the CJK-per-char regex fallback) and rejoin
            # with spaces before the relational trainer: the trainer is
            # whitespace-delimited by design, and raw Chinese .txt has no
            # spaces — without this every DOCUMENT became one giant token
            # and the written model scored everything at the smoothing
            # floor (review finding; the reference's own trainer runs
            # jieba over its corpus, SURVEY §2.9)
            import pandas as pd
            from pyspark.sql.functions import pandas_udf

            from .functions.ngram_lm import tokenize

            _pretok = pandas_udf(
                lambda texts: pd.Series(
                    [" ".join(tokenize(t or "")) for t in texts]
                ),
                "string",
            )
            tokenized = df.withColumn("text", _pretok("text"))
            model = ngram_counts(
                tokenized, n=3, min_count=getattr(args, "min_count", 1)
            )
            model.write.mode("overwrite").parquet(model_path)
            out["ngram_model"] = model_path
    if not getattr(args, "skip_clustering", False):
        # reference parity: clustering build requires the embedding model;
        # unavailable -> report and continue (main.py:428-442 except arm)
        out["clustering"] = "skipped: embedding model not available"
    return out


def main(argv=None) -> None:
    """CLI parity with the reference (main.py:448-492): the same three
    subcommands and flags, batch work on Spark.

        python -m chinese_corpus_cleaning_spark.api filter --input_dir d ...
        python -m chinese_corpus_cleaning_spark.api train --train_dir d ...
        python -m chinese_corpus_cleaning_spark.api sensitive --input_dir d ...
    """
    import argparse

    parser = argparse.ArgumentParser(description="corpus quality filter")
    sub = parser.add_subparsers(dest="command")

    f = sub.add_parser("filter", help="batch quality filter")
    f.add_argument("--input_dir", type=str, default="chinese_docs")
    f.add_argument("--output_dir", type=str, default=None)
    f.add_argument("--file_pattern", type=str, default="*.txt")

    t = sub.add_parser("train", help="train models")
    t.add_argument("--train_dir", type=str, required=True)
    t.add_argument("--file_pattern", type=str, default="*.txt")
    t.add_argument("--skip_ngram", action="store_true")
    t.add_argument("--skip_clustering", action="store_true")
    t.add_argument("--min_count", type=int, default=1)

    s = sub.add_parser("sensitive", help="batch sensitive-content scrub")
    s.add_argument("--input_dir", type=str, default="chinese_docs")
    s.add_argument("--output_dir", type=str, default="filtered_sensitive")
    s.add_argument("--file_pattern", type=str, default="*.txt")

    args = parser.parse_args(argv)
    if args.command == "filter":
        stats = TextQualityFilter().batch_process(
            args.input_dir, args.output_dir, args.file_pattern
        )
        print(json.dumps(stats, ensure_ascii=False))
    elif args.command == "train":
        print(json.dumps(train_models(args), ensure_ascii=False))
    elif args.command == "sensitive":
        stats = TextQualityFilter().batch_filter_sensitive(
            args.input_dir, args.output_dir, args.file_pattern
        )
        print(json.dumps(stats, ensure_ascii=False))
    else:
        parser.print_help()


if __name__ == "__main__":  # pragma: no cover
    main()
