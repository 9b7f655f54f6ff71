"""The api facade's batch entry points on inputs Spark cannot read. Runs
without the reference checkout (tests/test_api_facade.py needs it)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from chinese_corpus_cleaning_spark.api import TextQualityFilter


def test_batch_filter_sensitive_marks_unreadable_input(spark, tmp_path, monkeypatch):
    """A non-empty file missing from the Spark result is an error with a
    per-file marker, like batch_process's unreadable_input result, and the
    marker sits where no scrubbed output can."""
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for name in ("a.txt", "b.txt"):
        (in_dir / name).write_text("这是一段正常的中文文本。", encoding="utf-8")
    read_dir = TextQualityFilter._read_dir

    def drop_b(self, input_dir, file_pattern):
        df, files = read_dir(self, input_dir, file_pattern)
        return df.where(~F.col("path").endswith("/b.txt")), files

    monkeypatch.setattr(TextQualityFilter, "_read_dir", drop_b)
    out = tmp_path / "out"
    stats = TextQualityFilter(spark=spark).batch_filter_sensitive(str(in_dir), str(out))
    assert stats == {"total": 2, "processed": 1, "error": 1}
    assert sorted(os.listdir(out)) == ["a.txt", "errors", "filter_stats.json"]
    marker = json.loads((out / "errors" / "b.txt.json").read_text(encoding="utf-8"))
    assert marker == {"error": "unreadable_input"}
