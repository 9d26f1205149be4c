"""The sha256 ingest guard (sources/corpus.ingest): one aggregate checks
every row, so a clean corpus costs the Spark jobs of one global
aggregate (under adaptive execution: its shuffle-map stage and its
result); a tampered row raises ShaGuardError, or is dropped with
``strict=False``."""

import hashlib

import pytest
from pyspark.sql import functions as F

from elasticsearch_analysis_combo_spark.sources.corpus import (
    ShaGuardError,
    generate_corpus,
    ingest,
)

from tests.test_checkpoint_lineage import _jobs


def _tampered_corpus(spark):
    rows = []
    for i in range(40):
        content = f"def f{i}(): return {i}"
        sha = hashlib.sha256(content.encode()).hexdigest()
        if i == 17:
            content += " # edited"
        rows.append(("org/repo", f"src/f{i}.py", f"{i:040x}", "python",
                     content, sha))
    return spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string, content_sha256 string",
    )


def test_clean_corpus_guard_is_one_aggregate(spark):
    corpus = generate_corpus(spark, 120, seed=5)
    out = {}
    guard = _jobs(spark, "ingest-guard",
                  lambda: out.update(docs=ingest(corpus)))
    bare = _jobs(spark, "bare-aggregate",
                 lambda: corpus.agg(F.count("*")).collect())
    assert 0 < guard == bare <= 2
    assert out["docs"].count() == 120


def test_tampered_row_raises_or_is_dropped(spark):
    corpus = _tampered_corpus(spark)
    with pytest.raises(ShaGuardError):
        ingest(corpus)
    kept = ingest(corpus, strict=False).select("path").collect()
    assert len(kept) == 39
    assert "src/f17.py" not in {r["path"] for r in kept}
