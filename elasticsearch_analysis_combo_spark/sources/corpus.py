"""Corpus source (SURVEY.md §2 B1): the engine's input table
``(repo, path, commit, lang, content)`` per BASELINE.json input_hint.

* :func:`generate_corpus` — deterministic synthetic source-code corpus
  (FIXTURES.md §1; seed fixed, per-doc seeded so generation is reproducible
  under any partitioning). Each row records ``content_sha256`` at generation
  time; this is the value the ingest guard re-derives.
* :func:`ingest` — scan + per-row sha256 equality guard + deterministic
  docID assignment. Designed for 10^12-row scale: docIDs are 64-bit hashes
  of the natural key (no global sort / zipWithIndex), with a distributed
  collision check.
* :func:`documents_as_corpus` — adapter from the driver's ``documents``
  test table to the corpus shape.

Iceberg note: the sandbox has no Iceberg jars; ``read_corpus`` gates the
format behind a try so the same call site works with
``spark.read.format("iceberg")`` on a real cluster and parquet here.
"""

from __future__ import annotations

import hashlib
import random

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

LANGS = ["java", "python", "go", "js", "text"]
EXT = {"java": "java", "python": "py", "go": "go", "js": "js", "text": "txt"}

# Zipf head: code stop-tokens that create realistic term skew (FIXTURES.md §1)
_KEYWORDS = [
    "the", "if", "return", "def", "class", "import", "for", "while", "else",
    "new", "public", "static", "void", "int", "string", "func", "var",
    "const", "let", "this", "self", "true", "false", "null", "nil",
]
_IDENT_PARTS = [
    "get", "set", "parse", "build", "merge", "index", "token", "stream",
    "reader", "writer", "combo", "analyzer", "position", "offset", "buffer",
    "cache", "shard", "segment", "query", "score", "doc", "term", "post",
]
_COMMENT_WORDS = [
    "handles", "merging", "schöner", "Köln", "naïve", "façade", "tokenizes",
    "deduplicates", "positions", "offsets", "little", "just", "test",
]

CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("content", T.StringType(), False),
        T.StructField("content_sha256", T.StringType(), False),
    ]
)


def _gen_doc(i: int, seed: int = 42) -> tuple:
    rng = random.Random((seed << 32) ^ i)
    lang = LANGS[i % len(LANGS)]
    repo = f"org{i % 7}/repo{i % 97}"
    path = f"src/d{i % 31}/f{i}.{EXT[lang]}"
    commit = hashlib.sha1(f"{repo}/{path}".encode()).hexdigest()
    n_tokens = rng.randint(50, 2000)
    parts = []
    for _ in range(n_tokens):
        r = rng.random()
        if r < 0.35:  # Zipf-ish head: keywords, rank-weighted
            k = min(int(rng.paretovariate(1.1)) - 1, len(_KEYWORDS) - 1)
            parts.append(_KEYWORDS[k])
        elif r < 0.55:
            a, b = rng.choice(_IDENT_PARTS), rng.choice(_IDENT_PARTS)
            parts.append(a + b.capitalize())  # camelCase
        elif r < 0.70:
            a, b = rng.choice(_IDENT_PARTS), rng.choice(_IDENT_PARTS)
            parts.append(f"{a}_{b}")  # snake_case
        elif r < 0.80:
            parts.append(str(rng.randint(0, 9999)))
        elif r < 0.90:
            parts.append(f'"{rng.choice(_IDENT_PARTS)}"')
        else:
            parts.append(rng.choice(_COMMENT_WORDS))
    content = " ".join(parts)
    sha = hashlib.sha256(content.encode("utf-8")).hexdigest()
    return repo, path, commit, lang, content, sha


def generate_corpus(spark: SparkSession, n_docs: int, seed: int = 42) -> DataFrame:
    """Distributed deterministic generation: ``spark.range`` + mapInPandas,
    per-doc seeding so output is independent of partitioning."""

    def gen(batches):
        for pdf in batches:
            rows = [_gen_doc(int(i), seed) for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=[f.name for f in CORPUS_SCHEMA])

    return spark.range(n_docs).mapInPandas(gen, schema=CORPUS_SCHEMA)


def read_corpus(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Corpus scan; Iceberg on a real cluster, parquet fallback here."""
    if fmt == "iceberg":
        try:
            return spark.read.format("iceberg").load(path)
        except Exception:  # no Iceberg jars in sandbox
            fmt = "parquet"
    return spark.read.format(fmt).load(path)


class ShaGuardError(RuntimeError):
    pass


def ingest(
    corpus: DataFrame,
    expected_sha_col: str = "content_sha256",
    strict: bool = True,
) -> DataFrame:
    """B1 ingest: re-derive sha256(content) JVM-side (``F.sha2``, codegen'd)
    and compare with the recorded value (BASELINE.json input_hint per-row
    invariant), then assign deterministic 64-bit docIDs.

    docID = xxhash64(repo, path, commit): order-free, partition-free,
    reproducible at any scale — no global sort. Collision probability at
    10^12 docs is ~3% for a single 64-bit space, so collisions are *checked*
    (distributed count) and would be resolved by salting the natural key;
    at test scales they are absent.
    """
    guarded = corpus.withColumn("_sha_ok", F.sha2(F.col("content"), 256) == F.col(expected_sha_col))
    if strict:
        # one aggregate checks every row in one pass; a limit(1) probe
        # widens its scan job by job when no row fails
        bad = guarded.agg(F.count_if(~F.col("_sha_ok"))).collect()[0][0]
        if bad:
            raise ShaGuardError("content sha256 mismatch on ingest")
        checked = guarded
    else:
        checked = guarded.filter(F.col("_sha_ok"))
    docs = checked.drop("_sha_ok").withColumn(
        "doc_id", F.xxhash64("repo", "path", "commit")
    )
    return docs


def check_docid_collisions(docs: DataFrame) -> int:
    """Distributed collision check for hash docIDs; returns #collisions."""
    agg = docs.agg(
        F.count("*").alias("n"),
        F.countDistinct("doc_id").alias("d"),
    ).collect()[0]
    return int(agg["n"] - agg["d"])


def documents_as_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapter: the driver's ``documents`` table -> corpus shape. ``doc_id``
    is kept (already unique); sha recorded on the fly so the ingest guard is
    exercised end-to-end."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.select(
        F.col("source").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
        F.sha2(F.concat_ws("/", "source", "doc_id"), 256).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
        F.sha2(F.col("text"), 256).alias("content_sha256"),
        F.col("doc_id").cast("long").alias("doc_id"),
    )
