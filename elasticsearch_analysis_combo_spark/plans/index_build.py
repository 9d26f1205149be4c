"""End-to-end index build plan (reference lifecycle EP1, SURVEY.md §3).

corpus -> combo analysis + per-doc aggregation (one mapInPandas pass)
       -> doc-stats + corpus stats (N, avgdl)
       -> compressed posting table (hot terms range-salted)
all stages checkpointed (B6): a stage whose ``<stage>-<fp>`` dir exists
is resumed, so a rerun picks up mid-pipeline. Each stage's lineage is
observed on its own write job, never re-scanned, and logged to
``metrics.jsonl``.

:func:`publish_stats` is the one way term stats become a published
generation: :func:`build_index`, batch compaction (plans/maintenance.py)
and the streaming fold (streaming/ingest.py) each hand it their stats as
the ``term_stats`` stage, and it derives the other three stages and
publishes. Every stage table is written once, into a dir named by its
fingerprint; :func:`publish_tables` swaps in a meta.json naming the four
dirs (B5: a generation is a snapshot, the swap is atomic), so a reader
sees exactly the old or the new generation, and one holding the old meta
keeps reading it.

The doc_stats table doubles as the generation's doc table: sorted by
doc_id, a doc's index is its ordinal, the number posting blocks code, and
its ``dl`` is the per-doc norm that scoring gathers. The build reads it
back with pyarrow right after writing it (no Spark job) and hands it to
the posting encoder; an :class:`InvertedIndex` loads it once per handle.

Physical-plan shape (local[N] or a real cluster — identical):
  * 1 Arrow-batched analysis pass over the corpus scan (no shuffle)
  * 1 shuffle to (term) for the cold-term posting encode
  * hot terms only: 1 shuffle to (term, doc-range salt) — skew-bounded by
    salt — whose runs are renumbered in doc order, never merged
  * docstats/termdf are partial-aggregated map-side by Catalyst
The posting table is hash-partitioned by term and sorted by term within
each partition, so every part file is term-sorted. A small index's part
files are one row group each, spanning nearly the whole vocabulary, so
row-group min/max statistics would prune nothing. A lookup goes through
the handle's terms index instead (:class:`PostingPart`, Lucene's
``.tip``): each part file's ``term`` column, held in memory for the life
of the handle (about 9 bytes per posting row), names the files and row
groups that hold the query terms, and only those are read.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from elasticsearch_analysis_combo_spark.analysis.combo import ComboConfig
from elasticsearch_analysis_combo_spark.analysis.udfs import build_term_stats
from elasticsearch_analysis_combo_spark.operators.checkpoint import (
    CheckpointManager,
    fingerprint,
    remove_stage_dirs,
    stage_dir,
)
from elasticsearch_analysis_combo_spark.operators.codec import POSTING_FORMAT
from elasticsearch_analysis_combo_spark.operators.postings import (
    DocTable,
    build_postings,
    concat_term_runs,
    doc_table,
)


@dataclass
class IndexMeta:
    n_docs: int
    avgdl: float
    k1: float
    b: float
    block_size: int
    salt_shards: int
    config: dict
    with_positions: bool
    #: stage name -> its table dir under index_dir, ``<stage>-<fingerprint>``
    #: (CheckpointManager writes each once and never rewrites it), so a
    #: publish is a pure meta.json swap and readers holding an older meta
    #: keep valid paths for as long as GC keeps its generation
    tables: dict
    #: ``codec.POSTING_FORMAT`` of the posting blocks; None (absent) is the
    #: hash-gap layout of indexes published before doc ordinals
    posting_format: str | None = None

    @staticmethod
    def load(index_dir: str) -> "IndexMeta":
        """The published meta.json. A meta of another posting format, or
        one naming no table dirs (written before stage dirs were
        fingerprinted), is refused: rebuild the index."""
        with open(os.path.join(index_dir, "meta.json")) as f:
            meta = IndexMeta(**json.load(f))
        if meta.posting_format != POSTING_FORMAT:
            raise ValueError(
                f"{index_dir}: posting format "
                f"{meta.posting_format or 'hash-gap (unversioned)'} is "
                f"not {POSTING_FORMAT}; rebuild the index with build_index"
            )
        if not meta.tables:
            raise ValueError(
                f"{index_dir}: meta.json names no table dirs; rebuild the "
                "index with build_index"
            )
        return meta

    def table_dir(self, index_dir: str, name: str) -> str:
        return os.path.join(index_dir, self.tables[name])


#: the stages of a generation, in build order; each is one table
STAGES = ("term_stats", "doc_stats", "term_df", "postings")


def publish_tables(index_dir: str, meta: IndexMeta) -> None:
    """Publish the generation ``meta`` names: meta.json is replaced
    atomically (temp file + ``os.replace``), so a reader opens the old
    generation or the new one, never a mix. Then GC keeps the stage dirs
    of the new generation and of the one it replaced (readers that opened
    that one finish undisturbed; older readers are assumed gone) and
    deletes every other stage dir. Republishing the current generation
    changes nothing. This is meta.json's only writer. On a real deployment
    index_dir is shared storage and the same swap applies (object stores:
    write new prefixes + swap a pointer object).

    One writer per index dir is assumed, as for the pending-op sequence
    (``maintenance._alloc_seq``): the GC also sweeps every temp copy
    (``<stage>-<fp>.tmp-*``), which would include a concurrent builder's
    in-flight stage write."""
    path = os.path.join(index_dir, "meta.json")
    keep = set(meta.tables.values())
    if os.path.exists(path):
        with open(path) as f:
            previous = json.load(f).get("tables") or {}
        if previous == meta.tables:
            return
        keep |= set(previous.values())
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(asdict(meta), f, indent=1)
    os.replace(tmp, path)
    remove_stage_dirs(index_dir, STAGES, keep)


def hot_terms(
    term_df: DataFrame, n_docs: int, block_size: int
) -> DataFrame | None:
    """Skew defusal (B3): the terms whose posting list is long enough to
    hurt a single task get salted; the hot list is tiny by construction.
    None when no term can be hot (``df <= n_docs`` is under the
    threshold), so the build collects no list."""
    threshold = max(4 * block_size, n_docs // 10)
    if n_docs < threshold:
        return None
    return term_df.filter(F.col("df") >= threshold).select("term")


def _config_dict(config: ComboConfig) -> dict:
    def enc(sub):
        if isinstance(sub, ComboConfig):
            return _config_dict(sub)
        # factory-made analyzers (synonym/html_strip) carry a stable
        # registered name — record THAT, not the callable's memory repr
        # (which would break fingerprint resume and query-time recovery)
        stable = getattr(sub, "analyzer_name", None)
        return stable if stable else str(sub)

    out = {
        "sub_analyzers": [enc(s) for s in config.sub_analyzers],
        "deduplication": config.deduplication,
        "name": config.name,
    }
    # settings digests of factory-made analyzers: changing a synonym map
    # under the SAME registered name must change the build fingerprint
    # (else checkpoint resume silently serves the old settings). Included
    # only when present so plain-name configs keep their fingerprints.
    digests = [
        getattr(s, "analyzer_fingerprint", None)
        for s in config.sub_analyzers
    ]
    if any(digests):
        out["analyzer_digests"] = digests
    return out


def posting_read_columns(positions: bool) -> list[str]:
    """The parquet columns of a posting lookup: the row keys, the block
    headers and the ordinal/tf stream, plus ``pos_data`` only for a
    positional read."""
    leaves = ["first_doc", "last_doc", "n", "max_impact", "data"]
    if positions:
        leaves.append("pos_data")
    return ["term", "run_idx", "df"] + [
        f"blocks.list.element.{leaf}" for leaf in leaves
    ]


@dataclass(frozen=True)
class PostingPart:
    """One postings part file in a handle's terms index: its parquet
    footer, its ``term`` column as one array, and the row at which each
    row group starts (the file's row count last)."""

    path: str
    metadata: pq.FileMetaData
    terms: pa.Array
    starts: np.ndarray

    @staticmethod
    def open(path: str) -> "PostingPart":
        with pq.ParquetFile(path) as f:
            metadata = f.metadata
            terms = f.read(columns=["term"], use_threads=False).column("term")
        sizes = [metadata.row_group(g).num_rows
                 for g in range(metadata.num_row_groups)]
        return PostingPart(path, metadata, terms.combine_chunks(),
                           np.cumsum([0] + sizes))

    def read(self, value_set: pa.Array, columns: list[str]) -> pa.Table | None:
        """The rows whose term is in ``value_set``, decoded from only the
        row groups that hold them. None, without opening the file, when
        no row does."""
        rows = pc.indices_nonzero(
            pc.is_in(self.terms, value_set=value_set)
        ).to_numpy().astype(np.int64)
        if not rows.size:
            return None
        group_of = np.searchsorted(self.starts, rows, side="right") - 1
        groups, slot = np.unique(group_of, return_inverse=True)
        sizes = self.starts[groups + 1] - self.starts[groups]
        # where each read group's rows begin in the read table
        offsets = np.cumsum(sizes) - sizes
        with pq.ParquetFile(self.path, metadata=self.metadata) as f:
            table = f.read_row_groups(
                groups.tolist(), columns=columns, use_threads=False
            )
        return table.take(rows - self.starts[group_of] + offsets[slot])


class InvertedIndex:
    """Handle over a built index directory. Each table's parquet schema is
    read once per handle (keyed by the resolved table dir) and given to
    later reads, which then skip the footer-inference job. The handle
    reads the generation its ``meta.json`` named when it was opened, also
    after a later publish, for as long as GC keeps that generation (the
    newest and the previous one). The first :meth:`term_blocks` builds the
    postings terms index, which the handle holds for its life: every part
    file's footer and ``term`` column, about 9 bytes per posting row. An
    index :meth:`IndexMeta.load` refuses cannot be opened: rebuild it."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self.meta = IndexMeta.load(index_dir)
        self._schemas: dict[str, T.StructType] = {}
        self._posting_parts: list[PostingPart] | None = None
        self._docs: DocTable | None = None
        self._term_dfs: list[tuple[str, int]] | None = None
        self._vocabulary: list[str] | None = None

    def _read(self, name: str) -> DataFrame:
        path = self.meta.table_dir(self.index_dir, name)
        schema = self._schemas.get(path)
        if schema is not None:
            return self.spark.read.schema(schema).parquet(path)
        df = self.spark.read.parquet(path)
        self._schemas[path] = df.schema
        return df

    def _dataset(self, name: str) -> pads.Dataset:
        return pads.dataset(
            self.meta.table_dir(self.index_dir, name), format="parquet"
        )

    def postings(self) -> DataFrame:
        return self._read("postings")

    def term_stats(self) -> DataFrame:
        return self._read("term_stats")

    def doc_stats(self) -> DataFrame:
        return self._read("doc_stats")

    def term_df(self) -> DataFrame:
        return self._read("term_df")

    def term_blocks(
        self, terms, positions: bool = False
    ) -> dict[str, tuple[float, list]]:
        """term -> (df, doc-sorted blocks) for ``terms``' posting rows,
        read in this process with pyarrow: no Spark job. The first lookup
        builds the handle's terms index (a :class:`PostingPart` per part
        file, whose ``term`` column the handle then holds), so a lookup
        opens only the files, and decodes only the row groups, that hold
        a query term. Only the leaves of :func:`posting_read_columns` are
        read, so a scoring read (``positions=False``) never touches
        ``pos_data``. Unknown terms are absent from the result."""
        if not terms:
            return {}
        if self._posting_parts is None:
            self._posting_parts = [
                PostingPart.open(path)
                for path in self._dataset("postings").files
            ]
        value_set = pa.array(list(set(terms)), pa.string())
        columns = posting_read_columns(positions)
        tables = [
            table for part in self._posting_parts
            if (table := part.read(value_set, columns)) is not None
        ]
        if not tables:
            return {}
        rows = pa.concat_tables(tables)
        return concat_term_runs(*(
            rows.column(c).to_pylist() for c in ("term", "run_idx", "df", "blocks")
        ))

    def docs(self) -> DocTable:
        """The generation's doc table (ordinal -> doc_id, dl), read from
        ``doc_stats`` once per handle with pyarrow."""
        if self._docs is None:
            self._docs = doc_table(
                self._dataset("doc_stats").to_table(columns=["doc_id", "dl"])
            )
        return self._docs

    def term_dfs(self) -> list[tuple[str, int]]:
        """Every dictionary ``(term, df)``, sorted by term code point
        (which is Spark's binary string order), read from ``term_df`` once
        per handle with pyarrow."""
        if self._term_dfs is None:
            rows = self._dataset("term_df").to_table(columns=["term", "df"])
            self._term_dfs = sorted(zip(
                rows.column("term").to_pylist(), rows.column("df").to_pylist()
            ))
        return self._term_dfs

    def vocabulary(self) -> list[str]:
        """Every dictionary term, in :meth:`term_dfs` order."""
        if self._vocabulary is None:
            self._vocabulary = [t for t, _ in self.term_dfs()]
        return self._vocabulary


def publish_stats(
    spark: SparkSession,
    index_dir: str,
    term_stats: DataFrame,
    fp: str,
    config: dict,
    k1: float,
    b: float,
    block_size: int,
    salt_shards: int,
    with_positions: bool,
) -> InvertedIndex:
    """Derive and publish a whole generation from per-doc term stats.

    ``fp`` identifies ``term_stats`` (with the other arguments it
    fingerprints every stage, so a rerun resumes and runs no stage twice).
    The chain: the stats land as the ``term_stats`` stage; ``doc_stats``
    (the doc table) is read back with pyarrow, which gives ``(n_docs,
    avgdl)`` with no Spark job; ``term_df``; the hot list; one
    :func:`build_postings` pass. Then :func:`publish_tables` swaps in a
    meta.json naming the four stage dirs. A crash before the swap leaves
    the published generation as it was."""
    ckpt = CheckpointManager(spark, index_dir)
    # "statsfmt=2": term_stats positions became pre-packed pos_data binary;
    # the salt invalidates checkpoints of the old array-typed stage outputs
    base_fp = fingerprint(config, fp, k1, b, block_size, salt_shards,
                          with_positions, "statsfmt=2")
    fps = {s: fingerprint(base_fp, s) for s in STAGES}
    # the format salt: a checkpoint of another block layout re-runs
    fps["postings"] = fingerprint(base_fp, "postings", POSTING_FORMAT)
    tables = {s: stage_dir(s, f) for s, f in fps.items()}

    stats = ckpt.run(
        "term_stats", fps["term_stats"], lambda: term_stats,
        checksum_cols=["doc_id", "term", "tf"],
    )

    ckpt.run(
        "doc_stats", fps["doc_stats"],
        lambda: stats.groupBy("doc_id").agg(F.first("dl").alias("dl")),
        checksum_cols=["doc_id", "dl"],
    )
    docs = doc_table(pads.dataset(
        os.path.join(index_dir, tables["doc_stats"]), format="parquet"
    ).to_table(columns=["doc_id", "dl"]))
    # the exact integer sum divided once: Spark's avg("dl") bit for bit
    n_docs = int(docs.doc_ids.size)
    avgdl = int(docs.dl.sum()) / n_docs if n_docs else 0.0

    term_df = ckpt.run(
        "term_df", fps["term_df"],
        # (term, doc) unique after per-doc aggregation -> df = row count;
        # Catalyst does partial (map-side) aggregation automatically
        lambda: stats.groupBy("term").agg(
            F.count("*").alias("df"), F.sum("tf").alias("cf")
        ),
        checksum_cols=["term", "df"],
    )

    hot = hot_terms(term_df, n_docs, block_size)

    ckpt.run(
        "postings", fps["postings"],
        # build_postings output is term-hash-partitioned and sorted by
        # term within partitions (grouped_map_sorted), so each written
        # file is term-sorted with no extra shuffle; a handle's lookup
        # finds its rows through the terms index (PostingPart), not
        # row-group statistics
        lambda: build_postings(
            stats, docs, avgdl=avgdl, hot_terms=hot, k1=k1, b=b,
            block_size=block_size, salt_shards=salt_shards,
            with_positions=with_positions,
        ),
        checksum_cols=["term", "df", "cf"],
    )

    publish_tables(index_dir, IndexMeta(
        n_docs=n_docs, avgdl=avgdl, k1=k1, b=b, block_size=block_size,
        salt_shards=salt_shards, config=config, with_positions=with_positions,
        tables=tables, posting_format=POSTING_FORMAT,
    ))
    return InvertedIndex(spark, index_dir)


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    config: ComboConfig,
    index_dir: str,
    doc_id_col: str = "doc_id",
    content_col: str = "content",
    lang_col: str | None = None,
    k1: float = 1.2,
    b: float = 0.75,
    block_size: int = 128,
    salt_shards: int = 8,
    with_positions: bool = True,
    input_fingerprint: str = "",
) -> InvertedIndex:
    """Build (or resume) the full index at ``index_dir``: the corpus'
    combo term stats through :func:`publish_stats`.

    ``input_fingerprint`` ties checkpoint resume to the CORPUS, not just the
    config: left empty, a content fingerprint (row count + bit_xor of
    xxhash64(doc_id, content)) is derived with one extra corpus scan, so
    rebuilding into an existing index_dir with changed data re-runs the
    stages instead of silently resuming a stale index. Callers with a cheap
    external identity (snapshot id, table version) should pass it to skip
    the scan."""
    os.makedirs(index_dir, exist_ok=True)
    if not input_fingerprint:
        r = corpus.agg(
            F.count("*").alias("n"),
            F.expr(
                f"bit_xor(xxhash64(`{doc_id_col}`, `{content_col}`))"
            ).alias("x"),
        ).collect()[0]
        input_fingerprint = f"auto:{r['n']}:{r['x']}"
    stats = build_term_stats(
        corpus, config, doc_id_col=doc_id_col,
        content_col=content_col, lang_col=lang_col,
    )
    return publish_stats(
        spark, index_dir, stats, input_fingerprint, _config_dict(config),
        k1=k1, b=b, block_size=block_size,
        salt_shards=salt_shards, with_positions=with_positions,
    )


def index_stats(term_stats: DataFrame) -> DataFrame:
    """ES ``_stats`` / ``_count`` readback over the index's stats table:
    one row of corpus-level figures — doc count, vocabulary size,
    posting count, total token count, average document length. Two
    partial-aggregated passes (postings-grain and doc-grain) joined as
    1x1 rows; at 100 TB swap countDistinct for approx_count_distinct if
    the ±0.5% trade is acceptable — schema identical."""
    from pyspark.sql import functions as F

    grain = term_stats.agg(
        F.countDistinct("term").alias("vocabulary_size"),
        F.count("*").alias("posting_count"),
        F.sum("tf").alias("token_count"),
    )
    docs = (
        term_stats.select("doc_id", "dl").distinct()
        .agg(
            F.count("*").alias("doc_count"),
            F.avg("dl").alias("avgdl"),
        )
    )
    return grain.crossJoin(docs).select(
        "doc_count", "vocabulary_size", "posting_count", "token_count",
        "avgdl",
    )
