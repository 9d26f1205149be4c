"""Distributed posting-list build (SURVEY.md §2 B2-B5).

The reference feeds its merged token stream to Lucene's IndexWriter
(AnalysisComboPlugin.java:37-42); this module builds the equivalent inverted
index Spark-first:

  corpus --mapInPandas(analysis+per-doc agg)--> (doc_id, term, tf, pos_data, dl)
         --repartition(term), cold terms--> final posting rows
         --repartition(term, doc range), hot terms--> per-range runs,
           renumbered in doc order + term totals joined on

Doc ordinals: each generation numbers its docs 0..N-1 in doc_id order
(:func:`doc_table`, read from the generation's doc_stats), as Lucene
numbers a segment's docs. Blocks code ordinal gaps and tfs; a doc's
length lives once in the doc table (the per-doc norms), not on every
posting. The encoder maps doc_id -> ordinal with ``np.searchsorted``
over the doc table's sorted doc ids, inside the encode pass itself: no
join, no extra shuffle. Readers gather ``doc_ids[ordinal]`` and
``dl[ordinal]`` back through the same table.

Skew (north_rule: "salted repartition on term hash to defuse stop-token
skew"): code corpora have Zipf stop-tokens (``the``, ``if``, ``return``);
a plain hash-partition on term puts a whole stop-term's postings on one
task. Hot terms — identified from the term_df stage — are salted with
their doc range (:func:`doc_range` over :func:`range_starts`: equal
ordinal shares), so no task sees more than ~df/S postings of any term;
cold terms carry no salt, so vocabulary-sized overhead stays at one shard
per term. Ranges ascend in doc order, so the segment merge the
reference's host performs across Lucene segments reduces to a run_idx
renumbering: no posting is decoded or re-encoded.

Both branches encode through one whole-chunk vectorized encoder
(:func:`encode_posting_rows_batched`) under grouped_map_sorted (streamed
mapInPandas over sorted partitions) rather than groupBy().applyInPandas —
per-group dispatch cost does not survive a vocabulary-sized group count
(see operators/grouped.py).

All heavy lifting is numpy inside Arrow batches; rows crossing shuffles are
pre-aggregated (one row per (doc, term)), never raw tokens.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass
from typing import NamedTuple

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from elasticsearch_analysis_combo_spark.operators.codec import (
    bm25_impact,
    decode_block,
    decode_positions_flat,
    encode_block,
    varint_encode_with_sizes,
)
from elasticsearch_analysis_combo_spark.operators.grouped import grouped_map_sorted

BLOCK_STRUCT = T.StructType(
    [
        T.StructField("first_doc", T.LongType()),
        T.StructField("last_doc", T.LongType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("max_impact", T.DoubleType()),
        T.StructField("data", T.BinaryType()),
        T.StructField("pos_data", T.BinaryType()),
    ]
)

POSTING_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("run_idx", T.IntegerType()),
        T.StructField("df", T.LongType()),     # TERM totals, repeated per run
        T.StructField("cf", T.LongType()),     # TERM totals, repeated per run
        T.StructField("max_impact", T.DoubleType()),  # run-local max
        T.StructField("blocks", T.ArrayType(BLOCK_STRUCT)),
    ]
)

# a hot term's rows for one doc-range shard (salt): run_idx counts the
# shard's runs and df/cf are shard totals until build_postings joins the
# term totals on
SHARD_SCHEMA = T.StructType(
    POSTING_SCHEMA.fields[:1]
    + [T.StructField("salt", T.IntegerType())]
    + POSTING_SCHEMA.fields[1:]
)

# Rows are bounded: a term's posting list is emitted as ceil(n_blocks /
# max_blocks_per_row) rows keyed (term, run_idx), runs ascending in doc_id.
# At block_size=128 the default caps a row at ~512k docs (a few MB
# compressed) — a df=10^11 stop term becomes ~200k bounded rows instead of
# one multi-GB row that breaks the 2 GB Arrow limit and re-concentrates the
# skew the salting defused. Consumers concatenate a term's runs in run_idx
# order (runs partition the sorted doc space, so the result stays sorted).
DEFAULT_MAX_BLOCKS_PER_ROW = 4096
#: largest hot list branded with an InSet literal; a longer
#: list takes the broadcast-join path (see build_postings)
HOT_INSET_MAX_TERMS = 4096


class DocTable(NamedTuple):
    """A generation's docs in doc_id order: ordinal ``i`` is doc
    ``doc_ids[i]``, of length ``dl[i]`` (the per-doc norms that posting
    blocks leave out). Both arrays are int64."""

    doc_ids: np.ndarray
    dl: np.ndarray


def doc_table(doc_stats: pa.Table | DataFrame) -> DocTable:
    """The :class:`DocTable` of ``(doc_id, dl)`` rows, sorted by doc_id:
    a doc's ordinal is its index. A pyarrow table is read as is (no Spark
    job); a DataFrame is collected with one Spark job over its distinct
    ``(doc_id, dl)`` rows, so a term_stats frame serves as well as a
    doc_stats one. A doc id with two rows (or two lengths) raises
    ValueError."""
    if isinstance(doc_stats, DataFrame):
        doc_stats = doc_stats.select("doc_id", "dl").distinct().toArrow()
    ids = doc_stats.column("doc_id").to_numpy().astype(np.int64, copy=False)
    dl = doc_stats.column("dl").to_numpy().astype(np.int64, copy=False)
    order = np.argsort(ids, kind="stable")
    ids, dl = ids[order], dl[order]
    dup = ids[1:] == ids[:-1]
    if dup.any():
        raise ValueError(
            f"doc_stats holds doc_id {int(ids[1:][dup][0])} more than once"
        )
    return DocTable(ids, dl)


def doc_ordinals(doc_ids: np.ndarray, ids: np.ndarray) -> np.ndarray:
    """Ordinals of ``ids`` in the sorted ``doc_ids`` of a doc table; an id
    the table lacks raises ValueError."""
    ords = np.searchsorted(doc_ids, ids)
    hit = np.minimum(ords, max(doc_ids.size - 1, 0))
    if ids.size and (ords.max() >= doc_ids.size or (doc_ids[hit] != ids).any()):
        raise ValueError("a posting's doc_id is missing from the doc table")
    return ords


def range_starts(range_bits: int, n_docs: int) -> np.ndarray:
    """The doc-range mapping: range ``r`` of ``2^range_bits`` holds the
    ordinals ``[starts[r], starts[r + 1])``, an equal share of 0..N-1 in
    doc_id order (a range is empty only when N < 2^range_bits). The
    hot-term salt and the range-partitioned evaluators both use it."""
    r = np.arange((1 << range_bits) + 1, dtype=np.int64)
    return -(-r * n_docs // (1 << range_bits))


def doc_range(key: Column, bounds) -> Column:
    """Range id of ``key``: how many of the ascending ``bounds`` are <=
    ``key``, as a balanced CASE tree (log2 depth). With ``bounds =
    range_starts(...)[1:-1]`` it ranges an ordinal column (block headers);
    with the doc ids at those ordinals it ranges a doc_id column the same
    way (the hot-term salt)."""
    def count(lo: int, hi: int) -> Column:
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(key < F.lit(int(bounds[mid])), count(lo, mid)).otherwise(
            count(mid + 1, hi)
        )

    return count(0, len(bounds))


def blocks_sans_positions() -> Column:
    """``blocks`` with the (unused-by-WAND) per-block position stream
    dropped — scoring needs only headers + the ordinal/tf stream.

    Built with arrays_zip over per-field array extractions rather than a
    transform lambda: GetArrayStructFields is visible to nested schema
    pruning, so ``pos_data`` disappears from the parquet ReadSchema too —
    positions are never read off disk, not just dropped pre-shuffle
    (verified in plans/r06/wand_topk_after.txt)."""
    return F.arrays_zip(
        F.col("blocks.first_doc").alias("first_doc"),
        F.col("blocks.last_doc").alias("last_doc"),
        F.col("blocks.n").alias("n"),
        F.col("blocks.max_impact").alias("max_impact"),
        F.col("blocks.data").alias("data"),
    )


def posting_scan(postings: DataFrame, terms, positions: bool = False) -> DataFrame:
    """``terms``' posting rows (term, run_idx, df, blocks), the term filter
    pushed into the parquet scan. Without ``positions`` the blocks drop
    ``pos_data``, which then leaves the scan's ReadSchema."""
    blocks = F.col("blocks") if positions else blocks_sans_positions()
    return postings.filter(F.col("term").isin(sorted(terms))).select(
        "term", "run_idx", "df", blocks.alias("blocks")
    )


def term_blocks_from_rows(run_idxs, blocks_col) -> list:
    """Concatenate one term's posting runs (any row order) into the full
    sorted block list. Used by query tasks that receive multi-row terms."""
    order = sorted(range(len(run_idxs)), key=lambda i: run_idxs[i])
    out: list = []
    for i in order:
        out.extend(blocks_col[i])
    return out


def concat_term_runs(
    terms, run_idxs, dfs, blocks
) -> dict[str, tuple[float, list]]:
    """term -> (df, blocks) over posting rows given column-wise, in any
    row order. A term's runs are concatenated in run_idx order, so each
    list stays doc-sorted; df is the term total every run row repeats.
    Both posting fetches (``PostingFrame.term_blocks`` and
    ``InvertedIndex.term_blocks``) end here."""
    rows: dict[str, tuple[float, list, list]] = {}
    for term, ri, df_t, bl in zip(terms, run_idxs, dfs, blocks):
        _, term_runs, term_blocks = rows.setdefault(term, (float(df_t), [], []))
        term_runs.append(int(ri))
        term_blocks.append(bl)
    return {
        term: (df_t, term_blocks_from_rows(term_runs, term_blocks))
        for term, (df_t, term_runs, term_blocks) in rows.items()
    }


@dataclass(frozen=True)
class PostingFrame:
    """A posting DataFrame that is not a published index, with the doc
    table its block ordinals index: the query evaluators take it where
    they take an ``InvertedIndex`` (same ``postings``, ``docs`` and
    ``term_blocks`` methods). Build the table with :func:`doc_table` over
    the stats the postings came from."""

    frame: DataFrame
    table: DocTable

    def postings(self) -> DataFrame:
        return self.frame

    def docs(self) -> DocTable:
        return self.table

    def term_blocks(
        self, terms, positions: bool = False
    ) -> dict[str, tuple[float, list]]:
        """term -> (df, doc-sorted blocks) for ``terms``' posting rows,
        fetched into the calling process with one Spark job (Arrow
        ``toPandas`` of :func:`posting_scan`)."""
        if not terms:
            return {}
        pdf = posting_scan(self.frame, terms, positions).toPandas()
        return concat_term_runs(
            pdf["term"], pdf["run_idx"], pdf["df"], pdf["blocks"]
        )


def posting_frame(term_stats: DataFrame, avgdl: float, **kw) -> PostingFrame:
    """:func:`build_postings` over ``term_stats`` (keyword options as
    there) with the doc table of the same stats, collected with one Spark
    job: the posting input of a query over stats that were never
    published."""
    docs = doc_table(term_stats)
    return PostingFrame(build_postings(term_stats, docs, avgdl, **kw), docs)


def _encode_blocks(
    ords: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    pos_flat: np.ndarray | None,
    avgdl: float,
    k1: float,
    b: float,
    block_size: int,
) -> list[dict]:
    """Chunk one term's postings (ascending doc ordinals) into independent
    compressed blocks, one term at a time — the reference that
    encode_posting_rows_batched must match bit for bit. ``dls`` only sets
    the blocks' ``max_impact``. ``pos_flat``: positions flattened
    doc-major over the whole run (lengths = tfs), sliced per block via
    cumulative tf offsets."""
    blocks = []
    pos_off = None
    if pos_flat is not None:
        tfs64 = tfs.astype(np.int64, copy=False)
        pos_off = np.concatenate([[0], np.cumsum(tfs64)])
    for off in range(0, ords.size, block_size):
        end = min(off + block_size, ords.size)
        d, t, l = ords[off:end], tfs[off:end], dls[off:end]
        p = None
        if pos_flat is not None:
            p = pos_flat[pos_off[off]:pos_off[end]]
        data, pos_data = encode_block(d, t, p)
        blocks.append(
            {
                "first_doc": int(d[0]),
                "last_doc": int(d[-1]),
                "n": int(end - off),
                "max_impact": float(bm25_impact(t, l, avgdl, k1, b).max()),
                "data": data,
                "pos_data": pos_data,
            }
        )
    return blocks


def encode_posting_rows_batched(
    cols: dict,
    starts: np.ndarray,
    ends: np.ndarray,
    doc_ids: np.ndarray,
    avgdl: float,
    k1: float,
    b: float,
    block_size: int,
    max_blocks_per_row: int,
    with_positions: bool,
    group_keys: Sequence[str] = ("term",),
) -> list[tuple]:
    """Encode ALL of a chunk's groups in one vectorized pass —
    bit-identical to the per-term `_encode_blocks` path, but the delta,
    impact, and varint work runs over the whole chunk at once and per-value
    byte counts slice the single output buffer into per-block ranges.

    Each group emits ``(*group key values, run_idx, df, cf, max_impact,
    blocks)`` rows: runs of at most ``max_blocks_per_row`` blocks numbered
    from 0, and the group's doc count and tf sum repeated on every run.
    A row's doc id becomes its ordinal by ``np.searchsorted`` over
    ``doc_ids``, the doc table's sorted ids; its exact ``dl`` sets the
    blocks' ``max_impact`` and is then dropped (the doc table keeps it).

    Per-term Python dispatch costs ~1ms/group even with numpy bodies (the
    dominant cost of the cold posting build at vocabulary scale, measured);
    this amortizes it to a few dict constructions per block."""
    n = int(cols["doc_id"].size)
    if n == 0:
        return []
    ords = doc_ordinals(doc_ids, cols["doc_id"].astype(np.int64, copy=False))
    tfs = cols["tf"].astype(np.int64, copy=False)
    dls = cols["dl"].astype(np.int64, copy=False)
    G = int(starts.size)
    group_lens = ends - starts
    gid = np.repeat(np.arange(G), group_lens)
    idx_in_group = np.arange(n) - starts[gid]
    # block boundaries: every block_size-th row within a group (group starts
    # always begin a block, so blocks never span groups)
    block_start_mask = (idx_in_group % block_size) == 0
    block_start_rows = np.nonzero(block_start_mask)[0]
    block_end_rows = np.append(block_start_rows[1:], n)
    block_lens_arr = block_end_rows - block_start_rows

    # ordinal gaps with per-block reset: a block's first gap counts from
    # ordinal 0 (same as encode_block)
    gaps = ords.copy()
    gaps[1:] -= ords[:-1]
    gaps[block_start_rows] = ords[block_start_rows]
    pairs = np.empty(2 * n, dtype=np.uint64)
    pairs[0::2] = gaps
    pairs[1::2] = tfs
    buf, nbytes = varint_encode_with_sizes(pairs)
    byte_off = np.concatenate([[0], np.cumsum(nbytes)])
    data_starts = byte_off[2 * block_start_rows].tolist()
    data_ends = byte_off[2 * block_end_rows].tolist()

    impacts = bm25_impact(tfs, dls, avgdl, k1, b)
    blk_max = np.maximum.reduceat(impacts, block_start_rows).tolist()
    first_docs = ords[block_start_rows].tolist()
    last_docs = ords[block_end_rows - 1].tolist()
    block_lens = block_lens_arr.tolist()

    if with_positions:
        # rows arrive PRE-PACKED (codec.encode_positions_rows at analysis
        # time): a block's stream is the concatenation of its rows' bytes
        pos_rows = cols["pos_data"]
        bs_list = block_start_rows.tolist()
        be_list = block_end_rows.tolist()

    # group -> contiguous block id range
    block_gid = gid[block_start_rows]
    gb_start = np.searchsorted(block_gid, np.arange(G), side="left").tolist()
    gb_end = np.searchsorted(block_gid, np.arange(G), side="right").tolist()
    cf = np.add.reduceat(tfs, starts).tolist()
    df = group_lens.tolist()
    keys = list(zip(*(cols[k][starts].tolist() for k in group_keys)))

    out: list[tuple] = []
    for g in range(G):
        blocks_all = []
        for bi in range(gb_start[g], gb_end[g]):
            blocks_all.append(
                {
                    "first_doc": first_docs[bi],
                    "last_doc": last_docs[bi],
                    "n": block_lens[bi],
                    "max_impact": blk_max[bi],
                    "data": buf[data_starts[bi]:data_ends[bi]],
                    "pos_data": (
                        b"".join(pos_rows[bs_list[bi]:be_list[bi]])
                        if with_positions else b""
                    ),
                }
            )
        key, df_t, cf_t = keys[g], df[g], cf[g]
        for ri, off in enumerate(range(0, len(blocks_all), max_blocks_per_row)):
            chunk = blocks_all[off:off + max_blocks_per_row]
            out.append(
                (*key, ri, df_t, cf_t,
                 max(bl["max_impact"] for bl in chunk), chunk)
            )
    return out


def build_postings(
    term_stats: DataFrame,
    docs: DocTable,
    avgdl: float,
    hot_terms: DataFrame | None = None,
    k1: float = 1.2,
    b: float = 0.75,
    block_size: int = 128,
    salt_shards: int = 8,
    with_positions: bool = True,
    max_blocks_per_row: int = DEFAULT_MAX_BLOCKS_PER_ROW,
) -> DataFrame:
    """B3-B5 in the minimal number of shuffles: (doc_id, term, tf,
    pos_data, dl) stats -> POSTING_SCHEMA rows, docs numbered by their
    ordinal in ``docs`` (:func:`doc_table` of the same stats). The doc
    table's sorted ids ride in the encode closure; no join maps them.

    Cold terms — every term not in ``hot_terms`` (all of them when it is
    None or empty), the overwhelming majority of the vocabulary — are
    encoded straight to final posting rows in ONE shuffle. Long lists emit
    multiple bounded (term, run_idx) rows — see DEFAULT_MAX_BLOCKS_PER_ROW.

    Hot terms are RANGE-salted: the salt is the doc's range (:func:`doc_range`
    over :func:`range_starts` of ``salt_shards`` rounded up to a power of
    two, bounds taken as doc ids so no ordinal is needed before the
    shuffle),
    so each (term, salt) shard encodes to runs that are already in global
    doc order — the final posting rows are the shard runs with run_idx
    renumbered across shards and the term totals joined on (a broadcast of
    the hot vocabulary). No decode, no re-encode, and NO single task ever
    gathers a whole hot term: the log-structured merge degenerates to
    metadata."""
    # run_idx renumbering across shards: ranges ascend with doc id, so
    # (salt, local run) order IS doc order; consumers only need monotone
    # run_idx, so a strided rewrite avoids any per-term gather.
    # int32 bound: 2^range_bits * RUN_STRIDE must fit — with the default
    # stride each shard may hold 2^20 runs (2^29 docs at defaults). Both
    # bounds are guarded loudly: the shard count here, the per-shard run
    # count per-row below (a shard overflowing its stride would otherwise
    # silently collide with the next shard's runs and corrupt doc order).
    RUN_STRIDE = 1 << 20
    range_bits = max(1, (salt_shards - 1).bit_length())
    if hot_terms is not None and (1 << range_bits) * RUN_STRIDE >= (1 << 31):
        raise ValueError(
            f"salt_shards={salt_shards} needs {1 << range_bits} ranges; "
            f"run_idx renumbering overflows int32 at stride {RUN_STRIDE}"
        )

    doc_ids = docs.doc_ids

    def encode(frame: DataFrame, group_keys: list[str], schema) -> DataFrame:
        def encode_batch(cols: dict, starts, ends) -> list[tuple]:
            # whole-chunk vectorized encode: the cold path touches the
            # ENTIRE vocabulary, so per-group dispatch cost (not numpy
            # work) would dominate — see encode_posting_rows_batched
            return encode_posting_rows_batched(
                cols, starts, ends, doc_ids, avgdl, k1, b, block_size,
                max_blocks_per_row, with_positions, group_keys,
            )

        return grouped_map_sorted(
            frame, group_keys=group_keys, sort_keys=["doc_id"],
            fn=encode_batch, schema=schema,
        )

    hot_list: list | None = []  # None: over the InSet limit, join instead
    if hot_terms is not None:
        # the hot vocabulary is small by contract (skew-heavy stop terms —
        # a few hundred rows even at full scale). Collecting it once and
        # branding hot rows with an InSet literal replaces a broadcast-join
        # in EVERY branch that reads the split stats (cold, hot, totals —
        # three joins, three broadcast builds) with a plain scan predicate;
        # the collect costs the same one evaluation the broadcast build
        # did. A list over HOT_INSET_MAX_TERMS keeps the join path: the
        # literal's plan and analysis cost would outgrow the broadcast it
        # saves.
        probe = hot_terms.select("term").limit(HOT_INSET_MAX_TERMS + 1).collect()
        hot_list = (
            [r["term"] for r in probe]
            if len(probe) <= HOT_INSET_MAX_TERMS else None
        )
    # hot salt: doc range 1..2^range_bits; cold rows carry no salt
    if hot_list == []:
        return encode(term_stats, ["term"], POSTING_SCHEMA)
    if hot_list is not None:
        is_hot = F.col("term").isin(hot_list)
        cold, hot = term_stats.filter(~is_hot), term_stats.filter(is_hot)
    else:
        hotb = hot_terms.select("term").withColumn("_hot", F.lit(True))
        flagged = term_stats.join(F.broadcast(hotb), "term", "left")
        cold = flagged.filter(F.col("_hot").isNull()).drop("_hot")
        hot = flagged.filter(F.col("_hot")).drop("_hot")
    cold_postings = encode(cold, ["term"], POSTING_SCHEMA)
    starts = range_starts(range_bits, doc_ids.size)[1:-1]
    hot = hot.withColumn("salt", doc_range(
        F.col("doc_id"), doc_ids[starts[starts < doc_ids.size]]
    ) + 1)
    hot_shards = encode(hot, ["term", "salt"], SHARD_SCHEMA)
    # term totals: map-side-combined aggregation over the (already
    # pre-aggregated) hot stats — scalars only; hot vocabulary is small,
    # so the join back is a broadcast
    totals = hot.groupBy("term").agg(
        F.count("*").alias("_df"), F.sum("tf").cast("long").alias("_cf")
    )
    guarded_run = F.when(
        F.col("run_idx") < RUN_STRIDE, F.col("run_idx")
    ).otherwise(
        F.raise_error(F.concat(
            F.lit("posting shard run_idx overflows stride: term="),
            F.col("term"), F.lit(" run_idx="), F.col("run_idx").cast("string"),
        ))
    )
    hot_postings = (
        hot_shards.join(F.broadcast(totals), "term")
        .select(
            "term",
            ((F.col("salt").cast("long") - 1) * RUN_STRIDE + guarded_run)
            .cast("int").alias("run_idx"),
            F.col("_df").alias("df"),
            F.col("_cf").alias("cf"),
            "max_impact",
            "blocks",
        )
    )
    return cold_postings.unionByName(hot_postings)


def decode_segment_blocks_flat(
    blocks, docs: DocTable, with_positions: bool = False
):
    """Decode a doc-sorted block list -> (doc_ids, tfs, dls[, pos_flat]),
    the ordinals gathered through ``docs``."""
    os_, ts, ps = [], [], []
    for bl in blocks:
        o, t = decode_block(bytes(bl["data"]), int(bl["n"]))
        os_.append(o)
        ts.append(t)
        if with_positions:
            ps.append(decode_positions_flat(bytes(bl["pos_data"]), t))
    ords = np.concatenate(os_) if os_ else np.zeros(0, dtype=np.int64)
    tfs = np.concatenate(ts) if ts else np.zeros(0, dtype=np.int64)
    out = (docs.doc_ids[ords], tfs, docs.dl[ords])
    if with_positions:
        pos_flat = np.concatenate(ps) if ps else np.zeros(0, dtype=np.int64)
        return (*out, pos_flat)
    return out


def decode_segment_blocks(blocks, docs: DocTable, with_positions: bool = False):
    """Per-doc list view of decode_segment_blocks_flat (tests/API)."""
    if not with_positions:
        return decode_segment_blocks_flat(blocks, docs)
    doc_ids, tfs, dls, pos_flat = decode_segment_blocks_flat(blocks, docs, True)
    ps = []
    off = 0
    for tf in tfs:
        ps.append(pos_flat[off:off + int(tf)])
        off += int(tf)
    return doc_ids, tfs, dls, ps
